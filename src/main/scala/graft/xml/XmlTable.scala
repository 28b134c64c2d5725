package graft.xml

import graft.clean.RubyTranslate
import graft.compile.RowMapper
import graft.model._
import org.apache.spark.sql.DataFrame

import scala.collection.mutable
import scala.xml.{Elem, Node}

/** XML table transform (X1–X6, `lib/ndr_import/xml/table.rb`,
  * `xml/column_mapping.rb`, `xml/masked_mappings.rb`).
  *
  * XML records AUGMENT their own mapping per record — repeating
  * sections/items discovered in the data mint new columns, rawtext names
  * (`pathology_date_1.2`) and klasses (`SomeTestKlass#2`). That is
  * data-dependent schema, which no static Catalyst plan can express, so the
  * transform runs executor-side over a `Dataset` of record elements: a pure
  * per-record function (parse → augment → validate → evaluate xpaths →
  * masked `mapped_line`) emitting the engine's uniform record shape
  * `(klass, fields map, rawtext map, index, file)`. Narrow — per-record,
  * no shuffle; parallelism across records and files.
  */
object XmlTable {

  final class UnmappedXpathError(xpaths: Seq[String])
    extends RuntimeException(
      "Unmapped xpath(s): " + graft.compile.MappingCompiler.toSentence(xpaths))

  // ------------------------------------------------------------ xpath-lite

  /** Evaluate the reference's restricted xpath grammar
    * (`segment[/segment…][/@attribute]`, segments optionally `[i]`-indexed)
    * against a record element. >1 match → "" (`xml/table.rb:89-95`). */
  def evalXpath(rec: Elem, xpath: String): String = {
    val parts = xpath.split("/").toSeq
    val (attr, segs) =
      if (parts.nonEmpty && parts.last.startsWith("@")) (Some(parts.last.drop(1)), parts.init)
      else (None, parts)
    var nodes: Seq[Node] = Seq(rec)
    segs.foreach { seg =>
      val m = "^(.*?)\\[(\\d+)\\]$".r.findFirstMatchIn(seg)
      nodes = m match {
        case Some(g) =>
          val name = g.group(1); val idx = g.group(2).toInt
          nodes.flatMap(n => (n \ name).lift(idx - 1))
        case None => nodes.flatMap(n => n \ seg)
      }
    }
    attr match {
      case Some(a) =>
        val vals = nodes.flatMap(n => n.attribute(a).map(_.text))
        if (vals.length == 1) vals.head else ""
      case None =>
        if (nodes.length == 1) nodes.head.text else ""
    }
  }

  /** Populated leaf xpaths in document order (X2, `xml/table.rb:169-189`):
    * leaves = elements with no element children; per attribute when
    * attributes exist; skipped when attribute-less and blank; `[i]` suffix
    * only when same-name siblings exist. */
  def mappableXpaths(rec: Elem): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    def walk(node: Elem, path: String): Unit = {
      val elemChildren = node.child.collect { case e: Elem => e }
      val byLabel = elemChildren.groupBy(_.label)
      val counters = mutable.HashMap.empty[String, Int]
      elemChildren.foreach { c =>
        val n = counters.getOrElse(c.label, 0) + 1
        counters(c.label) = n
        val seg = if (byLabel(c.label).length > 1) s"${c.label}[$n]" else c.label
        val cPath = if (path.isEmpty) seg else s"$path/$seg"
        val grandchildren = c.child.collect { case e: Elem => e }
        if (grandchildren.nonEmpty) walk(c, cPath)
        else {
          val attrs = c.attributes.asAttrMap
          if (attrs.nonEmpty) attrs.keys.foreach(k => out += s"$cPath/@$k")
          else if (!RubyTranslate.blank(c.text)) out += cPath
        }
      }
    }
    walk(rec, "")
    out.toSeq
  }

  /** Column → xpath (`xml/table.rb:191-210`); blank relative_path/attribute
    * are treated as absent. */
  def buildXpath(cm: ColumnMapping): String = {
    val name = cm.column.orElse(cm.standardMapping).getOrElse("")
    cm.xmlCell match {
      case None => name
      case Some(xc) =>
        val rel = xc.relativePath.filter(_.nonEmpty)
        val att = xc.attribute.filter(_.nonEmpty).map("@" + _)
        (rel, att) match {
          case (Some(r), Some(a)) => s"$r/$name/$a"
          case (Some(r), None)    => s"$r/$name"
          case (None, Some(a))    => s"$name/$a"
          case (None, None)       => name
        }
    }
  }

  private case class XpathParts(name: String, rel: String, attr: Option[String])

  /** `labelled_xpath_components_from` (`xml/table.rb:108-151`): rel is ""
    * (not absent) when components exist above the name. */
  private def xpathParts(xpath: String): XpathParts = {
    val comps = xpath.split("/").toSeq
    val attr = if (comps.last.startsWith("@")) Some(comps.last.drop(1)) else None
    val name = if (attr.isDefined) comps(comps.length - 2) else comps.last
    val upper = if (attr.isDefined) comps.length - 2 else comps.length - 1
    val rel = if (comps.length > 1) comps.take(upper).mkString("/") else null
    XpathParts(name, rel, attr)
  }

  // ---------------------------------------------------------- augmentation

  /** X3 — clone columns for repeat-indexed unmapped xpaths
    * (`xml/table.rb:66-87`, `xml/column_mapping.rb`). */
  def augment(mapping: TableMapping, rec: Elem): (Seq[ColumnMapping], Seq[String]) = {
    val augCols = mutable.ArrayBuffer(mapping.columns: _*)
    val augXpaths = mutable.ArrayBuffer(mapping.columns.map(buildXpath): _*)

    (mappableXpaths(rec) diff augXpaths.toSeq).foreach { ux =>
      val stripped = ux.replaceAll("\\[\\d+\\]", "")
      val sp = xpathParts(stripped)
      val existing = mapping.columns.find { c =>
        c.column.contains(sp.name) &&
          c.xmlCell.flatMap(_.relativePath).orNull == sp.rel &&
          c.xmlCell.flatMap(_.attribute).orNull == sp.attr.orNull
      }
      existing.foreach { ex =>
        val up = xpathParts(ux)
        val klassInc = "\\[(\\d+)\\]".r.findFirstMatchIn(ux)
          .getOrElse(sys.error(s"could not identify klass for $ux")).group(1)
        val xc = ex.xmlCell.get
        var nc = ex.copy(column = Some(up.name),
          xmlCell = Some(xc.copy(relativePath = Option(up.rel))))

        if (xc.multiple) {
          val existingRawtext = ex.rawtextName.orElse(ex.column).getOrElse("")
          val incs = "\\[(\\d+)\\]".r.findAllMatchIn(up.name).map(_.group(1)).toSeq ++
            "\\[(\\d+)\\]".r.findAllMatchIn(Option(up.rel).getOrElse("")).map(_.group(1)).toSeq
          val inc = incs.mkString(".")
          if (inc.nonEmpty) {
            nc = nc.copy(rawtextName = Some(s"${existingRawtext}_$inc"))
            if (xc.incrementFieldName)
              nc = nc.copy(mappings = nc.mappings.map(fm =>
                fm.copy(field = s"${fm.field}_$inc")))
          }
        }

        val needIncrementedKlass =
          mapping.klass.isEmpty &&
          xc.buildNewRecord &&
          !(xc.multiple && xc.klassSection.exists(ks =>
            countXpath(rec, ks) == 1))
        if (needIncrementedKlass)
          nc = nc.copy(klass = ex.klass.map(_ + s"#$klassInc"))

        augCols += nc
        augXpaths += buildXpath(nc)
      }
    }
    (augCols.toSeq, augXpaths.toSeq)
  }

  private def countXpath(rec: Elem, xpath: String): Int = {
    var nodes: Seq[Node] = Seq(rec)
    xpath.split("/").foreach(seg => nodes = nodes.flatMap(n => n \ seg))
    nodes.length
  }

  // --------------------------------------------------------------- masking

  /** X4 — per-klass masking, dropping base klasses once `#n` variants exist
    * (`xml/masked_mappings.rb`). */
  def maskedMappings(tableKlass: Option[String],
                     cols: Seq[ColumnMapping]): Seq[(String, Seq[ColumnMapping])] = {
    tableKlass match {
      case Some(k) => Seq(k -> cols)
      case None =>
        val klassless = cols.filterNot(_.doNotCapture).filter(_.klass.isEmpty)
          .map(c => c.column.orElse(c.standardMapping).getOrElse("(unnamed)"))
        if (klassless.nonEmpty)
          sys.error("Missing klass for column(s): " +
            graft.compile.MappingCompiler.toSentence(klassless))
        val klasses = cols.flatMap(_.klass).distinct
        val masked = klasses.map { k =>
          k -> cols.map(c =>
            if (c.klass.contains(k)) c else ColumnMapping(doNotCapture = true))
        }
        masked.filter { case (k, kCols) =>
          kCols.exists(c => c.xmlCell.exists(_.keepKlass)) ||
            !klasses.exists(other => other.matches(java.util.regex.Pattern.quote(k) + "#\\d+"))
        }
    }
  }

  // -------------------------------------------------------------- records

  /** Transform one record element: augment → validate → evaluate →
    * per-klass mapped_line (`xml/table.rb:34-53`). */
  def transformRecord(mapping: TableMapping, rec: Elem, index: Long)
      : Seq[(String, Map[String, String], Map[String, String], Long)] = {
    val (augCols, augXpaths) = augment(mapping, rec)

    val unmapped = mappableXpaths(rec) diff augXpaths
    if (unmapped.nonEmpty) throw new UnmappedXpathError(unmapped)

    val cells = augXpaths.map(evalXpath(rec, _))

    maskedMappings(mapping.klass, augCols).flatMap { case (klass, kCols) =>
      val (fields, rawtext) = RowMapper.mappedLine(cells, kCols)
      if (fields.get("skip").contains("true")) None
      else Some((klass, fields, rawtext, index))
    }
  }

  /** One SAX parser per partition: `XML.loadString` builds a fresh parser
    * per call, which dominates per-record cost on small records. SAXParser
    * is reusable across parses within a thread. */
  private def partitionLoader(): String => Elem = {
    val factory = javax.xml.parsers.SAXParserFactory.newInstance()
    factory.setNamespaceAware(false)
    factory.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    val loader = scala.xml.XML.withSAXParser(factory.newSAXParser())
    xml => loader.loadString(xml)
  }

  /** (file, index, record_xml) → records DataFrame. Executor-side parse;
    * narrow; one reused SAX parser per partition. The reference's
    * `yield_xml_record` option (X5, `xml/table.rb:41-53`) is accepted and
    * ignored: it only batches each source record's klass-records into one
    * yield, which changes no record, and `index` already names the source
    * record. */
  def records(df: DataFrame, mapping: TableMapping): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select("file", "index", "record_xml").as[(String, Long, String)]
      .mapPartitions { it =>
        val load = partitionLoader()
        it.flatMap { case (file, index, xml) =>
          transformRecord(mapping, load(xml), index).map { case (k, f, r, i) =>
            (k, f, r, i, file)
          }
        }
      }.toDF("klass", "fields", "rawtext", "index", "file")
  }
}
