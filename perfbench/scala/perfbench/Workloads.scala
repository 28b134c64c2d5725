package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.compile.{MappingCompiler, RowMapper}
import graft.model.{ColumnMapping, MappingLoader, TableMapping}
import graft.operators.{TextDedup, TextPipeline, TextStats}
import graft.run.{Importer, Registry}
import graft.runtime.Output
import graft.sources._
import graft.tabulate.NonTabular
import graft.xml.XmlTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Written records that differ from the reference. */
final class WrongOutput(msg: String) extends RuntimeException(msg)

/** One workload. `batch` is the measured trip from input files to records
  * written, through the program's public entry points; `staged` makes the
  * same trip one layer call at a time, each call's input materialised
  * first, under spans; `verify` checks what a batch wrote. */
abstract class Workload(val spark: SparkSession, inputs: String, work: String) {
  def batch(i: Int, out: String): Unit
  def staged(i: Int, out: String, t: Tracer): Unit
  /** Checks the records batch `i` wrote under `out`; returns their count. */
  def verify(i: Int, out: String): Long
  /** Removes what batch `i` left on disk besides its output. */
  def release(i: Int): Unit = ()
  /** Untimed batches after the warm-up batch, before timing starts. */
  def settle: Int = 0
  /** About how long one batch takes on a 4-core machine, in seconds. */
  def nominalBatchSeconds: Double

  /** The batches an untraced run times: as many as fill `seconds` at the
    * nominal length, at least 3, and odd, so the median is one batch.
    * The count is fixed rather than the time: batch times still fall while
    * the JIT warms up, and a time limit that ends a run after 4 or after 5
    * batches moved the median by a tenth. */
  def timedBatches(seconds: Double): Int = {
    val n = math.max(3, math.round(seconds / nominalBatchSeconds).toInt)
    if (n % 2 == 0) n + 1 else n
  }

  protected val expected: JsonNode = new ObjectMapper().readTree(new File(inputs, "expected.json"))
  protected def input(name: String): String = new File(inputs, name).getAbsolutePath
  protected def strings(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq
  protected def mappings(name: String): Seq[TableMapping] =
    MappingLoader.loadTables(new String(Files.readAllBytes(Paths.get(inputs, name)), UTF_8))
  protected def scratch(name: String): String = new File(work, name).getAbsolutePath

  /** Materialises `df` (local checkpoint), so the next layer's span reads
    * blocks instead of re-running this layer's lineage. */
  protected def ckpt(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  protected def basename(path: String): String = path.substring(path.lastIndexOf('/') + 1)

  /** Runs `body` in span `name`, then counts its result's rows as `key`
    * (outside the span, so the count job is not charged to the layer). */
  protected def layer(t: Tracer, name: String, key: String)(body: => DataFrame): DataFrame = {
    val df = t.span(name)(body)
    t.countOn(name, key, df.count().toDouble)
    df
  }

  /** `compile.map` for a tabular frame: consume and validate the header
    * rows, then compile the data rows — what the Importer does per file. */
  protected def compiled(t: Tracer, m: TableMapping, rows: DataFrame): DataFrame =
    layer(t, "compile.map", "records") {
      val header = rows.filter(col("lineno") < m.headerLines).collect()
        .sortBy(_.getAs[Long]("lineno")).map(_.getAs[collection.Seq[String]]("cells").toSeq).toSeq
      val valid = MappingCompiler.consumeHeader(m, header)
      ckpt(MappingCompiler(valid).records(MappingCompiler.dataRows(rows, valid)))
    }

  protected def write(t: Tracer, df: DataFrame, out: String): Unit = {
    t.span("runtime.write")(Output.sizedWrite(df, out))
    val parts = new File(out).listFiles().filter(f => f.getName.startsWith("part-"))
    t.countOn("runtime.write", "files", parts.length.toDouble)
    t.countOn("runtime.write", "bytes", parts.map(_.length).sum.toDouble)
  }

  /** Order-free digest of a written frame: row count and the sum of one
    * 64-bit hash per row (maps hashed in key order, paths by basename). */
  private def digest(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => to_json(array_sort(map_entries(col(f.name))))
        case _ if f.name == "file" => element_at(split(col("file"), "/"), -1)
        case _ => col(f.name)
      }
    }
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  private var checked: Option[(Long, BigDecimal)] = None

  /** Checks the first output with `full`, then requires every later
    * output's digest to equal that checked one; returns the row count. */
  protected def digestChecked(i: Int, out: String)(full: DataFrame => Unit): Long = {
    val written = spark.read.parquet(out)
    val d = digest(written)
    checked match {
      case None =>
        full(written)
        checked = Some(d)
      case Some(c) if c != d =>
        throw new WrongOutput(s"batch $i output digest $d differs from the checked $c")
      case _ =>
    }
    d._1
  }

  /** Record as a comparable line: file, index, klass, fields, rawtext. */
  protected def canon(file: String, index: Any, klass: String, fields: Map[String, String],
                      rawtext: Map[String, String]): String = {
    def kv(m: Map[String, String]) =
      m.filter(_._2 != null).toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("\u0001")
    s"$file\t$index\t$klass\t${kv(fields)}\t${kv(rawtext)}"
  }

  protected def written(out: String, withIndex: Boolean, withRawtext: Boolean): Seq[String] =
    spark.read.parquet(out).select("file", "index", "klass", "fields", "rawtext").collect()
      .map { r =>
        canon(basename(r.getString(0)), if (withIndex) r.getLong(1) else "", r.getString(2),
          r.getMap[String, String](3).toMap,
          if (withRawtext) r.getMap[String, String](4).toMap else Map.empty)
      }.toSeq

  protected def compare(what: String, got: Seq[String], want: Seq[String]): Unit = {
    val (g, w) = (got.sorted, want.sorted)
    if (g != w) {
      val missing = w.diff(g).take(3)
      val extra = g.diff(w).take(3)
      throw new WrongOutput(s"$what: ${g.size} records written, ${w.size} expected; " +
        s"missing e.g. ${missing.mkString(" | ")}; unexpected e.g. ${extra.mkString(" | ")}")
    }
  }
}

object Workload {
  def apply(name: String, spark: SparkSession, inputs: String, work: String): Workload =
    name match {
      case "import_tabular" => new ImportTabular(spark, inputs, work)
      case "import_mixed_drops" => new ImportMixedDrops(spark, inputs, work)
      case "curate_near" => new CurateNear(spark, inputs, work)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** A registry's bulk extract: delimited files through `Importer.mappedTables`
  * plus one fixed-width file. The Importer has no route that hands a
  * fixed-width (`unpack_pattern`) mapping its raw lines, so that file goes
  * `LineSource.lines` → `Tabular.fixedWidth` → `MappingCompiler`, the
  * calls the Importer makes for every other tabular format. */
final class ImportTabular(spark: SparkSession, inputs: String, work: String)
    extends Workload(spark, inputs, work) {
  private val maps = mappings("mapping.yaml")
  private val fwMap = mappings("mapping_fw.yaml").head
  private val csvs = strings(expected.get("csv")).map(input)
  private val fw = input(expected.get("fixed_width").asText)
  private val unpack = fwMap.columns.flatMap(_.unpackPattern)
  // the first batches after the warm-up still run partly interpreted
  // code; curate_near's long batches average that out
  override def settle = 3
  def nominalBatchSeconds = 3.0

  private def fwRecords(rows: DataFrame): DataFrame =
    MappingCompiler(fwMap).records(MappingCompiler.dataRows(rows, fwMap))

  def batch(i: Int, out: String): Unit = {
    val parts = csvs.map(f => Importer.mappedTables(spark, f, maps)("registry"))
    val fixed = fwRecords(Tabular.fixedWidth(LineSource.lines(spark, Seq(fw)), unpack))
    Output.sizedWrite((parts :+ fixed).reduce(_ unionByName _), out)
  }

  def staged(i: Int, out: String, t: Tracer): Unit = {
    val files = t.span("run.expand")((csvs :+ fw).flatMap(Registry.files(_)))
    t.countOn("run.expand", "files", files.size.toDouble)
    val delimited = files.filter(_ != fw).map { f =>
      val m = maps.find(_.matches(f, None)).get
      val rows = layer(t, "sources.read", "rows")(ckpt(Tabular.delimited(spark, Seq(f), m)))
      t.countOn("sources.read", "bytes_in", new File(f).length.toDouble)
      compiled(t, m, rows)
    }
    val fwRows = layer(t, "sources.read", "rows")(
      ckpt(Tabular.fixedWidth(LineSource.lines(spark, Seq(fw)), unpack)))
    t.countOn("sources.read", "bytes_in", new File(fw).length.toDouble)
    val fixed = layer(t, "compile.map", "records")(ckpt(fwRecords(fwRows)))
    t.span("run.plan")(csvs.foreach(f => Importer.mappedTables(spark, f, maps)))
    write(t, (delimited :+ fixed).reduce(_ unionByName _), out)
  }

  def verify(i: Int, out: String): Long = digestChecked(i, out) { _ =>
    compare("import_tabular", written(out, withIndex = true, withRawtext = true), oracle())
  }

  /** The records `RowMapper.mappedLine` — the row-at-a-time interpreter the
    * compiler is property-tested against — makes from the same cells. */
  private def oracle(): Seq[String] = {
    def klasses(m: TableMapping) = m.klass.map(Seq(_)).getOrElse(m.columns.flatMap(_.klass).distinct)
    def masked(m: TableMapping, k: String): Seq[ColumnMapping] =
      if (m.klass.contains(k)) m.columns
      else m.columns.map(c => if (c.klass.contains(k)) c else ColumnMapping(doNotCapture = true))
    def records(m: TableMapping, file: String, rows: Seq[(Seq[String], Int)]) =
      for ((cells, idx) <- rows; k <- klasses(m)) yield {
        val (fields, raw) = RowMapper.mappedLine(cells, masked(m, k))
        canon(basename(file), idx.toLong, k, fields, raw)
      }
    def lines(f: String) = Files.readAllLines(Paths.get(f), UTF_8).asScala.toSeq
    val delimited = csvs.flatMap { f =>
      val m = maps.find(_.matches(f, None)).get
      val all = lines(f).zipWithIndex
      records(m, f, all.slice(m.headerLines, all.size - m.footerLines)
        .map { case (l, i) => (Oracle.csvCells(l), i) })
    }
    val widths = unpack.map(_.drop(1).toInt)
    val starts = widths.scanLeft(0)(_ + _)
    val fixed = records(fwMap, fw, lines(fw).zipWithIndex.map { case (l, i) =>
      (widths.indices.map { c =>
        val s = math.min(starts(c), l.length)
        l.substring(s, math.min(s + widths(c), l.length)).replaceAll("\\s+$", "")
      }, i)
    })
    delimited ++ fixed
  }
}

/** The many-trusts monthly drop: each batch imports the next zip of small
  * csv, xlsx, jsonl, text-report, docx, PDF and XML files. */
final class ImportMixedDrops(spark: SparkSession, inputs: String, work: String)
    extends Workload(spark, inputs, work) {
  private val maps = mappings("mapping.yaml")
  private val drops = strings(expected.get("drops"))

  // batch times fall by a third over the first ~10 batches while the JIT
  // compiles the driver-side planning paths, then level off
  override def settle = 4
  def nominalBatchSeconds = 1.6

  private def drop(i: Int) = drops(i % drops.size)
  private def unzipTo(i: Int, leg: String) =
    Registry.ContainerOptions(unzipPath = scratch(s"scratch/b$i-$leg"))

  def batch(i: Int, out: String): Unit = {
    val tables = Importer.mappedTables(spark, input(drop(i)), maps, unzipTo(i, "run"))
    Output.sizedWrite(tables.values.reduce(_ unionByName _), out)
  }

  def staged(i: Int, out: String, t: Tracer): Unit = {
    val files = t.span("run.expand")(Registry.files(input(drop(i)), unzipTo(i, "run")))
    t.countOn("run.expand", "files", files.size.toDouble)
    val records = files.flatMap { f =>
      maps.find(_.matches(f, None)).toSeq.flatMap { m =>
        def read(df: => DataFrame) = {
          val rows = layer(t, "sources.read", "rows")(ckpt(df))
          t.countOn("sources.read", "bytes_in", new File(f).length.toDouble)
          rows
        }
        def segmented(lines: DataFrame) = {
          val cells = layer(t, "tabulate.segment", "records")(ckpt(NonTabular.tabulate(lines, m)))
          layer(t, "compile.map", "records")(ckpt(MappingCompiler(m).records(cells)))
        }
        Registry.formatFor(f, m.format) match {
          case "csv" => Seq(compiled(t, m, read(Tabular.delimited(spark, Seq(f), m))))
          case "jsonl" =>
            val names = m.columns.flatMap(_.column)
            Seq(compiled(t, m, read(Tabular.jsonCells(LineSource.lines(spark, Seq(f)), names))))
          case "xlsx" =>
            val sheets = read(Excel.tables(spark, Seq(f), m.filePassword))
            sheets.select("tablename").distinct().collect().map(_.getString(0)).toSeq.sorted
              .flatMap { s =>
                maps.find(_.matches(f, Some(s))).map { sm =>
                  compiled(t, sm, sheets.filter(col("tablename") === s).drop("tablename"))
                }
              }
          case "nontabular" => Seq(segmented(read(LineSource.lines(spark, Seq(f)))))
          case "pdf" => Seq(segmented(read(Pdf.lines(spark, Seq(f)))))
          case "docx" => Seq(segmented(read(wordLines(f))))
          case "xml_table" =>
            val src = read(XmlSource.records(spark, Seq(f), m))
            Seq(layer(t, "xml.transform", "records")(ckpt(XmlTable.records(src, m))))
          case other => throw new IllegalStateException(s"no staged route for $other")
        }
      }
    }
    t.span("run.plan")(Importer.mappedTables(spark, input(drop(i)), maps, unzipTo(i, "plan")))
    write(t, records.reduce(_ unionByName _), out)
  }

  def verify(i: Int, out: String): Long = {
    val want = expected.get("expected").get(drop(i)).elements.asScala.map { r =>
      val fields = r.get(2).fields.asScala.map(e => e.getKey -> e.getValue.asText).toMap
      canon(r.get(0).asText, "", r.get(1).asText, fields, Map.empty)
    }.toSeq
    val got = written(out, withIndex = false, withRawtext = false)
    compare(s"import_mixed_drops ${drop(i)}", got, want)
    got.size
  }

  override def release(i: Int): Unit =
    Seq("run", "plan").foreach(leg => Workload.deleteTree(new File(scratch(s"scratch/b$i-$leg"))))

  /** (file, lineno, line) of a Word file: the public calls behind the
    * Importer's docx route. */
  private def wordLines(file: String): DataFrame =
    spark.read.format("binaryFile").load(file)
      .select(col("path").as("file"), BinaryDecode.wordDocText(col("content")).as("text"))
      .select(col("file"), posexplode(LineSource.splitLines(col("text"))).as(Seq("lineno", "line")))
      .select(col("file"), col("lineno").cast("long").as("lineno"), col("line"))
}

/** A free-text corpus with planted near-duplicate chains through
  * `TextPipeline.e2e(nearDedup = true)`, then written. */
final class CurateNear(spark: SparkSession, inputs: String, work: String)
    extends Workload(spark, inputs, work) {
  private val lexicon = strings(expected.get("lexicon"))

  private def docs() = spark.read.schema("id BIGINT, text STRING, stratum STRING")
    .json(input("corpus.jsonl"))
  private def bench() = spark.read.schema("text STRING").json(input("benchmark.jsonl"))
  private def pipeline(d: DataFrame, b: DataFrame) =
    TextPipeline.e2e(d, "id", "text", "stratum", b, "text", lexicon, nearDedup = true)
  /** Exact-dedup keepers (min id per text): the frame e2e's near-dup stage
    * sees, given that no generated doc trips the quality gates. */
  private def training(d: DataFrame) =
    d.join(d.groupBy("text").agg(min("id").as("id")), Seq("id", "text"))
  private def bits(n: Long) = 4 * TextDedup.simhashWidthFor(n)
  def nominalBatchSeconds = 4.5

  def batch(i: Int, out: String): Unit = {
    val res = pipeline(docs(), bench())
    try Output.sizedWrite(res, out) finally TextPipeline.unpersistPipeline(res)
  }

  def staged(i: Int, out: String, t: Tracer): Unit = {
    val (d, b) = (ckpt(docs()), ckpt(bench()))
    val train = ckpt(training(d))
    val n = train.count()
    val pairs = layer(t, "operators.pairs", "pairs")(
      ckpt(TextDedup.simhashPairs(train, "id", "text", bits(n), wideHash = true)))
    t.span("operators.cc")(ckpt(TextDedup.connectedComponents(pairs, "id_a", "id_b")))
    val res = layer(t, "operators.pipeline", "survivors") {
      val r = pipeline(d, b)
      try ckpt(r) finally TextPipeline.unpersistPipeline(r)
    }
    write(t, res, out)
  }

  def verify(i: Int, out: String): Long = digestChecked(i, out) { written =>
    check(written.select("id").collect().map(_.getLong(0)).toSeq)
  }

  /** CC labels against a union-find over the collected candidate pairs;
    * survivors against the exact-dup, near-dup and contamination drops. */
  private def check(survivors: Seq[Long]): Unit = {
    val all = docs()
    val train = training(all).cache()
    try {
      val pairsDf = TextDedup.simhashPairs(train, "id", "text", bits(train.count()), wideHash = true)
      val pairs = pairsDf.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      val labels = TextDedup.connectedComponents(pairsDf, "id_a", "id_b").collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
      val uf = Oracle.unionFind(pairs)
      if (labels != uf) throw new WrongOutput(
        s"curate_near: connectedComponents labels ${labels.size} nodes disagree with " +
          s"union-find over ${pairs.length} pairs (${uf.size} nodes)")
      val quality = train.select(col("id"), TextStats.quality(col("text")))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val nearLosers = uf.groupBy(_._2).values.flatMap { members =>
        val keep = members.keys.minBy(id => (-quality(id), id))
        members.keys.filter(_ != keep)
      }.toSet
      val ids = all.select("id").collect().map(_.getLong(0)).toSet
      val exactLosers = ids -- train.select("id").collect().map(_.getLong(0))
      val contaminated = expected.get("contaminated").elements.asScala.map(_.asLong).toSet
      val dropped = survivors.filter(s => nearLosers(s) || exactLosers(s) || contaminated(s))
      if (survivors.isEmpty || survivors.distinct.size != survivors.size ||
          !survivors.forall(ids) || dropped.nonEmpty)
        throw new WrongOutput(s"curate_near: ${survivors.size} survivors, " +
          s"${survivors.size - survivors.distinct.size} repeated, " +
          s"${dropped.size} that the pipeline must drop (e.g. ${dropped.take(3)})")
      System.err.println(s"perfbench: curate_near ${pairs.length} candidate pairs, " +
        s"${uf.values.toSet.size} components, largest ${uf.groupBy(_._2).values.map(_.size).max}, " +
        s"deepest ${uf.values.toSet.map(Oracle.eccentricity(pairs, _)).max} hops " +
        s"from its minimum id, ${survivors.size} survivors")
    } finally train.unpersist()
  }
}

/** Reference-side helpers, independent of the code under test. */
object Oracle {

  /** Ruby-CSV cells of one line: an unquoted empty cell is nil. */
  def csvCells(line: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var quoted, inQuotes = false
    var i = 0
    def cell(): Unit = {
      out += (if (sb.isEmpty && !quoted) null else sb.toString)
      sb.clear(); quoted = false
    }
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQuotes) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { sb += '"'; i += 1 }
        else if (c == '"') inQuotes = false
        else sb += c
      } else if (c == '"') { inQuotes = true; quoted = true }
      else if (c == ',') cell()
      else sb += c
      i += 1
    }
    cell()
    out.toSeq
  }

  /** id → minimum id of its connected component. */
  def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  /** Hops from `src` to the farthest node of its component. */
  def eccentricity(edges: Seq[(Long, Long)], src: Long): Int = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupMap(_._1)(_._2)
    var seen = Set(src)
    var frontier = Set(src)
    var hops = -1
    while (frontier.nonEmpty) {
      hops += 1
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)) -- seen
      seen ++= frontier
    }
    hops
  }

}
