package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** PDF text + AcroForm extraction (S12/S15 — reference
  * `lib/ndr_import/file/pdf.rb`, `file/acro_form.rb`, `acroform_reader.rb`).
  *
  * No PDF library ships in this environment (a real deployment would use
  * PDFBox `PDFTextStripper` / `PDAcroForm`), so this is a native parser:
  *
  *   - a linear object scanner (no regexes over raw bytes — real-world PDFs
  *     made the old regex approach backtrack catastrophically), with
  *     balanced-dict scanning that is string- and hex-literal aware;
  *   - PDF 1.5 object streams (`/Type/ObjStm`) expanded, since modern
  *     writers put the page tree and fonts inside them;
  *   - the Catalog → Pages → Page tree walked in order, `/Resources`
  *     inherited, `/Contents` arrays concatenated;
  *   - a content-stream tokenizer (literal strings with octal escapes and
  *     nesting, hex strings, arrays, inline dicts) feeding a small text
  *     interpreter: BT/ET, Tf, Tm, Td, TD, T-star, TL, Tj, ', ", TJ;
  *   - per-font decoding: `/ToUnicode` CMaps (bfchar + bfrange, codespace
  *     width) for CID/subset fonts, Windows-1252 for simple fonts;
  *   - a positional layout: segments clustered by baseline y, ordered by x,
  *     column-padded like pdf-reader's page layout (mean-char-width
  *     approximation — content is exact, column counts are approximate).
  *
  * Each file is read whole on one task ([[LineSource.wholeFiles]]), giving
  * one row per text line or one Map row per AcroForm.
  */
object Pdf {

  // ------------------------------------------------------------------ bytes

  private def latin(bytes: Array[Byte]): String =
    new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)

  // ------------------------------------------------------- document objects

  private[sources] final case class Obj(dict: String, stream: Option[Array[Byte]])

  /** Balanced `<< … >>` scan over `s` starting at the opening `<<`;
    * returns the index just past the closing `>>`. Skips literal strings,
    * hex strings and comments so stray delimiters inside them don't count.
    */
  private def scanDict(s: String, start: Int): Int = {
    var i = start
    var depth = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<' && i + 1 < n && s.charAt(i + 1) == '<') { depth += 1; i += 2 }
      else if (c == '>' && i + 1 < n && s.charAt(i + 1) == '>') {
        depth -= 1; i += 2
        if (depth == 0) return i
      } else if (c == '(') { // literal string
        var pd = 1; i += 1
        while (i < n && pd > 0) {
          val ch = s.charAt(i)
          if (ch == '\\') i += 2
          else { if (ch == '(') pd += 1 else if (ch == ')') pd -= 1; i += 1 }
        }
      } else if (c == '<') { // hex string
        i += 1
        while (i < n && s.charAt(i) != '>') i += 1
        i += 1
      } else if (c == '%') { // comment
        while (i < n && s.charAt(i) != '\n' && s.charAt(i) != '\r') i += 1
      } else i += 1
    }
    n
  }

  private def isDigit(c: Char) = c >= '0' && c <= '9'
  private def isWs(c: Char) = c == ' ' || c == '\t' || c == '\r' || c == '\n' || c == '\f' || c == 0

  /** Linear scan of `N G obj … endobj` top-level objects. */
  private def scanObjects(bytes: Array[Byte]): mutable.LinkedHashMap[Int, Obj] = {
    val s = latin(bytes)
    val out = mutable.LinkedHashMap.empty[Int, Obj]
    var i = s.indexOf(" obj", 0)
    // also catch "obj" preceded by \r/\n — normalise by searching "obj" and
    // validating the token boundary + preceding generation/object numbers
    i = s.indexOf("obj", 0)
    while (i >= 0) {
      val after = i + 3
      val boundaryOk = (i == 0 || !s.charAt(i - 1).isLetter) &&
        (after >= s.length || !s.charAt(after).isLetter)
      if (boundaryOk) {
        // parse "<num> <gen>" backwards from i
        var j = i - 1
        while (j >= 0 && isWs(s.charAt(j))) j -= 1
        val genEnd = j + 1
        while (j >= 0 && isDigit(s.charAt(j))) j -= 1
        val genStart = j + 1
        while (j >= 0 && isWs(s.charAt(j))) j -= 1
        val numEnd = j + 1
        while (j >= 0 && isDigit(s.charAt(j))) j -= 1
        val numStart = j + 1
        if (genEnd > genStart && numEnd > numStart) {
          val num = s.substring(numStart, numEnd).toInt
          var k = after
          while (k < s.length && isWs(s.charAt(k))) k += 1
          var dict = ""
          if (k + 1 < s.length && s.charAt(k) == '<' && s.charAt(k + 1) == '<') {
            val end = scanDict(s, k)
            dict = s.substring(k, end)
            k = end
          } else {
            // scalar body (e.g. an indirect /Length value)
            val e = s.indexOf("endobj", k)
            dict = s.substring(k, if (e > k) math.min(e, k + 256) else math.min(s.length, k + 256)).trim
          }
          while (k < s.length && isWs(s.charAt(k))) k += 1
          var stream: Option[Array[Byte]] = None
          if (s.startsWith("stream", k)) {
            var ds = k + 6
            if (ds < s.length && s.charAt(ds) == '\r') ds += 1
            if (ds < s.length && s.charAt(ds) == '\n') ds += 1
            // trust a direct /Length when it lands on "endstream"; else scan
            val lenRe = "/Length\\s+(\\d+)(?!\\s+0\\s+R)".r
            val byLen = lenRe.findFirstMatchIn(dict).map(_.group(1).toInt)
              .filter { l =>
                val p = ds + l
                p <= s.length && s.indexOf("endstream", p) - p >= 0 &&
                  s.indexOf("endstream", p) - p < 4
              }
            val de = byLen.map(ds + _).getOrElse {
              val e = s.indexOf("endstream", ds)
              if (e < 0) s.length else e
            }
            stream = Some(bytes.slice(ds, de))
            i = s.indexOf("obj", de)
          } else {
            i = s.indexOf("obj", k)
          }
          // incremental updates append new versions of the same object
          // number; without xref parsing, the LAST occurrence wins
          out(num) = Obj(dict, stream)
        } else i = s.indexOf("obj", after)
      } else i = s.indexOf("obj", after)
      if (i == 0) i = s.indexOf("obj", 3) // safety against stuck loop
    }
    out
  }

  /** The stream's `/Filter` chain with per-filter `/DecodeParms`, in
    * application order (§7.4.1: a name or an array of names; parms a dict,
    * an array of dict-or-null, or absent). */
  private[sources] def filterChain(dict: String): Seq[(String, PdfFilters.Parms)] = {
    def namesAt(idx: Int): Seq[String] = {
      var i = idx
      while (i < dict.length && isWs(dict.charAt(i))) i += 1
      if (i < dict.length && dict.charAt(i) == '[') {
        val end = dict.indexOf(']', i)
        val body = dict.substring(i + 1, if (end < 0) dict.length else end)
        "/([A-Za-z0-9]+)".r.findAllMatchIn(body).map(_.group(1)).toSeq
      } else if (i < dict.length && dict.charAt(i) == '/') {
        "/([A-Za-z0-9]+)".r.findFirstMatchIn(dict.substring(i)).map(_.group(1)).toSeq
      } else Nil
    }
    def parmsAt(idx: Int): Seq[PdfFilters.Parms] = {
      var i = idx
      while (i < dict.length && isWs(dict.charAt(i))) i += 1
      if (i + 1 < dict.length && dict.charAt(i) == '<' && dict.charAt(i + 1) == '<') {
        Seq(PdfFilters.parseParms(dict.substring(i, scanDict(dict, i))))
      } else if (i < dict.length && dict.charAt(i) == '[') {
        // array elements: null or << ... >>
        val out = mutable.ArrayBuffer.empty[PdfFilters.Parms]
        i += 1
        while (i < dict.length && dict.charAt(i) != ']') {
          if (dict.charAt(i) == '<' && i + 1 < dict.length && dict.charAt(i + 1) == '<') {
            val end = scanDict(dict, i)
            out += PdfFilters.parseParms(dict.substring(i, end))
            i = end
          } else {
            if (dict.startsWith("null", i)) { out += PdfFilters.Parms(); i += 4 }
            else i += 1
          }
        }
        out.toSeq
      } else Nil
    }
    val filters = "/Filter(?![A-Za-z])".r.findFirstMatchIn(dict)
      .map(m => namesAt(m.end)).getOrElse(Nil)
    if (filters.isEmpty) Nil
    else {
      val parms = "/(?:DecodeParms|DP)(?![A-Za-z])".r.findFirstMatchIn(dict)
        .map(m => parmsAt(m.end)).getOrElse(Nil)
      filters.zipWithIndex.map { case (f, i) =>
        f -> (if (i < parms.length) parms(i) else PdfFilters.Parms())
      }
    }
  }

  private def decodedStream(o: Obj): Array[Byte] =
    o.stream match {
      case None => Array.emptyByteArray
      case Some(data) =>
        // Apply the full filter chain in order; unsupported filters raise
        // (the reference surfaces them as page-scoped pdf-reader errors —
        // never a silent empty page).
        filterChain(o.dict).foldLeft(data) { case (d, (name, parms)) =>
          PdfFilters(name, d, parms)
        }
    }

  /** Expand `/Type/ObjStm` object streams: header of `N` (num, offset)
    * pairs, bodies starting at `/First`. */
  private def expandObjStms(objs: mutable.LinkedHashMap[Int, Obj]): Unit = {
    val stms = objs.values.filter(o =>
      o.dict.contains("/ObjStm") && o.stream.isDefined).toSeq
    stms.foreach { o =>
      val text = latin(decodedStream(o))
      val first = "/First\\s+(\\d+)".r.findFirstMatchIn(o.dict).map(_.group(1).toInt)
      val n = "/N\\s+(\\d+)".r.findFirstMatchIn(o.dict).map(_.group(1).toInt)
      (first, n) match {
        case (Some(f), Some(cnt)) =>
          val header = text.take(f).trim.split("\\s+").filter(_.nonEmpty)
          val pairs = header.grouped(2).take(cnt).collect {
            case Array(num, off) if num.forall(isDigit) && off.forall(isDigit) =>
              (num.toInt, off.toInt)
          }.toSeq
          pairs.foreach { case (num, off) =>
            val start = f + off
            if (start < text.length && !objs.contains(num)) {
              var k = start
              while (k < text.length && isWs(text.charAt(k))) k += 1
              val body =
                if (k + 1 < text.length && text.charAt(k) == '<' && text.charAt(k + 1) == '<')
                  text.substring(k, scanDict(text, k))
                else text.substring(k, math.min(text.length, k + 256)).trim
              objs(num) = Obj(body, None)
            }
          }
        case _ => ()
      }
    }
  }

  private[sources] final class Doc(bytes: Array[Byte]) {
    val objs: mutable.LinkedHashMap[Int, Obj] = scanObjects(bytes)
    expandObjStms(objs)

    private val refRe = "^(\\d+)\\s+\\d+\\s+R".r

    /** Resolve `N 0 R` in a dict value position; returns the dict/body text. */
    def resolveValue(dict: String, key: String): Option[String] = {
      val m = (java.util.regex.Pattern.quote(key) + "\\s*(.{0,40})").r
        .findFirstMatchIn(dict)
      m.flatMap { mm =>
        val v = mm.group(1)
        refRe.findFirstMatchIn(v) match {
          case Some(r) => objs.get(r.group(1).toInt).map(_.dict)
          case None if v.trim.startsWith("<<") =>
            val full = dict.substring(mm.start(1))
            Some(full.substring(0, scanDict(full, full.indexOf("<<"))))
          case None => Some(v)
        }
      }
    }

    def refTarget(dict: String, key: String): Option[Int] =
      (java.util.regex.Pattern.quote(key) + "\\s*(\\d+)\\s+\\d+\\s+R").r
        .findFirstMatchIn(dict).map(_.group(1).toInt)

    /** Page dicts in reading order (Catalog → Pages walk; object-number
      * order fallback), with inherited resources. */
    def pages: Seq[(String, String)] = { // (pageDict, resourcesDict)
      val catalog = objs.values.find(o =>
        o.dict.contains("/Catalog") && o.dict.contains("/Pages"))
      val out = mutable.ArrayBuffer.empty[(String, String)]
      def walk(num: Int, inheritedRes: String, seen: Set[Int]): Unit = {
        if (seen(num)) return
        objs.get(num).foreach { o =>
          val res = resolveValue(o.dict, "/Resources").getOrElse(inheritedRes)
          if (o.dict.contains("/Type") && o.dict.contains("/Page") &&
              !o.dict.contains("/Pages"))
            out += ((o.dict, res))
          else {
            val kids = "/Kids\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(o.dict)
              .map(_.group(1)).getOrElse("")
            "(\\d+)\\s+\\d+\\s+R".r.findAllMatchIn(kids)
              .foreach(k => walk(k.group(1).toInt, res, seen + num))
          }
        }
      }
      catalog.flatMap(c => refTarget(c.dict, "/Pages")) match {
        case Some(root) => walk(root, "", Set.empty)
        case None => ()
      }
      if (out.isEmpty)
        objs.toSeq.sortBy(_._1).foreach { case (_, o) =>
          if (o.dict.contains("/Type") && o.dict.contains("/Page") &&
              !o.dict.contains("/Pages"))
            out += ((o.dict, resolveValue(o.dict, "/Resources").getOrElse("")))
        }
      out.toSeq
    }

    def contentOf(pageDict: String): String = {
      val refs = "/Contents\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(pageDict)
        .map(m => "(\\d+)\\s+\\d+\\s+R".r.findAllMatchIn(m.group(1))
          .map(_.group(1).toInt).toSeq)
        .orElse(refTarget(pageDict, "/Contents").map(Seq(_)))
        .getOrElse(Nil)
      refs.flatMap(objs.get).map(o => latin(decodedStream(o))).mkString("\n")
    }

    /** Font resource name → decoder for this page's resources. */
    def fontsOf(resourcesDict: String): Map[String, FontDecoder] = {
      val fontDict = resolveValue(resourcesDict, "/Font").getOrElse("")
      "/(\\w+)\\s+(\\d+)\\s+\\d+\\s+R".r.findAllMatchIn(fontDict).map { m =>
        val name = m.group(1)
        val fobj = objs.get(m.group(2).toInt)
        val dec = fobj.map(fontDecoder).getOrElse(FontDecoder.simple)
        name -> dec
      }.toMap
    }

    private def fontDecoder(f: Obj): FontDecoder =
      refTarget(f.dict, "/ToUnicode").flatMap(objs.get) match {
        case Some(tu) if tu.stream.isDefined =>
          parseToUnicode(latin(decodedStream(tu)))
        case _ => FontDecoder.simple
      }
  }

  // -------------------------------------------------------- font decoding

  /** Decodes raw string bytes from a text-showing operator into characters.
    * `width` = code byte width (1 for simple fonts, 2 for Identity-H). */
  final case class FontDecoder(width: Int, cmap: Map[Int, String]) {
    def decode(bytes: Array[Byte]): String =
      if (cmap.isEmpty) new String(bytes, "windows-1252")
      else {
        val sb = new StringBuilder
        var i = 0
        while (i + width <= bytes.length) {
          var code = 0
          for (k <- 0 until width) code = (code << 8) | (bytes(i + k) & 0xFF)
          cmap.get(code) match {
            case Some(u) => sb ++= u
            case None    => if (width == 1) sb += (code & 0xFF).toChar
          }
          i += width
        }
        sb.toString
      }
  }
  object FontDecoder { val simple: FontDecoder = FontDecoder(1, Map.empty) }

  /** Parse a `/ToUnicode` CMap: codespace width, bfchar and bfrange
    * sections (PDF 32000-1 §9.10.3). */
  private[sources] def parseToUnicode(text: String): FontDecoder = {
    val map = mutable.HashMap.empty[Int, String]
    def hexInt(h: String): Int = java.lang.Long.parseLong(h, 16).toInt
    def hexStr(h: String): String = {
      // UTF-16BE code units
      val sb = new StringBuilder
      h.grouped(4).foreach { g =>
        if (g.length == 4) sb += hexInt(g).toChar
      }
      sb.toString
    }
    val width = "begincodespacerange\\s*<([0-9A-Fa-f]+)>".r
      .findFirstMatchIn(text).map(_.group(1).length / 2).getOrElse(2)

    val bfchar = "(?s)beginbfchar(.*?)endbfchar".r
    val pair = "<([0-9A-Fa-f]+)>\\s*<([0-9A-Fa-f]+)>".r
    bfchar.findAllMatchIn(text).foreach { sec =>
      pair.findAllMatchIn(sec.group(1)).foreach { p =>
        map(hexInt(p.group(1))) = hexStr(p.group(2))
      }
    }
    val bfrange = "(?s)beginbfrange(.*?)endbfrange".r
    val triple = "<([0-9A-Fa-f]+)>\\s*<([0-9A-Fa-f]+)>\\s*(<([0-9A-Fa-f]+)>|\\[([^\\]]*)\\])".r
    bfrange.findAllMatchIn(text).foreach { sec =>
      triple.findAllMatchIn(sec.group(1)).foreach { t =>
        val lo = hexInt(t.group(1)); val hi = hexInt(t.group(2))
        if (t.group(4) != null) {
          val base = hexInt(t.group(4))
          var c = lo
          while (c <= hi && c - lo < 65536) {
            map(c) = hexStr(f"${base + (c - lo)}%04X"); c += 1
          }
        } else {
          val dsts = "<([0-9A-Fa-f]+)>".r.findAllMatchIn(t.group(5)).map(_.group(1)).toSeq
          dsts.zipWithIndex.foreach { case (d, i) =>
            if (lo + i <= hi) map(lo + i) = hexStr(d)
          }
        }
      }
    }
    FontDecoder(width, map.toMap)
  }

  // ------------------------------------------------- content-stream lexing

  private sealed trait Tok
  private final case class TStr(bytes: Array[Byte]) extends Tok
  private final case class TNum(v: Double) extends Tok
  private final case class TName(s: String) extends Tok
  private final case class TOp(s: String) extends Tok
  private case object TArrOpen extends Tok
  private case object TArrClose extends Tok

  private def tokenize(s: String): Iterator[Tok] = new Iterator[Tok] {
    private var i = 0
    private val n = s.length
    private var nextTok: Tok = null
    advance()

    private def parseLiteral(): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      var depth = 1
      i += 1
      while (i < n && depth > 0) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < n) {
          val e = s.charAt(i + 1)
          e match {
            case 'n' => out.write('\n'); i += 2
            case 'r' => out.write('\r'); i += 2
            case 't' => out.write('\t'); i += 2
            case 'b' => out.write('\b'); i += 2
            case 'f' => out.write('\f'); i += 2
            case '(' => out.write('('); i += 2
            case ')' => out.write(')'); i += 2
            case '\\' => out.write('\\'); i += 2
            case '\r' => i += 2; if (i < n && s.charAt(i) == '\n') i += 1 // line continuation
            case '\n' => i += 2
            case d if d >= '0' && d <= '7' =>
              var v = 0; var k = 0; i += 1
              while (k < 3 && i < n && s.charAt(i) >= '0' && s.charAt(i) <= '7') {
                v = v * 8 + (s.charAt(i) - '0'); i += 1; k += 1
              }
              out.write(v & 0xFF)
            case other => out.write(other); i += 2
          }
        } else {
          if (c == '(') depth += 1 else if (c == ')') depth -= 1
          if (depth > 0) out.write(c)
          i += 1
        }
      }
      out.toByteArray
    }

    private def parseHex(): Array[Byte] = {
      i += 1
      val sb = new StringBuilder
      while (i < n && s.charAt(i) != '>') {
        val c = s.charAt(i)
        if (Character.digit(c, 16) >= 0) sb += c
        i += 1
      }
      i += 1
      if (sb.length % 2 == 1) sb += '0'
      sb.toString.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
    }

    private def advance(): Unit = {
      nextTok = null
      while (i < n && nextTok == null) {
        val c = s.charAt(i)
        if (isWs(c)) i += 1
        else if (c == '%') { while (i < n && s.charAt(i) != '\n') i += 1 }
        else if (c == '(') nextTok = TStr(parseLiteral())
        else if (c == '<' && i + 1 < n && s.charAt(i + 1) == '<') {
          i = scanDict(s, i) // inline dict (BDC properties etc.) — skip
        } else if (c == '<') nextTok = TStr(parseHex())
        else if (c == '[') { nextTok = TArrOpen; i += 1 }
        else if (c == ']') { nextTok = TArrClose; i += 1 }
        else if (c == '/') {
          val st = i + 1; i += 1
          while (i < n && !isWs(s.charAt(i)) && !"()<>[]{}/%".contains(s.charAt(i))) i += 1
          nextTok = TName(s.substring(st, i))
        } else if (isDigit(c) || c == '+' || c == '-' || c == '.') {
          val st = i; i += 1
          while (i < n && (isDigit(s.charAt(i)) || s.charAt(i) == '.')) i += 1
          val t = s.substring(st, i)
          nextTok =
            try TNum(t.toDouble) catch { case _: Exception => TOp(t) }
        } else {
          val st = i
          while (i < n && !isWs(s.charAt(i)) && !"()<>[]{}/%".contains(s.charAt(i))) i += 1
          if (i == st) i += 1 else nextTok = TOp(s.substring(st, i))
        }
      }
    }

    def hasNext: Boolean = nextTok != null
    def next(): Tok = { val t = nextTok; advance(); t }
  }

  // ----------------------------------------------------- page text layout

  private final case class Segment(x: Double, y: Double, fontSize: Double, text: String)

  /** Interpret one page's content; emit positioned text segments.
    *
    * Transform model: diagonal affine only — (scaleX, scaleY, tx, ty) for
    * both the CTM (q/Q stack + cm concat) and the text matrix. Rotation and
    * skew are ignored (text positions then degrade gracefully rather than
    * corrupting). Font size in device space = Tf size × Tm scaleY × CTM
    * scaleY, which is how writers like Quartz emit "/TT1 1 Tf" with the
    * size carried in the matrix. */
  private def pageSegments(content: String,
                           fonts: Map[String, FontDecoder]): Seq[Segment] = {
    val segs = mutable.ArrayBuffer.empty[Segment]
    var font = FontDecoder.simple
    var tfSize = 12.0
    // CTM (a, d, e, f) + graphics-state stack
    var ctmA = 1.0; var ctmD = 1.0; var ctmE = 0.0; var ctmF = 0.0
    val gsStack = mutable.ArrayBuffer.empty[(Double, Double, Double, Double)]
    // text matrix (a, d, e, f); tlm(E,F) = line matrix origin — Td/TD/T*
    // move the LINE, and the cursor returns there (a shown run advances
    // only the cursor)
    var tmA = 1.0; var tmD = 1.0; var tmE = 0.0; var tmF = 0.0
    var tlmE = 0.0; var tlmF = 0.0
    var leading = 0.0
    var inArray = false
    val stack = mutable.ArrayBuffer.empty[Tok] // operand stack

    def deviceFontSize: Double = math.abs(tfSize * tmD * ctmD)
    def show(bytes: Array[Byte]): Unit = {
      val t = font.decode(bytes)
      if (t.nonEmpty) {
        val x = ctmA * tmE + ctmE
        val y = ctmD * tmF + ctmF
        segs += Segment(x, y, deviceFontSize, t)
        // rough advance (mean half-em) for ordering / space columns
        tmE += t.length * tfSize * 0.5
      }
    }
    def nextLine(): Unit = {
      tlmF -= (if (leading != 0) leading else tfSize * 1.2) * tmD
      tmE = tlmE; tmF = tlmF
    }
    def num(k: Int): Double = { // k-th numeric operand from the end
      val nums = stack.collect { case TNum(v) => v }
      if (nums.length >= k) nums(nums.length - k) else 0.0
    }

    tokenize(content).foreach {
      case TArrOpen  => inArray = true; stack.clear()
      case TArrClose => inArray = false
      case t @ (TStr(_) | TNum(_)) if inArray =>
        t match {
          case TStr(b) => show(b)
          case TNum(v) => tmE -= v / 1000.0 * tfSize
          case _       => ()
        }
      case t @ (TStr(_) | TNum(_) | TName(_)) => stack += t
      case TOp(op) =>
        op match {
          case "q" => gsStack += ((ctmA, ctmD, ctmE, ctmF))
          case "Q" =>
            if (gsStack.nonEmpty) {
              val (a, d, e, f) = gsStack.remove(gsStack.length - 1)
              ctmA = a; ctmD = d; ctmE = e; ctmF = f
            }
          case "cm" =>
            // (a' d' e' f') ∘ ctm, diagonal part only
            val a = num(6); val d = num(3); val e = num(2); val f = num(1)
            ctmE += ctmA * e; ctmF += ctmD * f
            ctmA *= (if (a != 0) a else 1.0); ctmD *= (if (d != 0) d else 1.0)
          case "Tf" =>
            tfSize = num(1)
            if (tfSize == 0) tfSize = 1.0
            stack.reverseIterator.collectFirst { case TName(nm) => nm }
              .foreach(nm => font = fonts.getOrElse(nm, FontDecoder.simple))
          case "Tm" =>
            tmA = (if (num(6) != 0) num(6) else 1.0)
            tmD = (if (num(3) != 0) num(3) else 1.0)
            tmE = num(2); tmF = num(1); tlmE = tmE; tlmF = tmF
          case "Td" =>
            tlmE += num(2) * tmA; tlmF += num(1) * tmD
            tmE = tlmE; tmF = tlmF
          case "TD" =>
            leading = -num(1)
            tlmE += num(2) * tmA; tlmF += num(1) * tmD
            tmE = tlmE; tmF = tlmF
          case "TL" => leading = num(1)
          case "T*" => nextLine()
          case "BT" =>
            tmA = 1; tmD = 1; tmE = 0; tmF = 0; tlmE = 0; tlmF = 0
          case "Tj" =>
            stack.lastOption.collect { case TStr(b) => show(b) }
          case "'" =>
            nextLine()
            stack.lastOption.collect { case TStr(b) => show(b) }
          case "\"" =>
            nextLine()
            stack.lastOption.collect { case TStr(b) => show(b) }
          case _ => ()
        }
        stack.clear()
    }
    segs.toSeq
  }

  /** pdf-reader's page layout, reimplemented from its published behaviour:
    * rows are the y axis quantised by the mean shown font size
    * (`row = round(y / mean_font_size)`; skipped indices become blank
    * lines), columns are x offsets from the leftmost run over a
    * mean-glyph-width step (~0.49 em — approximate; content is exact).
    * Trailing blank lines disappear downstream like Ruby's
    * `text.split("\n")`. */
  private def layout(segs: Seq[Segment]): Seq[String] = {
    if (segs.isEmpty) return Nil
    val meanFs = {
      val fs = segs.map(_.fontSize).filter(_ > 0)
      if (fs.isEmpty) 12.0 else fs.sum / fs.size
    }
    val colW = meanFs * 0.489
    val rows = mutable.LinkedHashMap.empty[Long, mutable.ArrayBuffer[Segment]]
    segs.foreach { sg =>
      val key = math.round(sg.y / meanFs)
      rows.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += sg
    }
    val minX = segs.map(_.x).min
    val sorted = rows.toSeq.sortBy(-_._1)
    val out = mutable.ArrayBuffer.empty[String]
    var prevKey: Option[Long] = None
    sorted.foreach { case (key, lineSegs) =>
      prevKey.foreach { pk =>
        var blanks = (pk - key - 1).toInt
        while (blanks > 0) { out += ""; blanks -= 1 }
      }
      prevKey = Some(key)
      val sb = new StringBuilder
      lineSegs.sortBy(_.x).foreach { sg =>
        val col = math.max(0, math.round((sg.x - minX) / colW).toInt)
        if (col > sb.length) sb.append(" " * (col - sb.length))
        sb.append(sg.text)
      }
      out += sb.toString.replaceAll("\\s+$", "")
    }
    // Ruby `split("\n")` semantics: trailing blank lines vanish
    out.reverse.dropWhile(_.isEmpty).reverse.toSeq
  }

  // --------------------------------------------------------------- public

  /** Extract text lines, page by page (`pdf.rb:13-33` — pdf-reader
    * `page.text.split("\n")`). Per-page failures (unsupported stream
    * filters, corrupt content) raise with the page number, like the
    * reference's `process_page` (`file/pdf.rb:26-33`,
    * `helpers/file/pdf.rb:10-25`) — never a silent empty page. */
  def extractTextLines(bytes: Array[Byte], name: String = "file"): Seq[String] = {
    if (!latin(bytes.take(8)).startsWith("%PDF"))
      sys.error(s"Failed to read $name as a PDF")
    val doc = new Doc(bytes)
    val viaPages = doc.pages.zipWithIndex.flatMap { case ((pageDict, resources), idx) =>
      try {
        val content = doc.contentOf(pageDict)
        if (content.isEmpty) Nil
        else layout(pageSegments(content, doc.fontsOf(resources)))
      } catch {
        case e: Exception =>
          throw new RuntimeException(
            s"Invalid format on page ${idx + 1} of $name " +
              s"[${e.getClass.getSimpleName}: ${e.getMessage}]", e)
      }
    }
    if (viaPages.nonEmpty) viaPages
    else {
      // page-tree-less documents (minimal writers): every stream carrying
      // text operators, in object order. Streams with image-only filters
      // can't hold text operators — skip them rather than raising here.
      // best-effort scan: skip streams that can't decode (image-only
      // filters or corrupt data) and extract from the rest — but if every
      // stream failed and nothing was extracted, surface the first real
      // decode error rather than silently returning an empty document
      var firstError: Option[Exception] = None
      val out = doc.objs.values.toSeq.filter(_.stream.isDefined)
        .flatMap { o =>
          try Some(latin(decodedStream(o)))
          catch {
            case _: PdfFilters.UnsupportedFilterError => None
            case e: Exception =>
              if (firstError.isEmpty) firstError = Some(e)
              None
          }
        }
        .filter(t => t.contains("Tj") || t.contains("TJ") || t.contains("BT"))
        .flatMap(t => layout(pageSegments(t, Map.empty)))
      if (out.isEmpty) firstError.foreach { e =>
        throw new RuntimeException(
          s"Invalid format: no stream decoded [${e.getClass.getSimpleName}: ${e.getMessage}]", e)
      }
      out
    }
  }

  /** S15 — AcroForm `{field name → value}` single-row hash
    * (`acroform_reader.rb:6-31`): Widget-bearing field dicts, unique names
    * enforced. */
  def acroFormFields(bytes: Array[Byte]): Map[String, String] = {
    val doc = new Doc(bytes)
    val out = mutable.LinkedHashMap.empty[String, String]
    val tRe = "/T\\s*\\(((?:[^()\\\\]|\\\\.)*)\\)".r
    val vRe = "/V\\s*(?:\\(((?:[^()\\\\]|\\\\.)*)\\)|/([A-Za-z0-9]+))".r
    def unescape(s: String): String =
      s.replace("\\n", "\n").replace("\\r", "\r").replace("\\t", "\t")
        .replace("\\(", "(").replace("\\)", ")").replace("\\\\", "\\")
    doc.objs.values.foreach { o =>
      val dict = o.dict
      val isField = dict.contains("/Widget") || dict.contains("/FT") || dict.contains("/Kids")
      if (isField && !dict.contains("/Type/Page") && !dict.contains("/Type /Page")) {
        tRe.findFirstMatchIn(dict).foreach { tm =>
          val name = unescape(tm.group(1))
          val value = vRe.findFirstMatchIn(dict)
            .map(vm => if (vm.group(1) != null) unescape(vm.group(1)) else vm.group(2))
            .getOrElse("")
          if (out.contains(name) && out(name) != value)
            sys.error(s"Duplicate AcroForm field name: $name")
          out(name) = value
        }
      }
    }
    if (out.isEmpty) sys.error("There are no appropriate AcroFields")
    out.toMap
  }

  /** S12 — one row per text line, per file (`pdf.rb:13-33`). */
  def lines(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import spark.implicits._
    LineSource.wholeFiles(spark, paths) { (file, bytes) =>
      val base = file.substring(file.lastIndexOf('/') + 1)
      extractTextLines(bytes, base).iterator.zipWithIndex.map { case (l, i) => (file, i.toLong, l) }
    }.toDF("file", "lineno", "line")
  }

  /** S15 — one Map row per file. */
  def acroForm(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import spark.implicits._
    LineSource.wholeFiles(spark, paths)((file, bytes) => Iterator((file, 0L, acroFormFields(bytes))))
      .toDF("file", "lineno", "fields_hash")
  }
}
