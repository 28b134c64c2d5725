package graft.clean

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Translators from the reference's Ruby-isms to their JVM equivalents:
  * date-format strings (ndr_support `String#to_date`, reference
  * `docs/date-formats.md`), regex literals (YAML `!ruby/regexp`), `gsub`
  * replacements, and whitespace. Every blank test and strip of the
  * mapping path calls the rules here, which are Ruby's exactly:
  *   - `blank` is ActiveSupport `blank?` (`[[:space:]]*`): Unicode
  *     White_Space only; NUL is not blank;
  *   - `strip`/`rstrip` are `String#strip`/`rstrip`: space, tab to CR
  *     and NUL, nothing outside ASCII; `unpackA` is `unpack('A')`'s
  *     trailing spaces and NULs.
  * The `UTF8String` forms scan bytes and decode only non-ASCII
  * characters; the `Column` forms call them from generated code.
  */
object RubyTranslate {

  // ------------------------------------------------------------ whitespace

  /** A Unicode White_Space code point: Ruby's `[[:space:]]` (tab to CR,
    * space, U+0085, NBSP, U+1680, U+2000-U+200A, U+2028, U+2029, U+202F,
    * U+205F, U+3000). */
  private def space(c: Int): Boolean =
    (c >= 0x09 && c <= 0x0D) || c == 0x20 || c == 0x85 || c == 0xA0 || c == 0x1680 ||
      (c >= 0x2000 && c <= 0x200A) || c == 0x2028 || c == 0x2029 || c == 0x202F ||
      c == 0x205F || c == 0x3000

  /** What `String#strip` removes: space, `\t \n \v \f \r` and NUL. */
  private def strippable(c: Int): Boolean = c == 0x20 || (c >= 0x09 && c <= 0x0D) || c == 0

  /** ActiveSupport `blank?`; null (Ruby's nil) is blank. */
  def blank(s: String): Boolean = {
    var i = 0
    while (s != null && i < s.length) { if (!space(s.charAt(i))) return false; i += 1 }
    true
  }

  def blank(s: UTF8String): Boolean = {
    val n = s.numBytes
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b >= 0) { if (!space(b)) return false; i += 1 }
      else { if (!space(s.codePointFrom(i))) return false; i += UTF8String.numBytesForFirstByte(b) }
    }
    true
  }

  def strip(s: String): String = {
    var a = 0
    while (a < s.length && strippable(s.charAt(a))) a += 1
    rstrip(s.substring(a))
  }

  def rstrip(s: String): String = {
    var b = s.length
    while (b > 0 && strippable(s.charAt(b - 1))) b -= 1
    s.substring(0, b)
  }

  /** The stripped characters are ASCII and no byte of a multi-byte UTF-8
    * character is, so these scan bytes; the input comes back as it is
    * when nothing is removed. */
  def strip(s: UTF8String): UTF8String = {
    var a = 0
    var b = s.numBytes
    while (a < b && strippable(s.getByte(a))) a += 1
    while (b > a && strippable(s.getByte(b - 1))) b -= 1
    slice(s, a, b)
  }

  /** `unpack('A')`: trailing spaces and NULs go, other whitespace stays. */
  def unpackA(s: UTF8String): UTF8String = {
    var b = s.numBytes
    while (b > 0 && (s.getByte(b - 1) == ' ' || s.getByte(b - 1) == 0)) b -= 1
    slice(s, 0, b)
  }

  private def slice(s: UTF8String, a: Int, b: Int): UTF8String =
    if (a == 0 && b == s.numBytes) s
    else if (a == b) UTF8String.EMPTY_UTF8
    else s.copyUTF8String(a, b - 1) // end inclusive

  /** `strip` over a string column, null-safe. */
  def strip(c: Column): Column = call("strip", c)

  /** `unpackA` over a string column, null-safe. */
  def unpackA(c: Column): Column = call("unpackA", c)

  private def call(name: String, c: Column): Column =
    GraftColumnBridge.column(StaticInvoke(getClass, StringType, name,
      Seq(GraftColumnBridge.expression(c)), returnNullable = false))

  /** Translate a reference mapping date format to a Java/Spark datetime
    * pattern. Handles both the lowercase convention (`dd/mm/yyyy`,
    * `yyyymmdd`, `dd/mmm/yy`) and strftime directives (`%d/%m/%Y`).
    */
  def dateFormat(fmt: String): String =
    if (fmt.contains("%")) strftime(fmt)
    else lowercasePattern(fmt)

  private def strftime(fmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      if (fmt.charAt(i) == '%' && i + 1 < fmt.length) {
        val (tok, consumed) = fmt.charAt(i + 1) match {
          case '-' if i + 2 < fmt.length =>
            (fmt.charAt(i + 2) match {
              case 'd' => "d"; case 'm' => "M"; case 'y' => "yy"; case 'H' => "H"
              case c   => c.toString
            }, 3)
          case 'd' => ("dd", 2);   case 'D' => ("EEE", 2)
          case 'm' => ("MM", 2);   case 'b' => ("MMM", 2); case 'B' => ("MMMM", 2)
          case 'y' => ("yy", 2);   case 'Y' => ("yyyy", 2)
          case 'j' => ("DDD", 2)
          case 'h' => ("hh", 2);   case 'H' => ("HH", 2)
          case 'M' => ("mm", 2);   case 'S' => ("ss", 2)
          case '%' => ("%", 2)
          case c   => (c.toString, 2)
        }
        sb.append(tok); i += consumed
      } else { sb.append(fmt.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** `dd/mm/yyyy`-style: runs of d stay, runs of m become M (3+ = textual
    * month MMM), y stays. Non-letter separators pass through. */
  private def lowercasePattern(fmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == 'm' || c == 'M') {
        var j = i
        while (j < fmt.length && (fmt.charAt(j) == 'm' || fmt.charAt(j) == 'M')) j += 1
        sb.append("M" * (j - i)); i = j
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Does a translated pattern carry a two-digit year (`yy` not `yyyy`)?
    * Those need Ruby's strptime windowing applied after parsing. */
  def twoDigitYear(javaFmt: String): Boolean =
    "(?<!y)yy(?!y)".r.findFirstIn(javaFmt).isDefined

  /** Translate a Ruby `gsub` replacement string into Java
    * `Matcher.appendReplacement` syntax (what both `String#replaceAll` and
    * Spark's `regexp_replace` consume), so the compiled and interpreted
    * replace paths share one semantics (`mapper.rb:64` `value.gsub!`):
    * `\1`…`\9` → `$1`…, `\0`/`\&` → `$0`, `\k<name>` → `${name}`,
    * `\\` → literal backslash; literal `$` and unknown `\x` escapes are
    * quoted so they can never be misread as Java group references.
    */
  def replacement(ruby: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < ruby.length) {
      val c = ruby.charAt(i)
      if (c == '\\') {
        if (i + 1 >= ruby.length) { sb.append("\\\\"); i += 1 } // dangling \ = literal
        else {
          val n = ruby.charAt(i + 1)
          if (n.isDigit) { sb.append('$').append(n); i += 2 }
          else if (n == '&') { sb.append("$0"); i += 2 }
          else if (n == '\\') { sb.append("\\\\"); i += 2 }
          else if (n == 'k' && i + 2 < ruby.length && ruby.charAt(i + 2) == '<' &&
                   ruby.indexOf('>', i + 3) > 0) {
            val end = ruby.indexOf('>', i + 3)
            sb.append("${").append(ruby.substring(i + 3, end)).append('}')
            i = end + 1
          } else {
            // Ruby keeps unknown escapes verbatim (backslash + char)
            sb.append("\\\\").append(if (n == '$') "\\$" else n.toString)
            i += 2
          }
        }
      } else if (c == '$') { sb.append("\\$"); i += 1 }
      else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Translate a Ruby regex source (possibly from a `!ruby/regexp /…/flags`
    * YAML scalar) into a Java regex string. Ruby and Java syntax overlap for
    * everything the reference's mappings use; the work is unwrapping the
    * literal and mapping flags to inline modifiers.
    */
  def regex(src: String): String = {
    val RubyLit = "(?s)^/(.*)/([imx]*)$".r
    val translated = src match {
      case RubyLit(body, flags) =>
        val mods = flags.filter("imx".contains(_))
        if (mods.nonEmpty) s"(?$mods)$body" else body
      case other => other
    }
    // Ruby-only character classes Java lacks: \h hex digit, \H non-hex.
    translated
      .replace("\\h", "[0-9a-fA-F]")
      .replace("\\H", "[^0-9a-fA-F]")
  }
}
