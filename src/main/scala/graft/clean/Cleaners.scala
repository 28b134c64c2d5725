package graft.clean

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's inbuilt cleaning methods (ndr_support `String#clean`,
  * exercised via `clean:` field mappings — reference
  * `lib/ndr_import/mapper.rb:213-217`, semantics pinned by
  * `docs/inbuilt-cleaning-methods.md` and `test/mapper_test.rb:383-412`).
  *
  * Each cleaner exists twice, deliberately:
  *   - `Column => Column` built from built-in SQL functions only
  *     (regexp_replace / split / filter / transform / array_join), so the
  *     whole chain stays inside whole-stage codegen and never leaves
  *     Tungsten rows — this is the production path.
  *   - a pure `String => String` mirror used by property tests to pin the
  *     two implementations against each other and against the reference's
  *     documented tables.
  *
  * Cleaners are only ever applied to non-blank input (the mapper returns
  * null for blank input before cleaning — `mapper.rb:214`); the compiler
  * guards that, so these functions may assume non-null input.
  */
object Cleaners {

  /** All cleaner names, as they appear in YAML `clean:` entries. */
  val names: Set[String] = Set(
    "nhsnumber", "postcode", "lpi", "sex", "name", "surname", "forename",
    "previoussurname", "ethniccategory", "code", "icd", "code_icd",
    "code_opcs", "hospitalnumber", "roman5", "tnmcategory", "upcase",
    "strip")

  /** Look up a cleaner by name (":nhsnumber" / "nhsnumber" both accepted). */
  def apply(name: String): Column => Column = forName(name)

  def forName(rawName: String): Column => Column = {
    val name = rawName.stripPrefix(":")
    name match {
      case "nhsnumber"                                      => nhsnumber
      case "postcode" | "get_postcode"                      => postcode
      case "lpi"                                            => lpi
      case "sex"                                            => sex
      case "name" | "surname" | "forename" |
           "previoussurname"                                => cleanName
      case "ethniccategory"                                 => ethniccategory
      case "code"                                           => code
      case "icd"                                            => icd
      case "code_icd"                                       => codeIcd
      case "code_opcs"                                      => codeOpcs
      case "hospitalnumber"                                 => hospitalnumber
      case "roman5"                                         => roman5
      case "tnmcategory"                                    => tnmcategory
      case "upcase"                                         => (c: Column) => upper(c)
      case "strip"                                          => RubyTranslate.strip(_: Column)
      case _ => (c: Column) => c // unknown cleaners are passthrough in ndr_support
    }
  }

  def scalaForName(rawName: String): String => String = {
    val name = rawName.stripPrefix(":")
    name match {
      case "nhsnumber"                     => S.nhsnumber
      case "postcode" | "get_postcode"     => S.postcode
      case "lpi"                           => S.lpi
      case "sex"                           => S.sex
      case "name" | "surname" | "forename" |
           "previoussurname"               => S.name
      case "ethniccategory"                => S.ethniccategory
      case "code"                          => S.code
      case "icd"                           => S.icd
      case "code_icd"                      => S.codeIcd
      case "code_opcs"                     => S.codeOpcs
      case "hospitalnumber"                => S.hospitalnumber
      case "roman5"                        => S.roman5
      case "tnmcategory"                   => S.tnmcategory
      case "upcase"                        => _.toUpperCase
      case "strip"                         => RubyTranslate.strip(_: String)
      case _                               => identity
    }
  }

  // ---------------------------------------------------------------- column

  /** :nhsnumber — strip all non-digits (docs table: "  123-456-7890" → "1234567890"). */
  val nhsnumber: Column => Column = c => regexp_replace(c, "[^0-9]", "")

  /** :lpi — upcase then strip non-alphanumerics. */
  val lpi: Column => Column = c => regexp_replace(upper(c), "[^A-Z0-9]", "")

  /** :hospitalnumber — drop the final character iff it is not a digit. */
  val hospitalnumber: Column => Column = c => regexp_replace(c, "[^0-9]$", "")

  /** :sex — '1'/'M'/'MALE' → '1'; '2'/'F'/'FEMALE' → '2'; anything else → '0'. */
  val sex: Column => Column = c =>
    when(upper(c).isin("1", "M", "MALE"), "1")
      .when(upper(c).isin("2", "F", "FEMALE"), "2")
      .otherwise("0")

  /** :name — upcase; drop '.'; ','/';' → ' '; '`' → '\''; squeeze 2+ spaces; Ruby strip.
    * Substitution order matches ndr_support (docs table ",,, Potato" → "POTATO"). */
  val cleanName: Column => Column = c =>
    RubyTranslate.strip(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(upper(c), "\\.", ""),
            "[,;]", " "),
          "`", "'"),
        "\\s{2,}", " "))

  /** :ethniccategory — legacy numeric ethnic-category codes → letter codes;
    * unknown values upcased and passed through
    * (pinned by `test/mapper_test.rb:388-393`: '1'→'M', '99'→'X', 'A'→'A',
    * 'InValiD'→'INVALID'). */
  val ethniccategory: Column => Column = c => {
    val m = typedLit(S.ethnicMap)
    coalesce(element_at(m, c), upper(c))
  }

  /** :code — split grouped codes on comma/semicolon/space, drop blanks, join ' '. */
  val code: Column => Column = c =>
    array_join(filter(split(c, "[,;\\s]"), t => t =!= ""), " ")

  /** :icd — split, strip non-alphanumerics per code, upcase, drop empties, join ' '
    * ('C34.3,R93.2,Z51.5' → 'C343 R932 Z515', `test/mapper_test.rb:395-398`). */
  val icd: Column => Column = c =>
    array_join(
      filter(
        transform(split(c, "[,;\\s]"), t => regexp_replace(upper(t), "[^A-Z0-9]", "")),
        t => t =!= ""),
      " ")

  /** :code_icd — split, upcase, drop codes with no alphanumeric content (dots kept). */
  val codeIcd: Column => Column = c =>
    array_join(
      filter(transform(split(c, "[,;\\s]"), t => upper(t)), t => t.rlike("[A-Z0-9]")),
      " ")

  /** :code_opcs — split, strip non-alphanumerics, upcase, keep only length 3-4
    * ('U212,Y973,X1' → 'U212 Y973'; '98' → ''). */
  val codeOpcs: Column => Column = c =>
    array_join(
      filter(
        transform(split(c, "[,;\\s]"), t => regexp_replace(upper(t), "[^A-Z0-9]", "")),
        t => length(t).between(3, 4)),
      " ")

  private val PostcodeRe = "^[A-Z]{1,2}[0-9R][0-9A-Z]?[0-9][A-Z]{2}$"

  /** :postcode — UK-postcode-shaped values are upcased, de-spaced and centre
    * padded to the 7-char "db" convention; everything else passes through. */
  val postcode: Column => Column = c => {
    val s = upper(regexp_replace(c, "\\s", ""))
    when(s.rlike(PostcodeRe) && length(s) === 5,
         concat(substring(s, 1, 2), lit("  "), expr_right(s, 3)))
      .when(s.rlike(PostcodeRe) && length(s) === 6,
            concat(substring(s, 1, 3), lit(" "), expr_right(s, 3)))
      .when(s.rlike(PostcodeRe), s)
      .otherwise(c)
  }

  private def expr_right(c: Column, n: Int): Column =
    substring(c, -n, n)

  /** :tnmcategory — strip one leading T/N/M (any case); lone x → 'X'; else downcase. */
  val tnmcategory: Column => Column = c => {
    val base = regexp_replace(c, "^[TNMtnm]", "")
    when(base.rlike("^[xX]$"), "X").otherwise(lower(base))
  }

  /** :roman5 — deromanise numerals 1-5 anywhere in the value
    * ('iiC' → '2C', 'IIII-B' → '4-B', 'Quick' → 'Qu1ck'). */
  val roman5: Column => Column = c =>
    Seq("IIII" -> "4", "III" -> "3", "II" -> "2", "IV" -> "4", "V" -> "5", "I" -> "1")
      .foldLeft(c) { case (acc, (pat, rep)) => regexp_replace(acc, "(?i)" + pat, rep) }

  // ----------------------------------------------------------------- scala

  /** Pure-Scala mirrors, for property tests and driver-side use. */
  object S {
    val ethnicMap: Map[String, String] = Map(
      "1" -> "M", "2" -> "N", "3" -> "H", "4" -> "J", "5" -> "K",
      "6" -> "R", "7" -> "8", "8" -> "S", "9" -> "Z", "0" -> "X", "99" -> "X")

    def nhsnumber(s: String): String = s.replaceAll("[^0-9]", "")
    def lpi(s: String): String = s.toUpperCase.replaceAll("[^A-Z0-9]", "")
    def hospitalnumber(s: String): String = s.replaceAll("[^0-9]$", "")
    def sex(s: String): String = s.toUpperCase match {
      case "1" | "M" | "MALE"   => "1"
      case "2" | "F" | "FEMALE" => "2"
      case _                    => "0"
    }
    def name(s: String): String =
      RubyTranslate.strip(s.toUpperCase
        .replaceAll("\\.", "")
        .replaceAll("[,;]", " ")
        .replaceAll("`", "'")
        .replaceAll("\\s{2,}", " "))
    def ethniccategory(s: String): String = ethnicMap.getOrElse(s, s.toUpperCase)
    private def tokens(s: String): Array[String] = s.split("[,;\\s]", -1)
    def code(s: String): String = tokens(s).filter(_.nonEmpty).mkString(" ")
    def icd(s: String): String =
      tokens(s).map(_.toUpperCase.replaceAll("[^A-Z0-9]", "")).filter(_.nonEmpty).mkString(" ")
    def codeIcd(s: String): String =
      tokens(s).map(_.toUpperCase).filter(_.matches(".*[A-Z0-9].*")).mkString(" ")
    def codeOpcs(s: String): String =
      tokens(s).map(_.toUpperCase.replaceAll("[^A-Z0-9]", ""))
        .filter(t => t.length >= 3 && t.length <= 4).mkString(" ")
    def postcode(s: String): String = {
      val c = s.replaceAll("\\s", "").toUpperCase
      if (c.matches(PostcodeRe.stripPrefix("^").stripSuffix("$"))) c.length match {
        case 5 => c.substring(0, 2) + "  " + c.substring(2)
        case 6 => c.substring(0, 3) + " " + c.substring(3)
        case _ => c
      }
      else s
    }
    def tnmcategory(s: String): String = {
      val base = s.replaceFirst("^[TNMtnm]", "")
      if (base.matches("[xX]")) "X" else base.toLowerCase
    }
    def roman5(s: String): String =
      Seq("IIII" -> "4", "III" -> "3", "II" -> "2", "IV" -> "4", "V" -> "5", "I" -> "1")
        .foldLeft(s) { case (acc, (pat, rep)) => acc.replaceAll("(?i)" + pat, rep) }
  }
}
