package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar expression layer: the per-value string/regex/math/conditional
  * operators of the reference pipeline (SURVEY.md §2.4, X1-X15), expressed as
  * pure `Column` functions over built-in Catalyst expressions — no UDFs, so
  * everything stays inside whole-stage codegen and Catalyst can push/prune
  * around them.
  *
  * All parsers are total (never throw, bad input → null) and ANSI-safe: every
  * string→number cast is guarded by a regex branch or goes through an
  * extraction that guarantees castability, because Spark 4 runs with
  * `spark.sql.ansi.enabled=true` by default.
  *
  * Reference: challenge.py:107-219 (regex chain), challenge.py:125-155
  * (parse_dollars), challenge.py:182-199 (dates, running time).
  */
object Expressions {

  // ---- Money grammar (challenge.py:120-121) --------------------------------
  /** `$###.# million` / `$###.# billion` (abbreviated "millon"/"billon" ok). */
  val formOne: String = """\$\s*\d+\.?\d*\s*[mb]illi?on"""
  /** `$###,###,###` comma/dot-grouped absolute, not followed by " million". */
  val formTwo: String = """\$\s*\d{1,3}(?:[,\.]\d{3})+(?!\s[mb]illion)"""

  /** X3 — collapse "$10–15 million" ranges to the upper bound "$15 million".
    * challenge.py:119,167. Hyphen/en-dash/em-dash, lookahead keeps e.g.
    * "$10-million" intact.
    */
  def collapseMoneyRange(c: Column): Column =
    regexp_replace(c, """\$.*[-—–](?![a-z])""", "\\$")

  /** X4 — strip `[1]`-style citation footnotes. challenge.py:169. */
  def stripCitations(c: Column): Column =
    regexp_replace(c, """\[\d+\]\s*""", "")

  /** X6 — extract the first money form (either grammar), case-insensitive.
    * challenge.py:120-123,157,174. No match → empty string (pandas → NaN;
    * callers null it via parseDollars).
    */
  def extractMoney(c: Column): Column =
    regexp_extract(c, "(?i)(" + formOne + "|" + formTwo + ")", 1)

  /** X7 — parse_dollars (challenge.py:125-155): 3-branch currency parser.
    *   `$###.# million` → value × 1e6
    *   `$###.# billion` → value × 1e9
    *   `$###,###,###`   → strip $/, and parse
    *   anything else    → null
    * The numeric core is re-extracted with `\d+\.?\d*` so the cast can never
    * fail (ANSI-safe), faithful to the reference's re.sub char-class strip.
    */
  def parseDollars(c: Column): Column = {
    val num = regexp_extract(c, """(\d+\.?\d*)""", 1).cast("double")
    // comma-stripped like the reference; the residue can still be uncastable
    // when dots were group separators ("$1.234.567" → "1.234.567", where the
    // reference's float() raises), so the cast is gated on a numeric shape —
    // un-castable residue → null, keeping the branch total under ANSI mode
    val absStr = regexp_replace(
      regexp_extract(c, """([\d,\.]+)""", 1), """[,]""", "")
    val absolute = when(absStr.rlike("""^\d+(\.\d+)?$"""),
      absStr.cast("double")).otherwise(lit(null).cast("double"))
    when(c.rlike("""(?i)^\$\s*\d+\.?\d*\s*milli?on"""), num * 1e6)
      .when(c.rlike("""(?i)^\$\s*\d+\.?\d*\s*billi?on"""), num * 1e9)
      .when(c.rlike("""^\$\s*\d{1,3}(?:[,\.]\d{3})+(?!\s[mb]illi?on)"""), absolute)
      .otherwise(lit(null).cast("double"))
  }

  /** X2 — IMDb id capture: first `tt` + 7 digits; no match → null (pandas
    * str.extract yields NaN, unlike Spark's "" — normalize). challenge.py:107.
    */
  def extractImdbId(c: Column): Column = {
    val ex = regexp_extract(c, """(tt\d{7})""", 1)
    when(ex === "", lit(null)).otherwise(ex)
  }

  // ---- Date grammar (challenge.py:182-189) ---------------------------------
  val dateFormOne: String = """[A-Z][a-z]+\s\d{1,2},\s\d{4}""" // January 1, 2000
  val dateFormTwo: String = """\d{4}.[01]\d.[0123]\d"""        // 2000-01-01
  val dateFormThree: String = """[A-Z][a-z]+\s\d{4}"""         // January 2000
  val dateFormFour: String = """\d{4}"""                       // 2000

  /** X8 — extract the first of the four date shapes. */
  def extractDate(c: Column): Column =
    regexp_extract(
      c, s"($dateFormOne|$dateFormTwo|$dateFormThree|$dateFormFour)", 1)

  /** X13 — pandas to_datetime(infer) replaced by an explicit format cascade
    * over the four shapes. Each format is guarded by a cheap shape regex so
    * only the matching parser runs (a failed try_to_timestamp is
    * exception-driven internally — an order of magnitude slower than an
    * rlike miss); the final try_to_timestamp keeps the whole thing total
    * (unparseable → null, ANSI-safe).
    */
  def parseDateCascade(c: Column): Column =
    when(c.rlike("^[A-Za-z]+ \\d{1,2}, \\d{4}$"),
      try_to_timestamp(c, lit("MMMM d, yyyy")))
      .when(c.rlike("^\\d{4}-\\d{2}-\\d{2}$"),
        try_to_timestamp(c, lit("yyyy-MM-dd")))
      .when(c.rlike("^[A-Za-z]+ \\d{4}$"),
        try_to_timestamp(c, lit("MMMM yyyy")))
      .when(c.rlike("^\\d{4}$"), try_to_timestamp(c, lit("yyyy")))
      .otherwise(lit(null).cast("timestamp"))

  // ---- Running time (challenge.py:193-199) ---------------------------------
  val runningTimePattern: String = """(\d+)\s*ho?u?r?s?\s*(\d*)|(\d+)\s*m"""

  /** X9+X10 — "1 hour 42 minutes" / "102 minutes" / "2 h 15 m" / "90 m" →
    * total minutes. Three capture groups (hours, minutes, pure-minutes); rows
    * with a pure-minutes match use it, else h*60+m. Empty captures count as 0
    * (pandas fillna(0) on the extracted frame, challenge.py:197).
    */
  def parseRunningTime(c: Column): Column = {
    def g(i: Int): Column = {
      val x = regexp_extract(c, runningTimePattern, i)
      when(x === "" || x.isNull, lit(0d)).otherwise(x.cast("double"))
    }
    val total = when(g(3) === 0d, g(1) * 60 + g(2)).otherwise(g(3))
    // no match at all → null, like pandas dropna-on-extract
    when(regexp_extract(c, runningTimePattern, 0) === "", lit(null).cast("double"))
      .otherwise(total)
  }

  /** X1 — flatten a polymorphic string-or-array value into one string: lists
    * are joined with " " (challenge.py:117,165,180,193). Input convention for
    * semi-structured columns: raw JSON text, arrays start with '['.
    */
  def flattenListString(c: Column): Column =
    when(c.isNull, lit(null))
      .when(c.startsWith("["),
        array_join(from_json(c,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType)), " "))
      .otherwise(c)

  /** X11 — coalesce-if-zero (fill_missing_kaggle_data, challenge.py:244-256):
    * take `wiki` only when `kaggle` == 0 — NOT when null; NaN/null kaggle
    * values stay as-is (quirk Q7 in SURVEY §2.8).
    */
  def coalesceIfZero(kaggle: Column, wiki: Column): Column =
    when(kaggle === 0, wiki).otherwise(kaggle)
}
