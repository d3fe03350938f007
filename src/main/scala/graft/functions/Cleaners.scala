package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's data-cleaning layer (SURVEY.md §2.3), re-expressed as
  * pure Catalyst expression chains — no UDFs, fully codegen'd, streaming-safe.
  *
  * Semantics are pinned to the reference's *actual* behavior:
  *  - T1 key split:   amsterdam_map_data_wrangling.py:87,117–126,165–172
  *  - T2 postcode:    amsterdam_map_data_wrangling.py:128–129 (unconditional)
  *  - T3 phone:       amsterdam_map_data_wrangling.py:131–146
  */
object Cleaners {

  /** py:87 `LOWER_COLON` — `re.search` semantics (unanchored at the end),
    * which `rlike` reproduces exactly. */
  val LowerColon = "^([a-z]|_)+:([a-z]|_)+"

  /** T1 (py:117–126) — a tag key splits at its FIRST colon when it
    * matches LOWER_COLON. The type is the part before that colon;
    * non-matching keys get type='regular'. */
  def keyType(k: Column): Column =
    when(k.rlike(LowerColon), substring_index(k, ":", 1)).otherwise(lit("regular"))

  /** T1 key: the part after the first colon (extra colons stay in the
    * key); non-matching keys stay whole. */
  def keyTail(k: Column): Column =
    when(k.rlike(LowerColon), k.substr(instr(k, ":") + 1, length(k)))
      .otherwise(k)

  /** py:88 `PROBLEMCHARS` — compiled by the reference but NEVER applied
    * (py:100 passes it, the body ignores it; no tag is ever dropped). The
    * documented-but-unenforced rule is exposed here as an opt-in predicate
    * (SURVEY.md §2.3: "replicate the actual behavior by default; expose the
    * documented drop rule as an opt-in flag"). */
  val ProblemChars = "[=\\+/&<>;'\"\\?%#$@,\\. \\t\\r\\n]"

  /** True when a tag key contains a problematic character (re.search
    * semantics — anywhere in the key). */
  def hasProblemChars(k: Column): Column = k.rlike(ProblemChars)

  /** T2 — Dutch postcode normalization, py:129:
    * `v.lstrip()[0:4] + " " + v.rstrip()[-2:]` — UNCONDITIONAL, idempotent
    * on already-correct `NNNN AA`. Strips ALL whitespace — (?U) makes \s
    * match Unicode whitespace (NBSP etc.) exactly like Python's
    * lstrip/rstrip; Spark's ltrim/rtrim are space-only and plain Java \s
    * is ASCII-only, both of which would diverge from the reference on
    * tab/newline/NBSP padding. */
  def nlPostcode(v: Column): Column =
    concat(
      substring(regexp_replace(v, "(?U)^\\s+", ""), 1, 4), lit(" "),
      substring(regexp_replace(v, "(?U)\\s+$", ""), -2, 2))

  /** T3 — Dutch phone normalization, py:131–146: strip non-digits, then case
    * on digit count. All seven branches of the reference, same order. */
  def nlPhone(v: Column): Column = {
    val d = regexp_replace(v, "[^0-9]", "")
    val n = length(d)
    when(n === 11 || n === 9, concat(lit("+"), d))
      .when(n === 12, concat(lit("+"), substring(d, 1, 2), substring(d, 4, Int.MaxValue)))
      .when(n === 10 || n === 8, concat(lit("+31"), substring(d, 2, Int.MaxValue)))
      .when(n === 13, concat(lit("+"), substring(d, 3, Int.MaxValue)))
      .when(n === 7, concat(lit("+31"), d))
      .otherwise(d)
  }

  /** Register the cleaners as SQL-callable functions (SURVEY.md §2.12). */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("nl_postcode", (v: String) => {
      if (v == null) null
      else {
        val l = v.replaceAll("(?U)^\\s+", ""); val r = v.replaceAll("(?U)\\s+$", "")
        l.substring(0, math.min(4, l.length)) + " " +
          r.substring(math.max(0, r.length - 2))
      }
    })
    spark.udf.register("nl_phone", (v: String) => {
      if (v == null) null
      else {
        val d = v.replaceAll("[^0-9]", "")
        d.length match {
          case 11 | 9 => "+" + d
          case 12     => "+" + d.substring(0, 2) + d.substring(3)
          case 10 | 8 => "+31" + d.substring(1)
          case 13     => "+" + d.substring(2)
          case 7      => "+31" + d
          case _      => d
        }
      }
    })
  }
}
