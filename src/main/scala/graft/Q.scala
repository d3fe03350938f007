package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine query: a Spark DataFrame program plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle query.
  *
  * Oracle-determinism rules used across the suite (so a value-hash compare
  * between Spark and DuckDB is bit-exact):
  *  - sums/averages over DOUBLE go through DECIMAL(18,4) (exact; no double
  *    is exactly on a decimal midpoint, so the cast is unambiguous in both
  *    engines), final result cast back to DOUBLE (correctly-rounded in both);
  *  - a decimal whose integer significand can exceed 2^53 (e.g. a SUM of
  *    scale-8 products) is renormalized to DECIMAL(18,4) BEFORE the double
  *    cast: DuckDB converts wide decimals hugeint-first and double-rounds,
  *    while an int64-significand decimal divides exactly once in both
  *    engines (found as a real 1-ulp mismatch on q03 at sf0.1);
  *  - ratios of exact integers use DOUBLE division directly (correctly
  *    rounded, identical in both engines); decimal division is NOT safe
  *    cross-engine — each engine rounds at its own result scale first;
  *  - every query is totally ordered (explicit tie-breakers);
  *  - only correctly-rounded IEEE ops (+,-,*,/,sqrt) on identical inputs in
  *    per-row float math — no libm transcendentals;
  *  - vector math is quantized to integers first (order-independent exact
  *    accumulation), see VectorFunctions;
  *  - iterative centroid updates (k-means Lloyd rounds) round components
  *    with TRUNCATING integer division (`sum / n` on Longs == DuckDB `//`,
  *    both toward zero — verified empirically, -7//2 = -3 in both), so
  *    trained centroids are bit-identical across engines;
  *  - hashing across engines uses md5 (identical in both).
  */
final case class Q(
    name: String,
    oracle: Option[String])(
    val run: (SparkSession, String) => DataFrame)

object Q {
  def apply(name: String, oracle: String)(
      run: (SparkSession, String) => DataFrame): Q =
    Q(name, Some(materializeSharedCtes(oracle)))(run)

  // group 1 = a `WINDOW ` prefix when the match is a named-window
  // definition (`WINDOW w AS (...)`) rather than a CTE — those must
  // never take a MATERIALIZED hint. Oracle convention in this repo is a
  // single named window per query (no comma-separated window lists).
  private val CteDef = """\b(WINDOW\s+)?([A-Za-z_]\w*)(\s+[Aa][Ss]\s+)\(""".r

  /** DuckDB INLINES (re-executes) every non-`MATERIALIZED` CTE at each
    * reference site. An oracle whose candidate CTE is referenced 47
    * times therefore re-runs its whole upstream chain 47 times — in
    * round 15 that made three oracles cost 840 s of a 997 s total and
    * blew the driver's ~600 s compare budget, zeroing the round's
    * correctness artifact (CORRECTNESS_r15.json = {}). Measured fix:
    * q303 575.8 s → 0.2 s, q293 218.8 s → 0.6 s, identical results.
    *
    * This rewrites `name AS (` → `name AS MATERIALIZED (` for every CTE
    * whose name occurs at least twice more in the query text. The count
    * is a conservative word-boundary scan (an alias collision can only
    * over-materialize — a pure DuckDB planner hint, never a semantics
    * change). Applied at the ONE point every oracle registers, so no
    * future oracle can re-introduce the failure mode. */
  def materializeSharedCtes(sql: String): String = {
    val defs = CteDef.findAllMatchIn(sql)
      .filter(_.group(1) == null).map(_.group(2)).toSeq
    // a name defined in MORE than one scope (nested WITH) must stay
    // inlined: DuckDB binds materialized CTEs by name and rejects the
    // duplicate ("Duplicate alias" — hit by q275's two `p` scopes)
    val multiDefined = defs.groupBy(identity).collect {
      case (n, g) if g.size > 1 => n
    }.toSet
    val shared = defs.distinct.filter { name =>
      !multiDefined(name) &&
        ("""\b""" + java.util.regex.Pattern.quote(name) + """\b""").r
          .findAllMatchIn(sql).size >= 3 // definition + 2 references
    }.toSet
    if (shared.isEmpty) sql
    else CteDef.replaceAllIn(sql, m =>
      if (m.group(1) == null && shared(m.group(2)))
        java.util.regex.Matcher.quoteReplacement(
          m.group(2) + m.group(3) + "MATERIALIZED (")
      else java.util.regex.Matcher.quoteReplacement(m.matched))
  }
}
