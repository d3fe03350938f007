package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (most-recent-prior) join — the time-series operator the reference
  * lacks but any event pipeline needs (SURVEY.md §2.8 notes no theta/as-of
  * joins exist there; this is the composed-from-builtins path, preference
  * (a) of the custom-operator ladder).
  *
  * Implementation: union both sides tagged, then one window pass per key
  * carrying the last-seen right payload forward (`last(_, ignoreNulls)` over
  * rows unbounded-preceding..current). Exactly ONE shuffle (the window's
  * hash partition by key) regardless of input sizes — a naive
  * `join + filter + row_number` would shuffle both sides AND explode the
  * intermediate pair count; a range join would need a broadcast. This is
  * the standard scalable as-of shape: at 100 TB both sides hash-partition
  * by key and sort within partition, nothing materializes pairwise.
  *
  * Ties (right.ts == left.ts) match, mirroring ASOF JOIN `>=` semantics:
  * the right side sorts before the left at equal timestamps.
  */
object AsOfJoin {

  /** For each `left` row, attach the latest `right` row with
    * right.tsR <= left.tsL on equal keys; left rows with no prior right row
    * keep null payload columns (left-join semantics).
    *
    * @param rightPayload right columns to carry (renamed as given)
    */
  def asOf(left: DataFrame, right: DataFrame,
           keyL: String, keyR: String, tsL: String, tsR: String,
           rightPayload: Seq[(String, String)]): DataFrame = {
    val payloadStruct = struct(rightPayload.map { case (c, a) => col(c).as(a) }: _*)
    // A NULL right timestamp can never satisfy ts_r <= ts_l under ASOF
    // semantics, but the window ORDER BY sorts NULLS FIRST — an unfiltered
    // null-ts row would sort before everything and leak its payload into
    // every left row. Dropping them keeps this form consistent with
    // AsOfMergeJoinExec (which skips null-ts right rows) and SQL ASOF.
    val r = right.filter(col(tsR).isNotNull).select(
      col(keyR).as("_k"), col(tsR).as("_t"), lit(0).as("_side"),
      payloadStruct.as("_p"))
    val payloadType = r.schema("_p").dataType
    val leftCols = left.columns.toSeq
    val l = left.select(
      Seq(col(keyL).as("_k"), col(tsL).as("_t"), lit(1).as("_side"),
        lit(null).cast(payloadType).as("_p")) ++ leftCols.map(col): _*)
    val rAligned = r.select(
      Seq(col("_k"), col("_t"), col("_side"), col("_p")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    // _p as the final sort key: among right rows with IDENTICAL (key, ts),
    // the retained payload is the struct-max — deterministic regardless of
    // shuffle order (and consistent with AsOfMergeJoinExec's tie-break)
    val w = Window.partitionBy("_k").orderBy(col("_t"), col("_side"), col("_p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.union(rAligned)
      .withColumn("_match", last(col("_p"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .select(leftCols.map(col) ++
        rightPayload.map { case (_, a) => col(s"_match.$a").as(a) }: _*)
  }

  /** FORWARD as-of: for each `left` row, the EARLIEST `right` row with
    * right.tsR >= left.tsL on equal keys (SQL `ASOF ... ON l.ts <= r.ts`).
    * The mirror of [[asOf]] — same single-shuffle union+window shape, the
    * frame flipped to current..unbounded-FOLLOWING with `first(_,
    * ignoreNulls)`; at equal timestamps the left row sorts BEFORE the
    * right so a same-instant right row matches (>= semantics). Among
    * right rows with identical (key, ts) the struct-MIN payload wins
    * (ascending `_p` in the order; the deterministic mirror of [[asOf]]'s
    * struct-max). The next-event attribution shape: "first click AFTER
    * the impression". */
  def asOfForward(left: DataFrame, right: DataFrame,
                  keyL: String, keyR: String, tsL: String, tsR: String,
                  rightPayload: Seq[(String, String)]): DataFrame = {
    val payloadStruct = struct(rightPayload.map { case (c, a) => col(c).as(a) }: _*)
    // null-key right rows can match nothing under SQL equality — and
    // unlike the backward form, a null left TIMESTAMP here sorts NULLS
    // FIRST into a frame that covers the whole partition, so both null
    // cases are masked explicitly below (ASOF `l.ts <= r.ts` yields NULL
    // payload for them)
    val r = right.filter(col(tsR).isNotNull && col(keyR).isNotNull).select(
      col(keyR).as("_k"), col(tsR).as("_t"), lit(1).as("_side"),
      payloadStruct.as("_p"))
    val payloadType = r.schema("_p").dataType
    val leftCols = left.columns.toSeq
    val l = left.select(
      Seq(col(keyL).as("_k"), col(tsL).as("_t"), lit(0).as("_side"),
        lit(null).cast(payloadType).as("_p")) ++ leftCols.map(col): _*)
    val rAligned = r.select(
      Seq(col("_k"), col("_t"), col("_side"), col("_p")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val w = Window.partitionBy("_k").orderBy(col("_t"), col("_side"), col("_p"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    l.union(rAligned)
      .withColumn("_match",
        when(col("_k").isNull || col("_t").isNull,
          lit(null).cast(payloadType))
          .otherwise(first(col("_p"), ignoreNulls = true).over(w)))
      .filter(col("_side") === 0)
      .select(leftCols.map(col) ++
        rightPayload.map { case (_, a) => col(s"_match.$a").as(a) }: _*)
  }

  /** Same semantics on the custom PHYSICAL operator (SURVEY §7.3 rung (c)):
    * [[graft.plans.AsOfJoinNode]] plans to
    * [[graft.plans.AsOfMergeJoinExec]] via the injected
    * [[graft.plans.AsOfJoinStrategy]] — a streamed merge with a single
    * forward right-cursor per partition instead of a window buffer over
    * the unioned rows. Key/ts columns must be integral/timestamp. */
  def asOfMerge(left: DataFrame, right: DataFrame,
                keyL: String, keyR: String, tsL: String, tsR: String,
                rightPayload: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Project
    graft.plans.GraftExtensions.install(left.sparkSession)
    val lp = left.queryExecution.analyzed
    val rp0 = right.queryExecution.analyzed
    def attr(out: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
             n: String) =
      out.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no column $n in ${out.map(_.name)}"))
    // All renaming happens INSIDE a right-side Project: (a) fresh attribute
    // ids so the two sides never collide when they derive from the same
    // base table, (b) payload columns take their output names here, because
    // the analyzer's CleanupAliases strips Alias nodes held by non-Project
    // operators — the custom node must carry bare attributes only.
    val pay = rightPayload.map { case (c, a) => Alias(attr(rp0.output, c), a)() }
    val kR = Alias(attr(rp0.output, keyR), "_graft_kr")()
    val tR = Alias(attr(rp0.output, tsR), "_graft_tr")()
    val rp = Project(pay ++ Seq(kR, tR), rp0)
    org.apache.spark.sql.graftbridge.PlanBridge.ofRows(left.sparkSession,
      graft.plans.AsOfJoinNode(lp, rp,
        attr(lp.output, keyL), kR.toAttribute,
        attr(lp.output, tsL), tR.toAttribute,
        pay.map(_.toAttribute)))
  }
}
