package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY.md §2.11 / §7.4).
  *
  * Design rule: every transform is written against a plain DataFrame so the
  * SAME function runs in batch (oracle-checkable, see WindowingOps) and
  * behind `readStream` (incremental with watermark + state). That is the
  * Spark-native generalization of the reference's incremental-but-batch
  * iterparse pipeline (py:179–186): stateless shape/clean transforms are
  * streaming-safe as-is.
  */
object EventStreams {

  /** Tumbling-window counts + exact value sum. Batch and streaming. */
  def tumbling(events: DataFrame, dur: String): DataFrame =
    events
      .groupBy(window(col("ts"), dur), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_v"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("sum_v"))

  /** Sliding-window counts (each event lands in windowDur/slideDur windows). */
  def sliding(events: DataFrame, windowDur: String, slideDur: String): DataFrame =
    events
      .groupBy(window(col("ts"), windowDur, slideDur))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_v"))
      .select(col("window.start").as("ws"), col("n"), col("sum_v"))

  /** Session windows per user with a fixed inactivity gap. */
  def sessions(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** File-source stream over any parquet table (schema from the batch-side
    * relation cache, `Tables.parquet`: no inference job once the path has
    * been resolved in this session). `maxFilesPerTrigger` bounds
    * per-micro-batch work at scale. */
  def readParquetStream(spark: SparkSession, dir: String): DataFrame = {
    // events fixtures carry TIMESTAMP(NANOS) — see Tables.t
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // FileStreamSource requires a directory or glob; a single-file fixture
    // path is wrapped in a {name} glob so its parent becomes the basePath.
    // Glob metacharacters in the file name are escaped, otherwise a name
    // like part-[0].parquet silently matches nothing (or the wrong files).
    val f = new java.io.File(dir)
    val path =
      if (f.isFile) s"${f.getParent}/{${graft.Tables.escapeGlob(f.getName)}}"
      else dir
    val schema = graft.Tables.parquet(spark, dir).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(path)
  }

  /** File-source stream of event parquet (same schema as the batch table). */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    // same ts normalization Tables.t applies to the batch table, so
    // watermarks / event-time windows see a real TimestampType column
    // (watermarks reject TIMESTAMP_NTZ outright)
    graft.Tables.normalizeTs(readParquetStream(spark, dir))

  /** Watermarked streaming tumbling aggregation: drops events later than
    * the watermark; append-mode emits a window only once it is final. */
  def tumblingWithWatermark(stream: DataFrame, dur: String, watermark: String): DataFrame =
    tumbling(stream.withWatermark("ts", watermark), dur)

  /** Stream-stream interval join: purchases joined to the clicks of the
    * same user within the preceding `window`. Both sides watermarked so
    * join state is bounded — the required shape for unbounded stream-stream
    * joins (state eviction needs both the watermark and the time-range
    * predicate). Works identically on batch frames. */
  def purchaseClickJoin(purchases: DataFrame, clicks: DataFrame,
                        watermark: String, window: String): DataFrame = {
    val p = purchases.withWatermark("ts", watermark)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    val c = clicks.withWatermark("ts", watermark)
      .select(col("event_id").as("click_id"), col("user_id").as("c_user_id"),
        col("ts").as("click_ts"))
    p.join(c,
      col("user_id") === col("c_user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $window"))
      .select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")
  }

  // ---- custom state: typed sessionization via flatMapGroupsWithState ----

  // ts flows through java.time.Instant and MICROSECOND longs end to end:
  // java.sql.Timestamp.getTime truncates to milliseconds, which silently
  // moved micro-precise event times (and thus session starts) off the
  // batch table's values — caught by the q143 oracle hash.
  case class Event(user_id: Long, ts: java.time.Instant, event_type: String)
  case class SessionState(start: Long, last: Long, n: Int)
  case class SessionOut(user_id: Long, start: java.time.Instant,
                        durationMs: Long, n_events: Int)

  private def micros(i: java.time.Instant): Long =
    i.getEpochSecond * 1000000L + i.getNano / 1000
  private def instant(us: Long): java.time.Instant =
    java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000)

  /** Custom stateful sessionization (KeyValueGroupedDataset +
    * flatMapGroupsWithState). Demonstrates the arbitrary-state API; the
    * declarative `sessions` above is preferred where the gap semantics
    * suffice.
    *
    * Scale shape: events are merged INCREMENTALLY into a set of session
    * intervals (ordered map start → (last, n)); each event either joins the
    * interval it touches, opens a new one, or glues adjacent intervals
    * together. Memory per key is O(distinct sessions) — which is the size
    * of the group's OUTPUT — never O(events): a hot key (a bot with 10⁸
    * events in a handful of sessions) holds a handful of map entries where
    * the previous implementation buffered and sorted the entire history in
    * the task. Interval merging is also order-independent, so no per-group
    * sort is needed at all.
    *
    * Streaming: every micro-batch emits the key's current sessions; only
    * the latest interval stays in state to seed the next batch (matching
    * the single-open-session semantics of the original formulation). */
  def statefulSessions(spark: SparkSession, events: DataFrame,
                       gapMs: Long): DataFrame = {
    require(gapMs > 0, s"gapMs=$gapMs must be positive")
    import spark.implicits._
    val gapUs = gapMs * 1000L
    events.select(col("user_id"), col("ts"), col("event_type")).as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          // start -> (last, n) in MICROS; intervals disjoint, > gapUs apart
          val iv = new java.util.TreeMap[Long, (Long, Int)]()
          state.getOption.foreach(s => iv.put(s.start, (s.last, s.n)))
          for (e <- it) {
            val t = micros(e.ts)
            // join the predecessor interval (greatest start <= t) if the
            // gap from its end is within the threshold, else open a new
            // one. INCLUSIVE comparison: session_window merges touching
            // windows ([a, b+gap) then an event at exactly b+gap joins),
            // and the typed form must agree with the declarative one —
            // asserted on random boundary-heavy data in StreamingSpec.
            val pred = iv.floorEntry(t)
            val start =
              if (pred != null && t - pred.getValue._1 <= gapUs) {
                val (last, n) = pred.getValue
                iv.put(pred.getKey, (math.max(last, t), n + 1))
                pred.getKey
              } else { iv.put(t, (t, 1)); t }
            // glue successors now within reach (t may bridge two intervals)
            var succ = iv.higherEntry(start)
            while (succ != null && succ.getKey - iv.get(start)._1 <= gapUs) {
              val (l1, n1) = iv.get(start)
              val (l2, n2) = succ.getValue
              iv.put(start, (math.max(l1, l2), n1 + n2))
              iv.remove(succ.getKey)
              succ = iv.higherEntry(start)
            }
          }
          if (!iv.isEmpty) {
            val latest = iv.lastEntry()
            state.update(SessionState(latest.getKey,
              latest.getValue._1, latest.getValue._2))
          }
          import scala.jdk.CollectionConverters._
          iv.entrySet().iterator().asScala.map { e =>
            // durationMs truncates the exact micro difference (both ends
            // micro-precise; the q143 oracle mirrors with epoch_us // 1000)
            SessionOut(uid, instant(e.getKey),
              (e.getValue._1 - e.getKey) / 1000L, e.getValue._2)
          }
      }.toDF()
  }
}
