package graft.operators

import graft.{Q, Tables}
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._

/** Event-time windowing over `events`, oracle-checked in batch mode. The
  * SAME transform functions (EventStreams) run behind readStream with
  * watermarks — batch checking here certifies the streaming semantics,
  * since Structured Streaming windows are defined by the batch equivalence.
  *
  * Window starts are epoch-aligned, so the DuckDB oracle rebuilds them with
  * date_trunc arithmetic.
  */
object WindowingOps {

  // the memory-sink drain scaffold (fresh sink names, prior-sink
  // release, state-partition sizing, stop-in-finally) lives in the ONE
  // StreamHarness owner — round-14 verdict item 5
  private val harness = graft.streaming.StreamHarness

  val defs: Seq[Q] = Seq(

    // ---- ACTUAL streaming run of the tumbling aggregation: readStream →
    //      watermark → window agg → memory sink, complete mode (state holds
    //      every window, so the final table equals the batch result and the
    //      q45 oracle gates it hash-exact). Append mode + watermark is the
    //      unbounded-production shape; complete mode here makes the
    //      micro-batch output oracle-checkable. ----
    Q("q82_stream_tumbling",
      """SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin) { (s, d) =>
      val path = s"$d/events.parquet"
      val stream = EventStreams.readEventStream(s, path)
      val agg = EventStreams.tumblingWithWatermark(stream, "1 hour", "10 minutes")
      // state partitions sized by state volume, not core count (the
      // q151 measurement; complete-mode window state ≤ the input)
      harness.runToTable(agg, "q82_stream_sink", "complete",
          Some(graft.sources.Tuning.pathBytes(path)))
        .orderBy("ws", "event_type")
    },

    // ---- streaming exact dedup, hash-gated: the SAME event file feeds two
    //      file-source streams (genuine duplicate delivery across
    //      micro-batches); dropDuplicates on the stream must reconstruct
    //      the batch table exactly. Production uses
    //      dropDuplicatesWithinWatermark (bounded state); the unbounded
    //      form is used here because the within-watermark guarantee is
    //      deliberately weaker than the bit-exact oracle. ----
    Q("q90_stream_dedup",
      """SELECT event_id, ts, user_id, event_type, value, props
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      val path = s"$d/events.parquet"
      val stream = EventStreams.readEventStream(s, path)
        .union(EventStreams.readEventStream(s, path))
        .dropDuplicates("event_id")
      // dedup state ≈ both delivered copies (the q151 sizing stance)
      harness.runToTable(stream, "q90_stream_sink", "append",
          Some(2L * graft.sources.Tuning.pathBytes(path)))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .orderBy("event_id")
    },

    // ---- streaming ingest-time contamination guard, hash-gated: the
    //      documents file feeds a REAL file-source stream; incoming eval
    //      docs explode shingles statelessly, stream-static join against
    //      the batch-precomputed capped train-shingle set, per-doc agg in
    //      complete mode. Differs from q105 by design: the static asset is
    //      self-contained (df cap over TRAIN rows only) and the incoming
    //      side is uncapped — the shape a training pipe's front door runs,
    //      where corpus-wide eval df is unknowable at ingest. ----
    Q("q110_stream_contamination",
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, s FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(sp) - 3),
         |      i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2] || ' ' || sp[i+3] || ' ' || sp[i+4])) AS s
         |    FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents) t) u),
         |n AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id),
         |lbl AS (SELECT doc_id, s,
         |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 < 9
         |       THEN 'train' ELSE 'eval' END AS split FROM sh),
         |cap AS (SELECT GREATEST(4, count(*) // 300) AS c FROM documents),
         |tr AS (SELECT DISTINCT s FROM (
         |  SELECT s, count(*) OVER (PARTITION BY s) AS df FROM lbl
         |  WHERE split = 'train') t WHERE df <= (SELECT c FROM cap)),
         |ev AS (SELECT doc_id, s FROM lbl WHERE split = 'eval'),
         |hit AS (SELECT ev.doc_id, count(*) AS n_shared
         |        FROM ev JOIN tr ON ev.s = tr.s GROUP BY 1)
         |SELECT hit.doc_id AS doc_id, n_shared, CAST(n.ns AS BIGINT) AS ns,
         |  CAST(n_shared AS DOUBLE) / CAST(n.ns AS DOUBLE) AS frac
         |FROM hit JOIN n ON n.doc_id = hit.doc_id
         |ORDER BY hit.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.t(s, d, "documents")
      val trainSet = Dedup.trainShingleSet(
        docs.filter(Sampling.splitLabel(col("doc_id"), 1) === "train"),
        "doc_id", "text", 5,
        maxDf = math.max(4L, docs.count() / 300L).toInt)
      val stream = EventStreams.readParquetStream(s, s"$d/documents.parquet")
        .filter(Sampling.splitLabel(col("doc_id"), 1) === "eval")
      val guarded = Dedup.contaminationAgainst(stream, trainSet, "doc_id", "text", 5)
      // complete-mode per-doc agg state ≤ the incoming documents file
      harness.runToTable(guarded, "q110_stream_sink", "complete",
          Some(graft.sources.Tuning.pathBytes(s"$d/documents.parquet")))
        .orderBy("doc_id")
    },

    // ---- interval join (the stream-stream shape, batch-checked): each
    //      purchase joined to the same user's clicks in the preceding 30
    //      minutes. The SAME function runs behind readStream with both
    //      sides watermarked (AnnStreamDedupSpec) — watermark + time-range
    //      predicate is what bounds join state on unbounded streams. ----
    Q("q88_interval_join",
      """SELECT a.event_id AS purchase_id, a.user_id, a.ts AS purchase_ts,
        |  b.event_id AS click_id, b.ts AS click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') a
        |JOIN (SELECT * FROM events WHERE event_type = 'click') b
        |  ON b.user_id = a.user_id
        |  AND b.ts <= a.ts AND b.ts >= a.ts - INTERVAL 30 MINUTE
        |ORDER BY purchase_id, click_id""".stripMargin) { (s, d) =>
      val ev = Tables.t(s, d, "events")
      EventStreams.purchaseClickJoin(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "click"),
          "30 minutes", "30 minutes")
        .orderBy("purchase_id", "click_id")
    },

    // ---- ACTUAL stream-stream join run: both sides are file-source
    //      streams over the same events fixture, watermarked, joined on
    //      user + a 30-minute preceding time range (the state-bounding
    //      predicate unbounded stream-stream joins REQUIRE), appended to
    //      a memory sink. Gated by q88's batch SQL — batch ≡ streaming is
    //      the defining property of the join, and this run proves it on
    //      the real micro-batch engine, not just the batch planner. ----
    Q("q151_stream_stream_join",
      """SELECT a.event_id AS purchase_id, a.user_id, a.ts AS purchase_ts,
        |  b.event_id AS click_id, b.ts AS click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') a
        |JOIN (SELECT * FROM events WHERE event_type = 'click') b
        |  ON b.user_id = a.user_id
        |  AND b.ts <= a.ts AND b.ts >= a.ts - INTERVAL 30 MINUTE
        |ORDER BY purchase_id, click_id""".stripMargin) { (s, d) =>
      val path = s"$d/events.parquet"
      val joined = EventStreams.purchaseClickJoin(
        EventStreams.readEventStream(s, path)
          .filter(col("event_type") === "purchase"),
        EventStreams.readEventStream(s, path)
          .filter(col("event_type") === "click"),
        "30 minutes", "30 minutes")
      // state partitions sized by state volume (both sides retained for
      // the watermark horizon ⇒ ~2× the input), not core count: one
      // state store is created/committed per partition per micro-batch,
      // so an over-partitioned bounded replay pays pure store overhead
      // (measured 7.5 s @ 32 parts vs 2.0 s @ 2 on sf0.1 — Tuning notes)
      harness.runToTable(joined, "q151_stream_sink", "append",
          Some(2L * graft.sources.Tuning.pathBytes(path)))
        .orderBy("purchase_id", "click_id")
    },

    // ---- STREAMING HyperLogLog: the q199 register sketch as live stream
    //      state — tokens explode statelessly per micro-batch, the
    //      256-register groupBy holds max(rho)/count in complete mode, so
    //      the final table must equal the batch sketch (gated by the SAME
    //      oracle as q199 — the q82/q193 batch≡stream precedent). This is
    //      the distinct-count shape an ingest front door actually runs:
    //      state is O(256) FOREVER regardless of stream length — the
    //      max-merge distributivity ProfileSketchSpec proves is exactly
    //      why the incremental update needs no per-key memory. ----
    Q("q203_stream_hll", ProfileOps.HllOracleSql) { (s, d) =>
      import graft.functions.TextFunctions.tokens
      val stream = EventStreams.readParquetStream(s, s"$d/documents.parquet")
        .select(explode(tokens(col("text"))).as("w"))
      val regs = Profile.hllRegisters(stream, col("w"))
      // HLL state is 256 registers FOREVER — the minimum floor is right
      harness.runToTable(regs, "q203_stream_sink", "complete", Some(0L))
        .orderBy("reg")
    },

    // ---- late-arrival audit: how out-of-order is the stream, per key?
    //      Arrival order is event_id; an event is LATE when it sits more
    //      than 10 minutes behind the running event-time high-water mark
    //      of its user's earlier arrivals. This is the measurement that
    //      SIZES the watermark delay (and therefore all streaming state)
    //      — run it before picking `withWatermark`. Integer-exact in
    //      microseconds; per-user windows only (the q149 rule — the
    //      corpus never passes through one task). ----
    Q("q152_late_arrivals",
      """WITH o AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM events),
        |l AS (
        |  SELECT user_id,
        |    CASE WHEN pm IS NULL OR pm - 600000000 - us <= 0 THEN 0
        |         ELSE pm - 600000000 - us END AS late_us
        |  FROM o)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  CAST(max(late_us) // 1000 AS BIGINT) AS max_late_ms
        |FROM l GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.t(s, d, "events")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("pm", max(col("us")).over(w))
        .select(col("user_id"),
          greatest(lit(0L), coalesce(col("pm") - lit(600000000L) - col("us"),
            lit(0L))).as("late_us"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("late_us") > 0, 1).otherwise(0)).cast("long").as("n_late"),
          expr("max(late_us) div 1000").as("max_late_ms"))
        .orderBy("user_id")
    },

    // ---- time-weighted average (TWAP shape): each event's value holds
    //      until the user's next event; the average weights by that
    //      holding duration. Exact integer arithmetic end to end — value
    //      in floored cents, duration in whole seconds (products bounded
    //      ~1e11/user, exact in int64; one double division at the end,
    //      Q.scala ratio rule). The last event per user has no successor
    //      and drops out (standard TWAP over a closed span). Per-user
    //      windows only. ----
    Q("q159_time_weighted_avg",
      """WITH o AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    CAST(floor(value * 100) AS BIGINT) AS vc,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |t AS (SELECT user_id, vc, (nxt - us) // 1000000 AS dur_s
        |      FROM o WHERE nxt IS NOT NULL)
        |SELECT user_id,
        |  CAST(SUM(vc * dur_s) AS BIGINT) AS vs_sum,
        |  CAST(SUM(dur_s) AS BIGINT) AS dur_sum,
        |  CAST(SUM(vc * dur_s) AS DOUBLE) / CAST(SUM(dur_s) AS DOUBLE)
        |    AS twa_cents
        |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          unix_micros(col("ts")).as("us"),
          floor(col("value") * 100).cast("long").as("vc"))
        .withColumn("nxt", lead(col("us"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("user_id"), col("vc"),
          expr("(nxt - us) div 1000000").as("dur_s"))
        .groupBy("user_id")
        .agg(sum(col("vc") * col("dur_s")).cast("long").as("vs_sum"),
          sum(col("dur_s")).cast("long").as("dur_sum"),
          (sum(col("vc") * col("dur_s")).cast("double") /
            sum(col("dur_s")).cast("double")).as("twa_cents"))
        .orderBy("user_id")
    },

    // ---- ordered-subsequence funnel (CEP-lite): a purchase CONVERTS
    //      when some click precedes it and some view precedes that click
    //      — the strict view→click→purchase ordering, not mere presence
    //      (q77 counts per-session presence). Earliest-witness logic
    //      makes it two scalar reductions per user: first view, first
    //      click after that view, purchases after that click. One
    //      two-phase agg, no window at all. ----
    Q("q160_funnel_ordered",
      """WITH v AS (SELECT user_id, min(ts) AS first_view FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS first_click
        |      FROM events e JOIN v ON v.user_id = e.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.first_view
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, count(*) AS n_converting
        |      FROM events e JOIN c ON c.user_id = e.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.first_click
        |      GROUP BY e.user_id)
        |SELECT v.user_id, v.first_view, c.first_click,
        |  CAST(coalesce(p.n_converting, 0) AS BIGINT) AS n_converting
        |FROM v LEFT JOIN c ON c.user_id = v.user_id
        |LEFT JOIN p ON p.user_id = v.user_id
        |ORDER BY v.user_id""".stripMargin) { (s, d) =>
      val ev = Tables.t(s, d, "events")
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("first_view"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts") > col("first_view"))
        .groupBy("user_id").agg(min("ts").as("first_click"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts") > col("first_click"))
        .groupBy("user_id").agg(count(lit(1)).as("n_converting"))
      v.join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("first_view"), col("first_click"),
          coalesce(col("n_converting"), lit(0L)).as("n_converting"))
        .orderBy("user_id")
    },

    // ---- weekly retention cohorts: users grouped by first-active week,
    //      cohort × offset retention counts — the standard growth
    //      analytics matrix. The distinct (user, week) activity table is
    //      users × weeks (tiny relative to events); the cohort join is
    //      an equi-join on user. Weeks are integer epoch-day div 7 —
    //      no date_trunc('week') (the engines disagree on week start
    //      conventions; integer day arithmetic cannot). ----
    Q("q161_retention_cohorts",
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) // 7 AS wk
        |  FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort FROM uw GROUP BY user_id)
        |SELECT c.cohort, CAST(uw.wk - c.cohort AS BIGINT) AS offset_weeks,
        |  count(*) AS n_users
        |FROM uw JOIN c ON c.user_id = uw.user_id
        |GROUP BY 1, 2 ORDER BY cohort, offset_weeks""".stripMargin) { (s, d) =>
      val uw = Tables.t(s, d, "events")
        .select(col("user_id"),
          expr("(unix_micros(ts) div 86400000000) div 7").as("wk"))
        .distinct()
      val cohort = uw.groupBy("user_id").agg(min("wk").as("cohort"))
      uw.join(cohort, "user_id")
        .groupBy(col("cohort"), (col("wk") - col("cohort")).as("offset_weeks"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort", "offset_weeks")
    },

    // ---- robust daily-volume anomaly flags: per event type, each day's
    //      count against the type's MEDIAN and MAD (median absolute
    //      deviation) — the outlier rule that needs no float moments and
    //      no distribution assumption (stddev-based z-scores blow up on
    //      the very anomalies being hunted). Median = the (n+1) div 2-th
    //      value ascending (engine-agnostic integer rule). Scale: all
    //      windows run over the AGGREGATED (type, day) table — days ×
    //      types rows, tiny by construction at any event volume. ----
    Q("q164_volume_anomalies",
      """WITH dc AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, c,
        |        row_number() OVER (PARTITION BY event_type ORDER BY c, day) AS rn,
        |        count(*) OVER (PARTITION BY event_type) AS n
        |      FROM dc),
        |med AS (SELECT event_type, c AS med FROM m WHERE rn = (n + 1) // 2),
        |dev AS (SELECT dc.event_type, dc.day, dc.c, med.med,
        |          abs(dc.c - med.med) AS ad
        |        FROM dc JOIN med USING (event_type)),
        |m2 AS (SELECT event_type, ad,
        |         row_number() OVER (PARTITION BY event_type ORDER BY ad, day) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |       FROM dev),
        |mad AS (SELECT event_type, ad AS mad FROM m2 WHERE rn = (n + 1) // 2)
        |SELECT d.event_type, CAST(d.day AS BIGINT) AS day,
        |  CAST(d.c AS BIGINT) AS c, CAST(d.med AS BIGINT) AS med,
        |  CAST(mad.mad AS BIGINT) AS mad,
        |  d.ad > 2 * mad.mad AS is_outlier
        |FROM dev d JOIN mad USING (event_type)
        |ORDER BY event_type, day""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val dc = Tables.t(s, d, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("c"))
      def medianOf(df: org.apache.spark.sql.DataFrame, valCol: String,
                   outCol: String) = {
        val w = Window.partitionBy("event_type").orderBy(col(valCol), col("day"))
        val wn = Window.partitionBy("event_type")
        df.withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(wn))
          .filter(col("rn") === expr("(n + 1) div 2"))
          .select(col("event_type"), col(valCol).as(outCol))
      }
      val med = medianOf(dc, "c", "med")
      val dev = dc.join(med, "event_type")
        .withColumn("ad", abs(col("c") - col("med")))
      val mad = medianOf(dev, "ad", "mad")
      dev.join(mad, "event_type")
        .select(col("event_type"), col("day"), col("c"), col("med"),
          col("mad"), (col("ad") > col("mad") * 2).as("is_outlier"))
        .orderBy("event_type", "day")
    },

    // ---- DAU / WAU stickiness: daily actives over trailing-7-day
    //      actives — the growth metric every product pipeline reports.
    //      Each distinct (user, day) activity row EXPLODES into the ≤7
    //      future days whose trailing window contains it (sequence(day,
    //      day+6)), then an EQUI-join against the day dimension keeps
    //      only days that exist, then one count-distinct per day. The
    //      equi-join plans as a broadcast HASH join — the BETWEEN form
    //      planned as BroadcastNestedLoopJoin, comparing every activity
    //      row against every day (O(|ud|·|days|), quadratic in the time
    //      range). No per-user window, no self-join of the activity
    //      table. ----
    Q("q165_dau_wau",
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |days AS (SELECT DISTINCT day FROM ud),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
        |wau AS (SELECT d.day, count(DISTINCT u.user_id) AS wau
        |        FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
        |        GROUP BY d.day)
        |SELECT CAST(d.day AS BIGINT) AS day,
        |  CAST(dau.dau AS BIGINT) AS dau, CAST(wau.wau AS BIGINT) AS wau,
        |  CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
        |FROM days d JOIN dau USING (day) JOIN wau USING (day)
        |ORDER BY day""".stripMargin) { (s, d) =>
      val ud = Tables.t(s, d, "events")
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
      val days = ud.select(col("day").as("d0")).distinct()
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = ud.select(col("user_id"),
          explode(expr("sequence(day, day + 6L)")).as("d0"))
        .join(broadcast(days), "d0")
        .groupBy(col("d0"))
        .agg(countDistinct(col("user_id")).as("wau"))
        .withColumnRenamed("d0", "day")
      dau.join(wau, "day")
        .select(col("day"), col("dau"), col("wau"),
          (col("dau").cast("double") / col("wau").cast("double"))
            .as("stickiness"))
        .orderBy("day")
    },

    // ---- day-over-day movers: per-type daily volume deltas, biggest
    //      absolute swings first — the "what changed since yesterday"
    //      dashboard staple. Lag windows run over the days×types
    //      aggregate (tiny at any event volume, the q164 rule); the
    //      top-20 is TakeOrderedAndProject. ----
    Q("q166_dod_movers",
      """WITH dc AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, day, c,
        |        lag(c) OVER (PARTITION BY event_type ORDER BY day) AS prev
        |      FROM dc)
        |SELECT event_type, CAST(day AS BIGINT) AS day, CAST(c AS BIGINT) AS c,
        |  CAST(prev AS BIGINT) AS prev, CAST(c - prev AS BIGINT) AS delta
        |FROM l WHERE prev IS NOT NULL
        |ORDER BY abs(c - prev) DESC, event_type, day LIMIT 20""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy("day")
      Tables.t(s, d, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("c"))
        .withColumn("prev", lag(col("c"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("event_type"), col("day"), col("c"), col("prev"),
          (col("c") - col("prev")).as("delta"))
        .orderBy(abs(col("delta")).desc, col("event_type"), col("day"))
        .limit(20)
    },

    // ---- top session paths (path mining): the most frequent 3-step
    //      event-type sequences inside sessions (120-minute gap — wide
    //      enough that multi-event sessions exist in the fixture). Each
    //      session's ordered type array is built with array_sort over
    //      (ts, event_id, type) structs — collect_list alone has NO
    //      deterministic order under partitioning — then 3-gram slices
    //      explode and count. Per-session arrays are bounded by session
    //      length (the gap bounds them); no corpus-wide window. ----
    Q("q167_session_paths",
      """WITH o AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 120 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o),
        |arr AS (
        |  SELECT user_id, sid,
        |    list_transform(
        |      list_sort(list((ts, event_id, event_type))),
        |      x -> x[3]) AS types
        |  FROM s GROUP BY user_id, sid),
        |g AS (
        |  SELECT unnest(list_transform(range(1, len(types) - 1),
        |    i -> types[i] || '>' || types[i+1] || '>' || types[i+2])) AS path
        |  FROM arr WHERE len(types) >= 3)
        |SELECT path, count(*) AS n FROM g
        |GROUP BY path ORDER BY n DESC, path LIMIT 10""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val sess = Tables.t(s, d, "events")
        // exact MICROsecond gap compare (a seconds cast truncates and
        // moves boundary events across the break — the q143 lesson)
        .withColumn("brk",
          when(lag(col("ts"), 1).over(w).isNull ||
            unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
              >= 7200000000L, 1).otherwise(0))
        .withColumn("sid", sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val arr = sess.groupBy("user_id", "sid")
        .agg(array_sort(collect_list(
          struct(col("ts"), col("event_id"), col("event_type")))).as("evs"))
        .select(transform(col("evs"), e => e.getField("event_type")).as("types"))
      arr.filter(size(col("types")) >= 3)
        .select(explode(expr(
          "transform(sequence(0, size(types) - 3), " +
            "i -> concat(types[i], '>', types[i+1], '>', types[i+2]))")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path"))
        .limit(10)
    },

    // ---- cumulative user growth: first-seen day per user, then the
    //      running total of users acquired by each day — the growth
    //      curve. The cumulative window runs over the per-day NEW-user
    //      aggregate (days rows, tiny); the per-user min is one
    //      two-phase agg. ----
    Q("q168_user_growth",
      """WITH f AS (
        |  SELECT user_id, min(epoch_us(ts) // 86400000000) AS first_day
        |  FROM events GROUP BY user_id),
        |nd AS (SELECT first_day AS day, count(*) AS new_users
        |       FROM f GROUP BY first_day)
        |SELECT CAST(day AS BIGINT) AS day, CAST(new_users AS BIGINT) AS new_users,
        |  CAST(sum(new_users) OVER (ORDER BY day
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS total_users
        |FROM nd ORDER BY day""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val nd = Tables.t(s, d, "events")
        .groupBy("user_id")
        .agg(min(expr("unix_micros(ts) div 86400000000")).as("day"))
        .groupBy("day").agg(count(lit(1)).as("new_users"))
      nd.withColumn("total_users",
          sum(col("new_users")).over(Window.orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"))
        .orderBy("day")
    },

    // ---- tumbling 1h windows per event type ----
    Q("q45_window_tumbling",
      """SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin) { (s, d) =>
      EventStreams.tumbling(Tables.t(s, d, "events"), "1 hour")
        .orderBy("ws", "event_type")
    },

    // ---- sliding 1h windows every 30m (each event in 2 windows) ----
    Q("q46_window_sliding",
      """WITH g AS (
        |  SELECT value,
        |    date_trunc('hour', ts) + CASE WHEN minute(ts) >= 30
        |      THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END AS g30
        |  FROM events),
        |w AS (SELECT unnest([g30, g30 - INTERVAL 30 MINUTE]) AS ws, value FROM g)
        |SELECT ws, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v
        |FROM w GROUP BY 1 ORDER BY ws""".stripMargin) { (s, d) =>
      EventStreams.sliding(Tables.t(s, d, "events"), "1 hour", "30 minutes")
        .orderBy("ws")
    },

    // ---- session windows: 5m inactivity gap per user ----
    Q("q47_window_session",
      """WITH o AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 5 MINUTE AS session_end,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
      EventStreams.sessions(Tables.t(s, d, "events"), "5 minutes")
        .orderBy("user_id", "session_start")
    },

    // ---- custom-state sessionization (flatMapGroupsWithState), gated:
    //      the TYPED arbitrary-state API — the path a pipeline takes when
    //      session_window's gap semantics don't suffice — run in batch
    //      mode over events and hash-checked against the lag/cumsum
    //      session-island SQL. Semantics are the INCLUSIVE gap the typed
    //      sessionizer implements (break when diff > gap, matching
    //      session_window's touching-window merge), so the oracle is
    //      `> INTERVAL`, not q47's `>=` break. State per key is
    //      O(sessions), never O(events) — the hot-key property
    //      StreamingSpec pins at 1e6 events; the same body runs behind
    //      readStream (StreamingSpec micro-batch runs). ----
    Q("q143_sessions_custom_state",
      """WITH o AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT user_id, min(ts) AS start,
        |  (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000 AS duration_ms,
        |  CAST(count(*) AS INTEGER) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, start""".stripMargin) { (s, d) =>
      graft.streaming.EventStreams.statefulSessions(
          s, Tables.t(s, d, "events"), gapMs = 30L * 60 * 1000)
        .withColumnRenamed("durationMs", "duration_ms")
        .orderBy("user_id", "start")
    },

    // ---- sessionized funnel: click→purchase conversion per session ----
    Q("q77_session_funnel",
      """WITH o AS (
        |  SELECT user_id, ts, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts, event_type,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o),
        |f AS (
        |  SELECT user_id, sid,
        |    min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
        |    max(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase
        |  FROM s GROUP BY user_id, sid)
        |SELECT user_id, count(*) AS n_sessions,
        |  count(CASE WHEN first_click IS NOT NULL
        |              AND last_purchase IS NOT NULL
        |              AND last_purchase >= first_click THEN 1 END) AS n_converted
        |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy("ts")
      val ev = Tables.t(s, d, "events")
        .withColumn("brk",
          // microsecond precision: cast-to-long would truncate to seconds
          // and disagree with the oracle's INTERVAL comparison
          when(lag(col("ts"), 1).over(byUser).isNull ||
            unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byUser)) >= 300000000L, 1)
            .otherwise(0))
        .withColumn("sid", sum("brk").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      ev.groupBy("user_id", "sid")
        .agg(
          min(when(col("event_type") === "click", col("ts"))).as("first_click"),
          max(when(col("event_type") === "purchase", col("ts"))).as("last_purchase"))
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_sessions"),
          count(when(col("first_click").isNotNull && col("last_purchase").isNotNull &&
            col("last_purchase") >= col("first_click"), 1)).as("n_converted"))
        .orderBy("user_id")
    }
  )
}
