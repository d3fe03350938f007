package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Top-level so Spark can generate an Encoder (inner classes can't). */
case class Ev(ts: Timestamp, event_type: String, value: Double, user_id: Long)

/** Structured Streaming behavior: the batch transforms running
  * incrementally with watermarks, and the typed stateful sessionizer. */
class StreamingSpec extends SparkTestBase {

  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("tumbling agg over a stream equals the batch result (watermarked)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val events = Seq(
      Ev(ts("2024-01-01 00:10:00"), "click", 1.0, 1L),
      Ev(ts("2024-01-01 00:20:00"), "click", 2.0, 1L),
      Ev(ts("2024-01-01 01:05:00"), "view", 3.0, 2L),
      Ev(ts("2024-01-01 02:00:01"), "click", 4.0, 2L))
    mem.addData(events: _*)
    val q = EventStreams.tumblingWithWatermark(mem.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("tumbling_out")
      .select("ws", "event_type", "n", "sum_v")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = EventStreams.tumbling(events.toDF(), "1 hour")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed === batch)
    assert(batch.contains(("2024-01-01 00:00:00.0", "click", 2L, 3.0)))
  }

  test("declarative session windows match the gaps-and-islands definition") {
    val events = Seq(
      Ev(ts("2024-01-01 00:00:00"), "a", 1.0, 7L),
      Ev(ts("2024-01-01 00:03:00"), "a", 1.0, 7L),  // gap 3m -> same session
      Ev(ts("2024-01-01 00:10:00"), "a", 1.0, 7L),  // gap 7m -> new session
      Ev(ts("2024-01-01 00:14:59"), "a", 1.0, 7L),  // gap <5m -> same
      Ev(ts("2024-01-01 00:30:00"), "a", 1.0, 9L))  // other user
    val out = EventStreams.sessions(events.toDF(), "5 minutes")
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(3)))
    assert(out.toSeq === Seq(
      (7L, "2024-01-01 00:00:00.0", 2L),
      (7L, "2024-01-01 00:10:00.0", 2L),
      (9L, "2024-01-01 00:30:00.0", 1L)))
  }

  test("typed flatMapGroupsWithState sessionizer agrees on session counts") {
    val events = Tables.t(spark, Sf, "events")
    val declarative = EventStreams.sessions(events, "5 minutes").count()
    val typed = EventStreams.statefulSessions(spark, events, 5 * 60 * 1000L).count()
    assert(typed === declarative)
  }

  test("typed sessionizer emits exact session values, in any input order") {
    // user 7: two sessions (events deliberately OUT of time order — interval
    // merging must not depend on arrival order); user 9: one single-event
    // session with duration 0
    val events = Seq(
      Ev(ts("2024-01-01 00:10:00"), "a", 1.0, 7L),
      Ev(ts("2024-01-01 00:00:00"), "a", 1.0, 7L),
      Ev(ts("2024-01-01 00:14:59"), "a", 1.0, 7L),
      Ev(ts("2024-01-01 00:03:00"), "a", 1.0, 7L),
      Ev(ts("2024-01-01 00:30:00"), "a", 1.0, 9L))
    val out = EventStreams.statefulSessions(spark, events.toDF(), 5 * 60 * 1000L)
      .orderBy("user_id", "start")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getLong(2), r.getInt(3)))
    assert(out.toSeq === Seq(
      (7L, "2024-01-01 00:00:00.0", 180000L, 2),   // 00:00 + 00:03
      (7L, "2024-01-01 00:10:00.0", 299000L, 2),   // 00:10 + 00:14:59
      (9L, "2024-01-01 00:30:00.0", 0L, 1)))
    // agreement with the declarative session_window on the same fixture
    val declarative = EventStreams.sessions(events.toDF(), "5 minutes")
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(3)))
    assert(declarative.toSeq === out.toSeq.map(t => (t._1, t._2, t._4.toLong)))
  }

  test("typed sessionizer equals declarative session windows on random data") {
    // property check of the interval-merge algorithm: on seeded random
    // event times (with duplicate timestamps and unordered input) the
    // typed sessions must match session_window exactly — same starts,
    // same event counts, and duration = (window end - gap) - start
    val base = ts("2024-01-01 00:00:00").getTime
    val rnd = new scala.util.Random(13)
    val events = Seq.fill(400)(Ev(
      new Timestamp(base + rnd.nextInt(7200) * 1000L), "x", 1.0,
      rnd.nextInt(5).toLong)).toDF()
    val gapMs = 5 * 60 * 1000L
    val typed = EventStreams.statefulSessions(spark, events, gapMs)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getLong(2), r.getInt(3).toLong)).toSet
    val declarative = EventStreams.sessions(events, "5 minutes")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime - gapMs - r.getTimestamp(1).getTime,
        r.getLong(3))).toSet
    assert(typed === declarative)
    assert(typed.size > 10) // the fixture actually produced many sessions
  }

  test("typed sessionizer survives a hot key: 1e6 events, O(sessions) state") {
    // One bot user with 10^6 events: 1000 sessions of 1000 events each
    // (1 s cadence inside a session, 1 h jump between sessions). The
    // previous implementation buffered + sorted the full million-event
    // history per task; interval merging holds ~#sessions map entries.
    val base = ts("2024-01-01 00:00:00").getTime
    val events = spark.range(1000000).selectExpr(
      s"timestamp_millis($base + (id % 1000) * 1000 + (id DIV 1000) * 3600000) AS ts",
      "'bot' AS event_type", "CAST(42 AS LONG) AS user_id")
    val out = EventStreams.statefulSessions(spark, events, 30 * 60 * 1000L)
    assert(out.count() === 1000L)
    val agg = out.agg(
      min("start").cast("long").as("first_start"),
      countDistinct("durationMs").as("n_durations"),
      sum("n_events").as("total"),
      max("n_events").as("max_n")).head()
    assert(agg.getAs[Long]("first_start") === base / 1000)
    assert(agg.getAs[Long]("n_durations") === 1L) // all sessions span 999 s
    assert(agg.getAs[Long]("total") === 1000000L)
    assert(agg.getAs[Int]("max_n") === 1000)
    assert(out.select(first("durationMs")).head().getLong(0) === 999000L)
  }

  test("OSM cleaning pipeline runs unchanged over a CSV stream (SURVEY §2.11)") {
    // The stateless shape/clean transforms are streaming-safe as-is: stream
    // raw tag rows and apply the same expression chain used in batch.
    val dir = java.nio.file.Files.createTempDirectory("graft-osmstream")
    dir.toFile.deleteOnExit()
    java.nio.file.Files.write(dir.resolve("tags.csv"),
      """id,k,v
        |1,addr:postcode,1074CM
        |1,phone,020-555 1234
        |2,highway,residential
        |""".stripMargin.getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("header", true).csv(dir.toString)
    import graft.functions.Cleaners
    val cleaned = stream
      .withColumn("key", Cleaners.keyTail(col("k")))
      .withColumn("type", Cleaners.keyType(col("k")))
      .withColumn("value",
        when(col("key") === "postcode", Cleaners.nlPostcode(col("v")))
          .when(col("k") === "phone", Cleaners.nlPhone(col("v")))
          .otherwise(col("v")))
      .select("id", "key", "value", "type")
    val q = cleaned.writeStream.format("memory").queryName("osm_stream_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("osm_stream_out").orderBy("id", "key")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(rows.toSeq === Seq(
      (1L, "phone", "+31205551234", "regular"),
      (1L, "postcode", "1074 CM", "addr"),
      (2L, "highway", "residential", "regular")))
  }

  test("file-source stream of the events table processes all rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream")
    dir.toFile.deleteOnExit()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$Sf/events.parquet"),
      dir.resolve("part-0.parquet"))
    val stream = EventStreams.readEventStream(spark, dir.toString)
    val q = stream.groupBy().count()
      .writeStream.format("memory").queryName("stream_count")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val n = spark.table("stream_count").head().getLong(0)
    assert(n === Tables.t(spark, Sf, "events").count())
  }

  test("single-file stream path with glob metacharacters in the name") {
    // the {name} glob wrapper must escape [, ], { etc. — unescaped, this
    // file name is a character-class glob that matches nothing
    val dir = java.nio.file.Files.createTempDirectory("graft-streamglob")
    dir.toFile.deleteOnExit()
    val f = dir.resolve("part-[0]{a}.parquet")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$Sf/events.parquet"), f)
    val stream = EventStreams.readEventStream(spark, f.toString)
    val q = stream.groupBy().count()
      .writeStream.format("memory").queryName("stream_glob_count")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val n = spark.table("stream_glob_count").head().getLong(0)
    assert(n === Tables.t(spark, Sf, "events").count())
  }
}
