package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The ONE owner of the bounded-replay streaming scaffold (round-14
  * verdict item 5, carried to r16): every gate that runs a REAL
  * micro-batch query to completion — memory-sink drains and
  * foreachBatch file-stream drains — goes through here, so the
  * streaming discipline (fresh sink names, prior-sink release,
  * state-partition sizing, stop-in-finally) cannot drift between the
  * eleven call sites it replaced.
  *
  * Production note: these entry points are for BOUNDED replays (a
  * staged arrival set drained to completion). An unbounded production
  * stream keeps the same transforms but swaps the sink
  * (kafka/parquet/delta) and never calls processAllAvailable.
  */
object StreamHarness {

  /** Memory-sink names must be unique per invocation (a warm-up, repeated
    * runs and the specs may execute the same query in one session). */
  private val sinkId = new java.util.concurrent.atomic.AtomicInteger(0)

  // prefix -> the previous invocation's sink view, dropped when the next
  // invocation starts: a memory sink retains its FULL result driver-side
  // for as long as the view exists, so repeated runs of the streaming
  // queries would otherwise pin every prior pass's rows in the heap
  private val lastSink =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def freshSink(s: SparkSession, prefix: String): String = {
    val name = s"${prefix}_${sinkId.incrementAndGet()}"
    Option(lastSink.put(prefix, name)).foreach(s.catalog.dropTempView(_))
    name
  }

  /** Run a bounded streaming frame to completion through a fresh memory
    * sink and return the sink table. `stateBytes` sizes the state-store
    * partition count via [[graft.sources.Tuning.adviseStatePartitions]]
    * (one store is created/committed PER PARTITION PER MICRO-BATCH and
    * AQE cannot coalesce them — the q151 measurement); None leaves the
    * session's shuffle partitioning untouched. */
  def runToTable(df: DataFrame, prefix: String, mode: String,
      stateBytes: Option[Long] = None): DataFrame = {
    val s = df.sparkSession
    val name = freshSink(s, prefix)
    def drain(): Unit = {
      val query = df.writeStream.format("memory").queryName(name)
        .outputMode(mode).start()
      try query.processAllAvailable() finally query.stop()
    }
    stateBytes match {
      case Some(b) => graft.sources.Tuning.withShufflePartitions(s,
        graft.sources.Tuning.adviseStatePartitions(b))(drain())
      case None => drain()
    }
    s.table(name)
  }

  /** Drain a staged file stream — one genuine micro-batch per file
    * (maxFilesPerTrigger=1) — through `perBatch`, to completion. The
    * per-batch logic stays at the call site (arrival handling genuinely
    * differs per gate); the stream construction and lifecycle live
    * here. */
  def drainFileStream(s: SparkSession, inSchema: StructType,
      glob: String)(perBatch: DataFrame => Unit): Unit = {
    val stream = s.readStream.schema(inSchema)
      .option("maxFilesPerTrigger", 1).parquet(glob)
    val query = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        perBatch(batch.toDF()); ()
      }
      .start()
    try query.processAllAvailable() finally query.stop()
  }
}
