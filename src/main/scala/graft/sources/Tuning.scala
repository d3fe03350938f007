package graft.sources

import org.apache.spark.sql.SparkSession

/** Streaming state-store sizing: how many shuffle partitions a bounded
  * streaming replay starts with (one per ~128 MiB of state), and the
  * scoped conf that applies it. */
object Tuning {

  val TargetPartitionBytes: Long = 128L * 1024 * 1024

  /** Streaming STATE-STORE partition sizing: bytes / target applied to
    * `spark.sql.shuffle.partitions` as read by a stateful streaming query
    * at start (stream-stream joins, streaming
    * aggregates): one state store is created, loaded, committed and
    * snapshotted PER PARTITION PER MICRO-BATCH, so unlike a batch
    * shuffle — where AQE coalesces small outputs for free — an
    * over-partitioned stream pays a fixed store overhead forever and
    * AQE cannot help (it is disabled under micro-batch execution).
    * Measured on the q151 stream-stream join at sf0.1: 7.5 s at 32
    * partitions vs 2.0 s at 2, identical results. A batch rule's usual
    * "never below parallelism" floor is therefore WRONG here: below
    * ~target bytes of state there is nothing to parallelize, the store
    * machinery is the workload. Floor 2 keeps the multi-store code path
    * honest; no upper cap — at 100 TB the bytes/target quotient is the
    * right count and each core just owns many stores per batch. */
  def adviseStatePartitions(stateBytes: Long,
                            targetBytes: Long = TargetPartitionBytes): Int = {
    require(stateBytes >= 0, s"stateBytes=$stateBytes must be >= 0")
    math.max(2, math.ceil(stateBytes.toDouble / targetBytes).toInt)
  }

  /** Run `body` with `spark.sql.shuffle.partitions` scoped to `n`,
    * restoring the previous value after — the seam streaming replays
    * use to apply [[adviseStatePartitions]] to the query they START
    * (the conf is read once at stream start, so the restore does not
    * disturb the running query, and batch work outside the scope never
    * sees the override). */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    require(n > 0, s"shuffle partitions n=$n must be positive")
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getOption(key).orNull
    spark.conf.set(key, n.toString)
    try body
    finally if (prev == null) spark.conf.unset(key)
    else spark.conf.set(key, prev)
  }

  /** Total on-disk bytes of a fixture path (file or directory of files)
    * — the planning-time state-volume proxy a bounded streaming replay
    * feeds [[adviseStatePartitions]]. */
  def pathBytes(path: String): Long = {
    // RECURSIVE walk (round-15 advice): a partitioned/nested parquet dir
    // has no top-level plain files, so a flat listing yields 0 bytes and
    // adviseStatePartitions silently floors at 2 — wrong sizing with no
    // signal; a missing path is a caller bug, not "zero state"
    val f = new java.io.File(path)
    require(f.exists, s"pathBytes: $path does not exist")
    def walk(d: java.io.File): Long =
      if (d.isFile) d.length
      else Option(d.listFiles).map(_.map(walk).sum).getOrElse(0L)
    walk(f)
  }
}
