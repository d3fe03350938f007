package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.io.File
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One operation of a closed loop: its kind, its wall time (answer checks
  * excluded), whether it answered correctly, and workload-specific fields
  * the Python side checks or aggregates. */
final case class OpRec(kind: String, ms: Double, ok: Boolean = true, err: String = "",
                       extra: Map[String, Any] = Map.empty)

/** Typed access to the `params` object of the run spec. */
final class Params(node: JsonNode) {
  def str(k: String): String = node.get(k).asText()
  def int(k: String): Int = node.get(k).asInt()
  def dbl(k: String): Double = node.get(k).asDouble()
  def list(k: String): Seq[JsonNode] = node.get(k).elements().asScala.toSeq
}

/** A workload: input load and warmup (timed together with session start as
  * set-up), then one closed-loop operation at a time. */
trait Bench {
  def load(spark: SparkSession): Unit
  def warmup(spark: SparkSession): Unit
  def maxOps: Int = Int.MaxValue
  def op(spark: SparkSession, i: Int): OpRec
  /** Work after the timed loop whose output the checks need. */
  def finish(spark: SparkSession): Map[String, Any] = Map.empty
  /** Per-layer metrics from the trace of the timed operations. */
  def perLayer(ops: Seq[(OpRec, Span)]): Map[String, Double]
}

/** Runs one workload: `Main <spec.json> <record.json>`. The spec names the
  * workload, its generated inputs and the run settings; the record holds
  * set-up times, every operation, the trace and the run's environment. */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, ms(t0))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private def loadavg(): Seq[Double] =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3)
      .map(_.toDouble).toSeq
    catch { case _: Exception => Seq.empty }

  private def peakRssMb(): Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    catch { case _: Exception => 0.0 }

  def newSession(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val spec = mapper.readTree(new File(args(0)))
    val workload = spec.get("workload").asText()
    val work = spec.get("work").asText()
    val seconds = spec.get("seconds").asDouble()
    val warmSeconds = spec.get("warm_seconds").asDouble()
    val tracer = new Tracer(spec.get("trace").asInt() == 1)
    val reps = spec.get("reps").asInt()
    val cores = spec.get("cores").asInt()
    val minOps = spec.get("min_ops").asInt()
    val params = new Params(spec.get("params"))
    val loadStart = loadavg()

    val bench: Bench = workload match {
      case "osm_etl" => new OsmEtlBench(params, work, tracer)
      case "sql_mix" => new SqlMixBench(params, work, tracer)
      case "dedup_batch" => new DedupBench(params, work, tracer)
      case "ann_serve" => new AnnServeBench(params, work, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: session start + input load + warmup, repeated; the last
    // session serves the timed loop
    var spark: SparkSession = null
    val setupMs = (1 to reps).map { r =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = newSession(cores, work)
      tracer.attach(spark.sparkContext)
      tracer.span("harness.setup", r.toLong) {
        bench.load(spark)
        bench.warmup(spark)
      }
      ms(t0)
    }

    // closed loop, one client: the next operation starts when the
    // previous one has answered. The JIT keeps speeding the engine up well
    // after set-up, so an untimed warm phase of the same loop comes first;
    // its answers are checked like the timed ones.
    var i = 0
    def loop(secs: Double, min: Int): ArrayBuffer[(OpRec, Span)] = {
      val out = ArrayBuffer[(OpRec, Span)]()
      val deadline = System.nanoTime() + (secs * 1e9).toLong
      while ((System.nanoTime() < deadline || out.size < min) && i < bench.maxOps) {
        var span: Span = null
        val rec = tracer.span("harness.op", i.toLong) {
          if (tracer.enabled) span = tracer.spans.last
          try bench.op(spark, i)
          catch { case e: Exception => OpRec("error", 0.0, ok = false, err = e.toString) }
        }
        out += ((rec, span))
        i += 1
      }
      out
    }
    val warmOps = loop(warmSeconds, 0)
    val loopStart = System.nanoTime()
    val ops = loop(seconds, minOps)
    val loopMs = ms(loopStart)
    val extra = bench.finish(spark)
    tracer.drain()

    val perLayer: Map[String, Double] =
      if (!tracer.enabled) Map.empty
      else {
        val roots = ops.map(_._2).toSeq
        val all = roots.flatMap(tracer.subtree)
        val opMs = roots.map(_.ms).sum
        val byModule = {
          val kids = all.groupBy(_.parent)
          all.map { s =>
            val covered = kids.getOrElse(s.id, Nil).map(_.ms).sum
            s.module -> math.max(0.0, s.ms - covered) / 1e3
          }.groupMapReduce(_._1)(_._2)(_ + _)
        }
        Seq("osm", "functions", "operators", "sql", "harness")
          .map(m => s"self_s.$m" -> byModule.getOrElse(m, 0.0)).toMap ++ Map(
          "spark.shuffle_bytes" -> all.map(_.shuffleBytes).sum.toDouble,
          "spark.spill_bytes" -> all.map(_.spillBytes).sum.toDouble,
          "spark.gc_s" -> all.map(_.gcMs).sum / 1e3,
          "spark.core_util" -> (if (opMs > 0) all.map(_.runMs).sum / (opMs * cores) else 0.0)
        ) ++ bench.perLayer(ops.toSeq)
      }

    val conf = spark.sparkContext.getConf.getAll.toSeq.sortBy(_._1)
      .filterNot { case (k, _) => k.contains("host") || k.contains("port") || k.endsWith(".id") }
      .toMap
    val record = Map(
      "workload" -> workload,
      "setup_ms" -> setupMs,
      "loop_ms" -> loopMs,
      "ops" -> (warmOps.map(_ -> true) ++ ops.map(_ -> false)).map { case ((r, _), warm) =>
        Map("kind" -> r.kind, "ms" -> r.ms, "ok" -> r.ok, "err" -> r.err, "warm" -> warm) ++ r.extra
      },
      "finish" -> extra,
      "per_layer" -> perLayer,
      "spans" -> (if (tracer.enabled) tracer.toRecords else Nil),
      "peak_rss_mb" -> peakRssMb(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
      "cores" -> cores,
      "spark_version" -> spark.version,
      "spark_conf" -> conf,
      "loadavg_start" -> loadStart,
      "loadavg_end" -> loadavg())
    mapper.writeValue(new File(args(1)), record)
    spark.stop()
  }
}
