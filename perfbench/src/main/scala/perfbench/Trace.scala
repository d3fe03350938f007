package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.perfbenchbridge.Bridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable.ArrayBuffer

/** One traced interval around a call into an engine module. The module is
  * the first dot-separated part of the name (`osm`, `functions`,
  * `operators`, `sql`, `harness`). Listener counters are the span's own
  * jobs (those submitted under its job group); codegen counters cover the
  * whole interval, children included. */
final class Span(val id: Int, val name: String, val parent: Int, val req: Long,
                 val start: Long) {
  @volatile var end: Long = 0L
  var compiles = 0L
  var compileMs = 0.0
  // written by the listener thread, read after Bridge.drainListeners
  @volatile var jobs = 0L
  @volatile var tasks = 0L
  @volatile var runMs = 0L
  @volatile var gcMs = 0L
  @volatile var shuffleBytes = 0L
  @volatile var spillBytes = 0L
  @volatile var inBytes = 0L
  @volatile var inRecords = 0L
  @volatile var outBytes = 0L

  def module: String = name.takeWhile(_ != '.')
  def ms: Double = (end - start) / 1e6
}

/** Spans kept in memory and written with the run record. When disabled,
  * [[span]] just runs its body: no job groups, no listener, no counters. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer[Span]()
  private val byId = new ConcurrentHashMap[Int, Span]()
  private var stack = List.empty[Span]
  private var sc: SparkContext = _

  /** Bind to a (new) SparkContext and count its tasks per span. */
  def attach(context: SparkContext): Unit = if (enabled) {
    sc = context
    context.addSparkListener(new SpanListener)
  }

  def drain(): Unit = if (enabled && sc != null) Bridge.drainListeners(sc)

  def span[T](name: String, req: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        if (req >= 0) req else stack.headOption.map(_.req).getOrElse(-1L), System.nanoTime())
      spans += s
      byId.put(s.id, s)
      stack = s :: stack
      sc.setJobGroup(s"pb-${s.id}", name, interruptOnCancel = false)
      val (c0, m0) = Bridge.codegen()
      try body
      finally {
        val (c1, m1) = Bridge.codegen()
        s.compiles = c1 - c0
        s.compileMs = m1 - m0
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  private def children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** The span plus all its descendants. */
  def subtree(s: Span): Seq[Span] = {
    val kids = children
    def go(x: Span): Seq[Span] = x +: kids.getOrElse(x.id, Nil).flatMap(go)
    go(s)
  }

  def named(name: String): Seq[Span] = spans.toSeq.filter(_.name == name)

  def toRecords: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "req" -> s.req,
      "start_ms" -> (s.start - spans.head.start) / 1e6, "dur_ms" -> s.ms,
      "jobs" -> s.jobs, "tasks" -> s.tasks, "run_ms" -> s.runMs, "gc_ms" -> s.gcMs,
      "shuffle_bytes" -> s.shuffleBytes, "spill_bytes" -> s.spillBytes,
      "in_bytes" -> s.inBytes, "in_records" -> s.inRecords, "out_bytes" -> s.outBytes,
      "compiles" -> s.compiles, "compile_ms" -> s.compileMs)
  }

  /** Attributes each job to the span whose job group submitted it, and each
    * finished task to its job's span. */
  private final class SpanListener extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, Span]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (group != null && group.startsWith("pb-")) {
        val s = byId.get(group.drop(3).toInt)
        if (s != null) {
          s.jobs += 1
          e.stageIds.foreach(stageSpan.put(_, s))
        }
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) {
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inBytes += m.inputMetrics.bytesRead
        s.inRecords += m.inputMetrics.recordsRead
        s.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}
