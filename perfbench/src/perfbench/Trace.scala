package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a call the benchmark made into a layer. `kind` is `op` for an
  * operation, `probe` for a phase function called on its own before the
  * operation, and `call` for a call nested inside an operation. */
final class Span(val id: Int, val parent: Int, val op: Int, val name: String,
    val kind: String) {
  var startNs, endNs = 0L
  var fsStart, fsEnd: Map[String, Long] = Map.empty
  val attrs = mutable.LinkedHashMap.empty[String, Double]
}

/** Spans kept in memory for the traced run and written out when it ends.
  * Filesystem counters are read at every span boundary; Spark jobs are
  * attributed to the innermost open span through a local property that the
  * scheduler copies into each job it submits. With tracing off every method
  * just runs its body. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var lastClosed: Span = _
  private val ledger = new SparkLedger
  val baseNs: Long = System.nanoTime()
  val baseEpochMs: Long = System.currentTimeMillis()
  var op: Int = -1

  if (enabled) sc.addSparkListener(ledger)

  def span[T](name: String, kind: String = "call")(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, open.headOption.fold(-1)(_.id), op, name, kind)
      spans += s
      open = s :: open
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      s.fsStart = CountingFileSystem.snapshot()
      s.startNs = System.nanoTime()
      try body
      finally {
        s.endNs = System.nanoTime()
        s.fsEnd = CountingFileSystem.snapshot()
        open = open.tail
        sc.setLocalProperty(Tracer.SpanKey, open.headOption.map(_.id.toString).orNull)
        lastClosed = s
      }
    }

  /** Attach a measured value (plan length, directories probed, ...) to the
    * span that closed last. */
  def attr(key: String, value: Double): Unit =
    if (enabled && lastClosed != null) lastClosed.attrs(key) = value

  private def relMs(ns: Long): Double = (ns - baseNs) / 1e6

  /** Every span and Spark job recorded, as JSON values. Drains the listener
    * bus first so no task-end event is missing. */
  def dump(): Map[String, Any] = {
    if (enabled) org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
    val epochToRel = (ms: Long) => (ms - baseEpochMs).toDouble
    Map(
      "spans" -> spans.toSeq.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
          "kind" -> s.kind, "start_ms" -> relMs(s.startNs), "end_ms" -> relMs(s.endNs),
          "fs" -> s.fsEnd.map { case (k, v) => k -> (v - s.fsStart.getOrElse(k, 0L)) },
          "spark" -> ledger.bySpan.get(s.id).fold(Map.empty[String, Any])(_.toMap),
          "attrs" -> s.attrs.toMap)
      },
      "jobs" -> ledger.jobs.values.toSeq.sortBy(_.id).map { j =>
        Map("id" -> j.id, "span" -> j.span, "start_ms" -> epochToRel(j.startMs),
          "end_ms" -> epochToRel(if (j.endMs > 0) j.endMs else j.startMs))
      })
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Spark work charged to one span. */
final class SparkWork {
  var jobs, tasks, cpuNs, gcMs, shuffleWriteBytes, inputBytes, outputBytes = 0L
  def toMap: Map[String, Any] = Map("jobs" -> jobs, "tasks" -> tasks,
    "exec_cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWriteBytes, "input_bytes" -> inputBytes,
    "output_bytes" -> outputBytes)
}

final class JobInterval(val id: Int, val span: Int, val startMs: Long) {
  @volatile var endMs = 0L
}

/** The benchmark's own listener: jobs, tasks, executor CPU, GC, shuffle and
  * input/output bytes per span, and each job's interval. */
final class SparkLedger extends SparkListener {
  val bySpan = mutable.HashMap.empty[Int, SparkWork]
  val jobs = mutable.HashMap.empty[Int, JobInterval]
  private val stageSpan = mutable.HashMap.empty[Int, Int]

  private def work(span: Int) = bySpan.getOrElseUpdate(span, new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .fold(-1)(_.toInt)
    jobs(e.jobId) = new JobInterval(e.jobId, span, e.time)
    e.stageIds.foreach(stageSpan(_) = span)
    work(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work(stageSpan.getOrElse(e.stageId, -1))
    w.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.inputBytes += m.inputMetrics.bytesRead
      w.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}
