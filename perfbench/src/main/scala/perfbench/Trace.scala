package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `parent` is 0 for a top-level
  * span; spans of one request or query share `traceId`.
  */
final case class Span(id: Int, parent: Int, name: String, traceId: String,
    startNs: Long, var endNs: Long = -1L) {
  def durNs: Long = endNs - startNs
}

/** Spans recorded by the harness around its calls into each module — no
  * tracing lives inside the engine. Spans stay in memory and are written
  * once at the end. A disabled tracer records nothing.
  *
  * The open span's id rides on the thread's Spark local properties, so every
  * job the call submits is attributed to it ([[SparkCounters]]).
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicInteger(0)
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[Span]
  @volatile var sc: Option[SparkContext] = None

  /** Times `body` as a child of the thread's open span, or of `under` when
    * given (work handed to another thread).
    */
  def span[T](name: String, traceId: String = null, under: Option[Span] = None)(body: => T): T =
    if (!enabled) body
    else {
      val prev = current.get
      val parent = under.getOrElse(prev)
      val tid =
        if (traceId != null) traceId else if (parent != null) parent.traceId else name
      val s = Span(ids.incrementAndGet(), if (parent == null) 0 else parent.id, name,
        tid, System.nanoTime())
      buf.synchronized(buf += s)
      current.set(s)
      sc.foreach(_.setLocalProperty(Tracer.SpanProp, s.id.toString))
      try body
      finally {
        s.endNs = System.nanoTime()
        current.set(prev)
        sc.foreach(_.setLocalProperty(Tracer.SpanProp, if (prev == null) null else prev.id.toString))
      }
    }

  def spans: Seq[Span] = buf.synchronized(buf.toList)

  /** The span open on this thread, if any. */
  def open: Option[Span] = Option(current.get)

  /** Self time of each span: its duration minus the part of its interval
    * that its children cover (overlapping children count once).
    */
  def selfNs: Map[Int, Long] = {
    val all = spans.filter(_.endNs >= 0)
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var (lo, hi) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
        else hi = math.max(hi, b)
      }
      if (hi > lo) covered += hi - lo
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Ids of `root` and every span below it. */
  def subtree(root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Set[Int] = kids.getOrElse(id, Nil).flatMap(c => go(c.id)).toSet + id
    go(root)
  }

  /** Spans as JSON lines (name, ids, start/end relative to the first span). */
  def toJsonLines: Seq[String] = {
    val all = spans
    val t0 = if (all.isEmpty) 0L else all.map(_.startNs).min
    val self = selfNs
    all.map { s =>
      Json.write(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "trace" -> s.traceId, "start_ms" -> (s.startNs - t0) / 1e6,
        "end_ms" -> (s.endNs - t0) / 1e6, "self_ms" -> self.getOrElse(s.id, 0L) / 1e6))
    }
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Spark work counted per job, attributed to the span that was open on the
  * submitting thread. Totals and per-span sums are read after [[drain]].
  */
final class SparkCounters extends SparkListener {
  final class C {
    var jobs, stages, tasks, schemaInferJobs = 0L
    var runMs, shuffleWrite, spill, input, output = 0L
    def +=(o: C): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      schemaInferJobs += o.schemaInferJobs; runMs += o.runMs
      shuffleWrite += o.shuffleWrite; spill += o.spill
      input += o.input; output += o.output
    }
  }
  private val bySpan = mutable.Map.empty[Int, C]
  private val stageSpan = mutable.Map.empty[Int, Int]

  private def c(span: Int) = bySpan.getOrElseUpdate(span, new C)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(0)
    val cc = c(span)
    cc.jobs += 1
    // schema inference of the registry's shared loader: the job's call site
    // is a parquet read issued from SparkEntry.load
    if (e.stageInfos.exists(_.details.contains("SparkEntry$.load("))) cc.schemaInferJobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c(stageSpan.getOrElse(e.stageInfo.stageId, 0)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val cc = c(stageSpan.getOrElse(e.stageId, 0))
    cc.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      cc.runMs += m.executorRunTime
      cc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      cc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      cc.input += m.inputMetrics.bytesRead
      cc.output += m.outputMetrics.bytesWritten
    }
  }

  /** Sum over the given spans (all spans, including untraced work, when None). */
  def sum(spans: Option[Set[Int]] = None): C = synchronized {
    val out = new C
    bySpan.foreach { case (k, v) => if (spans.forall(_.contains(k))) out += v }
    out
  }
}

object SparkCounters {
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBridge.drainListeners(sc)
}
