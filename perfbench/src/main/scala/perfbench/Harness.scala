package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One run's settings, as passed on the command line. */
final case class Config(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: File, out: File) {
  /** Traced runs write their spans here, as JSON lines. */
  def spanFile: File = new File(work, s"spans-$workload-$seed.jsonl")
}

/** What a workload hands back: end-to-end metrics (untraced runs) or
  * per-layer metrics (traced runs), with the failure accounting.
  */
final case class Outcome(attempted: Long, failed: Long, endToEnd: Map[String, Double],
    layers: Map[String, Double], errors: Seq[String])

/** Operation accounting. An operation that throws, or that ends after its
  * time limit, counts as failed and leaves no timing behind — only
  * completed, in-limit operations reach `timings`.
  */
final case class Timing(name: String, ms: Double)

final class OpLog {
  private val done = mutable.ArrayBuffer.empty[Timing]
  private var nAttempted, nFailed = 0L
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def attempted: Long = synchronized(nAttempted)
  def errorList: Seq[String] = synchronized(errors.toList)
  def failed: Long = synchronized(nFailed)
  def timings: Seq[Timing] = synchronized(done.toList)

  /** Runs `body`, recording its time only if it returns within `limitMs`.
    * A watchdog calls `onLimit` when the limit passes, so a hung operation
    * is stopped rather than waited for.
    */
  def timed[T](name: String, limitMs: Long, onLimit: () => Unit = () => ())(
      body: => T): Option[(T, Timing)] = {
    synchronized(nAttempted += 1)
    val watchdog = new java.util.Timer(true)
    watchdog.schedule(new java.util.TimerTask { def run(): Unit = onLimit() }, limitMs)
    val t0 = System.nanoTime()
    val result =
      try Right(body)
      catch { case NonFatal(e) => Left(e.toString) }
      finally watchdog.cancel()
    val ms = (System.nanoTime() - t0) / 1e6
    result match {
      case Right(v) if ms <= limitMs =>
        val t = Timing(name, ms)
        synchronized(done += t)
        Some((v, t))
      case Right(_) => fail(name, f"exceeded its $limitMs ms limit ($ms%.0f ms)"); None
      case Left(err) => fail(name, err); None
    }
  }

  /** Counts a failure found after the fact (e.g. a wrong answer). */
  def fail(name: String, why: String): Unit = synchronized {
    nFailed += 1
    if (errors.size < 50) errors += s"$name: $why"
  }

  /** A timed operation whose output turned out wrong: it becomes a failure
    * and its timing is withdrawn.
    */
  def reject(t: Timing, why: String): Unit = synchronized {
    val i = done.indexWhere(_ eq t)
    if (i >= 0) done.remove(i)
    fail(t.name, why)
  }

  /** An attempt timed by the caller itself (the serving client). */
  def attempt(): Unit = synchronized(nAttempted += 1)
}

object Harness {
  /** Spark task slots of the batch workload: every core of the box. */
  val cores = 4

  /** Spark's scratch space, private to this process: runs never share it. */
  private val scratch = s"spark-${ProcessHandle.current.pid}"

  def session(work: File, cores: Int = cores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // bounded status-store history: Spark's own bookkeeping would
      // otherwise grow with every job and blur `heap_live_mb`
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "100")
      .config("spark.local.dir", new File(work, s"$scratch/local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, s"$scratch/warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Set-up measured `reps` times (every repetition but the last is torn
    * down); returns the median seconds and the live state.
    */
  def setupReps[S](reps: Int)(setup: () => S)(teardown: S => Unit): (Double, S) = {
    var state: Option[S] = None
    val secs = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      val s = setup()
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < reps) teardown(s) else state = Some(s)
      dt
    }
    System.err.println(f"[perfbench] set-up runs (s): ${secs.map(x => f"$x%.3f").mkString(" ")}")
    (Stats.median(secs), state.get)
  }

  /** Driver heap still live after full collections, in MB: collections
    * repeat until the live size settles, since each one lets Spark's
    * cleaner thread release broadcast and shuffle state for the next.
    */
  def heapLiveMb(): Double = {
    def collect(): Double = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    var (prev, cur, n) = (Double.MaxValue, collect(), 1)
    while (n < 10 && prev - cur > 0.5) { prev = cur; cur = collect(); n += 1 }
    cur
  }

  /** A progress line on stderr, stamped with the JVM's uptime. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%7.1f s  $msg")

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  def codegen(): (Long, Double) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6)

  /** Batch-workload end-to-end metrics from the per-operation timings.
    * `passMs` are whole-pass times (failed operations included, checks
    * excluded); `rowsMoved` the rows all passes moved.
    */
  def batchEndToEnd(log: OpLog, passMs: Seq[Double], rowsMoved: Double, limitMs: Long,
      setupS: Double, heapMb: Double): Map[String, Double] = {
    val busyS = passMs.sum / 1000.0
    Map(
      "setup_s" -> setupS,
      "heap_live_mb" -> heapMb,
      "goodput_rps" -> log.timings.count(_.ms <= limitMs) / busyS,
      "rows_per_s" -> rowsMoved / busyS,
      "pass_s" -> Stats.median(passMs) / 1000.0)
  }
}
