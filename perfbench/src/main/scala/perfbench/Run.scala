package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** One timed op as the client saw it. */
final class Sample(val kind: String, val label: String, val client: Int, val opId: Long, val startNs: Long,
    val endNs: Long, var ok: Boolean, val rows: Long, val cpuNs: Long, var err: String,
    val attrs: Map[String, Double]) {
  def ms: Double = (endNs - startNs) / 1e6
}

class CheckFailed(msg: String) extends RuntimeException(msg)

/** State of one benchmark run: the session, the generator, the tracer
  * and every op sample. Workloads call [[op]] around each call into the
  * program and [[step]]s inside it.
  */
final class Run(val spark: SparkSession, val gen: Gen, val tracer: Tracer, val dir: java.nio.file.Path,
    val cpus: Int) {
  val samples = new ConcurrentLinkedQueue[Sample]()
  val problems = new ConcurrentLinkedQueue[String]()
  val setupMs = mutable.LinkedHashMap[String, Double]()
  val extra = mutable.LinkedHashMap[String, Any]()
  @volatile var timed = false
  private val opIds = new AtomicLong()
  private val threadMx = java.lang.management.ManagementFactory.getThreadMXBean

  /** Handle on the op being run: its steps become child spans. */
  final class Op(val id: Long, val spanId: Long) {
    val attrs = mutable.Map[String, Double]()
    private[Run] val checks = mutable.ArrayBuffer[() => Unit]()
    def step[A](name: String)(f: => A): A = tracer.span(name, spanId, id)(f)
    /** Run after the op's wall is taken, under the op's `check` span. */
    def check(f: => Unit): Unit = checks += (() => f)
  }

  /** Run one op on the calling thread. `body` returns the logical rows
    * the op covers. A throw or a failed check counts the op as failed;
    * outside the timed phase (warm-up) it is recorded as a problem.
    */
  def op(kind: String, client: Int, label: String = "")(body: Op => Long): Sample = {
    val id = opIds.incrementAndGet()
    val o = new Op(id, tracer.nextId())
    val sc = spark.sparkContext
    sc.setJobGroup(s"op-$id", kind, interruptOnCancel = false)
    val cpu0 = threadMx.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    var ok = true
    var rows = 0L
    var err = ""
    try rows = body(o)
    catch {
      case e: Throwable => ok = false; err = s"$kind $label: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    val t1 = System.nanoTime()
    val cpu1 = threadMx.getCurrentThreadCpuTime
    tracer.add(Span(o.spanId, 0L, id, "op", t0, t1))
    sc.setJobGroup(s"check-$id", kind, interruptOnCancel = false)
    if (ok) tracer.span("check", 0L, id) {
      o.checks.foreach { f =>
        try f() catch { case e: Throwable => ok = false; err = s"$kind check: ${e.getMessage}" }
      }
    }
    sc.clearJobGroup()
    val s = new Sample(kind, if (label.isEmpty) kind else label, client, id, t0, t1, ok, rows, cpu1 - cpu0, err, o.attrs.toMap)
    if (timed) samples.add(s)
    if (!ok) problems.add((if (timed) "" else "warm-up ") + err.take(500))
    s
  }

  /** Mark a timed op failed after the fact (a deferred check). */
  def fail(opId: Long, why: String): Unit = {
    samples.asScala.find(_.opId == opId).foreach { s => s.ok = false; s.err = why }
    problems.add(why.take(500))
  }

  def setup[A](phase: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally setupMs(phase) = setupMs.getOrElse(phase, 0.0) + (System.nanoTime() - t0) / 1e6
  }

  /** Run `body(c)` for every client `c`, each on its own thread. */
  def concurrently(clients: Int)(body: Int => Unit): Unit =
    if (clients == 1) body(0)
    else {
      val errs = new ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until clients).map { c =>
        val t = new Thread(() => try body(c) catch { case e: Throwable => errs.add(e) }, s"client-$c")
        t.start(); t
      }
      threads.foreach(_.join())
      errs.asScala.headOption.foreach(e => throw e)
    }

  /** Closed loop: each client runs whole rounds, at least two so every
    * op kind has a sample past its first warm execution, and goes on
    * until `seconds` have passed since the phase began. Returns the phase
    * wall in seconds, until the last client finished its round.
    */
  def timedPhase(seconds: Int, clients: Int)(round: (Int, Int) => Unit): Double = {
    timed = true
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    concurrently(clients) { c =>
      var r = 0
      while (r < 2 || System.nanoTime() < deadline) { round(c, r); r += 1 }
    }
    timed = false
    (System.nanoTime() - t0) / 1e9
  }

  /** Build, plan and run a query in three steps; `attrs` get the
    * bucket-scan facts read off the executed plan's SQL metrics.
    */
  def query(o: Op, build: => DataFrame): Array[org.apache.spark.sql.Row] = {
    val df = o.step("build")(build)
    val plan = o.step("plan")(df.queryExecution.executedPlan)
    val rows = o.step("exec")(df.collect())
    if (tracer.on) Run.scanFacts(plan, o.attrs)
    rows
  }
}

object Run extends AdaptiveSparkPlanHelper {
  /** Partitions planned and rows produced by every bucket-store scan in
    * the plan (AQE stages included).
    */
  def scanFacts(plan: SparkPlan, attrs: mutable.Map[String, Double]): Unit = {
    val scans = collectWithSubqueries(plan) { case b: BatchScanExec => b }
      .filter(_.scan.getClass.getName.startsWith("graft."))
    if (scans.nonEmpty) {
      attrs("scans") = scans.size.toDouble
      attrs("scan_partitions") = scans.map(_.inputPartitions.size).sum.toDouble
      attrs("scan_rows") = scans.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum.toDouble
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile (as numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** The tail a sample of `n` supports: p90 once more than 10 samples
    * lie beyond it, else the highest percentile with 10 beyond it;
    * None below 11 samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val n = xs.size
    if (n <= 10) None
    else {
      val p = if (n * 0.1 > 10) 0.9 else 1.0 - 10.0 / n
      Some((p, percentile(xs, p)))
    }
  }
}
