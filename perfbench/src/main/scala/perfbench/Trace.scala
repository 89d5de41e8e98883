package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed interval. `parent` is 0 for a root; spans of one op share
  * `opId`. Times are `System.nanoTime` on the driver; listener times
  * (epoch ms) are mapped onto the same clock.
  */
final case class Span(id: Long, parent: Long, opId: Long, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** A Spark job as the listener saw it: its job group and its times
  * (epoch ms; `endMs` is -1 until it ends).
  */
final case class JobRec(group: String, startMs: Long, var endMs: Long)

/** One job's Spark work, summed over its tasks. */
final class SparkWork {
  var tasks = 0L
  var cpuNs = 0L
  var schedDelayMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var input = 0L
  var resultBytes = 0L
  var gcMs = 0L
}

/** Spans and counts recorded by the benchmark around its calls into the
  * program. Nothing is recorded inside the program: op/build/plan/exec
  * spans come from the benchmark's own code, `job` spans from a
  * SparkListener (tied to their op by job group, or by time for jobs
  * Spark runs under its own group, e.g. a stream's micro-batches), and
  * `batch` spans from each `StreamingQueryProgress`.
  *
  * Kept in memory and written out once the run ends.
  */
final class Tracer(val on: Boolean) {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()

  def nextId(): Long = ids.incrementAndGet()
  def epochMsToNs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  def add(s: Span): Unit = if (on) spans.add(s)

  def span[A](name: String, parent: Long, opId: Long)(f: => A): A =
    if (!on) f
    else {
      val id = nextId()
      val t0 = System.nanoTime()
      try f finally spans.add(Span(id, parent, opId, name, t0, System.nanoTime()))
    }

  // — Spark listener side —
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  val workByJob = new ConcurrentHashMap[Int, SparkWork]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  val queryNames: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()

  private def work(job: Int): SparkWork = workByJob.computeIfAbsent(job, _ => new SparkWork)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobs.put(e.jobId, JobRec(g, e.time, -1L))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      work(e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(e.stageInfo.stageId, t))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val w = work(stageJob.getOrDefault(e.stageId, -1))
      val m = e.taskMetrics
      val submit = stageSubmitMs.getOrDefault(e.stageId, e.taskInfo.launchTime)
      w.synchronized {
        w.tasks += 1
        w.schedDelayMs += math.max(0L, e.taskInfo.launchTime - submit)
        if (m != null) {
          w.cpuNs += m.executorCpuTime
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.input += m.inputMetrics.bytesRead
          w.resultBytes += m.resultSize
          w.gcMs += m.jvmGCTime
        }
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Option(e.name).foreach(queryNames.add)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on) progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Install the listeners. Job and progress recording only when
    * tracing; query names always (the run's checkpoint sweep uses them).
    */
  def install(spark: SparkSession): Unit = {
    if (on) spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the asynchronous listener buses have caught up. */
  def drain(): Unit = if (on) {
    var last = -1L
    var stable = 0
    while (stable < 3) {
      Thread.sleep(100)
      val n = jobs.size.toLong * 1000003L + progress.size + jobs.values.asScala.count(_.endMs < 0)
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
  }
}

/** Store counters the program keeps as process-wide `AtomicLong`s.
  * They are read by name through reflection, never referenced at
  * compile time, so a program that drops or renames one still builds
  * and runs: the metric is then reported as absent (None).
  */
object Probe {
  private def module(cls: String): Option[AnyRef] =
    try Some(Class.forName(cls + "$").getField("MODULE$").get(null))
    catch { case _: Throwable => None }

  private def member(cls: String, name: String): Option[AnyRef] =
    module(cls).flatMap { m =>
      try Option(m.getClass.getMethod(name).invoke(m)) catch { case _: Throwable => None }
    }

  def long(cls: String, name: String): Option[Long] = member(cls, name).flatMap {
    case a: java.util.concurrent.atomic.AtomicLong => Some(a.get())
    case n: java.lang.Number => Some(n.longValue())
    case _ => None
  }

  /** A `(Long, Long)` pair member, e.g. ConnectionPool.stats. */
  def pair(cls: String, name: String): Option[(Long, Long)] = member(cls, name).flatMap {
    case (a: java.lang.Long, b: java.lang.Long) => Some((a.longValue(), b.longValue()))
    case _ => None
  }

  private val Pkg = "graft.sources.bucketed."
  val Counters: Seq[(String, () => Option[Long])] = Seq(
    "round_trips" -> (() => long(Pkg + "HostConnection", "roundTripCount")),
    "blocks_skipped" -> (() => long(Pkg + "HostConnection", "blocksSkippedCount")),
    "files_read" -> (() => long(Pkg + "FileStore", "filesRead")),
    "vector_reads" -> (() => long(Pkg + "FileStore", "vectorReads")),
    "files_written" -> (() => long(Pkg + "FileStore", "filesWritten")),
    "rows_decoded" -> (() => long(Pkg + "FileStore", "vectorRowsDecoded")),
    "stats_served" -> (() => long(Pkg + "BucketedAggPartitionReader", "statsServedCount")),
    "evictions" -> (() => long(Pkg + "BlockCache", "evictions")),
    "cache_bytes" -> (() => long(Pkg + "BlockCache", "loadedBytes")),
    "dialed" -> (() => pair(Pkg + "ConnectionPool", "stats").map(_._1)),
    "reused" -> (() => pair(Pkg + "ConnectionPool", "stats").map(_._2)))

  def snapshot(): Map[String, Option[Long]] = Counters.map { case (k, f) => k -> f() }.toMap
}

/** Heap left live by a full collection forced as the timed phase ends.
  * Not a peak from GC notifications: what a young or concurrent-cycle
  * pause leaves counts garbage not yet collected, and a full collection
  * lands at a random point of an op, so such readings move with GC
  * timing (2.4× between runs of one seed) rather than with the program.
  */
object LiveHeap {
  /** Two collections a moment apart: Spark's cleaner releases the
    * blocks of checkpoints and broadcasts the first one found dead, and
    * the second reclaims them.
    */
  def mb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
