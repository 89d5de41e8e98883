package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer figures of a traced run, from the spans, the listener
  * records and the store counters. Medians are over the ops of the kinds
  * a metric describes; a metric whose ops did not run reads 0.
  */
object Layers {
  val ReadKinds = Set("lookup", "scan", "join", "cold_scan")
  val WriteKinds = Set("append", "overwrite")
  val DmlKinds = Set("dml")

  /** Child spans must cover an op's wall to within this share, or this
    * many milliseconds, whichever is larger.
    */
  val CoverageTolerance = 0.05
  val CoverageSlackMs = 5.0

  final case class OpView(s: Sample, op: Span, children: Seq[Span], jobs: Seq[Span],
      work: Seq[SparkWork], batches: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) {
    def wall: Double = s.ms
    def child(name: String): Seq[Span] = children.filter(_.name == name)
    def childMs(name: String): Double = child(name).map(_.ms).sum
    def jobMs: Double = coverMs(jobs, op.startNs, op.endNs)
    def jobsIn(name: String): Int =
      jobs.count(j => child(name).exists(c => j.startNs >= c.startNs && j.startNs <= c.endNs))
    def jobMsIn(name: String): Double = child(name).map(c => coverMs(jobs, c.startNs, c.endNs)).sum
    def firstJobDelayMs: Double =
      jobs.map(_.startNs).minOption.map(t => (t - op.startNs) / 1e6).getOrElse(wall)
  }

  /** Milliseconds of [from, to] covered by the union of `spans`. */
  def coverMs(spans: Seq[Span], from: Long, to: Long): Double = {
    val iv = spans.map(s => (math.max(s.startNs, from), math.min(s.endNs, to)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total / 1e6
  }

  private def isoMs(ts: String): Long = java.time.Instant.parse(ts).toEpochMilli

  /** Join the samples with their spans, jobs and stream batches; job and
    * batch spans are added to the tracer's span list on the way.
    */
  def views(run: Run): Seq[OpView] = {
    val t = run.tracer
    val samples = run.samples.asScala.toSeq.sortBy(_.startNs)
    val spans = t.spans.asScala.toSeq
    val opSpan = spans.filter(_.name == "op").map(s => s.opId -> s).toMap
    val childrenOf = spans.filter(_.parent != 0L).groupBy(_.parent)
    val single = samples.map(_.client).distinct.size <= 1
    def opAt(ns: Long): Option[Sample] =
      if (!single) None else samples.find(s => ns >= s.startNs && ns <= s.endNs)
    val jobsByOp = t.jobs.asScala.toSeq.flatMap { case (jobId, rec) =>
      val start = t.epochMsToNs(rec.startMs)
      val end = if (rec.endMs < 0) start else t.epochMsToNs(rec.endMs)
      val owner =
        if (rec.group.startsWith("op-")) Some(rec.group.stripPrefix("op-").toLong)
        else if (rec.group.startsWith("check-")) None
        else opAt(start).map(_.opId)
      owner.map(o => (o, jobId, start, end))
    }.groupBy(_._1)
    val batchesByOp = t.progress.asScala.toSeq.flatMap { p =>
      opAt(t.epochMsToNs(isoMs(p.timestamp))).map(s => s.opId -> p)
    }.groupBy(_._1)
    samples.flatMap { s =>
      opSpan.get(s.opId).map { op =>
        val jobs = jobsByOp.getOrElse(s.opId, Nil).map { case (_, id, a, b) =>
          Span(-id.toLong, op.id, s.opId, "job", a, b) }
        jobs.foreach(t.spans.add)
        val batches = batchesByOp.getOrElse(s.opId, Nil).map(_._2)
        batches.foreach { p =>
          val a = t.epochMsToNs(isoMs(p.timestamp))
          t.spans.add(Span(t.nextId(), op.id, s.opId, "batch", a,
            a + p.durationMs.getOrDefault("triggerExecution", 0L) * 1000000L))
        }
        OpView(s, op, childrenOf.getOrElse(op.id, Nil), jobs,
          jobsByOp.getOrElse(s.opId, Nil).flatMap(j => Option(t.workByJob.get(j._2))), batches)
      }
    }
  }

  /** Ops whose child spans leave more than the tolerance of their wall
    * uncovered.
    */
  def coverageFailures(vs: Seq[OpView]): Seq[String] = vs.flatMap { v =>
    val covered = coverMs(v.children, v.op.startNs, v.op.endNs)
    val gap = v.wall - covered
    if (gap > math.max(CoverageTolerance * v.wall, CoverageSlackMs))
      Some(f"op ${v.s.opId} (${v.s.kind}): children cover $covered%.1f of ${v.wall}%.1f ms")
    else None
  }

  def metrics(run: Run, vs: Seq[OpView], before: Map[String, Option[Long]],
      after: Map[String, Option[Long]], extras: Map[String, Double]): Map[String, Double] = {
    import Run.median
    def of(kinds: Set[String]) = vs.filter(v => kinds.contains(v.s.kind))
    def med(xs: Seq[Double]) = median(xs)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def delta(k: String): Option[Double] =
      for (a <- after.getOrElse(k, None); b <- before.getOrElse(k, None)) yield (a - b).toDouble
    def perOp(k: String, n: Int): Double = delta(k).map(d => if (n == 0) 0.0 else d / n).getOrElse(-1.0)
    val MB = 1048576.0
    val reads = of(ReadKinds)
    val bucketScans = reads.filter(_.s.attrs.contains("scans"))
    val writes = of(WriteKinds)
    val dmls = of(DmlKinds)
    val drives = of(Set("drive"))
    val pipes = of(Set("pipeline"))
    val cc = pipes.filter(_.s.attrs.contains("cc"))
    def driverMs(v: OpView) = math.max(0.0, v.wall - v.childMs("plan") - v.jobMs)
    def trig(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      p.durationMs.getOrDefault(k, 0L).toDouble
    val roundTrips = delta("round_trips")
    val dialed = delta("dialed").getOrElse(0.0)
    val reused = delta("reused").getOrElse(0.0)
    val scanRows = bucketScans.map(_.s.attrs.getOrElse("scan_rows", 0.0)).sum
    val all = vs
    val works = all.flatMap(_.work)
    val n = math.max(1, all.size).toDouble

    val m = Map[String, Double](
      "source.plan_ms" -> med(reads.map(_.childMs("plan"))),
      "source.exec_ms" -> med(reads.map(_.childMs("exec"))),
      "source.tasks" -> mean(reads.map(_.work.map(_.tasks.toDouble).sum)),
      "source.buckets_pruned_ratio" -> mean(bucketScans.map(v =>
        1.0 - v.s.attrs("scan_partitions") / (16.0 * v.s.attrs("scans")))),
      "source.stats_served" -> perOp("stats_served", reads.size),
      "pool.round_trips" -> perOp("round_trips", reads.size),
      "pool.rows_per_round_trip" -> roundTrips.filter(_ > 0).map(scanRows / _).getOrElse(0.0),
      "pool.reuse_ratio" -> (if (dialed + reused > 0) reused / (dialed + reused) else 0.0),
      "pool.blocks_skipped" -> perOp("blocks_skipped", reads.size),
      "cache.loaded_mb" -> after.getOrElse("cache_bytes", None).map(_ / MB).getOrElse(-1.0),
      "cache.evictions" -> delta("evictions").getOrElse(-1.0),
      "filestore.evict_ms" -> med(vs.flatMap(_.child("evict")).map(_.ms)),
      "filestore.files_read" -> perOp("files_read", all.size),
      "filestore.vector_reads" -> perOp("vector_reads", all.size),
      "filestore.rows_decoded" -> perOp("rows_decoded", all.size),
      "filestore.files_written" -> perOp("files_written", all.size),
      "write.job_ms" -> med(writes.map(_.jobMs)),
      "write.task_cpu_ms" -> med(writes.map(_.work.map(_.cpuNs).sum / 1e6)),
      "write.result_mb" -> med(writes.map(_.work.map(_.resultBytes).sum / MB)),
      "commit.driver_ms" -> med(writes.map(driverMs)),
      "commit.driver_cpu_ms" -> med(writes.map(_.s.cpuNs / 1e6)),
      "commit.driver_offcpu_ms" -> med(writes.map(v => math.max(0.0, v.wall - v.jobMs - v.s.cpuNs / 1e6))),
      "dml.plan_ms" -> med(dmls.map(_.firstJobDelayMs)),
      "dml.job_ms" -> med(dmls.map(_.jobMs)),
      "dml.driver_ms" -> med(dmls.map(v => math.max(0.0, v.wall - v.firstJobDelayMs - v.jobMs))),
      "maint.compact_ms" -> med(vs.flatMap(_.child("compact")).map(_.ms)),
      "maint.vacuum_ms" -> med(vs.flatMap(_.child("vacuum")).map(_.ms)),
      "stream.batches" -> mean(drives.map(_.batches.size.toDouble)),
      "stream.plan_ms" -> med(drives.map(_.batches.map(trig(_, "queryPlanning")).sum)),
      "stream.add_batch_ms" -> med(drives.map(_.batches.map(trig(_, "addBatch")).sum)),
      "stream.wal_ms" -> med(drives.map(_.batches.map(trig(_, "walCommit")).sum)),
      "stream.nodata_ms" -> med(drives.map(_.batches.filter(_.numInputRows == 0)
        .map(trig(_, "triggerExecution")).sum)),
      "stream.start_stop_ms" -> med(drives.map(v =>
        math.max(0.0, v.wall - v.batches.map(trig(_, "triggerExecution")).sum))),
      "stream.state_rows" -> med(drives.map(_.batches.lastOption.toSeq
        .flatMap(p => Option(p.stateOperators).toSeq.flatten).map(_.numRowsTotal.toDouble).sum)),
      "stream.state_mb" -> med(drives.map(_.batches.lastOption.toSeq
        .flatMap(p => Option(p.stateOperators).toSeq.flatten).map(_.memoryUsedBytes / MB).sum)),
      "ops.build_ms" -> med(pipes.map(_.childMs("build"))),
      "ops.build_jobs" -> mean(pipes.map(_.jobsIn("build").toDouble)),
      "ops.exec_ms" -> med(pipes.map(_.childMs("exec"))),
      "ops.exec_jobs" -> mean(pipes.map(_.jobsIn("exec").toDouble)),
      "ops.cc_branch" -> mean(cc.map(v => if (v.jobs.size > Layers.CcDriverMaxJobs) 1.0 else 0.0)),
      "spark.jobs" -> all.map(_.jobs.size).sum / n,
      "spark.tasks" -> works.map(_.tasks).sum / n,
      "spark.task_cpu_ms" -> works.map(_.cpuNs).sum / 1e6 / n,
      "spark.sched_delay_ms" -> works.map(_.schedDelayMs).sum / n,
      "spark.shuffle_read_mb" -> works.map(_.shuffleRead).sum / MB / n,
      "spark.shuffle_write_mb" -> works.map(_.shuffleWrite).sum / MB / n,
      "spark.input_mb" -> works.map(_.input).sum / MB / n,
      "spark.gc_ms" -> works.map(_.gcMs).sum / n,
      "setup.session_ms" -> run.setupMs.getOrElse("session", 0.0),
      "setup.gen_ms" -> run.setupMs.getOrElse("gen", 0.0),
      "setup.load_ms" -> run.setupMs.getOrElse("load", 0.0),
      "setup.warmup_ms" -> run.setupMs.getOrElse("warmup", 0.0),
      "trace.op_self_ms" -> med(vs.map(v => v.wall - coverMs(v.children, v.op.startNs, v.op.endNs))),
      "trace.build_self_ms" -> med(vs.filter(_.child("build").nonEmpty)
        .map(v => v.childMs("build") - v.jobMsIn("build"))),
      "trace.plan_self_ms" -> med(vs.filter(_.child("plan").nonEmpty)
        .map(v => v.childMs("plan") - v.jobMsIn("plan"))),
      "trace.exec_self_ms" -> med(vs.filter(_.child("exec").nonEmpty)
        .map(v => v.childMs("exec") - v.jobMsIn("exec"))),
      "trace.job_ms" -> med(vs.map(_.jobMs)),
      "trace.batch_ms" -> med(drives.map(_.batches.map(trig(_, "triggerExecution")).sum)),
      "trace.coverage" -> (if (vs.isEmpty) 0.0
        else vs.map(v => coverMs(v.children, v.op.startNs, v.op.endNs) / math.max(v.wall, 1e-9)).min))
    m ++ Seq("commit.versions_retained", "filestore.write_amp", "filestore.space_amp")
      .map(k => k -> extras.getOrElse(k, 0.0))
  }

  /** The driver union-find branch of connected components runs a
    * handful of jobs (checkpoint, count, collect); the distributed star
    * loop runs about ten per pass.
    */
  val CcDriverMaxJobs = 8
}
