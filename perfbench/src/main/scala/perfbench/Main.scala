package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.sources.bucketed.BucketStore

/** One benchmark run in this JVM:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --run-dir DIR --cpus C [--launch-ms T] [--trace-out FILE]
  *
  * Set-up (session, input generation, store loads, one warm-up round per
  * client), then the closed-loop timed phase, then the output checks.
  * Prints one `PERFBENCH_RESULT {json}` line: the end-to-end metrics
  * (`--trace 0`) or the per-layer ones (`--trace 1`), plus the detail
  * `run.py` reports. Exits nonzero if any op failed or a check did not
  * hold.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workload(args("workload"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val traced = args.getOrElse("trace", "0") == "1"
    val runDir = Paths.get(args("run-dir")).toAbsolutePath
    val cpus = args("cpus").toInt
    val launchMs = args.get("launch-ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)

    BucketStore.storageRootOverride = Some(Files.createDirectories(runDir.resolve("store")))
    val tracer = new Tracer(traced)
    val t0 = System.nanoTime()
    val spark = GraftSessionFor(runDir, cpus)
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val run = new Run(spark, new Gen(seed), tracer, runDir, cpus)
    run.setupMs("session") = sessionMs
    val startedMs = System.currentTimeMillis()
    var exit = 1
    try {
      tracer.install(spark)
      workload.setup(run)
      run.setup("warmup") {
        run.concurrently(workload.clients)(c => workload.round(run, c, -1 - c))
      }
      val before = Probe.snapshot()
      val timedStartMs = System.currentTimeMillis()
      val wall = run.timedPhase(seconds, workload.clients)(workload.round(run, _, _))
      val heapLiveMb = LiveHeap.mb()
      val after = Probe.snapshot()
      tracer.drain()
      workload.verify(run)
      val extras = workload.finish(run)
      val samples = run.samples.asScala.toSeq
      val key = samples.filter(s => workload.keyOps.contains(s.kind)).map(_.ms)
      val endToEnd = Map(
        "setup_s" -> (timedStartMs - launchMs) / 1000.0,
        "ops_per_s" -> samples.size / wall,
        "rows_per_s" -> samples.filter(s => workload.rowOps.contains(s.kind)).map(_.rows).sum / wall,
        "op_p50_ms" -> Run.median(key),
        "heap_live_mb" -> heapLiveMb)
      val byKind = (samples.groupBy(_.kind) ++ samples.filter(s => s.label != s.kind)
          .groupBy(s => s"${s.kind}:${s.label}")).toSeq.sortBy(_._1).map { case (k, ss) =>
        val ms = ss.map(_.ms)
        k -> (Map[String, Any]("n" -> ss.size, "failed" -> ss.count(!_.ok),
          "p50_ms" -> Run.median(ms)) ++
          Run.tail(ms).map { case (p, v) => Map("tail_pct" -> p * 100, "tail_ms" -> v) }
            .getOrElse(Map.empty))
      }.toMap
      val (layers, coverage) =
        if (!traced) (Map.empty[String, Double], Seq.empty[String])
        else {
          val vs = Layers.views(run)
          (Layers.metrics(run, vs, before, after, extras), Layers.coverageFailures(vs))
        }
      coverage.take(20).foreach(c => run.problems.add(s"trace coverage: $c"))
      val failed = samples.count(!_.ok)
      val problems = run.problems.asScala.toSeq
      val correct = problems.isEmpty && failed == 0 && samples.nonEmpty
      val absent = (before ++ after).collect { case (k, None) => k }.toSeq.distinct.sorted
      val result = Map[String, Any](
        "workload" -> workload.name, "seed" -> seed, "trace" -> traced,
        "correct" -> correct, "attempted" -> samples.size, "failed" -> failed,
        "error_rate" -> (if (samples.isEmpty) 1.0 else failed.toDouble / samples.size),
        "timed_s" -> wall, "end_to_end" -> endToEnd, "per_layer" -> layers, "ops" -> byKind,
        "setup_ms" -> run.setupMs.toMap, "extra" -> (run.extra.toMap ++ extras),
        "cpus" -> cpus, "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "absent_counters" -> absent, "problems" -> problems.take(20),
        "spans" -> tracer.spans.size)
      if (traced) args.get("trace-out").foreach(p => writeSpans(Paths.get(p), tracer))
      println("PERFBENCH_RESULT " + Json(result))
      exit = if (correct) 0 else 3
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        exit = 2
    } finally {
      try spark.stop() catch { case _: Throwable => () }
      sweepCheckpoints(tracer, startedMs)
    }
    System.exit(exit)
  }

  /** The program's own session settings (`GraftSession.builder`), with
    * every scratch directory Spark writes inside the run directory.
    */
  private def GraftSessionFor(runDir: Path, cpus: Int): SparkSession = {
    val spark = graft.GraftSession.builder("perfbench", s"local[$cpus]", cpus)
      .config("spark.local.dir", Files.createDirectories(runDir.resolve("spark-local")).toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation",
        Files.createDirectories(runDir.resolve("checkpoints")).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(runDir.resolve("rdd-checkpoints").toString)
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  /** The program keeps one-shot stream checkpoints in tmpfs and deletes
    * them itself; remove any this run's queries left behind.
    */
  private def sweepCheckpoints(tracer: Tracer, sinceMs: Long): Unit = {
    val shm = Paths.get("/dev/shm")
    if (Files.isDirectory(shm)) {
      val names = tracer.queryNames.asScala.toSet
      try Files.list(shm).iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        names.exists(q => n.startsWith(s"graft-ckpt-$q-")) &&
          Files.getLastModifiedTime(p).toMillis >= sinceMs
      }.foreach(deleteTree)
      catch { case _: Throwable => () }
    }
  }

  def deleteTree(p: Path): Unit =
    try Files.walk(p).sorted(java.util.Comparator.reverseOrder()).iterator().asScala
      .foreach(f => Files.deleteIfExists(f))
    catch { case _: Throwable => () }

  private def writeSpans(out: Path, t: Tracer): Unit = {
    Files.createDirectories(out.toAbsolutePath.getParent)
    val lines = t.spans.asScala.toSeq.sortBy(_.startNs).map(s => Json(Map(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.opId, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    Files.write(out, lines.asJava)
  }
}

/** Minimal JSON writer for the result line and the span file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
