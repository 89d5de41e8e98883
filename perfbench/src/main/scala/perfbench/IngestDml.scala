package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.bucketed.BucketStore

/** The write half of `serve_ingest`: two clients writing at once, one
  * table each — client 0 a copy-on-write table, client 1 a
  * merge-on-read one.
  *
  * A round is 7 ops in a fixed order: `append` (fresh keys), `dml`
  * UPDATE of that batch, `append`, `dml` MERGE (half matched keys, half
  * new), `dml` DELETE of the first batch, `maint` (compact, then vacuum
  * to the last 4 versions) and `overwrite` (a full reload of the base
  * rows). Every write is followed by a check of the table's live row
  * count against the count the generator tracks.
  */
final class IngestDml(baseRows: Long, appendRows: Long) extends Workload {
  val clients = 2
  val Buckets = 16
  val KeepVersions = 4
  private val tables = Seq("t_cow", "t_mor")

  /** Per-table state the generator keeps: next fresh key and batch id,
    * and the live rows it expects.
    */
  private final class Table(val name: String) {
    var nextKey: Long = baseRows
    var nextBatch: Int = 1
    var live: Long = 0L
    var userRows: Long = 0L
    val seenFiles = mutable.Map[String, Long]()
    var newBytes: Long = 0L
    val series = mutable.ArrayBuffer[(Int, Long, Long)]() // (versions retained, dir bytes, live rows)
  }
  private val state = tables.map(t => t -> new Table(t)).toMap

  private def rows(spark: SparkSession, g: Gen, from: Long, n: Long, batch: Int): DataFrame =
    spark.range(from, from + n, 1, 4).select(
      col("id").as("k"), lit(batch).as("batch"),
      (g.draw(100000, 70, col("id")) / 100.0).as("v"),
      concat(lit("s"), g.draw(1000, 71, col("id")).cast("string")).as("s"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L).as("ts"))

  def setup(run: Run): Unit = {
    run.setup("load") {
      tables.foreach { t =>
        BucketStore.load(run.spark, t, base(run), "k", Buckets)
        state(t).live = baseRows
      }
      BucketStore.setDmlMode("t_mor", BucketStore.MergeOnRead)
    }
  }

  private def base(run: Run): DataFrame = rows(run.spark, run.gen, 0, baseRows, 0)

  private def expectLive(run: Run, o: Run#Op, t: Table): Unit = o.check {
    val n = BucketStore.liveRowCount(BucketStore.get(t.name))
    if (n != t.live) throw new CheckFailed(s"${t.name}: live rows $n, generator expects ${t.live}")
    if (run.tracer.on) trackFiles(t, run.timed)
  }

  /** Bytes of table files first seen since the last call. */
  private def trackFiles(t: Table, timed: Boolean): Unit = {
    val files = dirFiles(BucketStore.tableDir(t.name))
    files.foreach { case (f, size) =>
      if (!t.seenFiles.contains(f)) { t.seenFiles(f) = size; if (timed) t.newBytes += size }
    }
  }

  private def dirFiles(dir: Path): Seq[(String, Long)] =
    if (!Files.isDirectory(dir)) Nil
    else Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> (try Files.size(p) catch { case _: Throwable => 0L })).toSeq

  def round(run: Run, client: Int, r: Int): Unit = {
    val spark = run.spark
    val t = state(tables(client))
    val fqn = s"graft.`${t.name}`"
    val a = appendRows
    def append(): (Int, Long) = {
      val b = t.nextBatch; t.nextBatch += 1
      val from = t.nextKey; t.nextKey += a
      run.op("append", client) { o =>
        val df = o.step("build")(rows(spark, run.gen, from, a, b))
        o.step("exec")(df.writeTo(fqn).append())
        t.live += a; if (run.timed) t.userRows += a
        expectLive(run, o, t)
        a
      }
      (b, from)
    }
    def dml(sql: String, liveDelta: Long, touched: Long, prep: => Unit = ()): Unit =
      run.op("dml", client) { o =>
        o.step("build")(prep)
        o.step("exec")(spark.sql(sql))
        t.live += liveDelta; if (run.timed) t.userRows += touched
        expectLive(run, o, t)
        touched
      }
    val (b1, _) = append()
    dml(s"UPDATE $fqn SET v = v + 1 WHERE batch = $b1", 0, a)
    val (_, from2) = append()
    val half = a / 2
    val fresh = t.nextKey; t.nextKey += half
    val b3 = t.nextBatch; t.nextBatch += 1
    val src = s"merge_src_$client"
    dml(s"MERGE INTO $fqn t USING $src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET t.v = s.v, t.batch = s.batch WHEN NOT MATCHED THEN INSERT *",
      half, a, prep = {
        // keys [from2, +half) exist; [fresh, +half) are new
        rows(spark, run.gen, from2, half, b3)
          .unionByName(rows(spark, run.gen, fresh, half, b3))
          .createOrReplaceTempView(src)
      })
    dml(s"DELETE FROM $fqn WHERE batch = $b1", -a, a)
    run.op("maint", client) { o =>
      o.step("compact")(BucketStore.compact(t.name))
      o.step("vacuum")(BucketStore.vacuum(t.name, KeepVersions, 0L))
      expectLive(run, o, t)
      o.check(t.series.synchronized {
        t.series += ((BucketStore.retainedVersionCount(t.name),
          dirFiles(BucketStore.tableDir(t.name)).map(_._2).sum, t.live))
      })
      0L
    }
    run.op("overwrite", client) { o =>
      val df = o.step("build")(base(run))
      o.step("exec")(BucketStore.load(spark, t.name, df, "k", Buckets))
      t.live = baseRows; if (run.timed) t.userRows += baseRows
      expectLive(run, o, t)
      baseRows
    }
  }

  /** Read each table back through the catalog: the live count and the
    * key set must match what the generator wrote.
    */
  def verify(run: Run): Unit = state.values.foreach { t =>
    val r = run.spark.table(s"graft.`${t.name}`")
      .agg(count(lit(1)), countDistinct(col("k")), sum(col("k"))).head()
    val want = baseRows * (baseRows - 1) / 2
    if (r.getLong(0) != t.live || r.getLong(1) != t.live || r.getLong(2) != want)
      run.problems.add(s"${t.name}: read back ${r.getLong(0)} rows / ${r.getLong(1)} keys / " +
        s"key sum ${r.getLong(2)}; generator expects ${t.live} / ${t.live} / $want")
  }

  /** `space_amp`: bytes under the table directories ÷ the live rows
    * written once as parquet. `write_amp`: bytes of table files created
    * in the timed phase ÷ the user rows written, at the same bytes per row.
    */
  def finish(run: Run): Map[String, Double] = {
    val perTable = state.values.toSeq.map { t =>
      val ref = run.dir.resolve(s"space-ref/${t.name}")
      run.spark.table(s"graft.`${t.name}`").write.mode("overwrite").parquet(ref.toString)
      val refBytes = dirFiles(ref).filter(_._1.endsWith(".parquet")).map(_._2).sum.toDouble
      val bytesPerRow = refBytes / math.max(1L, t.live)
      val dirBytes = dirFiles(BucketStore.tableDir(t.name)).map(_._2).sum.toDouble
      val series = t.series.map { case (v, b, live) => Map("versions" -> v,
        "space_amp" -> b / math.max(1.0, live * bytesPerRow)) }
      run.extra(s"${t.name}.series") = series
      (dirBytes / refBytes, BucketStore.retainedVersionCount(t.name).toDouble,
        t.newBytes / math.max(1.0, t.userRows * bytesPerRow))
    }
    Map("filestore.space_amp" -> perTable.map(_._1).sum / perTable.size,
      "commit.versions_retained" -> perTable.map(_._2).max,
      "filestore.write_amp" -> (if (run.tracer.on) perTable.map(_._3).sum / perTable.size else 0.0))
  }
}
