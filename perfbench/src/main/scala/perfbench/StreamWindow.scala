package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.bucketed.BucketedQueries
import graft.streaming.StreamOps

/** The stream half of `stream_dedup`: the reference's streaming
  * programs as one-shot drives (every source file read, then the
  * watermark-closing no-data batch) over seeded `events`, `documents`
  * and `orders` files.
  *
  * A round is 3 `drive`s in a fixed order: the windowed word count, the
  * windowed stream-stream join, and the CDC fold of an updated bucket
  * table into a view. Each drive's answer is checked against a batch
  * recomputation of the same windows over the same file.
  */
final class StreamWindow(nEvents: Long, nDocs: Long, nOrders: Long) extends Workload {
  val clients = 1

  private var dataDir = ""
  private val inputRows = mutable.Map[String, Long]()
  private val got = mutable.ArrayBuffer[(Long, String, Seq[String])]()

  def setup(run: Run): Unit = {
    val spark = run.spark
    dataDir = run.dir.resolve("data").toString
    run.setup("gen") {
      StreamWindow.writeFile(run.gen.events(spark, nEvents, users = 200, hours = 24L * 7),
        run.dir.resolve("data/events.parquet"))
      StreamWindow.writeFile(run.gen.documents(spark, nDocs), run.dir.resolve("data/documents.parquet"))
      StreamWindow.writeFile(run.gen.orders(spark, nOrders), run.dir.resolve("data/orders.parquet"))
    }
    Seq("events", "documents", "orders").foreach(t =>
      inputRows(t) = spark.read.parquet(s"$dataDir/$t.parquet").count())
    run.extra("input_rows") = inputRows.toMap
    run.extra("out_of_order_share") = run.gen.OutOfOrderShare
  }

  private val Programs: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("wordcount", "documents", StreamOps.streamingWordCount),
    ("join", "events", StreamOps.windowedStreamJoin),
    ("cdc_mv", "orders", BucketedQueries.cdcMaterializedViewQuery))

  def round(run: Run, client: Int, r: Int): Unit = Programs.foreach { case (prog, input, f) =>
    run.op("drive", client, prog) { o =>
      val df = o.step("build")(f(run.spark, dataDir))
      val rows = o.step("exec")(df.collect())
      if (run.timed) got.synchronized { got += ((o.id, prog, ServeScan.canon(rows))) }
      inputRows(input)
    }
  }

  def verify(run: Run): Unit = {
    val want = mutable.Map[String, Seq[String]]()
    got.foreach { case (opId, prog, answer) =>
      val w = want.getOrElseUpdate(prog, ServeScan.canon(expected(run.spark, prog).collect()))
      if (w != answer)
        run.fail(opId, s"drive $prog: ${answer.size} rows, batch recomputation has ${w.size}" +
          s" (first difference: ${answer.diff(w).headOption.orElse(w.diff(answer).headOption)})")
    }
    run.extra("checked_ops") = got.size
  }

  /** The same windows computed as plain batch queries over the files. */
  private def expected(spark: SparkSession, prog: String): DataFrame = {
    val ev = spark.read.parquet(s"$dataDir/events.parquet")
    def dec(c: org.apache.spark.sql.Column) = sum(c.cast("decimal(18,4)")).cast("double")
    prog match {
      case "wordcount" =>
        val docs = spark.read.parquet(s"$dataDir/documents.parquet")
        val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
        docs.select(((col("doc_id") / 10).cast("long") * 10).as("win_s"),
            explode(split(lower(col("text")), "\\W+")).as("word"))
          .filter(length(col("word")) > 0 && col("win_s") + 10 <= maxId)
          .groupBy(col("win_s"), col("word")).agg(count(lit(1)).as("cnt"))
          .select((col("win_s") * 1000000L).as("win_start"), col("word"), col("cnt"))
      case "join" =>
        val c = ev.filter(col("event_type") === "click")
        val p = ev.filter(col("event_type") === "purchase")
        c.as("a").join(p.as("b"),
            col("a.user_id") === col("b.user_id") &&
              date_trunc("hour", col("a.ts")) === date_trunc("hour", col("b.ts")))
          .select(col("a.user_id"), unix_micros(date_trunc("hour", col("a.ts"))),
            col("a.event_id"), col("b.event_id"))
      case "cdc_mv" =>
        spark.read.parquet(s"$dataDir/orders.parquet")
          .filter(col("o_orderpriority") =!= "5-LOW")
          .groupBy((col("o_custkey") % 100).as("cohort"))
          .agg(count(lit(1)).as("n"),
            dec(when(col("o_orderstatus") === "O", col("o_totalprice") + 10)
              .otherwise(col("o_totalprice"))).as("sum_price"))
    }
  }

  def finish(run: Run): Map[String, Double] = Map.empty
}

object StreamWindow {
  /** Write `df` as ONE parquet file at `path`, the layout the program's
    * file sources expect (`dir/{name.parquet}`).
    */
  def writeFile(df: DataFrame, path: Path): Unit = {
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-") && p.toString.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no parquet part written under $tmp"))
    Files.move(part, path, StandardCopyOption.REPLACE_EXISTING)
    Main.deleteTree(tmp)
  }
}
