package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sources.bucketed.BucketStore

/** The read half of `serve_ingest`: one client reading a loaded store,
  * the reference connector's own path (split per bucket, reads pinned
  * to the owning host over a pooled connection, snapshot reads). It
  * writes nothing.
  *
  * A round is 20 ops in a fixed order: 12 `lookup`s, 5 `scan`s
  * (filter, aggregate-pushdown and clustered-range, in turn), 2 `join`s
  * and 1 `cold_scan`. The seed picks every key and parameter.
  */
final class ServeScan(nOrders: Long, nEvents: Long) extends Workload {
  val clients = 1
  val Buckets = 16
  private val Hours = 24L * 14
  /** The cold copy holds the lines of the first `ColdOrders` orders. */
  private val ColdOrders = nOrders / 4

  private var li, ord, ev: DataFrame = _
  private var liRows, ordRows, evRows, coldRows = 0L

  // answers the program gave, checked after the timed phase
  private val got = mutable.ArrayBuffer[(Long, String, Seq[String])]()

  def setup(run: Run): Unit = {
    val spark = run.spark
    // the generated frames are pure functions of the seed: the store loads
    // them, and the checks recompute answers from them without the store
    li = run.gen.lineitem(spark, nOrders)
    ord = run.gen.orders(spark, nOrders)
    ev = run.gen.events(spark, nEvents, users = 2000, hours = Hours)
    run.setup("load") {
      BucketStore.load(spark, "li", li, "l_orderkey", Buckets)
      BucketStore.load(spark, "ord", ord, "o_orderkey", Buckets)
      BucketStore.load(spark, "ev", ev, "user_id", Buckets, clusterBy = Some("ts"))
      BucketStore.load(spark, "li_cold", li.filter(col("l_orderkey") < ColdOrders), "l_orderkey",
        Buckets)
    }
    liRows = li.count()
    coldRows = li.filter(col("l_orderkey") < ColdOrders).count()
    ordRows = nOrders
    evRows = nEvents
    run.extra("input_rows") = Map("lineitem" -> liRows, "orders" -> ordRows, "events" -> evRows,
      "lineitem_cold" -> coldRows)
  }

  private def table(run: Run, t: String): DataFrame = run.spark.table(s"graft.`$t`")

  private val Round: Seq[String] = Seq("lookup", "lookup", "scan", "lookup", "lookup", "join",
    "lookup", "lookup", "scan", "lookup", "cold_scan", "lookup", "scan", "lookup", "lookup",
    "join", "lookup", "scan", "lookup", "scan")

  def round(run: Run, client: Int, r: Int): Unit =
    Round.zipWithIndex.foreach { case (kind, i) =>
      val n = r.toLong * Round.size + i
      kind match {
        case "lookup" => lookup(run, n)
        case "scan" => scan(run, n)
        case "join" => join(run, n)
        case "cold_scan" => coldScan(run, n)
      }
    }

  private def keep(run: Run, o: Run#Op, key: String, rows: Array[Row]): Unit =
    if (run.timed) got.synchronized { got += ((o.id, key, ServeScan.canon(rows))) }

  private def lookup(run: Run, n: Long): Unit = run.op("lookup", 0) { o =>
    val k = run.gen.pick(nOrders.toInt, 100, n).toLong
    val rows = run.query(o, lookupQuery(table(run, "li"), k))
    keep(run, o, s"lookup:$k", rows)
    rows.length.toLong
  }

  private def lookupQuery(li: DataFrame, k: Long): DataFrame =
    li.filter(col("l_orderkey") === k)
      .select(col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))

  private def scanQuery(run: Run, variant: Int, n: Long, src: String => DataFrame): (String, DataFrame) =
    variant match {
      case 0 =>
        val flag = Seq("R", "A", "N")(run.gen.pick(3, 101, n))
        val q = run.gen.pick(50, 102, n) + 1
        (s"filter:$flag:$q", src("li").filter(col("l_returnflag") === flag && col("l_quantity") >= q)
          .agg(count(lit(1)).as("n"),
            sum(col("l_extendedprice").cast("decimal(18,2)")).as("s")))
      case 1 =>
        val q = run.gen.pick(50, 103, n) + 1
        (s"agg:$q", src("li").filter(col("l_quantity") >= q).groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), min(col("l_quantity")).as("mn"),
            max(col("l_extendedprice")).as("mx"), min(col("l_linestatus")).as("ms")))
      case _ =>
        val day = run.gen.pick((Hours / 24 - 2).toInt, 104, n)
        val from = run.gen.Epoch2024Us + day * 86400000000L
        (s"range:$day", src("ev").filter(col("ts") >= timestamp_micros(lit(from)) &&
            col("ts") < timestamp_micros(lit(from + 2 * 86400000000L)))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,4)")).as("s")))
    }

  private def scan(run: Run, n: Long): Unit = run.op("scan", 0) { o =>
    val variant = (n % 3).toInt
    var key = ""
    val rows = run.query(o, { val (k, df) = scanQuery(run, variant, n, table(run, _)); key = k; df })
    keep(run, o, key, rows)
    if (variant == 2) evRows else liRows
  }

  private def joinQuery(li: DataFrame, ord: DataFrame, q: Int): DataFrame =
    li.filter(col("l_quantity") >= q).hint("merge")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("s"), count(lit(1)).as("n"))

  private def join(run: Run, n: Long): Unit = run.op("join", 0) { o =>
    val q = run.gen.pick(10, 105, n) + 1
    val rows = run.query(o, joinQuery(table(run, "li"), table(run, "ord"), q))
    keep(run, o, s"join:$q", rows)
    liRows + ordRows
  }

  /** Drop every cached block of the dedicated copy, then scan it: each
    * block reloads from its parquet file, as for a table larger than
    * the block cache.
    */
  private def coldScan(run: Run, n: Long): Unit = run.op("cold_scan", 0) { o =>
    o.step("evict")(BucketStore.evictTable("li_cold"))
    var key = ""
    val rows = run.query(o, {
      val (k, df) = scanQuery(run, 0, n, t => table(run, if (t == "li") "li_cold" else t))
      key = "cold" + k; df
    })
    keep(run, o, key, rows)
    coldRows
  }

  /** Recompute every answer the timed phase got from the generator's
    * own frames, with plain Spark and no bucket store.
    */
  def verify(run: Run): Unit = {
    val src: String => DataFrame = { case "li" => li; case "ev" => ev }
    val expected = mutable.Map[String, Seq[String]]()
    val lookupKeys = got.map(_._2).filter(_.startsWith("lookup:")).map(_.stripPrefix("lookup:").toLong)
      .distinct.toSeq
    if (lookupKeys.nonEmpty) {
      val byKey = li.filter(col("l_orderkey").isin(lookupKeys: _*))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .collect().groupBy(_.getLong(0))
      lookupKeys.foreach { k =>
        expected(s"lookup:$k") = ServeScan.canon(byKey.getOrElse(k, Array.empty[Row])
          .map(r => Row(r.get(1), r.get(2), r.get(3))))
      }
    }
    got.foreach { case (opId, key, answer) =>
      val want = expected.getOrElseUpdate(key, ServeScan.canon((key.split(':').toList match {
        case "coldfilter" :: flag :: q :: Nil =>
          src("li").filter(col("l_orderkey") < ColdOrders)
            .filter(col("l_returnflag") === flag && col("l_quantity") >= q.toInt)
            .agg(count(lit(1)), sum(col("l_extendedprice").cast("decimal(18,2)")))
        case "filter" :: flag :: q :: Nil =>
          src("li").filter(col("l_returnflag") === flag && col("l_quantity") >= q.toInt)
            .agg(count(lit(1)), sum(col("l_extendedprice").cast("decimal(18,2)")))
        case "agg" :: q :: Nil =>
          src("li").filter(col("l_quantity") >= q.toInt).groupBy(col("l_returnflag"))
            .agg(count(lit(1)), min(col("l_quantity")), max(col("l_extendedprice")),
              min(col("l_linestatus")))
        case "range" :: day :: Nil =>
          val from = run.gen.Epoch2024Us + day.toLong * 86400000000L
          src("ev").filter(col("ts") >= timestamp_micros(lit(from)) &&
              col("ts") < timestamp_micros(lit(from + 2 * 86400000000L)))
            .groupBy(col("event_type")).agg(count(lit(1)), sum(col("value").cast("decimal(18,4)")))
        case "join" :: q :: Nil =>
          joinQuery(src("li"), ord, q.toInt)
        case _ => throw new IllegalStateException(s"unknown answer key $key")
      }).collect()))
      if (want != answer)
        run.fail(opId, s"$key: got ${answer.take(3).mkString(";")} want ${want.take(3).mkString(";")}")
    }
    run.extra("checked_ops") = got.size
  }

  def finish(run: Run): Map[String, Double] = Map.empty
}

object ServeScan {
  /** Order-free canonical form of a result: each row as text, sorted. */
  def canon(rows: Array[Row]): Seq[String] = rows.map(_.toSeq.map {
    case d: java.math.BigDecimal => d.stripTrailingZeros().toPlainString
    case v => String.valueOf(v)
  }.mkString("|")).toSeq.sorted
}
