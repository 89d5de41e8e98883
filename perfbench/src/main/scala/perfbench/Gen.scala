package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every column is a pure function of
  * (seed, row id) through `xxhash64`, so the same seed gives the same
  * rows whatever the partitioning, and the generator can state its own
  * counts (rows per key, planted duplicates) without reading the data
  * back.
  *
  * Shapes follow the repo's test tables (TPC-H-ish `lineitem`/`orders`,
  * an `events` stream, `documents`), so the program's
  * table-reading entry points run on them unchanged.
  */
final class Gen(val seed: Long) {

  /** Uniform draw in [0, n) for (salt, parts…). */
  def draw(n: Long, salt: Int, parts: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: parts): _*), lit(n))

  /** Same draw on the driver, for keys and parameters the loop picks. */
  def pick(n: Int, salt: Int, i: Long): Int = {
    val r = new java.util.SplittableRandom(seed * 1000003L + salt * 7919L + i)
    r.nextInt(n)
  }

  /** 2024-01-01T00:00:00Z in epoch microseconds: where events start. */
  val Epoch2024Us = 1704067200000000L

  /** Lines per order: 1..7, so lineitem ≈ 4 × orders. */
  def linesPerOrder(k: Column): Column = draw(7, 1, k) + 1

  def orders(spark: SparkSession, nOrders: Long): DataFrame =
    spark.range(0, nOrders, 1, 4).select(
      col("id").as("o_orderkey"),
      draw(nOrders / 10 max 1, 2, col("id")).as("o_custkey"),
      element_at(array(lit("O"), lit("F"), lit("P")), (draw(3, 3, col("id")) + 1).cast("int"))
        .as("o_orderstatus"),
      (draw(50000000, 4, col("id")) / 100.0 + 1000.0).as("o_totalprice"),
      timestamp_micros(lit(757382400000000L) + draw(2400, 5, col("id")) * 86400000000L)
        .as("o_orderdate"),
      element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"), lit("4-NOT SPECIFIED"),
        lit("5-LOW")), (draw(5, 6, col("id")) + 1).cast("int")).as("o_orderpriority"))

  def lineitem(spark: SparkSession, nOrders: Long): DataFrame =
    spark.range(0, nOrders, 1, 4)
      .select(col("id").as("l_orderkey"),
        explode(sequence(lit(1), linesPerOrder(col("id")).cast("int"))).as("l_linenumber"))
      .select(
        col("l_orderkey"),
        (draw(20000, 10, col("l_orderkey"), col("l_linenumber")) + 1).as("l_partkey"),
        (draw(1000, 11, col("l_orderkey"), col("l_linenumber")) + 1).as("l_suppkey"),
        col("l_linenumber").cast("int").as("l_linenumber"),
        (draw(50, 12, col("l_orderkey"), col("l_linenumber")) + 1).cast("double").as("l_quantity"),
        (draw(10000000, 13, col("l_orderkey"), col("l_linenumber")) / 100.0 + 900.0)
          .as("l_extendedprice"),
        (draw(11, 14, col("l_orderkey"), col("l_linenumber")) / 100.0).as("l_discount"),
        (draw(9, 15, col("l_orderkey"), col("l_linenumber")) / 100.0).as("l_tax"),
        element_at(array(lit("R"), lit("A"), lit("N")),
          (draw(3, 16, col("l_orderkey"), col("l_linenumber")) + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("O"), lit("F")),
          (draw(2, 17, col("l_orderkey"), col("l_linenumber")) + 1).cast("int")).as("l_linestatus"),
        timestamp_micros(lit(757382400000000L) +
          draw(2500, 18, col("l_orderkey"), col("l_linenumber")) * 86400000000L).as("l_shipdate"))

  def supplier(spark: SparkSession, n: Long): DataFrame =
    spark.range(1, n + 1, 1, 1).select(col("id").as("s_suppkey"),
      concat(lit("Supplier#"), col("id").cast("string")).as("s_name"),
      draw(25, 20, col("id")).cast("int").as("s_nationkey"),
      (draw(1000000, 21, col("id")) / 100.0).as("s_acctbal"))

  /** Share of events whose timestamp is moved back by up to 20 minutes,
    * so they arrive after later events in the same file.
    */
  val OutOfOrderShare = 0.05

  /** `n` events over ~`hours` hours: one every `hours·3600/n` seconds
    * on average, 5 event types, `users` users.
    */
  def events(spark: SparkSession, n: Long, users: Long, hours: Long): DataFrame = {
    val stepUs = hours * 3600L * 1000000L / n
    val late = draw(10000, 31, col("id")) < lit((OutOfOrderShare * 10000).toLong)
    val base = lit(Epoch2024Us) + col("id") * stepUs + draw(stepUs, 32, col("id"))
    spark.range(0, n, 1, 4).select(
      col("id").as("event_id"),
      timestamp_micros(when(late, base - draw(1200L * 1000000L, 33, col("id"))).otherwise(base))
        .as("ts"),
      draw(users, 34, col("id")).as("user_id"),
      element_at(array(lit("click"), lit("view"), lit("purchase"), lit("error"), lit("login")),
        (draw(5, 35, col("id")) + 1).cast("int")).as("event_type"),
      (draw(10000, 36, col("id")) / 100.0).as("value"),
      concat(lit("{\"k\": "), draw(100, 37, col("id")).cast("string"), lit("}")).as("props"))
  }

  private val Vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "spark", "line", "sort", "window", "order", "data", "column",
    "join", "small", "big", "customer", "query", "filter", "group", "stream", "vector", "the",
    "a", "index", "bucket", "store", "commit", "shard", "replica", "cache", "block", "page",
    "log", "epoch", "state", "plan", "task", "stage", "shuffle", "driver", "node", "host", "file")

  /** Every `DupEvery`-th document (id > 0) is a near-duplicate of the
    * document `DupLag` ids before it: the same words with one replaced
    * by a word outside the vocabulary. The share is 1/DupEvery.
    */
  val DupEvery = 10
  val DupLag = 3

  def isDup(id: Long): Boolean = id > 0 && id % DupEvery == 0

  /** Documents of 40-80 words. A near-duplicate shares all 3-word
    * shingles but the (at most 3) covering its replaced word.
    */
  def documents(spark: SparkSession, n: Long): DataFrame = {
    val vocab = array(Vocab.map(lit): _*)
    val src = when(col("id") > 0 && col("id") % DupEvery === 0, col("id") - DupLag)
      .otherwise(col("id"))
    val nWords = (draw(41, 40, col("src")) + 40).cast("int")
    val pos = (draw(1000, 41, col("id")) % nWords + 1).cast("int")
    val words = transform(sequence(lit(1), nWords), j =>
      when(col("is_dup") && j === pos, concat(lit("edit"), col("id").cast("string")))
        .otherwise(element_at(vocab,
          (pmod(xxhash64(lit(seed), lit(42), col("src"), j), lit(Vocab.size.toLong)) + 1)
            .cast("int"))))
    spark.range(0, n, 1, 4)
      .select(col("id"), src.as("src"), (col("id") =!= src).as("is_dup"))
      .select(col("id").as("doc_id"), concat_ws(" ", words).as("text"),
        lit("en").as("lang"), concat(lit("src"), (col("id") % 7).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** A pair graph of disjoint chains of 2 or 3 nodes (1 or 2 edges):
    * chain `c` has ids `c·10 + j`, so the component count and each
    * component's minimum id are known without running anything, and
    * the short diameter keeps the distributed loop to a pass or two.
    */
  def chainPairs(spark: SparkSession, chains: Long): DataFrame =
    spark.range(0, chains, 1, 4)
      .select(col("id").as("c"), (draw(2, 60, col("id")) + 2).as("len"))
      .select(col("c"), explode(sequence(lit(0L), col("len") - 2)).as("j"))
      .select((col("c") * 10 + col("j")).as("id_a"), (col("c") * 10 + col("j") + 1).as("id_b"))
}
