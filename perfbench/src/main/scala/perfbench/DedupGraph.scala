package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph}

/** The operator half of `stream_dedup`: the dedup and graph pipelines
  * of `graft.operators` over seeded documents, one in ten a planted
  * near-duplicate ([[Gen.DupEvery]]).
  *
  * A round is 3 `pipeline`s in a fixed order: MinHash-LSH pairs,
  * PageRank, and connected components of a seeded chain graph (~100k
  * edges, below the driver union-find's 500k-edge gate). Answers are
  * checked against the planted duplicates and the generator's own
  * graph shape.
  */
final class DedupGraph(nDocs: Long, nOrders: Long, chains: Long) extends Workload {
  val clients = 1

  private var dataDir = ""
  private val inputRows = mutable.Map[String, Long]()
  private var chainNodes = 0L
  private var graphNodes = 0L

  def setup(run: Run): Unit = {
    val spark = run.spark
    val g = run.gen
    dataDir = run.dir.resolve("data").toString
    def file(t: String) = run.dir.resolve(s"data/$t.parquet")
    run.setup("gen") {
      StreamWindow.writeFile(g.documents(spark, nDocs), file("documents"))
      StreamWindow.writeFile(g.lineitem(spark, nOrders), file("lineitem"))
      StreamWindow.writeFile(g.supplier(spark, 1000), file("supplier"))
      g.chainPairs(spark, chains).write.mode("overwrite").parquet(file("pairs").toString)
    }
    Seq("documents", "lineitem", "pairs").foreach(t =>
      inputRows(t) = spark.read.parquet(file(t).toString).count())
    chainNodes = inputRows("pairs") + chains
    val li = spark.read.parquet(file("lineitem").toString)
    graphNodes = li.select(col("l_suppkey").as("n"))
      .union(li.select((col("l_partkey") % 1000 + 1).as("n"))).distinct().count()
    run.extra("input_rows") = inputRows.toMap
    run.extra("planted_dup_share") = 1.0 / g.DupEvery
  }

  /** (source, near-duplicate) id pairs the generator planted below `n`. */
  private def planted(g: Gen, n: Long): Set[(Long, Long)] =
    (1L until n).filter(g.isDup).map(i => (i - g.DupLag, i)).toSet

  private def pairsOf(rows: Array[Row]): Set[(Long, Long)] =
    rows.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet

  private def expectPairs(rows: Array[Row], want: Set[(Long, Long)], what: String): Unit = {
    val found = pairsOf(rows)
    if (found != want)
      throw new CheckFailed(s"$what: ${found.size} pairs, ${want.size} planted; " +
        s"missed ${(want -- found).take(3)}, extra ${(found -- want).take(3)}")
  }

  def round(run: Run, client: Int, r: Int): Unit = {
    val spark = run.spark
    val dup = planted(run.gen, nDocs)
    def pipeline(label: String, input: String, build: => DataFrame)(check: Array[Row] => Unit): Unit =
      run.op("pipeline", client, label) { o =>
        val df = o.step("build")(build)
        val rows = o.step("exec")(df.collect())
        o.check(check(rows))
        inputRows(input)
      }
    pipeline("minhash", "documents", Dedup.minHashLshQuery(spark, dataDir))(expectPairs(_, dup, "minhash"))
    pipeline("pagerank", "lineitem", Graph.pageRankQuery(spark, dataDir)) { rows =>
      if (rows.length != graphNodes)
        throw new CheckFailed(s"pagerank: ${rows.length} ranked nodes, graph has $graphNodes")
    }
    run.op("pipeline", client, "components") { o =>
      o.attrs("cc") = 1.0
      val cc = o.step("build")(Dedup.connectedComponents(
        spark.read.parquet(s"$dataDir/pairs.parquet")))
      val r = o.step("exec")(cc.agg(count(lit(1)), countDistinct(col("keep_id")),
        sum(when(col("keep_id") =!= (col("id") / 10).cast("long") * 10, 1).otherwise(0))).head())
      o.check {
        if (r.getLong(0) != chainNodes || r.getLong(1) != chains || r.getLong(2) != 0L)
          throw new CheckFailed(s"components: ${r.getLong(0)} nodes / ${r.getLong(1)} components / " +
            s"${r.getLong(2)} misplaced; generator has $chainNodes / $chains / 0")
      }
      inputRows("pairs")
    }
  }

  def verify(run: Run): Unit = ()
  def finish(run: Run): Map[String, Double] = Map.empty
}
