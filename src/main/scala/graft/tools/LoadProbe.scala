package graft.tools

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.sources.bucketed.BucketStore

/** Dev measurement aid (guide §1: measure first): break a
  * `BucketStore.load` into its phases — the Spark write job (scan +
  * task-side row conversion + Kryo commit-message transport) vs the
  * driver-side commit (merge + cluster sort + parquet spill +
  * manifest). Usage: `LoadProbe <sfDir> [reps]`.
  */
object LoadProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark: SparkSession = GraftSession
      .builder("graft-loadprobe", s"local[$cpus]", shufflePartitions = cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val log = new Profile.JobLog
    spark.sparkContext.addSparkListener(log)

    def timed[A](f: => A): (Double, Double) = {
      log.clear(); log.enabled = true
      val t0 = System.nanoTime()
      f
      val wall = (System.nanoTime() - t0) / 1e9
      log.enabled = false
      import scala.jdk.CollectionConverters._
      val jobs = log.jobs.asScala.values
        .map(j => math.max(0L, j.end - j.start)).sum / 1e3
      (wall, jobs)
    }

    case class Case(table: String, src: String, key: String, clusterBy: Option[String])
    val cases = Seq(
      Case("probe_orders", "orders", "o_orderkey", None),
      Case("probe_lineitem", "lineitem", "l_orderkey", None),
      Case("probe_li_decclust", "lineitem_dec", "l_orderkey", Some("l_extendedprice")),
      Case("probe_events_clust", "events", "user_id", Some("ts")))

    // warmup
    spark.read.parquet(s"$sfDir/orders.parquet").queryExecution.toRdd.count(): Unit

    // serializer cost of a commit-message-sized Row payload: is the
    // task-result Kryo hop worth a custom format?
    {
      val rows = graft.tables.Tables.load(spark, sfDir, "lineitem").collect()
      val ser = org.apache.spark.SparkEnv.get.serializer.newInstance()
      val msg = graft.sources.bucketed.BucketWriteCommit(Array(rows))
      (1 to reps).foreach { r =>
        val t0 = System.nanoTime()
        val buf = ser.serialize(msg)
        val t1 = System.nanoTime()
        val back = ser.deserialize[graft.sources.bucketed.BucketWriteCommit](buf)
        val t2 = System.nanoTime()
        val same = back.rowsByBucket(0).length == rows.length &&
          back.rowsByBucket(0).zip(rows).forall { case (a, b) => a == b } &&
          back.rowsByBucket(0)(0).schema == rows(0).schema
        println(f"[loadprobe] commitmsg ${rows.length} rows: ser ${(t1 - t0) / 1e9}%.3fs " +
          f"(${buf.limit() / 1e6}%.1f MB) deser ${(t2 - t1) / 1e9}%.3fs roundtrip=$same")
      }
    }

    // phase floors for lineitem: scan alone, scan + bucket exchange
    {
      val df = graft.tables.Tables.load(spark, sfDir, "lineitem")
      (1 to reps).foreach { r =>
        val (w1, j1) = timed { df.queryExecution.toRdd.count(): Unit }
        val (w2, j2) = timed {
          df.repartition(16, org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.hash(org.apache.spark.sql.functions.col("l_orderkey")),
            org.apache.spark.sql.functions.lit(16)))
            .write.format("noop").mode("overwrite").save()
        }
        println(f"[loadprobe] lineitem floors rep $r: scan wall $w1%6.3fs job $j1%6.3fs | " +
          f"scan+exchange wall $w2%6.3fs job $j2%6.3fs")
      }
    }

    cases.foreach { c =>
      val df =
        if (c.src == "events") graft.tables.Tables.events(spark, sfDir)
        else if (c.src == "lineitem_dec") {
          // q268's load shape: projected lineitem with decimal columns
          val dec = org.apache.spark.sql.types.DecimalType(12, 2)
          graft.tables.Tables.load(spark, sfDir, "lineitem")
            .select(org.apache.spark.sql.functions.col("l_orderkey"),
              org.apache.spark.sql.functions.col("l_returnflag"),
              org.apache.spark.sql.functions.col("l_quantity").cast(dec).as("l_quantity"),
              org.apache.spark.sql.functions.col("l_extendedprice").cast(dec).as("l_extendedprice"))
        }
        else graft.tables.Tables.load(spark, sfDir, c.src)
      val n = df.count()
      (1 to reps).foreach { r =>
        BucketStore.drop(c.table): Unit
        val (wall, jobs) = timed {
          BucketStore.load(spark, c.table, df, c.key, 16, clusterBy = c.clusterBy)
        }
        println(f"[loadprobe] ${c.table}%-20s rows=$n%7d rep $r: " +
          f"wall $wall%6.3fs jobWall $jobs%6.3fs driverSide ${wall - jobs}%6.3fs")
      }
      BucketStore.drop(c.table): Unit
    }
    spark.stop()
  }
}
