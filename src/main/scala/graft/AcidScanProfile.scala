package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Decompose the `acid_scan_identity` A/B pair (round-17 verdict #1: the
  * pair crept 1.16 → 2.07× across rounds) into driver phases, graft vs
  * stock, on the SAME table shape BaselineBench builds: catalog resolve +
  * analysis, optimization + physical planning, and execution — so the
  * fixed per-scan tax (manifest expansion / stats rule / V1-bridge /
  * reader-factory setup) gets a name instead of a hand-wave.
  *
  * Run: `scripts/run_main.sh graft.AcidScanProfile [reps]`.
  */
object AcidScanProfile {

  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(7)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.lake.AcidTable
    import org.apache.spark.sql.types._

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val wh = Files.createTempDirectory("prof-acid-wh-").toString
    spark.conf.set("spark.sql.catalog.graft", classOf[graft.lake.GraftCatalog].getName)
    spark.conf.set("spark.sql.graft.warehouse", wh)
    val schema = StructType(Seq(
      StructField("pk", StringType), StructField("part", StringType),
      StructField("prio", StringType), StructField("price", DoubleType)))
    val t = AcidTable.create(spark, s"$wh/ab/ordersacid",
      schema, "pk", "part", stablePartitions = true)
    val base = spark.read.parquet(s"$sfDir/orders.parquet").select(
      col("o_orderkey").cast("string").as("pk"),
      concat_ws("", lit("p"), (col("o_custkey") % 16).cast("string")).as("part"),
      col("o_orderpriority").as("prio"),
      col("o_totalprice").cast("double").as("price"))
    t.upsert(base)
    t.compact(0)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ab")
    val stockDir = Files.createTempDirectory("prof-acid-stock-").resolve("p").toString
    base.write.partitionBy("part").parquet(stockDir)
    val q = "SELECT prio, count(*) AS n, sum(price) AS rev " +
      "FROM %s WHERE price > 1000.0 GROUP BY prio"

    def ms(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    }
    def phases(label: String, mkDf: () => org.apache.spark.sql.DataFrame): Unit = {
      val rows = (1 to reps).map { _ =>
        spark.catalog.clearCache()
        var df: org.apache.spark.sql.DataFrame = null
        val tAna = ms { df = mkDf(); df.queryExecution.analyzed }
        val tOpt = ms { df.queryExecution.optimizedPlan }
        val tPhy = ms { df.queryExecution.executedPlan }
        val tExe = ms { df.write.format("noop").mode("overwrite").save() }
        (tAna, tOpt, tPhy, tExe)
      }
      def med(f: ((Double, Double, Double, Double)) => Double) =
        rows.map(f).sorted.apply(rows.size / 2)
      println(f"$label%-8s analyze=${med(_._1)}%7.1fms optimize=${med(_._2)}%7.1fms " +
        f"plan=${med(_._3)}%7.1fms execute=${med(_._4)}%7.1fms " +
        f"total=${med(t => t._1 + t._2 + t._3 + t._4)}%7.1fms")
    }

    // warmup both routes once
    spark.sql(q.format("graft.ab.ordersacid")).write.format("noop").mode("overwrite").save()
    spark.read.parquet(stockDir).createOrReplaceTempView("prof_stock")
    spark.sql(q.format("prof_stock")).write.format("noop").mode("overwrite").save()

    phases("graft", () => spark.sql(q.format("graft.ab.ordersacid")))
    phases("stock", () => {
      spark.read.parquet(stockDir).createOrReplaceTempView("prof_stock")
      spark.sql(q.format("prof_stock"))
    })
    // third route: the GRAFT table's own data files through the STOCK
    // reader — separates file-layout effects (sizes, row groups,
    // encodings) from the batch-scan machinery itself
    val graftFiles = t.liveFilePaths()
    println(s"graft files=${graftFiles.length} " +
      s"bytes=${graftFiles.map(f => new java.io.File(f).length()).sum}")
    val stockFiles = spark.read.parquet(stockDir).inputFiles
    println(s"stock files=${stockFiles.length} " +
      s"bytes=${stockFiles.map(f => new java.io.File(f.stripPrefix("file:")).length()).sum}")
    phases("hybrid", () => {
      spark.read.parquet(graftFiles: _*).createOrReplaceTempView("prof_hybrid")
      spark.sql(
        "SELECT prio, count(*) AS n, sum(price) AS rev FROM prof_hybrid " +
          "WHERE price > 1000.0 GROUP BY prio")
    })
    // task-count + plan shape of the graft route, once
    locally {
      val df = spark.sql(q.format("graft.ab.ordersacid"))
      df.write.format("noop").mode("overwrite").save()
      val scans = org.apache.spark.sql.graft.AcidBatchScan.scansOf(df)
      println(s"graft planned files=${org.apache.spark.sql.graft.AcidBatchScan.lastPlannedFiles.get()} " +
        s"scans=${scans.size}")
      println(df.queryExecution.executedPlan.toString.linesIterator.take(25).mkString("\n"))
    }
    spark.stop()
  }
}
