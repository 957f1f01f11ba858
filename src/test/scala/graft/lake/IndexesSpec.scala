package graft.lake

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The distributed route of the one index pass: a commit whose new files
  * are larger than the driver budget builds its stats and blooms in ONE
  * executor pass, and records the same per-file stats the driver route
  * would for the same rows.
  */
class IndexesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** 8 000 rows over two partitions with a 1 536-character hex payload
    * per row — about 6 MB of parquet, above the driver budget. Built by
    * a range scan, so the commit takes the distributed write path. */
  private def bulk = spark.range(8000).select(
    concat(lit("k"), col("id").cast("string")).as("pk"),
    concat(lit("P"), (col("id") % 2).cast("string")).as("part"),
    (col("id") * 3).as("x"),
    concat((0 until 12).map(i => sha2(concat(col("id").cast("string"), lit(s"-$i")), 512)): _*)
      .as("blob"))

  private def newTable(indexed: Boolean): AcidTable = {
    val t = AcidTable.create(spark, Files.createTempDirectory("indexes-").resolve("t").toString,
      bulk.schema, "pk", "part", stablePartitions = true)
    if (indexed) {
      t.setTableProperty("statsColumns", Some("x,pk"))
      t.setTableProperty("bloomColumns", Some("pk"))
    }
    t
  }

  /** Spark jobs one upsert of [[bulk]] runs. */
  private def jobsOf(t: AcidTable): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      t.upsert(bulk)
      Thread.sleep(500) // listener events are delivered asynchronously
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("distributed route: one job builds per-file stats and blooms equal to the driver route's") {
    val plain = newTable(indexed = false)
    val t = newTable(indexed = true)
    jobsOf(plain) // warm the write path outside the compared pair
    val base = jobsOf(newTable(indexed = false))
    val indexed = jobsOf(t)
    assert(indexed - base == 1, s"index work ran ${indexed - base} jobs (commit alone: $base)")

    val files = t.timeline.rootView(t.latestVersion()).entries
    assert(files.map(_._2).sum > AcidTable.FastPathMaxBytes,
      s"new files must exceed the driver budget: ${files.map(_._2).sum} bytes")
    val recorded = t.indexes.readStats()
    val driver = t.indexes.fileStats(files, Seq("x", "pk"), driver = true)
    assert(files.forall(f => recorded.get(f._1) == driver.get(f._1) && driver.contains(f._1)),
      s"recorded $recorded, driver route $driver")

    // blooms: an equality probe on pk keeps only the key's partition
    val kept = t.indexes.prunedFiles(Map.empty, Seq("pk" -> Seq("k5")))
    assert(kept.nonEmpty && kept.forall(_.startsWith("part=P1/")), kept.toString)
    assert(t.lookup(Seq("k5")).collect().map(_.getLong(2)).toSeq == Seq(15L))
  }
}
