package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Record

/** The snapshot read's two routes:
  *
  *  1. EQUIVALENCE — an in-budget snapshot read on the driver returns the
  *     rows the distributed scan returns, on every table shape; tables
  *     outside the fast path's gate stay on the scan.
  *  2. ZERO JOBS — collecting an in-budget snapshot, directly or through
  *     `AcidSql`'s `SELECT *`, runs no Spark job.
  *  3. PINNED — its rows are read before `snapshot` returns, so a vacuum
  *     that runs before the collect cannot remove them.
  */
class SnapshotSpec extends AnyFunSuite {
  import Routes._

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("primaryKeyValue", StringType),
    StructField("partitionKeyValue", StringType),
    StructField("dataValue", StringType)))

  private def tmp(): String =
    Files.createTempDirectory("acid-snapshot-").resolve("t").toString

  private def df(rs: Record*) = spark.createDataset(rs).toDF()

  private def rows(n: Int, value: String): Seq[Record] =
    (0 until n).map(i => Record(s"k$i", s"P${i % 4}", s"$value$i"))

  private def mkTable(): AcidTable = {
    val t = AcidTable.create(spark, tmp(), schema, "primaryKeyValue",
      "partitionKeyValue", stablePartitions = true, numBuckets = 8)
    t.upsert(df(rows(64, "v"): _*))
    t.upsert(df((0 until 64 by 5).map(i => Record(s"k$i", s"P${i % 4}", s"u$i")): _*))
    t.delete(Seq("k13", "k27"))
    t
  }

  private def keys(got: Seq[Row]): Seq[String] = got.map(_.getString(0))

  test("keys hidden by deletion vectors stay hidden on both routes") {
    val t = mkTable()
    t.deleteVectored(Seq("k6", "k40"))
    assert(t.timeline.rootView(t.latestVersion()).dvs.nonEmpty)
    val got = bothRoutes(t)(t.snapshot())
    assert(got.size == 60 && !keys(got).exists(Set("k6", "k13", "k27", "k40")))

    val mor = mkTable()
    mor.setTableProperty("morDeletes", Some("true"))
    mor.deleteWhere(col("primaryKeyValue").isin("k1", "k2"))
    assert(mor.timeline.rootView(mor.latestVersion()).dvs.nonEmpty)
    val morGot = bothRoutes(mor)(mor.snapshot())
    assert(morGot.size == 60 && !keys(morGot).exists(Set("k1", "k2", "k13", "k27")))
  }

  test("a pinned older version reads its own rows on both routes") {
    val t = mkTable()
    val got = bothRoutes(t)(t.snapshot(0L))
    assert(got.map(r => r.getString(0) -> r.getString(2)).sorted ==
      rows(64, "v").map(r => r.primaryKeyValue -> r.dataValue).sorted)
  }

  test("a hidden-partition table reads on the driver like the scan") {
    val s2 = StructType(Seq(
      StructField("pk", StringType), StructField("part", StringType),
      StructField("n", LongType)))
    val t = AcidTable.create(spark, tmp(), s2, "pk", "part",
      stablePartitions = true, numBuckets = 1)
    t.setTableProperty("partitionTransform", Some("bucket(16, pk)"))
    val data = (0 until 200).map(i => Row(s"k$i", i.toLong))
    t.upsert(spark.createDataFrame(java.util.Arrays.asList(data: _*),
      StructType(s2.filterNot(_.name == "part"))))
    val got = bothRoutes(t)(t.snapshot())
    assert(got.map(_.getLong(2)).sorted == (0L until 200L))
    assert(got.map(_.getString(1)).distinct.size > 4)
  }

  test("an empty table reads no rows on both routes") {
    val t = AcidTable.create(spark, tmp(), schema, "primaryKeyValue",
      "partitionKeyValue", stablePartitions = true)
    assert(bothRoutes(t)(t.snapshot()).isEmpty)
    t.upsert(df(rows(8, "v"): _*))
    t.delete(rows(8, "v").map(_.primaryKeyValue))
    assert(bothRoutes(t)(t.snapshot()).isEmpty)
  }

  test("a renamed column and a column DEFAULT keep the snapshot on the scan") {
    def small(): AcidTable = {
      val t = AcidTable.create(spark, tmp(), StructType(Seq(
        StructField("pk", StringType), StructField("part", StringType),
        StructField("v", LongType))), "pk", "part", stablePartitions = true)
      t.upsert(Seq(("a", "p0", 1L), ("b", "p1", 2L)).toDF("pk", "part", "v"))
      t
    }
    val defaulted = small().addColumns(Seq(StructField("d", LongType)), Map("d" -> "7"))
    val withDefault = bothRoutes(defaulted, driver = false)(defaulted.snapshot())
    assert(withDefault.map(r => r.getString(0) -> r.getLong(3)) == Seq("a" -> 7L, "b" -> 7L))
    val renamed = small().renameColumn("v", "score")
    renamed.upsert(Seq(("c", "p0", 3L)).toDF("pk", "part", "score"))
    val got = bothRoutes(renamed, driver = false)(renamed.snapshot())
    assert(got.map(r => r.getString(0) -> r.getLong(2)) == Seq("a" -> 1L, "b" -> 2L, "c" -> 3L))
  }

  test("a table over the driver budget keeps the snapshot on the scan") {
    val t = AcidTable.create(spark, tmp(), schema, "primaryKeyValue",
      "partitionKeyValue", stablePartitions = true)
    // 64 hex chars of hash per row: incompressible enough that 80k rows
    // take more than FastPathMaxBytes on disk
    t.upsert(spark.range(80000).select(
      concat(lit("k"), col("id").cast(StringType)).as("primaryKeyValue"),
      concat(lit("P"), (col("id") % 4).cast(StringType)).as("partitionKeyValue"),
      sha2(col("id").cast(StringType), 256).as("dataValue")))
    assert(!t.driverScaleFiles(t.timeline.rootView(t.latestVersion()).entries))
    assert(bothRoutes(t, driver = false)(t.snapshot()).size == 80000)
  }

  test("an in-budget snapshot collects with zero Spark jobs, directly and through SQL") {
    val t = mkTable()
    def read(): Unit = { t.snapshot().as[Record].collect(); () }
    def sql(): Unit = {
      AcidSql.query(spark, Map("records" -> t), "SELECT * FROM records").collect(); ()
    }
    read(); sql() // warm
    assert(jobsOf(read()) == 0)
    assert(jobsOf(sql()) == 0)
    AcidTable.localCommitEnabled = false
    try assert(jobsOf(read()) >= 1)
    finally AcidTable.localCommitEnabled = true
  }

  test("an in-budget snapshot is pinned: a vacuum before the collect cannot remove its rows") {
    val t = mkTable()
    val read = t.snapshot()
    val readFiles = t.liveFilePaths()
    // rewrite every cell, then archive every older version and delete its files
    t.upsert(df(rows(64, "new"): _*))
    assert(t.vacuum(keepVersions = 1, graceMillis = 0L) > 0)
    assert(readFiles.forall(f => !Files.exists(java.nio.file.Paths.get(f))),
      "vacuum left some of the read's files")
    val got = read.as[Record].collect().map(r => r.primaryKeyValue -> r.dataValue).sorted.toSeq
    val old = (0 until 64).filterNot(Set(13, 27))
      .map(i => s"k$i" -> (if (i % 5 == 0) s"u$i" else s"v$i"))
    assert(got == old.sorted)
  }
}
