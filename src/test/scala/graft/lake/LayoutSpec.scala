package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The one layout rule of a partition written whole: the keyed
  * per-bucket layout when its bytes give each bucket at least
  * [[AcidTable.CompactMinBucketFileBytes]], bucketless below that. A keyed
  * bulk load lands in compaction's layout, compaction carries it, and
  * distributed rewrites spread over the cores. */
class LayoutSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val Parts = 8

  /** `perPart` rows in each of `parts` partitions `p0`, `p1`, …, with
    * `payload` of the row's id text. Built by a range scan, so an upsert
    * of it takes the distributed path. */
  private def rows(parts: Int, perPart: Int)(payload: Column => Column): DataFrame =
    spark.range(parts.toLong * perPart).select(
      concat(lit("k"), col("id").cast("string")).as("pk"),
      concat(lit("p"), (col("id") % parts).cast("string")).as("part"),
      col("id").as("v"),
      payload(col("id").cast("string")).as("payload"))

  private def newTable(data: DataFrame): AcidTable =
    AcidTable.create(spark, Files.createTempDirectory("layout-").resolve("t").toString,
      data.schema, "pk", "part", stablePartitions = true)

  /** Per partition directory, the (file, recorded size) entries. */
  private def byPart(t: AcidTable): Map[String, Seq[(String, Long)]] =
    t.timeline.rootView(t.latestVersion()).entries.groupBy(e => t.dataFiles.dirOf(e._1))

  private def bucketsOf(t: AcidTable, files: Seq[(String, Long)]): Seq[Option[Int]] =
    files.map(f => t.dataFiles.bucketOf(f._1))

  private def content(t: AcidTable): Row =
    t.snapshot().agg(count(lit(1)), sum("v"), sum(crc32(col("payload")))).head()

  private def floorBytes(t: AcidTable): Long = t.numBuckets * AcidTable.CompactMinBucketFileBytes

  /** `parts` partitions of 40 000 rows with 64 hex characters each: 3.2 MB
    * per partition by the batch's value bytes, and above the floor on disk. */
  private def keyedData(parts: Int): DataFrame = rows(parts, 40000)(sha2(_, 256))

  /** 8 such partitions, with the output bytes of each task of their load. */
  private lazy val (keyed, keyedLoadTasks) = {
    val data = keyedData(Parts)
    val t = newTable(data)
    (t, Routes.tasksOf { t.upsert(data); () })
  }

  /** A fresh table of 2 keyed partitions above the floor: every file
    * bucketed, so only a forced rewrite touches them. */
  private def keyedPair(): AcidTable = {
    val data = keyedData(2)
    val t = newTable(data)
    t.upsert(data)
    assert(byPart(t).values.forall(fs => bucketsOf(t, fs).forall(_.isDefined)))
    t
  }

  test("a distributed upsert of above-floor partitions writes one file per non-empty bucket") {
    val parts = byPart(keyed)
    assert(parts.size == Parts)
    parts.foreach { case (dir, files) =>
      val buckets = bucketsOf(keyed, files)
      assert(buckets.forall(_.isDefined), s"$dir holds a bucketless file")
      // 40 000 keys fill every bucket
      assert(buckets.flatten.sorted == (0 until keyed.numBuckets), s"$dir: $buckets")
    }
    assert(content(keyed).getLong(0) == Parts * 40000L)
  }

  test("a 256-cell write runs at most max(partitions, cores) write tasks") {
    assert(byPart(keyed).values.map(_.size).sum == 256)
    val writers = keyedLoadTasks.count(_ > 0)
    assert(writers <= math.max(Parts, spark.sparkContext.defaultParallelism),
      s"$writers write tasks")
  }

  test("compact() carries partitions already in compaction's layout: no file is rewritten") {
    byPart(keyed).foreach { case (dir, files) =>
      assert(files.map(_._2).sum >= floorBytes(keyed), s"$dir is below the floor on disk")
    }
    val files = keyed.liveFilePaths().sorted
    val before = content(keyed)
    keyed.compact()
    assert(keyed.liveFilePaths().sorted == files, "the unscoped sweep rewrote a partition")
    keyed.compact(partitions = Some((0 until Parts).map(p => s"p$p")))
    assert(keyed.liveFilePaths().sorted == files, "the scoped compaction rewrote a partition")
    assert(content(keyed) == before)
  }

  test("a below-floor load of bulk_ingest's shape stays one bucketless file per partition") {
    // 20 000 rows of five columns per partition: 1.2 MB of values
    val data = spark.range(2L * 20000).select(
      col("id"),
      concat(lit("d"), (col("id") / 20000).cast("long").cast("string")).as("day"),
      (col("id") * 7919 % 1000003).as("amount"),
      lit(1L).as("salt"),
      md5(col("id").cast("string")).as("note"))
    val t = AcidTable.create(spark, Files.createTempDirectory("layout-").resolve("t").toString,
      data.schema, "id", "day", stablePartitions = true)
    t.upsert(data)
    val parts = byPart(t)
    assert(parts.size == 2)
    parts.foreach { case (dir, files) =>
      assert(bucketsOf(t, files) == Seq(None), s"$dir: ${files.map(_._1)}")
    }
    assert(t.snapshot().count() == 40000)
  }

  test("a compaction of a bucketless partition over 4 MiB runs more than one write task") {
    // 1 536 hex characters per row: 4 000 rows take about 6 MB on disk,
    // and a clustered compaction lays them out bucketless
    val data = rows(1, 4000)(id =>
      concat((0 until 12).map(i => sha2(concat(id, lit(s"-$i")), 512)): _*))
    val t = newTable(data)
    t.upsert(data)
    t.compact(clusterBy = Seq("v"))
    val Seq(loaded) = byPart(t).values.toSeq
    assert(bucketsOf(t, loaded).forall(_.isEmpty))
    assert(loaded.map(_._2).sum > AcidTable.FastPathMaxBytes)
    val before = content(t)
    val writers = Routes.tasksOf { t.compact(partitions = Some(Seq("p0"))); () }.count(_ > 0)
    assert(writers > 1, s"$writers write task(s)")
    // above the floor on disk: re-bucketed, one file per bucket
    val Seq(compacted) = byPart(t).values.toSeq
    assert(bucketsOf(t, compacted).flatten.sorted == (0 until t.numBuckets))
    assert(content(t) == before)
  }

  test("a narrow load between the default row size and its parquet size stays bucketless") {
    // (pk, part, v) is 48 B a row by the schema's default sizes, so 50 000
    // rows would pass the floor; their values take 16 B a row, and parquet
    // stores about as much: no sub-floor bucket files, nothing to re-fold
    val data = spark.range(2L * 50000).select(
      concat(lit("k"), col("id").cast("string")).as("pk"),
      concat(lit("p"), (col("id") % 2).cast("string")).as("part"),
      col("id").as("v"))
    val t = newTable(data)
    assert(50000L * data.schema.defaultSize >= floorBytes(t))
    t.upsert(data)
    byPart(t).foreach { case (dir, files) =>
      assert(files.map(_._2).sum < floorBytes(t), s"$dir is above the floor on disk")
      assert(bucketsOf(t, files) == Seq(None), s"$dir: ${files.map(_._1)}")
    }
    val files = t.liveFilePaths().sorted
    t.compact()
    assert(t.liveFilePaths().sorted == files, "compact() re-folded the load")
  }

  test("purgeDroppedColumns rewrites keyed partitions: a renamed column keeps its values") {
    val t = keyedPair()
    val before = t.snapshot().agg(count(col("payload")), sum(crc32(col("payload")))).head()
    val purged = t.renameColumn("payload", "body").purgeDroppedColumns()
    assert(purged.renamedCols.isEmpty)
    assert(purged.snapshot().agg(count(col("body")), sum(crc32(col("body")))).head() == before)
  }

  test("purgeDroppedColumns rewrites keyed partitions: a DEFAULT lands in every row") {
    val t = keyedPair()
    val purged = t.addColumns(Seq(StructField("tier", StringType)), Map("tier" -> "'gold'"))
      .purgeDroppedColumns()
    assert(purged.columnDefaults.isEmpty)
    assert(purged.snapshot().filter(col("tier") === "gold").count() == 2 * 40000L)
  }

  test("purgeDroppedColumns rewrites keyed partitions: no file keeps a dropped column") {
    val t = keyedPair()
    val purged = t.dropColumns(Seq("payload")).purgeDroppedColumns()
    assert(purged.droppedCols.isEmpty)
    val onDisk = spark.read.option("mergeSchema", "true").parquet(purged.liveFilePaths(): _*)
    assert(!onDisk.schema.fieldNames.contains("payload"), "a live file keeps the dropped bytes")
    val readded = purged.addColumns(Seq(StructField("payload", StringType)))
    assert(readded.snapshot().filter(col("payload").isNotNull).count() == 0)
  }
}
