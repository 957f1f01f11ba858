package graft.lake

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Hidden partitioning (the `partitionTransform` table property —
  * Iceberg's partition transforms re-expressed over this engine's
  * STRING partition column). Contracts pinned here:
  *
  *  1. WRITE DERIVATION — batches that omit the partition column (or
  *     leave it NULL, the SQL partial-insert shape) get it computed by
  *     the transform; an explicitly-provided value that DISAGREES is
  *     rejected by the auto-added CHECK constraint.
  *  2. READ TRANSPOSITION — pushed predicates on the SOURCE column turn
  *     into partition lists: equality through the transform itself, a
  *     closed time range through period enumeration; untransposable
  *     shapes decline (full list, never wrong).
  *  3. LIFECYCLE — loud parse/type validation, immutability once set
  *     (and once data exists), every transform kind derives correctly.
  */
class HiddenPartitionSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("pk", StringType),
    StructField("part", StringType),
    StructField("ts", TimestampType),
    StructField("val", DoubleType)))

  private val noPart = StructType(schema.filterNot(_.name == "part"))

  private def tmp() = Files.createTempDirectory("hidden-part-")

  private def newTable(transform: String): AcidTable = {
    val t = AcidTable.create(spark, tmp().resolve("t").toString, schema, "pk", "part",
      stablePartitions = true, numBuckets = 2)
    t.setTableProperty("partitionTransform", Some(transform))
    t
  }

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def batchNoPart(rows: (String, String, Double)*) =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r._1, ts(r._2), r._3)): _*), noPart)

  test("writes without the partition column derive it from the transform") {
    val t = newTable("month(ts)")
    t.upsert(batchNoPart(
      ("a", "2024-01-05 10:00:00", 1.0),
      ("b", "2024-02-11 00:30:00", 2.0),
      ("c", "2024-02-28 23:59:59", 3.0)))
    val got = t.snapshot().select("pk", "part").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(got == Map("a" -> "2024-01", "b" -> "2024-02", "c" -> "2024-02"))
    // the layout is real: directories carry the derived values
    assert(t.snapshot().inputFiles.exists(_.contains("part=2024-01")))
  }

  test("NULL partition values fill in (the SQL partial-insert shape)") {
    val t = newTable("month(ts)")
    val withNullPart = spark.createDataFrame(java.util.Arrays.asList(
      Row("a", null, ts("2024-03-02 08:00:00"), 1.0),
      Row("b", "2024-04", ts("2024-04-09 08:00:00"), 2.0)), schema)
    t.upsert(withNullPart)
    val got = t.snapshot().select("pk", "part").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(got == Map("a" -> "2024-03", "b" -> "2024-04"))
  }

  test("an explicitly-provided value that disagrees fails the auto-constraint") {
    val t = newTable("month(ts)")
    val wrong = spark.createDataFrame(java.util.Arrays.asList(
      Row("a", "2030-12", ts("2024-03-02 08:00:00"), 1.0)), schema)
    val e = intercept[Exception] { t.upsert(wrong) }
    assert(e.getMessage.contains("partition_transform"), e.getMessage)
  }

  test("equality on the source column transposes to one partition") {
    val t = newTable("month(ts)")
    t.upsert(batchNoPart(
      ("a", "2024-01-05 10:00:00", 1.0), ("b", "2024-02-11 00:30:00", 2.0),
      ("c", "2024-03-28 23:59:59", 3.0), ("d", "2024-04-01 00:00:00", 4.0)))
    val parts = t.transformPartitionsForEquals("ts", Seq(ts("2024-02-11 00:30:00")))
    assert(parts.contains(Seq("2024-02")))
    assert(t.indexes.prunedFiles(Map.empty, Nil, -1L, parts).forall(_.startsWith("part=2024-02/")))
    // non-source column or no transform: declined
    assert(t.transformPartitionsForEquals("val", Seq(1.0)).isEmpty)
  }

  test("a closed time range enumerates the touched periods only") {
    val t = newTable("month(ts)")
    t.upsert(batchNoPart(
      ("a", "2024-01-05 10:00:00", 1.0), ("b", "2024-02-11 00:30:00", 2.0),
      ("c", "2024-03-28 23:59:59", 3.0), ("d", "2024-06-01 00:00:00", 4.0)))
    val parts = t.transformPartitionsForRange("ts",
      ts("2024-02-20 00:00:00"), ts("2024-04-02 00:00:00"))
    assert(parts.contains(Seq("2024-02", "2024-03", "2024-04")))
    val files = t.indexes.prunedFiles(Map.empty, Nil, -1L, parts)
    val all = t.indexes.prunedFiles(Map.empty, Nil)
    assert(files.nonEmpty && files.size < all.size, s"${files.size} of ${all.size}")
    assert(files.forall(f => f.startsWith("part=2024-02/") || f.startsWith("part=2024-03/")))
    // a range wider than 4096 periods declines rather than enumerating
    assert(t.transformPartitionsForRange("ts",
      ts("1900-01-01 00:00:00"), ts("2100-01-01 00:00:00")).isEmpty ||
      t.partitionTransform.get.asInstanceOf[TimeTransform].unit == "month")
  }

  test("catalog SQL: a ts range prunes partitions the user never named") {
    val wh = Files.createTempDirectory("graft-cat-hidden-").toString
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.graft.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.hp")
    spark.sql("""CREATE TABLE graft.hp.ev (pk STRING, part STRING, ts TIMESTAMP, v DOUBLE)
                |PARTITIONED BY (part)
                |TBLPROPERTIES ('primaryKey' = 'pk', 'numBuckets' = '2',
                |               'partitionTransform' = 'month(ts)')""".stripMargin)
    val t = AcidTable.open(spark, Paths.get(wh, "hp", "ev").toString)
    val noPv = StructType(Seq(
      StructField("pk", StringType), StructField("ts", TimestampType),
      StructField("v", DoubleType)))
    t.upsert(spark.createDataFrame(java.util.Arrays.asList(
      Row("a", ts("2024-01-05 10:00:00"), 1.0), Row("b", ts("2024-02-11 00:30:00"), 2.0),
      Row("c", ts("2024-03-28 23:59:59"), 3.0), Row("d", ts("2024-07-01 00:00:00"), 4.0)),
      noPv))
    val got = spark.sql(
      """SELECT pk FROM graft.hp.ev
        |WHERE ts >= TIMESTAMP'2024-02-01 00:00:00'
        |  AND ts < TIMESTAMP'2024-04-01 00:00:00' ORDER BY pk""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("b", "c"))
    spark.sql("DROP TABLE graft.hp.ev")
  }

  test("streaming ingest derives partitions: the canonical event-time use") {
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = Files.createTempDirectory("hp-src-").toString
    val ckpt = Files.createTempDirectory("hp-ckpt-").toString
    val t = newTable("day(ts)")
    // two micro-batches, three days of events, NO partition column anywhere
    spark.createDataFrame(java.util.Arrays.asList(
      Row("a", ts("2024-05-01 01:00:00"), 1.0), Row("b", ts("2024-05-01 13:00:00"), 2.0)),
      noPart).coalesce(1).write.mode("append").parquet(srcDir)
    spark.createDataFrame(java.util.Arrays.asList(
      Row("c", ts("2024-05-02 08:00:00"), 3.0), Row("d", ts("2024-05-03 09:00:00"), 4.0)),
      noPart).coalesce(1).write.mode("append").parquet(srcDir)
    val q = spark.readStream.schema(noPart)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .writeStream.format("graft-acid")
      .option("path", t.path)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = t.snapshot().select("pk", "part").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(got == Map("a" -> "2024-05-01", "b" -> "2024-05-01",
      "c" -> "2024-05-02", "d" -> "2024-05-03"))
    assert(t.partitionValues() == Seq("2024-05-01", "2024-05-02", "2024-05-03"))
  }

  test("bucket, truncate, and identity transforms derive correctly") {
    val s2 = StructType(Seq(
      StructField("pk", StringType), StructField("part", StringType),
      StructField("code", StringType), StructField("n", LongType)))
    val noP = StructType(s2.filterNot(_.name == "part"))
    def b(rows: (String, String, Long)*) = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r._1, r._2, r._3)): _*), noP)

    val tb = AcidTable.create(spark, tmp().resolve("t").toString, s2, "pk", "part")
    tb.setTableProperty("partitionTransform", Some("bucket(8, n)"))
    tb.upsert(b(("a", "x", 42L), ("b", "y", 42L), ("c", "z", 7L)))
    val bparts = tb.snapshot().select("part").collect().map(_.getString(0))
    assert(bparts.forall(_.matches("b\\d{4}")))
    // equal source values land in (and transpose to) the same bucket
    assert(tb.transformPartitionsForEquals("n", Seq(42L)).get ==
      Seq(tb.snapshot().filter(col("pk") === "a").select("part").head.getString(0)))

    val tt = AcidTable.create(spark, tmp().resolve("t").toString, s2, "pk", "part")
    tt.setTableProperty("partitionTransform", Some("truncate(2, code)"))
    tt.upsert(b(("a", "usa", 1L), ("b", "usb", 2L), ("c", "fr", 3L)))
    assert(tt.snapshot().filter(col("pk") === "a").select("part").head.getString(0) == "us")
    assert(tt.transformPartitionsForEquals("code", Seq("usz")).contains(Seq("us")))

    val ti = AcidTable.create(spark, tmp().resolve("t").toString, s2, "pk", "part")
    ti.setTableProperty("partitionTransform", Some("identity(n)"))
    ti.upsert(b(("a", "x", 5L)))
    assert(ti.snapshot().select("part").head.getString(0) == "5")
  }

  test("a PK-derived transform gives point lookups their partition hint for free") {
    val s2 = StructType(Seq(
      StructField("pk", StringType), StructField("part", StringType),
      StructField("n", LongType)))
    val noP = StructType(s2.filterNot(_.name == "part"))
    val t = AcidTable.create(spark, tmp().resolve("t").toString, s2, "pk", "part",
      stablePartitions = true, numBuckets = 1)
    t.setTableProperty("partitionTransform", Some("bucket(16, pk)"))
    // one bulk commit spread across the 16 hash partitions
    val rows = (0 until 200).map(i => Row(s"k$i", i.toLong))
    t.upsert(spark.createDataFrame(java.util.Arrays.asList(rows: _*), noP))
    val live = t.snapshot().inputFiles.length
    assert(live > 4, s"expected a spread layout, got $live files")
    // no hint passed: the keys determine their partitions via the transform
    val pruned = t.lookupFiles(Seq("k7"))
    assert(pruned.size == 1, s"PK-derived hint should isolate one file: $pruned")
    assert(t.lookup(Seq("k7")).collect().map(_.getLong(2)).toSeq == Seq(7L))
    // misses stay misses through the derived hint
    assert(t.lookup(Seq("k9999")).isEmpty)
  }

  test("validation is loud; the transform is immutable once set") {
    val t = AcidTable.create(spark, tmp().resolve("t").toString, schema, "pk", "part")
    intercept[IllegalArgumentException] {
      t.setTableProperty("partitionTransform", Some("year(ts)")) // not in the grammar
    }
    intercept[IllegalArgumentException] {
      t.setTableProperty("partitionTransform", Some("month(nope)"))
    }
    intercept[IllegalArgumentException] {
      t.setTableProperty("partitionTransform", Some("month(val)")) // DOUBLE source
    }
    intercept[IllegalArgumentException] {
      t.setTableProperty("partitionTransform", Some("hour(part)")) // the partition col
    }
    t.setTableProperty("partitionTransform", Some("month(ts)"))
    t.setTableProperty("partitionTransform", Some("month(ts)")) // same value: fine
    intercept[IllegalArgumentException] {
      t.setTableProperty("partitionTransform", Some("day(ts)"))
    }
    intercept[IllegalArgumentException] {
      t.setTableProperty("partitionTransform", None)
    }
    // and never after the first commit on a fresh table
    val t2 = AcidTable.create(spark, tmp().resolve("t2").toString, schema, "pk", "part")
    t2.upsert(spark.createDataFrame(java.util.Arrays.asList(
      Row("a", "p0", ts("2024-01-01 00:00:00"), 1.0)), schema))
    intercept[IllegalArgumentException] {
      t2.setTableProperty("partitionTransform", Some("month(ts)"))
    }
  }
}
