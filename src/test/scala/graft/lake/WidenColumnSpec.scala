package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Metadata-only type widening (round 18c). Pins what the gate can't
  * see: zero data movement (pre-widen files untouched on disk), mixed
  * narrow/wide file reads through every path (snapshot, driver fast-path
  * commit pre-image, catalog SQL), the lossless-edge validation, and the
  * guard rails (pk/partition, stats/bloom columns, narrowing).
  */
class WidenColumnSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("pk", StringType), StructField("part", StringType),
    StructField("cnt", IntegerType), StructField("ratio", FloatType),
    StructField("amt", DecimalType(10, 2))))

  private def mk(): AcidTable = {
    val t = AcidTable.create(spark,
      Files.createTempDirectory("graft-widen-").resolve("t").toString,
      schema, "pk", "part", stablePartitions = true)
    t.upsert((0 until 8).map(i =>
        (s"k$i", s"p${i % 2}", i, i.toFloat / 4, BigDecimal(i).setScale(2)))
      .toDF("pk", "part", "cnt", "ratio", "amt")
      .select(col("pk"), col("part"), col("cnt"), col("ratio"),
        col("amt").cast("decimal(10,2)")))
    t
  }

  test("widen int/float/decimal: zero rewrite, mixed files read correctly") {
    val t0 = mk()
    val filesBefore = java.nio.file.Files.walk(java.nio.file.Paths.get(t0.path, "data"))
      .toArray.toSeq.map(_.toString).filter(_.endsWith(".parquet")).sorted
    val mtimes = filesBefore.map(f => new java.io.File(f).lastModified())

    val t = t0.widenColumn("cnt", LongType)
      .widenColumn("ratio", DoubleType)
      .widenColumn("amt", DecimalType(18, 2))
    assert(t.schema("cnt").dataType == LongType)
    // metadata-only: the narrow files are byte-identical on disk
    val filesAfter = java.nio.file.Files.walk(java.nio.file.Paths.get(t.path, "data"))
      .toArray.toSeq.map(_.toString).filter(_.endsWith(".parquet")).sorted
    assert(filesAfter == filesBefore &&
      filesAfter.map(f => new java.io.File(f).lastModified()) == mtimes,
      "widening must not rewrite any data file")

    // a post-widen commit writes genuinely wide values into the same table
    t.upsert(Seq(("k100", "p0", 5000000000L, 0.1, BigDecimal("123456789012345.67")))
      .toDF("pk", "part", "cnt", "ratio", "amt")
      .select(col("pk"), col("part"), col("cnt"),
        col("ratio"), col("amt").cast("decimal(18,2)")))
    val got = t.snapshot().orderBy("pk").collect()
    assert(got.length == 9)
    val k0 = got.find(_.getString(0) == "k0").get
    assert(k0.getLong(2) == 0L && k0.getDouble(3) == 0.0)
    val wide = got.find(_.getString(0) == "k100").get
    assert(wide.getLong(2) == 5000000000L &&
      wide.getDecimal(4).toString == "123456789012345.67")
    // narrow file values upcast exactly (0.25 is representable in both)
    assert(got.find(_.getString(0) == "k1").get.getDouble(3) == 0.25)
  }

  test("driver fast-path commit reads narrow pre-images under the wide schema") {
    val t = mk().widenColumn("cnt", LongType)
    // a metadata-scale keyed commit takes the local (zero-job) path and
    // must read the pre-widen int32 file as long without corruption
    val batch = Seq(("k2", "p0", 7000000000L, 0.5f, BigDecimal("7.00")))
      .toDF("pk", "part", "cnt", "ratio", "amt")
      .select(col("pk"), col("part"), col("cnt"), col("ratio"),
        col("amt").cast("decimal(10,2)"))
    val jobs = Routes.jobsOf { t.upsert(batch); () }
    assert(jobs == 0, s"expected the driver fast path (saw $jobs jobs)")
    val rows = t.snapshot().orderBy("pk").collect()
    assert(rows.find(_.getString(0) == "k2").get.getLong(2) == 7000000000L)
    assert(rows.find(_.getString(0) == "k4").get.getLong(2) == 4L,
      "pre-widen rows must survive the fast-path rewrite exactly")
  }

  test("guard rails: pk/partition, stats/bloom columns, non-lossless edges refuse") {
    val t = mk()
    assertThrows[IllegalArgumentException] { t.widenColumn("pk", LongType) }
    assertThrows[IllegalArgumentException] { t.widenColumn("part", LongType) }
    // narrowing and cross-family moves refuse
    assertThrows[IllegalArgumentException] { t.widenColumn("cnt", ShortType) }
    assertThrows[IllegalArgumentException] { t.widenColumn("cnt", DoubleType) }
    assertThrows[IllegalArgumentException] { t.widenColumn("ratio", DecimalType(18, 2)) }
    assertThrows[IllegalArgumentException] { t.widenColumn("amt", DecimalType(18, 4)) }
    // a stats-maintained column's encodings are type-specific
    t.setTableProperty("statsColumns", Some("cnt"))
    val e = intercept[IllegalArgumentException] { t.widenColumn("cnt", LongType) }
    assert(e.getMessage.contains("statsColumns"))
    t.setTableProperty("statsColumns", None)
  }

  test("a mistyped batch refuses loudly instead of poisoning the table") {
    // pre-fix behavior: an uncast decimal(38,18) batch wrote its own type
    // into the data file and every later snapshot failed with a parquet
    // physical-type mismatch. Lossy mismatches must refuse BEFORE any
    // byte lands; lossless upcasts coerce silently.
    val t = mk()
    val before = t.snapshot().count()
    val e = intercept[IllegalArgumentException] {
      t.upsert(Seq(("z1", "p0", 1, 1.0f, BigDecimal("1.5")))
        .toDF("pk", "part", "cnt", "ratio", "amt")) // amt infers (38,18)
    }
    assert(e.getMessage.contains("not lossless"), e.getMessage)
    assert(t.snapshot().count() == before, "refused batch must not commit")
    // lossless: an int batch into the int column via a smaller literal type
    t.upsert(Seq(("z2", "p0", 7, 1.0f, BigDecimal("1.50")))
      .toDF("pk", "part", "cnt", "ratio", "amt")
      .select(col("pk"), col("part"), col("cnt"), col("ratio"),
        col("amt").cast("decimal(5,2)"))) // (5,2) upcasts to (10,2)
    assert(t.snapshot().filter(col("pk") === "z2").head().getDecimal(4).toString == "1.50")
  }

  test("time travel and CDC across the widen read narrow versions under the current schema") {
    // table meta is unversioned by design: a post-widen read of a
    // pre-widen version serves the CURRENT (wide) schema, upcasting the
    // narrow bytes — lossless, so no information changes, and every
    // consumer sees ONE schema for the table's whole timeline
    val t0 = mk() // v0, narrow
    val t = t0.widenColumn("cnt", LongType)
    t.upsert(Seq(("k0", "p0", 9000000000L, 0.0f, BigDecimal("0.00")))
      .toDF("pk", "part", "cnt", "ratio", "amt")
      .select(col("pk"), col("part"), col("cnt"), col("ratio"),
        col("amt").cast("decimal(10,2)"))) // v1, wide value
    val v0 = t.snapshot(0L)
    assert(v0.schema("cnt").dataType == LongType)
    assert(v0.filter(col("pk") === "k0").head().getLong(2) == 0L)
    val cdc = t.changesBetween(0L, 1L)
    assert(cdc.schema("cnt").dataType == LongType)
    // classification (delete+insert vs update pair) is the diff's own
    // contract; the pin here is the TYPING: the narrow pre-image value
    // reads as long next to the wide post-image
    val imgs = cdc.filter(col("pk") === "k0")
      .collect().map(_.getLong(2)).toSet
    assert(imgs == Set(0L, 9000000000L),
      s"CDC must upcast the narrow pre-image: $imgs")
  }

  test("catalog SQL route: ALTER COLUMN TYPE widens and scans upcast") {
    val wh = Files.createTempDirectory("graft-widen-wh-").toString
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.graft.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.wd")
    spark.sql("""CREATE TABLE graft.wd.t (pk STRING, part STRING, n INT)
                |PARTITIONED BY (part)
                |TBLPROPERTIES ('primaryKey' = 'pk')""".stripMargin)
    Seq(("a", "p0", 1), ("b", "p1", 2)).toDF("pk", "part", "n")
      .createOrReplaceTempView("wd_src")
    spark.sql("INSERT INTO graft.wd.t SELECT * FROM wd_src")
    spark.sql("ALTER TABLE graft.wd.t ALTER COLUMN n TYPE BIGINT")
    Seq(("c", "p0", 6000000000L)).toDF("pk", "part", "n")
      .createOrReplaceTempView("wd_src2")
    spark.sql("INSERT INTO graft.wd.t SELECT * FROM wd_src2")
    val got = spark.sql("SELECT pk, n FROM graft.wd.t ORDER BY pk")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq("a" -> 1L, "b" -> 2L, "c" -> 6000000000L))
  }
}
