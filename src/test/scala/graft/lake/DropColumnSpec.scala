package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** dropColumns' two-phase contract:
  *
  *  1. LOGICAL (instant): after the drop, snapshots stop projecting the
  *     column, new commits write files without it, and the driver fast
  *     path keeps working through the narrowed handle — while the OLD
  *     files still physically carry the bytes (metadata-only drop).
  *  2. PHYSICAL (compact): after compaction every live data file's
  *     parquet schema no longer contains the column — the purge that
  *     makes "dropped" mean "gone" on disk (GDPR column removal).
  */
class DropColumnSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("pk", StringType, nullable = false),
    StructField("part", StringType, nullable = false),
    StructField("v", StringType, nullable = true),
    StructField("secret", StringType, nullable = true)))

  private def liveFileSchemas(t: AcidTable): Seq[StructType] =
    t.liveFilePaths().toSeq.map(f => spark.read.parquet(f).schema)

  test("drop is logical first, physical after compact; key columns protected") {
    val dir = Files.createTempDirectory("drop-col-").resolve("t").toString
    val t = AcidTable.create(spark, dir, schema, "pk", "part", stablePartitions = true)
    t.upsert(Seq(("a", "p0", "1", "s-a"), ("b", "p1", "2", "s-b"), ("c", "p0", "3", "s-c"))
      .toDF("pk", "part", "v", "secret"))

    intercept[IllegalArgumentException](t.dropColumns(Seq("pk")))
    intercept[IllegalArgumentException](t.dropColumns(Seq("part")))
    intercept[IllegalArgumentException](t.dropColumns(Seq("nope")))

    val t2 = t.dropColumns(Seq("secret"))
    assert(t2.schema.fieldNames.toSeq === Seq("pk", "part", "v"))
    // logical: the snapshot no longer carries the column…
    assert(!t2.snapshot().columns.contains("secret"))
    assert(t2.snapshot().orderBy("pk").collect().map(_.getString(2)).toSeq
      === Seq("1", "2", "3"))
    // …but the original files still physically hold the bytes
    assert(liveFileSchemas(t2).exists(_.fieldNames.contains("secret")),
      "metadata-only drop should leave old files untouched")

    // post-drop commits (driver fast path) are born without the column
    t2.upsert(Seq(("d", "p1", "4")).toDF("pk", "part", "v"))
    t2.update(Seq("v" -> concat(lit("u"), col("v"))), col("pk") === "a")
    assert(t2.snapshot().orderBy("pk").collect().map(_.getString(2)).toSeq
      === Seq("u1", "2", "3", "4"))

    // physical purge: after full compaction NO live file carries the column
    t2.compact(0)
    val after = liveFileSchemas(t2)
    assert(after.nonEmpty && after.forall(!_.fieldNames.contains("secret")),
      s"purge incomplete: ${after.map(_.fieldNames.mkString(","))}")
    assert(t2.snapshot().orderBy("pk").collect().map(_.getString(2)).toSeq
      === Seq("u1", "2", "3", "4"))
  }

  test("re-adding a dropped name is blocked until purge (no value resurrection)") {
    // round-9 ADVICE (medium): drop('tag') → addColumns('tag') used to
    // resurrect the old on-disk values through name-based parquet
    // resolution. Now the drop records the name in the meta ledger,
    // addColumns rejects it, and only purgeDroppedColumns() (full rewrite
    // + ledger clear) frees the name — after which the re-added column
    // reads NULL everywhere, the documented add-column contract.
    val dir = Files.createTempDirectory("drop-readd-").resolve("t").toString
    val t = AcidTable.create(spark, dir, schema, "pk", "part", stablePartitions = true)
    t.upsert(Seq(("a", "p0", "1", "s-a"), ("b", "p1", "2", "s-b"))
      .toDF("pk", "part", "v", "secret"))
    val t2 = t.dropColumns(Seq("secret"))
    assert(t2.droppedCols === Seq("secret"))
    // the ledger survives re-open
    assert(AcidTable.open(spark, dir).droppedCols === Seq("secret"))
    val e = intercept[IllegalArgumentException](
      t2.addColumns(Seq(StructField("secret", StringType))))
    assert(e.getMessage.contains("purgeDroppedColumns"))
    // unrelated adds stay allowed while the ledger is non-empty
    val t3 = t2.addColumns(Seq(StructField("other", StringType)))
    assert(t3.droppedCols === Seq("secret"))
    val purged = t3.purgeDroppedColumns()
    assert(purged.droppedCols.isEmpty)
    assert(purged.liveFilePaths().toSeq
      .forall(f => !spark.read.parquet(f).schema.fieldNames.contains("secret")),
      "purge left a live file carrying the dropped column")
    val readded = purged.addColumns(Seq(StructField("secret", StringType)))
    // the re-added column is NULL for every pre-existing row — never the
    // pre-drop values
    assert(readded.snapshot().orderBy("pk").collect()
      .map(r => r.getAs[String]("secret")).toSeq === Seq(null, null))
  }
  test("stats/bloom-referenced columns refuse to drop or rename") {
    val dir = java.nio.file.Files.createTempDirectory("drop-col-stats-").resolve("t").toString
    val t = AcidTable.create(spark, dir, schema, "pk", "part", stablePartitions = true)
    t.upsert(Seq(("a", "p0", "1", "s-a")).toDF("pk", "part", "v", "secret"))
    t.setTableProperty("statsColumns", Some("v"))
    t.setTableProperty("bloomColumns", Some("secret"))
    // a dangling reference would make every LATER commit throw after its
    // durable publish — the guard mirrors the CHECK-constraint one
    val e1 = intercept[IllegalArgumentException](t.dropColumns(Seq("v")))
    assert(e1.getMessage.contains("statsColumns"))
    val e2 = intercept[IllegalArgumentException](t.dropColumns(Seq("secret")))
    assert(e2.getMessage.contains("bloomColumns"))
    val e3 = intercept[IllegalArgumentException](t.renameColumn("v", "w"))
    assert(e3.getMessage.contains("statsColumns"))
    // unset the property and the drop proceeds; the next commit is clean
    t.setTableProperty("statsColumns", None)
    val t2 = t.dropColumns(Seq("v"))
    t2.setTableProperty("bloomColumns", None)
    val t3 = t2.dropColumns(Seq("secret"))
    t3.upsert(Seq(("b", "p1")).toDF("pk", "part"))
    assert(t3.snapshot().count() == 2)
  }
}
