package graft.lake

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Per-file bloom filters (the `bloomColumns` table property — the Hudi
  * bloom-index analog). Contracts pinned here:
  *
  *  1. SKIPPING — with blooms on the PK, a point lookup's scanned file
  *     list prunes past bucket hashing to the files that actually hold
  *     the key: the cross-PARTITION skip on an unclustered table, where
  *     every partition has a file in the key's bucket.
  *  2. NO FALSE NEGATIVES — every committed key stays findable through
  *     the pruned scan, across updates (COW rewrites refresh sidecars via
  *     the commit hook), string PKs sharing an 8-byte prefix (blooms hash
  *     FULL bytes, not the stats range encoding), and the distributed
  *     stamping path (fast path disabled).
  *  3. LIFECYCLE — loud property validation, vacuum reaping orphaned
  *     sidecars, sidecars traveling with shallow clones.
  */
class BloomSkipSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("pk", StringType),
    StructField("part", StringType),
    StructField("val", DoubleType)))

  private def tmp(): Path = Files.createTempDirectory("bloom-skip-")

  /** numBuckets = 1 makes bucket pruning a no-op across partitions: any
    * cross-partition skip below is the blooms' doing alone. */
  private def newTable(dir: Path): AcidTable = {
    val t = AcidTable.create(spark, dir.resolve("t").toString, schema, "pk", "part",
      stablePartitions = true, numBuckets = 1)
    t.setTableProperty("bloomColumns", Some("pk"))
    t
  }

  private def batch(rows: (String, String, Double)*) =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r._1, r._2, r._3)): _*), schema)

  /** One commit per partition, disjoint key ranges — each file's bloom
    * holds only its partition's keys. */
  private def seed(t: AcidTable, parts: Int, keysPerPart: Int): Unit =
    (0 until parts).foreach { p =>
      t.upsert(batch((0 until keysPerPart).map(i =>
        (s"k${p * 1000 + i}", s"P$p", (p * 1000 + i).toDouble)): _*))
    }

  test("point lookup prunes across partitions to the key's actual file") {
    val t = newTable(tmp())
    seed(t, parts = 6, keysPerPart = 20)
    // bucket pruning alone keeps one file per partition (single bucket)
    assert(t.liveFilePaths().length == 6)
    val pruned = t.lookupFiles(Seq("k3007")) // lives in P3 only
    assert(pruned.size == 1, s"bloom should isolate one file, kept: $pruned")
    assert(pruned.head.startsWith("part=P3/"))
    // and the values are right through the pruned scan
    val got = t.lookup(Seq("k3007")).collect()
    assert(got.map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
      == Seq(("k3007", "P3", 3007.0)))
  }

  test("no false negatives: every committed key found, misses stay misses") {
    val t = newTable(tmp())
    seed(t, parts = 4, keysPerPart = 15)
    val allKeys = (0 until 4).flatMap(p => (0 until 15).map(i => s"k${p * 1000 + i}"))
    val found = t.lookup(allKeys).collect().map(_.getString(0)).toSet
    assert(found == allKeys.toSet)
    assert(t.lookup(Seq("k9999", "nope")).isEmpty)
  }

  test("COW updates refresh the rewritten cell's bloom through the commit hook") {
    val t = newTable(tmp())
    seed(t, parts = 3, keysPerPart = 10)
    // rewrite P1's cell: updated key and carried neighbors both stay findable
    t.upsert(batch(("k1004", "P1", -1.0)))
    val updated = t.lookup(Seq("k1004")).collect()
    assert(updated.map(_.getDouble(2)).toSeq == Seq(-1.0))
    assert(t.lookup(Seq("k1007")).collect().map(_.getDouble(2)).toSeq == Seq(1007.0))
    // the pruned list still isolates P1
    val pruned = t.lookupFiles(Seq("k1004"))
    assert(pruned.size == 1 && pruned.head.startsWith("part=P1/"), pruned.toString)
  }

  test("a multi-file fast-path commit stamps per-cell filters, not commit-wide") {
    val t = newTable(tmp())
    // ONE commit spanning 6 partitions (well under the driver fast-path
    // byte gate): rows must route to THEIR file's filter by cell, or every
    // file's bloom would hold all 60 keys and nothing would ever skip —
    // the whole-table-compact shape that motivated per-cell routing
    t.upsert(batch((0 until 60).map(i => (s"k$i", s"P${i % 6}", i.toDouble)): _*))
    assert(t.liveFilePaths().length == 6)
    val pruned = t.lookupFiles(Seq("k7")) // lives in P1 only
    assert(pruned.size == 1 && pruned.head.startsWith("part=P1/"), pruned.toString)
  }

  test("string PKs sharing an 8-byte prefix stay distinct (full-byte hashing)") {
    val t = newTable(tmp())
    t.upsert(batch(("prefix__AAA", "P0", 1.0)))
    t.upsert(batch(("prefix__BBB", "P1", 2.0)))
    assert(t.lookup(Seq("prefix__AAA")).collect().map(_.getDouble(2)).toSeq == Seq(1.0))
    assert(t.lookup(Seq("prefix__BBB")).collect().map(_.getDouble(2)).toSeq == Seq(2.0))
    // a same-prefix ABSENT key is a miss even if a bloom false-positives
    assert(t.lookup(Seq("prefix__CCC")).isEmpty)
  }

  test("distributed commits stamp blooms too (fast path disabled)") {
    val t = newTable(tmp())
    AcidTable.localCommitEnabled = false
    try seed(t, parts = 4, keysPerPart = 20)
    finally AcidTable.localCommitEnabled = true
    val pruned = t.lookupFiles(Seq("k2005"))
    assert(pruned.size == 1 && pruned.head.startsWith("part=P2/"), pruned.toString)
    assert(t.lookup(Seq("k2005")).collect().map(_.getDouble(2)).toSeq == Seq(2005.0))
  }

  test("integral PK blooms probe via the encoded-long domain") {
    val dir = tmp()
    val intSchema = StructType(Seq(
      StructField("pk", LongType),
      StructField("part", StringType),
      StructField("val", DoubleType)))
    val t = AcidTable.create(spark, dir.resolve("t").toString, intSchema, "pk", "part",
      stablePartitions = true, numBuckets = 1)
    t.setTableProperty("bloomColumns", Some("pk"))
    (0 until 4).foreach { p =>
      val rows = (0 until 10).map(i => Row((p * 100 + i).toLong, s"P$p", i.toDouble))
      t.upsert(spark.createDataFrame(java.util.Arrays.asList(rows: _*), intSchema))
    }
    val pruned = t.lookupFiles(Seq("205"))
    assert(pruned.size == 1 && pruned.head.startsWith("part=P2/"), pruned.toString)
    assert(t.lookup(Seq("205")).collect().map(_.getLong(0)).toSeq == Seq(205L))
  }

  test("misconfigured bloom properties fail loudly at set time") {
    val t = newTable(tmp())
    intercept[IllegalArgumentException] {
      t.setTableProperty("bloomColumns", Some("no_such_column"))
    }
    val binSchema = StructType(Seq(
      StructField("pk", StringType), StructField("part", StringType),
      StructField("blob", BinaryType)))
    val tb = AcidTable.create(spark, tmp().resolve("tb").toString, binSchema, "pk", "part")
    intercept[IllegalArgumentException] {
      tb.setTableProperty("bloomColumns", Some("blob")) // BINARY: unsupported
    }
    intercept[IllegalArgumentException] {
      t.setTableProperty("bloomExpectedItems", Some("0"))
    }
    intercept[IllegalArgumentException] {
      t.setTableProperty("bloomExpectedItems", Some("lots"))
    }
  }

  private def bloomSegs(dir: Path): Seq[String] = {
    val root = dir.resolve("t").resolve(Indexes.BloomDir)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".bloomseg")).map(_.toString).toList
      } finally s.close()
    }
  }

  test("one bloom segment PUT per commit, however many files it lands") {
    val dir = tmp()
    val t = newTable(dir)
    // one commit spanning 6 partitions = 6 data files but ONE segment
    t.upsert(batch((0 until 60).map(i => (s"k$i", s"P${i % 6}", i.toDouble)): _*))
    assert(t.liveFilePaths().length == 6)
    assert(bloomSegs(dir).size == 1, bloomSegs(dir).toString)
    // and each file still resolves ITS per-cell filter through the index
    val pruned = t.lookupFiles(Seq("k7"))
    assert(pruned.size == 1 && pruned.head.startsWith("part=P1/"), pruned.toString)
  }

  test("vacuum reaps fully-dead segments, keeps partially-live ones") {
    val dir = tmp()
    val t = newTable(dir)
    seed(t, parts = 2, keysPerPart = 10) // commit/segment per partition
    t.upsert(batch(("k4", "P0", -4.0))) // rewrites P0's cell → old file retires
    assert(bloomSegs(dir).size == 3) // one per commit
    Thread.sleep(5) // age past the grace cutoff's millisecond granularity
    t.vacuum(keepVersions = 1, graceMillis = 0L)
    val after = bloomSegs(dir)
    // commit 1's segment held ONLY the retired P0 v1 file → reaped;
    // commits 2 and 3 hold live files → kept
    assert(after.size == 2, s"expected the fully-dead segment reaped: $after")
    // pruning still works post-vacuum
    assert(t.lookupFiles(Seq("k4")).size == 1)
    assert(t.lookup(Seq("k4")).collect().map(_.getDouble(2)).toSeq == Seq(-4.0))

    // a MIXED segment (one commit, two partitions) survives while either
    // file lives: rewrite one partition, vacuum — lookups on the other
    // still skip through the kept segment
    val dir2 = tmp()
    val t2 = newTable(dir2)
    t2.upsert(batch(("a1", "P0", 1.0), ("b1", "P1", 2.0))) // 1 commit, 2 files
    t2.upsert(batch(("a1", "P0", -1.0))) // retires P0's file
    Thread.sleep(5)
    t2.vacuum(keepVersions = 1, graceMillis = 0L)
    assert(bloomSegs(dir2).size == 2, bloomSegs(dir2).toString) // both kept
    assert(t2.lookupFiles(Seq("b1")).size == 1)
    assert(t2.lookup(Seq("b1")).collect().map(_.getDouble(2)).toSeq == Seq(2.0))
  }

  test("shallow clones carry sidecars and keep the skip profile") {
    val dir = tmp()
    val t = newTable(dir)
    seed(t, parts = 4, keysPerPart = 10)
    val c = t.cloneTo(dir.resolve("clone").toString)
    val pruned = c.lookupFiles(Seq("k2003"))
    assert(pruned.size == 1 && pruned.head.startsWith("part=P2/"), pruned.toString)
    assert(c.lookup(Seq("k2003")).collect().map(_.getDouble(2)).toSeq == Seq(2003.0))
  }

  test("non-PK equality pruning: blooms on a second column skip files") {
    val dir = tmp()
    val tagSchema = StructType(Seq(
      StructField("pk", StringType),
      StructField("part", StringType),
      StructField("tag", StringType),
      StructField("val", DoubleType)))
    val t = AcidTable.create(spark, dir.resolve("t").toString, tagSchema, "pk", "part",
      stablePartitions = true, numBuckets = 1)
    t.setTableProperty("bloomColumns", Some("pk,tag"))
    // one commit per partition, each carrying a distinct tag value
    (0 until 5).foreach { p =>
      val rows = (0 until 10).map(i => Row(s"k${p * 100 + i}", s"P$p", s"tag$p", i.toDouble))
      t.upsert(spark.createDataFrame(java.util.Arrays.asList(rows: _*), tagSchema))
    }
    // equality on the NON-key column prunes through its blooms
    val pruned = t.indexes.prunedFiles(Map.empty, Seq("tag" -> Seq("tag3")))
    assert(pruned.size == 1 && pruned.head.startsWith("part=P3/"), pruned.toString)
    // snapshotPruned is pure file skipping: kept files' rows all surface
    val rows = t.snapshotPruned(Map.empty, Seq("tag" -> Seq("tag3")))
      .filter(col("tag") === "tag3").collect()
    assert(rows.length == 10 && rows.forall(_.getString(1) == "P3"))
    // an unencodable or absent probe degrades to no pruning / empty scan
    assert(t.indexes.prunedFiles(Map.empty, Seq("tag" -> Seq("no_such_tag"))).isEmpty)
    assert(t.indexes.prunedFiles(Map.empty, Seq("val" -> Seq(1.0))).size == 5) // not bloom-maintained
  }

  test("catalog SQL route: pushed equality on a bloom column prunes the scan") {
    val wh = Files.createTempDirectory("graft-cat-bloom-").toString
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.graft.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.bloomdb")
    spark.sql("""CREATE TABLE graft.bloomdb.events (pk STRING, part STRING, tag STRING, v DOUBLE)
                |PARTITIONED BY (part)
                |TBLPROPERTIES ('primaryKey' = 'pk', 'numBuckets' = '1')""".stripMargin)
    val t = AcidTable.open(spark, Paths.get(wh, "bloomdb", "events").toString)
    t.setTableProperty("bloomColumns", Some("tag"))
    val ddlSchema = StructType(Seq(
      StructField("pk", StringType), StructField("part", StringType),
      StructField("tag", StringType), StructField("v", DoubleType)))
    (0 until 4).foreach { p =>
      val rows = (0 until 8).map(i => Row(s"k${p * 100 + i}", s"P$p", s"tag$p", i.toDouble))
      t.upsert(spark.createDataFrame(java.util.Arrays.asList(rows: _*), ddlSchema))
    }
    val got = spark.sql(
      "SELECT pk, v FROM graft.bloomdb.events WHERE tag = 'tag2' ORDER BY pk")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got == (0 until 8).map(i => (s"k${200 + i}", i.toDouble)))
    // the engine-level pruning the route consults
    assert(t.indexes.prunedFiles(Map.empty, Seq("tag" -> Seq("tag2"))).size == 1)
    spark.sql("DROP TABLE graft.bloomdb.events")
  }

  test("a table without the property is untouched (no sidecars, no pruning)") {
    val dir = tmp()
    val t = AcidTable.create(spark, dir.resolve("t").toString, schema, "pk", "part",
      stablePartitions = true, numBuckets = 1)
    seed(t, parts = 3, keysPerPart = 5)
    assert(!Files.exists(dir.resolve("t").resolve(Indexes.BloomDir)))
    assert(t.lookupFiles(Seq("k1002")).size == 3) // bucket pruning only
  }
}
