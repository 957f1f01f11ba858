package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Record

/** SURVEY §7 M1-M3 definitions of done for the native ACID layer. */
class AcidTableSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("primaryKeyValue", StringType),
    StructField("partitionKeyValue", StringType),
    StructField("dataValue", StringType)))

  private def tmp(): String =
    Files.createTempDirectory("acid-spec-").resolve("t").toString

  private def df(rs: Record*) = spark.createDataset(rs).toDF()

  test("M1: two 3-row upserts yield 6 rows through a real scan") {
    val t = AcidTable.create(spark, tmp(), schema, "primaryKeyValue", "partitionKeyValue")
    t.upsert(df((1 to 3).map(i => Record(s"R$i", s"P${i % 2}", s"v$i")): _*))
    t.upsert(df((4 to 6).map(i => Record(s"R$i", s"P${i % 2}", s"v$i")): _*))
    val rows = t.snapshot().as[Record].collect().sortBy(_.primaryKeyValue)
    assert(rows.length == 6)
    assert(rows.map(_.primaryKeyValue).toSeq == (1 to 6).map(i => s"R$i"))
    assert(rows.forall(r => r.partitionKeyValue == s"P${r.primaryKeyValue.drop(1).toInt % 2}"))
  }

  test("M1: upsert of an existing PK replaces the row (no duplicates)") {
    val t = AcidTable.create(spark, tmp(), schema, "primaryKeyValue", "partitionKeyValue")
    t.upsert(df(Record("R1", "P0", "old"), Record("R2", "P1", "keep")))
    t.upsert(df(Record("R1", "P0", "new")))
    val byPk = t.snapshot().as[Record].collect().map(r => r.primaryKeyValue -> r.dataValue).toMap
    assert(byPk == Map("R1" -> "new", "R2" -> "keep"))
  }

  test("M2: precombine keeps the greatest value per PK within a batch") {
    val t = AcidTable.create(spark, tmp(), schema, "primaryKeyValue", "partitionKeyValue",
      precombineCol = Some("dataValue"))
    t.upsert(df(Record("R1", "P0", "a"), Record("R1", "P0", "z"), Record("R1", "P0", "m")))
    val rows = t.snapshot().as[Record].collect()
    assert(rows.toSeq == Seq(Record("R1", "P0", "z")))
  }

  test("M2: merge updates only the named columns on match, inserts on no-match") {
    val t = AcidTable.create(spark, tmp(), schema, "primaryKeyValue", "partitionKeyValue")
    t.upsert(df(Record("R1", "P0", "old1"), Record("R2", "P1", "old2")))
    t.merge(df(Record("R1", "PX", "new1"), Record("R3", "P1", "new3")),
      updateCols = Seq("dataValue"))
    val rows = t.snapshot().as[Record].collect().sortBy(_.primaryKeyValue).toSeq
    assert(rows == Seq(
      Record("R1", "P0", "new1"), // dataValue updated, partition NOT updated
      Record("R2", "P1", "old2"),
      Record("R3", "P1", "new3"))) // inserted whole
  }

  test("M2: delete by key set removes exactly those keys") {
    val t = AcidTable.create(spark, tmp(), schema, "primaryKeyValue", "partitionKeyValue")
    t.upsert(df((1 to 5).map(i => Record(s"R$i", "P0", s"v$i")): _*))
    t.delete(Seq("R2", "R4", "R99"))
    assert(t.snapshot().as[Record].collect().map(_.primaryKeyValue).sorted.toSeq
      == Seq("R1", "R3", "R5"))
  }

  test("M3: snapshot pinning — old versions stay readable after later commits") {
    val t = AcidTable.create(spark, tmp(), schema, "primaryKeyValue", "partitionKeyValue")
    val v0 = t.upsert(df(Record("R1", "P0", "v0")))
    val v1 = t.upsert(df(Record("R1", "P0", "v1")))
    assert(t.snapshot(v0).as[Record].head().dataValue == "v0")
    assert(t.snapshot(v1).as[Record].head().dataValue == "v1")
  }

  test("M3: partition-scoped rewrite carries untouched partitions by reference") {
    val t = AcidTable.create(spark, tmp(), schema, "primaryKeyValue", "partitionKeyValue")
    t.upsert(df(Record("R1", "P0", "a"), Record("R2", "P1", "b")))
    t.upsert(df(Record("R3", "P0", "c"))) // touches only P0
    // P1's file from commit 0 must still be referenced, not rewritten
    val dataDir = new java.io.File(t.path, "data/partitionKeyValue=P1")
    assert(dataDir.listFiles().count(_.getName.endsWith(".parquet")) == 1)
    assert(t.snapshot().count() == 3)
  }

  test("OCC partial redo: only overlapping partitions recompute, disjoint staged files survive") {
    // stable partitions → partition-level conflict resolution applies
    val t = AcidTable.create(spark, tmp(), schema, "primaryKeyValue", "partitionKeyValue",
      stablePartitions = true)
    t.upsert(df(Record("RA", "P0", "a0"), Record("RB", "P1", "b0"), Record("RC", "P2", "c0")))

    // deterministically interleave: just before OUR commit publishes, a
    // second handle commits an overlapping change to P1 — our first link
    // attempt must then lose and take the conflict path
    AcidTable.resetConflictCount()
    val p0Staged = new java.util.concurrent.atomic.AtomicReference[Set[String]](Set.empty)
    t.beforePublishHook = () => {
      t.beforePublishHook = () => () // fire once
      p0Staged.set(Option(new java.io.File(t.path, "data/partitionKeyValue=P0").listFiles())
        .getOrElse(Array.empty).map(_.getName).toSet)
      val session = spark.newSession()
      val t2 = AcidTable.open(session, t.path)
      t2.upsert(session.createDataset(Seq(Record("RB", "P1", "b1"))).toDF())
    }
    t.upsert(df(Record("RA", "P0", "a1"), Record("RB", "P1", "b2")))

    // the conflict was classified as a (partial) redo, not a re-merge
    assert(AcidTable.conflictRedoCount == 1, s"redo=${AcidTable.conflictRedoCount}")
    assert(AcidTable.conflictRemergeCount == 0)
    // final content: our commit published after the intervening one, so
    // both of our rows win; P2 untouched throughout
    val byPk = t.snapshot().as[Record].collect().map(r => r.primaryKeyValue -> r.dataValue).toMap
    assert(byPk == Map("RA" -> "a1", "RB" -> "b2", "RC" -> "c0"))
    // PARTIAL: the P0 output staged before the conflict was NOT discarded —
    // the final manifest references one of the exact files staged pre-publish
    // (a full redo would have deleted them and written a fresh UUID)
    // (resolved through the segment layer — the root manifest now lists
    // per-partition segments, not data files)
    val p0InManifest = t.filesForPartitions(t.latestVersion(), Seq("P0"))
      .map(_.split('/').last)
    assert(p0InManifest.nonEmpty)
    assert(p0InManifest.forall(p0Staged.get().contains),
      s"P0 was recomputed despite being disjoint from the intervening commit: " +
        s"manifest=$p0InManifest staged=${p0Staged.get()}")
  }

  test("OCC re-merge: fully disjoint intervening commit costs no recompute") {
    val t = AcidTable.create(spark, tmp(), schema, "primaryKeyValue", "partitionKeyValue",
      stablePartitions = true)
    t.upsert(df(Record("RA", "P0", "a0"), Record("RB", "P1", "b0")))
    AcidTable.resetConflictCount()
    t.beforePublishHook = () => {
      t.beforePublishHook = () => ()
      val session = spark.newSession()
      val t2 = AcidTable.open(session, t.path)
      t2.upsert(session.createDataset(Seq(Record("RB", "P1", "b1"))).toDF())
    }
    t.upsert(df(Record("RA", "P0", "a1"))) // touches only P0 — disjoint
    // round 11: the disjoint re-link usually happens as a PRE-PUBLISH
    // fast-forward (no failed publish); either mechanism, never a redo
    assert(AcidTable.conflictRemergeCount + AcidTable.fastForwardCount == 1)
    assert(AcidTable.conflictRedoCount == 0)
    val byPk = t.snapshot().as[Record].collect().map(r => r.primaryKeyValue -> r.dataValue).toMap
    assert(byPk == Map("RA" -> "a1", "RB" -> "b1"))
  }

  test("OCC cell scope: same partition, disjoint keys -> re-merge, no recompute") {
    // the reference-parity workload writes disjoint key sets into the SAME
    // four partitions; partition-scope detection redid ~50% of its commits.
    // With (partition, hash-bucket) cells, a lost race against a commit
    // touching the same partition but other keys' buckets must resolve as
    // a manifest re-merge.
    val t = AcidTable.create(spark, tmp(), schema, "primaryKeyValue", "partitionKeyValue",
      stablePartitions = true)
    // find two keys in DIFFERENT buckets (numBuckets=16 — nearly any pair)
    val pool = (1 to 50).map(i => s"K$i")
    val buckets = spark.createDataset(pool).toDF("primaryKeyValue")
      .select(org.apache.spark.sql.functions.col("primaryKeyValue"),
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.hash(
            org.apache.spark.sql.functions.col("primaryKeyValue")),
          org.apache.spark.sql.functions.lit(t.numBuckets)).as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1))
    val (kA, bA) = buckets.head
    val (kB, _) = buckets.find(_._2 != bA).get
    t.upsert(df(Record(kA, "P0", "a0"), Record(kB, "P0", "b0")))
    AcidTable.resetConflictCount()
    t.beforePublishHook = () => {
      t.beforePublishHook = () => ()
      val session = spark.newSession()
      val t2 = AcidTable.open(session, t.path)
      t2.upsert(session.createDataset(Seq(Record(kB, "P0", "b1"))).toDF())
    }
    t.upsert(df(Record(kA, "P0", "a1"))) // same partition, different bucket
    assert(AcidTable.conflictRemergeCount + AcidTable.fastForwardCount == 1,
      s"disjoint-key same-partition conflict must re-link, got redo=${AcidTable.conflictRedoCount}")
    assert(AcidTable.conflictRedoCount == 0)
    val byPk = t.snapshot().as[Record].collect().map(r => r.primaryKeyValue -> r.dataValue).toMap
    assert(byPk == Map(kA -> "a1", kB -> "b1"))
  }

  test("OCC cell scope: same key conflict still redoes against the new snapshot") {
    val t = AcidTable.create(spark, tmp(), schema, "primaryKeyValue", "partitionKeyValue",
      stablePartitions = true)
    t.upsert(df(Record("RK", "P0", "v0")))
    AcidTable.resetConflictCount()
    t.beforePublishHook = () => {
      t.beforePublishHook = () => ()
      val session = spark.newSession()
      val t2 = AcidTable.open(session, t.path)
      t2.upsert(session.createDataset(Seq(Record("RK", "P0", "v1"))).toDF())
    }
    t.upsert(df(Record("RK", "P0", "v2"))) // same key -> same cell
    assert(AcidTable.conflictRedoCount == 1)
    assert(t.snapshot().as[Record].head().dataValue == "v2") // ours published last
  }

  test("overwrite vs concurrent new-partition commit: full replace wins, nothing carried") {
    // overwrite's touched set derives from the GLOBAL file list, so the
    // partition-local conflict fast paths must not apply: an intervening
    // commit that creates a brand-new partition would otherwise be
    // carried into the "replace the entire table" result
    val t = AcidTable.create(spark, tmp(), schema, "primaryKeyValue", "partitionKeyValue",
      stablePartitions = true)
    t.upsert(df(Record("RA", "P0", "a0")))
    AcidTable.resetConflictCount()
    t.beforePublishHook = () => {
      t.beforePublishHook = () => ()
      val session = spark.newSession()
      val t2 = AcidTable.open(session, t.path)
      // NEW partition P9 — disjoint from overwrite's touched set at plan
      // time, which is exactly the hole the globalScope flag closes
      t2.upsert(session.createDataset(Seq(Record("RX", "P9", "x0"))).toDF())
    }
    t.overwrite(df(Record("RB", "P1", "b0")))
    val rows = t.snapshot().as[Record].collect()
    assert(rows.map(_.primaryKeyValue).toSeq == Seq("RB"),
      s"overwrite carried intervening rows: ${rows.toSeq}")
    assert(AcidTable.conflictRedoCount == 1) // full redo, never re-merge
  }

  test("M3: concurrent writers — OCC conflict resolves, both commits land") {
    val t = AcidTable.create(spark, tmp(), schema, "primaryKeyValue", "partitionKeyValue")
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        val session = spark.newSession()
        val tt = AcidTable.open(session, t.path)
        tt.upsert(session.createDataset(Seq(Record(s"R$i", s"P${i % 2}", s"v$i"))).toDF())
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(t.snapshot().as[Record].collect().map(_.primaryKeyValue).sorted.toSeq
      == Seq("R1", "R2", "R3", "R4"))
    assert(t.latestVersion() == 3) // four commits: v0..v3, one linear history
  }
}
