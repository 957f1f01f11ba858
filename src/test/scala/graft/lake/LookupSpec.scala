package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Record

/** The point-lookup read path's contracts:
  *
  *  1. EQUIVALENCE — `lookup(keys)` returns exactly what filtering the full
  *     snapshot would, on every table shape (bucketed, legacy/bucketless,
  *     multi-partition, typed PKs, after updates and deletes), and the
  *     driver route returns the same rows as the distributed scan.
  *  2. SKIPPING — the scanned file list prunes to the keys' buckets (and,
  *     with a partition hint, to the named partitions' bucket files). This
  *     is the property that makes a point read on a 100 TB table touch
  *     O(#keys) file groups; it is asserted on `lookupFiles` directly so a
  *     refactor that silently falls back to full scans fails here, not in a
  *     cluster profile.
  *  3. ZERO JOBS — an in-budget lookup reads on the driver, so its collect
  *     runs no Spark job, and its rows are read before `lookup` returns.
  */
class LookupSpec extends AnyFunSuite {
  import Routes._

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("primaryKeyValue", StringType),
    StructField("partitionKeyValue", StringType),
    StructField("dataValue", StringType)))

  private def tmp(): String =
    Files.createTempDirectory("acid-lookup-").resolve("t").toString

  private def df(rs: Record*) = spark.createDataset(rs).toDF()

  private def mkTable(buckets: Int): AcidTable = {
    val t = AcidTable.create(spark, tmp(), schema, "primaryKeyValue",
      "partitionKeyValue", stablePartitions = true, numBuckets = buckets)
    val rows = (0 until 64).map(i => Record(s"k$i", s"P${i % 4}", s"v$i"))
    t.upsert(df(rows: _*))
    // a second commit updates a slice so some keys span two file generations
    t.upsert(df((0 until 64 by 5).map(i => Record(s"k$i", s"P${i % 4}", s"u$i")): _*))
    t.delete(Seq("k13", "k27"))
    t
  }

  test("lookup equals the snapshot filter, across updates and deletes") {
    val t = mkTable(buckets = 8)
    val keys = Seq("k0", "k5", "k13", "k40", "kNOPE")
    val got = bothRoutes(t)(t.lookup(keys)).map(_.toSeq)
    val want = t.snapshot()
      .filter(col("primaryKeyValue").isin(keys: _*))
      .orderBy("primaryKeyValue").collect().map(_.toSeq).toSeq
    assert(got == want)
    assert(got.map(_.head) == Seq("k0", "k40", "k5")) // k13 deleted, kNOPE absent
  }

  test("the scan list prunes to the keys' buckets") {
    val t = mkTable(buckets = 8)
    val all = t.liveFilePaths().length
    val one = t.lookupFiles(Seq("k3"))
    assert(one.nonEmpty && one.size < all,
      s"no skipping: scanned ${one.size} of $all files")
    // k3's bucket only: every retained file carries that bucket's prefix
    val prefixes = one.map(f => f.substring(f.lastIndexOf('/') + 1).take(5)).distinct
    assert(prefixes.size == 1, s"multiple buckets in a 1-key lookup: $prefixes")
    // multi-key lookups scan at most the union of their buckets' files
    val three = t.lookupFiles(Seq("k3", "k7", "k11"))
    val threePrefixes = three.map(f => f.substring(f.lastIndexOf('/') + 1).take(5)).distinct
    assert(threePrefixes.size <= 3,
      s"3-key lookup touched ${threePrefixes.size} buckets: $threePrefixes")
    assert(three.size < all, s"3-key lookup degenerated to a full scan")
  }

  test("a partition hint prunes to the named partitions' bucket files") {
    val t = mkTable(buckets = 8)
    val unhinted = t.lookupFiles(Seq("k8")) // k8 lives in P0
    val hinted = t.lookupFiles(Seq("k8"), partitionsHint = Some(Seq("P0")))
    assert(hinted.nonEmpty && hinted.size <= unhinted.size)
    assert(hinted.forall(_.startsWith("partitionKeyValue=P0/")),
      s"hint leaked other partitions: $hinted")
    // the hinted read still returns the row
    val r = bothRoutes(t)(t.lookup(Seq("k8"), partitionsHint = Some(Seq("P0"))))
    assert(r.map(_.getString(0)) == Seq("k8"))
  }

  test("single-bucket tables cannot skip but stay correct") {
    val t = mkTable(buckets = 1)
    assert(bothRoutes(t)(t.lookup(Seq("k1", "k2"))).size == 2)
    assert(t.lookupFiles(Seq("k1")).nonEmpty)
  }

  private def longTable(): AcidTable = {
    val ls = StructType(Seq(
      StructField("id", LongType),
      StructField("part", StringType),
      StructField("v", DoubleType)))
    val t = AcidTable.create(spark, tmp(), ls, "id", "part",
      stablePartitions = true, numBuckets = 8)
    t.upsert((0L until 40L).map(i => (i, s"P${i % 2}", i * 1.5)).toDF("id", "part", "v"))
    t
  }

  test("typed (long) PK lookups parse keys and prune; garbage keys match nothing") {
    val t = longTable()
    val got = bothRoutes(t)(t.lookup(Seq("7", "21", "garbage")))
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(got == Seq((7L, 10.5), (21L, 31.5)))
    val all = t.liveFilePaths().length
    assert(t.lookupFiles(Seq("7")).size < all)
    assert(bothRoutes(t)(t.lookup(Seq("garbage"))).isEmpty)
  }

  test("a long PK matches \"007\" by value on both routes and in localLookupRows") {
    val t = longTable()
    val rows = t.localLookupRows(Seq("007", "garbage")).getOrElse(fail("not in the driver budget"))
    assert(rows.map(_.getLong(0)) == Seq(7L))
    assert(bothRoutes(t)(t.lookup(Seq("007", "garbage"))).map(_.getLong(0)) == Seq(7L))
  }

  test("keys hidden by deletion vectors stay hidden on both routes") {
    val t = mkTable(buckets = 8)
    assert(t.deleteVectored(Seq("k6", "k40")) == t.latestVersion())
    assert(t.snapshot().filter(col("primaryKeyValue") === "k6").isEmpty)
    val got = bothRoutes(t)(t.lookup(Seq("k5", "k6", "k40", "k41")))
    assert(got.map(_.getString(0)) == Seq("k41", "k5"))
    val hinted = bothRoutes(t)(t.lookup(Seq("k6", "k7"), partitionsHint = Some(Seq("P2", "P3"))))
    assert(hinted.map(_.getString(0)) == Seq("k7"))
  }

  test("a PK-derived hidden partition reads on the driver like the scan") {
    val s2 = StructType(Seq(
      StructField("pk", StringType), StructField("part", StringType),
      StructField("n", LongType)))
    val t = AcidTable.create(spark, tmp(), s2, "pk", "part",
      stablePartitions = true, numBuckets = 1)
    t.setTableProperty("partitionTransform", Some("bucket(16, pk)"))
    val rows = (0 until 200).map(i => Row(s"k$i", i.toLong))
    t.upsert(spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(s2.filterNot(_.name == "part"))))
    assert(bothRoutes(t)(t.lookup(Seq("k7", "k9999"))).map(_.getLong(2)) == Seq(7L))
  }

  test("a table with an outstanding rename stays on the scan") {
    var t = AcidTable.create(spark, tmp(), StructType(Seq(
      StructField("pk", StringType), StructField("part", StringType),
      StructField("v", LongType))), "pk", "part", stablePartitions = true)
    t.upsert(Seq(("a", "p0", 1L), ("b", "p1", 2L)).toDF("pk", "part", "v"))
    t = t.renameColumn("v", "score")
    t.upsert(Seq(("c", "p0", 3L)).toDF("pk", "part", "score"))
    val got = bothRoutes(t, driver = false)(t.lookup(Seq("a", "c")))
    assert(got.map(r => r.getString(0) -> r.getLong(2)) == Seq("a" -> 1L, "c" -> 3L))
  }

  test("unsupported PK types (DATE) fall back to a filtered snapshot, never empty") {
    val ds = StructType(Seq(
      StructField("d", DateType),
      StructField("part", StringType),
      StructField("v", LongType)))
    val t = AcidTable.create(spark, tmp(), ds, "d", "part",
      stablePartitions = true, numBuckets = 8)
    val rows = (1 to 20).map(i =>
      (java.sql.Date.valueOf(f"2024-01-$i%02d"), s"P${i % 2}", i.toLong))
    t.upsert(rows.toDF("d", "part", "v"))
    assert(!t.keyCastSupported)
    // lookup by the date's canonical string rendering returns the row (the
    // pre-fix behavior silently returned an EMPTY DataFrame here)
    val got = bothRoutes(t, driver = false)(t.lookup(Seq("2024-01-07")))
    assert(got.map(_.getLong(2)) == Seq(7L))
    // pruning degrades to the conservative partition-level list, not to
    // an empty (rows-losing) bucket intersection
    assert(t.lookupFiles(Seq("2024-01-07")).size == t.liveFilePaths().length)
    val hinted = bothRoutes(t, driver = false)(
      t.lookup(Seq("2024-01-07"), partitionsHint = Some(Seq("P1"))))
    assert(hinted.map(_.getLong(2)) == Seq(7L))
  }

  test("SQL pk-equality on an unsupported PK type returns rows (no lookup routing)") {
    val ds = StructType(Seq(
      StructField("d", DateType),
      StructField("part", StringType),
      StructField("v", LongType)))
    val dir = tmp()
    val t = AcidTable.create(spark, dir, ds, "d", "part",
      stablePartitions = true, numBuckets = 8)
    t.upsert((1 to 10).map(i =>
      (java.sql.Date.valueOf(f"2024-02-$i%02d"), s"P${i % 2}", i.toLong))
      .toDF("d", "part", "v"))
    // pin the V1 bridge explicitly (the default is the batch route; both
    // must serve an unsupported-PK-type equality without lookup routing)
    spark.conf.set("spark.graft.batchScan.enabled", "false")
    try {
      val sb = new AcidScanBuilder(t)
      sb.pushFilters(Array(org.apache.spark.sql.sources.EqualTo(
        "d", java.sql.Date.valueOf("2024-02-03"))))
      val scan = sb.build().asInstanceOf[org.apache.spark.sql.connector.read.V1Scan]
        .toV1TableScan[org.apache.spark.sql.sources.BaseRelation
          with org.apache.spark.sql.sources.TableScan](spark.sqlContext)
      val rows = scan.buildScan().collect()
      assert(rows.map(_.getLong(2)).toSeq == Seq(3L))
    } finally spark.conf.unset("spark.graft.batchScan.enabled")
    // and the default batch route returns the same rows
    val sb2 = new AcidScanBuilder(t)
    sb2.pushFilters(Array(org.apache.spark.sql.sources.EqualTo(
      "d", java.sql.Date.valueOf("2024-02-03"))))
    assert(!sb2.build().isInstanceOf[org.apache.spark.sql.connector.read.V1Scan],
      "clean snapshot must take the batch route by default")
  }

  test("lookup is snapshot-pinned: a concurrent commit does not leak in") {
    val t = mkTable(buckets = 8)
    val v = t.latestVersion()
    t.upsert(df(Record("k0", "P0", "overwritten")))
    val pinned = bothRoutes(t)(t.lookup(Seq("k0"), version = v))
    assert(pinned.map(_.getString(2)) == Seq("u0")) // pre-commit value
    val latest = bothRoutes(t)(t.lookup(Seq("k0")))
    assert(latest.map(_.getString(2)) == Seq("overwritten"))
  }

  test("an in-budget lookup runs no Spark job; the scan route runs at least one") {
    val t = mkTable(buckets = 8)
    def read(): Unit = { t.lookup(Seq("k1", "k6"), partitionsHint = Some(Seq("P1", "P2"))).collect(); () }
    read() // warm
    assert(jobsOf(read()) == 0)
    AcidTable.localCommitEnabled = false
    try assert(jobsOf(read()) >= 1)
    finally AcidTable.localCommitEnabled = true
    val renamed = t.renameColumn("dataValue", "payload")
    assert(!renamed.fastSchemaOk)
    assert(jobsOf {
      renamed.lookup(Seq("k1", "k6"), partitionsHint = Some(Seq("P1", "P2"))).collect(); ()
    } >= 1)
  }

  test("a driver lookup is pinned: a vacuum before the collect cannot remove its files") {
    val t = mkTable(buckets = 8)
    val keys = Seq("k1", "k2")
    val read = t.lookup(keys)
    val readFiles = t.lookupFiles(keys)
    // rewrite the same cells, then archive every older version and delete its files
    t.upsert(df(Record("k1", "P1", "new1"), Record("k2", "P2", "new2")))
    assert(t.vacuum(keepVersions = 1, graceMillis = 0L) > 0)
    assert(readFiles.exists(f => !t.dataFiles.exists(f)), "vacuum removed none of the read's files")
    val got = read.collect().map(r => r.getString(0) -> r.getString(2)).sorted.toSeq
    assert(got == Seq("k1" -> "v1", "k2" -> "v2"))
  }
}
