package graft.lake

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Round-12 advice fixes — process-wide cache/lifecycle hazards:
  *
  *  1. drop/recreate at the SAME path must not serve the old table's
  *     cached root view (views are keyed (path, version) and versions
  *     restart at a recreated path);
  *  2. (superseded in round 14) untouched partitions' segments now carry
  *     by VERBATIM root-line reuse — a foreign commit neither resolves
  *     nor touches them, and vacuum keeps them because any reused
  *     segment is, by construction, referenced by the predecessor root
  *     inside the retention window (liveness, not mtime, protects it);
  *     the mtime touch + rewrite-if-missing re-assert still guards
  *     freshly-grouped segments.
  */
class StaleCacheSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("pk", StringType),
    StructField("part", StringType),
    StructField("x", LongType)))

  private def batch(rows: (String, String, Long)*) =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r._1, r._2, r._3)): _*), schema)

  test("drop/recreate at the same path reads the NEW table, not a cached expansion") {
    val path = Files.createTempDirectory("stale-").resolve("t").toString
    val t1 = AcidTable.create(spark, path, schema, "pk", "part", stablePartitions = true)
    t1.upsert(batch(("a", "P0", 1L), ("b", "P1", 2L)))
    // resolve v1 through the manifest cache (snapshot expands the root)
    assert(t1.snapshot().count() == 2L)
    val v1 = t1.latestVersion()

    // recreate at the SAME path — version numbering restarts
    val t2 = AcidTable.create(spark, path, schema, "pk", "part", stablePartitions = true)
    t2.upsert(batch(("z", "P9", 99L)))
    assert(t2.latestVersion() == v1,
      "recreated table reuses the version number — the cache-collision precondition")
    // without the create()-side purge this resolves v1 against the OLD
    // table's file list (missing files / wrong rows)
    val rows = t2.snapshot().collect().map(r => (r.getString(0), r.getLong(2))).toSet
    assert(rows == Set(("z", 99L)))
  }

  test("foreign commits carry untouched segments by reference; vacuum keeps them on liveness, not mtime") {
    val path = Files.createTempDirectory("touch-").resolve("t").toString
    val t = AcidTable.create(spark, path, schema, "pk", "part", stablePartitions = true)
    t.upsert(batch(("a", "P0", 1L)))
    val segs = Paths.get(path, "_commits", AcidTable.SegmentsDir)
    val p0Seg = t.rootView(t.latestVersion()).segRefs.find(_.partDir == "part=P0").get.name
    // simulate an ANCIENT segment (mtime far below any grace cutoff)
    assert(segs.resolve(p0Seg).toFile.setLastModified(1000L))
    t.upsert(batch(("b", "P1", 2L))) // P0 untouched — its root line carries VERBATIM
    // round 14: the foreign commit must NOT resolve or touch the reused
    // segment (commit metadata work is O(touched partitions)) …
    assert(segs.resolve(p0Seg).toFile.lastModified() == 1000L,
      "untouched segment must carry by reference, not be re-written or touched")
    assert(t.rootView(t.latestVersion()).segRefs.exists(_.name == p0Seg),
      "latest root must still reference the carried segment")
    // … and vacuum must keep it DESPITE the ancient mtime: a carried
    // segment is referenced by a retained root, so liveness — not the
    // age guard — is what protects it
    t.vacuum(keepVersions = 2, graceMillis = 0L)
    assert(Files.exists(segs.resolve(p0Seg)),
      "vacuum reaped a segment referenced by a retained root")
    assert(t.lookup(Seq("a")).collect().map(_.getLong(2)).toSeq == Seq(1L))
  }
}
