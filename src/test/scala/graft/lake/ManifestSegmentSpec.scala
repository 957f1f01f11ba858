package graft.lake

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The segmented commit manifest (round-12 verdict #1/#7): the root lists
  * per-partition SEGMENTS — content-addressed immutable files — instead of
  * every live data file, so
  *
  *  1. a commit's manifest I/O is O(partitions) root + O(touched
  *     partitions) segment writes, never an O(live files) rewrite;
  *  2. an untouched partition's segment is BYTE-IDENTICAL across foreign
  *     commits (stronger: it is the SAME file — content addressing);
  *  3. a partition-hinted point lookup resolves only the hinted
  *     partitions' segments;
  *  4. the root carries each partition's min/max envelope for the
  *     statsColumns, so a range probe the root refutes skips whole
  *     partitions with ZERO per-file stat reads and ZERO segment reads;
  *  5. vacuum garbage-collects segments no retained manifest references.
  */
class ManifestSegmentSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("pk", StringType),
    StructField("part", StringType),
    StructField("x", LongType)))

  private def newTable(stats: Boolean = false) = {
    val t = AcidTable.create(
      spark, Files.createTempDirectory("seg-").resolve("t").toString,
      schema, "pk", "part", stablePartitions = true)
    if (stats) t.setTableProperty("statsColumns", Some("x"))
    t
  }

  private def batch(rows: (String, String, Long)*) =
    rows.toSeq.toDF("pk", "part", "x")

  private def segDir(t: AcidTable) =
    Paths.get(t.path, "_commits", Timeline.SegmentsDir)

  private def segBytes(t: AcidTable, name: String): Seq[Byte] =
    Files.readAllBytes(segDir(t).resolve(name)).toSeq

  test("a foreign commit leaves untouched partitions' segments byte-identical (same file)") {
    val t = newTable()
    t.upsert(batch(("a1", "P0", 1L), ("a2", "P0", 2L), ("b1", "P1", 10L)))
    val v1 = t.latestVersion()
    val refs1 = t.timeline.rootView(v1).segRefs.map(r => r.partDir -> r).toMap
    val p0Seg1 = refs1("part=P0")
    val p0Bytes1 = segBytes(t, p0Seg1.name)

    // foreign commit: touches ONLY P1
    AcidTable.resetMetaIoCounters()
    t.upsert(batch(("b2", "P1", 11L)))
    val v2 = t.latestVersion()
    val refs2 = t.timeline.rootView(v2).segRefs.map(r => r.partDir -> r).toMap
    // untouched partition: same segment NAME (content-addressed) and the
    // bytes on disk are the identical file
    assert(refs2("part=P0").name == p0Seg1.name)
    assert(segBytes(t, p0Seg1.name) == p0Bytes1)
    // touched partition: a new segment; the commit wrote ONLY that one
    assert(refs2("part=P1").name != refs1("part=P1").name)
    assert(AcidTable.segmentWrites.get() == 1,
      s"commit should write exactly the touched partition's segment, " +
        s"wrote ${AcidTable.segmentWrites.get()}")
  }

  test("commit segment writes track touched partitions, not table size") {
    val t = newTable()
    // 12 partitions live
    t.upsert(batch((0 until 48).map(i => (s"k$i", s"P${i % 12}", i.toLong)): _*))
    AcidTable.resetMetaIoCounters()
    t.upsert(batch(("z1", "P3", 100L)))
    assert(AcidTable.segmentWrites.get() == 1,
      s"1-partition commit over a 12-partition table wrote " +
        s"${AcidTable.segmentWrites.get()} segments")
    // and the content is right
    assert(t.snapshot().count() == 49)
  }

  test("a cell-scoped commit resolves only its touched partitions' segments") {
    val t = newTable()
    // 12 partitions live on a segmented base
    t.upsert(batch((0 until 48).map(i => (s"k$i", s"P${i % 12}", i.toLong)): _*))
    AcidTable.resetMetaIoCounters()
    t.upsert(batch(("z2", "P3", 101L)))
    // round 14: the commit's metadata reads are O(touched) — touched
    // files+sizes at base and again at publish (≤ 2 resolves each);
    // untouched partitions' root lines carry verbatim with ZERO resolves.
    // The bound is deliberately < the 12 live partitions: resolving the
    // whole table again is the regression this pins against.
    val resolves = AcidTable.segmentResolves.get()
    assert(resolves <= 6,
      s"1-partition commit resolved $resolves segments — O(touched) commit regressed")
    assert(AcidTable.segmentWrites.get() == 1,
      s"1-partition commit wrote ${AcidTable.segmentWrites.get()} segments")
    assert(t.snapshot().count() == 49)
  }

  test("partition-hinted lookup resolves only the hinted partition's segment") {
    val t = newTable()
    t.upsert(batch((0 until 40).map(i => (s"k$i", s"P${i % 8}", i.toLong)): _*))
    // prime: hint-free read resolves everything (and fills caches) — then
    // count RESOLVES (cache hits included), which track what the planner
    // logically touches
    t.snapshot().count()
    AcidTable.resetMetaIoCounters()
    val files = t.lookupFiles(Seq("k3"), Some(Seq("P3")))
    assert(files.nonEmpty && files.forall(_.startsWith("part=P3/")))
    assert(AcidTable.segmentResolves.get() == 1,
      s"hinted lookup resolved ${AcidTable.segmentResolves.get()} segments, wanted 1")
    // the full read path through lookup() stays segment-scoped too
    AcidTable.resetMetaIoCounters()
    val rows = t.lookup(Seq("k3"), Some(Seq("P3"))).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("k3"))
    assert(AcidTable.segmentResolves.get() <= 2, // lookupFiles + sizesForFiles
      s"hinted lookup read resolved ${AcidTable.segmentResolves.get()} segments")
  }

  test("root-level partition envelopes refute range probes with zero per-file stat reads") {
    val t = newTable(stats = true)
    // three partitions with disjoint x bands
    t.upsert(batch(("a1", "P0", 1L), ("a2", "P0", 9L)))
    t.upsert(batch(("b1", "P1", 100L), ("b2", "P1", 190L)))
    t.upsert(batch(("c1", "P2", 1000L), ("c2", "P2", 1900L)))
    val v = t.latestVersion()
    val refs = t.timeline.rootView(v).segRefs.map(r => r.partDir -> r).toMap
    assert(refs("part=P0").pstats("x") == (1L, 9L))
    assert(refs("part=P1").pstats("x") == (100L, 190L))
    assert(refs("part=P2").pstats("x") == (1000L, 1900L))

    // a probe no partition can hold: refuted from the ROOT alone
    AcidTable.resetMetaIoCounters()
    assert(t.indexes.rangePrunedFiles(Map("x" -> (300L, 800L)), v).isEmpty)
    assert(AcidTable.clusterStatsLoads.get() == 0,
      s"root-refuted probe loaded per-file stats ${AcidTable.clusterStatsLoads.get()} times")
    assert(AcidTable.segmentResolves.get() == 0,
      s"root-refuted probe resolved ${AcidTable.segmentResolves.get()} segments")

    // a probe hitting one band: only that partition's segment resolves
    // (the probe reaches b2's x = 190: per-file ranges are exact, so a
    // probe between P1's two rows keeps no file at all)
    AcidTable.resetMetaIoCounters()
    val hit = t.indexes.rangePrunedFiles(Map("x" -> (150L, 190L)), v)
    assert(hit.nonEmpty && hit.forall(_.startsWith("part=P1/")))
    assert(AcidTable.segmentResolves.get() == 1,
      s"one-band probe resolved ${AcidTable.segmentResolves.get()} segments")
    // correctness through the read face (file skipping + the caller's
    // row predicate, the snapshotRange contract)
    import org.apache.spark.sql.functions.col
    val got = t.snapshotRange(Map("x" -> (150L, 190L)))
      .filter(col("x").between(150L, 190L))
      .collect().map(_.getString(0)).toSet
    assert(got == Set("b2"))
  }

  test("envelopes stay sound under updates, deletes, and all-null columns") {
    val t = AcidTable.create(
      spark, Files.createTempDirectory("seg-null-").resolve("t").toString,
      StructType(schema.fields :+ StructField("y", LongType)), "pk", "part",
      stablePartitions = true)
    t.setTableProperty("statsColumns", Some("x,y"))
    val mk = (rows: Seq[(String, String, Long, Any)]) =>
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map(r => Row(r._1, r._2, r._3, r._4)): _*),
        t.schema)
    // P0: y all null; P1: y populated
    t.upsert(mk(Seq(("a1", "P0", 1L, null), ("a2", "P0", 5L, null))))
    t.upsert(mk(Seq(("b1", "P1", 100L, 7L), ("b2", "P1", 190L, 9L))))
    val refs = t.timeline.rootView(t.latestVersion()).segRefs.map(r => r.partDir -> r).toMap
    // all-null partition: empty envelope (MaxValue, MinValue) — prunes
    // against any real range, which is sound (NULL never matches a range)
    assert(refs("part=P0").pstats("y") == (Long.MaxValue, Long.MinValue))
    assert(refs("part=P1").pstats("y") == (7L, 9L))
    val yHit = t.indexes.rangePrunedFiles(Map("y" -> (1L, 100L)))
    assert(yHit.nonEmpty && yHit.forall(_.startsWith("part=P1/")))

    // rewrite P0 with real y values: envelope follows the rewrite
    t.upsert(mk(Seq(("a1", "P0", 2L, 500L))))
    val refs2 = t.timeline.rootView(t.latestVersion()).segRefs.map(r => r.partDir -> r).toMap
    val (ylo, yhi) = refs2("part=P0").pstats("y")
    assert(ylo <= 500L && yhi >= 500L, s"envelope ($ylo, $yhi) must cover the upserted 500")
    // correctness: pruned read == plain filtered read
    import org.apache.spark.sql.functions.col
    val viaStats = t.snapshotRange(Map("y" -> (400L, 600L)))
      .filter(col("y").between(400L, 600L)).collect().map(_.getString(0)).toSet
    assert(viaStats == Set("a1"))
  }

  test("vacuum GCs segments no retained manifest references; restore reuses by content") {
    val t = newTable()
    t.upsert(batch(("a1", "P0", 1L)))
    t.upsert(batch(("a1", "P0", 2L)))
    t.upsert(batch(("a1", "P0", 3L)))
    t.upsert(batch(("a1", "P0", 4L)))
    val before = Option(segDir(t).toFile.listFiles()).getOrElse(Array.empty)
      .count(_.getName.startsWith("seg-"))
    assert(before == 4)
    // restore to v1 re-publishes v1's content: the content-addressed
    // segment already exists, so the restore writes ZERO segments
    AcidTable.resetMetaIoCounters()
    t.restore(1L)
    assert(AcidTable.segmentWrites.get() == 0,
      s"restore rewrote ${AcidTable.segmentWrites.get()} segments despite content reuse")
    assert(t.snapshot().collect().map(_.getLong(2)).toSeq == Seq(2L))

    // vacuum with retention 2 drops the manifests below the window and
    // the segments only they referenced
    t.vacuum(keepVersions = 2, graceMillis = 0L)
    val liveRefs = (t.latestVersion() - 1 to t.latestVersion())
      .flatMap(v => t.timeline.rootView(v).segRefs.map(_.name)).toSet
    val after = Option(segDir(t).toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("seg-")).map(_.getName).toSet
    assert(after == liveRefs,
      s"segments on disk $after != retained manifests' references $liveRefs")
    // the table still reads
    assert(t.snapshot().collect().map(_.getLong(2)).toSeq == Seq(2L))
  }

  test("paged root above the threshold: flat reader view, page reuse, fsck, GC") {
    val t = newTable()
    t.upsert(batch(("R1", "P0", 1L), ("R2", "P0", 2L)))
    // synthetic bulk commit with enough partitions to trip the page
    // threshold — metadata-shape test: placeholder entries are never read
    val nSynth = AcidTable.RootPageThreshold + 200
    val synth = (1 to nSynth).map(p => s"part=SP$p/b000-synth$p.parquet")
    val real = t.filesForPartitions(t.latestVersion(), Seq("P0"))
    t.publish(t.latestVersion() + 1, real ++ synth,
      (1 to nSynth).map(p => FileCell(s"SP$p", -1)),
      t.timeline.rootView(t.latestVersion()).sizes ++ synth.map(_ -> 1024L), "BULKLOAD")
    val v1 = t.latestVersion()
    val raw = t.timeline.rootView(v1).rawRefLines
    val pageRefs = raw.filter(_.startsWith("@@"))
    assert(pageRefs.nonEmpty, "root above the threshold must page its lines")
    assert(raw.count(l => l.startsWith("@") && !l.startsWith("@@")) == 0,
      "a paged root must not also inline partition lines")
    // hash-bucketed pages: N = next power of two covering the line count
    val expectedN = Integer.highestOneBit(math.max(1,
      (nSynth + 1 + AcidTable.RootPageSize - 1) / AcidTable.RootPageSize) * 2 - 1)
    assert(pageRefs.size == expectedN, s"${pageRefs.size} pages, expected $expectedN")
    // readers see the flat shape: every partition's seg ref resolvable
    assert(t.timeline.rootView(v1).segRefs.size == nSynth + 1)
    assert(t.detail().collect()(0).getLong(5) == nSynth + 1) // partition count
    // trickle commit on the real partition: pages REUSE (content-addressed
    // chunks of the sorted line list — only P0's chunk changes)
    t.upsert(batch(("R1", "P0", 10L)))
    val raw2 = t.timeline.rootView(t.latestVersion()).rawRefLines
    val pageRefs2 = raw2.filter(_.startsWith("@@"))
    val reused = pageRefs.map(_.substring(2).takeWhile(_ != '|')).toSet intersect
      pageRefs2.map(_.substring(2).takeWhile(_ != '|')).toSet
    assert(reused.size >= pageRefs.size - 1,
      s"a trickle commit must rewrite at most one page (reused ${reused.size} of ${pageRefs.size})")
    // the snapshot still reads the REAL partition correctly through pages
    assert(t.lookup(Seq("R1"), Some(Seq("P0"))).collect()(0).getLong(2) == 10L)
    // fsck: a deleted page file is a dangling_page_ref finding
    import org.apache.spark.sql.functions.col
    val victim = segDir(t).resolve(
      pageRefs2.head.substring(2).takeWhile(_ != '|'))
    val saved = Files.readAllBytes(victim)
    Files.delete(victim)
    assert(t.fsck().filter(col("kind") === "dangling_page_ref").count() >= 1)
    Files.write(victim, saved)
    assert(t.fsck().count() == 0)
    // GC: vacuum with live refs keeps every referenced page
    t.vacuum(keepVersions = 2, graceMillis = 0L)
    val pagesOnDisk = Option(segDir(t).toFile.listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("page-")).toSet
    val livePageRefs = (t.latestVersion() - 1 to t.latestVersion())
      .flatMap(v => t.timeline.rootView(v).rawRefLines.filter(_.startsWith("@@"))
        .map(_.substring(2).takeWhile(_ != '|'))).toSet
    assert(pagesOnDisk == livePageRefs,
      s"pages on disk $pagesOnDisk != retained roots' page refs $livePageRefs")
    assert(t.timeline.rootView(t.latestVersion()).segRefs.size == nSynth + 1)
  }

  test("a missing segment surfaces as NoSuchFileException above the 64-ref parallel read") {
    val t = newTable()
    // 65 partitions: the root view resolves its segments on the pool
    t.upsert(batch((0 until 65).map(i => (s"k$i", s"P$i", i.toLong)): _*))
    val view = t.timeline.rootView(t.latestVersion())
    assert(view.segRefs.size == 65)
    Files.delete(segDir(t).resolve(view.segRefs(40).name))
    AcidTable.purgeCachesForSpec(t.path)
    // the task's own exception, as below the threshold — not the pool's
    // ExecutionException wrapper
    intercept[java.nio.file.NoSuchFileException](t.snapshot())
  }
}
