package graft.lake

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Record

/** Lifecycle spec for the pk→partition record-level index (round-16
  * verdict #2, the Hudi RLI analog): maintenance on every write path,
  * complete-flag semantics (empty results are only ever trusted when the
  * flag proves the index covers all live data), the LSM merge, travel
  * through clone/restore/time-travel, death by vacuum, and repair.
  */
class RecordIndexSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("primaryKeyValue", StringType),
    StructField("partitionKeyValue", StringType),
    StructField("dataValue", StringType)))

  private def newTable(indexed: Boolean = true) = {
    val t = AcidTable.create(
      spark, Files.createTempDirectory("acid-rli-").resolve("t").toString,
      schema, "primaryKeyValue", "partitionKeyValue")
    if (indexed) t.setTableProperty("recordIndex", Some("true"))
    t
  }

  private def df(rs: Record*) = spark.createDataset(rs).toDF()

  private def rawRoot(t: AcidTable): Seq[String] =
    Files.readAllLines(Paths.get(t.path, "_commits",
      f"v${t.latestVersion()}%012d.txt")).toArray(Array.empty[String]).toSeq

  private def rootRli(t: AcidTable): RootView.Rli = t.timeline.rootView(t.latestVersion()).rli

  private def rliRefNames(t: AcidTable): Seq[String] =
    t.indexes.rliRefsOf(rootRli(t)).map(_.name)

  private def isDone(t: AcidTable): Boolean = rawRoot(t).contains("#rlidone=1")

  test("indexed-from-birth: unhinted point lookup routes through the index") {
    val t = newTable()
    t.upsert(df(Record("K1", "P0", "v1"), Record("K2", "P1", "v2")))
    t.upsert(df(Record("K3", "P2", "v3")))
    assert(isDone(t), "every commit indexed its keys → flag must hold")
    assert(rliRefNames(t).nonEmpty)
    val routedBefore = Indexes.rliRouted.get()
    // unhinted: no partition restated — the index must resolve only K3's
    // partition's files, not sweep every partition's segment
    val files = t.lookupFiles(Seq("K3"))
    assert(Indexes.rliRouted.get() > routedBefore, "probe must route via the index")
    assert(files.nonEmpty && files.forall(_.startsWith("partitionKeyValue=P2/")),
      s"index must narrow to P2, got $files")
    // proven-empty: a key the table never held resolves ZERO files
    assert(t.lookupFiles(Seq("NOPE")).isEmpty)
    // end-to-end read parity
    assert(t.lookup(Seq("K1")).collect().map(_.getString(2)).toSeq == Seq("v1"))
    assert(t.lookup(Seq("NOPE")).collect().isEmpty)
  }

  test("unhinted MOR delete rides the index and stays correct") {
    val t = newTable()
    (1 to 8).foreach(i => t.upsert(df(Record(s"K$i", s"P${i % 4}", s"v$i"))))
    t.deleteVectored(Seq("K5"))
    assert(t.snapshot().count() == 7)
    assert(t.lookup(Seq("K5")).collect().isEmpty)
    assert(isDone(t), "DV-only commits inherit refs AND completeness")
  }

  test("copy-on-write delete and compact carry the index verbatim") {
    val t = newTable()
    (1 to 6).foreach(i => t.upsert(df(Record(s"K$i", s"P${i % 2}", s"v$i"))))
    val refsBefore = rliRefNames(t)
    t.delete(Seq("K2"))
    assert(rliRefNames(t) == refsBefore && isDone(t))
    t.compact(maxFilesPerPartition = 1)
    assert(rliRefNames(t) == refsBefore && isDone(t))
    // stale entry for the deleted key only adds candidates — still empty
    assert(t.lookup(Seq("K2")).collect().isEmpty)
    assert(t.lookup(Seq("K3")).collect().map(_.getString(2)).toSeq == Seq("v3"))
  }

  test("LSM merge: ref list folds above MaxRliRefs, probes stay exact") {
    val t = newTable()
    (1 to Indexes.MaxRliRefs + 4).foreach(i =>
      t.upsert(df(Record(s"K$i", s"P${i % 3}", s"v$i"))))
    assert(rliRefNames(t).size <= Indexes.MaxRliRefs,
      s"merge must bound the ref list, got ${rliRefNames(t).size}")
    assert(isDone(t))
    val files = t.lookupFiles(Seq(s"K${Indexes.MaxRliRefs + 1}"))
    val expectPart = s"partitionKeyValue=P${(Indexes.MaxRliRefs + 1) % 3}/"
    assert(files.nonEmpty && files.forall(_.startsWith(expectPart)))
  }

  test("distributed (non-local) batch: executor-sharded delta, flag holds") {
    val t = newTable()
    // a range-backed frame is NOT a driver-local LocalRelation → the
    // commit takes the distributed write path and the index must be
    // written from executors
    val big = spark.range(0, 500)
      .selectExpr("concat('D', id) as primaryKeyValue",
        "concat('P', id % 7) as partitionKeyValue", "cast(id as string) as dataValue")
    t.upsert(big)
    assert(isDone(t), "distributed commit must index via executor shards")
    val files = t.lookupFiles(Seq("D123"))
    assert(files.nonEmpty && files.forall(_.startsWith("partitionKeyValue=P4/")))
    assert(t.lookup(Seq("D123")).collect().map(_.getString(2)).toSeq == Seq("123"))
    assert(t.lookupFiles(Seq("D9999")).isEmpty)
  }

  test("NULL pk row degrades to incomplete, never to a wrong empty") {
    val t = newTable()
    t.upsert(df(Record("K1", "P0", "v1")))
    assert(isDone(t))
    // a NULL pk cannot be rendered into the index's line domain — the
    // commit must drop the completeness flag rather than mis-index
    t.upsert(spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(null, "P0", "vn")), schema))
    assert(!isDone(t), "unrenderable row must drop the completeness flag")
    // fallback probe still finds the indexed row
    assert(t.lookup(Seq("K1")).collect().length == 1)
    assert(t.snapshot().filter(col("primaryKeyValue").isNull).count() == 1)
  }

  test("distributed NULL pk degrades via the in-job accumulator probe") {
    // round-17: the NULL check rides the shard-write job itself (an
    // accumulator) instead of a separate isEmpty pre-pass — same
    // semantics, one fewer Spark job per indexed distributed commit
    val t = newTable()
    t.upsert(df(Record("K1", "P0", "v1")))
    assert(isDone(t))
    val withNull = spark.range(0, 50).selectExpr(
      "CASE WHEN id = 25 THEN NULL ELSE concat('N', id) END as primaryKeyValue",
      "concat('P', id % 3) as partitionKeyValue", "cast(id as string) as dataValue")
    t.upsert(withNull)
    assert(!isDone(t), "distributed NULL pk must drop the completeness flag")
    // fallback probe still exact; the null row landed
    assert(t.lookup(Seq("K1")).collect().length == 1)
    assert(t.lookup(Seq("N10")).collect().map(_.getString(2)).toSeq == Seq("10"))
    assert(t.snapshot().filter(col("primaryKeyValue").isNull).count() == 1)
  }

  test("rebuildRecordIndex arms the flag on a legacy/degraded table") {
    val t = newTable(indexed = false)
    (1 to 5).foreach(i => t.upsert(df(Record(s"K$i", s"P${i % 2}", s"v$i"))))
    assert(rliRefNames(t).isEmpty && !isDone(t))
    t.rebuildRecordIndex()
    assert(isDone(t) && rliRefNames(t).nonEmpty)
    assert(t.tableProperty("recordIndex").contains("true"))
    val files = t.lookupFiles(Seq("K4"))
    assert(files.nonEmpty && files.forall(_.startsWith("partitionKeyValue=P0/")))
    assert(t.lookupFiles(Seq("ABSENT")).isEmpty)
    // content unchanged by the metadata-only rebuild commit
    assert(t.snapshot().count() == 5)
  }

  test("index travels with clone, restore, and time travel") {
    val t = newTable()
    t.upsert(df(Record("K1", "P0", "v1")))
    val vEarly = t.latestVersion()
    t.upsert(df(Record("K2", "P1", "v2")))
    // time travel: the EARLY version's index does not know K2
    assert(t.lookupFiles(Seq("K2"), version = vEarly).isEmpty)
    assert(t.lookupFiles(Seq("K2")).nonEmpty)
    // clone: refs + flag + run bytes travel
    val c = t.cloneTo(Files.createTempDirectory("acid-rli-clone-")
      .resolve("c").toString)
    assert(isDone(c) && rliRefNames(c).nonEmpty)
    assert(c.lookupFiles(Seq("K1")).nonEmpty && c.lookupFiles(Seq("NOPE")).isEmpty)
    // restore: the index reverts WITH the content
    t.restore(vEarly)
    assert(isDone(t))
    assert(t.lookupFiles(Seq("K2")).isEmpty, "restored index must not know K2")
    assert(t.lookup(Seq("K1")).collect().length == 1)
  }

  test("vacuum keeps live runs, sweeps orphaned ones; fsck stays clean") {
    val t = newTable()
    (1 to 20).foreach(i => t.upsert(df(Record(s"K$i", s"P${i % 2}", s"v$i"))))
    val segsDir = Paths.get(t.path, "_commits", "_segments")
    def rliFiles() = Option(segsDir.toFile.listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("rli-")).toSet
    val before = rliFiles()
    assert(before.size > rliRefNames(t).size,
      "superseded delta runs accumulate before vacuum")
    t.vacuum(keepVersions = 1, graceMillis = 0L)
    val after = rliFiles()
    assert(rliRefNames(t).toSet.subsetOf(after), "live refs must survive GC")
    assert(after.size < before.size, "orphaned runs must die with vacuum")
    assert(t.fsck().count() == 0)
    assert(t.lookupFiles(Seq("K7")).nonEmpty)
  }

  test("incremental fold: untouched generation shards carry verbatim") {
    val t = newTable()
    // distributed first commit → an executor-sharded ref set whose
    // leading prefix IS a generation (nShards=16, distinct shards)
    val big = spark.range(0, 2000)
      .selectExpr("concat('G', id) as primaryKeyValue",
        "concat('P', id % 5) as partitionKeyValue", "cast(id as string) as dataValue")
    t.upsert(big)
    val genBefore = t.indexes.rliRefsOf(rootRli(t))
    assert(Indexes.rliGenPrefixLen(genBefore) == genBefore.size && genBefore.size > 4,
      s"distributed commit must yield a recognizable generation, got $genBefore")
    // MaxRliRefs+1 tiny driver deltas → the delta tail outgrows the bound
    // and the commit folds them INTO the generation
    (1 to Indexes.MaxRliRefs + 1).foreach(i =>
      t.upsert(df(Record(s"K$i", s"P${i % 5}", s"v$i"))))
    val after = t.indexes.rliRefsOf(rootRli(t))
    assert(after.size - Indexes.rliGenPrefixLen(after) <= Indexes.MaxRliRefs,
      s"delta tail must stay bounded, got $after")
    assert(after.forall(_.nShards == genBefore.head.nShards),
      "incremental fold must keep the generation's shard count")
    // the 17 delta keys hash into a subset of the 16 shards; at least the
    // shards no delta key touched must carry their run files VERBATIM
    val beforeNames = genBefore.map(_.name).toSet
    val carried = after.map(_.name).count(beforeNames.contains)
    assert(carried > 0, "untouched shards must carry verbatim, none did")
    // probes stay exact through the fold, for generation and delta keys
    assert(t.lookupFiles(Seq("G123")).forall(_.startsWith("partitionKeyValue=P3/")))
    assert(t.lookup(Seq("G123")).collect().map(_.getString(2)).toSeq == Seq("123"))
    assert(t.lookup(Seq("K7")).collect().map(_.getString(2)).toSeq == Seq("v7"))
    assert(t.lookupFiles(Seq("NOPE")).isEmpty, "proven-empty must survive the fold")
    assert(isDone(t))
  }

  test("distributed fold leg: driver holds ref names only, probes exact") {
    val saved = Indexes.RliDriverFoldMax
    Indexes.RliDriverFoldMax = 0L // force every fold through the executor path
    try {
      val t = newTable()
      val big = spark.range(0, 1000)
        .selectExpr("concat('D', id) as primaryKeyValue",
          "concat('P', id % 3) as partitionKeyValue", "cast(id as string) as dataValue")
      t.upsert(big)
      (1 to Indexes.MaxRliRefs + 1).foreach(i =>
        t.upsert(df(Record(s"X$i", s"P${i % 3}", s"x$i"))))
      val refs = t.indexes.rliRefsOf(rootRli(t))
      assert(refs.size - Indexes.rliGenPrefixLen(refs) <= Indexes.MaxRliRefs)
      assert(isDone(t))
      assert(t.lookup(Seq("D500")).collect().map(_.getString(2)).toSeq == Seq("500"))
      assert(t.lookup(Seq("X3")).collect().map(_.getString(2)).toSeq == Seq("x3"))
      assert(t.lookupFiles(Seq("MISSING")).isEmpty)
      // growth leg: shrink the shard budget so the NEXT fold must re-shard
      // the generation distributedly, then verify probes again
      (1 to Indexes.MaxRliRefs + 1).foreach(i =>
        t.upsert(df(Record(s"Y$i", s"P${i % 3}", s"y$i"))))
      assert(t.lookup(Seq("Y5")).collect().map(_.getString(2)).toSeq == Seq("y5"))
      assert(t.lookup(Seq("D7")).collect().map(_.getString(2)).toSeq == Seq("7"))
      assert(t.lookupFiles(Seq("NADA")).isEmpty)
    } finally Indexes.RliDriverFoldMax = saved
  }

  test("distributed fold survives an aggressive concurrent vacuum (anchor holds)") {
    // Round-18 (r17 verdict #7): distributedRliFold mtime-touches its
    // input run files before the Spark job so a racing vacuum's age guard
    // keeps them readable through the executor-read window. Race it for
    // real: a vacuum loop with a grace window SHORTER than the test
    // (100 ms period) sweeps continuously while commits drive
    // several executor-leg folds (RliDriverFoldMax = 0), including a
    // generation-growth re-shard. Any anchor hole surfaces as a fold
    // failure (unreadable run file), a wrong/incomplete probe, or an
    // fsck finding.
    //
    // Grace sizing: the retention contract (verify skill / BASELINE) is
    // that graceMillis exceeds the longest in-flight operation — grace
    // also bounds the window between a sweep's liveness snapshot and its
    // deletes, so a grace shorter than one stalled upsert+sweep can
    // delete a LIVE file the snapshot predates. The original 1.5 s read
    // flaked exactly that way late in a long suite JVM (GC stalls >1.5 s:
    // an upsert hit FILE_NOT_EXIST on a live data file). 6 s still sweeps
    // first-half files while the ~30-upsert distributed-fold loop runs,
    // keeping the run-file anchor genuinely raced, within contract.
    val saved = Indexes.RliDriverFoldMax
    Indexes.RliDriverFoldMax = 0L
    try {
      val t = newTable()
      t.upsert(spark.range(0, 2000)
        .selectExpr("concat('R', id) as primaryKeyValue",
          "concat('P', id % 3) as partitionKeyValue", "cast(id as string) as dataValue"))
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val vac = new Thread(() => {
        while (!stop.get()) {
          try { t.vacuum(keepVersions = 2, graceMillis = 6000); () }
          catch { case e: Throwable => errs.add(e.toString); () }
          Thread.sleep(100)
        }
      }, "rli-race-vacuum")
      vac.setDaemon(true)
      vac.start()
      try {
        // two full delta windows: the first overflow fold is the growth
        // re-shard, the second a wide-generation incremental — both on
        // the executor leg, both racing the sweeper
        (1 to 2 * (Indexes.MaxRliRefs + 1)).foreach(i =>
          t.upsert(df(Record(s"V$i", s"P${i % 3}", s"v$i"))))
      } finally { stop.set(true); vac.join(15000) }
      assert(errs.isEmpty, s"vacuum threw while racing the fold: $errs")
      assert(isDone(t), "fold under racing vacuum must keep the done flag")
      assert(t.lookup(Seq("R500")).collect().map(_.getString(2)).toSeq == Seq("500"))
      assert(t.lookup(Seq(s"V${Indexes.MaxRliRefs}")).collect()
        .map(_.getString(2)).toSeq == Seq(s"v${Indexes.MaxRliRefs}"))
      assert(t.lookupFiles(Seq("GONE")).isEmpty, "proven-empty must survive the race")
      val findings = t.fsck(graceMs = 0).collect()
      assert(findings.isEmpty, s"fsck not clean after fold × vacuum race: " +
        findings.map(_.toString).mkString(", "))
    } finally Indexes.RliDriverFoldMax = saved
  }

  test("wide generation: refs move to a content-addressed side file") {
    val saved = Indexes.RliGenInlineMax
    Indexes.RliGenInlineMax = 4 // engage the indirection on a CI-sized generation
    try {
      val t = newTable()
      val big = spark.range(0, 1500)
        .selectExpr("concat('D', id) as primaryKeyValue",
          "concat('P', id % 5) as partitionKeyValue", "cast(id as string) as dataValue")
      t.upsert(big)
      val raw = rawRoot(t)
      assert(raw.exists(_.startsWith("#rligen=")),
        s"expected a side-file header, got ${raw.filter(_.startsWith("#rli"))}")
      val refs = t.indexes.rliRefsOf(rootRli(t))
      assert(Indexes.rliGenPrefixLen(refs) > 4, s"expansion must return the members: $refs")
      val genName = rootRli(t).gen.get._1
      // trickle commits carry the UNCHANGED generation by the same
      // content-addressed name — no per-commit O(shards) header text
      t.upsert(df(Record("T1", "P0", "t1")))
      t.upsert(df(Record("T2", "P1", "t2")))
      assert(rootRli(t).gen.get._1 == genName,
        "an unchanged generation must re-reference the same side file")
      assert(isDone(t))
      assert(t.lookup(Seq("D700")).collect().map(_.getString(2)).toSeq == Seq("700"))
      assert(t.lookup(Seq("T1")).collect().map(_.getString(2)).toSeq == Seq("t1"))
      assert(t.lookupFiles(Seq("NOPE")).isEmpty)
      // fold on the indirected generation: delta tail past the bound
      (1 to Indexes.MaxRliRefs + 1).foreach(i =>
        t.upsert(df(Record(s"W$i", s"P${i % 5}", s"w$i"))))
      assert(t.lookup(Seq("W9")).collect().map(_.getString(2)).toSeq == Seq("w9"))
      assert(t.lookup(Seq("D700")).collect().map(_.getString(2)).toSeq == Seq("700"))
      // vacuum keeps the live side file + members; fsck clean
      t.vacuum(keepVersions = 1, graceMillis = 0L)
      assert(t.fsck().count() == 0)
      assert(t.lookupFiles(Seq("D700")).nonEmpty)
      // a missing side file voids routing, never correctness; repair
      // heals it content-addressably from the generation cache
      val gn = rootRli(t).gen.get._1
      val segsDir = Paths.get(t.path, "_commits", "_segments")
      Files.delete(segsDir.resolve(gn))
      assert(t.lookup(Seq("D700")).collect().length == 1,
        "fallback sweep must stay correct with the side file gone")
      assert(t.fsck().filter(col("kind") === "dangling_rli_ref").count() >= 1)
      val actions = t.fsckRepair().collect()
        .map(r => (r.getString(2), r.getString(4))).toSeq
      assert(actions.contains((gn, "repaired_from_cache")),
        s"expected a cache heal of $gn, got $actions")
      assert(t.fsck().count() == 0)
      assert(t.lookupFiles(Seq("D700")).nonEmpty, "routing must return after the heal")
    } finally Indexes.RliGenInlineMax = saved
  }

  test("purging a table's caches drops its index generation list too") {
    val saved = Indexes.RliGenInlineMax
    Indexes.RliGenInlineMax = 4 // engage the side file on a CI-sized generation
    try {
      val t = newTable()
      t.upsert(spark.range(0, 1500)
        .selectExpr("concat('D', id) as primaryKeyValue",
          "concat('P', id % 5) as partitionKeyValue", "cast(id as string) as dataValue"))
      val gn = rootRli(t).gen.get._1
      assert(t.lookup(Seq("D700")).collect().length == 1) // caches the side file
      Files.delete(Paths.get(t.path, "_commits", "_segments", gn))
      // the "driver restarted" state: no cached copy of the side file may
      // keep routing lookups through an index whose generation is gone
      AcidTable.purgeCachesForSpec(t.path)
      val routedBefore = Indexes.rliRouted.get()
      assert(t.lookup(Seq("D700")).collect().map(_.getString(2)).toSeq == Seq("700"))
      assert(Indexes.rliRouted.get() == routedBefore,
        "a lookup must not route through a purged, missing generation")
    } finally Indexes.RliGenInlineMax = saved
  }

  test("fsckRepair re-materializes a dangling index run from cache") {
    val t = newTable()
    (1 to 4).foreach(i => t.upsert(df(Record(s"K$i", "P0", s"v$i"))))
    t.lookupFiles(Seq("K1")) // load runs into the content cache
    val segsDir = Paths.get(t.path, "_commits", "_segments")
    val victim = rliRefNames(t).head
    Files.delete(segsDir.resolve(victim))
    assert(t.fsck().filter(col("kind") === "dangling_rli_ref").count() >= 1)
    // dangling run voids routing but not correctness
    assert(t.lookup(Seq("K1")).collect().length == 1)
    val actions = t.fsckRepair().collect()
      .map(r => (r.getString(0), r.getString(4))).toSeq
    assert(actions.contains(("dangling_rli_ref", "repaired_from_cache")),
      s"expected cache repair, got $actions")
    assert(t.fsck().count() == 0)
    assert(t.lookupFiles(Seq("K1")).nonEmpty)
  }
}
