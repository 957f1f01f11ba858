package graft.lake

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Metadata-scale proof harness (round-14, r11 verdict #4): measure the
  * table-metadata operations that must stay flat-or-sublinear in LIVE FILE
  * COUNT for the 100 TB posture — snapshot planning, incremental commit,
  * hinted point lookup, SHOW PARTITIONS, DESCRIBE HISTORY — at 1 k / 10 k /
  * 100 k live files on the segmented-manifest layout (r12) with bloom
  * segments (r14).
  *
  * Layout synthesis: the probe partition (P0) is seeded with REAL data via
  * ordinary upserts, so point lookups and commits exercise the genuine
  * read/write path; the remaining partitions' files are zero-byte
  * placeholders published through the real commit protocol (one bulk
  * commit), so every metadata structure — root listing, per-partition
  * segments, sizes, file-count headers — is exactly what a real bulk load
  * of that file count produces. Nothing reads the placeholder files:
  * planning and pruning consult manifests and segments only, which is the
  * property being measured.
  *
  * Run: `sbt "runMain graft.lake.MetaScale [maxFiles]"` (default 100000).
  * Prints one line per (scale, operation): cold first-touch and warm
  * median milliseconds.
  */
object MetaScale {

  private val FilesPerPartition = 50

  def main(args: Array[String]): Unit = {
    val maxFiles = args.headOption.map(_.toInt).getOrElse(100000)
    // record-level index mode (round 16): on by default — the pk→partition
    // index is what makes transform-less unhinted point ops flat; pass
    // "rli=off" to reproduce the pre-index residual (round-15 curve)
    val rli = !args.lift(1).contains("rli=off")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.graft.warehouse",
        Files.createTempDirectory("metascale-wh-").toString)
      .config("spark.sql.catalog.graft", "graft.lake.GraftCatalog")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    println("files,partitions,op,cold_ms,warm_median_ms,detail")
    // the 500 k point drops files-per-partition to 25 → 20 000 live
    // partitions: the high-partition-count probe of the O(live
    // partitions) root write every commit pays (round-14 verdict #2)
    Seq((1000, FilesPerPartition), (10000, FilesPerPartition),
        (100000, FilesPerPartition), (500000, 25))
      .filter(_._1 <= maxFiles)
      .foreach { case (n, fpp) => run(spark, n, fpp, rli) }
    spark.stop()
  }

  private def timedMs(body: => Any): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  private def run(spark: SparkSession, nFiles: Int,
      filesPerPartition: Int = FilesPerPartition,
      rli: Boolean = true): Unit = {
    val nParts = nFiles / filesPerPartition
    val schema = StructType(Seq(
      StructField("pk", StringType, nullable = false),
      StructField("part", StringType, nullable = false),
      StructField("v", DoubleType, nullable = true)))
    val wh = spark.conf.get("spark.sql.graft.warehouse")
    val dir = s"$wh/msdb/t$nFiles"
    val t = AcidTable.create(spark, dir, schema, "pk", "part",
      stablePartitions = true, numBuckets = filesPerPartition)
    t.setTableProperty("bloomColumns", Some("pk"))
    if (rli) t.setTableProperty("recordIndex", Some("true"))

    // real probe partition: one upsert of enough keys to populate every
    // bucket of P0 with a real parquet file
    val seedRows = (0 until filesPerPartition * 10).map(i =>
      Row(s"k$i", "P0", i.toDouble))
    t.upsert(spark.createDataFrame(
      java.util.Arrays.asList(seedRows: _*), schema), Some(Seq("P0")))
    val realFiles = t.filesForPartitions(t.latestVersion(), Seq("P0"))

    // placeholder partitions P1..P(nParts-1), FilesPerPartition files
    // each: every placeholder is a HARDLINK to one real single-row parquet
    // file whose pk is a sentinel no measurement ever probes (the
    // partition value comes from the manifest, not the file), and a
    // synthesized bloom segment registers the sentinel for every
    // placeholder — exactly the metadata a real bulk load stamps, so
    // unhinted point probes prune placeholders through blooms instead of
    // scanning them. Published through the REAL commit protocol.
    val dataRoot = java.nio.file.Paths.get(dir, "data")
    val fileSchema = spark.read
      .parquet(dataRoot.resolve(realFiles.head).toString).schema
    val sentinel = "\u0000-metascale-sentinel"
    val dummyRow = Row.fromSeq(fileSchema.fields.map { f =>
      if (f.name == "pk") sentinel
      else if (f.dataType == DoubleType) 0.0
      else null
    }.toSeq)
    val dummyTmp = Files.createTempDirectory("metascale-dummy-")
    spark.createDataFrame(java.util.Arrays.asList(dummyRow), fileSchema)
      .coalesce(1).write.mode("overwrite").parquet(dummyTmp.toString)
    val dummySrc = dummyTmp.toFile.listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath
    val synth = (1 until nParts).flatMap { p =>
      val pd = s"part=P$p"
      Files.createDirectories(dataRoot.resolve(pd))
      (0 until filesPerPartition).map { b =>
        val rel = f"$pd/b$b%03d-synth$p%05d.parquet"
        // one COPY per partition, links within it: ext4 caps an inode at
        // ~65 k hardlinks, which 100 k placeholders would exceed
        if (b == 0) Files.copy(dummySrc, dataRoot.resolve(rel))
        else Files.createLink(dataRoot.resolve(rel),
          dataRoot.resolve(f"$pd/b${0}%03d-synth$p%05d.parquet"))
        rel
      }
    }
    // one shared bloom payload (sentinel only) for every placeholder:
    // the segment writer stores a shared payload once
    val sentinelBloom: Seq[(String, Array[Byte])] = {
      val bf = org.apache.spark.util.sketch.BloomFilter.create(10000L, 0.01)
      bf.putBinary(sentinel.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Seq("pk" -> Indexes.bytesOf(bf))
    }
    t.indexes.writeBloomSegment(synth.map(rel => rel -> sentinelBloom))
    val allFiles = realFiles ++ synth
    val touched = (1 until nParts).map(p => FileCell(s"P$p", -1))
    val sizes = t.timeline.rootView(t.latestVersion()).sizes ++
      synth.map(_ -> 64L * 1024 * 1024)
    // record-index synthesis mirrors the bloom synthesis above: a real
    // bulk load's distributed commit shard-writes (pk, partition) runs
    // from executors (writeRliDeltaDistributed); here the placeholder
    // partitions' only key is the sentinel, so the complete index is the
    // seed keys → P0 plus sentinel → every placeholder partition —
    // published as an RliSet with the completeness flag, exactly the
    // header an indexed-from-birth bulk load stamps
    val rliUpdate =
      if (!rli) Indexes.RliAuto
      else Indexes.RliSet(
        t.indexes.writeRliDelta(
          (0 until filesPerPartition * 10).map(i => s"k$i" -> "P0") ++
            (1 until nParts).map(p => sentinel -> s"P$p")).toSeq,
        done = true)
    val bulkMs = timedMs {
      t.publish(t.latestVersion() + 1, allFiles, touched, sizes, "BULKLOAD",
        rli = rliUpdate)
    }
    println(f"$nFiles,$nParts,bulk_publish,$bulkMs%.1f,,one commit touching ${nParts - 1} partitions")

    // fresh handle = cold per-table caches for the first-touch numbers
    // (segment/bloom caches are process-wide keyed by path+name, so the
    // cold row after a same-JVM build is "driver restarted" equivalent
    // only for the manifest root; note it as such)
    def emit(op: String, cold: Double, warm: Seq[Double], detail: String = ""): Unit =
      println(f"$nFiles,$nParts,$op,$cold%.1f,${median(warm)}%.1f,$detail")

    // 1. snapshot planning: build the scan DataFrame + physical plan
    //    (file-list resolution + pruning machinery, no execution)
    def planOnce(): Unit = {
      t.snapshot().queryExecution.executedPlan
      ()
    }
    val planCold = timedMs(planOnce())
    emit("snapshot_plan", planCold, (1 to 10).map(_ => timedMs(planOnce())))

    // 2. hinted point lookup: file resolution only (manifest + segment +
    //    bucket + bloom pruning)
    val probeKey = "k7"
    val resCold = timedMs(t.lookupFiles(Seq(probeKey), Some(Seq("P0"))))
    emit("lookup_files", resCold,
      (1 to 10).map(_ => timedMs(t.lookupFiles(Seq(probeKey), Some(Seq("P0"))))),
      s"resolved=${t.lookupFiles(Seq(probeKey), Some(Seq("P0"))).size} files")

    // 3. point lookup end-to-end (reads the real P0 file)
    val lkCold = timedMs(t.lookup(Seq(probeKey), Some(Seq("P0"))).collect())
    emit("lookup_e2e", lkCold,
      (1 to 10).map(_ => timedMs(t.lookup(Seq(probeKey), Some(Seq("P0"))).collect())))

    // 4. incremental commit: upsert one key into P0 (cell-scoped rewrite
    //    against the full-scale metadata), with the publish-phase share
    //    split out (AcidTable.publishNanos) to localize any growth
    val pubBefore = AcidTable.publishNanos.get()
    val commits = (1 to 10).map { i =>
      timedMs(t.upsert(spark.createDataFrame(
        java.util.Arrays.asList(Row("k7", "P0", -i.toDouble)), schema), Some(Seq("P0"))))
    }
    val pubMs = (AcidTable.publishNanos.get() - pubBefore) / 1e6 / commits.size
    emit("commit_upsert", commits.head, commits.tail,
      f"publish_phase_mean=$pubMs%.1f ms")

    // 4b. trickle CDC diff: changesBetween across the last 1-key commit —
    //     on segmented roots the diff drops identical partitions from the
    //     ROOT REFS without resolving their segments (round 14), so its
    //     metadata cost is O(changed partitions)
    val vHead = t.latestVersion()
    val cdcCold = timedMs(t.changesBetween(vHead - 1, vHead).count())
    emit("cdc_diff_trickle", cdcCold,
      (1 to 10).map(_ => timedMs(t.changesBetween(vHead - 1, vHead).count())))

    // 4c. merge-on-read delete, partition-hinted (the production point-
    //     delete shape): the driver probe resolves only the hinted
    //     partition's segment and the DV-only commit carries every root
    //     line verbatim (round 14) — O(matched keys), zero Spark jobs
    def dvDel(k: String): Unit = {
      val kdf = spark.createDataFrame(
        java.util.Arrays.asList(Row(k, "P0", null)), schema)
        .select("pk", "part")
      t.deleteVectored(kdf)
      ()
    }
    val dvCold = timedMs(dvDel("k9"))
    emit("dv_delete", dvCold, (1 to 10).map(i => timedMs(dvDel(s"k${10 + i}"))))

    // 4d. merge-on-read delete, UNHINTED (keys only — no partition
    //     restated): the probe expands segment refs through the process-
    //     wide content-addressed cache (a trickle commit changes one
    //     segment, so re-expansion is a cache-hit concatenation), then
    //     bucket+bloom pruning narrows to the real candidates — round-14
    //     verdict #3's target is warm-unhinted within ~2× of hinted
    def dvDelUnhinted(k: String): Unit = { t.deleteVectored(Seq(k)); () }
    val dvuCold = timedMs(dvDelUnhinted("k30"))
    emit("dv_delete_unhinted", dvuCold,
      (1 to 10).map(i => timedMs(dvDelUnhinted(s"k${30 + i}"))))

    // 5. SHOW PARTITIONS through the catalog SQL front-end
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.msdb")
    val showCold = timedMs(spark.sql(s"SHOW PARTITIONS graft.msdb.t$nFiles").collect())
    emit("show_partitions", showCold,
      (1 to 10).map(_ => timedMs(
        spark.sql(s"SHOW PARTITIONS graft.msdb.t$nFiles").collect())),
      s"rows=${spark.sql(s"SHOW PARTITIONS graft.msdb.t$nFiles").count()}")

    // 6. DESCRIBE DETAIL: one-row summary (one root read on segments)
    val detCold = timedMs(t.detail().collect())
    emit("describe_detail", detCold, (1 to 10).map(_ => timedMs(t.detail().collect())))

    // 7. DESCRIBE HISTORY analog: full timeline header scan
    val histCold = timedMs(t.history().collect())
    emit("history", histCold, (1 to 10).map(_ => timedMs(t.history().collect())))

    // 8. FSCK TABLE (read-only integrity walk) over the full retained
    //    timeline (~25 versions here): O(retained roots) + O(distinct
    //    pages) + one segment-dir listing after the round-16
    //    short-circuit — NOT O(versions × live files)
    var fsckFindings = 0L
    val fsckCold = timedMs { fsckFindings = t.fsck().collect().length.toLong }
    emit("fsck", fsckCold, (1 to 10).map(_ => timedMs(t.fsck().collect())),
      s"findings=$fsckFindings")

    // 8b. branch write-audit-publish lifecycle (round 18c): create is the
    //     zero-copy fork (O(live files) hard links + carried side state),
    //     the staged commit is an ordinary cell-scoped commit against the
    //     fork, and publish is the squashed CAS — O(changed partitions)
    //     metadata + O(new files) links, so it must stay FLAT across the
    //     file-count scales while only create grows with the table
    val brCreate = scala.collection.mutable.ArrayBuffer.empty[Double]
    val brStage = scala.collection.mutable.ArrayBuffer.empty[Double]
    val brPublish = scala.collection.mutable.ArrayBuffer.empty[Double]
    val brDrop = scala.collection.mutable.ArrayBuffer.empty[Double]
    (0 until 3).foreach { i =>
      brCreate += timedMs(t.createBranch(s"ms$i"))
      val br = t.branch(s"ms$i")
      brStage += timedMs(br.upsert(spark.createDataFrame(
        java.util.Arrays.asList(Row("k5", "P0", 1000.0 + i)), schema), Some(Seq("P0"))))
      // publish and cleanup timed apart: the CAS publish is the claimed
      // O(changed partitions) step; the drop is an O(files) unlink walk
      // (any directory-tree removal), amortizable and off the commit path
      brPublish += timedMs(t.publishBranch(s"ms$i", dropAfter = false))
      brDrop += timedMs(t.dropBranch(s"ms$i"))
    }
    emit("branch_create", brCreate.head, brCreate.tail.toSeq,
      "zero-copy fork: O(live files) links + verbatim bloom/index carry")
    emit("branch_stage_commit", brStage.head, brStage.tail.toSeq,
      "cell-scoped commit on the fork")
    emit("branch_publish", brPublish.head, brPublish.tail.toSeq,
      "squashed CAS publish, 1 touched partition (cleanup timed separately)")
    emit("branch_drop", brDrop.head, brDrop.tail.toSeq,
      "O(files) unlink walk of the fork's own dir entries")

    // 8c. snapshot tags: O(1) ref files regardless of table size
    val tagCr = (0 until 5).map(i => timedMs(t.createTag(s"mt$i")))
    val tagRd = (0 until 5).map(i => timedMs(t.tagVersion(s"mt$i")))
    (0 until 5).foreach(i => t.dropTag(s"mt$i")) // release before the vacuum leg
    emit("tag_create", tagCr.head, tagCr.tail)
    emit("tag_resolve", tagRd.head, tagRd.tail)

    // 9. vacuum, measured LAST (it archives the timeline the rows above
    //    read): the FIRST call pays the real GC — data-file sweep over
    //    the whole data dir (O(live files) by definition: GC must
    //    enumerate what exists), segment/page/rli liveness across
    //    retained versions, timeline archival of ~25 manifests; repeat
    //    calls are the steady-state sweep on an already-clean table
    val vacCold = timedMs(t.vacuum(keepVersions = 2, graceMillis = 0))
    emit("vacuum", vacCold,
      (1 to 5).map(_ => timedMs(t.vacuum(keepVersions = 2, graceMillis = 0))),
      "cold = real GC + archival; warm = steady-state no-op sweep")
  }
}
