package graft.lake

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Record

class AcidTableMaintenanceSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("primaryKeyValue", StringType),
    StructField("partitionKeyValue", StringType),
    StructField("dataValue", StringType)))

  private def newTable() = AcidTable.create(
    spark, Files.createTempDirectory("acid-maint-").resolve("t").toString,
    schema, "primaryKeyValue", "partitionKeyValue")

  private def df(rs: Record*) = spark.createDataset(rs).toDF()

  private def filesInPartition(t: AcidTable, p: String): Int =
    Option(new java.io.File(t.path, s"data/partitionKeyValue=$p").listFiles())
      .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))

  test("compact folds accumulated per-commit files into one per file group") {
    val t = newTable()
    (1 to 6).foreach(i => t.upsert(df(Record(s"R$i", "P0", s"v$i"))))
    assert(filesInPartition(t, "P0") == 6) // one file per commit
    t.compact(maxFilesPerPartition = 4)
    t.vacuum(keepVersions = 1, graceMillis = 0L)
    // the compacted layout is one file per NON-EMPTY BUCKET (file group),
    // the unit keyed commits conflict-resolve on — six keys can share
    // buckets, so the count is the distinct-bucket count, at most 6
    val distinctBuckets = new java.io.File(t.path, "data/partitionKeyValue=P0")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet"))
      .map(_.takeWhile(_ != '-')).distinct.length
    assert(filesInPartition(t, "P0") == distinctBuckets)
    assert(distinctBuckets <= 6)
    assert(t.snapshot().count() == 6) // content unchanged
  }

  test("partition-scoped compact rewrites only the named partitions (OPTIMIZE WHERE)") {
    val t = newTable()
    (1 to 5).foreach(i => t.upsert(df(Record(s"A$i", "P0", s"v$i"))))
    (1 to 5).foreach(i => t.upsert(df(Record(s"B$i", "P1", s"v$i"))))
    def live(p: String) =
      t.snapshot().inputFiles.filter(_.contains(s"partitionKeyValue=$p")).sorted.toSeq
    val p0Before = live("P0")
    val p1Before = live("P1")
    // scope = P0 only, rewritten UNCONDITIONALLY (threshold is for the
    // unscoped sweep — maxFiles=99 proves asking is the signal)
    val v = t.compact(maxFilesPerPartition = 99, partitions = Some(Seq("P0")))
    assert(v >= 0)
    assert(live("P1") == p1Before, "out-of-scope partition must carry by reference")
    assert(live("P0") != p0Before, "scoped partition must be rewritten")
    assert(t.snapshot().count() == 10)
    // the rewrite folded P0 to one file per non-empty bucket
    assert(live("P0").size <= p0Before.size)
    // scoping to an absent partition never rewrites anything
    val before = t.snapshot().inputFiles.sorted.toSeq
    t.compact(partitions = Some(Seq("NOPE")))
    assert(t.snapshot().inputFiles.sorted.toSeq == before)
  }

  test("size-targeted writes split an oversized partition into multiple files") {
    val t = newTable()
    // ~60-byte estimated rows; a 2 KiB target forces the per-file record
    // cap low enough that 500 rows in one partition must roll files
    t.targetFileBytes = 2048L
    val manyRows = (1 to 500).map(i => Record(f"R$i%04d", "P0", s"value-$i"))
    t.upsert(df(manyRows: _*))
    val files = filesInPartition(t, "P0")
    assert(files > 1, s"expected a split, got $files file(s)")
    // content identical to the batch regardless of file layout
    val got = t.snapshot().orderBy("primaryKeyValue")
      .collect().map(r => (r.getString(0), r.getString(2))).toSeq
    assert(got == manyRows.map(r => (r.primaryKeyValue, r.dataValue)))
    // compaction honors the same target: it cannot re-fuse the partition
    // into one giant file
    t.compact(maxFilesPerPartition = 1)
    t.vacuum(keepVersions = 1, graceMillis = 0L)
    assert(filesInPartition(t, "P0") > 1)
    assert(t.snapshot().count() == 500)
  }

  test("addColumns: old files read as NULL, new writes carry the column") {
    val t0 = newTable()
    t0.upsert(df(Record("R1", "P0", "a")))
    val t1 = t0.addColumns(Seq(StructField("score", DoubleType)))
    assert(t1.schema.fieldNames.toSeq ==
      Seq("primaryKeyValue", "partitionKeyValue", "dataValue", "score"))
    // pre-evolution row surfaces NULL for the new column
    val before = t1.snapshot().collect()
    assert(before.length == 1 && before.head.isNullAt(3))
    // post-evolution write carries it
    import org.apache.spark.sql.functions.{col, lit}
    t1.upsert(t1.snapshot().filter(col("primaryKeyValue") === "R1")
      .withColumn("dataValue", lit("b")).withColumn("score", lit(0.5)))
    val after = t1.snapshot().collect()
    assert(after.length == 1 && after.head.getDouble(3) == 0.5)
    // reopening picks up the evolved schema
    assert(AcidTable.open(spark, t1.path).schema.fieldNames.contains("score"))
  }

  test("compact races concurrent upserts safely (OCC)") {
    val t = newTable()
    (1 to 4).foreach(i => t.upsert(df(Record(s"R$i", "P0", "seed"))))
    val writers = (1 to 3).map { i =>
      new Thread(() => {
        val s2 = spark.newSession()
        val t2 = AcidTable.open(s2, t.path)
        t2.upsert(s2.createDataset(Seq(Record(s"W$i", "P0", s"w$i"))).toDF())
      })
    }
    val compactor = new Thread(() => AcidTable.open(spark.newSession(), t.path).compact(1))
    (writers :+ compactor).foreach(_.start())
    (writers :+ compactor).foreach(_.join())
    val keys = t.snapshot().as[Record].collect().map(_.primaryKeyValue).sorted.toSeq
    assert(keys == Seq("R1", "R2", "R3", "R4", "W1", "W2", "W3"))
  }

  test("vacuum races concurrent writers safely when the grace window holds") {
    // the production maintenance scenario: retention GC runs NEXT TO live
    // commits. Safety rests on the age guard — a concurrent writer's
    // staged files sit in the data directories before its manifest
    // publishes, so vacuum may only retire files OLDER than the grace
    // window. With a grace window wider than any in-flight commit, no
    // writer may ever lose a staged file, every commit must land, and the
    // final state must equal the serial expectation.
    val t = newTable()
    (1 to 4).foreach(i => t.upsert(df(Record(s"R$i", s"P${i % 2}", "seed"))))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val vacuumFailed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val vacuumer = new Thread(() => {
      val vt = AcidTable.open(spark.newSession(), t.path)
      try while (!stop.get()) { vt.vacuum(keepVersions = 2, graceMillis = 60000L); Thread.sleep(5) }
      catch { case e: Throwable => vacuumFailed.set(e) }
    })
    val writers = (1 to 3).map { i =>
      new Thread(() => {
        val s2 = spark.newSession()
        val t2 = AcidTable.open(s2, t.path)
        (1 to 3).foreach(j =>
          t2.upsert(s2.createDataset(Seq(Record(s"W$i-$j", s"P${j % 2}", s"w$i$j"))).toDF()))
      })
    }
    vacuumer.start(); writers.foreach(_.start()); writers.foreach(_.join())
    stop.set(true); vacuumer.join()
    assert(vacuumFailed.get() == null, s"vacuum failed: ${vacuumFailed.get()}")
    val keys = t.snapshot().as[Record].collect().map(_.primaryKeyValue).sorted.toSeq
    assert(keys == (1 to 4).map(i => s"R$i") ++
      (for (i <- 1 to 3; j <- 1 to 3) yield s"W$i-$j").sorted)
  }

  test("open on a missing table fails fast; bad batches are rejected clearly") {
    assertThrows[java.io.IOException] {
      AcidTable.open(spark, "/tmp/definitely-not-a-table-" + System.nanoTime())
    }
    val t = newTable()
    val bad = spark.range(3).selectExpr("CAST(id AS STRING) AS primaryKeyValue")
    val e = intercept[IllegalArgumentException](t.upsert(bad))
    assert(e.getMessage.contains("partitionKeyValue"))
  }

  test("vacuum keeps files referenced by retained versions") {
    val t = newTable()
    t.upsert(df(Record("R1", "P0", "a")))
    t.upsert(df(Record("R1", "P0", "b"))) // rewrites P0; v0's file now stale
    val removed = t.vacuum(keepVersions = 1, graceMillis = 0L)
    assert(removed == 1)
    assert(t.snapshot().as[Record].head().dataValue == "b")
    // retained manifest still fully readable
    assert(t.snapshot(t.latestVersion()).count() == 1)
  }

  test("restore rolls back as a new commit: content reverts, history stays, table writable") {
    val t = newTable()
    val v0 = t.upsert(df(Record("R1", "P0", "a0"), Record("R2", "P1", "b0")))
    val v1 = t.upsert(df(Record("R1", "P0", "a1"), Record("R3", "P0", "c1")))
    t.delete(Seq("R2"))

    val vr = t.restore(v0)
    assert(vr == t.latestVersion(), "restore must publish a NEW version")
    assert(vr > v1)
    // content is exactly v0 again
    def state() = t.snapshot().as[Record].collect()
      .map(r => r.primaryKeyValue -> r.dataValue).sorted.toSeq
    assert(state() == Seq("R1" -> "a0", "R2" -> "b0"))
    // history after the restore point is audit-intact (no rewrite)
    assert(t.snapshot(v1).as[Record].collect().map(_.primaryKeyValue).sorted.toSeq
      == Seq("R1", "R2", "R3"))
    // and the table keeps accepting commits on top of the restore
    t.upsert(df(Record("R4", "P1", "d0")))
    assert(state() == Seq("R1" -> "a0", "R2" -> "b0", "R4" -> "d0"))
  }

  test("CDC across a restore surfaces the reverted rows as row-level changes") {
    val t = newTable()
    val v0 = t.upsert(df(Record("R1", "P0", "a0"), Record("R2", "P1", "b0")))
    t.upsert(df(Record("R1", "P0", "a1"))) // v1 rewrites R1
    val v2 = t.delete(Seq("R2"))           // v2 drops R2
    val v3 = t.restore(v0)
    // incremental consumers see the rollback as ordinary row changes:
    // R1 reverts (delete a1 + insert a0) and R2 reappears
    val changes = t.changesBetween(v2, v3).collect().map(r =>
      (r.getAs[String]("primaryKeyValue"), r.getAs[String]("dataValue"),
        r.getAs[String]("_change_type"))).toSet
    assert(changes == Set(
      ("R1", "a1", "delete"), ("R1", "a0", "insert"), ("R2", "b0", "insert")),
      s"got $changes")
  }

  test("restore refuses a vacuumed target and an unknown version, loudly") {
    val t = newTable()
    val v0 = t.upsert(df(Record("R1", "P0", "a0")))
    t.upsert(df(Record("R1", "P0", "a1"))) // v1 rewrites R1's file group
    t.upsert(df(Record("R1", "P0", "a2"))) // v2
    // retire v0's files and archive its manifest
    t.vacuum(keepVersions = 1, graceMillis = 0L)
    val e = intercept[IllegalArgumentException](t.restore(v0))
    assert(e.getMessage.contains("restore"), e.getMessage)
    intercept[IllegalArgumentException](t.restore(t.latestVersion() + 10))
  }

  test("a manifest archived out from under a held base reads as a TYPED conflict") {
    // the cross-process race the round-16 harness found: writer A resolves
    // base=v0, writer B lands v1/v2, a concurrent vacuum archives v0 —
    // A's next base read must surface the retriable OCC signal (its
    // retry re-applies against the fresh snapshot), never a raw
    // NoSuchFileException crash. Reproduced here without processes by
    // archiving the held version directly.
    val t = newTable()
    t.upsert(df(Record("R1", "P0", "a0"))) // v0 — the held base
    t.upsert(df(Record("R1", "P0", "a1"))) // v1
    t.upsert(df(Record("R1", "P0", "a2"))) // v2
    assert(t.timeline.rootView(0).segRefs.nonEmpty) // readable while retained
    // a manifest missing INSIDE the retained window (v0 still present, so
    // the horizon is 0 and v1 is not below it) is corruption, not a
    // conflict: the raw error must surface loudly
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(t.path, "_commits", "v000000000001.txt"))
    intercept[java.nio.file.NoSuchFileException](t.timeline.rootView(1))
    // …through every reader of v1: none may read the gap as an empty
    // version (no rows, no deletes) or skip it
    intercept[java.nio.file.NoSuchFileException](t.snapshot(1))
    intercept[java.nio.file.NoSuchFileException](t.lookup(Seq("R1"), version = 1))
    intercept[java.nio.file.NoSuchFileException](t.history())
    // fsck reports the gap instead of throwing, and repair cannot heal it
    import org.apache.spark.sql.functions.col
    val missing = t.fsck().filter(col("kind") === "missing_root").collect()
    assert(missing.map(r => (r.getLong(1), r.getString(2))).toSeq ==
      Seq((1L, "v000000000001.txt")), missing.toSeq)
    val repaired = t.fsckRepair().filter(col("kind") === "missing_root")
      .collect().map(_.getString(4)).toSeq
    assert(repaired == Seq("unrecoverable"), repaired)
    // archival removes a PREFIX: with v0 gone too, any read below the
    // horizon types as the retriable OCC signal
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(t.path, "_commits", "v000000000000.txt"))
    val e = intercept[CommitConflictException](t.timeline.rootView(0))
    assert(e.getMessage.contains("archived by vacuum"), e.getMessage)
    // …but a read that names the archived version EXPLICITLY is a
    // terminal user error, not a retriable conflict: no retry can ever
    // resurrect v0 (same mapping restore() applies)
    val e2 = intercept[IllegalArgumentException](t.snapshot(0))
    assert(e2.getMessage.contains("retention horizon"), e2.getMessage)
    intercept[IllegalArgumentException](t.changesBetween(0, 2))
    // the latest-resolved path is unaffected
    assert(t.snapshot().count() >= 1)
  }

  test("vacuum archival honors the age guard: young superseded manifests stay readable") {
    val t = newTable()
    (0 until 5).foreach(i => t.upsert(df(Record("R1", "P0", s"v$i"))))
    def manifestCount: Int =
      Option(new java.io.File(t.path, "_commits").listFiles()).getOrElse(Array.empty)
        .count(_.getName.endsWith(".txt"))
    assert(manifestCount == 5)
    // every manifest is milliseconds old: a graced vacuum must archive
    // NOTHING, however far below keepVersions they sit — the floor that
    // keeps a concurrent process's base readable for the grace window
    t.vacuum(keepVersions = 1, graceMillis = 60000L)
    assert(manifestCount == 5, "age guard ignored: young manifests archived")
    // past grace (grace 0) the same call archives down to the window
    t.vacuum(keepVersions = 1, graceMillis = 0L)
    assert(manifestCount == 1, s"timeline not archived: $manifestCount")
  }

  test("vacuum archives the timeline: _commits stays bounded, horizon fails loudly") {
    val t = newTable()
    (0 until 10).foreach { i =>
      t.commitClock = () => 1000L + i
      t.upsert(df(Record("R1", "P0", s"v$i")))
    }
    def manifestCount: Int =
      Option(new java.io.File(t.path, "_commits").listFiles()).getOrElse(Array.empty)
        .count(_.getName.endsWith(".txt"))
    assert(manifestCount == 10)
    t.vacuum(keepVersions = 3, graceMillis = 0L)
    // only the retention window's manifests remain (versions 7..9)
    assert(manifestCount == 3, s"timeline not archived: $manifestCount manifests")
    assert(t.latestVersion() == 9L)
    assert(t.snapshot().as[Record].head().dataValue == "v9")
    // time travel INSIDE the window still resolves by commit order
    assert(t.versionAt(1008L) == 8L)
    assert(t.versionAt(5000L) == 9L)
    assert(t.snapshot(t.versionAt(1007L)).as[Record].head().dataValue == "v7")
    // time travel BELOW the horizon: the table had state then but its
    // manifest is archived — must fail loudly, never resolve to "empty"
    val e = intercept[IllegalStateException] { t.versionAt(1005L) }
    assert(e.getMessage.contains("retention horizon"))
    // writes continue normally on the archived table
    t.commitClock = () => 2000L
    t.upsert(df(Record("R2", "P0", "post-archive")))
    assert(t.latestVersion() == 10L)
    assert(t.snapshot().count() == 2)
    assert(t.versionAt(2000L) == 10L)
  }

  test("clustered compaction: range-disjoint files, stats recorded, range scan skips files") {
    import org.apache.spark.sql.functions.col
    val cschema = StructType(Seq(
      StructField("pk", LongType), StructField("part", StringType),
      StructField("x", LongType), StructField("y", LongType)))
    val t = AcidTable.create(spark,
      Files.createTempDirectory("acid-cluster-").resolve("t").toString,
      cschema, "pk", "part", stablePartitions = true)
    // small target so the single partition must roll into several files
    t.targetFileBytes = 4096L
    val rows = (0L until 2000L).map(i => (i, "P0", (i * 37) % 512, (i * 91) % 512))
    t.upsert(rows.toDF("pk", "part", "x", "y"))
    // cluster-key validation is loud
    intercept[IllegalArgumentException](t.compact(clusterBy = Seq("nope")))
    intercept[IllegalArgumentException](t.compact(clusterBy = Seq("part")))
    val v = t.compact(clusterBy = Seq("x", "y"))
    t.vacuum(keepVersions = 1, graceMillis = 0L)
    val all = t.rangePrunedFiles(Map.empty, v)
    assert(all.size > 3, s"expected a multi-file clustered layout, got ${all.size}")
    // every live file has recorded stats for both dims
    val stats = t.readClusterStats()
    assert(all.forall(f => stats.get(f).exists(m => m.contains("x") && m.contains("y"))),
      "clustered compaction must record min/max for every output file")
    // THE gate: a narrow range on either clustered dim skips files
    val prunedX = t.rangePrunedFiles(Map("x" -> (0L, 40L)), v)
    assert(prunedX.size < all.size,
      s"x-range scan did not skip files: ${prunedX.size} of ${all.size}")
    val prunedY = t.rangePrunedFiles(Map("y" -> (0L, 40L)), v)
    assert(prunedY.size < all.size,
      s"y-range scan did not skip files: ${prunedY.size} of ${all.size}")
    // pruning is sound: the pruned scan + row filter equals the full scan
    val expect = rows.filter(r => r._3 <= 40).map(_._1).sorted
    val got = t.snapshotRange(Map("x" -> (0L, 40L)), v)
      .filter(col("x") <= 40).select("pk").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === expect)
    assert(t.snapshot().count() === 2000)
  }

  test("catalog range scan takes the stats-pruned route declaratively") {
    import org.apache.spark.sql.functions.col
    val cschema = StructType(Seq(
      StructField("pk", LongType), StructField("part", StringType),
      StructField("x", LongType), StructField("y", LongType)))
    val wh = Files.createTempDirectory("acid-cluster-cat-").toString
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.graft.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cl")
    val t = AcidTable.create(spark, s"$wh/cl/t", cschema, "pk", "part",
      stablePartitions = true)
    t.targetFileBytes = 4096L
    val rows = (0L until 2000L).map(i => (i, "P0", (i * 37) % 512, (i * 91) % 512))
    t.upsert(rows.toDF("pk", "part", "x", "y"))
    t.compact(clusterBy = Seq("x"))
    // SQL range predicate: result correct AND the scan touched fewer
    // files than the snapshot holds (bounds derived from pushed filters)
    val df = spark.sql("SELECT pk FROM graft.cl.t WHERE x >= 100 AND x <= 140")
    val got = df.collect().map(_.getLong(0)).sorted
    val expect = rows.filter(r => r._3 >= 100 && r._3 <= 140).map(_._1).sorted
    assert(got.toSeq === expect)
    val scanned = df.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.toString().linesIterator).mkString
    val liveFiles = t.rangePrunedFiles(Map.empty).size
    val prunedFiles = t.rangePrunedFiles(Map("x" -> (100L, 140L))).size
    assert(prunedFiles < liveFiles,
      s"stats route kept all $liveFiles files for the catalog range scan")
    spark.sql("DROP TABLE graft.cl.t")
  }

  test("history() renders the op-labelled timeline and respects archival") {
    import org.apache.spark.sql.functions.col
    val t = newTable()
    t.upsert(df(Record("R1", "P0", "v1")))
    t.delete(Seq("R1"))
    t.upsert(df(Record("R2", "P0", "v2")))
    t.merge(df(Record("R2", "P0", "v3")), Seq("dataValue"))
    val h = t.history().orderBy("version").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(h.toSeq === Seq(0L -> "UPSERT", 1L -> "DELETE", 2L -> "UPSERT", 3L -> "MERGE"))
    // timestamps monotone, counts populated
    val ts = t.history().orderBy("version").collect().map(_.getLong(2))
    assert(ts.zip(ts.tail).forall { case (a, b) => a <= b })
    // archival trims the timeline's PREFIX and history follows
    t.vacuum(keepVersions = 2, graceMillis = 0L)
    val after = t.history().select(col("version")).collect().map(_.getLong(0))
    assert(after.toSeq === Seq(2L, 3L))
  }

  test("fsck reports injected orphans and stays empty on a healthy table") {
    import org.apache.spark.sql.functions.col
    val t = newTable()
    t.upsert(df(Record("R1", "P0", "v1")))
    t.upsert(df(Record("R2", "P1", "v2")))
    // healthy timeline: no findings
    assert(t.fsck().count() == 0)
    val segsDir = java.nio.file.Paths.get(t.path, "_commits", "_segments")
    // inject the residual vacuum window's signature: a root that names a
    // segment whose file is gone (publisher crashed between link and
    // re-assert while a GC quarantine raced)
    val victim = java.nio.file.Files.list(segsDir).iterator().asScala
      .find(_.getFileName.toString.startsWith("seg-")).get
    val saved = java.nio.file.Files.readAllBytes(victim)
    java.nio.file.Files.delete(victim)
    val dangling = t.fsck().filter(col("kind") === "dangling_segment_ref").collect()
    assert(dangling.nonEmpty, "fsck must surface a root ref with no segment file")
    assert(dangling.exists(_.getString(2) == victim.getFileName.toString))
    // read-only contract: fsck mutated nothing — restore the segment and
    // the table is whole again
    java.nio.file.Files.write(victim, saved)
    assert(t.fsck().count() == 0)
    // stale GC quarantine past the grace window
    val q = segsDir.resolve(".gc-fsck-spec-leftover")
    java.nio.file.Files.write(q, "x".getBytes)
    assert(q.toFile.setLastModified(System.currentTimeMillis() - 60L * 60 * 1000))
    val stale = t.fsck().filter(col("kind") === "stale_quarantine").collect()
    assert(stale.exists(_.getString(2) == ".gc-fsck-spec-leftover"))
    // inside the grace window it is NOT a finding (an in-flight GC owns it)
    assert(q.toFile.setLastModified(System.currentTimeMillis()))
    assert(t.fsck().filter(col("kind") === "stale_quarantine").count() == 0)
    java.nio.file.Files.delete(q)
    // the SQL surface: FSCK TABLE through the session front-end
    val sess = new AcidSqlSession(spark,
      java.nio.file.Files.createTempDirectory("fsck-sql-").toString)
    sess.execute("CREATE SCHEMA IF NOT EXISTS fsckdb")
    sess.execute("""CREATE TABLE fsckdb.t (pk STRING, part STRING, v STRING)
      USING hudi PARTITIONED BY (part) TBLPROPERTIES (primaryKey = 'pk')""")
    df(Record("R1", "P0", "v1")).toDF("pk", "part", "v")
      .createOrReplaceTempView("fsck_src")
    sess.execute("INSERT INTO fsckdb.t SELECT * FROM fsck_src")
    assert(sess.query("FSCK TABLE fsckdb.t").columns.toSeq ===
      Seq("kind", "version", "name", "detail"))
    assert(sess.query("FSCK TABLE fsckdb.t").count() == 0)
  }

  test("fsckRepair heals a dangling segment from a crashed GC's quarantine") {
    import org.apache.spark.sql.functions.col
    val t = newTable()
    t.upsert(df(Record("R1", "P0", "v1")))
    t.upsert(df(Record("R2", "P1", "v2")))
    val segsDir = java.nio.file.Paths.get(t.path, "_commits", "_segments")
    // simulate the exact crash fsck documents: a GC quarantined a live
    // segment (rename to .gc-*) and died before its restore decision
    val victim = java.nio.file.Files.list(segsDir).iterator().asScala
      .find(_.getFileName.toString.startsWith("seg-")).get
    val victimName = victim.getFileName.toString
    val q = segsDir.resolve(".gc-crashed-gc")
    java.nio.file.Files.move(victim, q)
    assert(q.toFile.setLastModified(System.currentTimeMillis() - 60L * 60 * 1000))
    // pin the QUARANTINE recovery route: a warm process-wide content
    // cache would heal the ref from memory first (also correct, but a
    // different branch) — purge to the driver-restarted state, where the
    // quarantined bytes' sha1 match is the only recovery source
    AcidTable.purgeCachesForSpec(t.path)
    val found = t.fsck().collect().map(_.getString(0)).toSet
    assert(found == Set("dangling_segment_ref", "stale_quarantine"))
    val repairs = t.fsckRepair().collect()
      .map(r => (r.getString(0), r.getString(2), r.getString(4))).toSeq
    // the quarantined bytes hash to the missing name → moved back, and
    // the quarantine entry is accounted as the SAME repair, not swept
    assert(repairs.contains(("dangling_segment_ref", victimName,
      "repaired_from_quarantine")), s"got $repairs")
    assert(java.nio.file.Files.exists(victim))
    assert(t.fsck().count() == 0)
    assert(t.snapshot().count() == 2)
  }

  test("fsckRepair sweeps unclaimed stale quarantines, refuses the unrecoverable") {
    import org.apache.spark.sql.functions.col
    val t = newTable()
    t.upsert(df(Record("R1", "P0", "v1")))
    val segsDir = java.nio.file.Paths.get(t.path, "_commits", "_segments")
    // unclaimed garbage quarantine past grace → swept
    val junk = segsDir.resolve(".gc-junk")
    java.nio.file.Files.write(junk, "not any live content".getBytes)
    assert(junk.toFile.setLastModified(System.currentTimeMillis() - 60L * 60 * 1000))
    // unrecoverable dangling ref: segment gone, cache evicted, no
    // quarantine holds its bytes → loud refusal, no guessing
    val victim = java.nio.file.Files.list(segsDir).iterator().asScala
      .find(_.getFileName.toString.startsWith("seg-")).get
    val saved = java.nio.file.Files.readAllBytes(victim)
    java.nio.file.Files.delete(victim)
    AcidTable.purgeCachesForSpec(t.path)
    val repairs = t.fsckRepair().collect()
      .map(r => (r.getString(0), r.getString(4))).toSeq
    assert(repairs.contains(("stale_quarantine", "swept")), s"got $repairs")
    assert(repairs.contains(("dangling_segment_ref", "unrecoverable")), s"got $repairs")
    assert(!java.nio.file.Files.exists(junk))
    // operator escalates: restore the bytes → whole again
    java.nio.file.Files.write(victim, saved)
    assert(t.fsck().count() == 0)
    // SQL surfaces of the REPAIR form (5-column schema with the action)
    val sess = new AcidSqlSession(spark,
      java.nio.file.Files.createTempDirectory("fsck-repair-sql-").toString)
    sess.execute("CREATE SCHEMA IF NOT EXISTS frdb")
    sess.execute("""CREATE TABLE frdb.t (pk STRING, part STRING, v STRING)
      USING hudi PARTITIONED BY (part) TBLPROPERTIES (primaryKey = 'pk')""")
    assert(sess.query("FSCK TABLE frdb.t REPAIR").columns.toSeq ===
      Seq("kind", "version", "name", "detail", "action"))
    assert(sess.query("FSCK TABLE frdb.t REPAIR").count() == 0)
  }

  test("vacuumPreview (DRY RUN) lists exactly what the real run removes, touching nothing") {
    val t = newTable() // v0..: churn so old files + manifests retire
    t.upsert(df(Record("R1", "P0", "a"), Record("R2", "P1", "b"))) // v0
    t.upsert(df(Record("R1", "P0", "a2"))) // v1: R1's cell rewritten
    t.upsert(df(Record("R2", "P1", "b2"))) // v2
    Thread.sleep(30)
    val preview = t.vacuumPreview(keepVersions = 1, graceMillis = 0L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val (pm, pd) = preview.partition(_._1 == "manifest")
    assert(pm.map(_._2).sorted == Seq("v000000000000.txt", "v000000000001.txt"))
    assert(pd.nonEmpty, "the superseded cell files must be listed")
    // read-only: every listed item still exists
    pd.foreach { case (_, rel) =>
      assert(new java.io.File(t.path, s"data/$rel").exists(), s"preview deleted $rel")
    }
    // the real run removes exactly the previewed data files
    val removed = t.vacuum(keepVersions = 1, graceMillis = 0L)
    assert(removed == pd.size, s"preview listed ${pd.size}, vacuum removed $removed")
    pd.foreach { case (_, rel) =>
      assert(!new java.io.File(t.path, s"data/$rel").exists())
    }
    assert(t.vacuumPreview(keepVersions = 1, graceMillis = 0L).count() == 0,
      "post-vacuum preview must be empty")

    // tag pinning flows through the preview's archival walk
    val t2 = newTable()
    t2.upsert(df(Record("K1", "P0", "x"))) // v0
    t2.createTag("pin", 0L)
    t2.upsert(df(Record("K1", "P0", "y"))) // v1
    t2.upsert(df(Record("K1", "P0", "z"))) // v2
    Thread.sleep(30)
    val kinds = t2.vacuumPreview(keepVersions = 1, graceMillis = 0L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(!kinds.exists(_._2 == "v000000000000.txt"),
      s"tagged v0 must not be listed archivable: $kinds")
  }

  test("SQL faces: VACUUM DRY RUN returns the preview; RESTORE TABLE re-links") {
    val wh = Files.createTempDirectory("acid-maint-wh-").toString
    val sess = new AcidSqlSession(spark, wh)
    sess.execute("CREATE SCHEMA IF NOT EXISTS vp")
    sess.execute("""
      CREATE TABLE IF NOT EXISTS vp.t(
          primaryKeyValue STRING, partitionKeyValue STRING, dataValue STRING
      ) USING hudi PARTITIONED BY (partitionKeyValue)
      TBLPROPERTIES (primaryKey = 'primaryKeyValue')
    """)
    Seq(("A", "P0", "1")).toDF("primaryKeyValue", "partitionKeyValue", "dataValue")
      .createOrReplaceTempView("vp_src")
    sess.execute("INSERT INTO vp.t SELECT * FROM vp_src") // v0
    sess.execute("DELETE FROM vp.t WHERE primaryKeyValue IN ('A')") // v1
    Thread.sleep(30)
    // statement route: returns the preview frame; inside the default
    // 10-minute grace window it must list NOTHING (the same age guard
    // that makes the deleting statement safe next to live commits)
    val dry = sess.query("VACUUM vp.t RETAIN 1 VERSIONS DRY RUN")
    assert(dry.columns.toSeq == Seq("kind", "name", "bytes"))
    assert(dry.count() == 0, "grace must protect fresh artifacts in the DRY RUN too")
    // past the grace window the same walk lists the retired v0 artifacts
    assert(sess.table("vp.t").vacuumPreview(keepVersions = 1, graceMillis = 0L)
      .count() >= 1)
    assert(sess.table("vp.t").snapshot().count() == 0)
    // RESTORE text: back to v0, the pre-delete state
    sess.execute("RESTORE TABLE vp.t TO VERSION AS OF 0")
    assert(sess.table("vp.t").snapshot().count() == 1)
  }
}
