package graft.lake

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Named branches + write-audit-publish (round 18c). Pins the properties
  * the gate query can't see: zero-copy staging (main untouched while the
  * branch diverges), the squashed CAS publish (fork+1, typed conflict on a
  * raced main, main bit-unchanged after a refused publish), verbatim
  * root-line carry for untouched partitions (the delta-bounded proof),
  * DV/meta edge cases, and link-count hygiene across drop.
  */
class BranchSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def scratch(): String =
    Files.createTempDirectory("graft-branch-").resolve("t").toString

  private val schema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("pk", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("part", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType)))

  private def mkTable(rows: Seq[(String, String, Double)]): AcidTable = {
    val t = AcidTable.create(spark, scratch(), schema, "pk", "part", stablePartitions = true)
    if (rows.nonEmpty) t.upsert(rows.toDF("pk", "part", "v"))
    t
  }

  private def contents(t: AcidTable): Set[(String, String, Double)] =
    t.snapshot().collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet

  test("write-audit-publish: staged writes invisible on main, fast-forward adopts them") {
    val t = mkTable((0 until 30).map(i => (s"k$i", s"p${i % 3}", i.toDouble)))
    val beforeFork = contents(t)
    val forkV = t.latestVersion()

    val br = t.createBranch("audit")
    assert(t.listBranches() == Seq("audit" -> forkV))
    br.upsert(Seq(("k1", "p1", 100.0), ("knew", "p0", -7.0)).toDF("pk", "part", "v"))
    br.delete(Seq("k2"))
    // main sees NONE of it (WAP's whole point)
    assert(contents(t) == beforeFork)
    assert(t.latestVersion() == forkV)

    // the audit step: branch is a full read surface
    val staged = contents(t.branch("audit"))
    assert(staged.contains(("knew", "p0", -7.0)) && !staged.exists(_._1 == "k2"))

    val pubV = t.publishBranch("audit")
    assert(pubV == forkV + 1)
    assert(t.latestVersion() == pubV)
    assert(contents(t) == staged)
    // squash commit carries the audit trail
    val ops = t.history().collect().map(_.getAs[String]("operation")).toSeq
    assert(ops.contains("PUBLISH audit"), s"ops=$ops")
    // dropAfter default removed the branch
    assert(t.listBranches().isEmpty)
  }

  test("untouched partitions' root lines carry verbatim (delta-bounded publish)") {
    val t = mkTable((0 until 40).map(i => (s"k$i", s"p${i % 4}", i.toDouble)))
    val forkV = t.latestVersion()
    val br = t.createBranch("b")
    // touch ONLY p1 on the branch
    br.upsert(Seq(("k1", "p1", 999.0)).toDF("pk", "part", "v"))
    val pubV = t.publishBranch("b")

    def segLines(v: Long): Map[String, String] =
      t.timeline.rootView(v).refLines.map(l => RootView.refLineDir(l) -> l).toMap
    val before = segLines(forkV)
    val after = segLines(pubV)
    assert(before.keySet == after.keySet)
    before.foreach { case (dir, line) =>
      if (dir == "part=p1") assert(after(dir) != line, "touched partition must re-segment")
      else assert(after(dir) == line, s"untouched $dir must carry verbatim")
    }
  }

  test("publish is a CAS: a main commit since the fork refuses typed, main untouched") {
    val t = mkTable((0 until 12).map(i => (s"k$i", s"p${i % 2}", i.toDouble)))
    val br = t.createBranch("b")
    br.upsert(Seq(("k0", "p0", 50.0)).toDF("pk", "part", "v"))
    // main moves on
    t.upsert(Seq(("k11", "p1", -1.0)).toDF("pk", "part", "v"))
    val mainNow = contents(t)
    val v = t.latestVersion()
    val e = intercept[CommitConflictException] { t.publishBranch("b") }
    assert(e.getMessage.contains("fast-forward failed"))
    assert(t.latestVersion() == v && contents(t) == mainNow)
    // the refused branch survives for inspection / re-staging
    assert(t.listBranches().map(_._1) == Seq("b"))
    t.dropBranch("b")
  }

  test("meta divergence (ALTER on either side) refuses the publish loudly") {
    val t0 = mkTable((0 until 10).map(i => (s"k$i", s"p${i % 2}", i.toDouble)))
    t0.createBranch("b").upsert(Seq(("k0", "p0", 5.0)).toDF("pk", "part", "v"))
    // ALTERs write meta without a manifest commit — the CAS alone can't see them
    val t = t0.addConstraint("v_pos", "v >= 0.0")
    val e = intercept[CommitConflictException] { t.publishBranch("b") }
    assert(e.getMessage.contains("metadata diverged"))
    t.dropBranch("b")
  }

  test("branch MOR deletes (DV-only commits) publish correctly") {
    val t = mkTable((0 until 16).map(i => (s"k$i", s"p${i % 2}", i.toDouble)))
    t.setTableProperty("morDeletes", Some("true"))
    val br = t.createBranch("b")
    br.deleteVectored(Seq("k3", "k5"))
    val pubV = t.publishBranch("b")
    val got = contents(t)
    assert(!got.exists(r => r._1 == "k3" || r._1 == "k5") && got.size == 14)
    assert(pubV == t.latestVersion())
  }

  test("partition emptied on the branch disappears from main at publish") {
    val t = mkTable((0 until 12).map(i => (s"k$i", s"p${i % 3}", i.toDouble)))
    val br = t.createBranch("b")
    br.deleteWhere(org.apache.spark.sql.functions.col("part") === "p2")
    t.publishBranch("b")
    assert(!contents(t).exists(_._2 == "p2"))
    assert(!t.timeline.rootView(t.latestVersion()).refLines.exists(l =>
      RootView.refLineDir(l) == "part=p2"))
  }

  test("branch of an empty table publishes its first rows; no-op publish is a no-op") {
    val t = mkTable(Nil)
    val br = t.createBranch("seed")
    br.upsert(Seq(("a", "p0", 1.0), ("b", "p1", 2.0)).toDF("pk", "part", "v"))
    val v = t.publishBranch("seed")
    assert(v == 0L && contents(t).size == 2)

    t.createBranch("idle") // forked, nothing staged
    val before = t.latestVersion()
    assert(t.publishBranch("idle") == before)
    assert(t.latestVersion() == before && t.listBranches().isEmpty)
  }

  test("zero-copy staging and link hygiene across publish + drop") {
    val t = mkTable((0 until 20).map(i => (s"k$i", s"p${i % 2}", i.toDouble)))
    def nlink(p: java.nio.file.Path): Int =
      Files.getAttribute(p, "unix:nlink").asInstanceOf[Number].intValue()
    val srcFiles = Files.walk(Paths.get(t.path, "data")).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path]).filter(_.toString.endsWith(".parquet"))
    assert(srcFiles.nonEmpty)
    t.createBranch("b")
    // fork files shared, not copied
    srcFiles.foreach(f => assert(nlink(f) == 2, s"branch copied instead of linking: $f"))
    val br = t.branch("b")
    br.upsert(Seq(("k0", "p0", 9.0)).toDF("pk", "part", "v"))
    t.publishBranch("b") // dropAfter: branch dir gone, published bytes survive
    assert(!Files.exists(Paths.get(t.path, "_branches", "b")))
    assert(contents(t).contains(("k0", "p0", 9.0)))
    // fork files back to one link each EXCEPT those the publish re-adopted
    // (p0's rewrite replaced its files; p1's were carried and re-linked never)
    srcFiles.filter(_.toString.contains("part=p1"))
      .foreach(f => assert(nlink(f) == 1, s"dangling branch link survives: $f"))
  }

  test("publish runs zero Spark jobs (pure metadata + links)") {
    val t = mkTable((0 until 40).map(i => (s"k$i", s"p${i % 4}", i.toDouble)))
    val br = t.createBranch("b")
    br.upsert(Seq(("k2", "p2", 123.0)).toDF("pk", "part", "v"))
    val jobs = Routes.jobsOf(t.publishBranch("b"))
    assert(jobs === 0, s"publish must be metadata + hard links only (saw $jobs jobs)")
    assert(contents(t).contains(("k2", "p2", 123.0)))
  }

  test("publish racing a concurrent main commit: one linearization, no torn state") {
    // the CAS contract under REAL interleaving: a main writer (OCC
    // retry loop — always lands) races publishBranch (CAS — wins only at
    // fork+1). Whichever order the scheduler picks, the final table must
    // be one of the two serial histories, never a mix that loses either
    // side's write or resurrects a branch-deleted row.
    (0 until 5).foreach { round =>
      val t = mkTable((0 until 20).map(i => (s"k$i", s"p${i % 2}", i.toDouble)))
      val br = t.createBranch("b")
      br.upsert(Seq(("bk", "p0", -5.0)).toDF("pk", "part", "v"))
      br.delete(Seq("k7"))
      val gate = new java.util.concurrent.CountDownLatch(1)
      val pubOutcome = new java.util.concurrent.atomic.AtomicReference[Either[Throwable, Long]]()
      val pub = new Thread(() => {
        gate.await()
        pubOutcome.set(
          try Right(t.publishBranch("b"))
          catch { case e: Throwable => Left(e) })
      })
      val wrt = new Thread(() => {
        gate.await()
        AcidTable.open(spark, t.path)
          .upsert(Seq(("mk", "p1", 99.0)).toDF("pk", "part", "v"))
      })
      pub.start(); wrt.start(); gate.countDown()
      pub.join(60000); wrt.join(60000)
      val got = contents(t)
      assert(got.contains(("mk", "p1", 99.0)), "main writer must always land")
      pubOutcome.get() match {
        case Right(_) =>
          // publish won the CAS; the writer retried on top of it
          assert(got.contains(("bk", "p0", -5.0)) && !got.exists(_._1 == "k7"),
            s"published branch state lost after writer retry: $got")
        case Left(e) =>
          assert(e.isInstanceOf[CommitConflictException], s"untyped refusal: $e")
          // publish refused: branch writes invisible, branch intact
          assert(!got.exists(_._1 == "bk") && got.exists(_._1 == "k7"),
            s"refused publish leaked staged state: $got")
          assert(t.listBranches().map(_._1) == Seq("b"))
      }
      assert(t.fsck().count() == 0, "post-race metadata must be clean")
    }
  }

  test("record index travels through publish (probe routes via the index)") {
    val t = AcidTable.create(spark, scratch(), schema, "pk", "part", stablePartitions = true)
    t.setTableProperty("recordIndex", Some("true"))
    t.upsert((0 until 50).map(i => (s"k$i", s"p${i % 5}", i.toDouble)).toDF("pk", "part", "v"))
    val br = t.createBranch("b")
    br.upsert(Seq(("k999", "p0", 1.0)).toDF("pk", "part", "v"))
    t.publishBranch("b")
    // the published root still carries index refs and the lookup finds both
    // a pre-fork and a branch-staged key
    val hits = t.lookup(Seq("k7", "k999")).collect()
    assert(hits.map(_.getString(0)).toSet == Set("k7", "k999"))
  }
}
