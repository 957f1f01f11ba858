package graft.lake

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Record

/** `TIMESTAMP AS OF` commit clock: versions are stamped with a `#ts=`
  * header inside the manifest at publish, NOT attributed from file mtimes
  * (`Files.createLink` shares the inode with the fsync'd temp file, so the
  * link's mtime is the pre-publish write time; and any copy/rsync of the
  * table directory rewrites mtimes entirely). These specs pin both
  * properties.
  */
class TimeTravelSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("primaryKeyValue", StringType),
    StructField("partitionKeyValue", StringType),
    StructField("dataValue", StringType)))

  private def df(rs: Record*) = spark.createDataset(rs).toDF()

  private def copyTree(src: Path, dst: Path): Unit = {
    Files.walk(src).forEach { p =>
      val target = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target)
    }
  }

  test("versionAt resolves from #ts= headers and survives a directory copy") {
    val root = Files.createTempDirectory("tt-spec-")
    val orig = root.resolve("t")
    val t = AcidTable.create(spark, orig.toString, schema, "primaryKeyValue", "partitionKeyValue")
    t.upsert(df(Record("R1", "P0", "v0")))              // version 0
    Thread.sleep(5)
    val betweenCommits = System.currentTimeMillis()
    Thread.sleep(5)
    t.upsert(df(Record("R1", "P0", "v1")))              // version 1

    assert(t.versionAt(betweenCommits) == 0L)
    assert(t.versionAt(System.currentTimeMillis()) == 1L)
    assert(t.versionAt(0L) == -1L)

    // copy the table directory (fresh mtimes on every file — exactly what
    // rsync/DistCp-style movement does) and clobber the copied manifests'
    // mtimes outright: time travel must still attribute versions correctly
    val copied = root.resolve("copy")
    copyTree(orig, copied)
    val now = FileTime.fromMillis(System.currentTimeMillis())
    Files.list(copied.resolve("_commits")).forEach(p => Files.setLastModifiedTime(p, now))
    val t2 = AcidTable.open(spark, copied.toString)
    assert(t2.versionAt(betweenCommits) == 0L)
    assert(t2.snapshot(t2.versionAt(betweenCommits))
      .as[Record].collect().map(_.dataValue).toSeq == Seq("v0"))
    assert(t2.snapshot().as[Record].collect().map(_.dataValue).toSeq == Seq("v1"))
  }

  test("racing publisher with a fast clock cannot corrupt commit-order resolution") {
    // The directive scenario: the LOSER of the version-1 publish race
    // stamps a LATER wall-clock ts (300) than the winner of the NEXT
    // version (200). The protocol guarantee is that a losing manifest is
    // discarded with its stamp — only winners' stamps become visible, and
    // winners are monotone because each observes its predecessor before
    // stamping. Reproduced deterministically via the injectable commit
    // clock.
    val path = Files.createTempDirectory("tt-race-").resolve("t")
    val t = AcidTable.create(spark, path.toString, schema, "primaryKeyValue", "partitionKeyValue")
    t.commitClock = () => 100L
    t.upsert(df(Record("R1", "P0", "v0")))              // version 0 @ ts=100

    // versions 1 and 2 republish v0's data files with their sizes
    val v0 = t.timeline.rootView(0)

    t.commitClock = () => 150L
    t.publish(1, v0.files, Nil, v0.sizes, op = "WRITE") // version 1 winner @ ts=150

    // loser: stamps 300 (clock running ahead), loses the v1 link race —
    // its manifest (and the 300 stamp) must be discarded entirely
    t.commitClock = () => 300L
    intercept[java.nio.file.FileAlreadyExistsException] {
      t.publish(1, v0.files, Nil, v0.sizes, op = "WRITE")
    }

    // winner of the NEXT version stamps 200 < the loser's discarded 300
    t.commitClock = () => 200L
    t.publish(2, v0.files, Nil, v0.sizes, op = "WRITE") // version 2 winner @ ts=200

    assert(t.latestVersion() == 2L)
    // the published versions read v0's row
    Seq(1L, 2L).foreach { v =>
      assert(t.snapshot(v).as[Record].collect().map(_.dataValue).toSeq == Seq("v0"), s"v$v")
    }
    // commit order resolves purely from the visible (monotone) stamps;
    // the loser's 300 never influences any version
    assert(t.versionAt(99L) == -1L)
    assert(t.versionAt(100L) == 0L)
    assert(t.versionAt(149L) == 0L)
    assert(t.versionAt(150L) == 1L)
    assert(t.versionAt(199L) == 1L)
    assert(t.versionAt(200L) == 2L)
    assert(t.versionAt(299L) == 2L)
    assert(t.versionAt(1000L) == 2L)
    // no stray temp manifests survived the lost race
    val leftovers = Files.list(path.resolve("_commits")).toArray.map(_.toString)
      .filter(_.contains(".tmp-"))
    assert(leftovers.isEmpty, s"lost race leaked temp manifests: ${leftovers.mkString(",")}")
  }

  test("commit-log metadata I/O is checkpointed: no directory listings, O(log n) header reads") {
    val path = Files.createTempDirectory("tt-meta-io-").resolve("t")
    val t = AcidTable.create(spark, path.toString, schema, "primaryKeyValue", "partitionKeyValue")
    val versions = 40
    (0 until versions).foreach(i => t.upsert(df(Record("R1", "P0", s"v$i"))))
    assert(t.latestVersion() == versions - 1)

    // a FRESH handle (cold per-handle state; parsed root views are
    // cached per (path, version), the last few commits' among them)
    val t2 = AcidTable.open(spark, path.toString)
    AcidTable.resetMetaIoCounters()
    assert(t2.latestVersion() == versions - 1)
    assert(AcidTable.metaDirListings.get() == 0,
      "latestVersion listed the whole _commits directory despite the checkpoint hint")
    assert(AcidTable.latestProbes.get() <= 3,
      s"latestVersion probed ${AcidTable.latestProbes.get()} times — hint not effective")

    // TIMESTAMP AS OF: binary search = O(log n) header reads, cold cache
    AcidTable.resetMetaIoCounters()
    val mid = t2.versionAt(System.currentTimeMillis())
    assert(mid == versions - 1)
    val coldReads = AcidTable.manifestHeaderReads.get()
    assert(coldReads <= math.ceil(math.log(versions + 1) / math.log(2)).toLong + 2,
      s"versionAt read $coldReads manifest headers for $versions versions — not a binary search")
    assert(AcidTable.metaDirListings.get() == 0)

    // warm: the header cache makes repeat resolution free of file reads
    AcidTable.resetMetaIoCounters()
    t2.versionAt(System.currentTimeMillis())
    assert(AcidTable.manifestHeaderReads.get() == 0,
      "repeat versionAt re-read manifest headers despite the immutable-manifest cache")

    // resilience: a corrupted hint must degrade to the listing fallback,
    // never to a wrong answer
    Files.write(path.resolve("_commits/_latest.hint"), "garbage".getBytes("UTF-8"))
    assert(t2.latestVersion() == versions - 1)
    Files.deleteIfExists(path.resolve("_commits/_latest.hint"))
    assert(t2.latestVersion() == versions - 1)
    // and a commit on top of a missing hint restores it
    t2.upsert(df(Record("R1", "P0", "post-hint")))
    assert(Files.exists(path.resolve("_commits/_latest.hint")))
    assert(t2.latestVersion() == versions.toLong)
  }

  test("a backward-stepping wall clock cannot break the commit-clock monotonicity") {
    // System.currentTimeMillis() can step BACKWARD (NTP): the publish
    // stamp is clamped to the predecessor's, so visible stamps stay
    // monotone by construction and the binary search stays sound
    val path = Files.createTempDirectory("tt-ntp-").resolve("t")
    val t = AcidTable.create(spark, path.toString, schema, "primaryKeyValue", "partitionKeyValue")
    t.commitClock = () => 1000L
    t.upsert(df(Record("R1", "P0", "v0")))             // version 0 @ ts=1000
    t.commitClock = () => 500L                          // clock steps back 500ms
    t.upsert(df(Record("R1", "P0", "v1")))             // version 1 clamps to ts=1000
    assert(t.versionAt(999L) == -1L)
    assert(t.versionAt(1000L) == 1L)  // tie breaks toward the higher version
    assert(t.versionAt(5000L) == 1L)
    t.commitClock = () => 1500L                         // clock recovers
    t.upsert(df(Record("R1", "P0", "v2")))             // version 2 @ ts=1500
    assert(t.versionAt(1499L) == 1L)
    assert(t.versionAt(1500L) == 2L)
  }
}
