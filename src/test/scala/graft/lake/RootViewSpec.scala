package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** One root read per version: every reader derives all it needs of
  * version `v` — file list, sizes, deletion vectors, index refs, commit
  * time — from ONE parsed [[RootView]], so a read can never mix two
  * states of the timeline, and a repeated read costs no file read at all.
  * `manifestHeaderReads` counts physical root-file reads.
  */
class RootViewSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("pk", StringType),
    StructField("part", StringType),
    StructField("x", LongType)))

  private def batch(rows: (String, String, Long)*) = rows.toSeq.toDF("pk", "part", "x")

  /** A table whose version 1 carries live deletion vectors. */
  private def tableWithDvs(): AcidTable = {
    val t = AcidTable.create(spark, Files.createTempDirectory("rootview-").resolve("t").toString,
      schema, "pk", "part", stablePartitions = true)
    t.upsert(batch(("a", "P0", 1L), ("b", "P1", 2L), ("c", "P0", 3L))) // v0
    assert(t.deleteVectored(Seq("c")) == 1L) // v1: a DV-only commit
    t.upsert(batch(("d", "P1", 4L))) // v2
    t
  }

  /** Physical root reads of `read`, from a state with no parsed roots. */
  private def coldReads(t: AcidTable)(read: => Any): Long = {
    AcidTable.purgeCachesForSpec(t.path)
    AcidTable.resetMetaIoCounters()
    read
    AcidTable.manifestHeaderReads.get()
  }

  private def warmReads(read: => Any): Long = {
    AcidTable.resetMetaIoCounters()
    read
    AcidTable.manifestHeaderReads.get()
  }

  test("snapshot(v) reads v's root once cold and never warm") {
    val t = tableWithDvs()
    assert(coldReads(t)(t.snapshot(1)) == 1)
    assert(warmReads(t.snapshot(1)) == 0)
    // the one read carries the deletion vectors with the file list
    assert(t.snapshot(1).collect().map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
  }

  test("lookup(keys, version = v) reads v's root once cold and never warm") {
    val t = tableWithDvs()
    assert(coldReads(t)(t.lookup(Seq("a", "c"), version = 1)) == 1)
    assert(warmReads(t.lookup(Seq("a", "c"), version = 1)) == 0)
    assert(t.lookup(Seq("a", "c"), version = 1).collect().map(_.getString(0)).toSeq == Seq("a"))
  }

  test("detail() reads the latest root once cold and never warm") {
    val t = tableWithDvs()
    assert(coldReads(t)(t.detail()) == 1)
    assert(warmReads(t.detail()) == 0)
    assert(t.detail().collect()(0).getLong(2) == 2L) // the latest version
  }
}
