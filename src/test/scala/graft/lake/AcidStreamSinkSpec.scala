package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Native streaming SINK (round 10): `writeStream.format("graft-acid")`
  * commits one transactional upsert per micro-batch with the
  * (stream, batch) identity stamped into the commit manifest — dedup
  * record and data commit are one atomic publish, so replayed batches
  * after a crash are skipped and table state is exactly-once.
  */
class AcidStreamSinkSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("pk", LongType), StructField("part", StringType),
    StructField("v", DoubleType)))

  test("format(graft-acid) ingests a file stream; checkpoint restart adds nothing") {
    val srcDir = Files.createTempDirectory("sink-src-").toString
    val ckpt = Files.createTempDirectory("sink-ckpt-").toString
    (0 until 3).foreach { b =>
      (0 until 10).map(i => (b * 10L + i, s"p${i % 2}", (b * 10 + i).toDouble))
        .toDF("pk", "part", "v").coalesce(1)
        .write.mode("append").parquet(srcDir)
    }
    val t = AcidTable.create(spark,
      Files.createTempDirectory("sink-t-").resolve("t").toString,
      schema, "pk", "part", stablePartitions = true)

    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .writeStream.format("graft-acid")
        .option("path", t.path)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    assert(t.snapshot().count() == 30)
    val vAfter = t.latestVersion()
    // each micro-batch committed with its stream-batch identity
    val ops = t.history().collect().map(_.getString(1)).filter(_.startsWith("STREAM:"))
    assert(ops.length == 3, s"expected 3 stream commits, saw ${ops.toSeq}")

    // a clean restart from the same checkpoint finds no new data and
    // publishes nothing
    runOnce()
    assert(t.latestVersion() == vAfter)
    assert(t.snapshot().count() == 30)
  }

  test("replayed batch ids are skipped: crash between commit and checkpoint is safe") {
    val t = AcidTable.create(spark,
      Files.createTempDirectory("sink-replay-").resolve("t").toString,
      schema, "pk", "part", stablePartitions = true)
    val b0 = Seq((1L, "p0", 1.0), (2L, "p1", 2.0)).toDF("pk", "part", "v")
    val v0 = t.streamUpsert(b0, "ckpt-A", 0L)
    assert(v0 == 0L && t.lastStreamBatch("ckpt-A") == 0L)

    // the crash scenario: batch 0 replays (engine checkpoint lagged the
    // table commit) — recognized and skipped, no new version
    assert(t.streamUpsert(b0, "ckpt-A", 0L) == v0)
    assert(t.latestVersion() == v0)

    // a different stream's batch 0 is NOT deduped against ours
    val other = Seq((3L, "p0", 3.0)).toDF("pk", "part", "v")
    val v1 = t.streamUpsert(other, "ckpt-B", 0L)
    assert(v1 == v0 + 1)

    // the next batch of stream A commits normally
    val b1 = Seq((4L, "p1", 4.0)).toDF("pk", "part", "v")
    assert(t.streamUpsert(b1, "ckpt-A", 1L) == v1 + 1)
    assert(t.lastStreamBatch("ckpt-A") == 1L)
    assert(t.lastStreamBatch("ckpt-B") == 0L)
    assert(t.snapshot().count() == 4)

    // interleaved batch commits (non-stream) do not disturb the ledger
    t.upsert(Seq((9L, "p0", 9.0)).toDF("pk", "part", "v"))
    assert(t.lastStreamBatch("ckpt-A") == 1L)
  }

  test("the replay ledger reads #op= headers only: no segment resolves per batch") {
    val t = AcidTable.create(spark,
      Files.createTempDirectory("sink-ledger-").resolve("t").toString,
      schema, "pk", "part", stablePartitions = true)
    // more retained versions than the process keeps parsed roots for, so
    // every walk below reads roots that are no longer cached
    (0L until 12L).foreach { b =>
      t.streamUpsert(Seq((b, s"p${b % 3}", b.toDouble)).toDF("pk", "part", "v"), "ckpt-L", b)
    }
    t.upsert(Seq((99L, "p0", 9.0)).toDF("pk", "part", "v"))
    AcidTable.resetMetaIoCounters()
    assert(t.lastStreamBatch("ckpt-L") == 11L)
    assert(t.lastStreamBatch("ckpt-unknown") == -1L) // walks every retained root
    assert(AcidTable.segmentResolves.get() == 0,
      s"the ledger walk resolved ${AcidTable.segmentResolves.get()} segments")
    assert(AcidTable.manifestHeaderReads.get() > 0, "the walk must read the roots it checks")
  }

  test("the sink refuses to run without a checkpoint-derived stream identity") {
    val t = AcidTable.create(spark,
      Files.createTempDirectory("sink-noid-").resolve("t").toString,
      schema, "pk", "part", stablePartitions = true)
    val srcDir = Files.createTempDirectory("sink-noid-src-").toString
    Seq((1L, "p0", 1.0)).toDF("pk", "part", "v").write.mode("append").parquet(srcDir)
    // no checkpointLocation and no streamId → loud failure at start
    intercept[Exception] {
      val q = spark.readStream.schema(schema).parquet(srcDir)
        .writeStream.format("graft-acid")
        .option("path", t.path)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
  }
}
