package perfbench

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.Record
import graft.harness.{HarnessConfig, HarnessResult, TransactionManager}
import graft.lake.AcidTable

/** The paper's harness as users run it: `TransactionManager.run()` with 2
  * writer threads and 1 verifying reader on the reference-shaped table
  * (at most 100 keys over 4 partitions, which fits every cache). Each
  * round is one harness run of [[RoundTxns]] transactions on a fresh
  * table; the only workload with optimistic-concurrency conflicts and with
  * reads running beside commits. No vacuum: its age-based grace is not
  * safe beside concurrent writers.
  */
object AcidVerify {
  val RoundTxns = 100
  val Writers = 2
  val Readers = 1
  val WarmRounds = 3
  val SetupRepeats = 3
  val MinRounds = 4

  /** Counts the reader's snapshot reads from outside the harness: a
    * `collect` issued from a harness session (the writers' commits issue
    * none), with its execution time. */
  final class ReadCounter(main: SparkSession) extends QueryExecutionListener {
    val reads = new AtomicLong
    private val ms = mutable.ArrayBuffer.empty[Double]
    private val work = mutable.ArrayBuffer.empty[ScanWork]
    var on = false
    val unexpected = new AtomicReference[String](null)
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on && (qe.sparkSession ne main)) {
        if (funcName != "collect") unexpected.compareAndSet(null, funcName)
        else synchronized {
          reads.incrementAndGet(); ms += durationNs / 1e6; work += ScanWork.of(qe)
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    def samples: Seq[Double] = synchronized(ms.toSeq)
    def scans: Seq[ScanWork] = synchronized(work.toSeq)
    def clear(): Unit = synchronized { reads.set(0); ms.clear(); work.clear() }
  }

  private def recordBytes(r: Record): Long =
    r.primaryKeyValue.length + r.partitionKeyValue.length + r.dataValue.length

  def run(ctx: Ctx, sessionReadyS: Double): Result = {
    val spark = ctx.spark
    val reads = new ReadCounter(spark)
    spark.listenerManager.register(reads)
    ctx.tag("setup")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "primaryKeyValue STRING NOT NULL, partitionKeyValue STRING NOT NULL, dataValue STRING")
    val setupS = sessionReadyS + Main.medianSetup(SetupRepeats) { i =>
      AcidTable.create(spark, new java.io.File(ctx.dir, s"acid_setup_$i").getPath, schema,
        pkCol = "primaryKeyValue", partitionCol = "partitionKeyValue",
        precombineCol = Some("dataValue"), stablePartitions = true)
    }

    var round = 0L
    var txns = 0L
    var userBytes = 0L
    var gainedBytes = 0L
    var dataBytes = 0L
    var metaBytes = 0L
    var files = 0L
    var lastDir = DirState(Map.empty)
    val spaceAmp = mutable.ArrayBuffer.empty[Double]
    val roundS = mutable.ArrayBuffer.empty[Double]
    val roundReads = mutable.ArrayBuffer.empty[Long]
    val attempted = mutable.LinkedHashMap("transaction" -> 0L, "read" -> 0L)

    /** One harness run on a fresh table, checked against its own model. */
    def harnessRound(phase: String): Unit = {
      ctx.tag(s"$phase:harness")
      ctx.tracer.beginOp(round)
      val path = new java.io.File(ctx.dir, s"acid_$round").getPath
      val config = HarnessConfig(path, numberOfWriterThreads = Writers,
        numberOfReaderThreads = Readers, totalNumberOfTransactions = RoundTxns,
        randomSeed = ctx.seed * 1000003L + round)
      val reads0 = reads.reads.get()
      val t0 = System.nanoTime()
      val r: HarnessResult = ctx.span("harness.run")(new TransactionManager(spark, config).run())
      roundS += (System.nanoTime() - t0) / 1e9
      org.apache.spark.perfbench.BusShim.drain(spark.sparkContext)
      roundReads += reads.reads.get() - reads0
      Check(r.failedVerifications == 0, s"${r.failedVerifications} failed verifications: ${r.firstFailure}")
      Check(!r.hasFailedWriters && !r.hasFailedReaders, s"a harness thread failed: ${r.firstFailure}")
      Check(r.committedTransactions == RoundTxns,
        s"${r.committedTransactions} of $RoundTxns transactions committed")
      ctx.tag("check")
      import spark.implicits._
      val snap = AcidTable.open(spark, path).snapshot().as[Record].collect().toSeq
      Check(snap.size == r.modelRecords.size && snap.toSet == r.modelRecords.toSet,
        s"final snapshot (${snap.size} rows) differs from the harness model (${r.modelRecords.size} rows)")
      val root = java.nio.file.Paths.get(path)
      val state = DirState.walk(root)
      val dir = state.bytes
      dataBytes += state.files.collect { case (f, b) if DirState.isData(f) => b }.sum
      metaBytes += state.files.collect { case (f, b) if !DirState.isData(f) => b }.sum
      files += state.files.size
      val live = r.modelRecords.map(recordBytes).sum
      // a transaction submits 3 records; their mean size is the model's
      userBytes += RoundTxns * 3L * live / math.max(1, r.modelRecords.size)
      gainedBytes += dir
      // with the writers gone a vacuum is safe; what it leaves is the
      // table's footprint for the live rows
      ctx.span("lake.vacuum")(AcidTable.open(spark, path).vacuum(keepVersions = 2, graceMillis = 0L))
      lastDir = DirState.walk(root)
      spaceAmp += lastDir.bytes.toDouble / live
      txns += r.committedTransactions
      attempted("transaction") += RoundTxns
      round += 1
    }

    ctx.mark("setup")
    reads.on = true
    for (_ <- 0 until WarmRounds) harnessRound("warm")
    reads.clear(); roundS.clear(); roundReads.clear(); spaceAmp.clear()
    txns = 0; userBytes = 0; gainedBytes = 0; dataBytes = 0; metaBytes = 0; files = 0
    attempted.keys.foreach(attempted(_) = 0L)
    AcidTable.resetConflictCount()
    val round0 = round
    ctx.mark("warm")
    val win = new Window
    while (round - round0 < MinRounds || win.elapsedS < ctx.seconds) harnessRound("count")
    val closed = win.close()
    ctx.mark("window")
    val conflicts = Conflicts.read()
    org.apache.spark.perfbench.BusShim.drain(spark.sparkContext)
    reads.on = false
    Check(reads.unexpected.get() == null,
      s"a harness session ran ${reads.unexpected.get()}, which the read count does not expect")
    val heapMb = Jvm.retainedHeapMb
    ctx.mark("heap")
    attempted("read") = reads.reads.get()

    // rates per round; the median round is robust to a stall in one
    val txnRates = roundS.toSeq.map(RoundTxns / _)
    val readRates = roundS.indices.map(i => roundReads(i) / roundS(i))
    val scans = reads.scans
    val c = Counted(closed, round0, round - round0, txns, userBytes, dataBytes, metaBytes, files,
      lastDir, 1L, scans, scans.map(_.rowsRead).sum, Nil, conflicts)
    val endToEnd = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("txn_per_s", Stats.median(txnRates), "1/s"),
      Metric("reads_per_s", Stats.median(readRates), "1/s"),
      Metric("read_p50_ms", Stats.median(reads.samples), "ms"),
      Metric("cpu_ms_per_txn", closed.cpuMs / txns, "ms"),
      Metric("write_amp", gainedBytes.toDouble / userBytes, "ratio"),
      Metric("space_amp", Stats.median(spaceAmp.toSeq), "ratio"),
      Metric("heap_mb", heapMb, "MiB"))
    // the harness owns its commit calls, so their latencies cannot be
    // timed from outside; they read 0 here
    val perType = Seq("op.upsert_p50_ms", "op.merge_p50_ms", "op.delete_p50_ms", "op.commit_p90_ms")
      .map(Metric(_, 0.0, "ms"))
    Result(attempted.toMap, endToEnd, Layers.common(ctx, c, closed) ++ perType,
      Seq("rounds" -> (round - round0), "round_txns" -> RoundTxns,
        "round_txn_per_s" -> txnRates, "round_reads_per_s" -> readRates,
        "space_amp_by_round" -> spaceAmp.toSeq) ++ Window.ambience(closed))
  }
}
