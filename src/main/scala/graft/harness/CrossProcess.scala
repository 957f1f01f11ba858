package graft.harness

import java.lang.management.ManagementFactory
import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.core.Record
import graft.lake.AcidTable

/** Cross-PROCESS ACID verification: the reference's 1000-transaction
  * concurrency workload split across multiple writer JVMs sharing one
  * table directory, with a concurrent vacuum loop in the orchestrator (a
  * third process from each writer's point of view) racing the commit
  * protocol's GC heals the whole time.
  *
  * Everything the single-JVM harness proves in-process (the reference
  * itself is in-process — its `InProcessLockProvider`,
  * hudi-defaults.conf:4), this proves across address spaces: the
  * create-exclusive `Files.createLink` publish is the only commit
  * arbiter, version discovery is a filesystem probe, and the
  * vacuum/publisher quarantine-recheck protocol heals races with writers
  * it shares no locks or caches with.
  *
  * Coordination-free oracle: each worker draws from a DISJOINT key
  * subspace (`Record{n}`, n % stride == offset — HarnessConfig.keyStride)
  * so its in-memory expectation log fully covers its own keys, while
  * `hashCode % maxPartitions` spreads every subspace over ALL partitions
  * — so the processes genuinely contend on the same partitions and cells
  * and every commit exercises cross-process OCC re-merge. Lost updates
  * are then checkable exactly: the union of the workers' serial-replay
  * models must equal the final table, row for row.
  *
  * Run `sbt "runMain graft.harness.CrossProcess [txnsPerWorker]
  * [workers]"` (defaults 500 × 2 = the reference's 1000-txn volume);
  * prints one JSON summary line. `CrossProcessSpec` runs a CI-sized
  * configuration through the same orchestrator.
  */
object CrossProcess {

  final case class WorkerReport(
      failedVerifications: Int,
      hasFailedWriters: Boolean,
      hasFailedReaders: Boolean,
      committed: Int,
      firstFailure: Option[String],
      model: Seq[Record])

  final case class Summary(
      workers: Int,
      committed: Int,
      failedVerifications: Int,
      workerFailures: Seq[String],
      lostUpdates: Seq[Record],
      extraRows: Seq[Record],
      fsckFindings: Seq[String],
      vacuumRuns: Int,
      vacuumRemoved: Int,
      vacuumErrors: Seq[String],
      finalRows: Long,
      modelRows: Long,
      elapsedSec: Double = 0.0,
      useSqlText: Boolean = false) {
    def txnPerSec: Double =
      if (elapsedSec > 0) committed / elapsedSec else 0.0
    def ok: Boolean =
      failedVerifications == 0 && workerFailures.isEmpty &&
        lostUpdates.isEmpty && extraRows.isEmpty && fsckFindings.isEmpty &&
        vacuumErrors.isEmpty
  }

  private val recordSchema = StructType(Seq(
    StructField("primaryKeyValue", StringType, nullable = false),
    StructField("partitionKeyValue", StringType, nullable = false),
    StructField("dataValue", StringType, nullable = true)))

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("worker") => workerMain(args.drop(1))
    case Some("skworker") => sameKeyWorkerMain(args.drop(1))
    case Some("bpworker") => branchWapWorkerMain(args.drop(1))
    case Some("branch") =>
      val rounds = args.lift(1).map(_.toInt).getOrElse(30)
      val workers = args.lift(2).map(_.toInt).getOrElse(2)
      val spark = localSession()
      val dir = Files.createTempDirectory("graft-xproc-bp-").resolve("records")
      val summary = orchestrateBranchWap(spark, dir.toString, rounds, workers)
      println(branchWapJson(summary))
      spark.stop()
      sys.exit(if (summary.ok) 0 else 1)
    case Some("samekey") | Some("samekey-del") =>
      val del = args.headOption.contains("samekey-del")
      val txnsPerWorker = args.lift(1).map(_.toInt).getOrElse(500)
      val workers = args.lift(2).map(_.toInt).getOrElse(2)
      val spark = localSession()
      val dir = Files.createTempDirectory("graft-xproc-sk-").resolve("records")
      val summary = orchestrateSameKey(spark, dir.toString, txnsPerWorker, workers,
        del = del)
      println(sameKeyJson(summary))
      spark.stop()
      sys.exit(if (summary.ok) 0 else 1)
    case Some("samekey-crash") | Some("samekey-del-crash") =>
      val del = args.headOption.contains("samekey-del-crash")
      val txnsPerWorker = args.lift(1).map(_.toInt).getOrElse(500)
      val spark = localSession()
      val dir = Files.createTempDirectory("graft-xproc-skcrash-").resolve("records")
      val summary = orchestrateSameKeyCrash(spark, dir.toString, txnsPerWorker,
        del = del)
      println(sameKeyJson(summary))
      spark.stop()
      sys.exit(if (summary.ok) 0 else 1)
    case Some("crash") =>
      val txnsPerWorker = args.lift(1).map(_.toInt).getOrElse(500)
      val spark = localSession()
      val dir = Files.createTempDirectory("graft-xproc-crash-").resolve("records")
      val summary = orchestrateCrash(spark, dir.toString, txnsPerWorker)
      println(crashJson(summary))
      spark.stop()
      sys.exit(if (summary.ok) 0 else 1)
    case _ =>
      val txnsPerWorker = args.lift(0).map(_.toInt).getOrElse(500)
      val workers = args.lift(1).map(_.toInt).getOrElse(2)
      // "sql" drives UPDATE/DELETE and the readers through the
      // reference's literal SQL text front-end in every worker JVM
      val useSql = args.lift(2).contains("sql")
      val spark = localSession()
      val dir = Files.createTempDirectory("graft-xproc-").resolve("records")
      val summary = orchestrate(spark, dir.toString, txnsPerWorker, workers,
        useSqlText = useSql)
      println(summaryJson(summary))
      spark.stop()
      sys.exit(if (summary.ok) 0 else 1)
  }

  private def localSession(): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Spawn `workers` writer JVMs against `tableDir`, vacuum concurrently
    * from THIS process until they exit, then run the global checks:
    * merged-model equality (0 lost updates / 0 resurrections), clean
    * fsck, 0 worker-side verification failures.
    *
    * `vacuumGraceMs` is the production retention contract scaled down: it
    * must exceed the longest in-flight write (an unpublished data file's
    * only protection is its age) and the longest snapshot read (a reader
    * may still be scanning a file whose last referencing version just
    * left the retention window). Operations run 0.1-0.5 s on an idle
    * box, but 4-worker runs under CPU contention have shown reads
    * stretched past 8 s — the default keeps 20 s of slack (a run still
    * GCs hundreds of files mid-flight; tighten it deliberately to probe
    * the contract's edge).
    */
  def orchestrate(
      spark: SparkSession,
      tableDir: String,
      txnsPerWorker: Int,
      workers: Int = 2,
      writersPerWorker: Int = 2,
      readersPerWorker: Int = 1,
      vacuumPeriodMs: Long = 1000,
      vacuumGraceMs: Long = 20000,
      workerTimeoutMinutes: Long = 30,
      useSqlText: Boolean = false): Summary = {
    require(workers >= 1 && workers <= 8, "workers must be in [1, 8]")
    val t0 = System.nanoTime()
    val table = AcidTable.create(
      spark, tableDir, recordSchema,
      pkCol = "primaryKeyValue", partitionCol = "partitionKeyValue",
      precombineCol = Some("dataValue"), stablePartitions = true)

    val outDir = Files.createTempDirectory("graft-xproc-out-")
    val procs = (0 until workers).map(w => (w,
      spawnWorker(w, tableDir, outDir, txnsPerWorker, workers,
        writersPerWorker, readersPerWorker, useSqlText)))
      .map { case (w, (p, f)) => (w, p, f) }

    // the concurrent GC loop — from the orchestrator JVM, so it shares no
    // in-process locks, caches, or session state with any writer
    val vac = startVacuumLoop(table, vacuumPeriodMs, vacuumGraceMs, "xproc-vacuum")

    val workerFailures = scala.collection.mutable.ArrayBuffer.empty[String]
    val reports = procs.flatMap { case (w, proc, outFile) =>
      val finished = proc.waitFor(workerTimeoutMinutes, java.util.concurrent.TimeUnit.MINUTES)
      if (!finished) { proc.destroyForcibly(); workerFailures += s"worker $w: timeout"; None }
      else if (proc.exitValue() != 0) { workerFailures += s"worker $w: exit ${proc.exitValue()}"; None }
      else parseReport(outFile) match {
        case Some(r) =>
          if (r.hasFailedWriters || r.hasFailedReaders)
            workerFailures += s"worker $w: ${r.firstFailure.getOrElse("thread failure")}"
          Some(r)
        case None => workerFailures += s"worker $w: unreadable report"; None
      }
    }
    vac.finish()

    // global exact-state check: disjoint key subspaces make the union of
    // the per-worker serial-replay models THE serialization-independent
    // final state — any difference is a lost update (model row missing
    // from the table) or a resurrection/duplicate (table row no model
    // explains)
    val model = reports.flatMap(_.model).toSet
    import spark.implicits._
    // a final state that cannot even be READ is itself a finding (e.g. a
    // manifest referencing a GC'd file) — report it structurally rather
    // than crashing without a summary
    val finalRows = scala.util.Try(table.snapshot().as[Record].collect().toSet) match {
      case scala.util.Success(rows) => rows
      case scala.util.Failure(e) =>
        workerFailures += s"final snapshot unreadable: $e"
        Set.empty[Record]
    }
    val lost = (model -- finalRows).toSeq.sortBy(_.primaryKeyValue)
    val extra = (finalRows -- model).toSeq.sortBy(_.primaryKeyValue)

    // one final settle vacuum, then fsck must be CLEAN — no dangling
    // segment/page/rli refs, no stale quarantines left behind by the
    // race-heavy window (grace 0: anything still quarantined is a leak)
    try { table.vacuum(keepVersions = 2, graceMillis = vacuumGraceMs); () }
    catch { case e: Throwable => vac.errors.add(s"final: $e"); () }
    val fsckFindings = table.fsck(graceMs = 0).collect()
      .map(r => s"${r.getString(0)} v${r.getLong(1)} ${r.getString(2)}").toSeq

    Summary(
      workers = workers,
      committed = reports.map(_.committed).sum,
      failedVerifications = reports.map(_.failedVerifications).sum,
      workerFailures = workerFailures.toSeq,
      lostUpdates = lost,
      extraRows = extra,
      fsckFindings = fsckFindings,
      vacuumRuns = vac.runs.get(),
      vacuumRemoved = vac.removed.get(),
      vacuumErrors = vac.errors.asScala.toSeq,
      finalRows = finalRows.size.toLong,
      modelRows = model.size.toLong,
      elapsedSec = (System.nanoTime() - t0) / 1e9,
      useSqlText = useSqlText)
  }

  /** Fork one worker JVM (this test/main JVM's classpath and module
    * flags, 4 GiB heap) and return (process, report file). Child output
    * drains to OUR stderr — an undrained pipe buffer deadlocks the child
    * (the Bench.scala gobbler shape). */
  private def spawnWorker(
      w: Int, tableDir: String, outDir: Path, txnsPerWorker: Int,
      workers: Int, writersPerWorker: Int, readersPerWorker: Int,
      useSqlText: Boolean = false): (Process, Path) = {
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent") ||
        a.startsWith("-Xmx"))
      .toSeq :+ "-Xmx4g"
    val outFile = outDir.resolve(s"worker-$w.report")
    val cmd = (javaBin +: jvmArgs) ++ Seq(
      "-cp", sys.props("java.class.path"), "graft.harness.CrossProcess", "worker",
      tableDir, outFile.toString, txnsPerWorker.toString,
      workers.toString, w.toString, (1234L + 7919L * w).toString,
      writersPerWorker.toString, readersPerWorker.toString,
      useSqlText.toString)
    val pb = new ProcessBuilder(cmd.asJava)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val gobbler = new Thread(() => {
      val in = proc.getInputStream
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { System.err.write(buf, 0, n); n = in.read(buf) }
    }, s"xproc-gobbler-$w")
    gobbler.setDaemon(true)
    gobbler.start()
    (proc, outFile)
  }

  final case class CrashSummary(
      killedAtVersion: Long,
      // the kill's evidence: the victim process was LIVE when SIGKILL'd
      // (it did not merely finish first) and it left rows behind (it had
      // really committed work) — without both, the run degenerates to a
      // no-crash test that would still pass every other check
      victimWasAlive: Boolean,
      // the version of the snapshot in which the orchestrator saw a victim
      // row before the kill (-1: never) — the victim's own later deletes
      // can remove every such row from the FINAL snapshot, so the final
      // count alone cannot tell whether the victim committed
      victimEvidenceVersion: Long,
      victimRowsSeen: Int,
      survivorCommitted: Int,
      survivorFailedVerifications: Int,
      survivorFailures: Seq[String],
      survivorLost: Seq[Record],
      survivorExtra: Seq[Record],
      orphanKeyViolations: Seq[String],
      fsckFindings: Seq[String],
      finalRows: Long,
      vacuumRuns: Int,
      vacuumErrors: Seq[String]) {
    def ok: Boolean =
      survivorFailures.isEmpty && survivorFailedVerifications == 0 &&
        survivorLost.isEmpty && survivorExtra.isEmpty &&
        orphanKeyViolations.isEmpty && fsckFindings.isEmpty &&
        vacuumErrors.isEmpty && victimWasAlive
  }

  /** Crash-resilience variant: two writer JVMs, one killed with SIGKILL
    * mid-run (≈half the expected commit volume), vacuum racing
    * throughout. What atomic create-exclusive publication promises — and
    * this verifies — after an uncoordinated process death:
    *
    *  - the SURVIVOR's key subspace stays EXACT (its serial-replay model
    *    equals its slice of the final table; its snapshot verifications
    *    never fail) — a foreign JVM dying mid-commit perturbs nothing;
    *  - every row of the DEAD worker's subspace is well-formed
    *    (partition == the pure function of its PK the generator uses) —
    *    commits are all-or-nothing, so no torn or half-merged rows; its
    *    exact row VALUES are unknowable (its oracle died with it);
    *  - the table stays readable and fsck stays clean: a crash can leave
    *    orphan staged files (unreferenced — the age guard sweeps them),
    *    never dangling manifest references.
    */
  def orchestrateCrash(
      spark: SparkSession,
      tableDir: String,
      txnsPerWorker: Int,
      vacuumPeriodMs: Long = 1000,
      vacuumGraceMs: Long = 20000,
      workerTimeoutMinutes: Long = 30): CrashSummary = {
    val table = AcidTable.create(
      spark, tableDir, recordSchema,
      pkCol = "primaryKeyValue", partitionCol = "partitionKeyValue",
      precombineCol = Some("dataValue"), stablePartitions = true)
    val outDir = Files.createTempDirectory("graft-xproc-out-")
    val (survivor, survivorReport) =
      spawnWorker(0, tableDir, outDir, txnsPerWorker, 2, 2, 1)
    val (victim, _) = spawnWorker(1, tableDir, outDir, txnsPerWorker, 2, 2, 1)

    val vac = startVacuumLoop(table, vacuumPeriodMs, vacuumGraceMs, "xproc-crash-vacuum")

    // kill the victim at ~40% of the COMBINED two-worker commit volume
    // (2 workers × txnsPerWorker × 2/5; each transaction is one commit) —
    // mid-flight by construction, not at a quiescent point — AND only
    // after DIRECT victim evidence: a row of the victim's key subspace is
    // visible in a snapshot (round-17 advice: total version count alone
    // races a fast-booting survivor, leaving victimRowsSeen spuriously 0)
    val killTarget = math.max(1L, (2L * txnsPerWorker * 2L) / 5L)
    val deadline = System.currentTimeMillis() + 120000
    def victimEvidence(): Long = scala.util.Try {
      import spark.implicits._
      val v = table.latestVersion()
      val seen = table.snapshot(v).as[Record].collect().exists(r =>
        scala.util.Try(r.primaryKeyValue.stripPrefix("Record").toInt)
          .toOption.exists(_ % 2 == 1))
      if (seen) v else -1L
    }.getOrElse(-1L)
    var evidenceVersion = -1L
    while ((table.latestVersion() < killTarget || evidenceVersion < 0) &&
        victim.isAlive && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      if (evidenceVersion < 0) evidenceVersion = victimEvidence()
    }
    val killedAt = table.latestVersion()
    val victimWasAlive = victim.isAlive
    victim.destroyForcibly()

    val finished = survivor.waitFor(workerTimeoutMinutes, java.util.concurrent.TimeUnit.MINUTES)
    if (!finished) survivor.destroyForcibly()
    vac.finish()

    val survivorFailures = scala.collection.mutable.ArrayBuffer.empty[String]
    val report = if (!finished) { survivorFailures += "survivor: timeout"; None }
      else if (survivor.exitValue() != 0) { survivorFailures += s"survivor: exit ${survivor.exitValue()}"; None }
      else parseReport(survivorReport).orElse { survivorFailures += "survivor: unreadable report"; None }
    report.filter(r => r.hasFailedWriters || r.hasFailedReaders).foreach(r =>
      survivorFailures += s"survivor: ${r.firstFailure.getOrElse("thread failure")}")

    import spark.implicits._
    val finalRows = scala.util.Try(table.snapshot().as[Record].collect().toSet) match {
      case scala.util.Success(rows) => rows
      case scala.util.Failure(e) =>
        survivorFailures += s"final snapshot unreadable: $e"
        Set.empty[Record]
    }
    def keyIdx(pk: String): Option[Int] =
      scala.util.Try(pk.stripPrefix("Record").toInt).toOption
    val (survivorRows, victimRows) = finalRows.partition(r =>
      keyIdx(r.primaryKeyValue).exists(_ % 2 == 0))
    val model = report.map(_.model.toSet).getOrElse(Set.empty)
    // the dead worker's rows: values unknowable, SHAPE checkable — the
    // generator's partition is a pure function of the PK, so any torn or
    // half-applied commit shows as a key outside its partition (or a key
    // outside either worker's pool)
    // the SAME partition formula the generator uses (hashCode modulo the
    // config's partition count, Java semantics incl. negatives) — derived
    // from the default HarnessConfig the workers were spawned with, so a
    // config change cannot silently diverge the check from the writers
    val maxParts = HarnessConfig(tablePath = tableDir).maximumNumberOfPartitions
    val orphanViolations = victimRows.toSeq.flatMap { r =>
      keyIdx(r.primaryKeyValue) match {
        case None => Some(s"unknown pk ${r.primaryKeyValue}")
        case Some(_) =>
          val expected = "Partition" + (r.primaryKeyValue.hashCode % maxParts)
          if (r.partitionKeyValue != expected)
            Some(s"${r.primaryKeyValue} in ${r.partitionKeyValue}, expected $expected")
          else None
      }
    }
    try { table.vacuum(keepVersions = 2, graceMillis = vacuumGraceMs); () }
    catch { case e: Throwable => survivorFailures += s"final vacuum: $e" }
    val fsckFindings = table.fsck(graceMs = 0).collect()
      .map(r => s"${r.getString(0)} v${r.getLong(1)} ${r.getString(2)}").toSeq

    CrashSummary(
      killedAtVersion = killedAt,
      victimWasAlive = victimWasAlive,
      victimEvidenceVersion = evidenceVersion,
      victimRowsSeen = victimRows.size,
      survivorCommitted = report.map(_.committed).getOrElse(0),
      survivorFailedVerifications = report.map(_.failedVerifications).getOrElse(0),
      survivorFailures = survivorFailures.toSeq,
      survivorLost = (model -- survivorRows).toSeq.sortBy(_.primaryKeyValue),
      survivorExtra = (survivorRows -- model).toSeq.sortBy(_.primaryKeyValue),
      orphanKeyViolations = orphanViolations,
      fsckFindings = fsckFindings,
      finalRows = finalRows.size.toLong,
      vacuumRuns = vac.runs.get(),
      vacuumErrors = vac.errors.asScala.toSeq)
  }

  // ------------------------------------------------------- same-key mode --
  //
  // Round-17 contention hardening (round-16 verdict #6): the subspace
  // modes above contend on PARTITIONS and CELLS but never on a KEY, so a
  // same-key cross-process re-merge bug (two JVMs' OCC redos against each
  // other's versions of one row) had no exact oracle. This mode makes the
  // final state per key a COMMUTATIVE function of the set of writes —
  // every transaction is a conditional MERGE that updates only when the
  // incoming dataValue is lexicographically GREATER (`s.dataValue >
  // t.dataValue`, insert when absent), and values are zero-padded
  // `(seq).w(worker)` stamps, all distinct and totally ordered. Under
  // serializable commits the final value of a key is then exactly the MAX
  // over every value any process ever wrote to it — computable by merging
  // the workers' local write logs, no shared log needed. Each worker also
  // re-reads its keys periodically and asserts MONOTONICITY (a read below
  // its own last written value would prove a lost or reordered update
  // mid-run, not just at the end).

  final case class SameKeySummary(
      crashMode: Boolean,
      delMode: Boolean,
      workers: Int,
      committed: Int,
      monotoneViolations: Int,
      workerFailures: Seq[String],
      wrongRows: Seq[String],
      missingKeys: Seq[String],
      extraKeys: Seq[String],
      malformedRows: Seq[String],
      victimWasAlive: Boolean,
      victimRowsSeen: Int,
      fsckFindings: Seq[String],
      vacuumRuns: Int,
      vacuumErrors: Seq[String],
      finalRows: Long,
      elapsedSec: Double) {
    def ok: Boolean =
      workerFailures.isEmpty && monotoneViolations == 0 && wrongRows.isEmpty &&
        missingKeys.isEmpty && extraKeys.isEmpty && malformedRows.isEmpty &&
        fsckFindings.isEmpty && vacuumErrors.isEmpty &&
        (!crashMode || (victimWasAlive && victimRowsSeen > 0))
  }

  /** Shared key pool size and the pure partition function both sides use
    * (the workers to write, the orchestrator to verify shape). */
  private val SkKeyPool = 120
  private val SkPartitions = 8
  private[harness] def skPartitionOf(pk: String): String =
    "Partition" + math.floorMod(pk.hashCode, SkPartitions)
  private[harness] def skValue(seq: Int, worker: Int): String = f"$seq%09d.w$worker"
  private val SkValueRe = """\d{9}\.w(\d)""".r

  final case class SkWorkerReport(
      committed: Int,
      monotoneViolations: Int,
      firstFailure: Option[String],
      maxWritten: Map[String, String])

  /** `workers` JVMs merge the SAME `SkKeyPool` keys (update-if-greater)
    * against one table dir, vacuum racing from this process; the exact
    * final-state oracle is the per-key max over the workers' write logs.
    *
    * `del = true` (round 18, r17 verdict #4) mixes in CONDITIONAL
    * DELETES: ~30% of transactions `deleteWhere(pk IN keys AND dataValue
    * < stamp)` under `morDeletes`, so deletion vectors, tombstone
    * materialization, and key resurrection (a later merge re-inserting a
    * DV-deleted key) all contend on the SAME keys across JVMs. The
    * max-oracle survives because every worker ends with a SEALING pass —
    * update-if-greater merges stamped in a 900M+ range strictly above
    * every mid-run stamp, over every key it touched — so each key's
    * globally-maximal stamp is a MERGE, and serial-equivalent execution
    * must leave exactly that value (a conditional delete's stamp is
    * always below it, so the sealed row can never be removed).
    */
  def orchestrateSameKey(
      spark: SparkSession,
      tableDir: String,
      txnsPerWorker: Int,
      workers: Int = 2,
      vacuumPeriodMs: Long = 1000,
      vacuumGraceMs: Long = 20000,
      workerTimeoutMinutes: Long = 30,
      del: Boolean = false): SameKeySummary = {
    require(workers >= 1 && workers <= 8, "workers must be in [1, 8]")
    val t0 = System.nanoTime()
    val table = AcidTable.create(
      spark, tableDir, recordSchema,
      pkCol = "primaryKeyValue", partitionCol = "partitionKeyValue",
      precombineCol = Some("dataValue"), stablePartitions = true)
    if (del) table.setTableProperty("morDeletes", Some("true"))
    val outDir = Files.createTempDirectory("graft-xproc-sk-out-")
    val procs = (0 until workers).map(w =>
      (w, spawnSkWorker(w, tableDir, outDir, txnsPerWorker, del)))
    val vac = startVacuumLoop(table, vacuumPeriodMs, vacuumGraceMs, "xproc-sk-vacuum")
    val workerFailures = scala.collection.mutable.ArrayBuffer.empty[String]
    val reports = procs.flatMap { case (w, (proc, outFile)) =>
      val finished = proc.waitFor(workerTimeoutMinutes, java.util.concurrent.TimeUnit.MINUTES)
      if (!finished) { proc.destroyForcibly(); workerFailures += s"skworker $w: timeout"; None }
      else if (proc.exitValue() != 0) { workerFailures += s"skworker $w: exit ${proc.exitValue()}"; None }
      else parseSkReport(outFile) match {
        case Some(r) =>
          r.firstFailure.foreach(f => workerFailures += s"skworker $w: $f")
          Some(r)
        case None => workerFailures += s"skworker $w: unreadable report"; None
      }
    }
    vac.finish()
    // exact oracle: per-key lexicographic max over every worker's log
    val expected: Map[String, String] = reports.flatMap(_.maxWritten.toSeq)
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
    import spark.implicits._
    val finalRows = scala.util.Try(table.snapshot().as[Record].collect()) match {
      case scala.util.Success(rows) => rows.toSeq
      case scala.util.Failure(e) =>
        workerFailures += s"final snapshot unreadable: $e"; Seq.empty[Record]
    }
    val byKey = finalRows.map(r => r.primaryKeyValue -> r).toMap
    val wrong = expected.toSeq.sortBy(_._1).flatMap { case (k, v) =>
      byKey.get(k) match {
        case Some(r) if r.dataValue == v => None
        case Some(r) => Some(s"$k: table=${r.dataValue} expected=$v")
        case None => None // reported under missingKeys
      }
    }
    val missing = expected.keys.toSeq.filterNot(byKey.contains).sorted
    val extra = byKey.keys.toSeq.filterNot(expected.contains).sorted
    val malformed = finalRows.flatMap { r =>
      val shapeOk = SkValueRe.pattern.matcher(String.valueOf(r.dataValue)).matches() &&
        r.partitionKeyValue == skPartitionOf(r.primaryKeyValue)
      if (shapeOk) None else Some(s"${r.primaryKeyValue}|${r.partitionKeyValue}|${r.dataValue}")
    }
    try { table.vacuum(keepVersions = 2, graceMillis = vacuumGraceMs); () }
    catch { case e: Throwable => vac.errors.add(s"final: $e"); () }
    val fsckFindings = table.fsck(graceMs = 0).collect()
      .map(r => s"${r.getString(0)} v${r.getLong(1)} ${r.getString(2)}").toSeq
    SameKeySummary(
      crashMode = false, delMode = del, workers = workers,
      committed = reports.map(_.committed).sum,
      monotoneViolations = reports.map(_.monotoneViolations).sum,
      workerFailures = workerFailures.toSeq,
      wrongRows = wrong, missingKeys = missing, extraKeys = extra,
      malformedRows = malformed,
      victimWasAlive = true, victimRowsSeen = 0,
      fsckFindings = fsckFindings,
      vacuumRuns = vac.runs.get(), vacuumErrors = vac.errors.asScala.toSeq,
      finalRows = finalRows.size.toLong,
      elapsedSec = (System.nanoTime() - t0) / 1e9)
  }

  /** The crash leg on the same-key mode: two JVMs remerging the same
    * keys, one SIGKILL'd mid-run. The survivor's log gives a ONE-SIDED
    * exact oracle per key it wrote: a final value stamped by the SURVIVOR
    * must EQUAL its logged max (greater = fabricated, lower = lost
    * update); a final value stamped by the VICTIM on such a key must be
    * GREATER than the survivor's max (otherwise the survivor's merge
    * should have replaced it). Victim-only keys are shape-checked
    * (value stamp format + partition = pure function of the PK). */
  def orchestrateSameKeyCrash(
      spark: SparkSession,
      tableDir: String,
      txnsPerWorker: Int,
      vacuumPeriodMs: Long = 1000,
      vacuumGraceMs: Long = 20000,
      workerTimeoutMinutes: Long = 30,
      del: Boolean = false): SameKeySummary = {
    val t0 = System.nanoTime()
    val table = AcidTable.create(
      spark, tableDir, recordSchema,
      pkCol = "primaryKeyValue", partitionCol = "partitionKeyValue",
      precombineCol = Some("dataValue"), stablePartitions = true)
    if (del) table.setTableProperty("morDeletes", Some("true"))
    val outDir = Files.createTempDirectory("graft-xproc-sk-out-")
    val (survivor, survivorReport) = spawnSkWorker(0, tableDir, outDir, txnsPerWorker, del)
    val (victim, _) = spawnSkWorker(1, tableDir, outDir, txnsPerWorker, del)
    val vac = startVacuumLoop(table, vacuumPeriodMs, vacuumGraceMs, "xproc-skcrash-vacuum")
    // kill at ~40% of the COMBINED two-worker commit volume (2 workers ×
    // txnsPerWorker × 2/5) — mid-flight by construction — and only after
    // a `.w1`-stamped row is VISIBLE (direct victim evidence; round-17
    // advice: the version counter alone counts both workers, so a
    // fast-booting survivor could reach the target before the victim
    // commits anything and the evidence gate below would flake)
    val killTarget = math.max(1L, (2L * txnsPerWorker * 2L) / 5L)
    val deadline = System.currentTimeMillis() + 120000
    def w1Visible(): Int = scala.util.Try {
      import spark.implicits._
      table.snapshot().as[Record].collect()
        .count(r => String.valueOf(r.dataValue).endsWith(".w1"))
    }.getOrElse(0)
    var w1AtGate = 0
    while ((table.latestVersion() < killTarget || w1AtGate == 0) &&
        victim.isAlive && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      if (w1AtGate == 0) w1AtGate = w1Visible()
    }
    val victimWasAlive = victim.isAlive
    victim.destroyForcibly()
    // victim-work evidence is sampled NOW, not from the final state: in
    // same-key mode the survivor keeps merging ever-greater stamps after
    // the kill and legitimately supersedes every victim value by the end
    // (that is the max-oracle working, not the victim vanishing) — only
    // the mid-run snapshot can show the victim's commits landed
    // up to 3 attempts with a short backoff: a transient read failure
    // (racing archival) must not masquerade as "the victim never
    // committed" — if it truly never did, every attempt still counts
    // zero. A final fallback scans a few RETAINED versions: the survivor
    // keeps merging greater stamps while we sample, so an unlucky
    // interleaving could already have superseded every victim stamp in
    // the LATEST snapshot while an older retained one still shows them.
    def countW1(version: Long = -1L): Int =
      scala.util.Try {
        import spark.implicits._
        table.snapshot(version).as[Record].collect()
          .count(r => String.valueOf(r.dataValue).endsWith(".w1"))
      }.getOrElse(0)
    val victimRowsAtKill = (1 to 3).iterator.map { i =>
      if (i > 1) Thread.sleep(300)
      countW1()
    }.find(_ > 0).getOrElse {
      val latest = scala.util.Try(table.latestVersion()).getOrElse(-1L)
      (1L to 6L).iterator.map(latest - _).filter(_ >= 0)
        .map(countW1).find(_ > 0).getOrElse(
          // the kill gate itself observed victim rows pre-kill; if the
          // survivor superseded every .w1 stamp during the sampling
          // window, that observation is still committed-work evidence
          w1AtGate)
    }
    val finished = survivor.waitFor(workerTimeoutMinutes, java.util.concurrent.TimeUnit.MINUTES)
    if (!finished) survivor.destroyForcibly()
    vac.finish()
    val workerFailures = scala.collection.mutable.ArrayBuffer.empty[String]
    val report = if (!finished) { workerFailures += "survivor: timeout"; None }
      else if (survivor.exitValue() != 0) { workerFailures += s"survivor: exit ${survivor.exitValue()}"; None }
      else parseSkReport(survivorReport).orElse { workerFailures += "survivor: unreadable report"; None }
    report.flatMap(_.firstFailure).foreach(f => workerFailures += s"survivor: $f")
    val survivorMax = report.map(_.maxWritten).getOrElse(Map.empty)
    import spark.implicits._
    val finalRows = scala.util.Try(table.snapshot().as[Record].collect()) match {
      case scala.util.Success(rows) => rows.toSeq
      case scala.util.Failure(e) =>
        workerFailures += s"final snapshot unreadable: $e"; Seq.empty[Record]
    }
    val byKey = finalRows.map(r => r.primaryKeyValue -> r).toMap
    val wrong = survivorMax.toSeq.sortBy(_._1).flatMap { case (k, v) =>
      byKey.get(k) match {
        case None => None // reported under missingKeys
        case Some(r) =>
          val fv = String.valueOf(r.dataValue)
          if (fv.endsWith(".w0") && fv != v)
            Some(s"$k: survivor-stamped $fv != survivor max $v")
          else if (fv.endsWith(".w1") && fv <= v)
            Some(s"$k: victim value $fv did not beat survivor max $v")
          else None
      }
    }
    val missing = survivorMax.keys.toSeq.filterNot(byKey.contains).sorted
    val malformed = finalRows.flatMap { r =>
      val shapeOk = SkValueRe.pattern.matcher(String.valueOf(r.dataValue)).matches() &&
        r.partitionKeyValue == skPartitionOf(r.primaryKeyValue) &&
        r.primaryKeyValue.startsWith("Key")
      if (shapeOk) None else Some(s"${r.primaryKeyValue}|${r.partitionKeyValue}|${r.dataValue}")
    }
    try { table.vacuum(keepVersions = 2, graceMillis = vacuumGraceMs); () }
    catch { case e: Throwable => vac.errors.add(s"final: $e"); () }
    val fsckFindings = table.fsck(graceMs = 0).collect()
      .map(r => s"${r.getString(0)} v${r.getLong(1)} ${r.getString(2)}").toSeq
    SameKeySummary(
      crashMode = true, delMode = del, workers = 2,
      committed = report.map(_.committed).getOrElse(0),
      monotoneViolations = report.map(_.monotoneViolations).getOrElse(0),
      workerFailures = workerFailures.toSeq,
      wrongRows = wrong, missingKeys = missing, extraKeys = Nil,
      malformedRows = malformed,
      victimWasAlive = victimWasAlive, victimRowsSeen = victimRowsAtKill,
      fsckFindings = fsckFindings,
      vacuumRuns = vac.runs.get(), vacuumErrors = vac.errors.asScala.toSeq,
      finalRows = finalRows.size.toLong,
      elapsedSec = (System.nanoTime() - t0) / 1e9)
  }

  /** The shared vacuum-race loop (one thread in THIS process, no state
    * shared with any worker) — used by every orchestrator mode, so
    * kill/grace/telemetry behavior cannot silently diverge between them. */
  private final case class VacuumLoop(
      stop: java.util.concurrent.atomic.AtomicBoolean,
      thread: Thread,
      runs: java.util.concurrent.atomic.AtomicInteger,
      removed: java.util.concurrent.atomic.AtomicInteger,
      errors: java.util.concurrent.ConcurrentLinkedQueue[String]) {
    def finish(): Unit = { stop.set(true); thread.join(15000) }
  }

  private def startVacuumLoop(
      table: AcidTable, periodMs: Long, graceMs: Long, name: String): VacuumLoop = {
    val runs = new java.util.concurrent.atomic.AtomicInteger(0)
    val removed = new java.util.concurrent.atomic.AtomicInteger(0)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val t = new Thread(() => {
      while (!stop.get()) {
        try {
          removed.addAndGet(table.vacuum(keepVersions = 2, graceMillis = graceMs))
          runs.incrementAndGet()
          ()
        } catch { case e: Throwable => errors.add(e.toString); () }
        Thread.sleep(periodMs)
      }
    }, name)
    t.setDaemon(true)
    t.start()
    VacuumLoop(stop, t, runs, removed, errors)
  }

  private def spawnSkWorker(
      w: Int, tableDir: String, outDir: Path, txns: Int,
      del: Boolean = false): (Process, Path) = {
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent") ||
        a.startsWith("-Xmx"))
      .toSeq :+ "-Xmx4g"
    val outFile = outDir.resolve(s"skworker-$w.report")
    val cmd = (javaBin +: jvmArgs) ++ Seq(
      "-cp", sys.props("java.class.path"), "graft.harness.CrossProcess", "skworker",
      tableDir, outFile.toString, txns.toString, w.toString,
      (4321L + 6037L * w).toString, del.toString)
    val pb = new ProcessBuilder(cmd.asJava)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val gobbler = new Thread(() => {
      val in = proc.getInputStream
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { System.err.write(buf, 0, n); n = in.read(buf) }
    }, s"xproc-sk-gobbler-$w")
    gobbler.setDaemon(true)
    gobbler.start()
    (proc, outFile)
  }

  final case class BpWorkerReport(
      published: Int,
      refused: Int,
      firstFailure: Option[String],
      maxWritten: Map[String, String])

  final case class BranchWapSummary(
      workers: Int,
      rounds: Int,
      published: Int,
      refused: Int,
      workerFailures: Seq[String],
      wrongRows: Seq[String],
      missingKeys: Seq[String],
      extraKeys: Seq[String],
      malformedRows: Seq[String],
      fsckFindings: Seq[String],
      vacuumRuns: Int,
      vacuumErrors: Seq[String],
      finalRows: Long,
      elapsedSec: Double) {
    def ok: Boolean =
      workerFailures.isEmpty && wrongRows.isEmpty && missingKeys.isEmpty &&
        extraKeys.isEmpty && malformedRows.isEmpty && fsckFindings.isEmpty &&
        vacuumErrors.isEmpty && published + refused == workers * rounds
  }

  /** Cross-PROCESS write-audit-publish contention (round 18c): `workers`
    * JVMs each loop `rounds` of the full WAP cycle against ONE table dir
    * — fork a uniquely-named branch, stage an update-if-greater merge on
    * 1-3 keys of the shared pool, AUDIT the staged state through the
    * branch, then race `publishBranch`'s CAS — with the orchestrator's
    * vacuum loop running the whole time. The publish CAS admits exactly
    * one fork per main version, so concurrent publishes and the
    * create-exclusive link are contended across address spaces with no
    * shared locks or caches.
    *
    * Exact oracle, the samekey construction restricted to PUBLISHED
    * rounds: a published branch's staged max-merge lands atomically and
    * serially (each fork derives from the prior published head), so the
    * final value per key must equal the per-key MAX over all workers'
    * PUBLISHED stamps — a REFUSED round's stamp (unique per round) must
    * never be visible anywhere, which the exact equality implies. Every
    * round must end PUBLISHED or TYPED-REFUSED: any other outcome is a
    * worker failure.
    */
  def orchestrateBranchWap(
      spark: SparkSession,
      tableDir: String,
      rounds: Int,
      workers: Int = 2,
      vacuumPeriodMs: Long = 1000,
      vacuumGraceMs: Long = 20000,
      workerTimeoutMinutes: Long = 30): BranchWapSummary = {
    require(workers >= 1 && workers <= 8, "workers must be in [1, 8]")
    val t0 = System.nanoTime()
    val table = AcidTable.create(
      spark, tableDir, recordSchema,
      pkCol = "primaryKeyValue", partitionCol = "partitionKeyValue",
      precombineCol = Some("dataValue"), stablePartitions = true)
    val outDir = Files.createTempDirectory("graft-xproc-bp-out-")
    val procs = (0 until workers).map(w =>
      (w, spawnBpWorker(w, tableDir, outDir, rounds)))
    val vac = startVacuumLoop(table, vacuumPeriodMs, vacuumGraceMs, "xproc-bp-vacuum")
    val workerFailures = scala.collection.mutable.ArrayBuffer.empty[String]
    val reports = procs.flatMap { case (w, (proc, outFile)) =>
      val finished = proc.waitFor(workerTimeoutMinutes, java.util.concurrent.TimeUnit.MINUTES)
      if (!finished) { proc.destroyForcibly(); workerFailures += s"bpworker $w: timeout"; None }
      else if (proc.exitValue() != 0) { workerFailures += s"bpworker $w: exit ${proc.exitValue()}"; None }
      else parseBpReport(outFile) match {
        case Some(r) =>
          r.firstFailure.foreach(f => workerFailures += s"bpworker $w: $f")
          Some(r)
        case None => workerFailures += s"bpworker $w: unreadable report"; None
      }
    }
    vac.finish()
    val expected: Map[String, String] = reports.flatMap(_.maxWritten.toSeq)
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
    import spark.implicits._
    val finalRows = scala.util.Try(table.snapshot().as[Record].collect()) match {
      case scala.util.Success(rows) => rows.toSeq
      case scala.util.Failure(e) =>
        workerFailures += s"final snapshot unreadable: $e"; Seq.empty[Record]
    }
    val byKey = finalRows.map(r => r.primaryKeyValue -> r).toMap
    val wrong = expected.toSeq.sortBy(_._1).flatMap { case (k, v) =>
      byKey.get(k) match {
        case Some(r) if r.dataValue == v => None
        case Some(r) => Some(s"$k: table=${r.dataValue} expected=$v")
        case None => None
      }
    }
    val missing = expected.keys.toSeq.filterNot(byKey.contains).sorted
    val extra = byKey.keys.toSeq.filterNot(expected.contains).sorted
    val malformed = finalRows.flatMap { r =>
      val shapeOk = SkValueRe.pattern.matcher(String.valueOf(r.dataValue)).matches() &&
        r.partitionKeyValue == skPartitionOf(r.primaryKeyValue)
      if (shapeOk) None else Some(s"${r.primaryKeyValue}|${r.partitionKeyValue}|${r.dataValue}")
    }
    try { table.vacuum(keepVersions = 2, graceMillis = vacuumGraceMs); () }
    catch { case e: Throwable => vac.errors.add(s"final: $e"); () }
    val fsckFindings = table.fsck(graceMs = 0).collect()
      .map(r => s"${r.getString(0)} v${r.getLong(1)} ${r.getString(2)}").toSeq
    BranchWapSummary(
      workers = workers, rounds = rounds,
      published = reports.map(_.published).sum,
      refused = reports.map(_.refused).sum,
      workerFailures = workerFailures.toSeq,
      wrongRows = wrong, missingKeys = missing, extraKeys = extra,
      malformedRows = malformed,
      fsckFindings = fsckFindings,
      vacuumRuns = vac.runs.get(), vacuumErrors = vac.errors.asScala.toSeq,
      finalRows = finalRows.size.toLong,
      elapsedSec = (System.nanoTime() - t0) / 1e9)
  }

  private def spawnBpWorker(
      w: Int, tableDir: String, outDir: Path, rounds: Int): (Process, Path) = {
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent") ||
        a.startsWith("-Xmx"))
      .toSeq :+ "-Xmx4g"
    val outFile = outDir.resolve(s"bpworker-$w.report")
    val cmd = (javaBin +: jvmArgs) ++ Seq(
      "-cp", sys.props("java.class.path"), "graft.harness.CrossProcess", "bpworker",
      tableDir, outFile.toString, rounds.toString, w.toString,
      (7177L + 941L * w).toString)
    val pb = new ProcessBuilder(cmd.asJava)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val gobbler = new Thread(() => {
      val in = proc.getInputStream
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { System.err.write(buf, 0, n); n = in.read(buf) }
    }, s"xproc-bp-gobbler-$w")
    gobbler.setDaemon(true)
    gobbler.start()
    (proc, outFile)
  }

  /** Branch-WAP worker body: each round forks `w{w}r{i}`, stages one
    * update-if-greater merge of 1-3 shared-pool keys, audits the staged
    * values THROUGH the branch read surface, then publishes. A typed
    * refusal drops the branch and counts `refused`; anything else
    * non-published is a failure. Published stamps feed the max log the
    * orchestrator's oracle replays. */
  private def branchWapWorkerMain(args: Array[String]): Unit = {
    val Array(tableDir, outFile, rounds, worker, seed) = args.take(5)
    val w = worker.toInt
    val spark = localSession()
    val table = AcidTable.open(spark, tableDir)
    val rnd = new scala.util.Random(seed.toLong)
    val maxPublished = scala.collection.mutable.Map.empty[String, String]
    var published = 0
    var refused = 0
    var firstFailure: Option[String] = None
    try {
      (1 to rounds.toInt).foreach { i =>
        val name = s"w${w}r$i"
        val br = table.createBranch(name)
        val keys = (0 until 1 + rnd.nextInt(3))
          .map(_ => s"Key${rnd.nextInt(SkKeyPool)}").distinct
        val value = skValue(i, w)
        val rows = keys.map(k => org.apache.spark.sql.Row(k, skPartitionOf(k), value))
        val batch = spark.createDataFrame(java.util.Arrays.asList(rows: _*), recordSchema)
        br.mergeConditional(
          batch,
          matched = Seq(graft.lake.MergeMatchedClause.Update(
            Some(org.apache.spark.sql.functions.col("s.dataValue") >
              org.apache.spark.sql.functions.col("t.dataValue")),
            Seq("dataValue"))),
          notMatched = Seq(None),
          partitionsHint = Some(keys.map(skPartitionOf).distinct))
        // the audit: every staged key must read AT OR ABOVE this round's
        // stamp through the branch (the fork may legitimately hold higher)
        val seen = br.lookup(keys, Some(keys.map(skPartitionOf).distinct))
          .collect().map(r => r.getString(0) -> r.getString(2)).toMap
        keys.foreach { k =>
          if (seen.get(k).forall(_ < value) && firstFailure.isEmpty)
            firstFailure = Some(s"audit: $k below $value on branch $name")
        }
        try {
          table.publishBranch(name)
          published += 1
          keys.foreach { k =>
            if (maxPublished.get(k).forall(_ < value)) maxPublished(k) = value
          }
        } catch {
          case _: graft.lake.CommitConflictException =>
            refused += 1
            table.dropBranch(name)
        }
      }
    } catch {
      case e: Throwable => if (firstFailure.isEmpty) firstFailure = Some(e.toString)
    }
    val enc = (s: String) => URLEncoder.encode(s, "UTF-8")
    val lines = Seq(
      s"published\t$published",
      s"refused\t$refused",
      s"firstFailure\t${firstFailure.map(enc).getOrElse("-")}") ++
      maxPublished.toSeq.sortBy(_._1).map { case (k, v) => s"max\t${enc(k)}\t${enc(v)}" }
    Files.write(Paths.get(outFile),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
    sys.exit(if (firstFailure.isEmpty) 0 else 1)
  }

  private def parseBpReport(p: Path): Option[BpWorkerReport] =
    if (!Files.exists(p)) None
    else scala.util.Try {
      val dec = (s: String) => URLDecoder.decode(s, "UTF-8")
      val lines = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        .split("\n").toSeq.filter(_.nonEmpty).map(_.split("\t", -1).toSeq)
      val kv = lines.filter(_.head != "max").map(l => l(0) -> l(1)).toMap
      BpWorkerReport(
        published = kv("published").toInt,
        refused = kv("refused").toInt,
        firstFailure = Some(kv("firstFailure")).filter(_ != "-").map(dec),
        maxWritten = lines.filter(_.head == "max")
          .map(l => dec(l(1)) -> dec(l(2))).toMap)
    }.toOption

  private def branchWapJson(s: BranchWapSummary): String = {
    def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
    def arr(xs: Seq[String]) = xs.map(x => "\"" + esc(x) + "\"").mkString("[", ",", "]")
    s"""{"metric":"cross_process_branch_wap","ok":${s.ok},""" +
      s""""workers":${s.workers},"rounds":${s.rounds},""" +
      s""""published":${s.published},"refused":${s.refused},""" +
      f""""elapsedSec":${s.elapsedSec}%.1f,""" +
      s""""wrongRows":${arr(s.wrongRows)},"missingKeys":${arr(s.missingKeys)},""" +
      s""""extraKeys":${arr(s.extraKeys)},"malformedRows":${arr(s.malformedRows)},""" +
      s""""finalRows":${s.finalRows},"vacuumRuns":${s.vacuumRuns},""" +
      s""""vacuumErrors":${arr(s.vacuumErrors)},""" +
      s""""fsckFindings":${arr(s.fsckFindings)},""" +
      s""""workerFailures":${arr(s.workerFailures)}}"""
  }

  /** Same-key worker body: `txns` conditional merges of 1-3 random keys
    * from the shared pool, update-if-greater, with a monotone re-read
    * every 20 transactions. In `del` mode ~30% of transactions are
    * CONDITIONAL DV DELETES (`deleteWhere(pk IN keys AND dataValue <
    * stamp)` — morDeletes routes them through deletion vectors), and the
    * run ends with a SEALING pass: update-if-greater merges in the 900M+
    * stamp range over every touched key, so the global max stamp per key
    * is always a merge and the orchestrator's max-oracle stays exact.
    * Monotone re-reads are del-mode-off: a foreign conditional delete +
    * low re-insert legitimately regresses a key's visible value mid-run.
    */
  private def sameKeyWorkerMain(args: Array[String]): Unit = {
    val Array(tableDir, outFile, txns, worker, seed) = args.take(5)
    val del = args.lift(5).exists(_.toBoolean)
    val w = worker.toInt
    val spark = localSession()
    val table = AcidTable.open(spark, tableDir)
    val rnd = new scala.util.Random(seed.toLong)
    val maxWritten = scala.collection.mutable.Map.empty[String, String]
    val touched = scala.collection.mutable.Set.empty[String]
    var committed = 0
    var monotoneViolations = 0
    var firstFailure: Option[String] = None
    def mergeMax(keys: Seq[String], value: String): Unit = {
      val rows = keys.map(k => org.apache.spark.sql.Row(k, skPartitionOf(k), value))
      val batch = spark.createDataFrame(java.util.Arrays.asList(rows: _*), recordSchema)
      table.mergeConditional(
        batch,
        matched = Seq(graft.lake.MergeMatchedClause.Update(
          Some(org.apache.spark.sql.functions.col("s.dataValue") >
            org.apache.spark.sql.functions.col("t.dataValue")),
          Seq("dataValue"))),
        notMatched = Seq(None),
        partitionsHint = Some(keys.map(skPartitionOf).distinct))
      keys.foreach { k =>
        if (maxWritten.get(k).forall(_ < value)) maxWritten(k) = value
      }
      touched ++= keys
      committed += 1
    }
    try {
      (1 to txns.toInt).foreach { i =>
        val keys = (0 until 1 + rnd.nextInt(3))
          .map(_ => s"Key${rnd.nextInt(SkKeyPool)}").distinct
        if (del && rnd.nextInt(10) < 3) {
          // conditional DV delete: serializable inside the OCC loop (the
          // predicate re-evaluates against the current snapshot), so a
          // row at or above this stamp survives no matter the interleave
          import org.apache.spark.sql.functions.{col, lit}
          table.deleteWhere(
            col("primaryKeyValue").isin(keys: _*) &&
              col("dataValue") < lit(skValue(i, w)))
          touched ++= keys
          committed += 1
        } else mergeMax(keys, skValue(i, w))
        if (!del && i % 20 == 0 && maxWritten.nonEmpty) {
          // monotone re-read: this process's own writes can never regress
          val sample = rnd.shuffle(maxWritten.keys.toSeq).take(3)
          val seen = table.lookup(sample, Some(sample.map(skPartitionOf).distinct))
            .collect().map(r => r.getString(0) -> r.getString(2)).toMap
          sample.foreach { k =>
            val mine = maxWritten(k)
            seen.get(k) match {
              case Some(v) if v < mine =>
                monotoneViolations += 1
                if (firstFailure.isEmpty)
                  firstFailure = Some(s"monotonicity: $k read $v after writing $mine")
              case Some(_) => ()
              case None =>
                monotoneViolations += 1
                if (firstFailure.isEmpty)
                  firstFailure = Some(s"monotonicity: $k vanished after writing $mine")
            }
          }
        }
      }
      if (del) {
        // SEALING pass: every touched key gets an update-if-greater merge
        // stamped strictly above every mid-run stamp (900M+ range, still
        // the 9-digit format), so the global max stamp per key is a MERGE
        // and the final row is exactly this worker's (or a peer's) seal —
        // the commutative oracle the orchestrator replays
        touched.toSeq.sorted.grouped(25).zipWithIndex.foreach { case (g, gi) =>
          mergeMax(g, skValue(900000000 + gi, w))
        }
      }
    } catch {
      case e: Throwable => if (firstFailure.isEmpty) firstFailure = Some(e.toString)
    }
    val enc = (s: String) => URLEncoder.encode(s, "UTF-8")
    val lines = Seq(
      s"committed\t$committed",
      s"monotoneViolations\t$monotoneViolations",
      s"firstFailure\t${firstFailure.map(enc).getOrElse("-")}") ++
      maxWritten.toSeq.sortBy(_._1).map { case (k, v) => s"max\t${enc(k)}\t${enc(v)}" }
    Files.write(Paths.get(outFile),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
    sys.exit(if (firstFailure.isEmpty) 0 else 1)
  }

  private def parseSkReport(p: Path): Option[SkWorkerReport] =
    if (!Files.exists(p)) None
    else scala.util.Try {
      val dec = (s: String) => URLDecoder.decode(s, "UTF-8")
      val lines = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        .split("\n").toSeq.filter(_.nonEmpty).map(_.split("\t", -1).toSeq)
      val kv = lines.filter(_.head != "max").map(l => l(0) -> l(1)).toMap
      SkWorkerReport(
        committed = kv("committed").toInt,
        monotoneViolations = kv("monotoneViolations").toInt,
        firstFailure = Some(kv("firstFailure")).filter(_ != "-").map(dec),
        maxWritten = lines.filter(_.head == "max")
          .map(l => dec(l(1)) -> dec(l(2))).toMap)
    }.toOption

  private def sameKeyJson(s: SameKeySummary): String = {
    def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
    def arr(xs: Seq[String]) = xs.map(x => "\"" + esc(x) + "\"").mkString("[", ",", "]")
    s"""{"metric":"cross_process_samekey","ok":${s.ok},"crash":${s.crashMode},""" +
      s""""del":${s.delMode},""" +
      s""""workers":${s.workers},"committed":${s.committed},""" +
      f""""elapsedSec":${s.elapsedSec}%.1f,""" +
      s""""monotoneViolations":${s.monotoneViolations},""" +
      s""""wrongRows":${arr(s.wrongRows)},"missingKeys":${arr(s.missingKeys)},""" +
      s""""extraKeys":${arr(s.extraKeys)},"malformedRows":${arr(s.malformedRows)},""" +
      s""""victimWasAlive":${s.victimWasAlive},"victimRowsSeen":${s.victimRowsSeen},""" +
      s""""finalRows":${s.finalRows},"vacuumRuns":${s.vacuumRuns},""" +
      s""""vacuumErrors":${arr(s.vacuumErrors)},""" +
      s""""fsckFindings":${arr(s.fsckFindings)},""" +
      s""""workerFailures":${arr(s.workerFailures)}}"""
  }

  private def crashJson(s: CrashSummary): String = {
    def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
    def arr(xs: Seq[String]) = xs.map(x => "\"" + esc(x) + "\"").mkString("[", ",", "]")
    s"""{"metric":"cross_process_crash","ok":${s.ok},""" +
      s""""killedAtVersion":${s.killedAtVersion},""" +
      s""""victimWasAlive":${s.victimWasAlive},""" +
      s""""victimEvidenceVersion":${s.victimEvidenceVersion},"victimRowsSeen":${s.victimRowsSeen},""" +
      s""""survivorCommitted":${s.survivorCommitted},""" +
      s""""survivorFailedVerifications":${s.survivorFailedVerifications},""" +
      s""""survivorLost":${s.survivorLost.size},"survivorExtra":${s.survivorExtra.size},""" +
      s""""orphanKeyViolations":${arr(s.orphanKeyViolations)},""" +
      s""""fsckFindings":${arr(s.fsckFindings)},""" +
      s""""finalRows":${s.finalRows},"vacuumRuns":${s.vacuumRuns},""" +
      s""""vacuumErrors":${arr(s.vacuumErrors)},""" +
      s""""survivorFailures":${arr(s.survivorFailures)}}"""
  }

  /** Worker entry: run the standard harness over this process's key
    * subspace against the SHARED table, then write the line-oriented
    * report the orchestrator parses (URL-encoded fields — no JSON
    * dependency, no quoting pitfalls).
    */
  private def workerMain(args: Array[String]): Unit = {
    val Array(tableDir, outFile, txns, stride, offset, seed, writers, readers) =
      args.take(8)
    val useSqlText = args.lift(8).exists(_.toBoolean)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val result = new TransactionManager(spark, HarnessConfig(
      tablePath = tableDir,
      numberOfWriterThreads = writers.toInt,
      numberOfReaderThreads = readers.toInt,
      totalNumberOfTransactions = txns.toInt,
      randomSeed = seed.toLong,
      keyStride = stride.toInt,
      keyOffset = offset.toInt,
      useSqlText = useSqlText,
      openExistingTable = true)).run()
    val enc = (s: String) => URLEncoder.encode(s, "UTF-8")
    val lines = Seq(
      s"failedVerifications\t${result.failedVerifications}",
      s"hasFailedWriters\t${result.hasFailedWriters}",
      s"hasFailedReaders\t${result.hasFailedReaders}",
      s"committed\t${result.committedTransactions}",
      s"firstFailure\t${result.firstFailure.map(enc).getOrElse("-")}") ++
      result.modelRecords.map(r =>
        s"model\t${enc(r.primaryKeyValue)}\t${enc(r.partitionKeyValue)}\t" +
          Option(r.dataValue).map(v => "+" + enc(v)).getOrElse("-"))
    Files.write(Paths.get(outFile),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
    sys.exit(0)
  }

  private def parseReport(p: Path): Option[WorkerReport] =
    if (!Files.exists(p)) None
    else scala.util.Try {
      val dec = (s: String) => URLDecoder.decode(s, "UTF-8")
      val lines = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        .split("\n").toSeq.filter(_.nonEmpty).map(_.split("\t", -1).toSeq)
      val kv = lines.filter(_.head != "model").map(l => l(0) -> l(1)).toMap
      WorkerReport(
        failedVerifications = kv("failedVerifications").toInt,
        hasFailedWriters = kv("hasFailedWriters").toBoolean,
        hasFailedReaders = kv("hasFailedReaders").toBoolean,
        committed = kv("committed").toInt,
        firstFailure = Some(kv("firstFailure")).filter(_ != "-").map(dec),
        model = lines.filter(_.head == "model").map { l =>
          // dataValue field: "-" = SQL NULL, "+<urlenc>" = value
          val v = if (l(3) == "-") null else dec(l(3).stripPrefix("+"))
          Record(dec(l(1)), dec(l(2)), v)
        })
    }.toOption

  private def summaryJson(s: Summary): String = {
    def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
    def arr(xs: Seq[String]) = xs.map(x => "\"" + esc(x) + "\"").mkString("[", ",", "]")
    s"""{"metric":"cross_process_acid","ok":${s.ok},"workers":${s.workers},""" +
      s""""sqlText":${s.useSqlText},""" +
      f""""elapsedSec":${s.elapsedSec}%.1f,"txnPerSec":${s.txnPerSec}%.1f,""" +
      s""""committed":${s.committed},"failedVerifications":${s.failedVerifications},""" +
      s""""lostUpdates":${s.lostUpdates.size},"extraRows":${s.extraRows.size},""" +
      s""""finalRows":${s.finalRows},"modelRows":${s.modelRows},""" +
      s""""vacuumRuns":${s.vacuumRuns},"vacuumRemoved":${s.vacuumRemoved},""" +
      s""""fsckFindings":${arr(s.fsckFindings)},""" +
      s""""vacuumErrors":${arr(s.vacuumErrors)},""" +
      s""""workerFailures":${arr(s.workerFailures)}}"""
  }
}
