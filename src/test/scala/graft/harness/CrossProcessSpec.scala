package graft.harness

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Cross-PROCESS OCC/vacuum proof (round-16 verdict #1), CI-sized: two
  * real writer JVMs (forked with this test JVM's classpath) run the
  * reference workload over disjoint key subspaces against ONE shared
  * table directory while this process vacuums it concurrently — so the
  * create-exclusive publish, the filesystem version probe, and the GC
  * quarantine-recheck heal are exercised across address spaces, where no
  * in-process lock or cache can mask a protocol hole.
  *
  * The full-volume run (2 × 500 txns — the reference's 1000) is
  * `sbt "runMain graft.harness.CrossProcess"`; this spec keeps the same
  * shape at 2 × 40.
  */
class CrossProcessSpec extends AnyFunSuite {

  test("two writer JVMs + concurrent vacuum: zero lost updates, clean fsck") {
    val dir = Files.createTempDirectory("xproc-spec-").resolve("records").toString
    val summary = CrossProcess.orchestrate(
      TestSpark.spark, dir,
      txnsPerWorker = 40,
      workers = 2,
      writersPerWorker = 2,
      readersPerWorker = 1,
      vacuumPeriodMs = 750,
      // retention contract: grace must exceed the longest in-flight
      // operation. Loaded CI ambience has shown 5-6 s writer stalls and
      // reads that outlive them — 20 s keeps the spec's slack honest
      // (the full-volume run exercises tighter windows on an idle box)
      vacuumGraceMs = 20000,
      workerTimeoutMinutes = 15)
    info(s"committed=${summary.committed} vacuumRuns=${summary.vacuumRuns} " +
      s"vacuumRemoved=${summary.vacuumRemoved} finalRows=${summary.finalRows}")
    assert(summary.workerFailures.isEmpty, s"worker failures: $summary")
    assert(summary.failedVerifications == 0,
      s"snapshot verification failures: $summary")
    assert(summary.committed == 80, s"not all txns committed: $summary")
    assert(summary.lostUpdates.isEmpty,
      s"LOST UPDATES (model rows missing from table): ${summary.lostUpdates}")
    assert(summary.extraRows.isEmpty,
      s"unexplained table rows (resurrection/duplicate): ${summary.extraRows}")
    assert(summary.fsckFindings.isEmpty, s"fsck not clean: ${summary.fsckFindings}")
    assert(summary.vacuumErrors.isEmpty, s"vacuum threw: ${summary.vacuumErrors}")
    // the race window was real: the GC loop ran against live foreign-JVM
    // writers (file removal depends on timing and is logged, not asserted)
    assert(summary.vacuumRuns >= 3, s"vacuum loop barely ran: $summary")
  }

  test("SAME-KEY contention: two JVMs remerge one key pool, exact max-oracle") {
    val dir = Files.createTempDirectory("xproc-sk-spec-").resolve("records").toString
    val s = CrossProcess.orchestrateSameKey(
      TestSpark.spark, dir,
      txnsPerWorker = 40,
      workers = 2,
      vacuumPeriodMs = 750,
      vacuumGraceMs = 20000,
      workerTimeoutMinutes = 15)
    info(s"committed=${s.committed} finalRows=${s.finalRows} vacuumRuns=${s.vacuumRuns}")
    assert(s.workerFailures.isEmpty, s"worker failures: $s")
    assert(s.committed == 80, s"not all merges committed: $s")
    // the exact oracle: every key's final value must equal the
    // lexicographic MAX over both processes' write logs — a same-key
    // cross-process re-merge that dropped or reordered an update shows
    // here as a wrong value, a missing key, or an unexplained key
    assert(s.wrongRows.isEmpty, s"same-key merge produced wrong winners: ${s.wrongRows}")
    assert(s.missingKeys.isEmpty, s"keys lost under contention: ${s.missingKeys}")
    assert(s.extraKeys.isEmpty, s"unexplained keys: ${s.extraKeys}")
    assert(s.malformedRows.isEmpty, s"torn rows: ${s.malformedRows}")
    assert(s.monotoneViolations == 0,
      s"a worker read its own write regressed mid-run: $s")
    assert(s.fsckFindings.isEmpty, s"fsck not clean: ${s.fsckFindings}")
    assert(s.vacuumErrors.isEmpty, s"vacuum threw: ${s.vacuumErrors}")
    assert(s.vacuumRuns >= 3, s"vacuum loop barely ran: $s")
  }

  test("SAME-KEY crash leg: SIGKILL mid-contention, survivor's max-oracle holds") {
    val dir = Files.createTempDirectory("xproc-skcrash-").resolve("records").toString
    val s = CrossProcess.orchestrateSameKeyCrash(
      TestSpark.spark, dir,
      txnsPerWorker = 40,
      vacuumPeriodMs = 750,
      vacuumGraceMs = 20000,
      workerTimeoutMinutes = 15)
    info(s"committed=${s.committed} finalRows=${s.finalRows} " +
      s"victimRowsSeen=${s.victimRowsSeen} vacuumRuns=${s.vacuumRuns}")
    assert(s.workerFailures.isEmpty, s"survivor failures: $s")
    assert(s.committed == 40, s"survivor did not finish its volume: $s")
    // one-sided exactness: survivor-stamped final values must EQUAL the
    // survivor's logged max; victim-stamped values on survivor keys must
    // BEAT it; no survivor key may vanish
    assert(s.wrongRows.isEmpty, s"survivor oracle violated after crash: ${s.wrongRows}")
    assert(s.missingKeys.isEmpty, s"survivor keys lost after crash: ${s.missingKeys}")
    assert(s.malformedRows.isEmpty, s"torn rows after crash: ${s.malformedRows}")
    assert(s.monotoneViolations == 0, s"survivor saw its writes regress: $s")
    assert(s.fsckFindings.isEmpty, s"fsck not clean after crash: ${s.fsckFindings}")
    assert(s.vacuumErrors.isEmpty, s"vacuum threw: ${s.vacuumErrors}")
    assert(s.victimWasAlive, s"victim exited before the kill: $s")
    assert(s.victimRowsSeen > 0, s"victim left no committed rows: $s")
  }

  test("SAME-KEY + DELETE contention: DV/tombstone/resurrection on one key pool") {
    // round-18 (r17 verdict #4): ~30% of transactions are CONDITIONAL DV
    // deletes (morDeletes) on the SAME keys both JVMs merge — deletion
    // vectors, tombstone materialization at the next touch, and key
    // resurrection all contend across address spaces. The sealing pass
    // keeps the max-oracle exact: final state must equal the per-key max
    // over both write logs, row for row.
    val dir = Files.createTempDirectory("xproc-skdel-spec-").resolve("records").toString
    val s = CrossProcess.orchestrateSameKey(
      TestSpark.spark, dir,
      txnsPerWorker = 40,
      workers = 2,
      vacuumPeriodMs = 750,
      vacuumGraceMs = 20000,
      workerTimeoutMinutes = 15,
      del = true)
    info(s"committed=${s.committed} finalRows=${s.finalRows} vacuumRuns=${s.vacuumRuns}")
    assert(s.delMode)
    assert(s.workerFailures.isEmpty, s"worker failures: $s")
    // committed includes each worker's sealing merges on top of its 40
    assert(s.committed >= 80, s"not all transactions committed: $s")
    assert(s.wrongRows.isEmpty, s"delete/merge contention produced wrong winners: ${s.wrongRows}")
    assert(s.missingKeys.isEmpty, s"keys lost under delete contention: ${s.missingKeys}")
    assert(s.extraKeys.isEmpty, s"unexplained keys (undead deletes): ${s.extraKeys}")
    assert(s.malformedRows.isEmpty, s"torn rows: ${s.malformedRows}")
    assert(s.fsckFindings.isEmpty, s"fsck not clean: ${s.fsckFindings}")
    assert(s.vacuumErrors.isEmpty, s"vacuum threw: ${s.vacuumErrors}")
    assert(s.vacuumRuns >= 3, s"vacuum loop barely ran: $s")
  }

  test("SAME-KEY + DELETE crash leg: SIGKILL mid-delete-contention, seal oracle holds") {
    val dir = Files.createTempDirectory("xproc-skdelcrash-").resolve("records").toString
    val s = CrossProcess.orchestrateSameKeyCrash(
      TestSpark.spark, dir,
      txnsPerWorker = 40,
      vacuumPeriodMs = 750,
      vacuumGraceMs = 20000,
      workerTimeoutMinutes = 15,
      del = true)
    info(s"committed=${s.committed} finalRows=${s.finalRows} " +
      s"victimRowsSeen=${s.victimRowsSeen} vacuumRuns=${s.vacuumRuns}")
    assert(s.delMode && s.crashMode)
    assert(s.workerFailures.isEmpty, s"survivor failures: $s")
    assert(s.committed >= 40, s"survivor did not finish its volume: $s")
    // survivor seals its touched keys ABOVE every victim stamp, so each
    // such key's final value must EQUAL the survivor's logged max even
    // though the victim's deletes died mid-flight
    assert(s.wrongRows.isEmpty, s"survivor seal oracle violated: ${s.wrongRows}")
    assert(s.missingKeys.isEmpty, s"survivor keys lost after crash: ${s.missingKeys}")
    assert(s.malformedRows.isEmpty, s"torn rows after crash: ${s.malformedRows}")
    assert(s.fsckFindings.isEmpty, s"fsck not clean after crash: ${s.fsckFindings}")
    assert(s.vacuumErrors.isEmpty, s"vacuum threw: ${s.vacuumErrors}")
    assert(s.victimWasAlive, s"victim exited before the kill: $s")
    assert(s.victimRowsSeen > 0, s"victim left no committed evidence: $s")
  }

  test("SIGKILL of one writer JVM mid-run: survivor exact, no torn rows, clean fsck") {
    val dir = Files.createTempDirectory("xproc-crash-").resolve("records").toString
    val s = CrossProcess.orchestrateCrash(
      TestSpark.spark, dir,
      txnsPerWorker = 40,
      vacuumPeriodMs = 750,
      vacuumGraceMs = 20000,
      workerTimeoutMinutes = 15)
    info(s"killedAtVersion=${s.killedAtVersion} survivorCommitted=${s.survivorCommitted} " +
      s"finalRows=${s.finalRows} vacuumRuns=${s.vacuumRuns}")
    assert(s.survivorFailures.isEmpty, s"survivor failures: $s")
    assert(s.survivorFailedVerifications == 0, s"survivor verifications failed: $s")
    assert(s.survivorCommitted == 40, s"survivor did not finish its volume: $s")
    assert(s.survivorLost.isEmpty, s"survivor rows LOST after foreign crash: ${s.survivorLost}")
    assert(s.survivorExtra.isEmpty, s"unexplained survivor-subspace rows: ${s.survivorExtra}")
    // the dead worker's values are unknowable (its oracle died with it);
    // its rows' SHAPE is the atomicity witness — partition must equal the
    // pure function of the PK, or a commit tore
    assert(s.orphanKeyViolations.isEmpty, s"torn rows: ${s.orphanKeyViolations}")
    assert(s.fsckFindings.isEmpty, s"fsck not clean after crash: ${s.fsckFindings}")
    assert(s.vacuumErrors.isEmpty, s"vacuum threw during crash run: ${s.vacuumErrors}")
    assert(s.vacuumRuns >= 3, s"vacuum loop barely ran: $s")
    // the kill's evidence: SIGKILL hit a LIVE process (it did not merely
    // exit first) and the dead worker had committed rows before it — both
    // required, or the run degenerates to a no-crash test. The rows are
    // those the orchestrator saw in a snapshot before the kill: the
    // victim's own later deletes may leave none in the final snapshot
    assert(s.victimWasAlive, s"victim exited before the kill — nothing was crashed: $s")
    assert(s.victimEvidenceVersion >= 0 && s.victimEvidenceVersion <= s.killedAtVersion,
      s"victim committed nothing before the kill: $s")
  }

  test("BRANCH WAP contention: two JVMs race fork/stage/audit/publish, CAS serializes") {
    val dir = Files.createTempDirectory("xproc-bp-spec-").resolve("records").toString
    val s = CrossProcess.orchestrateBranchWap(
      TestSpark.spark, dir,
      rounds = 10,
      workers = 2,
      vacuumPeriodMs = 750,
      vacuumGraceMs = 20000,
      workerTimeoutMinutes = 15)
    info(s"published=${s.published} refused=${s.refused} finalRows=${s.finalRows} " +
      s"vacuumRuns=${s.vacuumRuns}")
    assert(s.workerFailures.isEmpty, s"worker failures: $s")
    // every round linearizes: published or typed-refused, nothing else
    assert(s.published + s.refused == 20, s"rounds lost: $s")
    assert(s.published >= 2, s"publishes barely happened: $s")
    // exact oracle over the PUBLISHED rounds only: a refused publish that
    // leaked staged state would surface as a wrong value or an extra key
    assert(s.wrongRows.isEmpty, s"published state wrong: ${s.wrongRows}")
    assert(s.missingKeys.isEmpty, s"published keys lost: ${s.missingKeys}")
    assert(s.extraKeys.isEmpty, s"refused/staged state leaked: ${s.extraKeys}")
    assert(s.malformedRows.isEmpty, s"torn rows: ${s.malformedRows}")
    assert(s.fsckFindings.isEmpty, s"fsck not clean: ${s.fsckFindings}")
    assert(s.vacuumErrors.isEmpty, s"vacuum threw: ${s.vacuumErrors}")
  }
}
