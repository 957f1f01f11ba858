package perfbench

import graft.lake.AcidTable

/** The public `AcidTable` conflict counters, read after a reset. */
final case class Conflicts(remerges: Long, redos: Long, fastForwards: Long, retryMs: Double)

object Conflicts {
  def read(): Conflicts = Conflicts(AcidTable.conflictRemergeCount, AcidTable.conflictRedoCount,
    AcidTable.fastForwardCount, AcidTable.conflictRemergeMs + AcidTable.conflictRedoMs)
}

/** What the counted part of a window measured: `txns` transactions in
  * the ops with ids `[firstOp, firstOp + ops)`, with Spark work tagged
  * `count:<layer>`. */
final case class Counted(
    window: Closed,
    firstOp: Long,
    ops: Long,
    txns: Long,
    userBytes: Long,
    dataBytes: Long,
    metaBytes: Long,
    files: Long,
    dir: DirState,
    liveBytes: Long,
    scans: Seq[ScanWork],
    rowsReturned: Long,
    vacuumRemoved: Seq[Int],
    conflicts: Conflicts)

/** Per-layer metrics shared by the workloads. Layers a workload does not
  * exercise read 0. */
object Layers {
  def common(ctx: Ctx, c: Counted, whole: Closed): Seq[Metric] = {
    val n = c.txns.toDouble
    val spans = ctx.tracer.summary(s => s.op >= c.firstOp && s.op < c.firstOp + c.ops)
    def total(name: String): Double = spans.get(name).map(_._2).getOrElse(0.0)
    def mean(name: String): Double = spans.get(name).map(x => x._2 / x._1).getOrElse(0.0)
    def count(name: String): Int = spans.get(name).map(_._1).getOrElse(0)
    val sc = ctx.spark.sparkContext
    val commitWork = ctx.counters.sum(sc)(_ == "count:commit")
    val txnWork = ctx.counters.sum(sc)(t => Set("count:open", "count:commit", "count:vacuum", "count:harness")(t))
    val readWork = ctx.counters.sum(sc)(t => t == "count:lookup" || t == "count:query")
    val commits = math.max(1, count("lake.commit"))
    val reads = c.scans.size
    val k = c.conflicts
    def safe(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    Seq(
      Metric("lake.open_ms", mean("lake.open"), "ms"),
      Metric("lake.commit_local_ms", (total("lake.commit") - commitWork.jobMs) / commits, "ms"),
      Metric("lake.commit_spark_ms", commitWork.jobMs.toDouble / commits, "ms"),
      Metric("lake.lookup_plan_ms", mean("lake.lookup_plan"), "ms"),
      Metric("lake.lookup_exec_ms", mean("lake.lookup_exec"), "ms"),
      Metric("lake.query_plan_ms", mean("lake.query_plan"), "ms"),
      Metric("lake.query_exec_ms", mean("lake.query_exec"), "ms"),
      Metric("lake.vacuum_ms", mean("lake.vacuum"), "ms"),
      Metric("lake.vacuum_files_removed", safe(c.vacuumRemoved.sum, c.vacuumRemoved.size), "count"),
      Metric("lake.conflict_remerges_per_txn", k.remerges / n, "count"),
      Metric("lake.conflict_redos_per_txn", k.redos / n, "count"),
      Metric("lake.fast_forwards_per_txn", k.fastForwards / n, "count"),
      Metric("lake.conflict_retry_ms_per_txn", k.retryMs / n, "ms"),
      Metric("lake.useful_commit_ratio", n / (n + k.remerges + k.redos), "ratio"),
      Metric("spark.jobs_per_txn", txnWork.jobs / n, "count"),
      Metric("spark.stages_per_txn", txnWork.stages / n, "count"),
      Metric("spark.tasks_per_txn", txnWork.tasks / n, "count"),
      Metric("spark.task_ms_per_txn", txnWork.taskMs / n, "ms"),
      Metric("spark.shuffle_bytes_per_txn", txnWork.shuffleBytes / n, "B"),
      Metric("spark.output_bytes_per_txn", txnWork.outputBytes / n, "B"),
      Metric("spark.jobs_per_read", safe(readWork.jobs, reads), "count"),
      Metric("spark.planning_ms_per_query", safe(c.scans.map(_.planningMs).sum, reads), "ms"),
      Metric("spark.rows_read_per_row_returned",
        safe(c.scans.map(_.rowsRead).sum.toDouble, c.rowsReturned), "ratio"),
      Metric("spark.files_read_per_scan", safe(c.scans.map(_.files).sum.toDouble, reads), "count"),
      Metric("fs.data_bytes_per_txn", c.dataBytes / n, "B"),
      Metric("fs.meta_bytes_per_txn", c.metaBytes / n, "B"),
      Metric("fs.files_per_txn", c.files / n, "count"),
      Metric("fs.live_files", c.dir.files.size.toDouble, "count"),
      Metric("jvm.gc_ms_per_txn", c.window.gcMs / n, "ms"),
      Metric("jvm.jit_ms_in_window", whole.jitMs, "ms"))
  }
}
