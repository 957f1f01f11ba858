package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload hands back. `endToEnd` is printed by an untraced run,
  * `perLayer` by a traced one; `info` is printed beside the result and is
  * not a metric (operation counts, ambience, warm-up curve). */
final case class Result(
    attempted: Map[String, Long],
    endToEnd: Seq[Metric],
    perLayer: Seq[Metric],
    info: Seq[(String, Any)])

/** A mismatch between the program's output and the benchmark's model. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(ok: Boolean, what: => String): Unit = if (!ok) throw new CheckFailed(what)
}

final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Double,
    val tracer: Tracer,
    val counters: SparkCounters,
    val dir: File) {
  def trace: Boolean = tracer.enabled
  /** Attribute the Spark jobs this thread submits from now on. */
  def tag(t: String): Unit = SparkCounters.tag(spark.sparkContext, t)
  def span[A](name: String)(body: => A): A = tracer.span(name)(body)
  /** Seconds since JVM start at the end of each named phase. */
  val marks = mutable.LinkedHashMap.empty[String, Double]
  def mark(phase: String): Unit =
    marks(phase) = (System.currentTimeMillis() - Jvm.jvmStartMs) / 1000.0
}

/** A timed window's deltas: wall seconds, process CPU, GC and JIT
  * compilation time, and host CPU ticks (steal, iowait, all). */
final case class Closed(seconds: Double, cpuMs: Double, gcMs: Double,
    jitMs: Double, stealTicks: Long, iowaitTicks: Long, totalTicks: Long)

/** Readings taken at the start of a timed window; [[close]] turns them
  * into the window's deltas. */
final class Window {
  private val wall0 = System.nanoTime()
  private val cpu0 = Jvm.cpuNs
  private val gc0 = Jvm.gcMs
  private val jit0 = Jvm.jitMs
  private val (steal0, iowait0, total0) = Jvm.hostTicks

  def elapsedS: Double = (System.nanoTime() - wall0) / 1e9

  def close(): Closed = {
    val (s, i, t) = Jvm.hostTicks
    Closed(elapsedS, (Jvm.cpuNs - cpu0) / 1e6, (Jvm.gcMs - gc0).toDouble,
      (Jvm.jitMs - jit0).toDouble, s - steal0, i - iowait0, t - total0)
  }
}

object Window {
  /** The ambience of a closed window, reported beside the metrics. */
  def ambience(w: Closed): Seq[(String, Any)] = Seq(
    "window_s" -> w.seconds,
    "host_steal_ticks" -> w.stealTicks,
    "host_iowait_ticks" -> w.iowaitTicks,
    "host_ticks" -> w.totalTicks,
    "load_avg" -> Jvm.loadAvg,
    "cpu_ms" -> w.cpuMs,
    "gc_ms" -> w.gcMs,
    "jit_ms" -> w.jitMs,
    "spark_threads" -> Jvm.sparkThreads)
}

/** One benchmark run in a fresh JVM:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --dir D --out F --cpus C`.
  * Tables live under D; the result is written to F as one JSON object.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val dir = new File(opts("dir"))
    val out = new File(opts("out"))
    val cpus = opts.getOrElse("cpus", "4").toInt
    val trace = opts.getOrElse("trace", "0") == "1"

    val spark = graft.Sessions.local(cpus, "perfbench")
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val sessionReadyS = (System.currentTimeMillis() - Jvm.jvmStartMs) / 1000.0
    val ctx = new Ctx(spark, opts("seed").toLong, opts("seconds").toDouble,
      new Tracer(trace), counters, dir)
    ctx.mark("session")
    val code =
      try {
        val r = workload match {
          case "oltp_keyed" => OltpKeyed.run(ctx, sessionReadyS)
          case "bulk_ingest" => BulkIngest.run(ctx, sessionReadyS)
          case "acid_verify" => AcidVerify.run(ctx, sessionReadyS)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        ctx.mark("checked")
        if (trace) ctx.tracer.writeJsonl(new File(out.getParentFile, "spans.jsonl"))
        val metrics = if (trace) r.perLayer else r.endToEnd
        val json = Json.obj(Seq(
          "correct" -> true,
          "attempted" -> r.attempted.values.sum,
          "failed" -> 0L,
          "metrics" -> metrics.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap,
          "info" -> (Seq[(String, Any)]("phases_s" -> ctx.marks.toMap, "attempted_by_op" -> r.attempted,
            "failed_by_op" -> r.attempted.map { case (k, _) => k -> 0L }) ++ r.info ++
            spanSummary(ctx.tracer)).toMap))
        val w = new java.io.PrintWriter(out, "UTF-8")
        try w.println(json) finally w.close()
        0
      } catch {
        case e: CheckFailed =>
          System.err.println(s"perfbench: correctness check failed: ${e.getMessage}")
          3
        case e: Throwable =>
          System.err.println(s"perfbench: workload $workload failed: $e")
          e.printStackTrace()
          4
      }
    spark.stop()
    System.exit(code)
  }

  /** Per span name over the whole run: count, total ms and self ms (the
    * time no child span covers). Traced runs only. */
  private def spanSummary(t: Tracer): Seq[(String, Any)] =
    if (!t.enabled) Nil
    else Seq("spans" -> t.summary(_ => true).map { case (n, (c, total, self)) =>
      n -> Map("count" -> c, "total_ms" -> total, "self_ms" -> self)
    })

  /** Median of `n` repeated set-ups, each timed from its start. */
  def medianSetup(n: Int)(setup: Int => Unit): Double = {
    val times = mutable.ArrayBuffer.empty[Double]
    for (i <- 0 until n) {
      val t0 = System.nanoTime()
      setup(i)
      times += (System.nanoTime() - t0) / 1e9
    }
    Stats.median(times.toSeq)
  }
}
