package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** Spans recorded from the benchmark's own code around each public call
  * into the program: name, start, end, parent and op id. They stay in
  * memory and are written out when the run ends. With tracing off,
  * [[span]] runs its body and records nothing.
  */
final case class Span(id: Int, parent: Int, op: Long, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  private var op = -1L

  def beginOp(id: Long): Unit = op = id

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(0)
      val t0 = System.nanoTime()
      stack.push(id)
      try body
      finally {
        stack.pop()
        spans += Span(id, parent, op, name, t0, System.nanoTime())
      }
    }

  /** Per span name: (count, total ms, self ms). Self time is a span's
    * duration minus the time its child spans cover. */
  def summary(from: Span => Boolean): Map[String, (Int, Double, Double)] = {
    val chosen = spans.filter(from)
    val childMs = chosen.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    chosen.groupBy(_.name).map { case (n, ss) =>
      n -> ((ss.size, ss.map(_.ms).sum, ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum))
    }
  }

  def writeJsonl(f: File): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } finally w.close()
  }
}

/** Spark work attributed to the benchmark phase and layer that caused it.
  * Every job carries the submitting thread's `perfbench.tag` local
  * property, so attribution stays exact although the listener bus
  * delivers events late. */
final class SparkCounters extends SparkListener {
  final class Work {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var taskMs = 0L
    var jobMs = 0L; var shuffleBytes = 0L; var outputBytes = 0L
  }
  private val byTag = mutable.HashMap.empty[String, Work]
  private val jobTag = mutable.HashMap.empty[Int, (String, Long)]
  private val stageTag = mutable.HashMap.empty[Int, String]

  private def work(tag: String): Work = byTag.getOrElseUpdate(tag, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SparkCounters.Tag)))
      .getOrElse("untagged")
    jobTag(e.jobId) = (tag, e.time)
    e.stageIds.foreach(stageTag(_) = tag)
    work(tag).jobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTag.remove(e.jobId).foreach { case (tag, t0) => work(tag).jobMs += e.time - t0 }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    work(stageTag.getOrElse(e.stageInfo.stageId, "untagged")).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work(stageTag.getOrElse(e.stageId, "untagged"))
    w.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      w.taskMs += m.executorRunTime
      w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      w.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Sum of the work of every tag `pick` accepts, after the bus drained. */
  def sum(sc: SparkContext)(pick: String => Boolean): Work = {
    org.apache.spark.perfbench.BusShim.drain(sc)
    synchronized {
      val s = new Work
      byTag.foreach { case (t, w) if pick(t) =>
        s.jobs += w.jobs; s.stages += w.stages; s.tasks += w.tasks; s.taskMs += w.taskMs
        s.jobMs += w.jobMs; s.shuffleBytes += w.shuffleBytes; s.outputBytes += w.outputBytes
        case _ =>
      }
      s
    }
  }
}

object SparkCounters {
  val Tag = "perfbench.tag"
  def tag(sc: SparkContext, t: String): Unit = sc.setLocalProperty(Tag, t)
}

/** Scan-side work of one finished query, read from its executed plan. */
final case class ScanWork(files: Long, rowsRead: Long, planningMs: Double)

object ScanWork {
  def of(df: DataFrame): ScanWork = of(df.queryExecution)

  def of(qe: org.apache.spark.sql.execution.QueryExecution): ScanWork = {
    var files = 0L
    var rows = 0L
    def walk(p: SparkPlan): Unit = {
      p match {
        case s: org.apache.spark.sql.execution.FileSourceScanLike =>
          files += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          rows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
        case _ =>
      }
    }
    walk(qe.executedPlan)
    val phases = qe.tracker.phases
    val planning = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs.toDouble).sum
    ScanWork(files, rows, planning)
  }
}

/** Process-level readings: CPU, GC, JIT, heap, threads, host ambience. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Heap still in use after full collections. */
  def retainedHeapMb: Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def sparkThreads: Int = Thread.getAllStackTraces.keySet.asScala
    .count(t => t.getName.startsWith("Executor task launch") || t.getName.contains("spark"))

  /** Host CPU ticks (steal, iowait, total) from `/proc/stat`, read only;
    * zeros where the file does not exist. */
  def hostTicks: (Long, Long, Long) = scala.util.Try {
    val cpu = Files.readAllLines(new File("/proc/stat").toPath).asScala
      .find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
    (if (cpu.length > 7) cpu(7) else 0L, cpu(4), cpu.sum)
  }.getOrElse((0L, 0L, 0L))

  def loadAvg: Double = os.getSystemLoadAverage
}

/** Bytes on disk under a table directory, split into data files and
  * metadata files. */
final case class DirState(files: Map[String, Long]) {
  def bytes: Long = files.values.sum
}

object DirState {
  def walk(root: Path): DirState = {
    val m = mutable.HashMap.empty[String, Long]
    val s = Files.walk(root)
    try s.iterator().asScala.foreach { p =>
      val a = Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
      if (a.isRegularFile) m(root.relativize(p).toString) = a.size()
    } finally s.close()
    DirState(m.toMap)
  }
  def isData(rel: String): Boolean = rel.endsWith(".parquet")
}

/** Files the table directory gained between walks, counting files that
  * vacuum later removed: each walk before a vacuum books the files that
  * appeared since the last walk. */
final class WriteLedger(root: Path) {
  private var known = DirState.walk(root)
  var dataBytes = 0L
  var metaBytes = 0L
  var files = 0L

  def book(): Unit = {
    val now = DirState.walk(root)
    now.files.foreach { case (f, size) =>
      if (known.files.get(f) != Some(size)) {
        files += 1
        if (DirState.isData(f)) dataBytes += size else metaBytes += size
      }
    }
    known = now
  }

  /** Books new files, runs `vacuum`, and forgets what it removed. */
  def aroundVacuum(vacuum: => Unit): Unit = {
    book()
    vacuum
    known = DirState.walk(root)
  }

  def current: DirState = known
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** A minimal JSON writer for the result and span files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}
