package graft.lake

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.BusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.Assertions._

import graft.TestSpark

/** The two read routes of a table, for specs that hold the driver route
  * to the distributed scan's answer, and the Spark work a body runs. */
object Routes {

  def isDriverRead(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LocalRelation]

  /** The rows of `read`, ordered by `t`'s PK, asserted equal on both
    * routes: as the table gates it (`driver` says whether that is the
    * driver read) and with the fast path switched off (the scan). */
  def bothRoutes(t: AcidTable, driver: Boolean = true)(read: => DataFrame): Seq[Row] = {
    def run(local: Boolean): (Boolean, Seq[Row]) = {
      AcidTable.localCommitEnabled = local
      try {
        val df = read
        (isDriverRead(df), df.orderBy(t.pkCol).collect().toSeq)
      } finally AcidTable.localCommitEnabled = true
    }
    val (onDriver, rows) = run(local = true)
    val (scanOnDriver, scanRows) = run(local = false)
    assert(onDriver == driver, s"driver route taken: $onDriver, expected $driver")
    assert(!scanOnDriver, "the switched-off fast path still read on the driver")
    assert(rows == scanRows, s"driver route $rows, scan $scanRows")
    rows
  }

  /** Spark jobs started by `body`. */
  def jobsOf(body: => Unit): Int = {
    val jobs = new AtomicInteger
    during(new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    })(body)
    jobs.get()
  }

  /** The output bytes of each Spark task `body` ran, one entry per task:
    * its size is the task count, its non-zero entries the writing tasks. */
  def tasksOf(body: => Unit): Seq[Long] = {
    val written = new ConcurrentLinkedQueue[Long]
    during(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        written.add(Option(e.taskMetrics).fold(0L)(_.outputMetrics.bytesWritten))
    })(body)
    written.asScala.toSeq
  }

  /** Runs `body` with `listener` registered and hears exactly its events:
    * the bus is drained before the listener is added, so no earlier event
    * reaches it, and again after `body`, so every event it posted has. */
  private def during(listener: SparkListener)(body: => Unit): Unit = {
    val sc = TestSpark.spark.sparkContext
    BusShim.drain(sc)
    sc.addSparkListener(listener)
    try { body; BusShim.drain(sc) } finally sc.removeSparkListener(listener)
  }
}
