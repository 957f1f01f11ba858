package graft.lake

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.Assertions._

import graft.TestSpark

/** The two read routes of a table, for specs that hold the driver route
  * to the distributed scan's answer. */
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
    val sc = TestSpark.spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    sc.addSparkListener(listener)
    try {
      // listener events are async: let earlier jobs' events drain before
      // counting, and this body's arrive before reading the counter
      Thread.sleep(500)
      jobs.set(0)
      body
      Thread.sleep(500)
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }
}
