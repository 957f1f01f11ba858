package graft.harness

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.core._
import graft.lake.{AcidSql, AcidTable}

/** Outcome of a harness run (`TransactionManager.java:39-68` return path,
  * with the `&&`-accumulation bug §8-B7 fixed: any thread failure is
  * reported, not masked).
  */
final case class HarnessResult(
    failedVerifications: Int,
    hasFailedWriters: Boolean,
    hasFailedReaders: Boolean,
    committedTransactions: Int,
    finalRowCount: Long,
    modelRowCount: Int,
    firstFailure: Option[String] = None,
    // the serial-replay model's final rows (this run's key subspace only)
    // — what a cross-process orchestrator merges across workers for the
    // exact global lost-update check (CrossProcess.scala)
    modelRecords: Seq[Record] = Nil)

object TransactionManager {

  /** Transient = worth re-applying: an OCC conflict that exhausted
    * [[AcidTable]]'s internal retries, or a distributed-execution failure
    * (task/stage death surfaces as `SparkException`). Everything else —
    * analysis errors, bad arguments, assertion failures — is a logic
    * error and must fail on the first attempt (reference A10 intent,
    * `TransactionWriter.java:22-28,189-195`).
    *
    * A `SparkException` alone is NOT proof of transience: a deterministic
    * executor-side logic error (a bad expression, a data bug inside a
    * task) surfaces wrapped in one too, and re-applying it three times
    * just repeats the failure. Walk the cause chain — a deterministic
    * root cause (illegal argument/state, assertion, analysis error,
    * arithmetic/NPE/cast) marks the whole failure non-transient.
    */
  private[graft] def isTransient(e: Throwable): Boolean = e match {
    case _: graft.lake.CommitConflictException => true
    case se: org.apache.spark.SparkException =>
      var cause = se.getCause
      var deterministic = false
      var hops = 0
      while (cause != null && hops < 20 && !deterministic) {
        deterministic = cause match {
          case _: IllegalArgumentException | _: IllegalStateException |
               _: AssertionError | _: ArithmeticException |
               _: NullPointerException | _: ClassCastException |
               _: org.apache.spark.sql.AnalysisException => true
          case _ => false
        }
        cause = cause.getCause
        hops += 1
      }
      !deterministic
    case _ => false
  }

  /** The writer's A9 retry wrapper: re-run `body` up to `maxRetries`
    * additional times, but only for [[isTransient]] failures.
    */
  private[graft] def retryTransient[A](maxRetries: Int, onRetry: Throwable => Unit)(body: => A): A = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: Throwable if attempt < maxRetries && isTransient(e) =>
          attempt += 1
          onRetry(e)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** The concurrent ACID verification harness — N writer threads applying
  * random transactions through [[AcidTable]] while M reader threads
  * snapshot-read and verify against the in-memory transaction-log oracle
  * (reference `writer/TransactionManager.java`, `writer/TransactionWriter.java`,
  * `reader/ReaderThread.java`; SURVEY §7 M4).
  *
  * Driver-side orchestration is plain JVM threads over cloned sessions
  * (`TransactionManager.java:95-101` shape). The data path is the
  * table's: a table within the fast-path budget commits and snapshot-reads
  * on the driver with no Spark job, and a larger one commits and scans
  * through distributed Spark jobs.
  */
final class TransactionManager(spark: SparkSession, config: HarnessConfig) {

  private val recordSchema = StructType(Seq(
    StructField("primaryKeyValue", StringType, nullable = false),
    StructField("partitionKeyValue", StringType, nullable = false),
    StructField("dataValue", StringType, nullable = true)))

  /** Does this run's oracle cover `pk`? Always under the single-process
    * default; under a cross-process key-subspace split (keyStride > 1)
    * only the `Record{n}` with n % stride == offset — a foreign worker's
    * rows are invisible to this JVM's log and must be excluded from both
    * the reader sweep and the final-count check.
    */
  private def ownsKey(pk: String): Boolean =
    config.keyStride <= 1 || scala.util.Try(
      pk.stripPrefix("Record").toInt % config.keyStride == config.keyOffset
    ).getOrElse(false)

  def run(): HarnessResult = {
    val table =
      if (config.openExistingTable) AcidTable.open(spark, config.tablePath)
      else AcidTable.create(
        spark, config.tablePath, recordSchema,
        pkCol = "primaryKeyValue", partitionCol = "partitionKeyValue",
        precombineCol = Some("dataValue"),
        // partition is a pure function of the PK in this workload
        // (`TransactionGenerator.java:76`) → commit fast path applies
        stablePartitions = true)
    val log = new TransactionLog
    val generator = new TransactionGenerator(config)
    val producer = new ResultSetExpectationProducer(log)

    val remaining = new AtomicInteger(config.totalNumberOfTransactions)
    val committed = new AtomicInteger(0)
    val stop = new AtomicBoolean(false)
    val failedVerifications = new AtomicInteger(0)
    val writerFailed = new AtomicBoolean(false)
    val readerFailed = new AtomicBoolean(false)
    val firstFailure = new java.util.concurrent.atomic.AtomicReference[String](null)

    def writerLoop(session: SparkSession): Unit = {
      import session.implicits._
      while (!stop.get() && remaining.getAndDecrement() > 0) {
        val tx = generator.getNextTransaction()
        log.logIntent(tx)
        val t = AcidTable.open(session, config.tablePath)
        // the generator knows each manipulation's partition → hint skips
        // the touched-partition discovery job on every commit
        val parts = Some(tx.dataManipulations.map(_.partitionKeyValue).distinct)
        def applyOnce(): Unit = tx.manipulationType match {
          case ManipulationType.Insert | ManipulationType.Update =>
            val records = tx.dataManipulations
              .map(dm => Record(dm.primaryKeyValue, dm.partitionKeyValue, dm.dataValue))
            val ds = session.createDataset(records).toDF()
            if (tx.manipulationType == ManipulationType.Insert) t.upsert(ds, parts)
            else if (config.useSqlText) {
              // the reference's literal MERGE text (TransactionWriter.java:154-160)
              val view = s"harness_merge_${Math.abs(tx.transactionId.hashCode)}"
              ds.createOrReplaceTempView(view)
              graft.lake.AcidSql.execute(session, Map("records" -> t),
                s"""MERGE INTO records t USING (SELECT * FROM $view) s
                   |ON t.primaryKeyValue = s.primaryKeyValue
                   |WHEN MATCHED THEN UPDATE SET t.dataValue = s.dataValue
                   |WHEN NOT MATCHED THEN INSERT (t.primaryKeyValue, t.partitionKeyValue, t.dataValue)
                   |VALUES (s.primaryKeyValue, s.partitionKeyValue, s.dataValue)""".stripMargin)
              ()
            }
            // MERGE parity: matched rows update only dataValue
            // (`TransactionWriter.java:154-161`)
            else t.merge(ds, updateCols = Seq("dataValue"), partitionsHint = parts)
          case ManipulationType.Delete =>
            if (config.useSqlText) {
              // the reference's DELETE … IN text (with its missing-delimiter bug fixed)
              val keys = tx.dataManipulations.map(dm => s"'${dm.primaryKeyValue}'").distinct
              graft.lake.AcidSql.execute(session, Map("records" -> t),
                s"DELETE FROM records WHERE primaryKeyValue IN (${keys.mkString(", ")})")
              ()
            } else
            t.delete(session.createDataset(tx.dataManipulations.map(dm =>
              (dm.primaryKeyValue, dm.partitionKeyValue)))
              .toDF("primaryKeyValue", "partitionKeyValue"), parts)
        }
        // bounded retry on TRANSIENT failures only — the reference's
        // intended A9 wrapper (`TransactionWriter.java:104-119`, fail-fast
        // intent at :22-28,189-195), whose own exception-wrapping bug
        // (§8-B4) meant it could never fire. OCC conflicts retry inside
        // AcidTable; this guards a conflict that exhausted those retries
        // and execution-level transients (task/stage failures surface as
        // SparkException). Logic errors — analysis failures, bad
        // arguments — fail on attempt 1. Re-applying a transaction is
        // idempotent: upsert and delete are state-replacing, and a retried
        // merge re-reads the snapshot it half-applied.
        val t0 = System.nanoTime()
        TransactionManager.retryTransient(maxRetries = 3,
          onRetry = e => System.err.println(s"retrying txn ${tx.transactionId} after: $e")) {
          applyOnce()
        }
        // A24 structured perf telemetry — per-transaction write duration
        // (`TransactionWriter.java:98-99` shape)
        System.err.println(s"[perf] writer txn=${tx.transactionId}" +
          s" type=${tx.manipulationType} durationMs=${(System.nanoTime() - t0) / 1000000}")
        generator.transactionCommitted(tx)
        log.logCommit(tx)
        committed.incrementAndGet()
      }
    }

    def readerLoop(session: SparkSession): Unit = {
      import session.implicits._
      val t = AcidTable.open(session, config.tablePath)
      // the reference reader's ONE statement is literal SQL text against
      // the catalog (`ReaderThread.java:77-78`) — under useSqlText the
      // rebuild reads through the same text front-end
      val byText = Map("records" -> t, "concurrencytestdb.records" -> t)
      while (!stop.get()) {
        val before = log.eventCount
        val t0 = System.nanoTime()
        val records0 =
          if (config.useSqlText)
            AcidSql.query(session, byText, "SELECT * FROM concurrencytestdb.records")
              .as[Record].collect().toSeq
          else t.snapshot().as[Record].collect().toSeq
        // key-subspace runs verify only the keys THIS process's log
        // covers — the expectation sweep rejects any PK it has no
        // expectation for, and a foreign worker's rows are not anomalies
        val records = records0.filter(r => ownsKey(r.primaryKeyValue))
        val after = log.eventCount
        // A24 structured perf telemetry — per-read duration, the log window
        // the read falls into, and the result size (`ReaderThread.java:64-71`)
        System.err.println(s"[perf] reader durationMs=${(System.nanoTime() - t0) / 1000000}" +
          s" logWindow=$before..$after resultSize=${records.size}")
        val expectations = producer.createResultSetExpectations(before, after)
        val ok =
          try expectations.isSatisfied(new ResultSet(records))
          catch { case _: InconsistentResultSetException => false }
        if (!ok) {
          failedVerifications.incrementAndGet()
          stop.set(true)
        }
      }
    }

    // per-thread session clones via cloneSession() — conf AND temp-view
    // namespace inherited at clone time (`TransactionManager.java:95-101`
    // parity), then two deliberate workload overrides: harness batches are
    // 3 rows against a ≤100-key table — a handful of shuffle partitions
    // beats the cluster-sized session default for these metadata-scale jobs.
    def harnessSession(): SparkSession = {
      val session = org.apache.spark.sql.graft.PlanShim.cloneSession(spark)
      session.conf.set("spark.sql.shuffle.partitions", "4")
      // AQE re-plans after every shuffle materialization — worth it for
      // cluster-scale stages, pure scheduling overhead for 3-row
      // transactional commits (adds a job round-trip per shuffle on the
      // commit critical path)
      session.conf.set("spark.sql.adaptive.enabled", "false")
      session
    }
    // session pools round-robined over threads (`TransactionManager.java:
    // 95-109` shape): M sessions serve N threads; M == N (the 0 default)
    // degenerates to thread-per-session. Sharing is safe because every
    // statement resolves against its own pinned snapshot, and temp views
    // are named by transaction UUID so a shared namespace cannot collide.
    def pool(sessions: Int, threads: Int): IndexedSeq[SparkSession] =
      IndexedSeq.fill(math.min(if (sessions <= 0) threads else sessions, threads))(
        harnessSession())
    val writerSessions = pool(config.numberOfWriterSessions, config.numberOfWriterThreads)
    val readerSessions = pool(config.numberOfReaderSessions, config.numberOfReaderThreads)
    val writers = (0 until config.numberOfWriterThreads).map { i =>
      val session = writerSessions(i % writerSessions.size)
      new Thread(() => {
        try writerLoop(session)
        catch { case e: Throwable =>
          System.err.println(s"Exception in writer: $e")
          e.printStackTrace()
          firstFailure.compareAndSet(null, s"writer: $e")
          writerFailed.set(true); stop.set(true)
        }
      }, s"graft-writer-$i")
    }
    val readers = (0 until config.numberOfReaderThreads).map { i =>
      val session = readerSessions(i % readerSessions.size)
      new Thread(() => {
        try readerLoop(session)
        catch { case e: Throwable =>
          System.err.println(s"Exception in reader: $e")
          e.printStackTrace()
          firstFailure.compareAndSet(null, s"reader: $e")
          readerFailed.set(true); stop.set(true)
        }
      }, s"graft-reader-$i")
    }

    readers.foreach(_.start())
    writers.foreach(_.start())
    writers.foreach(_.join())
    stop.set(true)
    readers.foreach(_.join())

    val finalCount = {
      import spark.implicits._
      val snap = AcidTable.open(spark, config.tablePath).snapshot()
      if (config.keyStride <= 1) snap.count()
      else snap.as[Record].collect().count(r => ownsKey(r.primaryKeyValue))
    }
    val model = modelRecords(log)
    HarnessResult(
      failedVerifications = failedVerifications.get(),
      hasFailedWriters = writerFailed.get(),
      hasFailedReaders = readerFailed.get(),
      committedTransactions = committed.get(),
      finalRowCount = finalCount,
      modelRowCount = model.size,
      firstFailure = Option(firstFailure.get()),
      modelRecords = model)
  }

  /** Replay the committed transactions serially against a pure
    * `Map[PK, Record]` model — the expected final table state.
    */
  private def modelRecords(log: TransactionLog): Seq[Record] = {
    val model = scala.collection.mutable.HashMap.empty[String, Record]
    log.firstN(log.eventCount).foreach {
      case TransactionLogEvent(EventType.TransactionCommitted, tx) =>
        tx.manipulationType match {
          case ManipulationType.Delete =>
            tx.dataManipulations.foreach(dm => model.remove(dm.primaryKeyValue))
          case _ =>
            tx.dataManipulations.foreach { dm =>
              model(dm.primaryKeyValue) = Record(dm.primaryKeyValue, dm.partitionKeyValue, dm.dataValue)
            }
        }
      case _ =>
    }
    model.values.toSeq
  }
}
