package perfbench

import scala.collection.mutable

import org.apache.spark.sql.types._

import graft.lake.{AcidSql, AcidTable}

/** Single-client batch DML as SQL text through `AcidSql.execute`, like a
  * daily ingest: each round opens a new day partition and runs
  *  1. `INSERT INTO … SELECT` of the first half of the day's rows,
  *  2. `MERGE INTO …` that updates a quarter of the two previous days'
  *     rows and inserts the second half of the day,
  *  3. `DELETE FROM … WHERE id BETWEEN …` of a key range in an older day,
  * each followed by an analytic `AcidSql.query`: the rows written since a
  * recent statement (a filter on the non-partition `salt` column, which
  * carries write-time statistics) aggregated per day. Every batch is a
  * distributed source far above the 4 MiB driver fast-path gate.
  */
object BulkIngest {
  val RowsPerDay = 20000
  val BaseDays = 20
  val StatementsPerRound = 3
  /** Rounds whose work counts are reported; they repeat exactly for a
    * seed, so they are counted over this fixed prefix of the window. */
  val CountedRounds = 3
  val WarmRounds = 2
  val SetupRepeats = 1

  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("day", StringType, nullable = false),
    StructField("amount", LongType, nullable = false),
    StructField("salt", LongType, nullable = false),
    StructField("note", StringType, nullable = false)))
  /** User bytes of one row: 8 + 5 + 8 + 8 + 32. */
  val RowBytes = 61L
  val KeyBytes = 8L

  /** Row values as functions of the seed, the id and the statement that
    * last wrote the row (`salt`), in SQL and in Scala. */
  final class Values(seed: Long) {
    val s: Long = Math.floorMod(seed, 1000003L)
    def amount(id: Long, salt: Long): Long = Math.floorMod(id * 7919L + salt * 104729L + s, 1000003L)
    def dayName(d: Int): String = f"d$d%04d"
    def sqlRows(from: Long, until: Long, salt: Long, where: String = "true"): String =
      s"""SELECT id, concat('d', lpad(cast(id DIV $RowsPerDay AS STRING), 4, '0')) AS day,
         |pmod(id * 7919 + ${salt * 104729L + s}, 1000003) AS amount, CAST($salt AS BIGINT) AS salt,
         |md5(concat_ws(':', '$seed', cast(id AS STRING), '$salt')) AS note
         |FROM range($from, $until) WHERE $where""".stripMargin
    /** The quarter of a day's rows a merge updates. */
    def updatedSql(salt: Long): String = s"pmod(id * 31 + $salt, 4) = 0"
    def updated(id: Long, salt: Long): Boolean = Math.floorMod(id * 31 + salt, 4L) == 0
  }

  /** The id-indexed model: amount and salt per id, and which ids live. */
  final class Model(capacity: Int) {
    var amount = new Array[Long](capacity)
    var salt = new Array[Long](capacity)
    val alive = new java.util.BitSet(capacity)
    def ensure(n: Long): Unit = if (n > amount.length) {
      val c = math.max(n.toInt, amount.length * 2)
      amount = java.util.Arrays.copyOf(amount, c); salt = java.util.Arrays.copyOf(salt, c)
    }
    def put(id: Long, a: Long, s: Long): Unit = {
      ensure(id + 1)
      amount(id.toInt) = a; salt(id.toInt) = s; alive.set(id.toInt)
    }
    /** Per day: (rows, sum of amount) over live rows with salt >= `lo`. */
    def perDay(lo: Long): Map[Int, (Long, Long)] = {
      val m = mutable.HashMap.empty[Int, (Long, Long)]
      var i = alive.nextSetBit(0)
      while (i >= 0) {
        if (salt(i) >= lo) {
          val d = i / RowsPerDay
          val (n, sum) = m.getOrElse(d, (0L, 0L))
          m(d) = (n + 1, sum + amount(i))
        }
        i = alive.nextSetBit(i + 1)
      }
      m.toMap
    }
  }

  final class Table(ctx: Ctx, val path: String, seed: Long) {
    val values = new Values(seed)
    val model = new Model((BaseDays + 64) * RowsPerDay)
    private val rnd = new java.util.Random(seed)
    private var stmt = 0L
    private var day = BaseDays
    var rounds = 0L
    var lastVersion = -1L
    val stmtMs = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]](
      "insert" -> mutable.ArrayBuffer.empty, "merge" -> mutable.ArrayBuffer.empty,
      "delete" -> mutable.ArrayBuffer.empty)
    val queryMs = mutable.ArrayBuffer.empty[Double]
    val roundS = mutable.ArrayBuffer.empty[Double]
    val attempted = mutable.LinkedHashMap("insert" -> 0L, "merge" -> 0L, "delete" -> 0L,
      "query" -> 0L, "vacuum" -> 0L)
    var userBytes = 0L
    val scans = mutable.ArrayBuffer.empty[ScanWork]
    var rowsReturned = 0L
    val vacuumRemoved = mutable.ArrayBuffer.empty[Int]
    var ledger: WriteLedger = _

    def clearSamples(): Unit = {
      stmtMs.values.foreach(_.clear()); queryMs.clear(); scans.clear(); roundS.clear()
      rowsReturned = 0L; vacuumRemoved.clear(); userBytes = 0L
      attempted.keys.foreach(attempted(_) = 0L)
    }

    def setup(): Unit = {
      val t = AcidTable.create(ctx.spark, path, schema, pkCol = "id", partitionCol = "day",
        stablePartitions = true)
      t.setTableProperty("statsColumns", Some("salt"))
      val n = BaseDays.toLong * RowsPerDay
      t.upsert(ctx.spark.sql(values.sqlRows(0, n, 0)))
      for (id <- 0L until n) model.put(id, values.amount(id, 0), 0)
      lastVersion = t.latestVersion()
      ledger = new WriteLedger(java.nio.file.Paths.get(path))
    }

    private def execute(kind: String, sql: String): Unit = {
      val t = AcidTable.open(ctx.spark, path)
      ctx.tag(s"$phase:commit")
      attempted(kind) += 1
      val t0 = System.nanoTime()
      val v = ctx.span("lake.commit")(AcidSql.execute(ctx.spark, Map("events" -> t), sql))
      stmtMs(kind) += (System.nanoTime() - t0) / 1e6
      Check(v > lastVersion, s"$kind committed version $v, not after $lastVersion")
      lastVersion = v
    }

    /** The analytic query after each statement, checked against the model. */
    private def query(): Unit = {
      val lo = math.max(0L, stmt - 2)
      val t = AcidTable.open(ctx.spark, path)
      ctx.tag(s"$phase:query")
      attempted("query") += 1
      val q0 = System.nanoTime()
      val df = ctx.span("lake.query_plan")(AcidSql.query(ctx.spark, Map("events" -> t),
        s"SELECT day, count(*) AS n, sum(amount) AS total FROM events WHERE salt >= $lo GROUP BY day"))
      val got = ctx.span("lake.query_exec")(df.collect())
      queryMs += (System.nanoTime() - q0) / 1e6
      val want = model.perDay(lo).map { case (d, v) => values.dayName(d) -> v }
      val have = got.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      Check(have == want && got.length == have.size,
        s"query salt >= $lo returned $have, the model holds $want")
      if (ctx.trace) { scans += ScanWork.of(df); rowsReturned += got.length }
    }

    private var phase = "setup"

    /** One round: insert, merge, delete, a query after each, a vacuum. */
    def round(ph: String): Unit = {
      phase = ph
      ctx.tracer.beginOp(rounds)
      val d = day.toLong
      val first = d * RowsPerDay
      val half = first + RowsPerDay / 2
      val r0 = System.nanoTime()
      ctx.span("round") {
        stmt += 1
        execute("insert", s"INSERT INTO events ${values.sqlRows(first, half, stmt)}")
        for (id <- first until half) model.put(id, values.amount(id, stmt), stmt)
        userBytes += (half - first) * RowBytes
        query()

        stmt += 1
        val updFrom = math.max(0L, first - 2 * RowsPerDay)
        execute("merge",
          s"""MERGE INTO events t USING (${values.sqlRows(updFrom, first, stmt, values.updatedSql(stmt))}
             |UNION ALL ${values.sqlRows(half, first + RowsPerDay, stmt)}) s
             |ON t.id = s.id
             |WHEN MATCHED THEN UPDATE SET t.amount = s.amount, t.salt = s.salt, t.note = s.note
             |WHEN NOT MATCHED THEN INSERT (t.id, t.day, t.amount, t.salt, t.note)
             |VALUES (s.id, s.day, s.amount, s.salt, s.note)""".stripMargin)
        var merged = 0L
        for (id <- updFrom until first if values.updated(id, stmt)) {
          model.put(id, values.amount(id, stmt), stmt); merged += 1
        }
        for (id <- half until first + RowsPerDay) model.put(id, values.amount(id, stmt), stmt)
        userBytes += (merged + RowsPerDay / 2) * RowBytes
        query()

        stmt += 1
        val old = d - 6 - rnd.nextInt(12)
        val lo = old * RowsPerDay + rnd.nextInt(RowsPerDay / 2)
        val hi = lo + RowsPerDay / 10 - 1
        execute("delete", s"DELETE FROM events WHERE id >= $lo AND id <= $hi")
        var deleted = 0L
        for (id <- lo to hi if model.alive.get(id.toInt)) { model.alive.clear(id.toInt); deleted += 1 }
        userBytes += deleted * KeyBytes
        query()

        ctx.tag(s"$phase:vacuum")
        attempted("vacuum") += 1
        val t = AcidTable.open(ctx.spark, path)
        ledger.aroundVacuum {
          vacuumRemoved += ctx.span("lake.vacuum")(t.vacuum(keepVersions = 2, graceMillis = 0L))
        }
      }
      roundS += (System.nanoTime() - r0) / 1e9
      day += 1
      rounds += 1
    }

    def liveBytes: Long = model.alive.cardinality() * RowBytes

    /** Unique primary keys, and per-day count and sum equal to the model's. */
    def checkFinal(): Unit = {
      ctx.tag("check")
      val t = AcidTable.open(ctx.spark, path)
      val Array(keys) = AcidSql.query(ctx.spark, Map("events" -> t),
        "SELECT count(*) - count(DISTINCT id) AS dup FROM events").collect()
      Check(keys.getLong(0) == 0L, s"${keys.getLong(0)} duplicate primary keys")
      val have = AcidSql.query(ctx.spark, Map("events" -> t),
        "SELECT day, count(*), sum(amount) FROM events GROUP BY day").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val want = model.perDay(0L).map { case (d, v) => values.dayName(d) -> v }
      Check(have == want, s"final per-day counts and sums $have differ from the model's $want")
    }
  }

  def run(ctx: Ctx, sessionReadyS: Double): Result = {
    ctx.tag("setup")
    var table: Table = null
    val setupS = sessionReadyS + Main.medianSetup(SetupRepeats) { i =>
      table = new Table(ctx, new java.io.File(ctx.dir, s"bulk_$i").getPath, ctx.seed)
      table.setup()
    }
    ctx.mark("setup")
    val warm = mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until WarmRounds) {
      val t0 = System.nanoTime(); table.round("warm"); warm += (System.nanoTime() - t0) / 1e6
    }
    table.clearSamples()
    table.ledger.book()
    val ledger0 = (table.ledger.dataBytes, table.ledger.metaBytes, table.ledger.files)
    AcidTable.resetConflictCount()
    val rounds0 = table.rounds
    ctx.mark("warm")
    val win = new Window
    var counted: Option[Counted] = None
    while (table.rounds - rounds0 < CountedRounds || win.elapsedS < ctx.seconds) {
      table.round(if (counted.isEmpty) "count" else "tail")
      if (counted.isEmpty && table.rounds - rounds0 == CountedRounds) {
        counted = Some(Counted(win.close(), rounds0, CountedRounds, CountedRounds * StatementsPerRound,
          table.userBytes, table.ledger.dataBytes - ledger0._1,
          table.ledger.metaBytes - ledger0._2, table.ledger.files - ledger0._3,
          table.ledger.current, table.liveBytes, table.scans.toSeq, table.rowsReturned,
          table.vacuumRemoved.toSeq, Conflicts.read()))
      }
    }
    val closed = win.close()
    ctx.mark("window")
    val heapMb = Jvm.retainedHeapMb
    ctx.mark("heap")
    table.checkFinal()

    val stmts = table.stmtMs.values.map(_.size).sum.toDouble
    val c = counted.get
    // throughput per round; the median round is robust to a stall in one
    val roundRates = table.roundS.toSeq.map(StatementsPerRound / _)
    val endToEnd = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("txn_per_s", Stats.median(roundRates), "1/s"),
      Metric("reads_per_s", Stats.median(roundRates) * table.queryMs.size / stmts, "1/s"),
      Metric("read_p50_ms", Stats.median(table.queryMs.toSeq), "ms"),
      Metric("cpu_ms_per_txn", closed.cpuMs / stmts, "ms"),
      Metric("write_amp", (c.dataBytes + c.metaBytes).toDouble / c.userBytes, "ratio"),
      Metric("space_amp", c.dir.bytes.toDouble / c.liveBytes, "ratio"),
      Metric("heap_mb", heapMb, "MiB"))
    val perLayer = Layers.common(ctx, c, closed) ++ Seq(
      Metric("op.upsert_p50_ms", Stats.median(table.stmtMs("insert").toSeq), "ms"),
      Metric("op.merge_p50_ms", Stats.median(table.stmtMs("merge").toSeq), "ms"),
      Metric("op.delete_p50_ms", Stats.median(table.stmtMs("delete").toSeq), "ms"),
      Metric("op.commit_p90_ms", Stats.quantile(table.stmtMs.values.flatten.toSeq, 0.9), "ms"))
    Result(table.attempted.toMap, endToEnd, perLayer,
      Seq("statements" -> stmts, "counted_rounds" -> CountedRounds,
        "window_txn_per_s" -> stmts / closed.seconds, "round_txn_per_s" -> roundRates,
        "query_ms" -> table.queryMs.toSeq, "statement_ms" -> table.stmtMs.toMap.map { case (k, v) => k -> v.toSeq },
        "insert_p50_ms" -> Stats.median(table.stmtMs("insert").toSeq),
        "merge_p50_ms" -> Stats.median(table.stmtMs("merge").toSeq),
        "delete_p50_ms" -> Stats.median(table.stmtMs("delete").toSeq),
        "commit_p90_ms" -> Stats.quantile(table.stmtMs.values.flatten.toSeq, 0.9),
        "warmup_ms_per_round" -> warm.toSeq) ++ Window.ambience(closed))
  }
}
