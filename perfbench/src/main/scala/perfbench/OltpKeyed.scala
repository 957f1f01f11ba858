package perfbench

import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.lake.AcidTable

/** Single-client OLTP on a keyed table whose parquet bytes exceed the
  * process-wide file-row cache (256 MiB charged at 8x, about 32 MiB of
  * parquet). The reference transaction mix in 3-record transactions:
  * 25% inserts through `upsert`, the rest 75:25 updates through
  * `merge(updateCols)` and deletes through `delete(keys, hint)`. Each
  * commit is followed by a point `lookup` of the keys it wrote, and a
  * `vacuum` runs every [[VacuumEvery]] transactions.
  */
object OltpKeyed {
  val Parts = 8
  val InitialRows = 480000
  val RowsPerTxn = 3
  val VacuumEvery = 20
  /** Transactions whose work counts are reported; they repeat exactly
    * for a seed, so they are counted over this fixed prefix of the
    * window. A multiple of [[VacuumEvery]]. */
  val CountedTxns = 60
  val WarmTxns = 40
  val SetupRepeats = 1

  val schema: StructType = StructType(Seq(
    StructField("pk", StringType, nullable = false),
    StructField("part", StringType, nullable = false),
    StructField("amount", LongType, nullable = false),
    StructField("payload", StringType, nullable = false)))
  private val keySchema = StructType(schema.fields.take(2))

  /** Bytes of user data in one full row: 10 + 3 + 8 + 64. */
  val RowBytes = 85L
  val KeyBytes = 13L

  /** The rows the benchmark generates: every value is a function of the
    * seed, the row id and the row's generation (how often it was
    * written), computed identically here and in the bulk-load SQL. */
  final class Rows(seed: Long) {
    private val s = Math.floorMod(seed, 1000003L)
    private val md5 = MessageDigest.getInstance("MD5")
    def pk(id: Int): String = { val d = id.toString; "k" + "0" * (9 - d.length) + d }
    def part(id: Int): String = { val p = id % Parts; if (p < 10) s"p0$p" else s"p$p" }
    def amount(id: Int, gen: Int): Long = Math.floorMod(id * 7919L + gen * 104729L + s, 1000003L)
    private def hex(x: String): String = {
      val d = md5.digest(x.getBytes("UTF-8"))
      val c = new Array[Char](32)
      for (i <- 0 until 16) {
        c(2 * i) = Character.forDigit((d(i) >> 4) & 0xf, 16)
        c(2 * i + 1) = Character.forDigit(d(i) & 0xf, 16)
      }
      new String(c)
    }
    def payload(id: Int, gen: Int): String = hex(s"$seed:$id:$gen:0") + hex(s"$seed:$id:$gen:1")
    def row(id: Int, gen: Int): Row = Row(pk(id), part(id), amount(id, gen), payload(id, gen))

    /** The bulk load: ids `[0, n)` at generation 0. */
    def bulk(spark: org.apache.spark.sql.SparkSession, n: Int): DataFrame =
      spark.range(0, n).selectExpr(
        "concat('k', lpad(cast(id AS STRING), 9, '0')) AS pk",
        s"concat('p', lpad(cast(id % $Parts AS STRING), 2, '0')) AS part",
        s"pmod(id * 7919 + $s, 1000003) AS amount",
        s"concat(md5(concat_ws(':', '$seed', cast(id AS STRING), '0', '0')), " +
          s"md5(concat_ws(':', '$seed', cast(id AS STRING), '0', '1'))) AS payload")
  }

  /** The benchmark's replay of every operation it issued: per id its
    * generation, or -1 once deleted; plus the live ids for sampling. */
  final class Model(initial: Int) {
    var gen: Array[Int] = Array.fill(initial * 2)(-1)
    private var pos: Array[Int] = Array.fill(initial * 2)(-1)
    val alive = mutable.ArrayBuffer.empty[Int]
    var nextId = 0
    def ensure(id: Int): Unit = if (id >= gen.length) {
      val n = gen.length * 2
      gen = java.util.Arrays.copyOf(gen, n); java.util.Arrays.fill(gen, n / 2, n, -1)
      pos = java.util.Arrays.copyOf(pos, n); java.util.Arrays.fill(pos, n / 2, n, -1)
    }
    def insert(id: Int): Unit = {
      ensure(id); gen(id) = 0; pos(id) = alive.size; alive += id
      nextId = math.max(nextId, id + 1)
    }
    def update(id: Int): Unit = gen(id) += 1
    def delete(id: Int): Unit = {
      val i = pos(id); val last = alive.last
      alive(i) = last; pos(last) = i; alive.remove(alive.size - 1)
      gen(id) = -1; pos(id) = -1
    }
  }

  sealed trait Kind { def name: String }
  case object Insert extends Kind { val name = "upsert" }
  case object Update extends Kind { val name = "merge" }
  case object Delete extends Kind { val name = "delete" }

  /** The generator's proportions made exact in every [[VacuumEvery]]
    * transactions (25% inserts, the rest 75:25 updates to deletes), so a
    * short window holds the same mix on every seed; the seed orders it. */
  val ChunkMix: Seq[Kind] = Seq.fill(5)(Insert) ++ Seq.fill(11)(Update) ++ Seq.fill(4)(Delete)

  final class Table(ctx: Ctx, val path: String, seed: Long) {
    val rows = new Rows(seed)
    val model = new Model(InitialRows)
    private val rnd = new java.util.Random(seed)
    private var lastVersion = -1L
    private val mix = mutable.ArrayBuffer.empty[Kind]
    val commitMs = Map[Kind, mutable.ArrayBuffer[Double]](
      Insert -> mutable.ArrayBuffer.empty, Update -> mutable.ArrayBuffer.empty,
      Delete -> mutable.ArrayBuffer.empty)
    val lookupMs = mutable.ArrayBuffer.empty[Double]
    /** End time of each transaction since [[clearSamples]]. */
    val txnEndNs = mutable.ArrayBuffer.empty[Long]
    val attempted = mutable.LinkedHashMap("upsert" -> 0L, "merge" -> 0L, "delete" -> 0L,
      "lookup" -> 0L, "vacuum" -> 0L)
    var txns = 0L
    var userBytes = 0L
    val scans = mutable.ArrayBuffer.empty[ScanWork]
    var lookupRowsReturned = 0L
    val vacuumRemoved = mutable.ArrayBuffer.empty[Int]
    var ledger: WriteLedger = _

    def clearSamples(): Unit = {
      commitMs.values.foreach(_.clear()); lookupMs.clear(); scans.clear(); txnEndNs.clear()
      lookupRowsReturned = 0L; vacuumRemoved.clear(); userBytes = 0L
      attempted.keys.foreach(attempted(_) = 0L)
    }

    def setup(): Unit = {
      val spark = ctx.spark
      val t = AcidTable.create(spark, path, schema, pkCol = "pk", partitionCol = "part",
        stablePartitions = true)
      t.upsert(rows.bulk(spark, InitialRows))
      t.compact(partitions = Some((0 until Parts).map(rows.part)))
      (0 until InitialRows).foreach(model.insert)
      lastVersion = t.latestVersion()
      ledger = new WriteLedger(java.nio.file.Paths.get(path))
    }

    /** One transaction of the mix, its lookup and (every
      * [[VacuumEvery]]) a vacuum; `phase` tags the Spark work. */
    def txn(phase: String): Unit = {
      ctx.tracer.beginOp(txns)
      if (mix.isEmpty) mix ++= scala.util.Random.javaRandomToRandom(rnd).shuffle(ChunkMix)
      val kind = mix.remove(0)
      val ids = kind match {
        case Insert => Seq.tabulate(RowsPerTxn)(model.nextId + _)
        case _ =>
          val picked = mutable.LinkedHashSet.empty[Int]
          while (picked.size < RowsPerTxn) picked += model.alive(rnd.nextInt(model.alive.size))
          picked.toSeq
      }
      val hint = Some(ids.map(rows.part).distinct)
      ctx.span("txn") {
        ctx.tag(s"$phase:open")
        val t = ctx.span("lake.open")(AcidTable.open(ctx.spark, path))
        val batch = kind match {
          case Insert => ctx.spark.createDataFrame(ids.map(rows.row(_, 0)).asJava, schema)
          case Update => ctx.spark.createDataFrame(
            ids.map(id => rows.row(id, model.gen(id) + 1)).asJava, schema)
          case Delete => ctx.spark.createDataFrame(
            ids.map(id => Row(rows.pk(id), rows.part(id))).asJava, keySchema)
        }
        ctx.tag(s"$phase:commit")
        attempted(kind.name) += 1
        val t0 = System.nanoTime()
        val v = ctx.span("lake.commit") {
          kind match {
            case Insert => t.upsert(batch, hint)
            case Update => t.merge(batch, updateCols = Seq("amount", "payload"), partitionsHint = hint)
            case Delete => t.delete(batch, hint)
          }
        }
        commitMs(kind) += (System.nanoTime() - t0) / 1e6
        Check(v > lastVersion, s"committed version $v does not follow $lastVersion")
        lastVersion = v
        kind match {
          case Insert => ids.foreach(model.insert); userBytes += RowsPerTxn * RowBytes
          case Update => ids.foreach(model.update); userBytes += RowsPerTxn * RowBytes
          case Delete => ids.foreach(model.delete); userBytes += RowsPerTxn * KeyBytes
        }
        txns += 1

        ctx.tag(s"$phase:lookup")
        attempted("lookup") += 1
        val l0 = System.nanoTime()
        val df = ctx.span("lake.lookup_plan")(t.lookup(ids.map(rows.pk), hint))
        val got = ctx.span("lake.lookup_exec")(df.collect())
        lookupMs += (System.nanoTime() - l0) / 1e6
        val want = ids.filter(model.gen(_) >= 0).map(id => rows.row(id, model.gen(id)))
        Check(got.toSet == want.toSet && got.length == want.size,
          s"lookup of ${ids.map(rows.pk).mkString(",")} returned ${got.mkString(",")}, " +
            s"the model holds ${want.mkString(",")}")
        if (ctx.trace) { scans += ScanWork.of(df); lookupRowsReturned += got.length }

        if (txns % VacuumEvery == 0) {
          ctx.tag(s"$phase:vacuum")
          attempted("vacuum") += 1
          // one client: nothing is in flight, so no grace is needed
          ledger.aroundVacuum {
            vacuumRemoved += ctx.span("lake.vacuum")(t.vacuum(keepVersions = 2, graceMillis = 0L))
          }
        }
      }
      txnEndNs += System.nanoTime()
    }

    /** Count plus an order-independent hash of the whole snapshot must
      * equal the model's. Spark's `xxhash64` hashes the table side; the
      * model side hashes its own rows with the same function. */
    def checkFinal(): Unit = {
      ctx.tag("check")
      val Array(got) = AcidTable.open(ctx.spark, path).snapshot().selectExpr("count(*)",
        "sum(CAST(xxhash64(pk, part, amount, payload) AS DECIMAL(38, 0)))").collect()
      var n = 0L
      var h = BigInt(0)
      model.alive.foreach { id =>
        val g = model.gen(id)
        n += 1
        h += Keyed.xxhash64(rows.pk(id), rows.part(id), rows.amount(id, g), rows.payload(id, g))
      }
      val (gn, gh) = (got.getLong(0), BigInt(got.getDecimal(1).toBigInteger))
      Check(gn == n && gh == h, s"final snapshot has $gn rows (hash $gh), the model $n rows (hash $h)")
    }
  }

  def run(ctx: Ctx, sessionReadyS: Double): Result = {
    ctx.tag("setup")
    var table: Table = null
    val setupS = sessionReadyS + Main.medianSetup(SetupRepeats) { i =>
      table = new Table(ctx, new java.io.File(ctx.dir, s"oltp_$i").getPath, ctx.seed)
      table.setup()
    }
    ctx.mark("setup")
    val warm = mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until WarmTxns) {
      val t0 = System.nanoTime(); table.txn("warm"); warm += (System.nanoTime() - t0) / 1e6
    }
    table.clearSamples()
    table.ledger.book()
    val ledger0 = (table.ledger.dataBytes, table.ledger.metaBytes, table.ledger.files)
    AcidTable.resetConflictCount()
    val txns0 = table.txns
    ctx.mark("warm")
    val win = new Window
    var counted: Option[Counted] = None
    val start = System.nanoTime()
    while (table.txns - txns0 < CountedTxns || win.elapsedS < ctx.seconds ||
        (table.txns - txns0) % VacuumEvery != 0) {
      table.txn(if (counted.isEmpty) "count" else "tail")
      if (counted.isEmpty && table.txns - txns0 == CountedTxns) {
        counted = Some(Counted(win.close(), txns0, CountedTxns, CountedTxns, table.userBytes,
          table.ledger.dataBytes - ledger0._1, table.ledger.metaBytes - ledger0._2,
          table.ledger.files - ledger0._3, table.ledger.current,
          table.model.alive.size * RowBytes, table.scans.toSeq, table.lookupRowsReturned,
          table.vacuumRemoved.toSeq, Conflicts.read()))
      }
    }
    val closed = win.close()
    ctx.mark("window")
    val heapMb = Jvm.retainedHeapMb
    ctx.mark("heap")
    table.checkFinal()

    val txns = (table.txns - txns0).toDouble
    val commits = table.commitMs.values.flatten.toSeq
    // throughput per chunk of VacuumEvery transactions (one vacuum each);
    // the median chunk is robust to a stall in one of them
    val ends = start +: table.txnEndNs.toSeq
    val chunkRates = ends.indices.drop(VacuumEvery).by(VacuumEvery)
      .map(i => VacuumEvery / ((ends(i) - ends(i - VacuumEvery)) / 1e9))
    val c = counted.get
    val endToEnd = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("txn_per_s", Stats.median(chunkRates), "1/s"),
      Metric("reads_per_s", Stats.median(chunkRates) * table.lookupMs.size / txns, "1/s"),
      Metric("read_p50_ms", Stats.median(table.lookupMs.toSeq), "ms"),
      Metric("cpu_ms_per_txn", closed.cpuMs / txns, "ms"),
      Metric("write_amp", (c.dataBytes + c.metaBytes).toDouble / c.userBytes, "ratio"),
      Metric("space_amp", c.dir.bytes.toDouble / c.liveBytes, "ratio"),
      Metric("heap_mb", heapMb, "MiB"))
    val perLayer = Layers.common(ctx, c, closed) ++ Seq(
      Metric("op.upsert_p50_ms", Stats.median(table.commitMs(Insert).toSeq), "ms"),
      Metric("op.merge_p50_ms", Stats.median(table.commitMs(Update).toSeq), "ms"),
      Metric("op.delete_p50_ms", Stats.median(table.commitMs(Delete).toSeq), "ms"),
      Metric("op.commit_p90_ms", Stats.quantile(commits, 0.9), "ms"))
    Result(table.attempted.toMap, endToEnd, perLayer,
      Seq("commits" -> commits.size, "window_txn_per_s" -> txns / closed.seconds,
        "chunk_txn_per_s" -> chunkRates, "counted_txns" -> CountedTxns,
        "commit_p50_ms" -> Stats.median(commits),
        "upsert_p50_ms" -> Stats.median(table.commitMs(Insert).toSeq),
        "merge_p50_ms" -> Stats.median(table.commitMs(Update).toSeq),
        "delete_p50_ms" -> Stats.median(table.commitMs(Delete).toSeq),
        "commit_p90_ms" -> Stats.quantile(commits, 0.9),
        "warmup_ms_per_20_txns" -> warm.grouped(20).map(g => g.sum / g.size).toSeq) ++
        Window.ambience(closed))
  }
}

object Keyed {
  import org.apache.spark.sql.catalyst.expressions.XXH64
  import org.apache.spark.unsafe.types.UTF8String

  /** Spark SQL's `xxhash64(pk, part, amount, payload)` of one row. */
  def xxhash64(pk: String, part: String, amount: Long, payload: String): Long = {
    def str(v: String, seed: Long): Long = XXH64.hashUTF8String(UTF8String.fromString(v), seed)
    str(payload, XXH64.hashLong(amount, str(part, str(pk, 42L))))
  }
}
