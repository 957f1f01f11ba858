package graft.lake

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Write-time file statistics: the `statsColumns` table property makes
  * every commit stamp min/max ranges onto its new files in the stats
  * sidecar clustered compaction feeds — so range pruning works on FRESH
  * data with no OPTIMIZE pass. These tests pin (1) that fresh commits'
  * files actually skip, (2) that the driver fast path keeps its
  * zero-Spark-jobs property while recording stats, (3) soundness under
  * rewrites (update/deleteWhere/compact refresh the rewritten files'
  * entries), and (4) the SQL catalog route end-to-end.
  */
class WriteStatsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("pk", StringType),
    StructField("part", StringType),
    StructField("x", LongType)))

  private def newTable() = {
    val t = AcidTable.create(
      spark, Files.createTempDirectory("write-stats-").resolve("t").toString,
      schema, "pk", "part", stablePartitions = true)
    t.setTableProperty("statsColumns", Some("x"))
    t
  }

  private def batch(rows: (String, String, Long)*) =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r._1, r._2, r._3)): _*), schema)

  test("fresh commits' files skip on a range predicate with no OPTIMIZE") {
    val t = newTable()
    // the time-series append pattern: each commit lands in its own
    // partition with a disjoint x band (x correlates with ingest order).
    // Same-cell upserts would legitimately WIDEN file ranges — a COW
    // rewrite carries the cell's old rows into the new file — so the
    // skip story is per-commit-disjoint data, exactly how event data
    // arrives. The pruning predicate below is on x ONLY (no partition
    // conjunct): the file stats alone produce the skip.
    t.upsert(batch((1 to 20).map(i => (s"a$i", "P0", i.toLong)): _*))
    t.upsert(batch((1 to 20).map(i => (s"b$i", "P1", 1000L + i)): _*))
    t.upsert(batch((1 to 20).map(i => (s"c$i", "P2", 2000L + i)): _*))
    val all = t.indexes.rangePrunedFiles(Map.empty)
    val lowOnly = t.indexes.rangePrunedFiles(Map("x" -> (0L, 100L)))
    assert(lowOnly.nonEmpty && lowOnly.size < all.size,
      s"expected a strict file skip: ${lowOnly.size} of ${all.size}")
    // only commit 1's files can hold x <= 100 — no commit-2/3 file survives
    val midOnly = t.indexes.rangePrunedFiles(Map("x" -> (1000L, 1100L)))
    assert(midOnly.intersect(lowOnly).isEmpty,
      "disjoint-range commits must prune to disjoint file sets")
    // content through the pruned scan == plain filtered snapshot
    val got = t.snapshotRange(Map("x" -> (0L, 100L)))
      .filter(col("x").between(0, 100)).orderBy("pk")
      .collect().map(_.getString(0)).toSeq
    assert(got == (1 to 20).map(i => s"a$i").sorted)
  }

  test("driver fast-path commits record stats with zero Spark jobs") {
    val t = newTable()
    // warm codegen/writer init outside the counted window
    t.upsert(batch(("w1", "P0", 1L)), Some(Seq("P0")))
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      jobs.set(0)
      val v = t.upsert(batch(("k1", "P1", 500L), ("k2", "P1", 600L)), Some(Seq("P1")))
      Thread.sleep(500)
      assert(jobs.get() === 0, "stats recording broke the fast path's 0-job property")
      // and the stats genuinely landed: the new commit's files prune
      val newFiles = t.indexes.rangePrunedFiles(Map("x" -> (500L, 600L)), v)
      val none = t.indexes.rangePrunedFiles(Map("x" -> (10000L, 10001L)), v)
      assert(!none.exists(newFiles.contains),
        "fast-path files missing stats entries: nothing pruned")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a fast-path commit over two partitions records each file's own range") {
    val t = newTable()
    val v = t.upsert(batch(
      (0 to 10).map(i => (s"a$i", "P0", i.toLong)) ++
        (0 to 10).map(i => (s"b$i", "P1", 1000L + i)): _*), Some(Seq("P0", "P1")))
    // a commit-wide range ([0, 1010] on every file) would keep P1's files
    val kept = t.indexes.rangePrunedFiles(Map("x" -> (0L, 10L)), v)
    assert(kept.nonEmpty && kept.forall(_.startsWith("part=P0/")), kept.toString)
  }

  test("distributed commits record per-file stats over only the new files") {
    val t = newTable()
    AcidTable.localCommitEnabled = false
    try {
      t.upsert(batch((1 to 50).map(i => (s"a$i", "P0", i.toLong)): _*))
      t.upsert(batch((1 to 50).map(i => (s"b$i", "P0", 5000L + i)): _*))
    } finally AcidTable.localCommitEnabled = true
    val all = t.indexes.rangePrunedFiles(Map.empty)
    val low = t.indexes.rangePrunedFiles(Map("x" -> (0L, 100L)))
    assert(low.nonEmpty && low.size < all.size)
    val got = t.snapshotRange(Map("x" -> (0L, 100L)))
      .filter(col("x") <= 100).count()
    assert(got === 50)
  }

  test("rewrites refresh stats: update/deleteWhere/compact stay prunable and sound") {
    val t = newTable()
    t.upsert(batch((1 to 30).map(i => (s"a$i", s"P${i % 2}", i.toLong)): _*))
    t.upsert(batch((1 to 30).map(i => (s"b$i", s"P${i % 2}", 1000L + i)): _*))
    // shift the low band up: rewritten files must carry NEW ranges
    t.update(Seq("x" -> (col("x") + 5000L)), col("x") < 100L)
    def sound(lo: Long, hi: Long): Unit = {
      val viaStats = t.snapshotRange(Map("x" -> (lo, hi)))
        .filter(col("x").between(lo, hi)).orderBy("pk")
        .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
      val plain = t.snapshot().filter(col("x").between(lo, hi)).orderBy("pk")
        .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
      assert(viaStats == plain, s"range [$lo,$hi] diverged")
    }
    sound(0L, 100L)      // now empty — the old band moved
    sound(5000L, 5100L)  // the moved band
    sound(1000L, 1030L)  // untouched band
    t.deleteWhere(col("x") > 5015L && col("x") < 6000L)
    sound(5000L, 5100L)
    // a plain (non-clustered) compact rewrites file groups — the new
    // files must re-enter the sidecar via the same write-time hook.
    // Compaction INTERLEAVES the bands across bucket files, so a strict
    // skip is not expected here (that's what clusterBy is for) — assert
    // the entries exist and pruning stays sound.
    t.compact()
    val stats = t.indexes.readStats()
    t.indexes.rangePrunedFiles(Map.empty).foreach { f =>
      assert(stats.get(f).exists(_.contains("x")),
        s"post-compact file $f lost its stats entry")
    }
    sound(1000L, 1030L)
    sound(0L, 10000L)
  }

  test("SQL catalog route: TBLPROPERTIES statsColumns prunes the DSv2 scan") {
    val wh = Files.createTempDirectory("write-stats-wh-").toString
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.graft.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ws")
    spark.sql("""CREATE TABLE graft.ws.t (pk STRING, part STRING, x BIGINT)
      PARTITIONED BY (part)
      TBLPROPERTIES ('primaryKey' = 'pk', 'statsColumns' = 'x')""")
    spark.sql("INSERT INTO graft.ws.t SELECT CAST(id AS STRING), 'P0', id FROM range(0, 40)")
    spark.sql(
      "INSERT INTO graft.ws.t SELECT CAST(id AS STRING), 'P1', id FROM range(7000, 7040)")
    val t = AcidTable.open(spark, s"$wh/ws/t")
    val all = t.indexes.rangePrunedFiles(Map.empty)
    val low = t.indexes.rangePrunedFiles(Map("x" -> (0L, 50L)))
    assert(low.nonEmpty && low.size < all.size,
      "catalog-created table with statsColumns did not record write-time stats")
    val rows = spark.sql("SELECT pk FROM graft.ws.t WHERE x BETWEEN 0 AND 50")
      .collect().map(_.getString(0)).toSet
    assert(rows === (0 until 40).map(_.toString).toSet)
    // an IN set bounds to its [min, max] envelope for the range route
    val inBounds = AcidScanBuilder.rangeBounds(
      Array(org.apache.spark.sql.sources.In("x", Array(7001L, 7038L))), t.schema)
    assert(inBounds == Map("x" -> (7001L, 7038L)))
    val inPruned = t.indexes.rangePrunedFiles(inBounds)
    assert(inPruned.nonEmpty && inPruned.size < all.size,
      s"IN-envelope should prune: ${inPruned.size} of ${all.size}")
    val inRows = spark.sql("SELECT pk FROM graft.ws.t WHERE x IN (7001, 7038)")
      .collect().map(_.getString(0)).toSet
    assert(inRows === Set("7001", "7038"))
    // NULL members never match equality, so they drop out of the envelope
    assert(AcidScanBuilder.rangeBounds(
      Array(org.apache.spark.sql.sources.In("x", Array(7001L, null))), t.schema)
      == Map("x" -> (7001L, 7001L)))
  }

  // ------------------------------------------- typed stats (round 11) --

  private val typedSchema = StructType(Seq(
    StructField("pk", StringType),
    StructField("part", StringType),
    StructField("ts", TimestampType),
    StructField("d", DateType),
    StructField("price", DecimalType(12, 2)),
    StructField("name", StringType)))

  private def typedTable() = {
    val t = AcidTable.create(
      spark, Files.createTempDirectory("write-stats-typed-").resolve("t").toString,
      typedSchema, "pk", "part", stablePartitions = true)
    t.setTableProperty("statsColumns", Some("ts,d,price,name"))
    t
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
  private def dt(s: String) = java.sql.Date.valueOf(s)
  private def typedBatch(rows: (String, String, java.sql.Timestamp, java.sql.Date,
      java.math.BigDecimal, String)*) =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r._1, r._2, r._3, r._4, r._5, r._6)): _*),
      typedSchema)

  test("timestamp/date/decimal/string stats columns skip files and stay sound") {
    val t = typedTable()
    // three appends with disjoint bands in EVERY stats column
    def mk(tag: String, day: Int, cents: Int, namePfx: String) =
      typedBatch((1 to 15).map { i =>
        (s"$tag$i", s"P$day",
          ts(f"2026-01-$day%02d ${i % 24}%02d:00:00"),
          dt(f"2026-01-$day%02d"),
          new java.math.BigDecimal(s"${cents + i}.25"),
          f"$namePfx$i%03d")
      }: _*)
    t.upsert(mk("a", 5, 100, "apple"))
    t.upsert(mk("b", 15, 5000, "melon"))
    t.upsert(mk("c", 25, 90000, "zebra"))
    val all = t.indexes.rangePrunedFiles(Map.empty)

    // timestamp band: only commit 1's files survive
    val tsLow = t.indexes.rangePrunedFiles(Map("ts" ->
      (t.statsBound("ts", ts("2026-01-01 00:00:00")),
        t.statsBound("ts", ts("2026-01-06 00:00:00")))))
    assert(tsLow.nonEmpty && tsLow.size < all.size,
      s"timestamp stats did not skip: ${tsLow.size} of ${all.size}")

    // date band: middle commit only, disjoint from the low-ts set
    val dMid = t.indexes.rangePrunedFiles(Map("d" ->
      (t.statsBound("d", dt("2026-01-10")), t.statsBound("d", dt("2026-01-20")))))
    assert(dMid.nonEmpty && dMid.intersect(tsLow).isEmpty,
      "disjoint date bands must prune to disjoint file sets")

    // decimal band: exact unscaled encoding, top commit only
    val pHigh = t.indexes.rangePrunedFiles(Map("price" ->
      (t.statsBound("price", new java.math.BigDecimal("80000.00")),
        t.statsBound("price", new java.math.BigDecimal("99999.99")))))
    assert(pHigh.nonEmpty && pHigh.size < all.size, "decimal stats did not skip")

    // string prefix band: names starting a..f = commit 1 only
    val sLow = t.indexes.rangePrunedFiles(Map("name" ->
      (t.statsBound("name", "a"), t.statsBound("name", "f"))))
    assert(sLow.nonEmpty && sLow.size < all.size, "string-prefix stats did not skip")

    // content through the typed pruned read == plain filtered snapshot
    val got = t.snapshotRangeValues(
      Map("ts" -> (ts("2026-01-01 00:00:00"), ts("2026-01-06 00:00:00"))))
      .filter(col("ts") < lit(ts("2026-01-06 00:00:00")))
      .orderBy("pk").collect().map(_.getString(0)).toSeq
    val want = t.snapshot()
      .filter(col("ts") < lit(ts("2026-01-06 00:00:00")))
      .orderBy("pk").collect().map(_.getString(0)).toSeq
    assert(got == want && got.size == 15)
  }

  test("typed stats: distributed commit path records the same encodings") {
    val t = typedTable()
    AcidTable.localCommitEnabled = false
    try {
      t.upsert(typedBatch((1 to 40).map(i =>
        (s"a$i", "P0", ts(f"2026-03-01 ${i % 24}%02d:00:00"), dt("2026-03-01"),
          new java.math.BigDecimal(s"$i.50"), f"low$i%03d")): _*))
      t.upsert(typedBatch((1 to 40).map(i =>
        (s"b$i", "P0", ts(f"2026-09-01 ${i % 24}%02d:00:00"), dt("2026-09-01"),
          new java.math.BigDecimal(s"${70000 + i}.50"), f"zzz$i%03d")): _*))
    } finally AcidTable.localCommitEnabled = true
    val all = t.indexes.rangePrunedFiles(Map.empty)
    val low = t.indexes.rangePrunedFiles(Map("ts" ->
      (t.statsBound("ts", ts("2026-01-01 00:00:00")),
        t.statsBound("ts", ts("2026-04-01 00:00:00")))))
    assert(low.nonEmpty && low.size < all.size, "distributed typed stats did not skip")
    assert(t.snapshotRangeValues(
      Map("ts" -> (ts("2026-01-01 00:00:00"), ts("2026-04-01 00:00:00"))))
      .filter(col("ts") < lit(ts("2026-04-01 00:00:00"))).count() === 40)
  }

  test("DSv2 scan prunes on a pushed timestamp range predicate") {
    val wh = Files.createTempDirectory("write-stats-ts-wh-").toString
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.graft.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.wst")
    spark.sql("""CREATE TABLE graft.wst.t (pk STRING, part STRING, ts TIMESTAMP)
      PARTITIONED BY (part)
      TBLPROPERTIES ('primaryKey' = 'pk', 'statsColumns' = 'ts')""")
    spark.sql("""INSERT INTO graft.wst.t
      SELECT CAST(id AS STRING), 'P0', timestampadd(HOUR, id, TIMESTAMP'2026-01-01 00:00:00')
      FROM range(0, 24)""")
    spark.sql("""INSERT INTO graft.wst.t
      SELECT CAST(id AS STRING), 'P1', timestampadd(HOUR, id - 100, TIMESTAMP'2026-07-01 00:00:00')
      FROM range(100, 124)""")
    val t = AcidTable.open(spark, s"$wh/wst/t")
    val all = t.indexes.rangePrunedFiles(Map.empty)
    val janOnly = t.indexes.rangePrunedFiles(Map("ts" ->
      (t.statsBound("ts", ts("2026-01-01 00:00:00")),
        t.statsBound("ts", ts("2026-02-01 00:00:00")))))
    assert(janOnly.nonEmpty && janOnly.size < all.size)
    // the SQL route: correctness of the pushed-predicate read
    val rows = spark.sql("""SELECT pk FROM graft.wst.t
      WHERE ts >= TIMESTAMP'2026-01-01 00:00:00' AND ts < TIMESTAMP'2026-02-01 00:00:00'""")
      .collect().map(_.getString(0)).toSet
    assert(rows === (0 until 24).map(_.toString).toSet)
  }

  test("statsColumns fails loudly on unknown columns and unsupported types") {
    val t = newTable()
    val e1 = intercept[IllegalArgumentException] {
      t.setTableProperty("statsColumns", Some("nope"))
    }
    assert(e1.getMessage.contains("does not exist"))
    val s2 = StructType(Seq(
      StructField("pk", StringType), StructField("part", StringType),
      StructField("v", BinaryType))) // genuinely unsupported (doubles are in since 11b)
    val t2 = AcidTable.create(
      spark, Files.createTempDirectory("write-stats-bad-").resolve("t").toString,
      s2, "pk", "part")
    val e2 = intercept[IllegalArgumentException] {
      t2.setTableProperty("statsColumns", Some("v"))
    }
    assert(e2.getMessage.contains("do not support"))
    val e3 = intercept[IllegalArgumentException] {
      t.statsBound("x", "not-a-long-column-value-type")
    }
    assert(e3.getMessage.contains("cannot encode"))
  }

  test("double encoding is total-order monotone incl. -0.0/NaN, and doubles prune") {
    // encoding order == java.lang.Double.compare order (the SQL sort order)
    val rnd = new scala.util.Random(11)
    val ds = Seq.fill(300)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(8))) ++
      Seq(Double.NegativeInfinity, -1e300, -1.0, -Double.MinPositiveValue,
        -0.0, 0.0, Double.MinPositiveValue, 1.0, 1e300,
        Double.PositiveInfinity, Double.NaN)
    ds.sortWith(java.lang.Double.compare(_, _) < 0).sliding(2).foreach {
      case Seq(a, b) =>
        val (ea, eb) = (Indexes.statsDoubleEncode(a), Indexes.statsDoubleEncode(b))
        assert(ea <= eb, s"inverted: $a -> $ea vs $b -> $eb")
      case _ =>
    }
    // -0.0 and 0.0 share one encoding (SQL comparison treats them equal)
    assert(Indexes.statsDoubleEncode(-0.0) == Indexes.statsDoubleEncode(0.0))
    // end-to-end: a DOUBLE stats column skips files on fresh commits
    val s2 = StructType(Seq(
      StructField("pk", StringType), StructField("part", StringType),
      StructField("m", DoubleType)))
    val t = AcidTable.create(
      spark, Files.createTempDirectory("write-stats-dbl-").resolve("t").toString,
      s2, "pk", "part", stablePartitions = true)
    t.setTableProperty("statsColumns", Some("m"))
    def b(rows: (String, String, Double)*) = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r._1, r._2, r._3)): _*), s2)
    t.upsert(b((1 to 20).map(i => (s"a$i", "P0", i * 0.5)): _*))
    t.upsert(b((1 to 20).map(i => (s"b$i", "P1", 1000.0 + i * 0.5)): _*))
    val all = t.indexes.rangePrunedFiles(Map.empty)
    val low = t.indexes.rangePrunedFiles(Map("m" ->
      (t.statsBound("m", 0.0), t.statsBound("m", 100.0))))
    assert(low.size < all.size && low.nonEmpty, s"${low.size} of ${all.size}")
    val got = t.snapshotRangeValues(Map("m" -> (0.0, 100.0)))
      .filter(col("m") <= 100.0).count()
    assert(got == 20)
  }

  test("null-count stats prune IS NULL / IS NOT NULL files (Delta nullCount analog)") {
    val t = newTable() // statsColumns = x
    def rows(part: String, xs: Seq[java.lang.Long]) = spark.createDataFrame(
      java.util.Arrays.asList(xs.zipWithIndex.map { case (x, i) =>
        Row(s"$part-$i", part, x) }: _*), schema)
    t.upsert(rows("P0", (1 to 8).map(i => java.lang.Long.valueOf(i.toLong)))) // no nulls
    t.upsert(rows("P1", Seq.fill(8)(null: java.lang.Long)))                   // all null
    t.upsert(rows("P2", Seq(java.lang.Long.valueOf(5L), null, null,
      java.lang.Long.valueOf(9L))))                                           // mixed
    val all = t.indexes.prunedFiles(Map.empty, Nil)
    def parts(fs: Seq[String]) = fs.map(_.takeWhile(_ != '/')).distinct.sorted
    assert(parts(all) == Seq("part=P0", "part=P1", "part=P2"))
    val isNull = t.indexes.prunedFiles(Map.empty, Nil, -1L, None, Seq("x" -> true))
    assert(parts(isNull) == Seq("part=P1", "part=P2"),
      s"zero-null files must skip IS NULL: ${parts(isNull)}")
    val notNull = t.indexes.prunedFiles(Map.empty, Nil, -1L, None, Seq("x" -> false))
    assert(parts(notNull) == Seq("part=P0", "part=P2"),
      s"all-null files must skip IS NOT NULL: ${parts(notNull)}")
    // the combination that range stats alone can NEVER produce: the
    // all-null file records no range (conservatively kept by ranges) but
    // the null pseudo-entry drops it for any non-null-seeking read
    val ranged = t.indexes.prunedFiles(Map("x" -> (0L, 100L)), Nil, -1L, None, Seq("x" -> false))
    assert(!ranged.exists(_.startsWith("part=P1/")), ranged.toString)
    // values through the pruned scan stay exact
    val got = t.snapshotPruned(Map.empty, Nil, -1L, None, Seq("x" -> true))
      .filter(col("x").isNull).count()
    assert(got == 10) // 8 in P1 + 2 in P2
    // the distributed stamping path records the same pseudo-entries
    AcidTable.localCommitEnabled = false
    try t.upsert(rows("P3", Seq.fill(4)(null: java.lang.Long)))
    finally AcidTable.localCommitEnabled = true
    val nn2 = t.indexes.prunedFiles(Map.empty, Nil, -1L, None, Seq("x" -> false))
    assert(!nn2.exists(_.startsWith("part=P3/")), nn2.toString)
  }

  test("string-prefix encoding is order-preserving (monotone) on random strings") {
    val rnd = new scala.util.Random(7)
    val strs = Seq.fill(300)(rnd.alphanumeric.take(rnd.nextInt(14)).mkString) ++
      Seq("", "a", "aa", "aaaaaaaaa", "ábc", "日本語テキスト", "￿", "zzzzzzzzzz!")
    val sorted = strs.sorted // JVM String order == UTF8 binary order for these
    sorted.sliding(2).foreach {
      case Seq(a, b) =>
        val ea = Indexes.statsUtf8Prefix(a.getBytes("UTF-8"))
        val eb = Indexes.statsUtf8Prefix(b.getBytes("UTF-8"))
        assert(ea <= eb, s"encoding inverted order: '$a' -> $ea vs '$b' -> $eb")
      case _ =>
    }
  }

  test("soundness property: random commits, random bounds, stats never change results") {
    val t = newTable()
    val rnd = new scala.util.Random(4242)
    (1 to 8).foreach { c =>
      val base = rnd.nextInt(5000).toLong
      val rows = (1 to 25).map { i =>
        (s"k${rnd.nextInt(120)}", s"P${rnd.nextInt(3)}", base + rnd.nextInt(400))
      }
      t.upsert(batch(rows: _*))
      if (c % 3 == 0) t.update(Seq("x" -> (col("x") + 17L)), col("x") % 7 === 0)
      if (c % 4 == 0) t.deleteWhere(col("x") % 11 === 3)
    }
    (1 to 10).foreach { _ =>
      val lo = rnd.nextInt(6000).toLong
      val hi = lo + rnd.nextInt(1500)
      val viaStats = t.snapshotRange(Map("x" -> (lo, hi)))
        .filter(col("x").between(lo, hi))
        .collect().map(r => (r.getString(0), r.getLong(2))).sortBy(_.toString).toSeq
      val plain = t.snapshot().filter(col("x").between(lo, hi))
        .collect().map(r => (r.getString(0), r.getLong(2))).sortBy(_.toString).toSeq
      assert(viaStats == plain, s"bounds [$lo,$hi] diverged")
    }
  }
  test("pre-1970 fractional timestamps encode exact epoch micros (floorDiv)") {
    // getTime of 1969-12-31T23:59:59.5Z is -500 ms; truncating division
    // would flip the sub-second sign (+500000). Both external shapes must
    // agree with the internal epoch-micros domain.
    val inst = java.time.Instant.parse("1969-12-31T23:59:59.500Z")
    val jts = java.sql.Timestamp.from(inst)
    assert(Indexes.statsEncode(TimestampType, jts) === Some(-500000L))
    assert(Indexes.statsEncode(TimestampType, inst) === Some(-500000L))
    // order preservation straddling the epoch
    val before = Indexes.statsEncode(TimestampType,
      java.sql.Timestamp.from(java.time.Instant.parse("1969-12-31T23:59:58.250Z"))).get
    val after = Indexes.statsEncode(TimestampType,
      java.sql.Timestamp.from(java.time.Instant.parse("1970-01-01T00:00:00.250Z"))).get
    assert(before < -500000L && -500000L < after)
  }
}
