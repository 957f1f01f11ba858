package graft.queries

import java.nio.file.Files
import java.util.UUID

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.lake.{AcidTable, MatView, MvAgg}

/** ACID table layer exercised as oracle-checked queries (SURVEY §2C C5):
  * each query creates a real [[AcidTable]] in a scratch directory, drives
  * real manifest commits (upsert / merge+precombine / delete), and returns
  * the final snapshot; the DuckDB oracle replays the same mutation
  * sequence as pure SQL over the same source tables. This is the `replay`
  * oracle strategy from SURVEY §2C made driver-checkable.
  */
object AcidQueries {

  private def scratch(): String =
    Files.createTempDirectory("graft-acid-").resolve(UUID.randomUUID().toString).toString

  /** Run independent commit pipelines concurrently (guide §2.6: actions
    * are only sequential because the driver calls them sequentially).
    * Used by the star-view gates whose fact/dim loads land on SEPARATE
    * tables — concurrent ingest is the production shape, and each
    * pipeline's own commits stay strictly ordered inside its thread.
    * Failures propagate loudly (first one rethrown after all join). */
  private def inParallel(fs: (() => Unit)*): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = fs.map(f => new Thread(() => {
      try f() catch { case t: Throwable => errs.add(t); () }
    }))
    ts.foreach(_.start()); ts.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
  }

  def all: Seq[Q] = Seq(
    // ---- C5 upsert → second upsert (update) → delete-by-key → snapshot ----------
    Q(
      "q_acid_upsert_delete",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("val", DoubleType)))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part", stablePartitions = true)
        val base = Tables.customer(s, dir)
          .filter(col("c_custkey") < 1000)
          .select(
            col("c_custkey").cast("string").as("pk"),
            concat(lit("p"), (col("c_nationkey") % 4).cast("string")).as("part"),
            col("c_acctbal").as("val"))
        t.upsert(base)
        t.upsert(base.filter(col("pk").cast("long") % 3 === 0)
          .withColumn("val", col("val") + 100))
        val delKeys = base.filter(col("pk").cast("long") % 7 === 0)
          .select("pk").collect().map(_.getString(0)).toSeq
        t.delete(delKeys)
        t.snapshot().orderBy(col("pk"))
      },
      Some("""
        WITH base AS (
          SELECT CAST(c_custkey AS VARCHAR) AS pk,
                 'p' || CAST(c_nationkey % 4 AS VARCHAR) AS part,
                 c_acctbal AS val
          FROM customer WHERE c_custkey < 1000)
        SELECT pk, part,
               CASE WHEN CAST(pk AS BIGINT) % 3 = 0 THEN val + 100 ELSE val END AS val
        FROM base
        WHERE CAST(pk AS BIGINT) % 7 <> 0
        ORDER BY pk
      """)),

    // ---- C5 point lookup: bucket-pruned keyed read ------------------------------
    // The keyed read path: after two upserts (insert + partial update), look
    // up a fixed key set through [[AcidTable.lookup]] — which prunes the
    // scan list to the keys' hash buckets from manifest strings alone
    // before any Spark plan exists (LookupSpec asserts the skipping
    // contract; this gate asserts the VALUES). The oracle replays the
    // mutations and filters the same keys. One absent key ("100000") and
    // one deleted key ("7") prove misses stay misses through the pruned
    // scan.
    Q(
      "q_acid_point_lookup",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("val", DoubleType)))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part", stablePartitions = true)
        val base = Tables.customer(s, dir)
          .filter(col("c_custkey") < 1000)
          .select(
            col("c_custkey").cast("string").as("pk"),
            concat(lit("p"), (col("c_nationkey") % 4).cast("string")).as("part"),
            col("c_acctbal").as("val"))
        t.upsert(base)
        t.upsert(base.filter(col("pk").cast("long") % 3 === 0)
          .withColumn("val", col("val") + 100))
        t.delete(Seq("7"))
        t.lookup(Seq("3", "7", "56", "120", "333", "999", "100000"))
          .orderBy(col("pk"))
      },
      Some("""
        WITH base AS (
          SELECT CAST(c_custkey AS VARCHAR) AS pk,
                 'p' || CAST(c_nationkey % 4 AS VARCHAR) AS part,
                 c_acctbal AS val
          FROM customer WHERE c_custkey < 1000)
        SELECT pk, part,
               CASE WHEN CAST(pk AS BIGINT) % 3 = 0 THEN val + 100 ELSE val END AS val
        FROM base
        WHERE pk IN ('3', '56', '120', '333', '999')
        ORDER BY pk
      """)),

    // ---- C5 bloom-pruned point lookup: per-file key filters ---------------------
    // The Hudi bloom-index analog: `bloomColumns=pk` makes every commit
    // stamp a per-file bloom sidecar, and `lookup` prunes candidates the
    // filter EXCLUDES. The table is built to make that pruning
    // load-bearing: numBuckets=1 (bucket hashing keeps one file in EVERY
    // partition) and one commit per partition (disjoint per-file key
    // sets), so only blooms can isolate a key's file. BloomSkipSpec pins
    // the skip counts; this gate pins the VALUES through the pruned scan
    // — updates refresh sidecars, a deleted key ("7") and an absent key
    // ("100000") stay misses.
    Q(
      "q_acid_bloom_lookup",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("val", DoubleType)))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part",
          stablePartitions = true, numBuckets = 1)
        t.setTableProperty("bloomColumns", Some("pk"))
        val base = Tables.customer(s, dir)
          .filter(col("c_custkey") < 1000)
          .select(
            col("c_custkey").cast("string").as("pk"),
            concat(lit("p"), (col("c_nationkey") % 4).cast("string")).as("part"),
            col("c_acctbal").as("val"))
        (0 until 4).foreach(p => t.upsert(base.filter(col("part") === s"p$p")))
        t.upsert(base.filter(col("pk").cast("long") % 3 === 0)
          .withColumn("val", col("val") + 100))
        t.delete(Seq("7"))
        t.lookup(Seq("3", "7", "56", "120", "333", "999", "100000"))
          .orderBy(col("pk"))
      },
      Some("""
        WITH base AS (
          SELECT CAST(c_custkey AS VARCHAR) AS pk,
                 'p' || CAST(c_nationkey % 4 AS VARCHAR) AS part,
                 c_acctbal AS val
          FROM customer WHERE c_custkey < 1000)
        SELECT pk, part,
               CASE WHEN CAST(pk AS BIGINT) % 3 = 0 THEN val + 100 ELSE val END AS val
        FROM base
        WHERE pk IN ('3', '56', '120', '333', '999')
        ORDER BY pk
      """)),

    // ---- C5 bloom-pruned NON-key equality through the SQL catalog ---------------
    // The DSv2 scan's round-11 equality route: a pushed `tag = lit` on a
    // bloomColumns column prunes the FILE LIST through the per-file bloom
    // sidecars before any Spark plan exists (then re-applies the filter to
    // the kept rows). The layout makes the pruning real: partition derives
    // from the tag and each tag loads as its own commit, so every live
    // file's bloom holds exactly one tag value and the equality keeps 1 of
    // 3 files (BloomSkipSpec pins the counts; this gate pins the VALUES
    // the pruned route returns, against DuckDB replaying the same slice).
    Q(
      "q_sql_acid_bloom_filter",
      (s, dir) => {
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.lake.GraftCatalog].getName)
        s.conf.set("spark.sql.graft.warehouse", scratch())
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft.acid")
        s.sql("""CREATE TABLE graft.acid.bloomt (pk STRING, part STRING, tag STRING, val DOUBLE)
                |PARTITIONED BY (part)
                |TBLPROPERTIES ('primaryKey' = 'pk', 'numBuckets' = '1',
                |               'bloomColumns' = 'tag')""".stripMargin)
        Tables.orders(s, dir)
          .filter(col("o_orderkey") < 2000)
          .select(
            col("o_orderkey").cast("string").as("pk"),
            concat(lit("p"), substring(col("o_orderpriority"), 1, 1)).as("part"),
            col("o_orderpriority").as("tag"),
            col("o_totalprice").cast("double").as("val"))
          .createOrReplaceTempView("bloom_base")
        // three tag-homogeneous commits are enough for 1-of-N file pruning;
        // the untouched priorities simply never load
        Seq("1-URGENT", "3-MEDIUM", "5-LOW").foreach { pr =>
          s.sql(s"INSERT INTO graft.acid.bloomt SELECT * FROM bloom_base WHERE tag = '$pr'")
        }
        s.sql("""SELECT pk, tag, val FROM graft.acid.bloomt
                |WHERE tag = '3-MEDIUM' ORDER BY pk""".stripMargin)
      },
      Some("""
        SELECT CAST(o_orderkey AS VARCHAR) AS pk,
               o_orderpriority AS tag,
               CAST(o_totalprice AS DOUBLE) AS val
        FROM orders
        WHERE o_orderkey < 2000 AND o_orderpriority = '3-MEDIUM'
        ORDER BY pk
      """)),

    // ---- C5 hidden partitioning: transform-derived layout + transposed read -----
    // Iceberg-style `partitionTransform = day(ts)`: the batch NEVER names a
    // partition — the table derives `part` from the event time at write —
    // and the read transposes a ts range into the touched days' partition
    // list before any plan exists (transformPartitionsForRange; the DSv2
    // route does the same for pushed predicates — HiddenPartitionSpec pins
    // pruning counts and the wrong-explicit-value rejection). The oracle
    // recomputes the derived partition with strftime and replays the
    // range, so BOTH the derivation and the transposed read's values gate.
    Q(
      "q_acid_hidden_partition",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("ts", TimestampType), StructField("val", DoubleType)))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part",
          stablePartitions = true, numBuckets = 2)
        t.setTableProperty("partitionTransform", Some("day(ts)"))
        val base = Tables.events(s, dir)
          .filter(col("event_id") % 20 === 0)
          .select(
            col("event_id").cast("string").as("pk"),
            col("ts"),
            col("value").as("val")) // no partition column anywhere
        t.upsert(base)
        val lo = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
        val hi = java.sql.Timestamp.valueOf("2024-01-16 00:00:00")
        t.snapshotPruned(Map.empty, Nil, -1L,
            t.transformPartitionsForRange("ts", lo, hi))
          .filter(col("ts") >= lit(lo) && col("ts") < lit(hi))
          .select(col("pk"), col("part"), col("val"))
          .orderBy(col("pk"))
      },
      Some("""
        SELECT CAST(event_id AS VARCHAR) AS pk,
               strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS part,
               "value" AS val
        FROM events
        WHERE event_id % 20 = 0
          AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
          AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16 00:00:00'
        ORDER BY pk
      """)),

    // ---- C5 SHOW PARTITIONS: live inventory from manifest strings ---------------
    // The partition inventory of a snapshot costs one manifest read —
    // no listing, no footer pass (partitionsInventory). The gate loads six
    // partitions, empties one with a predicate DELETE, and pins that the
    // emptied partition LEAVES the inventory (its cells rewrote to zero
    // files); the oracle recomputes the surviving distinct values.
    Q(
      "q_sql_show_partitions",
      (s, dir) => {
        val sess = new graft.lake.AcidSqlSession(s, scratch())
        sess.execute("CREATE SCHEMA IF NOT EXISTS acid")
        sess.execute(
          """CREATE TABLE acid.sp (pk STRING, part STRING, val DOUBLE)
            |USING hudi PARTITIONED BY (part)
            |TBLPROPERTIES ('primaryKey' = 'pk')""".stripMargin)
        Tables.customer(s, dir)
          .filter(col("c_custkey") < 1500)
          .select(
            col("c_custkey").cast("string").as("pk"),
            concat(lit("p"), (col("c_nationkey") % 6).cast("string")).as("part"),
            col("c_acctbal").as("val"))
          .createOrReplaceTempView("sp_base")
        sess.execute("INSERT INTO acid.sp SELECT * FROM sp_base")
        sess.execute("DELETE FROM acid.sp WHERE part = 'p3'")
        sess.query("SHOW PARTITIONS acid.sp")
          .select(col("part")).orderBy(col("part"))
      },
      Some("""
        SELECT DISTINCT 'p' || CAST(c_nationkey % 6 AS VARCHAR) AS part
        FROM customer
        WHERE c_custkey < 1500 AND c_nationkey % 6 <> 3
        ORDER BY part
      """)),

    // ---- C5 null-count stats: IS NULL pruning through the SQL catalog -----------
    // Delta's nullCount-stats analog: every statsColumns commit stamps a
    // per-file (nullCount, rowCount) pseudo-entry, and a pushed IS NULL /
    // IS NOT NULL prunes files the counts exclude (zero-null files skip
    // IS NULL; all-null files skip IS NOT NULL — the skip range stats can
    // never provide, since an all-null file records NO range and is kept
    // conservatively). Layout makes it real: per-partition commits where
    // one priority class carries only NULL balances. WriteStatsSpec pins
    // the file counts; this gate pins the VALUES through the pruned route.
    Q(
      "q_sql_acid_null_stats",
      (s, dir) => {
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.lake.GraftCatalog].getName)
        s.conf.set("spark.sql.graft.warehouse", scratch())
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft.acid")
        s.sql("""CREATE TABLE graft.acid.nulls (pk STRING, part STRING, val DOUBLE)
                |PARTITIONED BY (part)
                |TBLPROPERTIES ('primaryKey' = 'pk', 'numBuckets' = '1',
                |               'statsColumns' = 'val')""".stripMargin)
        Tables.customer(s, dir)
          .filter(col("c_custkey") < 1200)
          .select(
            col("c_custkey").cast("string").as("pk"),
            concat(lit("p"), (col("c_nationkey") % 4).cast("string")).as("part"),
            when(col("c_nationkey") % 4 === 2, lit(null).cast("double"))
              .otherwise(col("c_acctbal")).as("val"))
          .createOrReplaceTempView("null_base")
        (0 until 4).foreach { p =>
          s.sql(s"INSERT INTO graft.acid.nulls SELECT * FROM null_base WHERE part = 'p$p'")
        }
        s.sql("""SELECT pk, part FROM graft.acid.nulls
                |WHERE val IS NULL ORDER BY pk""".stripMargin)
      },
      Some("""
        SELECT CAST(c_custkey AS VARCHAR) AS pk,
               'p' || CAST(c_nationkey % 4 AS VARCHAR) AS part
        FROM customer
        WHERE c_custkey < 1200 AND c_nationkey % 4 = 2
        ORDER BY pk
      """)),

    // ---- C5 CDC diff between committed versions ---------------------------------
    Q(
      "q_acid_cdc_diff",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("val", DoubleType)))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part", stablePartitions = true)
        val base = Tables.customer(s, dir)
          .filter(col("c_custkey") < 300)
          .select(
            col("c_custkey").cast("string").as("pk"),
            concat(lit("p"), (col("c_nationkey") % 4).cast("string")).as("part"),
            col("c_acctbal").as("val"))
        val v0 = t.upsert(base)
        t.upsert(base.filter(col("pk").cast("long") % 5 === 0)
          .withColumn("val", col("val") * 2))
        val v2 = t.delete(base.filter(col("pk").cast("long") % 11 === 0)
          .select("pk").collect().map(_.getString(0)).toSeq)
        t.changesBetween(v0, v2)
          .orderBy(col("_change_type"), col("pk"))
      },
      Some("""
        WITH base AS (
          SELECT CAST(c_custkey AS VARCHAR) AS pk,
                 'p' || CAST(c_nationkey % 4 AS VARCHAR) AS part,
                 c_acctbal AS val
          FROM customer WHERE c_custkey < 300),
        v0 AS (SELECT * FROM base),
        v2 AS (
          SELECT pk, part,
                 CASE WHEN CAST(pk AS BIGINT) % 5 = 0 THEN val * 2 ELSE val END AS val
          FROM base WHERE CAST(pk AS BIGINT) % 11 <> 0),
        ins AS (SELECT pk, part, val, 'insert' AS _change_type
                FROM v2 EXCEPT ALL SELECT pk, part, val, 'insert' FROM v0),
        del AS (SELECT pk, part, val, 'delete' AS _change_type
                FROM v0 EXCEPT ALL SELECT pk, part, val, 'delete' FROM v2)
        SELECT pk, part, val, _change_type FROM ins
        UNION ALL
        SELECT pk, part, val, _change_type FROM del
        ORDER BY _change_type, pk
      """)),

    // ---- C5 time travel: read a pinned historical version -----------------------
    Q(
      "q_acid_time_travel",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("val", DoubleType)))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part", stablePartitions = true)
        val base = Tables.nation(s, dir).select(
          col("n_nationkey").cast("string").as("pk"),
          concat(lit("p"), (col("n_nationkey") % 2).cast("string")).as("part"),
          col("n_regionkey").cast("double").as("val"))
        val v0 = t.upsert(base)
        t.upsert(base.withColumn("val", col("val") + 100)) // v1 overwrites all
        t.delete(base.select("pk").collect().map(_.getString(0)).toSeq) // v2 empties
        // time travel back to v0: the original rows, untouched by v1/v2
        t.snapshot(v0).orderBy(col("pk"))
      },
      Some("""
        SELECT CAST(n_nationkey AS VARCHAR) AS pk,
               'p' || CAST(n_nationkey % 2 AS VARCHAR) AS part,
               CAST(n_regionkey AS DOUBLE) AS val
        FROM nation ORDER BY pk
      """)),

    // ---- C5 compaction + vacuum preserve content --------------------------------
    Q(
      "q_acid_compact_vacuum",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("val", DoubleType)))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part", stablePartitions = true)
        val src = Tables.region(s, dir).select(
          col("r_regionkey").cast("string").as("pk"),
          lit("p0").as("part"),
          col("r_regionkey").cast("double").as("val"))
        // five single-row commits → five small files in one partition
        src.collect().foreach { r =>
          t.upsert(s.createDataFrame(java.util.List.of(r), src.schema))
        }
        t.compact(maxFilesPerPartition = 1)
        t.vacuum(keepVersions = 1, graceMillis = 0L)
        t.snapshot().orderBy(col("pk"))
      },
      Some("""
        SELECT CAST(r_regionkey AS VARCHAR) AS pk, 'p0' AS part,
               CAST(r_regionkey AS DOUBLE) AS val
        FROM region ORDER BY pk
      """)),

    // ---- C5 RESTORE: roll back to an earlier version as a new commit ------------
    // The Delta RESTORE / Hudi savepoint-restore analog: re-link v0's
    // files into a fresh commit (metadata-only, no data copied), with
    // post-restore history intact — the table keeps accepting commits on
    // top, which the final upsert proves. The oracle replays the net
    // state: the original rows plus the one post-restore change.
    Q(
      "q_acid_restore",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("val", DoubleType)))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part", stablePartitions = true)
        val base = Tables.nation(s, dir).select(
          col("n_nationkey").cast("string").as("pk"),
          concat(lit("p"), (col("n_nationkey") % 2).cast("string")).as("part"),
          col("n_regionkey").cast("double").as("val"))
        val v0 = t.upsert(base)
        t.upsert(base.withColumn("val", col("val") + 100)) // v1 rewrites all
        t.delete(base.filter(col("pk").cast("long") < 10)
          .select("pk").collect().map(_.getString(0)).toSeq) // v2 deletes some
        t.restore(v0) // v3: back to the original content
        // the restored table stays writable: one more change on top
        t.upsert(base.filter(col("pk") === "0").withColumn("val", col("val") + 1))
        t.snapshot().orderBy(col("pk"))
      },
      Some("""
        SELECT CAST(n_nationkey AS VARCHAR) AS pk,
               'p' || CAST(n_nationkey % 2 AS VARCHAR) AS part,
               CAST(n_regionkey AS DOUBLE)
                 + CASE WHEN n_nationkey = 0 THEN 1 ELSE 0 END AS val
        FROM nation ORDER BY pk
      """)),

    // ---- C5 SQL text surface: INSERT / MERGE / UPDATE / DELETE ------------------
    // The reference's writers emit literal SQL (TransactionWriter.java:
    // 153-175); AcidSql parses the same text with Spark's parser and
    // routes the reference's statement shapes to the transactional ops.
    Q(
      "q_sql_acid_dml",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("val", DoubleType)))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part", stablePartitions = true)
        val reg = Map("acid.t" -> t, "t" -> t)
        val base = Tables.nation(s, dir).select(
          col("n_nationkey").cast("string").as("pk"),
          concat(lit("p"), (col("n_nationkey") % 2).cast("string")).as("part"),
          col("n_regionkey").cast("double").as("val"))
        base.createOrReplaceTempView("acid_dml_base")
        graft.lake.AcidSql.execute(s, reg,
          "INSERT INTO acid.t SELECT * FROM acid_dml_base")
        base.filter(col("pk").cast("long") % 2 === 0)
          .withColumn("val", col("val") * 10)
          .createOrReplaceTempView("acid_dml_updates")
        graft.lake.AcidSql.execute(s, reg,
          """MERGE INTO acid.t t
            |USING (SELECT * FROM acid_dml_updates) s
            |ON t.pk = s.pk
            |WHEN MATCHED THEN UPDATE SET t.val = s.val
            |WHEN NOT MATCHED THEN INSERT (t.pk, t.part, t.val) VALUES (s.pk, s.part, s.val)
            |""".stripMargin)
        graft.lake.AcidSql.execute(s, reg,
          "UPDATE acid.t SET val = val + 0.5 WHERE part = 'p1'")
        graft.lake.AcidSql.execute(s, reg,
          "DELETE FROM acid.t WHERE pk IN ('3', '9', '15')")
        t.snapshot().orderBy(col("pk"))
      },
      Some("""
        WITH base AS (
          SELECT CAST(n_nationkey AS VARCHAR) AS pk,
                 'p' || CAST(n_nationkey % 2 AS VARCHAR) AS part,
                 CAST(n_regionkey AS DOUBLE) AS val
          FROM nation)
        SELECT pk, part,
               CASE WHEN CAST(pk AS BIGINT) % 2 = 0 THEN val * 10 ELSE val + 0.5 END AS val
        FROM base WHERE pk NOT IN ('3', '9', '15')
        ORDER BY pk
      """)),

    // ---- C5/M6 the same DML lifecycle through the DSv2 catalog ------------------
    // No AcidSql shim anywhere: CREATE NAMESPACE/TABLE, INSERT INTO,
    // MERGE INTO (via the GraftExtensions resolution rule), DELETE FROM
    // (native SupportsDelete), and the final SELECT all go through
    // spark.sql against `graft.acid.t` resolved by GraftCatalog.
    Q(
      "q_sql_acid_dml_catalog",
      (s, dir) => {
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.lake.GraftCatalog].getName)
        s.conf.set("spark.sql.graft.warehouse", scratch())
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft.acid")
        s.sql("""CREATE TABLE graft.acid.t (pk STRING, part STRING, val DOUBLE)
                |PARTITIONED BY (part)
                |TBLPROPERTIES ('primaryKey' = 'pk')""".stripMargin)
        val base = Tables.nation(s, dir).select(
          col("n_nationkey").cast("string").as("pk"),
          concat(lit("p"), (col("n_nationkey") % 2).cast("string")).as("part"),
          col("n_regionkey").cast("double").as("val"))
        base.createOrReplaceTempView("acid_cat_base")
        s.sql("INSERT INTO graft.acid.t SELECT * FROM acid_cat_base")
        base.filter(col("pk").cast("long") % 2 === 0)
          .withColumn("val", col("val") * 10)
          .createOrReplaceTempView("acid_cat_updates")
        s.sql("""MERGE INTO graft.acid.t t
                |USING (SELECT * FROM acid_cat_updates) s
                |ON t.pk = s.pk
                |WHEN MATCHED THEN UPDATE SET t.val = s.val
                |WHEN NOT MATCHED THEN INSERT (t.pk, t.part, t.val) VALUES (s.pk, s.part, s.val)
                |""".stripMargin)
        s.sql("UPDATE graft.acid.t SET val = val + 0.5 WHERE part = 'p1'")
        s.sql("DELETE FROM graft.acid.t WHERE pk IN ('3', '9', '15')")
        s.sql("SELECT * FROM graft.acid.t ORDER BY pk")
      },
      Some("""
        WITH base AS (
          SELECT CAST(n_nationkey AS VARCHAR) AS pk,
                 'p' || CAST(n_nationkey % 2 AS VARCHAR) AS part,
                 CAST(n_regionkey AS DOUBLE) AS val
          FROM nation)
        SELECT pk, part,
               CASE WHEN CAST(pk AS BIGINT) % 2 = 0 THEN val * 10 ELSE val + 0.5 END AS val
        FROM base WHERE pk NOT IN ('3', '9', '15')
        ORDER BY pk
      """)),

    // ---- C5 commit-timeline audit surface (round 10) ----------------------------
    // DESCRIBE HISTORY analog: every commit stamps its operation label
    // into the manifest (#op= header) and history() renders the retained
    // timeline — version, operation, live-file count, touched-cell count
    // — from metadata alone (no data scan). The lifecycle here is fully
    // deterministic (nation is the fixed 25-row TPC-H table at every SF;
    // cells come from Murmur3 bucketing), so the oracle is the literal
    // expected timeline: the gate pins that every operation class stamps
    // the right label and that file/cell accounting stays exact.
    Q(
      "q_acid_history",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("val", DoubleType)))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part", stablePartitions = true)
        val base = Tables.nation(s, dir).select(
          col("n_nationkey").cast("string").as("pk"),
          concat(lit("p"), (col("n_nationkey") % 2).cast("string")).as("part"),
          col("n_regionkey").cast("double").as("val"))
        val v0 = t.upsert(base)
        t.update(Seq("val" -> (col("val") + 1)), col("part") === "p1")
        t.deleteWhere(col("val") < 2)
        t.compact(0)
        t.restore(v0)
        t.history()
          .select(col("version"), col("operation"), col("n_files"),
            col("n_touched_cells"))
          .orderBy(col("version"))
      },
      Some("""
        SELECT CAST(version AS BIGINT) AS version, operation,
               CAST(n_files AS BIGINT) AS n_files,
               CAST(n_touched_cells AS BIGINT) AS n_touched_cells
        FROM (VALUES (0, 'UPSERT', 19, 19),
                     (1, 'UPDATE', 19, 11),
                     (2, 'DELETE', 17, 5),
                     (3, 'COMPACT', 2, 2),
                     (4, 'RESTORE', 19, 2))
          AS h(version, operation, n_files, n_touched_cells)
        ORDER BY version
      """)),

    // ---- C5 full-sync MERGE: NOT MATCHED BY SOURCE (round 10) -------------------
    // The table-synchronization shape: update matched rows, insert new
    // source rows, and DELETE target rows the source no longer carries
    // (guarded by a target-side condition) — `WHEN NOT MATCHED BY SOURCE
    // [AND cond] THEN DELETE`, through the SQL-text front-end (catalog
    // path pinned equivalent in ConditionalMergeSpec). The oracle replays
    // the clause algebra: k%3<>1 rows update to val+100, absent rows
    // (k%3=1) delete iff val>=1, keys 100-102 insert.
    Q(
      "q_sql_acid_merge_sync",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("val", DoubleType)))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part", stablePartitions = true)
        val reg = Map("acid.t" -> t, "t" -> t)
        val base = Tables.nation(s, dir).select(
          col("n_nationkey").cast("string").as("pk"),
          concat(lit("p"), (col("n_nationkey") % 2).cast("string")).as("part"),
          col("n_regionkey").cast("double").as("val"))
        t.upsert(base)
        base.filter(col("pk").cast("long") % 3 =!= 1)
          .withColumn("val", col("val") + 100)
          .unionByName(s.range(100, 103).select(
            col("id").cast("string").as("pk"),
            concat(lit("p"), (col("id") % 2).cast("string")).as("part"),
            col("id").cast("double").as("val")))
          .createOrReplaceTempView("acid_sync_src")
        graft.lake.AcidSql.execute(s, reg,
          """MERGE INTO acid.t tgt
            |USING (SELECT * FROM acid_sync_src) src
            |ON tgt.pk = src.pk
            |WHEN MATCHED THEN UPDATE SET tgt.val = src.val
            |WHEN NOT MATCHED THEN
            |  INSERT (tgt.pk, tgt.part, tgt.val) VALUES (src.pk, src.part, src.val)
            |WHEN NOT MATCHED BY SOURCE AND tgt.val >= 1 THEN DELETE
            |""".stripMargin)
        t.snapshot().orderBy(col("pk"))
      },
      Some("""
        WITH base AS (
          SELECT CAST(n_nationkey AS VARCHAR) AS pk,
                 'p' || CAST(n_nationkey % 2 AS VARCHAR) AS part,
                 CAST(n_regionkey AS DOUBLE) AS val,
                 n_nationkey AS k
          FROM nation),
        kept AS (
          SELECT pk, part,
                 CASE WHEN k % 3 <> 1 THEN val + 100 ELSE val END AS val
          FROM base WHERE k % 3 <> 1 OR val < 1),
        ins AS (
          SELECT CAST(k AS VARCHAR) AS pk,
                 'p' || CAST(k % 2 AS VARCHAR) AS part,
                 CAST(k AS DOUBLE) AS val
          FROM range(100, 103) r(k))
        SELECT pk, part, val FROM kept
        UNION ALL SELECT pk, part, val FROM ins
        ORDER BY pk
      """)),

    // ---- C5 clustered compaction (round 10) -------------------------------------
    // compact(clusterBy = x, y): every partition rewrites with rows in
    // Morton (Z-order) key order, rolled into size-targeted bucketless
    // files whose per-column min/max ranges land in the table's cluster
    // statistics — so a range predicate on EITHER dimension prunes the
    // FILE LIST before any plan exists (AcidTableMaintenanceSpec asserts
    // the skip; this gate pins the end-to-end correctness of the
    // clustered table under a range read). The oracle replays the final
    // content filter directly.
    Q(
      "q_acid_compact_cluster",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", LongType), StructField("part", StringType),
          StructField("x", LongType), StructField("y", LongType)))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part", stablePartitions = true)
        t.targetFileBytes = 64L * 1024
        t.upsert(Tables.orders(s, dir).select(
          col("o_orderkey").cast("long").as("pk"),
          concat(lit("p"), (col("o_custkey") % 2).cast("string")).as("part"),
          (col("o_custkey") % 512).cast("long").as("x"),
          (col("o_orderkey") % 512).cast("long").as("y")))
        t.compact(clusterBy = Seq("x", "y"))
        t.snapshotRange(Map("x" -> (32L, 96L)))
          .filter(col("x").between(32, 96))
          .orderBy(col("pk"))
      },
      Some("""
        SELECT CAST(o_orderkey AS BIGINT) AS pk,
               'p' || CAST(o_custkey % 2 AS VARCHAR) AS part,
               CAST(o_custkey % 512 AS BIGINT) AS x,
               CAST(o_orderkey % 512 AS BIGINT) AS y
        FROM orders
        WHERE o_custkey % 512 BETWEEN 32 AND 96
        ORDER BY pk
      """)),

    // ---- C5 write-time file statistics (round 10c) -------------------------------
    // The Delta per-file-stats analog as a TABLE PROPERTY: with
    // statsColumns set, EVERY commit stamps min/max ranges onto its new
    // files (driver fast-path commits zero-job, distributed commits via a
    // per-file aggregate over only the new files) — so a range predicate
    // prunes the file list on FRESH data with no OPTIMIZE pass
    // (WriteStatsSpec asserts the skip and the 0-job property; this gate
    // pins end-to-end content under the pruned read). Three append
    // commits land disjoint x bands; the read takes half of band one.
    Q(
      "q_acid_write_stats",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", LongType), StructField("part", StringType),
          StructField("x", LongType), StructField("price", DecimalType(18, 2))))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part", stablePartitions = true)
        t.setTableProperty("statsColumns", Some("x"))
        val base = Tables.orders(s, dir).select(
          col("o_orderkey").cast("long").as("pk"),
          (col("o_orderkey") % 3000).cast("long").as("x"),
          Qdsl.dec2(col("o_totalprice")).as("price"))
        (0 to 2).foreach { i =>
          t.upsert(base
            .filter(col("x") >= i * 1000L && col("x") < (i + 1) * 1000L)
            .withColumn("part", lit(s"p$i"))
            .select(col("pk"), col("part"), col("x"), col("price")))
        }
        t.snapshotRange(Map("x" -> (0L, 499L)))
          .filter(col("x") <= 499)
          .select(col("pk"), col("part"), col("x"),
            col("price").cast("double").as("price"))
          .orderBy(col("pk"))
      },
      Some("""
        SELECT CAST(o_orderkey AS BIGINT) AS pk,
               'p0' AS part,
               CAST(o_orderkey % 3000 AS BIGINT) AS x,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        FROM orders
        WHERE o_orderkey % 3000 <= 499
        ORDER BY pk
      """)),

    // ---- C5 write-time stats over TIMESTAMP (round 11) ---------------------------
    // The #1 pruning key on a real lakehouse table is event time. With
    // `statsColumns = ts`, each append stamps the micros-encoded min/max
    // range of its timestamp column (AcidTable.statsEncode); the read
    // takes one year out of three ingest bands via snapshotRangeValues —
    // typed bounds, no knowledge of the encoding. WriteStatsSpec pins the
    // file-skip and encoding soundness; this gate pins end-to-end content
    // under the typed pruned read.
    Q(
      "q_acid_write_stats_ts",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", LongType), StructField("part", StringType),
          StructField("ts", TimestampType), StructField("price", DoubleType)))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part", stablePartitions = true)
        t.setTableProperty("statsColumns", Some("ts"))
        val base = Tables.orders(s, dir).select(
          col("o_orderkey").cast("long").as("pk"),
          col("o_orderdate").as("ts"),
          col("o_totalprice").cast("double").as("price"))
        Seq(("1995", "1997"), ("1997", "1999"), ("1999", "2002")).zipWithIndex.foreach {
          case ((lo, hi), i) =>
            t.upsert(base
              .filter(col("ts") >= lit(s"$lo-01-01") && col("ts") < lit(s"$hi-01-01"))
              .withColumn("part", lit(s"y$i"))
              .select(col("pk"), col("part"), col("ts"), col("price")))
        }
        t.snapshotRangeValues(Map("ts" ->
            (java.sql.Timestamp.valueOf("1995-01-01 00:00:00"),
              java.sql.Timestamp.valueOf("1996-01-01 00:00:00"))))
          .filter(col("ts") < lit("1996-01-01"))
          .orderBy(col("pk"))
      },
      Some("""
        SELECT CAST(o_orderkey AS BIGINT) AS pk,
               'y0' AS part,
               o_orderdate AS ts,
               CAST(o_totalprice AS DOUBLE) AS price
        FROM orders
        WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        ORDER BY pk
      """)),

    // ---- C5 conditional / multi-clause MERGE (round 10) -------------------------
    // The standard Delta/Hudi/Iceberg MERGE surface beyond the reference's
    // one shape: `WHEN MATCHED AND <cond> THEN UPDATE`, a second
    // `WHEN MATCHED AND <cond> THEN DELETE` clause (first-match-wins), and
    // a CONDITIONAL full-row insert — through the SQL-text front-end
    // (AcidSql → AcidTable.mergeConditional; the catalog path and the
    // DataFrame API are pinned equivalent in ConditionalMergeSpec). The
    // oracle replays the clause algebra: k>=15 rows update from the
    // source, of the rest the val>=2 rows delete, unmatched source keys
    // insert iff < 103.
    Q(
      "q_sql_acid_merge_conditional",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("val", DoubleType)))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part", stablePartitions = true)
        val reg = Map("acid.t" -> t, "t" -> t)
        val base = Tables.nation(s, dir).select(
          col("n_nationkey").cast("string").as("pk"),
          concat(lit("p"), (col("n_nationkey") % 2).cast("string")).as("part"),
          col("n_regionkey").cast("double").as("val"))
        t.upsert(base)
        Tables.nation(s, dir).select(
            col("n_nationkey").cast("string").as("pk"),
            concat(lit("p"), (col("n_nationkey") % 2).cast("string")).as("part"),
            col("n_nationkey").cast("double").as("val"))
          .unionByName(s.range(100, 103).select(
            col("id").cast("string").as("pk"),
            concat(lit("p"), (col("id") % 2).cast("string")).as("part"),
            col("id").cast("double").as("val")))
          .unionByName(s.range(103, 105).select(
            col("id").cast("string").as("pk"),
            concat(lit("p"), (col("id") % 2).cast("string")).as("part"),
            col("id").cast("double").as("val")))
          .createOrReplaceTempView("acid_cmerge_src")
        graft.lake.AcidSql.execute(s, reg,
          """MERGE INTO acid.t tgt
            |USING (SELECT * FROM acid_cmerge_src) src
            |ON tgt.pk = src.pk
            |WHEN MATCHED AND src.val >= 15 THEN UPDATE SET tgt.val = src.val
            |WHEN MATCHED AND tgt.val >= 2 THEN DELETE
            |WHEN NOT MATCHED AND src.val < 103 THEN
            |  INSERT (tgt.pk, tgt.part, tgt.val) VALUES (src.pk, src.part, src.val)
            |""".stripMargin)
        t.snapshot().orderBy(col("pk"))
      },
      Some("""
        WITH base AS (
          SELECT CAST(n_nationkey AS VARCHAR) AS pk,
                 'p' || CAST(n_nationkey % 2 AS VARCHAR) AS part,
                 CAST(n_regionkey AS DOUBLE) AS val,
                 n_nationkey AS k
          FROM nation),
        kept AS (
          SELECT pk, part,
                 CASE WHEN k >= 15 THEN CAST(k AS DOUBLE) ELSE val END AS val
          FROM base WHERE k >= 15 OR val < 2),
        ins AS (
          SELECT CAST(k AS VARCHAR) AS pk,
                 'p' || CAST(k % 2 AS VARCHAR) AS part,
                 CAST(k AS DOUBLE) AS val
          FROM range(100, 103) r(k))
        SELECT pk, part, val FROM kept
        UNION ALL SELECT pk, part, val FROM ins
        ORDER BY pk
      """)),

    // ---- C5 full-replace overwrite (INSERT OVERWRITE semantics) -----------------
    // One atomic commit replaces the ENTIRE table: partitions absent from
    // the new batch must vanish (p0 here), not merely lose matched rows —
    // the distinction between overwrite and a big upsert. The oracle
    // replays the final state directly.
    Q(
      "q_acid_overwrite",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("val", DoubleType)))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part", stablePartitions = true)
        val base = Tables.nation(s, dir).select(
          col("n_nationkey").cast("string").as("pk"),
          concat(lit("p"), (col("n_nationkey") % 2).cast("string")).as("part"),
          col("n_regionkey").cast("double").as("val"))
        t.upsert(base)
        t.overwrite(base.filter(col("pk").cast("long") % 2 === 1)
          .withColumn("val", col("val") * 100))
        t.snapshot().orderBy(col("pk"))
      },
      Some("""
        SELECT CAST(n_nationkey AS VARCHAR) AS pk,
               'p' || CAST(n_nationkey % 2 AS VARCHAR) AS part,
               CAST(n_regionkey AS DOUBLE) * 100 AS val
        FROM nation WHERE n_nationkey % 2 = 1
        ORDER BY pk
      """)),

    // ---- C5 predicate DELETE (round 9) ------------------------------------------
    // DELETE FROM … WHERE <arbitrary predicate> — the row-level delete
    // shape beyond the reference's pk-list, through BOTH the API and the
    // SQL-text front-end in one history; a NULL predicate keeps the row
    // (three-valued filter), and the driver kernel handles both
    // statements at metadata scale. The oracle replays the surviving set.
    Q(
      "q_acid_delete_where",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("val", DoubleType)))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part", stablePartitions = true)
        val base = Tables.nation(s, dir).select(
          col("n_nationkey").cast("string").as("pk"),
          concat(lit("p"), (col("n_nationkey") % 2).cast("string")).as("part"),
          col("n_regionkey").cast("double").as("val"))
        t.upsert(base)
        // API predicate delete (driver kernel path)
        t.deleteWhere(col("val") >= 4.0 && col("part") === "p0")
        // SQL-text predicate delete (routed through the same deleteWhere)
        graft.lake.AcidSql.execute(s, Map("t" -> t),
          "DELETE FROM t WHERE CAST(pk AS BIGINT) % 5 = 1")
        // MERGE … WHEN MATCHED THEN DELETE — the third delete shape: the
        // source's key set IS the delete set (bucket-pruned key path)
        base.filter(col("pk").cast("long") >= 20)
          .createOrReplaceTempView("acid_mdel_src")
        graft.lake.AcidSql.execute(s, Map("t" -> t),
          """MERGE INTO t USING (SELECT * FROM acid_mdel_src) s
            |ON t.pk = s.pk WHEN MATCHED THEN DELETE""".stripMargin)
        t.snapshot().orderBy(col("pk"))
      },
      Some("""
        WITH base AS (
          SELECT CAST(n_nationkey AS VARCHAR) AS pk,
                 'p' || CAST(n_nationkey % 2 AS VARCHAR) AS part,
                 CAST(n_regionkey AS DOUBLE) AS val
          FROM nation)
        SELECT pk, part, val FROM base
        WHERE NOT (val >= 4.0 AND part = 'p0')
          AND NOT (CAST(pk AS BIGINT) % 5 = 1)
          AND NOT (CAST(pk AS BIGINT) >= 20)
        ORDER BY pk
      """)),

    // ---- C5 merge-on-read delete: deletion vectors (round 10) -------------------
    // deleteVectored commits its matched keys as inline manifest DV
    // entries — ZERO data I/O, the Delta-deletion-vector / Hudi-MOR form
    // of a point delete. Readers hide entries via a codegen'd scan
    // filter; the next commit touching an entry's cell materializes it
    // (so the re-insert of a deleted key below sees the DV-applied
    // pre-image, never the stale row); compact() sweeps the stragglers
    // so the final state carries no entries at all. The oracle replays
    // the surviving relation; DeletionVectorSpec pins the zero-rewrite /
    // materialization / sweep mechanics on the manifests themselves.
    Q(
      "q_acid_delete_vectored",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("val", DoubleType)))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part", stablePartitions = true)
        val base = Tables.nation(s, dir).select(
          col("n_nationkey").cast("string").as("pk"),
          concat(lit("p"), (col("n_nationkey") % 2).cast("string")).as("part"),
          col("n_regionkey").cast("double").as("val"))
        t.upsert(base)
        // metadata-only MOR delete; the absent key commits no entry
        t.deleteVectored(Seq("3", "7", "11", "999"))
        // re-insert one deleted key: the rewrite materializes its cell's
        // entry first, so the NEW row survives (not the stale pre-delete one)
        t.upsert(base.filter(col("pk") === "7").withColumn("val", lit(99.0)))
        // compaction sweeps the remaining entries' partitions
        t.compact(0)
        t.snapshot().orderBy(col("pk"))
      },
      Some("""
        WITH base AS (
          SELECT CAST(n_nationkey AS VARCHAR) AS pk,
                 'p' || CAST(n_nationkey % 2 AS VARCHAR) AS part,
                 CAST(n_regionkey AS DOUBLE) AS val
          FROM nation)
        SELECT pk, part,
               CASE WHEN pk = '7' THEN CAST(99.0 AS DOUBLE) ELSE val END AS val
        FROM base WHERE pk NOT IN ('3', '11')
        ORDER BY pk
      """)),

    // ---- C5 materialized view: incremental maintenance (round 10) ---------------
    // CREATE MATERIALIZED VIEW … GROUP BY with delta-driven refresh: each
    // refresh folds the source's CDC feed (changesBetween) into the
    // stored per-group state — NO source re-aggregation, refresh cost ∝
    // changed rows. The gate drives update / predicate-delete / MOR-
    // delete / insert commits with a refresh after each, then reads the
    // view; the oracle recomputes the same GROUP BY over the replayed
    // final relation, so any drift in the incremental algebra (signed
    // fold, tombstones, null measures) hash-mismatches. MatViewSpec pins
    // the mechanics (exactly-once markers, tombstone resurrection, NULL
    // group keys, both maintenance strategies).
    Q(
      "q_acid_matview_incremental",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("grp", StringType),
          StructField("price", DecimalType(18, 2)), StructField("ck", LongType)))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part",
          stablePartitions = true)
        val base = Tables.orders(s, dir).select(
          col("o_orderkey").cast("string").as("pk"),
          concat(lit("p"), (col("o_orderkey") % 4).cast("string")).as("part"),
          col("o_orderpriority").as("grp"),
          Qdsl.dec2(col("o_totalprice")).as("price"),
          col("o_custkey").cast("long").as("ck"))
        t.upsert(base)
        val mv = MatView.create(s, t, scratch(), Seq("grp"), Seq(
          MvAgg("cnt", "count", "*"), MvAgg("rev", "sum", "price"),
          MvAgg("avgck", "avg", "ck")))
        // update a tenth of the rows in place
        t.upsert(base.filter(col("pk").cast("long") % 10 === 0)
          .withColumn("price", Qdsl.dec2(col("price") * 2)))
        mv.refresh()
        // predicate delete
        t.deleteWhere(col("pk").cast("long") < 100)
        mv.refresh()
        // merge-on-read delete (deletion vectors: zero data I/O on source)
        t.deleteVectored(Seq("101", "102", "103"))
        mv.refresh()
        // brand-new group
        t.upsert(base.filter(col("pk").cast("long") < 50)
          .withColumn("pk", (col("pk").cast("long") + 1000000).cast("string"))
          .withColumn("grp", lit("9-NEW")))
        mv.refresh()
        mv.read().select(col("grp"), col("cnt"),
          col("rev").cast("double").as("rev"), col("avgck"))
          .orderBy(col("grp"))
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey AS k, o_orderpriority AS grp,
                 CAST(o_totalprice AS DECIMAL(18,2)) AS price,
                 o_custkey AS ck
          FROM orders),
        upd AS (
          SELECT k, grp,
                 CASE WHEN k % 10 = 0 THEN CAST(price * 2 AS DECIMAL(18,2))
                      ELSE price END AS price, ck
          FROM base),
        surv AS (
          SELECT * FROM upd WHERE k >= 100 AND k NOT IN (101, 102, 103)),
        ins AS (
          SELECT k + 1000000 AS k, '9-NEW' AS grp, price, ck
          FROM base WHERE k < 50),
        fin AS (
          SELECT * FROM surv UNION ALL SELECT * FROM ins)
        SELECT grp, COUNT(*) AS cnt,
               CAST(SUM(price) AS DOUBLE) AS rev,
               CAST(SUM(ck) AS DOUBLE) / COUNT(ck) AS avgck
        FROM fin GROUP BY grp ORDER BY grp
      """)),

    // ---- C5 materialized view: min/max via group-targeted recompute -------------
    // min/max are not delete-maintainable from deltas alone (a delete can
    // evict the stored extremum), so those views re-aggregate ONLY the
    // changed groups' source rows — cost tracks the delta's group reach,
    // never table size. The gate evicts maxima by predicate delete, then
    // inserts a new global extremum, refreshing in between.
    Q(
      "q_acid_matview_minmax",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("grp", StringType),
          StructField("price", DecimalType(18, 2)), StructField("ck", LongType)))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part",
          stablePartitions = true)
        val base = Tables.orders(s, dir).filter(col("o_orderkey") < 4000).select(
          col("o_orderkey").cast("string").as("pk"),
          concat(lit("p"), (col("o_orderkey") % 4).cast("string")).as("part"),
          col("o_orderstatus").as("grp"),
          Qdsl.dec2(col("o_totalprice")).as("price"),
          col("o_custkey").cast("long").as("ck"))
        t.upsert(base)
        val mv = MatView.create(s, t, scratch(), Seq("grp"), Seq(
          MvAgg("cnt", "count", "*"), MvAgg("mx", "max", "price"),
          MvAgg("mn", "min", "ck")))
        // evict maxima: every price above the threshold goes away
        t.deleteWhere(col("price") > 300000.0)
        mv.refresh()
        // new extremum in one group
        t.upsert(base.limit(0).unionByName(s.createDataFrame(
          java.util.Arrays.asList(
            org.apache.spark.sql.Row("9000001", "p1", "O",
              new java.math.BigDecimal("999999.99"), 1L)),
          schema)))
        mv.refresh()
        mv.read().select(col("grp"), col("cnt"),
          col("mx").cast("double").as("mx"), col("mn"))
          .orderBy(col("grp"))
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey AS k, o_orderstatus AS grp,
                 CAST(o_totalprice AS DECIMAL(18,2)) AS price,
                 o_custkey AS ck
          FROM orders WHERE o_orderkey < 4000),
        surv AS (SELECT * FROM base WHERE price <= 300000.0),
        fin AS (
          SELECT * FROM surv
          UNION ALL
          SELECT 9000001, 'O', CAST(999999.99 AS DECIMAL(18,2)), 1),
        agg AS (
          SELECT grp, COUNT(*) AS cnt, CAST(MAX(price) AS DOUBLE) AS mx,
                 MIN(ck) AS mn
          FROM fin GROUP BY grp)
        SELECT grp, cnt, mx, mn FROM agg ORDER BY grp
      """)),

    // ---- C5 merge-on-read table MODE (morDeletes property) ----------------------
    // Delta's enableDeletionVectors analog as a TABLE PROPERTY: with
    // morDeletes set, plain DELETE statements from any front-end commit
    // deletion vectors (metadata-only) instead of rewriting file groups;
    // UNSET flips back to copy-on-write mid-history. The gate runs the
    // whole lifecycle as SQL text — CREATE TABLE TBLPROPERTIES, DELETEs
    // under both modes, ALTER TABLE UNSET between them — and reads the
    // final snapshot over live DV entries; the oracle replays survival.
    Q(
      "q_sql_acid_mor_mode",
      (s, dir) => {
        val sess = new graft.lake.AcidSqlSession(s, scratch())
        sess.execute("CREATE SCHEMA IF NOT EXISTS db")
        sess.execute("""CREATE TABLE db.t (pk STRING, part STRING, val DOUBLE)
          USING hudi PARTITIONED BY (part)
          TBLPROPERTIES (primaryKey = 'pk', morDeletes = 'true')""")
        Tables.nation(s, dir).select(
          col("n_nationkey").cast("string").as("pk"),
          concat(lit("p"), (col("n_nationkey") % 2).cast("string")).as("part"),
          col("n_regionkey").cast("double").as("val"))
          .createOrReplaceTempView("mor_base")
        sess.execute("INSERT INTO db.t SELECT * FROM mor_base")
        // merge-on-read: these commit DV entries, zero data I/O — the
        // key shape AND the predicate shape (bounded matched set)
        sess.execute("DELETE FROM db.t WHERE pk IN ('1', '4', '9')")
        sess.execute("DELETE FROM db.t WHERE val = 4.0")
        sess.execute("ALTER TABLE db.t UNSET TBLPROPERTIES ('morDeletes')")
        // copy-on-write again: this one rewrites its cells
        sess.execute("DELETE FROM db.t WHERE pk IN ('2')")
        sess.query("SELECT pk, part, val FROM db.t ORDER BY pk")
      },
      Some("""
        SELECT CAST(n_nationkey AS VARCHAR) AS pk,
               'p' || CAST(n_nationkey % 2 AS VARCHAR) AS part,
               CAST(n_regionkey AS DOUBLE) AS val
        FROM nation
        WHERE CAST(n_nationkey AS VARCHAR) NOT IN ('1', '4', '9', '2')
          AND n_regionkey <> 4
        ORDER BY pk
      """)),

    // ---- C5 materialized view: star-join maintenance (round 18) -----------------
    // CREATE MATERIALIZED VIEW over `fact JOIN dim GROUP BY dim.col` —
    // the most common production MV shape — maintained with the bilinear
    // delta decomposition Δ(F⋈D) = ΔF⋈D_old ∪ F_new⋈ΔD: a fact-only
    // commit folds as delta-fact ⋈ dim (no fact scan), a dim change
    // re-joins the fact against the dim DELTA only. The gate drives fact
    // updates / predicate deletes / inserts AND dim relabels / deletes —
    // including both sides changing inside ONE refresh window — then
    // reads the view; the oracle recomputes the star rollup over the two
    // replayed relations. MatViewJoinSpec pins the mechanics (dual
    // high-water marker, destroyed-unchanged-partition delta-boundedness,
    // min/max join recompute, SQL join grammar on both front-ends).
    Q(
      "q_acid_matview_join",
      (s, dir) => {
        import graft.lake.MvJoin
        val factSchema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("ck", StringType), StructField("price", DecimalType(18, 2))))
        val dimSchema = StructType(Seq(
          StructField("ckey", StringType), StructField("dpart", StringType),
          StructField("seg", StringType)))
        val fact = AcidTable.create(s, scratch(), factSchema, "pk", "part",
          stablePartitions = true)
        val dim = AcidTable.create(s, scratch(), dimSchema, "ckey", "dpart",
          stablePartitions = true)
        val fBase = Tables.orders(s, dir).filter(col("o_orderkey") < 20000).select(
          col("o_orderkey").cast("string").as("pk"),
          concat(lit("p"), (col("o_orderkey") % 4).cast("string")).as("part"),
          col("o_custkey").cast("string").as("ck"),
          Qdsl.dec2(col("o_totalprice")).as("price"))
        val dBase = Tables.customer(s, dir).filter(col("c_custkey") < 400).select(
          col("c_custkey").cast("string").as("ckey"),
          concat(lit("q"), (col("c_nationkey") % 3).cast("string")).as("dpart"),
          col("c_mktsegment").as("seg"))
        // two independent tables load concurrently (guide §2.6)
        inParallel(() => { fact.upsert(fBase); () }, () => { dim.upsert(dBase); () })
        val mv = MatView.create(s, fact, scratch(), Seq("seg"),
          Seq(MvAgg("cnt", "count", "*"), MvAgg("rev", "sum", "price")),
          joins = Seq(MvJoin(dim.path, "ck", "ckey", Seq("seg"))))
        // fact-only trickle: price updates fold as ΔF ⋈ dim, no fact scan
        fact.upsert(fBase.filter(col("pk").cast("long") % 10 === 0)
          .withColumn("price", Qdsl.dec2(col("price") * 2)))
        mv.refresh()
        // fact predicate delete
        fact.deleteWhere(col("pk").cast("long") < 500)
        mv.refresh()
        // dim relabel: whole customer slices move between groups
        dim.upsert(dBase.filter(col("ckey").cast("long") % 5 === 0)
          .withColumn("seg", lit("REMAPPED")))
        mv.refresh()
        // both sides change inside ONE refresh window: dim keys vanish
        // while brand-new facts arrive (independent tables — concurrent)
        inParallel(
          () => { dim.delete(Seq("7", "13")); () },
          () => { fact.upsert(fBase.filter(col("pk").cast("long") < 300)
            .withColumn("pk", (col("pk").cast("long") + 9000000).cast("string"))); () })
        mv.refresh()
        mv.read().select(col("seg"), col("cnt"),
          col("rev").cast("double").as("rev")).orderBy(col("seg"))
      },
      Some("""
        WITH fbase AS (
          SELECT o_orderkey AS k, o_custkey AS ck,
                 CAST(o_totalprice AS DECIMAL(18,2)) AS price
          FROM orders WHERE o_orderkey < 20000),
        fupd AS (
          SELECT k, ck,
                 CASE WHEN k % 10 = 0 THEN CAST(price * 2 AS DECIMAL(18,2))
                      ELSE price END AS price
          FROM fbase),
        fsurv AS (SELECT * FROM fupd WHERE k >= 500),
        fins AS (SELECT k + 9000000 AS k, ck, price FROM fbase WHERE k < 300),
        ffin AS (SELECT * FROM fsurv UNION ALL SELECT * FROM fins),
        dbase AS (
          SELECT c_custkey AS ckey, c_mktsegment AS seg
          FROM customer WHERE c_custkey < 400),
        dfin AS (
          SELECT ckey,
                 CASE WHEN ckey % 5 = 0 THEN 'REMAPPED' ELSE seg END AS seg
          FROM dbase WHERE ckey NOT IN (7, 13))
        SELECT seg, COUNT(*) AS cnt, CAST(SUM(price) AS DOUBLE) AS rev
        FROM ffin JOIN dfin ON ffin.ck = dfin.ckey
        GROUP BY seg ORDER BY seg
      """)),

    // ---- C5 materialized view: MULTI-DIM star maintenance (round 18) ------------
    // The full production star: `fact ⋈ dim1 ⋈ dim2 GROUP BY d1.col,
    // d2.col`, maintained with the telescoping decomposition (one term
    // per changed relation, each with exactly one delta side). The gate
    // drives fact-only windows (driver fold), each dim alone, and all
    // three sides changing inside ONE refresh window; the oracle
    // recomputes the two-dim rollup over the replayed relations.
    Q(
      "q_acid_matview_star",
      (s, dir) => {
        import graft.lake.MvJoin
        val factSchema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("ck", StringType), StructField("pr", StringType),
          StructField("price", DecimalType(18, 2))))
        val dim1Schema = StructType(Seq(
          StructField("ckey", StringType), StructField("dpart", StringType),
          StructField("seg", StringType)))
        val dim2Schema = StructType(Seq(
          StructField("prio", StringType), StructField("ppart", StringType),
          StructField("pclass", StringType)))
        val fact = AcidTable.create(s, scratch(), factSchema, "pk", "part",
          stablePartitions = true)
        val dim1 = AcidTable.create(s, scratch(), dim1Schema, "ckey", "dpart",
          stablePartitions = true)
        val dim2 = AcidTable.create(s, scratch(), dim2Schema, "prio", "ppart",
          stablePartitions = true)
        val fBase = Tables.orders(s, dir).filter(col("o_orderkey") < 20000).select(
          col("o_orderkey").cast("string").as("pk"),
          concat(lit("p"), (col("o_orderkey") % 4).cast("string")).as("part"),
          col("o_custkey").cast("string").as("ck"),
          col("o_orderpriority").as("pr"),
          Qdsl.dec2(col("o_totalprice")).as("price"))
        val dBase = Tables.customer(s, dir).filter(col("c_custkey") < 400).select(
          col("c_custkey").cast("string").as("ckey"),
          concat(lit("q"), (col("c_nationkey") % 3).cast("string")).as("dpart"),
          col("c_mktsegment").as("seg"))
        val pBase = Tables.orders(s, dir).select(col("o_orderpriority")).distinct()
          .select(col("o_orderpriority").as("prio"), lit("r0").as("ppart"),
            when(substring(col("o_orderpriority"), 1, 1).isin("1", "2"), lit("HOT"))
              .otherwise(lit("COLD")).as("pclass"))
        // three independent tables load concurrently (guide §2.6)
        inParallel(() => { fact.upsert(fBase); () },
          () => { dim1.upsert(dBase); () }, () => { dim2.upsert(pBase); () })
        val mv = MatView.create(s, fact, scratch(), Seq("seg", "pclass"),
          Seq(MvAgg("cnt", "count", "*"), MvAgg("rev", "sum", "price")),
          joins = Seq(MvJoin(dim1.path, "ck", "ckey", Seq("seg")),
            MvJoin(dim2.path, "pr", "prio", Seq("pclass"))))
        // fact-only trickle (driver fold: ΔF ⋈ both dims, zero jobs)
        fact.upsert(fBase.filter(col("pk").cast("long") % 10 === 0)
          .withColumn("price", Qdsl.dec2(col("price") * 2)))
        mv.refresh()
        // dim1-only window: customer slices relabel
        dim1.upsert(dBase.filter(col("ckey").cast("long") % 5 === 0)
          .withColumn("seg", lit("REMAPPED")))
        mv.refresh()
        // dim2-only window: a priority class flips wholesale
        dim2.upsert(pBase.filter(substring(col("prio"), 1, 1) === "3")
          .withColumn("pclass", lit("HOT")))
        mv.refresh()
        // ALL THREE sides change inside one refresh window (the three
        // DMLs hit three independent tables — concurrent, §2.6)
        inParallel(
          () => { fact.deleteWhere(col("pk").cast("long") < 500); () },
          () => { dim1.delete(Seq("7", "13")); () },
          () => { dim2.upsert(pBase.filter(substring(col("prio"), 1, 1) === "5")
            .withColumn("pclass", lit("URGENTISH"))); () })
        mv.refresh()
        mv.read().select(col("seg"), col("pclass"), col("cnt"),
          col("rev").cast("double").as("rev"))
          .orderBy(col("seg"), col("pclass"))
      },
      Some("""
        WITH fbase AS (
          SELECT o_orderkey AS k, o_custkey AS ck, o_orderpriority AS pr,
                 CAST(o_totalprice AS DECIMAL(18,2)) AS price
          FROM orders WHERE o_orderkey < 20000),
        fupd AS (
          SELECT k, ck, pr,
                 CASE WHEN k % 10 = 0 THEN CAST(price * 2 AS DECIMAL(18,2))
                      ELSE price END AS price
          FROM fbase),
        ffin AS (SELECT * FROM fupd WHERE k >= 500),
        dbase AS (
          SELECT c_custkey AS ckey, c_mktsegment AS seg
          FROM customer WHERE c_custkey < 400),
        dfin AS (
          SELECT ckey,
                 CASE WHEN ckey % 5 = 0 THEN 'REMAPPED' ELSE seg END AS seg
          FROM dbase WHERE ckey NOT IN (7, 13)),
        pbase AS (
          SELECT DISTINCT o_orderpriority AS prio,
                 CASE WHEN substring(o_orderpriority, 1, 1) IN ('1', '2')
                      THEN 'HOT' ELSE 'COLD' END AS pclass
          FROM orders),
        pfin AS (
          SELECT prio,
                 CASE WHEN substring(prio, 1, 1) = '3' THEN 'HOT'
                      WHEN substring(prio, 1, 1) = '5' THEN 'URGENTISH'
                      ELSE pclass END AS pclass
          FROM pbase)
        SELECT seg, pclass, COUNT(*) AS cnt, CAST(SUM(price) AS DOUBLE) AS rev
        FROM ffin JOIN dfin ON ffin.ck = dfin.ckey
                  JOIN pfin ON ffin.pr = pfin.prio
        GROUP BY seg, pclass ORDER BY seg, pclass
      """)),

    // ---- C5 materialized view: LIVE stream maintenance --------------------------
    // The production loop closed: the view maintains itself off the
    // table's change-feed STREAM (AcidCdc source → per-batch fold with
    // the same MVREFRESH high-water marker), no manual refresh anywhere.
    // Commits land while the checkpointed stream is stopped and a second
    // run catches up — the oracle recomputes the final GROUP BY.
    Q(
      "q_acid_matview_stream",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("grp", StringType), StructField("ck", LongType)))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part",
          stablePartitions = true)
        val base = Tables.orders(s, dir).filter(col("o_orderkey") < 5000).select(
          col("o_orderkey").cast("string").as("pk"),
          concat(lit("p"), (col("o_orderkey") % 3).cast("string")).as("part"),
          col("o_orderpriority").as("grp"),
          col("o_custkey").cast("long").as("ck"))
        t.upsert(base)
        val mv = MatView.create(s, t, scratch(), Seq("grp"), Seq(
          MvAgg("cnt", "count", "*"), MvAgg("sck", "sum", "ck")))
        // burst of commits, then one AvailableNow maintenance run
        t.deleteWhere(col("pk").cast("long") % 7 === 0)
        t.upsert(base.filter(col("pk").cast("long") % 5 === 0)
          .withColumn("ck", col("ck") + 1000000))
        val ckpt = scratch()
        locally {
          val mq = mv.maintainStream(ckpt); mq.awaitTermination()
          graft.QueryTelemetry.recordStream(mq)
        }
        // more commits while the stream is down; same checkpoint resumes
        t.deleteVectored(Seq("3", "6"))
        locally {
          val mq = mv.maintainStream(ckpt); mq.awaitTermination()
          graft.QueryTelemetry.recordStream(mq)
        }
        mv.read().select(col("grp"), col("cnt"),
          col("sck").cast("long").as("sck")).orderBy(col("grp"))
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey AS k, o_orderpriority AS grp, o_custkey AS ck
          FROM orders WHERE o_orderkey < 5000),
        upd AS (
          SELECT k, grp,
                 CASE WHEN k % 5 = 0 THEN ck + 1000000 ELSE ck END AS ck
          FROM base WHERE k % 7 <> 0 OR k % 5 = 0),
        surv AS (SELECT * FROM upd WHERE k NOT IN (3, 6))
        SELECT grp, COUNT(*) AS cnt, CAST(SUM(ck) AS BIGINT) AS sck
        FROM surv GROUP BY grp ORDER BY grp
      """)),

    // ---- C5 materialized view: SQL text lifecycle -------------------------------
    // CREATE MATERIALIZED VIEW … AS SELECT … GROUP BY / REFRESH
    // MATERIALIZED VIEW / SELECT-from-view through the text front-end —
    // the whole derived-table lifecycle as statements, views joining
    // tables in the same query. The oracle replays the DML and
    // recomputes the aggregation.
    Q(
      "q_sql_matview",
      (s, dir) => {
        val wh = scratch()
        val sess = new graft.lake.AcidSqlSession(s, wh)
        sess.execute("CREATE SCHEMA IF NOT EXISTS db")
        sess.execute("""CREATE TABLE db.src (pk STRING, part STRING, grp STRING, ck BIGINT)
          USING hudi PARTITIONED BY (part) TBLPROPERTIES (primaryKey = 'pk')""")
        Tables.orders(s, dir).filter(col("o_orderkey") < 6000).select(
          col("o_orderkey").cast("string").as("pk"),
          concat(lit("p"), (col("o_orderkey") % 3).cast("string")).as("part"),
          col("o_orderpriority").as("grp"),
          col("o_custkey").cast("long").as("ck"))
          .createOrReplaceTempView("mv_src_rows")
        sess.execute("INSERT INTO db.src SELECT * FROM mv_src_rows")
        sess.execute("""CREATE MATERIALIZED VIEW db.prio AS
          SELECT grp, count(*) AS cnt, sum(ck) AS sck, max(ck) AS mck
          FROM db.src GROUP BY grp""")
        sess.execute("DELETE FROM db.src WHERE CAST(pk AS BIGINT) % 7 = 0")
        sess.execute("UPDATE db.src SET ck = ck + 1000000 WHERE CAST(pk AS BIGINT) % 5 = 0")
        sess.execute("REFRESH MATERIALIZED VIEW db.prio")
        sess.query("SELECT grp, cnt, sck, mck FROM db.prio ORDER BY grp")
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey AS k, o_orderpriority AS grp, o_custkey AS ck
          FROM orders WHERE o_orderkey < 6000),
        surv AS (
          SELECT k, grp,
                 CASE WHEN k % 5 = 0 THEN ck + 1000000 ELSE ck END AS ck
          FROM base WHERE k % 7 <> 0)
        SELECT grp, COUNT(*) AS cnt, CAST(SUM(ck) AS BIGINT) AS sck, MAX(ck) AS mck
        FROM surv GROUP BY grp ORDER BY grp
      """)),

    // ---- C5 materialized view through the DSv2 catalog front-end (round 11) -----
    // The same lifecycle as q_sql_matview, but in `spark.sql(...)` proper:
    // CREATE/REFRESH/DROP MATERIALIZED VIEW parse through the
    // GraftSqlParser session extension (Spark's grammar lacks them), the
    // source DML runs through the GraftCatalog DSv2 route, and the view
    // reads back as a first-class catalog table. The defining SELECT
    // reduces through MatView.parseSelect — the SAME rules as the text
    // front-end, pinned shared in MatViewSpec.
    Q(
      "q_sql_matview_catalog",
      (s, dir) => {
        val wh = scratch()
        s.conf.set("spark.sql.catalog.graft", classOf[graft.lake.GraftCatalog].getName)
        s.conf.set("spark.sql.graft.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvq")
        s.sql("""CREATE TABLE graft.mvq.src (pk STRING, part STRING, grp STRING, ck BIGINT)
          PARTITIONED BY (part) TBLPROPERTIES ('primaryKey' = 'pk')""")
        Tables.orders(s, dir).filter(col("o_orderkey") < 6000).select(
          col("o_orderkey").cast("string").as("pk"),
          concat(lit("p"), (col("o_orderkey") % 3).cast("string")).as("part"),
          col("o_orderpriority").as("grp"),
          col("o_custkey").cast("long").as("ck"))
          .createOrReplaceTempView("mv_cat_src_rows")
        s.sql("INSERT INTO graft.mvq.src SELECT * FROM mv_cat_src_rows")
        s.sql("""CREATE MATERIALIZED VIEW graft.mvq.prio AS
          SELECT grp, count(*) AS cnt, sum(ck) AS sck, max(ck) AS mck
          FROM graft.mvq.src GROUP BY grp""")
        s.sql("DELETE FROM graft.mvq.src WHERE ck < 300")
        s.sql("INSERT INTO graft.mvq.src " +
          "SELECT pk, part, 'X-NEW' AS grp, ck + 1000000 AS ck " +
          "FROM mv_cat_src_rows WHERE CAST(pk AS BIGINT) % 100 = 0")
        s.sql("REFRESH MATERIALIZED VIEW graft.mvq.prio")
        s.sql("SELECT grp, cnt, sck, mck FROM graft.mvq.prio ORDER BY grp")
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey AS k, o_orderpriority AS grp, o_custkey AS ck
          FROM orders WHERE o_orderkey < 6000),
        surv AS (
          SELECT k, CASE WHEN k % 100 = 0 THEN 'X-NEW' ELSE grp END AS grp,
                 CASE WHEN k % 100 = 0 THEN ck + 1000000 ELSE ck END AS ck
          FROM base WHERE ck >= 300 OR k % 100 = 0)
        SELECT grp, COUNT(*) AS cnt, CAST(SUM(ck) AS BIGINT) AS sck, MAX(ck) AS mck
        FROM surv GROUP BY grp ORDER BY grp
      """)),

    // ---- C5 schema evolution: DROP column + physical purge ----------------------
    // The other direction (round 9): dropColumns is metadata-only (readers
    // stop projecting instantly; old files keep the bytes), and compact()
    // afterwards is the PHYSICAL purge — the GDPR-shaped removal. The gate
    // drives drop → post-drop upsert (new files born without the column)
    // → full compaction, and the oracle replays the surviving relation;
    // DropColumnSpec additionally pins that the rewritten files' parquet
    // schemas no longer carry the column at all.
    Q(
      "q_acid_drop_column",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("val", DoubleType), StructField("tag", StringType)))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part", stablePartitions = true)
        val base = Tables.nation(s, dir).select(
          col("n_nationkey").cast("string").as("pk"),
          concat(lit("p"), (col("n_nationkey") % 2).cast("string")).as("part"),
          col("n_regionkey").cast("double").as("val"),
          concat(lit("t"), col("n_nationkey").cast("string")).as("tag"))
        t.upsert(base)
        val t2 = t.dropColumns(Seq("tag"))
        t2.upsert(base.drop("tag").filter(col("pk").cast("long") % 3 === 0)
          .withColumn("val", col("val") + 10))
        t2.compact(0)
        t2.snapshot().orderBy(col("pk"))
      },
      Some("""
        WITH base AS (
          SELECT CAST(n_nationkey AS VARCHAR) AS pk,
                 'p' || CAST(n_nationkey % 2 AS VARCHAR) AS part,
                 CAST(n_regionkey AS DOUBLE) AS val
          FROM nation)
        SELECT pk, part,
               CASE WHEN CAST(pk AS BIGINT) % 3 = 0 THEN val + 10 ELSE val END AS val
        FROM base ORDER BY pk
      """)),

    // ---- C5 schema evolution: add-column without data rewrite -------------------
    // Rows written before the evolution lack the column physically; the
    // explicit-schema snapshot scan surfaces them as NULL — the Delta/Hudi
    // add-column contract. The oracle replays the same sequence in SQL.
    Q(
      "q_acid_schema_evolution",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("val", DoubleType)))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part", stablePartitions = true)
        val base = Tables.nation(s, dir).select(
          col("n_nationkey").cast("string").as("pk"),
          concat(lit("p"), (col("n_nationkey") % 2).cast("string")).as("part"),
          col("n_regionkey").cast("double").as("val"))
        t.upsert(base)
        val t2 = t.addColumns(Seq(StructField("tag", StringType)))
        t2.upsert(base.filter(col("pk").cast("long") % 3 === 0)
          .withColumn("val", col("val") + 1)
          .withColumn("tag", concat(lit("t"), col("pk"))))
        t2.snapshot().orderBy(col("pk"))
      },
      Some("""
        WITH base AS (
          SELECT CAST(n_nationkey AS VARCHAR) AS pk,
                 'p' || CAST(n_nationkey % 2 AS VARCHAR) AS part,
                 CAST(n_regionkey AS DOUBLE) AS val
          FROM nation)
        SELECT pk, part,
               CASE WHEN CAST(pk AS BIGINT) % 3 = 0 THEN val + 1 ELSE val END AS val,
               CASE WHEN CAST(pk AS BIGINT) % 3 = 0 THEN 't' || pk ELSE NULL END AS tag
        FROM base ORDER BY pk
      """)),

    // ---- C5 precombine dedup on ingest + MERGE (matched-update / insert) --------
    Q(
      "q_acid_merge_precombine",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("seq", LongType), StructField("val", DoubleType)))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part",
          precombineCol = Some("seq"), stablePartitions = true)
        // batch with duplicate PKs: one lineitem row per (orderkey, linenumber);
        // precombine must keep the greatest linenumber per order
        val batch = Tables.lineitem(s, dir)
          .filter(col("l_orderkey") < 200)
          .select(
            col("l_orderkey").cast("string").as("pk"),
            concat(lit("p"), (col("l_orderkey") % 3).cast("string")).as("part"),
            col("l_linenumber").cast("long").as("seq"),
            col("l_extendedprice").as("val"))
        t.upsert(batch)
        // MERGE: double val for even keys (matched, updates only `val`),
        // insert a few fresh keys from orders (not-matched path)
        val updates = t.snapshot()
          .filter(col("pk").cast("long") % 2 === 0)
          .withColumn("val", col("val") * 2)
        val inserts = Tables.orders(s, dir)
          .filter(col("o_orderkey").between(200, 210))
          .select(
            concat(lit("new"), col("o_orderkey").cast("string")).as("pk"),
            lit("p9").as("part"),
            lit(0L).as("seq"),
            col("o_totalprice").as("val"))
        t.merge(updates.unionByName(inserts), updateCols = Seq("val"))
        t.snapshot().orderBy(col("pk"))
      },
      Some("""
        WITH b AS (
          SELECT CAST(l_orderkey AS VARCHAR) AS pk,
                 'p' || CAST(l_orderkey % 3 AS VARCHAR) AS part,
                 CAST(l_linenumber AS BIGINT) AS seq,
                 l_extendedprice AS val
          FROM lineitem WHERE l_orderkey < 200),
        ded AS (
          SELECT pk, part, seq, val FROM
            (SELECT *, row_number() OVER (PARTITION BY pk ORDER BY seq DESC, part DESC, val DESC) AS rn FROM b)
          WHERE rn = 1),
        merged AS (
          SELECT pk, part, seq,
                 CASE WHEN CAST(pk AS BIGINT) % 2 = 0 THEN val * 2 ELSE val END AS val
          FROM ded
          UNION ALL
          SELECT 'new' || CAST(o_orderkey AS VARCHAR) AS pk, 'p9' AS part,
                 CAST(0 AS BIGINT) AS seq, o_totalprice AS val
          FROM orders WHERE o_orderkey BETWEEN 200 AND 210)
        SELECT pk, part, seq, val FROM merged ORDER BY pk
      """)),

    // ---- C5 manifest statistics drive join planning (round 10) ------------------
    // The DSv2 scan reports its PRUNED size from the manifest's #sizes=
    // header (SupportsReportStatistics), so a dimension-sized ACID table
    // auto-broadcasts in a SQL join with NO hint — without the stats, DSv2
    // falls back to defaultSizeInBytes (Long.MaxValue) and every join over
    // the catalog becomes a sort-merge. The broadcast itself is asserted
    // in PlanAssertionsSpec; this gate pins the VALUES of the stats-planned
    // join against DuckDB.
    Q(
      "q_sql_acid_stats_join",
      (s, dir) => {
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.lake.GraftCatalog].getName)
        s.conf.set("spark.sql.graft.warehouse", scratch())
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft.stats")
        s.sql("""CREATE TABLE graft.stats.dim (pk STRING, part STRING, nation_name STRING)
                |PARTITIONED BY (part)
                |TBLPROPERTIES ('primaryKey' = 'pk')""".stripMargin)
        Tables.nation(s, dir).select(
          col("n_nationkey").cast("string").as("pk"),
          concat(lit("p"), (col("n_nationkey") % 2).cast("string")).as("part"),
          col("n_name").as("nation_name"))
          .createOrReplaceTempView("stats_dim_src")
        s.sql("INSERT INTO graft.stats.dim SELECT * FROM stats_dim_src")
        Tables.customer(s, dir).createOrReplaceTempView("stats_fact_cust")
        s.sql("""SELECT d.nation_name,
                |       COUNT(*) AS n_cust,
                |       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
                |FROM stats_fact_cust c
                |JOIN graft.stats.dim d ON CAST(c.c_nationkey AS STRING) = d.pk
                |GROUP BY d.nation_name
                |ORDER BY d.nation_name""".stripMargin)
      },
      Some("""
        SELECT n.n_name AS nation_name,
               COUNT(*) AS n_cust,
               CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1 ORDER BY 1
      """)),

    // ---- C5 catalog metadata tables (round 18c) ---------------------------------
    // The Iceberg metadata-table idiom: `db.t.history` / `.partitions` /
    // `.tags` / `.branches` (+ `.detail`) resolve through the catalog as
    // read-only relations, so plain SELECT — joins, filters, aggregations
    // included — reaches the operational surfaces without SHOW/DESCRIBE
    // verbs. The lifecycle runs deterministic DML (numBuckets=1 so file
    // counts are exact), tags and forks refs, then UNIONs the relations'
    // deterministic columns; the oracle is the literal expected state.
    Q(
      "q_sql_metadata_tables",
      (s, dir) => {
        val wh = scratch()
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.lake.GraftCatalog].getName)
        s.conf.set("spark.sql.graft.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft.md")
        s.sql("""CREATE TABLE graft.md.mt (pk STRING, part STRING, val DOUBLE)
                |PARTITIONED BY (part)
                |TBLPROPERTIES ('primaryKey' = 'pk', 'numBuckets' = '1')""".stripMargin)
        Tables.nation(s, dir).select(
          col("n_nationkey").cast("string").as("pk"),
          concat(lit("p"), (col("n_nationkey") % 2).cast("string")).as("part"),
          col("n_regionkey").cast("double").as("val"))
          .createOrReplaceTempView("md_src")
        s.sql("INSERT INTO graft.md.mt SELECT * FROM md_src") // v0
        s.sql("DELETE FROM graft.md.mt WHERE pk IN ('4', '8')") // v1
        val t = AcidTable.open(s, s"$wh/md/mt")
        t.createTag("train")
        t.createBranch("audit")
        s.sql("""
          |SELECT 'history' AS rel, CAST(version AS STRING) AS k, operation AS v
          |FROM graft.md.mt.history
          |UNION ALL
          |SELECT 'partitions', part, CAST(num_files AS STRING)
          |FROM graft.md.mt.partitions
          |UNION ALL
          |SELECT 'tags', tag, CAST(version AS STRING) FROM graft.md.mt.tags
          |UNION ALL
          |SELECT 'branches', branch, CAST(fork_version AS STRING)
          |FROM graft.md.mt.branches
          |ORDER BY rel, k, v""".stripMargin)
      },
      Some("""
        SELECT rel, k, v FROM (VALUES
          ('branches', 'audit', '1'),
          ('history', '0', 'UPSERT'),
          ('history', '1', 'DELETE'),
          ('partitions', 'p0', '1'),
          ('partitions', 'p1', '1'),
          ('tags', 'train', '1')) AS m(rel, k, v)
        ORDER BY rel, k, v
      """)),

    // ---- C5 zero-copy SHALLOW CLONE (round 10) ----------------------------------
    // cloneTo hard-links the pinned snapshot's files into an independent
    // table (O(files) metadata, no data copied); both sides then diverge:
    // the clone deletes + upserts, the SOURCE deletes different rows
    // AFTER the clone was taken. The result is both final snapshots side
    // by side; the oracle replays the fork — identical prefix lineage,
    // independent suffixes. Zero-copy itself (shared inodes, vacuum
    // independence) is pinned in CloneSpec.
    Q(
      "q_acid_clone",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("val", DoubleType)))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part", stablePartitions = true)
        val base = Tables.nation(s, dir).select(
          col("n_nationkey").cast("string").as("pk"),
          concat(lit("p"), (col("n_nationkey") % 2).cast("string")).as("part"),
          col("n_regionkey").cast("double").as("val"))
        t.upsert(base)
        t.upsert(base.filter(col("pk").cast("long") % 5 === 0)
          .withColumn("val", col("val") + 10))
        val c = t.cloneTo(scratch())
        c.delete(Seq("1", "2"))
        c.upsert(base.filter(col("pk").cast("long") % 3 === 0)
          .withColumn("val", lit(0.0)))
        t.deleteWhere(col("pk").cast("long") % 7 === 0)
        c.snapshot().withColumn("side", lit("clone"))
          .unionByName(t.snapshot().withColumn("side", lit("source")))
          .orderBy(col("side"), col("pk"))
      },
      Some("""
        WITH base AS (
          SELECT CAST(n_nationkey AS VARCHAR) AS pk,
                 'p' || CAST(n_nationkey % 2 AS VARCHAR) AS part,
                 CAST(n_regionkey AS DOUBLE) AS val
          FROM nation),
        v1 AS (
          SELECT pk, part,
                 CASE WHEN CAST(pk AS BIGINT) % 5 = 0 THEN val + 10 ELSE val END AS val
          FROM base),
        clone_final AS (
          SELECT pk, part,
                 CASE WHEN CAST(pk AS BIGINT) % 3 = 0 THEN 0.0 ELSE val END AS val
          FROM v1 WHERE pk NOT IN ('1', '2')),
        source_final AS (
          SELECT pk, part, val FROM v1 WHERE CAST(pk AS BIGINT) % 7 <> 0)
        SELECT pk, part, val, 'clone' AS side FROM clone_final
        UNION ALL
        SELECT pk, part, val, 'source' AS side FROM source_final
        ORDER BY side, pk
      """)),

    // ---- C5 named branches + write-audit-publish (round 18c) --------------------
    // Iceberg's branch/WAP surface on the manifest design: a branch is a
    // zero-copy fork under the table root; staged commits are invisible on
    // main until a squashed CAS publish fast-forwards it (fork+1). The
    // lifecycle stages an upsert+delete on a branch, PROVES main unchanged
    // during the audit, publishes, then PROVES a second branch whose fork
    // was overtaken by a direct main commit is refused typed (the oracle
    // never sees its staged write). Delta-bounded publish, link hygiene,
    // DV/meta/index carry are pinned in BranchSpec.
    Q(
      "q_acid_branch_wap",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("val", DoubleType)))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part", stablePartitions = true)
        val base = Tables.nation(s, dir).select(
          col("n_nationkey").cast("string").as("pk"),
          concat(lit("p"), (col("n_nationkey") % 2).cast("string")).as("part"),
          col("n_regionkey").cast("double").as("val"))
        t.upsert(base)
        val preFork = t.snapshot().collect().toSet
        val br = t.createBranch("audit")
        br.upsert(base.filter(col("pk").cast("long") % 3 === 0)
          .withColumn("val", col("val") + 100))
        br.delete(Seq("4", "8"))
        // the audit: staged rows visible on the branch, main bit-unchanged
        require(t.snapshot().collect().toSet == preFork,
          "branch staging must not leak onto main")
        require(t.branch("audit").snapshot().count() == 23,
          "branch must expose the staged state")
        t.publishBranch("audit")
        // a branch whose fork main has since overtaken must refuse publish
        val stale = t.createBranch("stale")
        stale.upsert(s.createDataFrame(
          java.util.Arrays.asList(org.apache.spark.sql.Row("0", "p0", -999.0)), schema))
        t.upsert(s.createDataFrame(
          java.util.Arrays.asList(org.apache.spark.sql.Row("24", "p0", 77.0)), schema))
        val refused = scala.util.Try(t.publishBranch("stale")).failed.toOption
        require(refused.exists(_.isInstanceOf[graft.lake.CommitConflictException]),
          "overtaken branch must refuse publish with the typed conflict")
        t.dropBranch("stale")
        t.snapshot().orderBy(col("pk"))
      },
      Some("""
        WITH base AS (
          SELECT CAST(n_nationkey AS VARCHAR) AS pk,
                 'p' || CAST(n_nationkey % 2 AS VARCHAR) AS part,
                 CAST(n_regionkey AS DOUBLE) AS val
          FROM nation),
        branched AS (
          SELECT pk, part,
                 CASE WHEN CAST(pk AS BIGINT) % 3 = 0 THEN val + 100 ELSE val END AS val
          FROM base WHERE pk NOT IN ('4', '8'))
        SELECT pk, part,
               CASE WHEN pk = '24' THEN 77.0 ELSE val END AS val
        FROM branched ORDER BY pk
      """)),

    // ---- C5 snapshot tags pin versions against vacuum (round 18c) ---------------
    // Iceberg's tag surface: a named immutable ref to a version that
    // vacuum's timeline archival must RETAIN — "the exact corpus snapshot
    // run X trained on" stays readable by name. The lifecycle tags v1,
    // keeps mutating, then vacuums with keepVersions=1: the sweep PROVES
    // v0 archived (the untagged prefix goes) while the tagged v1 still
    // reads — the result is the tagged and current snapshots side by
    // side. Pin mechanics, release-on-drop, data-file survival, and the
    // catalog's VERSION AS OF '<tag>' route are pinned in TagSpec.
    Q(
      "q_acid_tag_pin",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("val", DoubleType)))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part", stablePartitions = true)
        val base = Tables.nation(s, dir).select(
          col("n_nationkey").cast("string").as("pk"),
          concat(lit("p"), (col("n_nationkey") % 2).cast("string")).as("part"),
          col("n_regionkey").cast("double").as("val"))
        t.upsert(base) // v0
        t.upsert(base.filter(col("pk").cast("long") % 3 === 0)
          .withColumn("val", col("val") + 100)) // v1
        require(t.createTag("train") == 1L, "tag must pin the latest version")
        t.deleteWhere(col("pk").cast("long") % 7 === 0) // v2
        t.upsert(base.filter(col("pk").cast("long") % 5 === 0)
          .withColumn("val", col("val") * 2)) // v3
        Thread.sleep(30) // let the last supersession age past the grace cutoff
        t.vacuum(keepVersions = 1, graceMillis = 0)
        require(scala.util.Try(t.snapshot(0L).collect()).isFailure,
          "untagged v0 must be archived")
        require(scala.util.Try(t.snapshot(1L).collect()).isSuccess,
          "tagged v1 must survive the vacuum")
        t.snapshotTag("train").withColumn("side", lit("tagged"))
          .unionByName(t.snapshot().withColumn("side", lit("current")))
          .orderBy(col("side"), col("pk"))
      },
      Some("""
        WITH base AS (
          SELECT CAST(n_nationkey AS VARCHAR) AS pk,
                 'p' || CAST(n_nationkey % 2 AS VARCHAR) AS part,
                 CAST(n_regionkey AS DOUBLE) AS val
          FROM nation),
        v1 AS (
          SELECT pk, part,
                 CASE WHEN CAST(pk AS BIGINT) % 3 = 0 THEN val + 100 ELSE val END AS val
          FROM base),
        v2 AS (SELECT * FROM v1 WHERE CAST(pk AS BIGINT) % 7 <> 0),
        cur AS (
          SELECT pk, part, val * 2 AS val FROM base WHERE CAST(pk AS BIGINT) % 5 = 0
          UNION ALL
          SELECT pk, part, val FROM v2 WHERE CAST(pk AS BIGINT) % 5 <> 0)
        SELECT pk, part, val, 'tagged' AS side FROM v1
        UNION ALL
        SELECT pk, part, val, 'current' AS side FROM cur
        ORDER BY side, pk
      """)),

    // ---- C5 metadata-only TYPE WIDENING (round 18c) -----------------------------
    // Delta 3.2's type-widening / Iceberg numeric promotion: INT→BIGINT
    // and FLOAT→DOUBLE with ZERO rewrite — files written before the widen
    // keep their narrow physical type and every reader upcasts per file.
    // The lifecycle writes narrow, widens, writes values REPRESENTABLE
    // ONLY in the wide types (a 5-billion count), and snapshots the mix;
    // the oracle replays with explicit casts. Zero-data-movement, the
    // driver fast path over narrow pre-images, guard rails, and the
    // mistyped-batch refusal this work surfaced are pinned in
    // WidenColumnSpec.
    Q(
      "q_acid_widen_type",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("cnt", IntegerType), StructField("ratio", FloatType)))
        val t0 = AcidTable.create(s, scratch(), schema, "pk", "part", stablePartitions = true)
        val base = Tables.nation(s, dir).select(
          col("n_nationkey").cast("string").as("pk"),
          concat(lit("p"), (col("n_nationkey") % 2).cast("string")).as("part"),
          col("n_nationkey").cast("int").as("cnt"),
          // Spark promotes float division to double; the batch must carry
          // the declared FLOAT (values are exact quarters, so the
          // round-trip is lossless)
          (col("n_regionkey").cast("float") / lit(4.0f)).cast("float").as("ratio"))
        t0.upsert(base)
        val t = t0.widenColumn("cnt", LongType).widenColumn("ratio", DoubleType)
        // post-widen commit: values only the wide types can hold, plus an
        // update that rewrites one narrow cell (mixing physical types
        // inside one partition)
        t.upsert(s.createDataFrame(java.util.Arrays.asList(
          org.apache.spark.sql.Row("90", "p0", 5000000000L, 2.5),
          org.apache.spark.sql.Row("3", "p1", 3000000003L, 0.75)),
          StructType(Seq(
            StructField("pk", StringType), StructField("part", StringType),
            StructField("cnt", LongType), StructField("ratio", DoubleType)))))
        t.snapshot().orderBy(col("pk"))
      },
      Some("""
        WITH base AS (
          SELECT CAST(n_nationkey AS VARCHAR) AS pk,
                 'p' || CAST(n_nationkey % 2 AS VARCHAR) AS part,
                 CAST(n_nationkey AS BIGINT) AS cnt,
                 CAST(CAST(n_regionkey AS FLOAT) / CAST(4.0 AS FLOAT) AS DOUBLE) AS ratio
          FROM nation),
        updated AS (
          SELECT pk, part,
                 CASE WHEN pk = '3' THEN CAST(3000000003 AS BIGINT) ELSE cnt END AS cnt,
                 CASE WHEN pk = '3' THEN CAST(0.75 AS DOUBLE) ELSE ratio END AS ratio
          FROM base)
        SELECT pk, part, cnt, ratio FROM updated
        UNION ALL
        SELECT '90' AS pk, 'p0' AS part,
               CAST(5000000000 AS BIGINT) AS cnt, CAST(2.5 AS DOUBLE) AS ratio
        ORDER BY pk
      """)),

    // ---- C5 CHECK constraints (round 10) ----------------------------------------
    // ALTER TABLE ADD CONSTRAINT … CHECK: validated against existing rows
    // at add time, enforced inline on every write path afterwards. The
    // lifecycle commits a valid base, adds the constraint, PROVES a
    // violating commit is rejected without publishing (the oracle never
    // sees it), then lands a valid update. Front-end coverage and the
    // fast-path/distributed enforcement split live in ConstraintSpec.
    Q(
      "q_acid_constraints",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("val", DoubleType)))
        val t0 = AcidTable.create(s, scratch(), schema, "pk", "part", stablePartitions = true)
        val base = Tables.nation(s, dir).select(
          col("n_nationkey").cast("string").as("pk"),
          concat(lit("p"), (col("n_nationkey") % 2).cast("string")).as("part"),
          col("n_regionkey").cast("double").as("val"))
        t0.upsert(base)
        val t = t0.addConstraint("val_bound", "val >= 0.0 AND val < 100.0")
        val rejected = scala.util.Try(
          t.upsert(base.filter(col("pk").cast("long") % 2 === 0)
            .withColumn("val", lit(-1.0)))).isFailure
        require(rejected, "violating commit must fail")
        t.upsert(base.filter(col("pk").cast("long") % 3 === 0)
          .withColumn("val", col("val") + 50))
        t.snapshot().orderBy(col("pk"))
      },
      Some("""
        WITH base AS (
          SELECT CAST(n_nationkey AS VARCHAR) AS pk,
                 'p' || CAST(n_nationkey % 2 AS VARCHAR) AS part,
                 CAST(n_regionkey AS DOUBLE) AS val
          FROM nation)
        SELECT pk, part,
               CASE WHEN CAST(pk AS BIGINT) % 3 = 0 THEN val + 50 ELSE val END AS val
        FROM base ORDER BY pk
      """)),

    // ---- C5 metadata-only RENAME COLUMN (round 10) ------------------------------
    // Zero-rewrite rename: files written before the rename carry the old
    // name, files after it the new one, and the coalescing snapshot scan
    // reads both through the current name. The lifecycle mixes pre-rename
    // data, post-rename inserts, AND a post-rename UPDATE (whose rewrite
    // must read old-name bytes correctly before writing new-name files);
    // zero-data-movement and the purge path are pinned in
    // RenameColumnSpec.
    Q(
      "q_acid_rename_column",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("val", DoubleType)))
        val t0 = AcidTable.create(s, scratch(), schema, "pk", "part", stablePartitions = true)
        val base = Tables.nation(s, dir).select(
          col("n_nationkey").cast("string").as("pk"),
          concat(lit("p"), (col("n_nationkey") % 2).cast("string")).as("part"),
          col("n_regionkey").cast("double").as("val"))
        t0.upsert(base.filter(col("pk").cast("long") < 15))
        val t = t0.renameColumn("val", "score")
        t.upsert(base.filter(col("pk").cast("long") >= 15)
          .withColumnRenamed("val", "score"))
        t.update(Seq("score" -> (col("score") * 2)),
          col("pk").cast("long") % 4 === 1)
        t.snapshot().orderBy(col("pk"))
      },
      Some("""
        WITH base AS (
          SELECT CAST(n_nationkey AS VARCHAR) AS pk,
                 'p' || CAST(n_nationkey % 2 AS VARCHAR) AS part,
                 CAST(n_regionkey AS DOUBLE) AS val
          FROM nation)
        SELECT pk, part,
               CASE WHEN CAST(pk AS BIGINT) % 4 = 1 THEN val * 2 ELSE val END AS score
        FROM base ORDER BY pk
      """)),

    // ---- C5 MERGE with transformed SET expressions (round 10b) ------------------
    // Completes the modern MERGE grammar: UPDATE SET values are arbitrary
    // expressions over the t/s PRE-image, first-match-wins across
    // conditional expression clauses — through the catalog front-end
    // (spark.sql → AcidMergeRule → UpdateExprs). Previously rejected by
    // all three front-ends; pre-image semantics and the other front-ends
    // are pinned in ConditionalMergeSpec/GraftCatalogSpec.
    Q(
      "q_sql_acid_merge_transform",
      (s, dir) => {
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.lake.GraftCatalog].getName)
        s.conf.set("spark.sql.graft.warehouse", scratch())
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mx")
        s.sql("""CREATE TABLE graft.mx.t (pk STRING, part STRING, val DOUBLE)
                |PARTITIONED BY (part)
                |TBLPROPERTIES ('primaryKey' = 'pk')""".stripMargin)
        val base = Tables.nation(s, dir).select(
          col("n_nationkey").cast("string").as("pk"),
          concat(lit("p"), (col("n_nationkey") % 2).cast("string")).as("part"),
          col("n_regionkey").cast("double").as("val"))
        base.createOrReplaceTempView("mx_base")
        s.sql("INSERT INTO graft.mx.t SELECT * FROM mx_base")
        base.filter(col("pk").cast("long") % 2 === 0)
          .withColumn("val", col("val") + 1)
          .createOrReplaceTempView("mx_src")
        s.sql("""MERGE INTO graft.mx.t t
                |USING (SELECT * FROM mx_src) s
                |ON t.pk = s.pk
                |WHEN MATCHED AND t.val >= 3.0 THEN UPDATE SET t.val = t.val + s.val * 10
                |WHEN MATCHED THEN UPDATE SET t.val = t.val
                |WHEN NOT MATCHED THEN INSERT (t.pk, t.part, t.val)
                |VALUES (s.pk, s.part, s.val)""".stripMargin)
        s.sql("SELECT * FROM graft.mx.t ORDER BY pk")
      },
      Some("""
        WITH base AS (
          SELECT CAST(n_nationkey AS VARCHAR) AS pk,
                 'p' || CAST(n_nationkey % 2 AS VARCHAR) AS part,
                 CAST(n_regionkey AS DOUBLE) AS val
          FROM nation)
        SELECT pk, part,
               CASE WHEN CAST(pk AS BIGINT) % 2 = 0 AND val >= 3.0
                    THEN val + (val + 1) * 10
                    ELSE val END AS val
        FROM base ORDER BY pk
      """)),

    // ---- C5 NOT MATCHED BY SOURCE expression UPDATE (round 10b) -----------------
    // The "mark stale" full-sync pattern: target rows absent from the
    // source get a t-only expression update (here val → -val) while
    // matched rows take the source image — through the catalog front-end;
    // front-end parity and rejections are pinned in ConditionalMergeSpec.
    Q(
      "q_sql_acid_merge_nmbs_update",
      (s, dir) => {
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.lake.GraftCatalog].getName)
        s.conf.set("spark.sql.graft.warehouse", scratch())
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft.nmu")
        s.sql("""CREATE TABLE graft.nmu.t (pk STRING, part STRING, val DOUBLE)
                |PARTITIONED BY (part)
                |TBLPROPERTIES ('primaryKey' = 'pk')""".stripMargin)
        val base = Tables.nation(s, dir).select(
          col("n_nationkey").cast("string").as("pk"),
          concat(lit("p"), (col("n_nationkey") % 2).cast("string")).as("part"),
          col("n_regionkey").cast("double").as("val"))
        base.createOrReplaceTempView("nmu_base")
        s.sql("INSERT INTO graft.nmu.t SELECT * FROM nmu_base")
        base.filter(col("pk").cast("long") % 3 === 0)
          .withColumn("val", col("val") + 100)
          .createOrReplaceTempView("nmu_src")
        s.sql("""MERGE INTO graft.nmu.t t
                |USING (SELECT * FROM nmu_src) s
                |ON t.pk = s.pk
                |WHEN MATCHED THEN UPDATE SET t.val = s.val
                |WHEN NOT MATCHED BY SOURCE AND t.val > 0.0
                |  THEN UPDATE SET t.val = t.val * -1""".stripMargin)
        s.sql("SELECT * FROM graft.nmu.t ORDER BY pk")
      },
      Some("""
        WITH base AS (
          SELECT CAST(n_nationkey AS VARCHAR) AS pk,
                 'p' || CAST(n_nationkey % 2 AS VARCHAR) AS part,
                 CAST(n_regionkey AS DOUBLE) AS val
          FROM nation)
        SELECT pk, part,
               CASE WHEN CAST(pk AS BIGINT) % 3 = 0 THEN val + 100
                    WHEN val > 0.0 THEN val * -1
                    ELSE val END AS val
        FROM base ORDER BY pk
      """)),

    // ---- C5 MERGE expression INSERT clauses (round 10b) -------------------------
    // Reordered / transformed / conditional INSERT VALUES through the
    // catalog: unmatched orders-derived rows route first-match-wins into
    // either a transformed insert (computed pk prefix, constant
    // partition, scaled value) or the identity insert. Touched-cell
    // discovery follows the INSERT IMAGES (the transformed rows land in a
    // partition the raw source never names).
    Q(
      "q_sql_acid_merge_insert_expr",
      (s, dir) => {
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.lake.GraftCatalog].getName)
        s.conf.set("spark.sql.graft.warehouse", scratch())
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft.ie")
        s.sql("""CREATE TABLE graft.ie.t (pk STRING, part STRING, val DOUBLE)
                |PARTITIONED BY (part)
                |TBLPROPERTIES ('primaryKey' = 'pk')""".stripMargin)
        val base = Tables.nation(s, dir).select(
          col("n_nationkey").cast("string").as("pk"),
          concat(lit("p"), (col("n_nationkey") % 2).cast("string")).as("part"),
          col("n_regionkey").cast("double").as("val"))
        base.createOrReplaceTempView("ie_base")
        s.sql("INSERT INTO graft.ie.t SELECT * FROM ie_base")
        Tables.orders(s, dir).filter(col("o_orderkey") < 40)
          .select(
            col("o_orderkey").cast("string").as("pk"),
            lit("px").as("part"),
            col("o_totalprice").as("val"))
          .createOrReplaceTempView("ie_src")
        s.sql("""MERGE INTO graft.ie.t t
                |USING (SELECT * FROM ie_src) s
                |ON t.pk = s.pk
                |WHEN NOT MATCHED AND s.val < 100000.0 THEN
                |  INSERT (t.pk, t.part, t.val)
                |  VALUES (concat('lo-', s.pk), 'pLow', s.val / 2)
                |WHEN NOT MATCHED THEN
                |  INSERT (t.pk, t.part, t.val) VALUES (s.pk, s.part, s.val)""".stripMargin)
        s.sql("SELECT * FROM graft.ie.t ORDER BY pk")
      },
      Some("""
        WITH base AS (
          SELECT CAST(n_nationkey AS VARCHAR) AS pk,
                 'p' || CAST(n_nationkey % 2 AS VARCHAR) AS part,
                 CAST(n_regionkey AS DOUBLE) AS val
          FROM nation),
        src AS (
          SELECT CAST(o_orderkey AS VARCHAR) AS pk, 'px' AS part,
                 o_totalprice AS val
          FROM orders WHERE o_orderkey < 40),
        unmatched AS (
          SELECT * FROM src WHERE pk NOT IN (SELECT pk FROM base)),
        inserted AS (
          SELECT CASE WHEN val < 100000.0 THEN 'lo-' || pk ELSE pk END AS pk,
                 CASE WHEN val < 100000.0 THEN 'pLow' ELSE part END AS part,
                 CASE WHEN val < 100000.0 THEN val / 2 ELSE val END AS val
          FROM unmatched)
        SELECT pk, part, val FROM base
        UNION ALL SELECT pk, part, val FROM inserted
        ORDER BY pk
      """)),

    // ---- C5 dynamic partition pruning through the catalog scan (round 13) -------
    // A selective filter on a NON-join dimension column: the matching fact
    // partitions are only discoverable at runtime by evaluating the dim
    // side — static pushdown cannot serve this shape. The DSv2 batch scan
    // (`AcidBatchScan`) declares `SupportsRuntimeFiltering`; Spark injects
    // the DPP subquery and the runtime `In(part, …)` drops whole
    // partitions' files on the driver before any fact task launches. The
    // gate FAILS LOUDLY (not just slowly) if the runtime filter never
    // reached the scan or pruned nothing — the plan shape IS the contract.
    Q(
      "q_sql_acid_dpp",
      (s, dir) => {
        val wh = scratch()
        s.conf.set("spark.sql.catalog.graft", classOf[graft.lake.GraftCatalog].getName)
        s.conf.set("spark.sql.graft.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft.dppq")
        s.sql("""CREATE TABLE graft.dppq.fact (pk STRING, part STRING, qty BIGINT)
          PARTITIONED BY (part) TBLPROPERTIES ('primaryKey' = 'pk')""")
        Tables.lineitem(s, dir).select(
          concat(col("l_orderkey").cast("string"), lit("-"),
            col("l_linenumber").cast("string")).as("pk"),
          concat(lit("p"), (col("l_suppkey") % 8).cast("string")).as("part"),
          col("l_quantity").cast("long").as("qty"))
          .createOrReplaceTempView("dppq_fact_rows")
        s.sql("INSERT INTO graft.dppq.fact SELECT * FROM dppq_fact_rows")
        // dim as a FILE source (a LocalRelation doesn't qualify for DPP's
        // selective-predicate check): part p0..p7 → group g0 (first half)
        // or g1; the probe filters on the group, joins on part
        import s.implicits._
        (0 until 8).map(i => (s"p$i", if (i < 4) "g0" else "g1"))
          .toDF("part", "grp").write.mode("overwrite").parquet(s"$wh/dppq_dim")
        s.read.parquet(s"$wh/dppq_dim").createOrReplaceTempView("dppq_dim")
        val q = """SELECT f.part, count(*) AS cnt, sum(f.qty) AS sq
                   FROM graft.dppq.fact f JOIN dppq_dim d ON f.part = d.part
                   WHERE d.grp = 'g0' GROUP BY f.part ORDER BY f.part"""
        // The gate reads the ATOMIC (pre, post) pair `filter()` records on
        // the SCAN INSTANCE, recovered off this frame's own executed plan
        // (round-14 verdict #4) — a concurrent AcidBatchScan elsewhere in
        // the JVM cannot clobber the observation, unlike the process-wide
        // lastPlannedFiles, which `BatchScanExec` overwrites on its
        // post-filter re-plan (round-13 verdict #1).
        val driven = s.sql(q)
        driven.collect() // drive one execution to observe the runtime prune
        val pairs = org.apache.spark.sql.graft.AcidBatchScan.filterPrunesOf(driven)
        require(pairs.nonEmpty,
          "q_sql_acid_dpp: runtime filter never reached the ACID batch scan")
        require(pairs.exists(p => p._2 < p._1),
          s"q_sql_acid_dpp: runtime filter pruned nothing ($pairs)")
        s.sql(q)
      },
      Some("""
        WITH fact AS (
          SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS pk,
                 'p' || CAST(l_suppkey % 8 AS VARCHAR) AS part,
                 CAST(l_quantity AS BIGINT) AS qty
          FROM lineitem),
        dim AS (
          SELECT 'p' || CAST(i AS VARCHAR) AS part,
                 CASE WHEN i < 4 THEN 'g0' ELSE 'g1' END AS grp
          FROM range(8) t(i))
        SELECT f.part, COUNT(*) AS cnt, CAST(SUM(f.qty) AS BIGINT) AS sq
        FROM fact f JOIN dim d ON f.part = d.part
        WHERE d.grp = 'g0' GROUP BY f.part ORDER BY f.part
      """)),

    // ---- C5 record-level index: UNHINTED point ops route via pk→partition -------
    // The round-16 RLI surface under the driver's hash gate (round-16
    // verdict next-round #2): an indexed-from-birth table takes inserts,
    // updates and a MOR delete, then a transform-less UNHINTED lookup —
    // no partition restated anywhere — must (a) consult and route through
    // the index (the probe/routed counters are asserted, so a silent
    // fallback to the per-partition sweep fails the gate loudly), (b)
    // prove absence of a never-written key from the index alone, and (c)
    // hash-match the DuckDB replay of the same mutations.
    Q(
      "q_acid_rli_lookup",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("val", DoubleType)))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part", stablePartitions = true)
        t.setTableProperty("recordIndex", Some("true"))
        val base = Tables.customer(s, dir)
          .filter(col("c_custkey") < 900)
          .select(
            col("c_custkey").cast("string").as("pk"),
            concat(lit("r"), (col("c_nationkey") % 5).cast("string")).as("part"),
            col("c_acctbal").as("val"))
        t.upsert(base)
        t.upsert(base.filter(col("pk").cast("long") % 4 === 1)
          .withColumn("val", col("val") * 2))
        t.deleteVectored(Seq("11")) // DV-only commit: refs + flag inherit
        val probes0 = AcidTable.rliProbes.get()
        val routed0 = AcidTable.rliRouted.get()
        val keys = Seq("3", "11", "41", "200", "555", "899", "424242")
        val res = t.lookup(keys).orderBy(col("pk"))
        require(AcidTable.rliProbes.get() > probes0 && AcidTable.rliRouted.get() > routed0,
          "q_acid_rli_lookup: unhinted lookup did not route through the record index")
        require(t.lookupFiles(Seq("424242")).isEmpty,
          "q_acid_rli_lookup: index must prove an absent key empty (zero files)")
        res
      },
      Some("""
        WITH base AS (
          SELECT CAST(c_custkey AS VARCHAR) AS pk,
                 'r' || CAST(c_nationkey % 5 AS VARCHAR) AS part,
                 c_acctbal AS val
          FROM customer WHERE c_custkey < 900)
        SELECT pk, part,
               CASE WHEN CAST(pk AS BIGINT) % 4 = 1 THEN val * 2 ELSE val END AS val
        FROM base
        WHERE pk IN ('3', '41', '200', '555', '899')
        ORDER BY pk
      """)),

    // ---- C5 FSCK REPAIR: content-addressed heal of dangling metadata refs -------
    // The round-16 repair surface under the hash gate: after real commits,
    // one live SEGMENT file and one live INDEX RUN are deleted out from
    // under the table (the residual crash window's on-disk signature —
    // vacuum's quarantine notes in AcidTable). FSCK must report both
    // (asserted), FSCK REPAIR must heal both from the content-addressed
    // cache with no `unrecoverable` row (asserted), the table must
    // re-verify clean, and the healed snapshot must hash-match the DuckDB
    // replay — proving the recovered bytes are the original metadata, not
    // a plausible reconstruction.
    Q(
      "q_acid_fsck_repair",
      (s, dir) => {
        val schema = StructType(Seq(
          StructField("pk", StringType), StructField("part", StringType),
          StructField("val", DoubleType)))
        val t = AcidTable.create(s, scratch(), schema, "pk", "part", stablePartitions = true)
        t.setTableProperty("recordIndex", Some("true"))
        val base = Tables.supplier(s, dir)
          .select(
            col("s_suppkey").cast("string").as("pk"),
            concat(lit("f"), (col("s_nationkey") % 3).cast("string")).as("part"),
            col("s_acctbal").as("val"))
        // DRIVER-LOCAL batches (collect → LocalRelation): the index deltas
        // then go through the driver write path, which caches each run's
        // bytes at write time — the precondition for a cache heal. The
        // supplier table is tiny at every test SF.
        def local(dfIn: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
          s.createDataFrame(java.util.Arrays.asList(dfIn.collect(): _*), schema)
        t.upsert(local(base))
        t.upsert(local(base.filter(col("pk").cast("long") % 5 === 2)
          .withColumn("val", col("val") - 50)))
        // warm the SEGMENT cache through real reads of every retained
        // version (repair recovers content-addressed bytes from cache),
        // then knock one live segment and one live index run off disk
        (0L to t.latestVersion()).foreach(v => t.snapshot(v).count())
        t.lookupFiles(Seq("3"))
        val segsDir = java.nio.file.Paths.get(t.path, "_commits", "_segments")
        val names = Option(segsDir.toFile.listFiles()).getOrElse(Array.empty)
          .map(_.getName)
        val segVictim = names.find(_.startsWith("seg-")).getOrElse(
          sys.error("q_acid_fsck_repair: no segment file to damage"))
        val rliVictim = names.find(_.startsWith("rli-")).getOrElse(
          sys.error("q_acid_fsck_repair: no index run to damage"))
        Files.delete(segsDir.resolve(segVictim))
        Files.delete(segsDir.resolve(rliVictim))
        val found = t.fsck().collect().map(_.getString(0)).toSeq
        require(found.count(_.startsWith("dangling_")) >= 2,
          s"q_acid_fsck_repair: fsck must report both injected faults, got $found")
        val actions = t.fsckRepair().collect().map(_.getString(4)).toSeq
        require(actions.nonEmpty && !actions.contains("unrecoverable"),
          s"q_acid_fsck_repair: repair must heal from cache, got $actions")
        require(t.fsck().count() == 0,
          "q_acid_fsck_repair: table must re-verify clean after repair")
        t.snapshot().orderBy(col("pk"))
      },
      Some("""
        WITH base AS (
          SELECT CAST(s_suppkey AS VARCHAR) AS pk,
                 'f' || CAST(s_nationkey % 3 AS VARCHAR) AS part,
                 s_acctbal AS val
          FROM supplier)
        SELECT pk, part,
               CASE WHEN CAST(pk AS BIGINT) % 5 = 2 THEN val - 50 ELSE val END AS val
        FROM base
        ORDER BY pk
      """))
  )
}
