package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Star-join materialized views (round 18, r17 verdict #2): the view is
  * `fact INNER JOIN dim ON fk = dk GROUP BY <cols>`, maintained with the
  * bilinear delta decomposition Δ(F⋈D) = ΔF⋈D_old ∪ F_new⋈ΔD. After every
  * refresh the view must read bit-identically to a from-scratch join +
  * GROUP BY over the two snapshots — across fact inserts/updates/deletes
  * (incl. DV deletes), dim updates/inserts/deletes (group relabeling,
  * match appearance/disappearance), mixed same-refresh fact+dim change
  * windows, min/max recompute views, and the SQL front-ends' join
  * grammar. Delta-boundedness is pinned the destroyed-partition way: a
  * fact-only trickle refresh must survive the physical destruction of
  * every UNCHANGED fact partition's data files.
  */
class MatViewJoinSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val factSchema = StructType(Seq(
    StructField("pk", StringType), StructField("part", StringType),
    StructField("fk", StringType), StructField("val", LongType),
    StructField("dec", DecimalType(18, 2))))

  private val dimSchema = StructType(Seq(
    StructField("dk", StringType), StructField("dpart", StringType),
    StructField("dgrp", StringType), StructField("dw", LongType)))

  private def tmp(pfx: String): String =
    Files.createTempDirectory(s"mvj-$pfx-").resolve("t").toString

  private def factRows(ts: (String, String, String, java.lang.Long, String)*): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(ts.map { case (pk, part, fk, v, d) =>
        org.apache.spark.sql.Row(pk, part, fk, v,
          if (d == null) null else new java.math.BigDecimal(d))
      }: _*), factSchema)

  private def dimRows(ts: (String, String, String, java.lang.Long)*): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(ts.map { case (dk, dp, g, w) =>
        org.apache.spark.sql.Row(dk, dp, g, w)
      }: _*), dimSchema)

  /** fact: 6 rows over 3 dim keys (one fact fk, "dX", matches nothing). */
  private def seededFact(pfx: String): AcidTable = {
    val t = AcidTable.create(spark, tmp(s"$pfx-f"), factSchema, "pk", "part",
      stablePartitions = true)
    t.upsert(factRows(
      ("k1", "p0", "d1", 10L, "1.50"), ("k2", "p1", "d1", 20L, "2.50"),
      ("k3", "p0", "d2", 30L, "3.00"), ("k4", "p1", "d2", null, null),
      ("k5", "p0", "dX", 50L, "5.25"), ("k6", "p1", "d3", 60L, "6.00")))
    t
  }

  /** dim: 4 keys (one, "d9", matches no fact row). */
  private def seededDim(pfx: String): AcidTable = {
    val t = AcidTable.create(spark, tmp(s"$pfx-d"), dimSchema, "dk", "dpart",
      stablePartitions = true)
    t.upsert(dimRows(
      ("d1", "q0", "A", 1L), ("d2", "q1", "B", 2L),
      ("d3", "q0", "A", 3L), ("d9", "q1", "Z", 9L)))
    t
  }

  private def mkView(pfx: String, fact: AcidTable, dim: AcidTable,
      aggs: Seq[MvAgg] = Seq(MvAgg("cnt", "count", "*"),
        MvAgg("sv", "sum", "val"), MvAgg("sd", "sum", "dec"))): MatView =
    MatView.create(spark, fact, tmp(s"$pfx-v"), Seq("dgrp"), aggs,
      joins = Seq(MvJoin(dim.path, "fk", "dk", Seq("dgrp"))))

  /** The oracle: from-scratch join + GROUP BY over the two snapshots. */
  private def expect(fact: AcidTable, dim: AcidTable): Seq[Seq[Any]] =
    fact.snapshot()
      .join(dim.snapshot().select(col("dk"), col("dgrp")),
        col("fk") === col("dk"), "inner")
      .groupBy(col("dgrp"))
      .agg(count(lit(1)).as("cnt"), sum(col("val")).as("sv"),
        sum(col("dec")).as("sd"))
      .collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[String])

  private def got(mv: MatView): Seq[Seq[Any]] =
    mv.read().collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[String])

  test("initial materialization equals a direct join GROUP BY") {
    val f = seededFact("init"); val d = seededDim("init")
    val mv = mkView("init", f, d)
    assert(got(mv) === expect(f, d))
    assert(got(mv).map(_.head) === Seq("A", "B")) // dX fact + d9 dim drop out
    assert(mv.appliedVersions() === (f.latestVersion(), Seq(d.latestVersion())))
  }

  test("fact-side DML shapes fold incrementally and match a recompute") {
    val f = seededFact("fdml"); val d = seededDim("fdml")
    val mv = mkView("fdml", f, d)
    // insert: new member of existing group + a row matching nothing
    f.upsert(factRows(("k7", "p0", "d3", 70L, "7.00"),
      ("k8", "p1", "dX", 80L, "8.00")))
    mv.refresh(); assert(got(mv) === expect(f, d))
    // update: fk migration (k3: d2 -> d1 moves it B -> A) + value change
    f.upsert(factRows(("k3", "p0", "d1", 31L, "3.10")))
    mv.refresh(); assert(got(mv) === expect(f, d))
    // key delete + predicate delete
    f.delete(Seq("k2"))
    mv.refresh(); assert(got(mv) === expect(f, d))
    f.deleteWhere(col("val") >= 70L)
    mv.refresh(); assert(got(mv) === expect(f, d))
    // merge-on-read delete (deletion vector)
    f.deleteVectored(Seq("k4"))
    mv.refresh(); assert(got(mv) === expect(f, d))
    // group B emptied entirely -> tombstoned away
    f.deleteWhere(col("fk") === "d2")
    mv.refresh(); assert(got(mv) === expect(f, d))
    val ops = mv.state.history().select("operation").collect().map(_.getString(0))
    assert(ops.forall(_.startsWith("MVREFRESH:")), ops.mkString(","))
  }

  test("dim updates relabel, appear, and disappear groups exactly") {
    val f = seededFact("ddml"); val d = seededDim("ddml")
    val mv = mkView("ddml", f, d)
    // dim UPDATE: d2 relabels B -> A (its facts move wholesale)
    d.upsert(dimRows(("d2", "q1", "A", 2L)))
    mv.refresh(); assert(got(mv) === expect(f, d))
    // dim INSERT: dX now matches -> k5 appears in a brand-new group C
    d.upsert(dimRows(("dX", "q0", "C", 4L)))
    mv.refresh(); assert(got(mv) === expect(f, d))
    // dim DELETE: d1's facts lose their join partner
    d.delete(Seq("d1"))
    mv.refresh(); assert(got(mv) === expect(f, d))
    // mixed window: fact insert + dim relabel folded in ONE refresh
    f.upsert(factRows(("k9", "p0", "d3", 90L, "9.00")))
    d.upsert(dimRows(("d3", "q0", "D", 3L)))
    mv.refresh(); assert(got(mv) === expect(f, d))
    assert(mv.appliedVersions() === (f.latestVersion(), Seq(d.latestVersion())))
  }

  test("min/max join views recompute only touched groups and stay exact") {
    val f = seededFact("mm"); val d = seededDim("mm")
    val mv = MatView.create(spark, f, tmp("mm-v"), Seq("dgrp"),
      Seq(MvAgg("cnt", "count", "*"), MvAgg("mx", "max", "val"),
        MvAgg("mw", "min", "dw")),
      joins = Seq(MvJoin(d.path, "fk", "dk", Seq("dgrp", "dw"))))
    def expectMm(): Seq[Seq[Any]] =
      f.snapshot().join(d.snapshot().select(col("dk"), col("dgrp"), col("dw")),
          col("fk") === col("dk"), "inner")
        .groupBy(col("dgrp"))
        .agg(count(lit(1)).as("cnt"), max(col("val")).as("mx"),
          min(col("dw")).as("mw"))
        .collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[String])
    assert(got(mv) === expectMm())
    // evict group A's max (k6 val=60)
    f.delete(Seq("k6"))
    mv.refresh(); assert(got(mv) === expectMm())
    // dim change evicts a min: d1 (dw=1) relabels out of A
    d.upsert(dimRows(("d1", "q0", "B", 1L)))
    mv.refresh(); assert(got(mv) === expectMm())
  }

  test("fact-only trickle refresh never touches unchanged fact partitions") {
    val f = seededFact("scope"); val d = seededDim("scope")
    val mv = mkView("scope", f, d)
    // commit ONLY to fact p0, then physically destroy p1's data files: a
    // refresh that read any fact file outside the changed partition (the
    // ΔD term's F@new scan would) dies — with the dim unchanged, the fold
    // must be ΔF ⋈ dim only
    f.upsert(factRows(("k1", "p0", "d1", 11L, "1.60")))
    def walk(x: java.io.File): Seq[java.io.File] =
      Option(x.listFiles()).getOrElse(Array.empty).toSeq.flatMap(c =>
        if (c.isDirectory) walk(c) else Seq(c))
    val toBreak = walk(new java.io.File(f.path, "data"))
      .filter(x => x.getPath.contains("part=p1") && x.getName.endsWith(".parquet"))
    assert(toBreak.nonEmpty)
    toBreak.foreach(x => assert(x.delete()))
    mv.refresh() // must succeed: ΔF diff reads only part=p0; dim untouched
    val a = got(mv).find(_.head == "A").get
    assert(a(1) === 3L) // A = {k1, k2, k6}
    assert(a(2) === (11L + 20L + 60L)) // k1 folded 10 -> 11
  }

  test("exactly-once markers: a no-op refresh commits nothing new twice") {
    val f = seededFact("marker"); val d = seededDim("marker")
    val mv = mkView("marker", f, d)
    f.upsert(factRows(("k7", "p0", "d1", 70L, "7.00")))
    mv.refresh()
    val sv = mv.state.latestVersion()
    mv.refresh(); mv.refresh() // nothing new on either side
    assert(mv.state.latestVersion() === sv)
    assert(got(mv) === expect(f, d))
  }

  test("dim-only commit that joins no fact row advances the dim mark") {
    val f = seededFact("hwm"); val d = seededDim("hwm")
    val mv = mkView("hwm", f, d)
    d.upsert(dimRows(("d8", "q1", "Q", 8L))) // matches no fact fk
    mv.refresh()
    assert(got(mv) === expect(f, d))
    // the high-water mark must cover the dim commit (else every later
    // refresh re-joins the full fact snapshot against the same ΔD)
    assert(mv.appliedVersions()._2 === Seq(d.latestVersion()))
  }

  test("SQL front-end (text session): CREATE MATERIALIZED VIEW ... JOIN") {
    val wh = Files.createTempDirectory("mvj-sql-wh-").toString
    val sess = new AcidSqlSession(spark, wh)
    sess.execute("CREATE SCHEMA IF NOT EXISTS db")
    sess.execute("""CREATE TABLE db.fact (pk STRING, part STRING, fk STRING, v BIGINT)
      USING hudi PARTITIONED BY (part) TBLPROPERTIES (primaryKey = 'pk')""")
    sess.execute("""CREATE TABLE db.dim (dk STRING, dpart STRING, g STRING)
      USING hudi PARTITIONED BY (dpart) TBLPROPERTIES (primaryKey = 'dk')""")
    sess.execute("""INSERT INTO db.fact VALUES
      ('k1','p0','d1',10), ('k2','p1','d1',20), ('k3','p0','d2',5)""")
    sess.execute("INSERT INTO db.dim VALUES ('d1','q0','A'), ('d2','q0','B')")
    sess.execute("""CREATE MATERIALIZED VIEW db.mvj AS
      SELECT g, count(*) AS cnt, sum(v) AS sv
      FROM db.fact f JOIN db.dim d ON f.fk = d.dk GROUP BY g""")
    def readMv() = sess.query("SELECT g, cnt, sv FROM db.mvj ORDER BY g")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(readMv() === Seq(("A", 2L, 30L), ("B", 1L, 5L)))
    sess.execute("INSERT INTO db.fact VALUES ('k4','p1','d2',50)")
    sess.execute("UPDATE db.dim SET g = 'C' WHERE dk = 'd1'")
    sess.execute("REFRESH MATERIALIZED VIEW db.mvj")
    assert(readMv() === Seq(("B", 2L, 55L), ("C", 2L, 30L)))
    sess.execute("DROP MATERIALIZED VIEW db.mvj")
  }

  test("catalog front-end (spark.sql): join grammar + readable as a table") {
    val wh = Files.createTempDirectory("mvj-cat-wh-").toString
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.graft.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.jdb")
    val f = AcidTable.create(spark, s"$wh/jdb/fact", factSchema, "pk", "part",
      stablePartitions = true)
    f.upsert(factRows(("k1", "p0", "d1", 10L, "1.00"), ("k2", "p1", "d2", 20L, "2.00")))
    val d = AcidTable.create(spark, s"$wh/jdb/dim", dimSchema, "dk", "dpart",
      stablePartitions = true)
    d.upsert(dimRows(("d1", "q0", "A", 1L), ("d2", "q0", "B", 2L)))
    spark.sql("""CREATE MATERIALIZED VIEW graft.jdb.mvj AS
      SELECT dgrp, count(*) AS cnt, sum(val) AS sv
      FROM graft.jdb.fact f JOIN graft.jdb.dim d ON f.fk = d.dk
      GROUP BY dgrp""")
    def readMv() = spark.sql("SELECT dgrp, cnt, sv FROM graft.jdb.mvj ORDER BY dgrp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(readMv() === Seq(("A", 1L, 10L), ("B", 1L, 20L)))
    f.upsert(factRows(("k3", "p0", "d1", 30L, "3.00")))
    spark.sql("REFRESH MATERIALIZED VIEW graft.jdb.mvj")
    assert(readMv() === Seq(("A", 2L, 40L), ("B", 1L, 20L)))
    spark.sql("DROP MATERIALIZED VIEW graft.jdb.mvj")
  }

  test("stream maintenance folds fact batches against the pinned dim") {
    val f = seededFact("stream"); val d = seededDim("stream")
    val mv = mkView("stream", f, d)
    f.upsert(factRows(("k7", "p0", "d3", 70L, "7.00")))
    f.delete(Seq("k1"))
    val ckpt = Files.createTempDirectory("mvj-ckpt-").toString
    val q = mv.maintainStream(ckpt)
    q.awaitTermination()
    assert(got(mv) === expect(f, d))
    assert(mv.appliedVersions()._1 === f.latestVersion())
  }

  test("a fact-only trickle refresh is driver-only: zero Spark jobs") {
    // round-18: the join view's fast path — the fact delta joins against
    // a bucket-pruned DRIVER dim point lookup pinned at the applied dim
    // version, then folds and commits on the driver row kernels exactly
    // like the single-table trickle path
    val f = seededFact("zj"); val d = seededDim("zj")
    val mv = mkView("zj", f, d)
    f.upsert(factRows(("k1", "p0", "d2", 12L, "2.00"))) // fk migration too
    val jobs = Routes.jobsOf { mv.refresh(); () }
    assert(jobs === 0, s"fact-only join trickle must fold on the driver (saw $jobs jobs)")
    assert(got(mv) === expect(f, d))
    // and a DIM change still folds exactly (distributed path)
    d.upsert(dimRows(("d2", "q1", "E", 2L)))
    mv.refresh()
    assert(got(mv) === expect(f, d))
  }

  // ------------------------------------------------------- multi-dim star --

  private val fact2Schema = StructType(Seq(
    StructField("pk", StringType), StructField("part", StringType),
    StructField("fk", StringType), StructField("gk", StringType),
    StructField("val", LongType)))
  private val dim2Schema = StructType(Seq(
    StructField("gkey", StringType), StructField("gpart", StringType),
    StructField("region", StringType)))

  private def fact2Rows(ts: (String, String, String, String, java.lang.Long)*): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(ts.map { case (pk, part, fk, gk, v) =>
        org.apache.spark.sql.Row(pk, part, fk, gk, v)
      }: _*), fact2Schema)

  private def dim2Rows(ts: (String, String, String)*): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(ts.map { case (k, p, r) =>
        org.apache.spark.sql.Row(k, p, r)
      }: _*), dim2Schema)

  /** fact + dim + dim2 tables only: 6 facts, two fks each; one fk misses
    * dim, one misses dim2. */
  private def seededStarTables(pfx: String): (AcidTable, AcidTable, AcidTable) = {
    val f = AcidTable.create(spark, tmp(s"$pfx-f2"), fact2Schema, "pk", "part",
      stablePartitions = true)
    f.upsert(fact2Rows(
      ("k1", "p0", "d1", "g1", 10L), ("k2", "p1", "d1", "g2", 20L),
      ("k3", "p0", "d2", "g1", 30L), ("k4", "p1", "d2", "g2", 40L),
      ("k5", "p0", "dX", "g1", 50L), ("k6", "p1", "d3", "gX", 60L)))
    val d1 = seededDim(s"$pfx-s")
    val d2 = AcidTable.create(spark, tmp(s"$pfx-g"), dim2Schema, "gkey", "gpart",
      stablePartitions = true)
    d2.upsert(dim2Rows(("g1", "r0", "EU"), ("g2", "r1", "US"), ("g9", "r0", "AP")))
    (f, d1, d2)
  }

  /** [[seededStarTables]] plus the two-dim view over them. */
  private def seededStar(pfx: String): (AcidTable, AcidTable, AcidTable, MatView) = {
    val (f, d1, d2) = seededStarTables(pfx)
    val mv = MatView.create(spark, f, tmp(s"$pfx-v2"), Seq("dgrp", "region"),
      Seq(MvAgg("cnt", "count", "*"), MvAgg("sv", "sum", "val")),
      joins = Seq(MvJoin(d1.path, "fk", "dk", Seq("dgrp")),
        MvJoin(d2.path, "gk", "gkey", Seq("region"))))
    (f, d1, d2, mv)
  }

  private def expectStar(f: AcidTable, d1: AcidTable, d2: AcidTable): Seq[Seq[Any]] =
    f.snapshot()
      .join(d1.snapshot().select(col("dk"), col("dgrp")), col("fk") === col("dk"))
      .join(d2.snapshot().select(col("gkey"), col("region")), col("gk") === col("gkey"))
      .groupBy(col("dgrp"), col("region"))
      .agg(count(lit(1)).as("cnt"), sum(col("val")).as("sv"))
      .collect().map(_.toSeq).toSeq.sortBy(r => (r(0).toString, r(1).toString))

  private def gotStar(mv: MatView): Seq[Seq[Any]] =
    mv.read().collect().map(_.toSeq).toSeq.sortBy(r => (r(0).toString, r(1).toString))

  test("two-dim star view: initial materialization + per-side DML windows") {
    val (f, d1, d2, mv) = seededStar("star")
    assert(gotStar(mv) === expectStar(f, d1, d2))
    assert(mv.appliedVersions() ===
      (f.latestVersion(), Seq(d1.latestVersion(), d2.latestVersion())))
    // fact-only window (ΔF term): insert + fk migration + delete
    f.upsert(fact2Rows(("k7", "p0", "d3", "g2", 70L),
      ("k3", "p0", "d1", "g2", 31L)))
    f.delete(Seq("k2"))
    mv.refresh(); assert(gotStar(mv) === expectStar(f, d1, d2))
    // dim1-only window (first ΔD term): relabel + delete
    d1.upsert(dimRows(("d2", "q1", "C", 2L)))
    d1.delete(Seq("d3"))
    mv.refresh(); assert(gotStar(mv) === expectStar(f, d1, d2))
    // dim2-only window (second ΔD term): relabel + appearance (gX lands)
    d2.upsert(dim2Rows(("g1", "r0", "APAC"), ("gX", "r1", "LATAM")))
    mv.refresh(); assert(gotStar(mv) === expectStar(f, d1, d2))
    assert(mv.appliedVersions() ===
      (f.latestVersion(), Seq(d1.latestVersion(), d2.latestVersion())))
  }

  test("two-dim star view: all three sides change inside ONE refresh window") {
    val (f, d1, d2, mv) = seededStar("star3")
    // every telescoping term live at once: ΔF ⋈ D1@old ⋈ D2@old,
    // F@new ⋈ ΔD1 ⋈ D2@old, F@new ⋈ D1@new ⋈ ΔD2
    f.upsert(fact2Rows(("k8", "p1", "d2", "g1", 80L)))
    f.delete(Seq("k1"))
    d1.upsert(dimRows(("d1", "q0", "M", 1L), ("dX", "q1", "N", 5L)))
    d2.delete(Seq("g2"))
    d2.upsert(dim2Rows(("gX", "r0", "ME")))
    mv.refresh(); assert(gotStar(mv) === expectStar(f, d1, d2))
    // and a follow-up fact trickle still folds exactly
    f.upsert(fact2Rows(("k9", "p0", "d1", "gX", 90L)))
    mv.refresh(); assert(gotStar(mv) === expectStar(f, d1, d2))
  }

  test("two-dim star view: fact-only trickle is driver-only, zero Spark jobs") {
    val (f, d1, d2, mv) = seededStar("starz")
    f.upsert(fact2Rows(("k1", "p0", "d2", "g2", 11L))) // both-fk migration
    val jobs = Routes.jobsOf { mv.refresh(); () }
    assert(jobs === 0, s"fact-only two-dim trickle must fold on the driver (saw $jobs jobs)")
    assert(gotStar(mv) === expectStar(f, d1, d2))
  }

  test("three-dim star view: the telescoping terms generalize past two") {
    // k = 3: a third tiny dim keyed off `part` itself (any fact column
    // may be a join key). One window changes the fact and ALL THREE dims.
    val (f, d1, d2) = seededStarTables("star4")
    val d3Schema = StructType(Seq(
      StructField("pk2", StringType), StructField("zpart", StringType),
      StructField("zone", StringType)))
    val d3 = AcidTable.create(spark, tmp("star4-z"), d3Schema, "pk2", "zpart",
      stablePartitions = true)
    d3.upsert(spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row("p0", "z0", "EVEN"),
      org.apache.spark.sql.Row("p1", "z0", "ODD")), d3Schema))
    val mv = MatView.create(spark, f, tmp("star4-v"), Seq("dgrp", "region", "zone"),
      Seq(MvAgg("cnt", "count", "*"), MvAgg("sv", "sum", "val")),
      joins = Seq(MvJoin(d1.path, "fk", "dk", Seq("dgrp")),
        MvJoin(d2.path, "gk", "gkey", Seq("region")),
        MvJoin(d3.path, "part", "pk2", Seq("zone"))))
    def expect3(): Seq[Seq[Any]] =
      f.snapshot()
        .join(d1.snapshot().select(col("dk"), col("dgrp")), col("fk") === col("dk"))
        .join(d2.snapshot().select(col("gkey"), col("region")), col("gk") === col("gkey"))
        .join(d3.snapshot().select(col("pk2"), col("zone")), col("part") === col("pk2"))
        .groupBy(col("dgrp"), col("region"), col("zone"))
        .agg(count(lit(1)).as("cnt"), sum(col("val")).as("sv"))
        .collect().map(_.toSeq).toSeq
        .sortBy(r => (r(0).toString, r(1).toString, r(2).toString))
    def got3(): Seq[Seq[Any]] =
      mv.read().collect().map(_.toSeq).toSeq
        .sortBy(r => (r(0).toString, r(1).toString, r(2).toString))
    assert(got3() === expect3())
    // fact-only trickle still folds (driver path, three dim lookups)
    f.upsert(fact2Rows(("k1", "p0", "d2", "g2", 12L)))
    mv.refresh(); assert(got3() === expect3())
    // ALL FOUR relations change in one window: every telescoping term live
    f.upsert(fact2Rows(("kA", "p1", "d3", "g1", 100L)))
    d1.upsert(dimRows(("d2", "q1", "G", 2L)))
    d2.upsert(dim2Rows(("g1", "r0", "EMEA")))
    d3.upsert(spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row("p1", "z0", "PRIME")), d3Schema))
    mv.refresh(); assert(got3() === expect3())
    assert(mv.appliedVersions() === (f.latestVersion(),
      Seq(d1.latestVersion(), d2.latestVersion(), d3.latestVersion())))
  }

  test("two-dim star view: stream maintenance folds against both pinned dims") {
    val (f, d1, d2, mv) = seededStar("starst")
    f.upsert(fact2Rows(("k7", "p0", "d3", "g2", 70L)))
    f.delete(Seq("k1"))
    val ckpt = Files.createTempDirectory("mvs-ckpt-").toString
    val q = mv.maintainStream(ckpt)
    q.awaitTermination()
    assert(gotStar(mv) === expectStar(f, d1, d2))
    assert(mv.appliedVersions()._1 === f.latestVersion())
  }

  test("SQL front-end: two chained JOINs in CREATE MATERIALIZED VIEW") {
    val wh = Files.createTempDirectory("mvj-sql2-wh-").toString
    val sess = new AcidSqlSession(spark, wh)
    sess.execute("CREATE SCHEMA IF NOT EXISTS db")
    sess.execute("""CREATE TABLE db.fact (pk STRING, part STRING, fk STRING,
      gk STRING, v BIGINT) USING hudi PARTITIONED BY (part)
      TBLPROPERTIES (primaryKey = 'pk')""")
    sess.execute("""CREATE TABLE db.dim (dk STRING, dpart STRING, g STRING)
      USING hudi PARTITIONED BY (dpart) TBLPROPERTIES (primaryKey = 'dk')""")
    sess.execute("""CREATE TABLE db.geo (gkey STRING, gpart STRING, region STRING)
      USING hudi PARTITIONED BY (gpart) TBLPROPERTIES (primaryKey = 'gkey')""")
    sess.execute("""INSERT INTO db.fact VALUES
      ('k1','p0','d1','g1',10), ('k2','p1','d1','g2',20), ('k3','p0','d2','g1',5)""")
    sess.execute("INSERT INTO db.dim VALUES ('d1','q0','A'), ('d2','q0','B')")
    sess.execute("INSERT INTO db.geo VALUES ('g1','r0','EU'), ('g2','r0','US')")
    sess.execute("""CREATE MATERIALIZED VIEW db.mvs AS
      SELECT g, region, count(*) AS cnt, sum(v) AS sv
      FROM db.fact f JOIN db.dim d ON f.fk = d.dk
                     JOIN db.geo e ON f.gk = e.gkey
      GROUP BY g, region""")
    def readMv() = sess.query("SELECT g, region, cnt, sv FROM db.mvs ORDER BY g, region")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(readMv() === Seq(("A", "EU", 1L, 10L), ("A", "US", 1L, 20L), ("B", "EU", 1L, 5L)))
    sess.execute("INSERT INTO db.fact VALUES ('k4','p1','d2','g2',50)")
    sess.execute("UPDATE db.geo SET region = 'APAC' WHERE gkey = 'g1'")
    sess.execute("REFRESH MATERIALIZED VIEW db.mvs")
    assert(readMv() === Seq(("A", "APAC", 1L, 10L), ("A", "US", 1L, 20L),
      ("B", "APAC", 1L, 5L), ("B", "US", 1L, 50L)))
    sess.execute("DROP MATERIALIZED VIEW db.mvs")
  }

  test("create() validates join shape loudly") {
    val f = seededFact("val"); val d = seededDim("val")
    // overlapping column names fact/dim
    val clash = AcidTable.create(spark, tmp("val-clash"), factSchema, "pk", "part",
      stablePartitions = true)
    intercept[IllegalArgumentException] {
      MatView.create(spark, f, tmp("val-v1"), Seq("fk"),
        Seq(MvAgg("cnt", "count", "*")),
        joins = Seq(MvJoin(clash.path, "fk", "pk", Seq("val"))))
    }
    // unknown keys / dim columns
    intercept[IllegalArgumentException] {
      MatView.create(spark, f, tmp("val-v2"), Seq("dgrp"),
        Seq(MvAgg("cnt", "count", "*")),
        joins = Seq(MvJoin(d.path, "nope", "dk", Seq("dgrp"))))
    }
    intercept[IllegalArgumentException] {
      MatView.create(spark, f, tmp("val-v3"), Seq("dgrp"),
        Seq(MvAgg("cnt", "count", "*")),
        joins = Seq(MvJoin(d.path, "fk", "dk", Seq("nope"))))
    }
  }
}
