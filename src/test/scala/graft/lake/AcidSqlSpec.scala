package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The reference writers' SQL TEXT surface (TransactionWriter.java:153-175)
  * routed through AcidSql: the statements below keep the reference's exact
  * shapes (MERGE with temp-view USING source, DELETE … IN-list).
  */
class AcidSqlSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("primaryKeyValue", StringType),
    StructField("partitionKeyValue", StringType),
    StructField("dataValue", StringType)))

  private def freshTable(): (AcidTable, Map[String, AcidTable]) = {
    val t = AcidTable.create(spark,
      Files.createTempDirectory("acid-sql-").resolve("t").toString,
      schema, "primaryKeyValue", "partitionKeyValue")
    (t, Map("acid.records" -> t, "records" -> t))
  }

  test("INSERT INTO / MERGE INTO / DELETE FROM text execute transactionally") {
    val (t, reg) = freshTable()

    Seq(("R1", "P0", "v1"), ("R2", "P1", "v2"), ("R3", "P0", "v3"))
      .toDF("primaryKeyValue", "partitionKeyValue", "dataValue")
      .createOrReplaceTempView("ins_src")
    AcidSql.execute(spark, reg, "INSERT INTO acid.records SELECT * FROM ins_src")
    assert(t.snapshot().count() == 3)

    Seq(("R2", "P1", "v2-updated"), ("R4", "P1", "v4"))
      .toDF("primaryKeyValue", "partitionKeyValue", "dataValue")
      .createOrReplaceTempView("temp_view_1")
    // the reference's MERGE statement, verbatim shape (TransactionWriter.java:154-160)
    AcidSql.execute(spark, reg,
      """MERGE INTO acid.records t
        |USING (SELECT * FROM temp_view_1) s
        |ON t.primaryKeyValue = s.primaryKeyValue
        |WHEN MATCHED THEN UPDATE SET t.dataValue = s.dataValue
        |WHEN NOT MATCHED THEN
        |INSERT (t.primaryKeyValue, t.partitionKeyValue, t.dataValue) VALUES (s.primaryKeyValue, s.partitionKeyValue, s.dataValue)
        |""".stripMargin)
    val afterMerge = t.snapshot().orderBy("primaryKeyValue")
      .collect().map(r => (r.getString(0), r.getString(2))).toSeq
    assert(afterMerge == Seq("R1" -> "v1", "R2" -> "v2-updated", "R3" -> "v3", "R4" -> "v4"))

    AcidSql.execute(spark, reg,
      """DELETE FROM acid.records WHERE primaryKeyValue IN ("R1", "R3")""")
    assert(t.snapshot().select("primaryKeyValue").as[String].collect().sorted.toSeq
      == Seq("R2", "R4"))
  }

  test("UPDATE text: conditional assignment, qualified names, no-match no-op") {
    val (t, reg) = freshTable()
    Seq(("R1", "P0", "v1"), ("R2", "P1", "v2"), ("R3", "P0", "v3"))
      .toDF("primaryKeyValue", "partitionKeyValue", "dataValue")
      .createOrReplaceTempView("upd_src")
    AcidSql.execute(spark, reg, "INSERT INTO acid.records SELECT * FROM upd_src")

    // expression assignment + predicate, with alias-qualified references
    AcidSql.execute(spark, reg,
      """UPDATE acid.records r SET r.dataValue = concat(r.dataValue, '!')
        |WHERE r.partitionKeyValue = 'P0'""".stripMargin)
    val after = t.snapshot().orderBy("primaryKeyValue")
      .collect().map(r => (r.getString(0), r.getString(2))).toSeq
    assert(after == Seq("R1" -> "v1!", "R2" -> "v2", "R3" -> "v3!"))

    // a predicate matching nothing commits a no-op, content unchanged
    val v = AcidSql.execute(spark, reg,
      "UPDATE acid.records SET dataValue = 'x' WHERE primaryKeyValue = 'NOPE'")
    assert(v > 0)
    assert(t.snapshot().orderBy("primaryKeyValue")
      .collect().map(r => (r.getString(0), r.getString(2))).toSeq == after)

    // key/partition assignments are rejected loudly
    val e = intercept[IllegalArgumentException](AcidSql.execute(spark, reg,
      "UPDATE acid.records SET primaryKeyValue = 'R9' WHERE dataValue = 'v2'"))
    assert(e.getMessage.contains("key/partition"))
  }

  test("UPDATE recomputes from the fresh snapshot on an OCC conflict (no lost update)") {
    val (t, reg) = freshTable()
    Seq(("R1", "P0", "1"), ("R2", "P0", "2"))
      .toDF("primaryKeyValue", "partitionKeyValue", "dataValue")
      .createOrReplaceTempView("upd_cc_src")
    AcidSql.execute(spark, reg, "INSERT INTO acid.records SELECT * FROM upd_cc_src")

    // interleave: just before OUR update publishes, a second handle
    // rewrites R1 — the update's first computation (from dataValue='1')
    // is now stale; the OCC retry must re-derive from '100', not publish
    // the value computed off the stale read
    t.beforePublishHook = () => {
      t.beforePublishHook = () => ()
      val session = spark.newSession()
      val t2 = AcidTable.open(session, t.path)
      t2.upsert(session.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row("R1", "P0", "100")), schema))
    }
    AcidSql.execute(spark, reg,
      "UPDATE acid.records SET dataValue = concat(dataValue, '+') WHERE partitionKeyValue = 'P0'")
    val got = t.snapshot().orderBy("primaryKeyValue")
      .collect().map(r => (r.getString(0), r.getString(2))).toSeq
    assert(got == Seq("R1" -> "100+", "R2" -> "2+"),
      s"lost update: $got (a stale-read translation would give R1 -> 1+)")
  }

  test("reference DDL text lifecycle: CREATE SCHEMA / CREATE TABLE / DROP TABLE") {
    val wh = Files.createTempDirectory("acid-sql-wh-").toString
    val sess = new AcidSqlSession(spark, wh)
    sess.execute("CREATE SCHEMA IF NOT EXISTS acid")
    sess.execute("DROP TABLE IF EXISTS acid.records")
    // the reference's CREATE TABLE, verbatim shape (TransactionManager.java:76-88)
    sess.execute("""
      CREATE TABLE IF NOT EXISTS acid.records(
          primaryKeyValue STRING,
          partitionKeyValue STRING,
          dataValue STRING
      )
      USING hudi
      PARTITIONED BY (partitionKeyValue)
      TBLPROPERTIES (
          primaryKey = 'primaryKeyValue',
          preCombinedField = 'dataValue'
      )
    """)
    Seq(("K1", "P0", "a"), ("K1", "P0", "z"), ("K2", "P1", "b"))
      .toDF("primaryKeyValue", "partitionKeyValue", "dataValue")
      .createOrReplaceTempView("ddl_src")
    sess.execute("INSERT INTO acid.records SELECT * FROM ddl_src")
    // precombine from TBLPROPERTIES: greatest dataValue wins for K1
    val rows = sess.table("acid.records").snapshot()
      .orderBy("primaryKeyValue").collect().map(r => (r.getString(0), r.getString(2))).toSeq
    assert(rows == Seq("K1" -> "z", "K2" -> "b"))
    sess.execute("DELETE FROM acid.records WHERE primaryKeyValue IN ('K2')")
    assert(sess.table("records").snapshot().count() == 1)
    // the reference reader's literal SELECT text (ReaderThread.java:77-78)
    // resolves through the same session — qualified name, filters, aggs
    val selected = sess.query("SELECT primaryKeyValue, dataValue FROM acid.records")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(selected == Seq("K1" -> "z"))
    assert(sess.query("SELECT count(*) AS n FROM acid.records WHERE dataValue = 'z'")
      .collect().head.getLong(0) == 1L)
    sess.execute("DROP TABLE IF EXISTS acid.records")
    assertThrows[IllegalArgumentException] { sess.table("acid.records") }
  }

  test("unsupported statement shapes fail loudly; non-pk DELETE is a predicate delete") {
    val (t, reg) = freshTable()
    // round 9: a non-pk WHERE is no longer rejected — it routes to
    // AcidTable.deleteWhere with SQL filter semantics
    t.upsert({
      import spark.implicits._
      Seq(("K1", "P0", "x"), ("K2", "P1", "y"))
        .toDF("primaryKeyValue", "partitionKeyValue", "dataValue")
    })
    AcidSql.execute(spark, reg, "DELETE FROM acid.records WHERE dataValue = 'x'")
    assert(t.snapshot().select("primaryKeyValue").collect().map(_.getString(0)).toSeq
      .sorted.lastOption.contains("K2"))
    assert(t.snapshot().filter(org.apache.spark.sql.functions.col("dataValue") === "x").count() == 0)
    assertThrows[IllegalArgumentException] {
      AcidSql.execute(spark, reg, "SELECT 1")
    }
    assertThrows[IllegalArgumentException] {
      AcidSql.execute(spark, reg, "DELETE FROM unknown.tbl WHERE primaryKeyValue = 'a'")
    }
  }

  test("maintenance statements: OPTIMIZE [ZORDER BY], VACUUM RETAIN, DESCRIBE HISTORY") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("acid-sql-maint-").toString
    val sess = new AcidSqlSession(spark, wh)
    sess.execute("CREATE SCHEMA IF NOT EXISTS db")
    // numBuckets=2 so repeated inserts ACCUMULATE files per (part, bucket)
    // cell — the state OPTIMIZE exists to fold
    sess.execute("""CREATE TABLE db.m (pk STRING, part STRING, v BIGINT)
                   |USING hudi PARTITIONED BY (part)
                   |TBLPROPERTIES ('primaryKey' = 'pk', 'numBuckets' = '2')""".stripMargin)
    (0 until 4).foreach { k =>
      (0 until 16).map(i => (s"k$k-$i", s"p${i % 2}", (k * 16 + i).toLong))
        .toDF("pk", "part", "v").createOrReplaceTempView(s"m_rows_$k")
      sess.execute(s"INSERT INTO db.m SELECT * FROM m_rows_$k")
    }
    val t = sess.table("db.m")
    val filesBefore = t.snapshot().inputFiles.length

    // OPTIMIZE dispatches to compact: file count never grows, rows exact
    // (COW cells are already one file each here — true folding of
    // fragmented cells is pinned in AcidTableMaintenanceSpec)
    sess.execute("OPTIMIZE db.m")
    assert(sess.table("db.m").snapshot().inputFiles.length <= filesBefore)
    assert(sess.query("SELECT count(*) AS n FROM db.m").head().getLong(0) == 64L)

    // OPTIMIZE WHERE scopes to a partition list (Delta's restriction:
    // partition column only, equality or IN) — wrong columns fail loudly
    sess.execute("OPTIMIZE db.m WHERE part = 'p0'")
    sess.execute("OPTIMIZE db.m WHERE part IN ('p0', 'p1')")
    assert(sess.query("SELECT count(*) AS n FROM db.m").head().getLong(0) == 64L)
    val badCol = intercept[IllegalArgumentException] {
      sess.execute("OPTIMIZE db.m WHERE v = '3'")
    }
    assert(badCol.getMessage.contains("partition column"))
    intercept[IllegalArgumentException] {
      sess.execute("OPTIMIZE db.m WHERE part > 'p0'")
    }

    // OPTIMIZE ZORDER BY records per-file cluster stats for range pruning
    sess.execute("OPTIMIZE db.m ZORDER BY (v)")
    assert(sess.table("db.m").readClusterStats().nonEmpty)

    // scoped ZORDER rewrites and records stats for ONLY its partitions
    sess.execute("OPTIMIZE db.m WHERE part = 'p1' ZORDER BY (v)")
    assert(sess.query("SELECT count(*) AS n FROM db.m").head().getLong(0) == 64L)

    // SHOW PARTITIONS lists the live inventory from manifest strings
    val parts = sess.query("SHOW PARTITIONS db.m")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(parts.map(_._1) == Seq("p0", "p1"), parts.toString)
    assert(parts.forall(_._2 > 0))

    // DESCRIBE DETAIL: one-row layout summary from metadata alone
    val det = sess.query("DESCRIBE DETAIL db.m").collect().head
    assert(det.getString(0) == "graft-acid")
    assert(det.getLong(3) > 0 && det.getLong(4) > 0) // num_files, size_bytes
    assert(det.getLong(5) == 2) // live partitions p0, p1
    assert(det.getString(6) == "pk" && det.getString(7) == "part")

    // DESCRIBE HISTORY renders the op-labelled timeline
    val ops = sess.query("DESCRIBE HISTORY db.m")
      .orderBy("version").collect().map(_.getString(1)).toSeq
    // 3 COMPACTs (plain + two scoped WHERE) and 2 CLUSTERs (plain + scoped)
    assert(ops.count(_ == "COMPACT") == 3 && ops.count(_ == "CLUSTER") == 2, ops)

    // VACUUM RETAIN n VERSIONS trims data beyond retention (grace keeps
    // just-written files; retention math is pinned in the maintenance
    // spec — here the statement must parse, dispatch, and return a count)
    val removed = sess.execute("VACUUM db.m RETAIN 2 VERSIONS")
    assert(removed >= 0)
    assert(sess.query("SELECT count(*) AS n FROM db.m").head().getLong(0) == 64L)
  }

  test("bare INSERT: exact-order passes, reordered same names reject, unknown names land positionally") {
    val (t, reg) = freshTable()
    // exact order: fine
    Seq(("R1", "P0", "v1")).toDF("primaryKeyValue", "partitionKeyValue", "dataValue")
      .createOrReplaceTempView("ins_exact")
    AcidSql.execute(spark, reg, "INSERT INTO acid.records SELECT * FROM ins_exact")
    assert(t.snapshot().count() == 1)
    // the target's own names OUT OF ORDER: positional and by-name
    // resolution disagree — must reject loudly, not pick one silently
    Seq(("P9", "R9", "v9")).toDF("partitionKeyValue", "primaryKeyValue", "dataValue")
      .createOrReplaceTempView("ins_reorder")
    val e = intercept[IllegalArgumentException] {
      AcidSql.execute(spark, reg, "INSERT INTO acid.records SELECT * FROM ins_reorder")
    }
    assert(e.getMessage.contains("out of order"), e.getMessage)
    assert(t.snapshot().count() == 1, "rejected INSERT must not commit")
    // naming the columns disambiguates the same source
    AcidSql.execute(spark, reg,
      "INSERT INTO acid.records (partitionKeyValue, primaryKeyValue, dataValue) " +
        "SELECT * FROM ins_reorder")
    assert(t.snapshot().filter(col("primaryKeyValue") === "R9")
      .head().getString(1) == "P9")
    // unknown source names (VALUES shape): SQL-standard positional mapping
    AcidSql.execute(spark, reg, "INSERT INTO acid.records VALUES ('R5', 'P1', 'v5')")
    val r5 = t.snapshot().filter(col("primaryKeyValue") === "R5").head()
    assert(r5.getString(1) == "P1" && r5.getString(2) == "v5")
  }

  test("branch lifecycle text: CREATE BRANCH / staged DML / PUBLISH / DROP") {
    val wh = Files.createTempDirectory("acid-sql-wh-").toString
    val sess = new AcidSqlSession(spark, wh)
    sess.execute("CREATE SCHEMA IF NOT EXISTS acid")
    sess.execute("""
      CREATE TABLE IF NOT EXISTS acid.records(
          primaryKeyValue STRING,
          partitionKeyValue STRING,
          dataValue STRING
      )
      USING hudi
      PARTITIONED BY (partitionKeyValue)
      TBLPROPERTIES (primaryKey = 'primaryKeyValue')
    """)
    Seq(("K1", "P0", "a"), ("K2", "P1", "b"))
      .toDF("primaryKeyValue", "partitionKeyValue", "dataValue")
      .createOrReplaceTempView("br_src")
    sess.execute("INSERT INTO acid.records SELECT * FROM br_src")

    // stage onto the branch through the registered session name; main
    // stays at the fork state until PUBLISH
    sess.execute("ALTER TABLE acid.records CREATE BRANCH audit")
    Seq(("K3", "P0", "c"))
      .toDF("primaryKeyValue", "partitionKeyValue", "dataValue")
      .createOrReplaceTempView("br_stage")
    sess.execute("INSERT INTO records_branch_audit SELECT * FROM br_stage")
    sess.execute("DELETE FROM records_branch_audit WHERE primaryKeyValue IN ('K2')")
    assert(sess.table("acid.records").snapshot().count() == 2)
    assert(sess.query("SELECT count(*) AS n FROM records_branch_audit")
      .collect().head.getLong(0) == 2L) // K1 + K3, K2 staged-deleted
    sess.execute("ALTER TABLE acid.records PUBLISH BRANCH audit")
    val keys = sess.table("acid.records").snapshot()
      .collect().map(_.getString(0)).toSet
    assert(keys == Set("K1", "K3"))
    assertThrows[IllegalArgumentException] { sess.table("records_branch_audit") }

    // ref inventories
    sess.execute("ALTER TABLE acid.records CREATE TAG published")
    assert(sess.query("SHOW TAGS acid.records").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq == Seq("published" -> 1L))
    sess.execute("ALTER TABLE acid.records CREATE BRANCH inv")
    val br = sess.query("SHOW BRANCHES acid.records").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(br == Seq(("inv", 1L, 0L))) // fork at main v1, branch clone head v0
    sess.execute("ALTER TABLE acid.records DROP BRANCH inv")
    sess.execute("ALTER TABLE acid.records DROP TAG published")
    assert(sess.query("SHOW TAGS acid.records").count() == 0)

    // DROP BRANCH abandons the staged state
    sess.execute("ALTER TABLE acid.records CREATE BRANCH scrap")
    sess.execute("DELETE FROM records_branch_scrap WHERE primaryKeyValue IN ('K1')")
    sess.execute("ALTER TABLE acid.records DROP BRANCH scrap")
    assert(sess.table("acid.records").snapshot().count() == 2)
    assertThrows[IllegalArgumentException] { sess.table("records_branch_scrap") }
  }

  private def idTable(): (AcidTable, Map[String, AcidTable]) = {
    val t = AcidTable.create(spark,
      Files.createTempDirectory("acid-sql-id-").resolve("t").toString,
      StructType(Seq(
        StructField("id", LongType),
        StructField("part", StringType),
        StructField("v", StringType))),
      "id", "part")
    t.upsert((1L to 10L).map(i => (i, s"P${i % 2}", s"v$i")).toDF("id", "part", "v"))
    (t, Map("acid.r" -> t))
  }

  test("DELETE … WHERE id BETWEEN a AND b deletes the closed key range") {
    val (t, reg) = idTable()
    AcidSql.execute(spark, reg, "DELETE FROM acid.r WHERE id BETWEEN 3 AND 6")
    assert(t.snapshot().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 7L, 8L, 9L, 10L))
  }

  test("UPDATE … WHERE id BETWEEN a AND b updates the closed key range") {
    val (t, reg) = idTable()
    AcidSql.execute(spark, reg, "UPDATE acid.r SET v = 'x' WHERE id BETWEEN 3 AND 6")
    val byId = t.snapshot().collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(byId == (1L to 10L).map(i => i -> (if (i >= 3 && i <= 6) "x" else s"v$i")).toMap)
  }
}
