package graft.lake

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}

/** `CREATE / REFRESH / DROP MATERIALIZED VIEW` in `spark.sql(...)` — the
  * DSv2-catalog face of [[MatView]] (round-10 verdict #6; previously the
  * lifecycle existed only in the [[AcidSqlSession]] text front-end).
  *
  * Spark's grammar has no MATERIALIZED VIEW statement, so a parser
  * extension (injected by
  * [[org.apache.spark.sql.graft.GraftExtensions]]) recognizes the three
  * statements and reduces each to a [[LeafRunnableCommand]]; everything
  * else delegates to the session parser untouched — the same
  * pre-DataSourceV2 architecture Delta used for its DDL. The defining
  * SELECT goes through [[MatView.parseSelect]], the SAME reduction the
  * text front-end applies, so the two surfaces cannot drift.
  *
  * Name resolution mirrors [[GraftCatalog]]: `catalog.ns.view` (or
  * `ns.view` — any leading part whose `spark.sql.catalog.<part>` conf
  * names [[GraftCatalog]] is stripped) maps under
  * `spark.sql.graft.warehouse`. A created view is then readable as a
  * first-class catalog table (`SELECT … FROM graft.ns.view`) through
  * [[GraftCatalog.loadTable]]'s matview route.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  import MatViewSql._

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case CreateMvStmt(vn, select) => CreateMatViewCommand(vn.split('.').toSeq, select)
    case RefreshMvStmt(vn) => RefreshMatViewCommand(vn.split('.').toSeq)
    case DropMvStmt(vn) => DropMatViewCommand(vn.split('.').toSeq)
    case DescribeDetailStmt(tn) => DescribeDetailCommand(tn.split('.').toSeq)
    case FsckRepairStmt(tn) => FsckRepairCommand(tn.split('.').toSeq)
    case FsckStmt(tn) => FsckCommand(tn.split('.').toSeq)
    case _ => delegate.parsePlan(sqlText)
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

object MatViewSql {

  private[lake] val CreateMvStmt =
    """(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s+AS\s+(SELECT\s.+?)\s*;?\s*""".r
  private[lake] val RefreshMvStmt =
    """(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s*;?\s*""".r
  private[lake] val DropMvStmt =
    """(?is)\s*DROP\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s*;?\s*""".r
  // Spark's grammar has no DESCRIBE DETAIL either (Delta adds it the same
  // way); catalog tables answer with AcidTable.detail()'s one-row summary
  private[lake] val DescribeDetailStmt =
    """(?is)\s*DESCRIBE\s+DETAIL\s+([\w.]+)\s*;?\s*""".r
  // FSCK TABLE (round 15): read-only metadata integrity walk — dangling
  // segment/page/rli refs, stale GC quarantines; same add-to-grammar
  // shape. FSCK TABLE … REPAIR (round 16) heals what is recoverable —
  // see [[AcidTable.fsckRepair]].
  private[lake] val FsckRepairStmt =
    """(?is)\s*FSCK\s+TABLE\s+([\w.]+)\s+REPAIR\s*;?\s*""".r
  private[lake] val FsckStmt =
    """(?is)\s*FSCK\s+TABLE\s+([\w.]+)\s*;?\s*""".r

  private[lake] def warehouse: String =
    SQLConf.get.getConfString("spark.sql.graft.warehouse",
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-warehouse")

  /** Drop a leading identifier part that names a configured
    * [[GraftCatalog]] — `graft.ns.v` and `ns.v` resolve to the same
    * warehouse-relative path, exactly like the catalog's own lookups. */
  private[lake] def stripCatalog(parts: Seq[String]): Seq[String] =
    if (parts.length >= 2 &&
        scala.util.Try(SQLConf.get.getConfString(s"spark.sql.catalog.${parts.head}"))
          .toOption.contains(classOf[GraftCatalog].getName))
      parts.tail
    else parts

  private[lake] def pathOf(parts: Seq[String]): String =
    (warehouse +: stripCatalog(parts)).mkString("/")
}

case class CreateMatViewCommand(nameParts: Seq[String], select: String)
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    MatView.createFromSelect(spark, select,
      n => AcidTable.open(spark, MatViewSql.pathOf(n.split('.').toSeq)),
      MatViewSql.pathOf(nameParts))
    Nil
  }
}

case class RefreshMatViewCommand(nameParts: Seq[String]) extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    MatView.open(spark, MatViewSql.pathOf(nameParts)).refresh()
    Nil
  }
}

case class DescribeDetailCommand(nameParts: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    AcidTable.DetailSchema.fields.toSeq.map(f => AttributeReference(f.name, f.dataType)())
  }
  override def run(spark: SparkSession): Seq[Row] = {
    // the parser extension intercepts DESCRIBE DETAIL session-wide, so a
    // non-graft identifier lands here too — name the identifier in a clear
    // "no such graft table" error instead of AcidTable.open's path failure;
    // a materialized view (no _meta.properties of its own) answers with
    // its backing state table's detail
    val dir = MatViewSql.pathOf(nameParts)
    val tablePath =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_meta.properties"))) dir
      else if (java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_mv.properties")))
        MatView.statePath(dir)
      else throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        nameParts.toSeq)
    AcidTable.open(spark, tablePath).detail().collect().toSeq
  }
}

case class FsckCommand(nameParts: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.{LongType, StringType}
    Seq(AttributeReference("kind", StringType)(),
      AttributeReference("version", LongType)(),
      AttributeReference("name", StringType)(),
      AttributeReference("detail", StringType)())
  }
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = MatViewSql.pathOf(nameParts)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_meta.properties")))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        nameParts.toSeq)
    AcidTable.open(spark, dir).fsck().collect().toSeq
  }
}

case class FsckRepairCommand(nameParts: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.{LongType, StringType}
    Seq(AttributeReference("kind", StringType)(),
      AttributeReference("version", LongType)(),
      AttributeReference("name", StringType)(),
      AttributeReference("detail", StringType)(),
      AttributeReference("action", StringType)())
  }
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = MatViewSql.pathOf(nameParts)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_meta.properties")))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        nameParts.toSeq)
    AcidTable.open(spark, dir).fsckRepair().collect().toSeq
  }
}

case class DropMatViewCommand(nameParts: Seq[String]) extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = new java.io.File(MatViewSql.pathOf(nameParts))
    require(new java.io.File(dir, "_mv.properties").exists(),
      s"${nameParts.mkString(".")} is not a materialized view")
    DataFiles.deleteTree(dir.toPath)
    Nil
  }
}
