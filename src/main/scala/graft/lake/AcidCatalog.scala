package graft.lake

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsDelete, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 catalog over [[AcidTable]]s — SURVEY §7 M6's full form:
  * `SELECT` / `INSERT INTO` / `DELETE FROM` resolve NATIVELY through
  * Spark's catalog + connector APIs (no AcidSql pattern-match shim), and
  * `MERGE INTO` resolves through the [[AcidMergeRule]] session extension
  * (the pre-DSv2 Delta architecture: a resolution rule turns the statement
  * into a driver-orchestrated command whose data path is distributed).
  *
  * Register with:
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.graft.warehouse", "/path/to/warehouse")
  * }}}
  * The warehouse root is read from the DYNAMIC conf at every table lookup
  * (not pinned at catalog initialization) so one session can point the
  * catalog at different scratch roots — mirrors how the reference keeps its
  * db path in runtime config (`writer/Configuration.java`).
  *
  * Scale posture: reads go through [[AcidTable.snapshot]] (pinned manifest
  * → ordinary distributed parquet scan with partition pruning); the V1Scan
  * bridge applies required-column pruning and translated filters to that
  * DataFrame, so pushdown reaches the parquet scan through the snapshot
  * plan. Writes commit through the same OCC manifest path as the
  * programmatic API. Nothing row-scale crosses the driver.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = "graft"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  // enables ALTER TABLE … ADD/DROP CONSTRAINT routing (Spark 4.1 DSv2
  // constraints framework)
  override def capabilities(): util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  private def spark: SparkSession = SparkSession.active

  private def warehouse: String =
    SQLConf.get.getConfString("spark.sql.graft.warehouse",
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-warehouse")

  private def tablePath(ident: Identifier): String =
    (warehouse +: ident.namespace.toSeq :+ ident.name).mkString("/")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new java.io.File((warehouse +: namespace.toSeq).mkString("/"))
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => new java.io.File(f, "_meta.properties").exists() ||
        new java.io.File(f, "_mv.properties").exists())
      .map(f => Identifier.of(namespace, f.getName))
  }

  override def loadTable(ident: Identifier): Table = {
    val path = tablePath(ident)
    // a materialized view (created via CREATE MATERIALIZED VIEW — the
    // GraftSqlParser extension) reads as a first-class catalog table
    if (new java.io.File(path, "_mv.properties").exists())
      return new MatViewV2Table(MatView.open(spark, path), ident)
    if (!new java.io.File(path, "_meta.properties").exists()) {
      // Iceberg-style METADATA TABLES (round 18c): `db.t.history`,
      // `.partitions`, `.detail`, `.branches`, `.tags` — the identifier's
      // namespace tail names the parent table and the name selects the
      // metadata relation, so plain SELECT reaches the operational
      // surfaces without the text front-end's SHOW/DESCRIBE verbs
      val parent = ident.namespace.lastOption.map { pn =>
        (warehouse +: ident.namespace.dropRight(1).toSeq :+ pn).mkString("/")
      }
      val rel = GraftCatalog.metadataRelations.get(ident.name)
      (parent, rel) match {
        case (Some(pp), Some(f)) if new java.io.File(pp, "_meta.properties").exists() =>
          return new MetadataV2Table(AcidTable.open(spark, pp), ident, f)
        case _ =>
          throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
            ident.namespace.toSeq :+ ident.name)
      }
    }
    new AcidV2Table(AcidTable.open(spark, path), ident)
  }

  /** SQL time travel: `SELECT … FROM graft.ns.t VERSION AS OF n` pins the
    * scan to manifest version n — the catalog face of
    * [[AcidTable.snapshot]]'s version parameter. A non-numeric version
    * string resolves as a TAG name (`VERSION AS OF 'train_v1'`) — tag
    * names are validated non-numeric at creation, so the two namespaces
    * cannot collide. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val base = loadTable(ident).asInstanceOf[AcidV2Table]
    val v = scala.util.Try(version.toLong).getOrElse(base.acid.tagVersion(version))
    new AcidV2Table(base.acid, ident, Some(v))
  }

  /** `TIMESTAMP AS OF t`: Spark hands the timestamp in MICROseconds; the
    * latest manifest published at or before it is the pinned version
    * (manifest link mtime = commit linearization point). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val base = loadTable(ident).asInstanceOf[AcidV2Table]
    val v = base.acid.versionAt(timestamp / 1000L)
    require(v >= 0, s"no commit at or before timestamp ${timestamp}µs")
    new AcidV2Table(base.acid, ident, Some(v))
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val props = properties.asScala
    val pk = props.getOrElse("primaryKey",
      throw new IllegalArgumentException(
        "CREATE TABLE needs TBLPROPERTIES('primaryKey' = …)"))
    // public-API transform inspection (IdentityTransform is private[sql])
    val partCols = partitions.toSeq.collect {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references.head.fieldNames.mkString(".")
    }
    require(partCols.size == 1,
      s"exactly one identity partition column expected, got ${partitions.mkString(",")}")
    val t = AcidTable.create(spark, tablePath(ident), schema, pk, partCols.head,
      props.get("preCombinedField"),
      numBuckets = props.get("numBuckets").map(_.toInt).getOrElse(AcidTable.DefaultBuckets))
    // every non-structural TBLPROPERTY persists as a free-form table
    // property (e.g. morDeletes — the merge-on-read delete mode)
    val structural = Set("primaryKey", "preCombinedField", "numBuckets",
      "provider", "location", "owner", "external", "comment")
    props.foreach { case (k, v) =>
      if (!structural.contains(k)) t.setTableProperty(k, Some(v))
    }
    new AcidV2Table(t, ident)
  }

  /** `ALTER TABLE … ADD COLUMNS` → manifest-only schema evolution
    * ([[AcidTable.addColumns]]: old files surface the column as NULL, no
    * data rewrite); `ALTER TABLE … DROP COLUMN(S)` → [[AcidTable
    * .dropColumns]] (metadata-only; bytes purge on compaction, and the
    * dropped-name ledger blocks re-adding until then). Other table
    * changes are rejected loudly. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = loadTable(ident).asInstanceOf[AcidV2Table]
    val evolved = changes.foldLeft(t.acid) { (acid, change) =>
      change match {
        case a: TableChange.AddColumn =>
          require(a.fieldNames.length == 1,
            s"nested ADD COLUMN is not supported: ${a.fieldNames.mkString(".")}")
          acid.addColumns(Seq(
            org.apache.spark.sql.types.StructField(a.fieldNames.head, a.dataType,
              nullable = true)))
        case d: TableChange.DeleteColumn =>
          require(d.fieldNames.length == 1,
            s"nested DROP COLUMN is not supported: ${d.fieldNames.mkString(".")}")
          acid.dropColumns(Seq(d.fieldNames.head))
        case r: TableChange.RenameColumn =>
          require(r.fieldNames.length == 1,
            s"nested RENAME COLUMN is not supported: ${r.fieldNames.mkString(".")}")
          acid.renameColumn(r.fieldNames.head, r.newName)
        case u: TableChange.UpdateColumnType =>
          require(u.fieldNames.length == 1,
            s"nested ALTER COLUMN TYPE is not supported: ${u.fieldNames.mkString(".")}")
          acid.widenColumn(u.fieldNames.head, u.newDataType)
        case a: TableChange.AddConstraint =>
          a.constraint() match {
            case chk: org.apache.spark.sql.connector.catalog.constraints.Check =>
              acid.addConstraint(chk.name(), chk.predicateSql())
            case other =>
              throw new UnsupportedOperationException(
                s"only CHECK constraints are supported, got: $other")
          }
        case d: TableChange.DropConstraint =>
          if (d.ifExists() && !acid.checkConstraints.exists(_._1.equalsIgnoreCase(d.name())))
            acid
          else acid.dropConstraint(d.name())
        case p: TableChange.SetProperty =>
          // ALTER TABLE … SET TBLPROPERTIES: free-form property (e.g.
          // flipping morDeletes on a live table) — table-level, visible
          // to every handle on its next statement. STRUCTURAL keys are
          // rejected (round-10 ADVICE): storing `numBuckets = 64` as an
          // inert property would make SHOW TBLPROPERTIES contradict the
          // table's actual layout.
          rejectStructural(p.property())
          acid.setTableProperty(p.property(), Some(p.value())); acid
        case p: TableChange.RemoveProperty =>
          rejectStructural(p.property())
          acid.setTableProperty(p.property(), None); acid
        case other =>
          throw new UnsupportedOperationException(s"unsupported table change: $other")
      }
    }
    new AcidV2Table(evolved, ident)
  }

  /** Structural keys define the table's physical layout at CREATE time and
    * cannot be altered by a property write — rejecting them here keeps
    * SHOW TBLPROPERTIES truthful (what it reports is what the layout is).
    */
  private def rejectStructural(key: String): Unit = {
    val structural = Set("primaryKey", "numBuckets", "preCombinedField")
    if (structural.contains(key))
      throw new UnsupportedOperationException(
        s"'$key' is structural (fixed at CREATE TABLE); ALTER TABLE SET/UNSET " +
          "TBLPROPERTIES cannot change the table's physical layout")
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = java.nio.file.Paths.get(tablePath(ident))
    if (!java.nio.file.Files.exists(dir)) return false
    DataFiles.deleteTree(dir)
    true
  }

  override def renameTable(old: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("RENAME TABLE is not supported")

  // ------------------------------------------------------------- namespaces --

  override def listNamespaces(): Array[Array[String]] = {
    val root = new java.io.File(warehouse)
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(d => Array(d.getName))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace.toSeq)
    util.Collections.emptyMap()
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    new java.io.File((warehouse +: namespace.toSeq).mkString("/")).isDirectory

  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit = {
    new java.io.File((warehouse +: namespace.toSeq).mkString("/")).mkdirs(); ()
  }

  override def alterNamespace(
      namespace: Array[String], changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = new java.io.File((warehouse +: namespace.toSeq).mkString("/"))
    if (!dir.exists()) return false
    if (!cascade && Option(dir.listFiles()).exists(_.nonEmpty))
      throw new IllegalStateException(s"namespace ${namespace.mkString(".")} is not empty")
    DataFiles.deleteTree(dir.toPath)
    true
  }
}

/** The read-only connector-API face of one [[MatView]]: `SELECT … FROM
  * graft.ns.view` serves [[MatView.read]]'s #groups-sized state rendering
  * through the V1Scan bridge. Writes arrive only through REFRESH — a view
  * is derived data; rejecting direct DML keeps it honest.
  */
final class MatViewV2Table(val mv: MatView, ident: Identifier)
    extends Table with SupportsRead {

  override def name(): String = ident.toString

  private lazy val viewSchema: StructType = mv.read().schema

  override def schema(): StructType = viewSchema

  override def properties(): util.Map[String, String] = {
    val m = new util.LinkedHashMap[String, String]()
    m.put("type", "materialized_view")
    m.put("source", mv.source.path)
    m.put("appliedVersion", mv.appliedVersion().toString)
    m
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = viewSchema
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = viewSchema
            override def buildScan(): org.apache.spark.rdd.RDD[Row] = mv.read().rdd
          }.asInstanceOf[T]
      }
    }
}

object GraftCatalog {
  /** Metadata-relation registry for `db.t.<name>` identifiers (see
    * [[GraftCatalog.loadTable]]): each serves one operational surface —
    * timeline, partition inventory, layout summary, ref inventories — as
    * a read-only catalog table, the Iceberg metadata-table idiom. */
  private[lake] val metadataRelations: Map[String, AcidTable => DataFrame] = Map(
    "history" -> (t => t.history()),
    "partitions" -> (t => t.partitionsInventory()),
    "detail" -> (t => t.detail()),
    "branches" -> { t =>
      val sp = t.spark
      import sp.implicits._
      t.listBranches().map { case (n, fork) =>
        (n, fork, t.branch(n).latestVersion())
      }.toDF("branch", "fork_version", "head_version")
    },
    "tags" -> { t =>
      val sp = t.spark
      import sp.implicits._
      t.listTags().toDF("tag", "version")
    })
}

/** One metadata relation of an [[AcidTable]] served as a read-only catalog
  * table (`SELECT * FROM graft.db.t.history` …): the frame is recomputed
  * per scan, so every query sees the current state. */
final class MetadataV2Table(
    acid: AcidTable, ident: Identifier, rel: AcidTable => DataFrame)
    extends Table with SupportsRead {

  override def name(): String = ident.toString

  private lazy val relSchema: StructType = rel(acid).schema

  override def schema(): StructType = relSchema

  override def properties(): util.Map[String, String] = {
    val m = new util.LinkedHashMap[String, String]()
    m.put("type", "metadata_table")
    m.put("source", acid.path)
    m
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = relSchema
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = relSchema
            override def buildScan(): org.apache.spark.rdd.RDD[Row] = rel(acid).rdd
          }.asInstanceOf[T]
      }
    }
}

/** The connector-API face of one [[AcidTable]]: batch read via the V1Scan
  * bridge (snapshot DataFrame with pruning + pushdown), batch append via
  * V1Write → transactional upsert, and metadata-only DELETE on primary-key
  * filters. MERGE arrives via [[AcidMergeRule]], not a capability here —
  * group-based DSv2 row-level operations would force a full v2 parquet
  * writer stack for no semantic gain at this surface.
  */
final class AcidV2Table(
    val acid: AcidTable, ident: Identifier, version: Option[Long] = None)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {

  // ---- SupportsPartitionManagement: READ face only ------------------------
  // Partitions in this engine are DERIVED from data placement (manifest
  // directory strings) — `SHOW PARTITIONS graft.ns.t` lists them from one
  // manifest read; structural partition DDL (ADD/DROP PARTITION) is
  // meaningless here and fails loudly: rows, not partitions, are the unit
  // of change.
  override def partitionSchema(): StructType =
    StructType(Seq(acid.schema(acid.partitionCol)))

  override def listPartitionIdentifiers(
      names: Array[String],
      ident0: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    require(names.forall(_ == acid.partitionCol),
      s"unknown partition column(s) ${names.mkString(",")} — this table " +
        s"partitions by '${acid.partitionCol}'")
    val want: Option[String] =
      if (names.isEmpty) None
      else Option(ident0.getUTF8String(0)).map(_.toString)
    acid.partitionValues(version.getOrElse(-1L))
      .filter(p => want.forall(_ == p))
      .map(p => org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(p)))
      .toArray
  }

  override def createPartition(
      ident0: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "partitions are derived from written rows; INSERT data instead of ADD PARTITION")

  override def dropPartition(ident0: org.apache.spark.sql.catalyst.InternalRow): Boolean =
    throw new UnsupportedOperationException(
      "partitions are derived from written rows; DELETE their rows instead of DROP PARTITION")

  override def replacePartitionMetadata(
      ident0: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("partition metadata is not writable")

  override def loadPartitionMetadata(ident0: org.apache.spark.sql.catalyst.InternalRow)
      : util.Map[String, String] = new util.LinkedHashMap[String, String]()

  override def name(): String =
    ident.toString + version.map(v => s"@v$v").getOrElse("")

  override def schema(): StructType = acid.schema

  /** Table metadata as DSv2 properties — `SHOW TBLPROPERTIES graft.ns.t`
    * and DESCRIBE surfaces read these (pk/partition/precombine/bucket
    * layout plus the declared constraints). */
  override def properties(): util.Map[String, String] = {
    val m = new util.LinkedHashMap[String, String]()
    m.put("primaryKey", acid.pkCol)
    m.put("partitionColumn", acid.partitionCol)
    acid.precombineCol.foreach(m.put("preCombinedField", _))
    m.put("numBuckets", acid.numBuckets.toString)
    m.put("stablePartitions", acid.stablePartitions.toString)
    acid.checkConstraints.foreach { case (n, e) =>
      m.put(s"constraint.$n", s"CHECK ($e)")
    }
    acid.tableProperties.toSeq.sortBy(_._1).foreach { case (k, v) => m.put(k, v) }
    m
  }

  override def constraints(): Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    acid.checkConstraints.map { case (n, sqlE) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(n).predicateSql(sqlE).build()
        : org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AcidScanBuilder(acid, version)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
      // INSERT INTO appends (transactional upsert); INSERT OVERWRITE TABLE
      // arrives as truncate()+insert and maps to the single-commit
      // full-replace — both through the same OCC manifest path
      private var overwriteAll = false
      override def truncate(): WriteBuilder = { overwriteAll = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              require(version.isEmpty, "cannot write to a time-travelled table")
              if (overwriteAll || overwrite) acid.overwrite(data)
              else acid.upsert(data)
              ()
            }
          }
      }
    }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    AcidV2Table.pkKeys(filters, acid).isDefined ||
      filters.forall(f => AcidScanBuilder.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(version.isEmpty, "cannot delete from a time-travelled table")
    AcidV2Table.pkKeys(filters, acid) match {
      // pure pk-list DELETEs keep the bucket-pruned key path
      case Some(keys) => acid.delete(keys)
      case None =>
        // arbitrary predicate DELETE (round 9): every pushed filter must
        // translate — a silently dropped conjunct would delete MORE rows
        // than the statement asked for
        val cols = filters.toSeq.map(f => AcidScanBuilder.toColumn(f).getOrElse(
          throw new IllegalArgumentException(
            s"DELETE condition not translatable: $f")))
        acid.deleteWhere(cols.reduceOption(_ && _).getOrElse(lit(true)))
    }
    ()
  }
}

object AcidV2Table {
  /** Primary-key values from a DELETE condition, if the condition is a
    * pure PK filter (the reference's only DELETE shape). Gated exactly
    * like the scan path (round-9 ADVICE): only PK types whose string
    * rendering round-trips (`keyCastSupported`) may take the string-key
    * route — DATE/TIMESTAMP/DECIMAL PKs fall through to the typed
    * `deleteWhere` predicate path. NULL literals are dropped, never
    * rendered: `pk = NULL` / `pk IN (NULL)` match no row in SQL, whereas
    * `String.valueOf(null)` would delete a row whose string pk is
    * literally "null".
    */
  private[lake] def pkKeys(filters: Array[Filter], acid: AcidTable): Option[Seq[String]] = {
    if (!acid.keyCastSupported) return None
    val pk = acid.pkCol
    filters.toSeq match {
      case Seq(sources.In(a, vs)) if a == pk =>
        Some(vs.toSeq.filter(_ != null).map(String.valueOf))
      case Seq(sources.EqualTo(a, v)) if a == pk && v != null =>
        Some(Seq(String.valueOf(v)))
      case Seq(sources.EqualTo(a, null)) if a == pk =>
        Some(Nil) // pk = NULL matches nothing
      case _ => None
    }
  }
}

/** Scan builder bridging to the snapshot DataFrame: required-column pruning
  * and translated filters are applied to the snapshot plan, whose own
  * execution pushes them down to the underlying parquet scan — the V1Scan
  * indirection loses nothing at the file level.
  */
final class AcidScanBuilder(acid: AcidTable, version: Option[Long] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var required: StructType = acid.schema
  private var pushed: Array[Filter] = Array.empty

  /** Pure PK equality/IN among the pushed conjuncts (the point-lookup
    * route), gated on `keyCastSupported` exactly like the scan itself. */
  private def pushedPkKeys: Option[Seq[String]] =
    if (!acid.keyCastSupported) None
    else pushed.collectFirst {
      case sources.In(a, vs) if a == acid.pkCol => vs.toSeq.map(String.valueOf)
      case sources.EqualTo(a, v) if a == acid.pkCol && v != null => Seq(String.valueOf(v))
    }

  private def pushedPartHint: Option[Seq[String]] = pushed.collectFirst {
    case sources.In(a, vs) if a == acid.partitionCol => vs.toSeq.map(String.valueOf)
    case sources.EqualTo(a, v) if a == acid.partitionCol && v != null =>
      Seq(String.valueOf(v))
  }

  /** Hidden-partitioning transposition (round 11b): pushed conjuncts on
    * the partition transform's SOURCE column turn into a partition list —
    * equality/IN through the transform itself, a closed time range
    * through period enumeration — so `WHERE ts BETWEEN …` prunes to the
    * touched periods' directories with the user never naming a
    * partition. An EXPLICIT partition conjunct wins (it is exact);
    * untransposable shapes decline to None (full list, never wrong). */
  private def transformPartHint: Option[Seq[String]] = {
    if (pushedPartHint.isDefined) return None
    val src = scala.util.Try(acid.partitionTransform).toOption.flatten
      .map(_.sourceCol).getOrElse(return None)
    val eq = pushed.collectFirst {
      case sources.EqualTo(a, v) if a == src && v != null =>
        acid.transformPartitionsForEquals(a, Seq(v))
      case sources.In(a, vs) if a == src =>
        acid.transformPartitionsForEquals(a, vs.toSeq)
    }.flatten
    eq.orElse {
      val lo = pushed.collectFirst {
        case sources.GreaterThan(a, v) if a == src && v != null => v
        case sources.GreaterThanOrEqual(a, v) if a == src && v != null => v
      }
      val hi = pushed.collectFirst {
        case sources.LessThan(a, v) if a == src && v != null => v
        case sources.LessThanOrEqual(a, v) if a == src && v != null => v
      }
      (lo, hi) match {
        case (Some(l), Some(h)) => acid.transformPartitionsForRange(src, l, h)
        case _ => None
      }
    }
  }

  /** IS NULL / IS NOT NULL conjuncts: each prunes through the per-file
    * `col#n` (nullCount, rowCount) stats the statsColumns property
    * records — zero-null files skip an IS NULL, all-null files skip an
    * IS NOT NULL. Spark pushes an implicit IsNotNull for most predicates,
    * so this fires constantly and for free (the check reads the same
    * cached sidecar the range route already loads). */
  private def pushedNullChecks: Seq[(String, Boolean)] = pushed.toSeq.collect {
    case sources.IsNull(a) => a -> true
    case sources.IsNotNull(a) => a -> false
  }

  /** Equality/IN conjuncts on bloom-maintained NON-key columns: each one
    * prunes the file list through the per-file bloom sidecars (the PK
    * case routes through the stronger bucket+bloom lookup path instead).
    * Every conjunct is re-applied as a row filter below, so this is pure
    * file skipping — a bloom false positive costs a scan, never a row. */
  private def pushedBloomEquals: Seq[(String, Seq[Any])] = {
    val cols = acid.indexes.bloomColumnsRead
    if (cols.isEmpty) Nil
    else pushed.toSeq.collect {
      case sources.EqualTo(a, v)
          if v != null && a != acid.pkCol && cols.contains(a) => a -> Seq(v)
      case sources.In(a, vs) if a != acid.pkCol && cols.contains(a) => a -> vs.toSeq
    }
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    // an empty projection (e.g. count(*)) still needs one column to scan
    required = if (requiredSchema.fields.isEmpty) StructType(acid.schema.take(1))
    else requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => AcidScanBuilder.toColumn(f).isDefined)
    // report everything as post-scan residual: Spark re-checks, which keeps
    // correctness independent of the translation's completeness
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** The DSv2 BATCH scan route (runtime-filterable — see
    * [[org.apache.spark.sql.graft.AcidBatchScan]]): taken whenever the
    * snapshot needs no row-level post-processing (no live DVs, no
    * outstanding renames) and the kill switch is on. The V1 bridge below
    * remains the fallback for exactly those cases.
    */
  override def build(): Scan = {
    val batchEnabled = scala.util.Try(
      acid.spark.conf.get("spark.graft.batchScan.enabled", "true")).getOrElse("true")
    val batch =
      if (batchEnabled != "true") None
      else acid.batchScanPlan(
        pushedPkKeys,
        pushedPartHint.orElse(transformPartHint),
        AcidScanBuilder.rangeBounds(pushed, acid.schema),
        pushedBloomEquals,
        pushedNullChecks,
        version.getOrElse(-1L))
    batch match {
      case Some(plan) =>
        new org.apache.spark.sql.graft.AcidBatchScan(acid.spark, plan, required, pushed)
      case None => buildV1()
    }
  }

  private def buildV1(): Scan = new V1Scan with SupportsReportStatistics {
    override def readSchema(): StructType = required

    /** Manifest-driven size estimate for Catalyst's join planning: the
      * PRUNED file list's bytes as the commit's segments record them — so a
      * dimension-sized ACID table (or a point-lookup/range-pruned slice of
      * a huge one) auto-broadcasts in SQL joins with no hint, while an
      * unpruned 100 TB scan reports its true size and never does. Without
      * this, DSv2 falls back to `defaultSizeInBytes` (Long.MaxValue) and
      * every join over the catalog degrades to sort-merge. Metadata-only:
      * one manifest read, no file listing, no Spark job at plan time.
      */
    override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
      val view = acid.timeline.rootView(version.getOrElse(acid.latestVersion()))
      val files = pushedPkKeys match {
        case Some(ks) => acid.lookupFilesIn(view, ks, pushedPartHint)
        case None => acid.indexes.prunedFilesIn(view,
          AcidScanBuilder.rangeBounds(pushed, acid.schema), pushedBloomEquals,
          transformPartHint, pushedNullChecks)
      }
      val bytes = files.iterator.map(_._2).sum
      new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
        override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
      }
    }

    override def toV1TableScan[T <: BaseRelation with TableScan](
        context: SQLContext): T =
      new BaseRelation with TableScan {
        override def sqlContext: SQLContext = context
        override def schema: StructType = required
        override def buildScan(): org.apache.spark.rdd.RDD[Row] = {
          // a pure PK equality/IN among the pushed conjuncts routes the
          // read through the bucket-pruned point-lookup path: the file
          // list shrinks to the keys' hash buckets BEFORE the scan plan
          // exists, so `SELECT … WHERE pk = 'x'` on a 100 TB table reads
          // O(1) file groups — declaratively, with no API change for the
          // SQL user. A partition conjunct narrows the pruning further.
          // All pushed filters are re-applied below, but that only guards
          // against FALSE POSITIVES (rows the pruning let through that the
          // predicate rejects) — it cannot restore rows living in files the
          // bucket/partition pruning excluded. Row completeness therefore
          // DOES depend on lookupFiles' pruning being conservative and on
          // lookup's key parsing covering the PK type; keep both sound.
          // routing gate: only PK types castKeyTo parses take the lookup
          // path — for any other type (DATE/TIMESTAMP/DECIMAL/…) the
          // String.valueOf rendering of the literal is not guaranteed to
          // round-trip, so those reads keep the full snapshot+filter plan
          val base = pushedPkKeys match {
            case Some(ks) => acid.lookup(ks, pushedPartHint, version.getOrElse(-1L))
            case None =>
              // metadata-pruned route: range conjuncts skip through the
              // per-file cluster/write-time stats (round 10), equality
              // conjuncts on bloom-maintained columns skip through the
              // bloom sidecars (round 11) — files without stats/filters
              // are always kept, and every filter is re-applied below, so
              // both are pure file skipping, never a semantic change
              val bounds = AcidScanBuilder.rangeBounds(pushed, acid.schema)
              val eqs = pushedBloomEquals
              val parts = transformPartHint
              val nulls = pushedNullChecks
              if (bounds.nonEmpty || eqs.nonEmpty || parts.isDefined || nulls.nonEmpty)
                acid.snapshotPruned(bounds, eqs, version.getOrElse(-1L), parts, nulls)
              else acid.snapshot(version.getOrElse(-1L))
          }
          val filtered = pushed.flatMap(AcidScanBuilder.toColumn)
            .foldLeft(base)((df, c) => df.filter(c))
          filtered.select(required.fieldNames.map(col).toSeq: _*).rdd
        }
      }.asInstanceOf[T]
  }
}

object AcidScanBuilder {

  /** Closed per-column [lo, hi] ranges implied by the pushed TOP-LEVEL
    * conjuncts, encoded into the stats sidecar's long domain through
    * [[Indexes.statsEncode]] — so every stats-supported type (integrals,
    * DATE, TIMESTAMP, DECIMAL, STRING-prefix) prunes declaratively.
    * Multiple conjuncts on one column intersect. Conservative by
    * construction: anything not understood contributes no bound, and
    * strict bounds on LOSSY encodings (string prefix) are widened to
    * inclusive (extra files kept, never rows dropped); strict bounds on
    * exact encodings still tighten by one unit.
    */
  private[lake] def rangeBounds(
      pushed: Array[Filter], schema: StructType): Map[String, (Long, Long)] = {
    def enc(a: String, v: Any): Option[Long] =
      schema.fields.find(_.name == a)
        .flatMap(f => Indexes.statsEncode(f.dataType, v))
    // unit-exact types: a strict bound can be tightened by 1 in the
    // encoded domain; the string prefix cannot (two distinct strings may
    // share an encoding), so strict stays inclusive there
    def exact(a: String): Boolean =
      schema.fields.find(_.name == a).exists(_.dataType != StringType)
    pushed.toSeq.flatMap {
      case sources.GreaterThan(a, v) =>
        enc(a, v).map(x =>
          a -> (if (exact(a) && x < Long.MaxValue) x + 1 else x, Long.MaxValue))
      case sources.GreaterThanOrEqual(a, v) => enc(a, v).map(x => a -> (x, Long.MaxValue))
      case sources.LessThan(a, v) =>
        enc(a, v).map(x =>
          a -> (Long.MinValue, if (exact(a) && x > Long.MinValue) x - 1 else x))
      case sources.LessThanOrEqual(a, v) => enc(a, v).map(x => a -> (Long.MinValue, x))
      case sources.EqualTo(a, v) => enc(a, v).map(x => a -> (x, x))
      case sources.In(a, vs) =>
        // an IN set bounds to its [min, max] envelope — sound only when
        // EVERY non-null member encodes (NULL members never match)
        val nonNull = vs.toSeq.filter(_ != null)
        val encoded = nonNull.flatMap(enc(a, _))
        if (nonNull.nonEmpty && encoded.size == nonNull.size)
          Some(a -> (encoded.min, encoded.max))
        else None
      case _ => None
    }.groupBy(_._1).map { case (c, bs) =>
      c -> bs.map(_._2).reduce((p, q) => (math.max(p._1, q._1), math.min(p._2, q._2)))
    }
  }

  /** Best-effort v1 Filter → Column translation; untranslatable filters
    * stay residual (Spark evaluates them post-scan). */
  private[lake] def toColumn(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toSeq.map(lit(_)): _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.And(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case sources.Or(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case _ => None
  }
}
