package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression, In, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, InsertIntoStatement, LogicalPlan, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateTable}
import org.apache.spark.sql.graft.PlanShim
import org.apache.spark.sql.types.StructType

/** SQL TEXT front-end for [[AcidTable]] — the reference's writers emit
  * literal `MERGE INTO` / `DELETE FROM` statements
  * (`writer/TransactionWriter.java:153-161, 170-175`), so the rebuild
  * accepts the same text. Spark's own parser produces the logical
  * statement; this layer pattern-matches the reference's statement shapes
  * and routes them to the transactional table ops (the same translation a
  * DSv2 row-level-operation rule would do, without needing a catalog):
  *
  *  - `MERGE INTO t USING (…) s ON t.pk = s.pk WHEN MATCHED THEN UPDATE
  *    SET t.c = s.c … WHEN NOT MATCHED THEN INSERT (…) VALUES (…)`
  *    → [[AcidTable.merge]] (update-cols from the SET list; the insert
  *    must cover the full schema, which the reference's statement does)
  *  - `DELETE FROM t WHERE pk IN ('k1', 'k2', …)` (or `pk = 'k'`)
  *    → [[AcidTable.delete]]
  *  - `INSERT INTO t SELECT …` / `VALUES …`
  *    → [[AcidTable.upsert]] (Hudi append with a record key IS an upsert,
  *    which is exactly how the reference's insert path behaves)
  *  - `UPDATE t SET c = expr … [WHERE cond]`
  *    → [[AcidTable.update]] (group-based row-level rewrite; the matched
  *    set is rediscovered inside the OCC commit loop, so retried commits
  *    never apply values computed from a stale snapshot)
  *
  * The USING source resolves through the session analyzer, so temp views
  * registered the way the reference registers them work unchanged.
  * Unsupported statement shapes fail loudly rather than mis-execute.
  */
object AcidSql {

  /** Execute one statement against the registered tables; returns the
    * committed version. `tables` maps both bare and qualified names.
    */
  def execute(spark: SparkSession, tables: Map[String, AcidTable], sql: String): Long =
    PlanShim.parse(spark, sql) match {

      case m: MergeIntoTable =>
        val t = resolveTable(tables, m.targetTable)
        val src = PlanShim.ofRows(spark, stripAlias(m.sourceTable))
        requireShape(keyEquality(m.mergeCondition, t.pkCol),
          s"MERGE condition must be t.${t.pkCol} = s.${t.pkCol}, got: ${m.mergeCondition.sql}")
        val tAl = aliasNamesOf(m.targetTable)
        val sAl = aliasNamesOf(m.sourceTable)
        def isIdentity(a: Assignment): Boolean =
          scala.util.Try { requireIdentityAssign(tAl)(a); true }.getOrElse(false)
        (m.matchedActions, m.notMatchedActions, m.notMatchedBySourceActions) match {
          case (Seq(DeleteAction(None)), Seq(), Seq()) =>
            // MERGE … WHEN MATCHED THEN DELETE (round 9): removing the
            // target rows whose pk appears in the source IS delete by the
            // source's key set — the bucket-pruned key path, not a rewrite
            t.delete(src)
          case (Seq(UpdateAction(None, assigns, _)), Seq(InsertAction(None, ins)), Seq())
              if assigns.forall(isIdentity) && ins.forall(isIdentity) =>
            // the reference's one unconditional IDENTITY shape keeps the
            // fast window-merge formulation (and its driver kernel);
            // transformed SET values fall through to the expression-clause
            // path below (round 10b — previously they would have silently
            // executed as identity copies)
            val cols = ins.map(assignedCol).toSet
            requireShape(t.schema.fieldNames.forall(cols.contains),
              s"MERGE insert must cover the full schema ${t.schema.fieldNames.mkString(",")}, got $cols")
            t.merge(src, assigns.map(assignedCol))
          case (matchedActions, notMatchedActions, nmbsActions) =>
            // conditional / multi-clause MERGE (round 10): WHEN MATCHED
            // [AND cond] THEN UPDATE/DELETE, first-match-wins, plus
            // conditional full-row inserts → AcidTable.mergeConditional.
            // Round 10b: UPDATE SET values may be arbitrary expressions
            // over the t/s pre-image (requalified like clause conditions).
            requireShape((tAl intersect sAl).isEmpty,
              s"target and source aliases overlap: ${(tAl intersect sAl).mkString(",")}")
            def cond(e: Expression): org.apache.spark.sql.Column =
              PlanShim.columnOf(requalify(e, tAl, sAl))
            val matched = matchedActions.map {
              case UpdateAction(c, assigns, _) if assigns.forall(isIdentity) =>
                MergeMatchedClause.Update(c.map(cond), assigns.map(assignedCol))
              case UpdateAction(c, assigns, _) =>
                MergeMatchedClause.UpdateExprs(c.map(cond),
                  assigns.map(a => assignedCol(a) -> cond(a.value)))
              case DeleteAction(c) => MergeMatchedClause.Delete(c.map(cond))
              case other => fail(s"unsupported WHEN MATCHED action: $other")
            }
            val notMatched = notMatchedActions.map {
              case InsertAction(c, assigns) if assigns.forall(isIdentity) =>
                val cols = assigns.map(assignedCol).toSet
                requireShape(t.schema.fieldNames.forall(cols.contains),
                  s"MERGE insert must cover the full schema" +
                    s" ${t.schema.fieldNames.mkString(",")}, got $cols")
                MergeInsertClause(c.map(cond), None)
              case InsertAction(c, assigns) =>
                // round 10b: reordered / transformed / partial VALUES —
                // per-column expressions over the source (validated in
                // mergeClauses: key+partition covered, s-only references)
                MergeInsertClause(c.map(cond),
                  Some(assigns.map(a => assignedCol(a) -> cond(a.value))))
              case other => fail(s"unsupported WHEN NOT MATCHED action: $other")
            }
            // round 10: WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE
            // (the full-sync shape); round 10b adds expression UPDATE
            // clauses (t-only references, validated in mergeConditional)
            val nmbs = nmbsActions.map {
              case DeleteAction(c) => MergeMatchedClause.Delete(c.map(cond))
              case UpdateAction(c, assigns, _) =>
                MergeMatchedClause.UpdateExprs(c.map(cond),
                  assigns.map(a => assignedCol(a) -> cond(a.value)))
              case other => fail(
                s"unsupported WHEN NOT MATCHED BY SOURCE action: $other")
            }
            t.mergeClauses(src, matched, notMatched, notMatchedBySource = nmbs)
        }

      case u: UpdateTable =>
        // UPDATE t SET c = expr … [WHERE cond] → AcidTable.update (the
        // group-based row-level rewrite; matched rows rediscovered inside
        // the OCC loop). Qualifiers are stripped: a single-table UPDATE's
        // references are unambiguous, and the snapshot they resolve
        // against carries bare column names.
        val t = resolveTable(tables, u.table)
        val assigns = u.assignments.map(a =>
          assignedCol(a) -> PlanShim.columnOf(stripQualifiers(a.value)))
        val cond = u.condition
          .map(e => PlanShim.columnOf(stripQualifiers(e)))
          .getOrElse(org.apache.spark.sql.functions.lit(true))
        t.update(assigns, cond)

      case DeleteFromTable(target, condition) =>
        val t = resolveTable(tables, target)
        // the reference's pk-list shape keeps its bucket-pruned key path;
        // any other WHERE becomes a predicate delete (round 9)
        keysFromOpt(condition, t) match {
          case Some(keys) => t.delete(keys)
          case None => t.deleteWhere(PlanShim.columnOf(stripQualifiers(condition)))
        }

      case i: InsertIntoStatement =>
        val t = resolveTable(tables, i.table)
        val q = PlanShim.ofRows(spark, i.query)
        // `INSERT INTO t (cols…)` names its targets. A bare INSERT maps to
        // the schema by POSITION, the SQL-standard semantics (`VALUES (…)`
        // outputs col1…colN and lands positionally). One trap is rejected
        // LOUDLY instead of resolved silently (round-10 ADVICE): a source
        // whose columns are the target's names in a DIFFERENT order —
        // standard SQL would reorder the VALUES underneath names that all
        // look right, while by-name resolution would contradict standard
        // positional semantics. Neither silent read is safe; the user
        // names the columns to disambiguate.
        val targetNames = t.schema.fieldNames.toSeq
        val targets =
          if (i.userSpecifiedCols.nonEmpty) i.userSpecifiedCols
          else if (q.columns.toSeq == targetNames) Nil // exact order: name == position
          else if (q.columns.forall(targetNames.contains))
            fail(s"bare INSERT INTO with source columns (${q.columns.mkString(", ")}) " +
              s"that are the target's names out of order (${targetNames.mkString(", ")}): " +
              "positional and by-name resolution disagree — write " +
              "INSERT INTO t (col, …) to state the mapping")
          else targetNames
        val batch =
          if (targets.isEmpty) q
          else {
            requireShape(q.columns.length == targets.length,
              s"INSERT arity ${q.columns.length} != target columns ${targets.mkString(",")}")
            q.toDF(targets: _*)
          }
        t.upsert(batch)

      case other => fail(s"unsupported statement: ${other.getClass.getSimpleName}")
    }

  /** Execute a read statement (the reference reader's literal
    * `SELECT * FROM concurrencytestdb.acid_verification`,
    * `reader/ReaderThread.java:77-78`) against the registered tables: every
    * relation naming a registered table is substituted with that table's
    * CURRENT SNAPSHOT plan, then the whole statement resolves through the
    * session analyzer — so joins, filters, aggregates, and temp views all
    * work over transactional snapshots exactly as over catalog tables. The
    * snapshot is pinned once per call: one statement reads one version.
    */
  def query(spark: SparkSession, tables: Map[String, AcidTable], sql: String): DataFrame =
    queryPlan(spark, tables, PlanShim.parse(spark, sql))

  /** [[query]] over an already-parsed (and possibly pre-substituted) plan —
    * lets [[AcidSqlSession]] splice materialized-view reads in first. */
  private[lake] def queryPlan(
      spark: SparkSession, tables: Map[String, AcidTable], plan: LogicalPlan): DataFrame = {
    val substituted = plan.transformUp {
      case r: UnresolvedRelation if lookup(tables, r).isDefined =>
        SubqueryAlias(r.multipartIdentifier.last,
          PlanShim.logical(lookup(tables, r).get.snapshot()))
    }
    PlanShim.ofRows(spark, substituted)
  }

  // ------------------------------------------------------------------ helpers --

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"AcidSql: $msg")

  private def requireShape(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)

  private def stripAlias(p: LogicalPlan): LogicalPlan = p match {
    case SubqueryAlias(_, child) => stripAlias(child)
    case other => other
  }

  private def stripQualifiers(e: Expression): Expression = e.transform {
    case a: UnresolvedAttribute if a.nameParts.size > 1 =>
      UnresolvedAttribute(Seq(a.nameParts.last))
  }

  /** Alias names a statement can qualify a plan's columns with: every
    * `SubqueryAlias` on the chain plus the relation's own last name part.
    * Lower-cased (MERGE qualifiers resolve case-insensitively). */
  private def aliasNamesOf(p: LogicalPlan): Set[String] = p match {
    case SubqueryAlias(id, child) => aliasNamesOf(child) + id.name.toLowerCase
    case r: UnresolvedRelation => Set(r.multipartIdentifier.last.toLowerCase)
    case _ => Set.empty
  }

  /** Rewrite a clause condition's column qualifiers onto the canonical
    * `t`/`s` aliases [[AcidTable.mergeConditional]] joins under.
    * Unqualified references fail loudly — target and source share the
    * full schema, so every bare name is ambiguous by construction. */
  private def requalify(
      e: Expression, targetAliases: Set[String], sourceAliases: Set[String]): Expression =
    e.transform {
      case a: UnresolvedAttribute if a.nameParts.size > 1 =>
        val q = a.nameParts.init.last.toLowerCase
        if (targetAliases.contains(q)) UnresolvedAttribute(Seq("t", a.nameParts.last))
        else if (sourceAliases.contains(q)) UnresolvedAttribute(Seq("s", a.nameParts.last))
        else fail(s"unknown qualifier '$q' in MERGE clause condition: ${a.sql}")
      case a: UnresolvedAttribute =>
        fail("MERGE clause conditions must qualify column references with the " +
          s"target or source alias, got bare: ${a.sql}")
    }

  /** Conditional-clause SET values must be the same-named SOURCE column —
    * [[AcidTable.mergeConditional]] executes updates as same-named column
    * copies, so a transformed or target-qualified value would silently run
    * as the identity mapping (the check [[AcidMergeRule]] already applies
    * on the catalog path). */
  private def requireIdentityAssign(targetAliases: Set[String])(a: Assignment): Unit = {
    val key = assignedCol(a)
    val ok = a.value match {
      case attr: UnresolvedAttribute =>
        attr.nameParts.last == key &&
          attr.nameParts.init.lastOption.forall(q => !targetAliases.contains(q.toLowerCase))
      case _ => false
    }
    requireShape(ok,
      s"MERGE assignment for '$key' must be the same-named SOURCE column" +
        s" (t.$key = s.$key), got: ${a.value.sql}")
  }

  private def lookup(tables: Map[String, AcidTable], r: UnresolvedRelation): Option[AcidTable] = {
    val full = r.multipartIdentifier.mkString(".")
    tables.get(full).orElse(tables.get(r.multipartIdentifier.last))
  }

  private def resolveTable(tables: Map[String, AcidTable], p: LogicalPlan): AcidTable =
    stripAlias(p) match {
      case r: UnresolvedRelation =>
        lookup(tables, r).getOrElse(fail(s"unknown table '${r.multipartIdentifier.mkString(".")}'" +
          s" (registered: ${tables.keys.mkString(", ")})"))
      case other => fail(s"target must be a plain table reference, got: $other")
    }

  private def lastName(e: Expression): String = e match {
    case a: UnresolvedAttribute => a.nameParts.last
    case other => fail(s"expected a column reference, got: ${other.sql}")
  }

  private def assignedCol(a: Assignment): String = lastName(a.key)

  private def keyEquality(cond: Expression, pk: String): Boolean = cond match {
    case EqualTo(l, r) => lastName(l) == pk && lastName(r) == pk
    case _ => false
  }

  /** Key list for the bucket-pruned DELETE fast path — gated like
    * [[AcidV2Table.pkKeys]] (round-9 ADVICE): non-castable PK types and
    * NULL literals fall through to the typed predicate path instead of a
    * lossy `String.valueOf` rendering (`pk = NULL` must match nothing,
    * not the string "null").
    */
  private def keysFromOpt(cond: Expression, t: AcidTable): Option[Seq[String]] = {
    if (!t.keyCastSupported) return None
    val pk = t.pkCol
    cond match {
      case In(attr, values) if nameOf(attr).contains(pk) &&
          values.forall(_.isInstanceOf[Literal]) =>
        Some(values.collect { case Literal(v, _) if v != null => String.valueOf(v) })
      case EqualTo(attr, Literal(v, _)) if nameOf(attr).contains(pk) =>
        Some(if (v == null) Nil else Seq(String.valueOf(v)))
      case _ => None
    }
  }

  private def nameOf(e: Expression): Option[String] = e match {
    case a: UnresolvedAttribute => Some(a.nameParts.last)
    case _ => None
  }
}

/** Stateful SQL session over a warehouse directory: the reference's FULL
  * text lifecycle — `CREATE SCHEMA`, `DROP TABLE IF EXISTS`,
  * `CREATE TABLE … USING hudi PARTITIONED BY (…) TBLPROPERTIES(primaryKey,
  * preCombinedField)` (`writer/TransactionManager.java:74-89`), then the
  * DML statements — executes against native [[AcidTable]]s, table paths
  * derived from the warehouse root exactly like a Hive-style catalog.
  */
final class AcidSqlSession(spark: SparkSession, warehouseDir: String) {
  import org.apache.spark.sql.catalyst.analysis.{ResolvedIdentifier, UnresolvedIdentifier}
  import org.apache.spark.sql.catalyst.plans.logical.{CreateTable, CreateNamespace, DropTable}

  private val tables = scala.collection.concurrent.TrieMap.empty[String, AcidTable]

  def table(name: String): AcidTable =
    tables.getOrElse(name, throw new IllegalArgumentException(s"unknown table $name"))

  // `CREATE TABLE dst SHALLOW CLONE src [VERSION AS OF n]` — Delta's
  // clone statement is not in Spark's grammar, so this one shape is
  // recognized textually before the parser (same trade-off as Delta's own
  // pre-DSv2 SQL front-end)
  private val CloneStmt =
    """(?is)\s*CREATE\s+TABLE\s+([\w.]+)\s+SHALLOW\s+CLONE\s+([\w.]+)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*;?\s*""".r
  // Delta's constraint DDL shapes, handled textually like CloneStmt (the
  // predicate text goes to AcidTable.addConstraint verbatim; validation
  // and determinism checks happen there)
  private val AddConstraintStmt =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*;?\s*""".r
  private val DropConstraintStmt =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+CONSTRAINT\s+(\w+)\s*;?\s*""".r
  private val RenameColStmt =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*;?\s*""".r
  // Delta's type-widening DDL shape (round 18c); the type text parses
  // through Catalyst's grammar and the lossless-upcast validation lives
  // in AcidTable.widenColumn
  private val AlterColTypeStmt =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+ALTER\s+COLUMN\s+(\w+)\s+TYPE\s+([\w(),. ]+?)\s*;?\s*""".r
  // Delta's maintenance statements: OPTIMIZE bin-packs (optionally
  // Z-ordering by the named columns), VACUUM garbage-collects beyond the
  // retention window. RETAIN … VERSIONS keeps manifest-count retention
  // (our timeline unit); grace stays at the API default so a VACUUM next
  // to live commits is as safe as the programmatic call.
  private val OptimizeStmt =
    """(?is)\s*OPTIMIZE\s+([\w.]+)(?:\s+WHERE\s+(.+?))?(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?\s*;?\s*""".r
  // OPTIMIZE WHERE accepts Delta's restriction verbatim: partition-column
  // equality or IN, nothing else — maintenance scope is a partition list,
  // not a row predicate
  private val OptWhereEq = """(?is)\s*(\w+)\s*=\s*'([^']*)'\s*""".r
  private val OptWhereIn = """(?is)\s*(\w+)\s+IN\s*\(([^)]*)\)\s*""".r
  private val VacuumStmt =
    """(?is)\s*VACUUM\s+([\w.]+)(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?\s*;?\s*""".r
  // Delta's RESTORE statement (round 18c): metadata-only re-link to a
  // prior version through AcidTable.restore's vacuumed-target refusal
  private val RestoreStmt =
    """(?is)\s*RESTORE\s+TABLE\s+([\w.]+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""".r
  // Materialized-view lifecycle (not in Spark's grammar — recognized
  // textually like CloneStmt; the defining SELECT goes through Spark's
  // parser and must reduce to a single GROUP BY over one session table)
  private val CreateMvStmt =
    """(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s+AS\s+(SELECT\s.+?)\s*;?\s*""".r
  private val RefreshMvStmt =
    """(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s*;?\s*""".r
  private val DropMvStmt =
    """(?is)\s*DROP\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s*;?\s*""".r

  // Branch / write-audit-publish lifecycle (round 18c) — recognized
  // textually like CloneStmt. CREATE BRANCH also registers the branch as
  // a session table named `<table>_branch_<name>` so every existing DML
  // and SELECT route (Spark-parsed identifiers can't carry '@') stages
  // onto the branch; PUBLISH/DROP unregister it.
  private val CreateBranchStmt =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+CREATE\s+BRANCH\s+([\w.-]+)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*;?\s*""".r
  private val PublishBranchStmt =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+PUBLISH\s+BRANCH\s+([\w.-]+)\s*;?\s*""".r
  private val DropBranchStmt =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+BRANCH\s+([\w.-]+)\s*;?\s*""".r
  // Tag lifecycle (round 18c): named immutable snapshot refs that pin
  // their versions against vacuum's timeline archival. Reads resolve by
  // tag through the catalog route's `VERSION AS OF '<name>'`.
  private val CreateTagStmt =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+CREATE\s+TAG\s+([\w.-]+)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*;?\s*""".r
  private val DropTagStmt =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+TAG\s+([\w.-]+)\s*;?\s*""".r

  private val views = scala.collection.concurrent.TrieMap.empty[String, MatView]

  def view(name: String): MatView =
    views.getOrElse(name, throw new IllegalArgumentException(s"unknown materialized view $name"))

  /** Execute one DDL or DML statement; DDL returns 0, DML the committed
    * version. */
  def execute(sql: String): Long = sql match {
    case CloneStmt(dst, src, ver) =>
      val srcT = table(src)
      val clone = srcT.cloneTo(
        (warehouseDir +: dst.split('.').toSeq).mkString("/"),
        Option(ver).map(_.toLong).getOrElse(-1L))
      register(dst.split('.').toSeq, clone)
      0L
    case AddConstraintStmt(tn, cn, pred) =>
      register(tn.split('.').toSeq, table(tn).addConstraint(cn, pred))
      0L
    case DropConstraintStmt(tn, cn) =>
      register(tn.split('.').toSeq, table(tn).dropConstraint(cn))
      0L
    case RenameColStmt(tn, o, n) =>
      register(tn.split('.').toSeq, table(tn).renameColumn(o, n))
      0L
    case AlterColTypeStmt(tn, c, ty) =>
      register(tn.split('.').toSeq, table(tn).widenColumn(c,
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(ty)))
      0L
    case OptimizeStmt(tn, where, zorder) =>
      // plain OPTIMIZE folds only genuinely fragmented partitions (the
      // compact() threshold) — an idempotent no-op on a healthy layout,
      // never a full-table rewrite; ZORDER BY is the explicit layout op
      // and rewrites every partition by design; WHERE scopes either to a
      // partition list (folded/rewritten unconditionally — asking is the
      // signal), with Delta's restriction: partition column only
      val t = table(tn)
      val scope: Option[Seq[String]] = Option(where).map { w =>
        val (c, vs) = w match {
          case OptWhereEq(c0, v0) => (c0, Seq(v0))
          case OptWhereIn(c0, list) =>
            (c0, list.split(',').toSeq.map(_.trim).filter(_.nonEmpty).map { v =>
              require(v.length >= 2 && v.head == '\'' && v.last == '\'',
                s"OPTIMIZE WHERE IN expects quoted string values, got $v")
              v.substring(1, v.length - 1)
            })
          case other => throw new IllegalArgumentException(
            s"OPTIMIZE WHERE supports only <partitionCol> = 'v' or <partitionCol> IN " +
              s"('a', 'b'), got: $other")
        }
        require(c == t.partitionCol,
          s"OPTIMIZE WHERE must filter the partition column '${t.partitionCol}', got '$c'")
        vs
      }
      t.compact(
        clusterBy = Option(zorder).map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
          .getOrElse(Nil),
        partitions = scope)
    case VacuumStmt(tn, retain) =>
      table(tn).vacuum(keepVersions = Option(retain).map(_.toInt).getOrElse(2)).toLong
    case RestoreStmt(tn, v) =>
      table(tn).restore(v.toLong)
    case CreateBranchStmt(tn, bn, ver) =>
      val br = table(tn).createBranch(bn, Option(ver).map(_.toLong).getOrElse(-1L))
      tables(s"${tn.split('.').last}_branch_$bn") = br
      0L
    case PublishBranchStmt(tn, bn) =>
      val v = table(tn).publishBranch(bn)
      tables.remove(s"${tn.split('.').last}_branch_$bn")
      v
    case DropBranchStmt(tn, bn) =>
      table(tn).dropBranch(bn)
      tables.remove(s"${tn.split('.').last}_branch_$bn")
      0L
    case CreateTagStmt(tn, tag, ver) =>
      table(tn).createTag(tag, Option(ver).map(_.toLong).getOrElse(-1L))
    case DropTagStmt(tn, tag) =>
      table(tn).dropTag(tag)
      0L
    case CreateMvStmt(vn, select) =>
      val nameParts = vn.split('.').toSeq
      val mv = MatView.createFromSelect(spark, select, table(_),
        (warehouseDir +: nameParts).mkString("/"))
      views(nameParts.mkString(".")) = mv
      views(nameParts.last) = mv
      0L
    case RefreshMvStmt(vn) => view(vn).refresh()
    case DropMvStmt(vn) =>
      val nameParts = vn.split('.').toSeq
      val mv = view(vn)
      Seq(nameParts.mkString("."), nameParts.last).foreach(views.remove)
      DataFiles.deleteTree(java.nio.file.Paths.get(mv.viewPath))
      0L
    case _ => executeParsed(sql)
  }

  private def executeParsed(sql: String): Long = PlanShim.parse(spark, sql) match {
    case _: CreateNamespace => 0L // schemas are directories under the warehouse

    case ct: CreateTable =>
      val nameParts = identParts(ct.name)
      val cols = ct.tableSchema.fields
      val props = ct.tableSpec.properties
      val pk = props.getOrElse("primaryKey",
        throw new IllegalArgumentException("CREATE TABLE needs TBLPROPERTIES(primaryKey …)"))
      val precombine = props.get("preCombinedField")
      val partCols = ct.partitioning.flatMap(_.references.map(_.fieldNames.mkString(".")))
      require(partCols.size == 1, s"exactly one partition column expected, got $partCols")
      val t = AcidTable.create(spark,
        (warehouseDir +: nameParts).mkString("/"),
        StructType(cols), pk, partCols.head, precombine,
        numBuckets = props.get("numBuckets").map(_.toInt).getOrElse(AcidTable.DefaultBuckets))
      // non-structural TBLPROPERTIES persist as free-form table
      // properties (morDeletes et al.)
      val structural = Set("primaryKey", "preCombinedField", "numBuckets")
      props.foreach { case (k, v) =>
        if (!structural.contains(k)) t.setTableProperty(k, Some(v))
      }
      register(nameParts, t)
      0L

    case sp: org.apache.spark.sql.catalyst.plans.logical.SetTableProperties =>
      val t = table(identParts(sp.table).mkString("."))
      sp.properties.foreach { case (k, v) => t.setTableProperty(k, Some(v)) }
      0L

    case up: org.apache.spark.sql.catalyst.plans.logical.UnsetTableProperties =>
      val t = table(identParts(up.table).mkString("."))
      up.propertyKeys.foreach(k => t.setTableProperty(k, None))
      0L

    case dt: DropTable =>
      val nameParts = identParts(dt.child)
      Seq(nameParts.mkString("."), nameParts.last).foreach(tables.remove)
      val dir = new java.io.File((warehouseDir +: nameParts).mkString("/"))
      if (dir.exists()) DataFiles.deleteTree(dir.toPath)
      else if (!dt.ifExists) {
        throw new IllegalArgumentException(s"table ${nameParts.mkString(".")} does not exist")
      }
      0L

    case _ => AcidSql.execute(spark, tables.toMap, sql)
  }

  private val DescribeHistoryStmt =
    """(?is)\s*DESCRIBE\s+HISTORY\s+([\w.]+)\s*;?\s*""".r
  // ref inventories (round 18c): the read faces of the branch/tag
  // lifecycle verbs
  private val ShowBranchesStmt =
    """(?is)\s*SHOW\s+BRANCHES\s+([\w.]+)\s*;?\s*""".r
  private val ShowTagsStmt =
    """(?is)\s*SHOW\s+TAGS\s+([\w.]+)\s*;?\s*""".r
  private val ShowPartitionsStmt =
    """(?is)\s*SHOW\s+PARTITIONS\s+([\w.]+)\s*;?\s*""".r
  private val DescribeDetailStmt =
    """(?is)\s*DESCRIBE\s+DETAIL\s+([\w.]+)\s*;?\s*""".r
  // read-only metadata integrity walk (round-14 verdict #6) — reports
  // dangling segment/page/rli refs (the residual vacuum window's
  // signature) and stale GC quarantines; empty = healthy. The REPAIR
  // form (round 16) additionally heals what is content-addressably
  // recoverable — see [[AcidTable.fsckRepair]].
  private val FsckRepairStmt =
    """(?is)\s*FSCK\s+TABLE\s+([\w.]+)\s+REPAIR\s*;?\s*""".r
  private val FsckStmt =
    """(?is)\s*FSCK\s+TABLE\s+([\w.]+)\s*;?\s*""".r
  // read-only vacuum preview (round 18c, the Delta DRY RUN face) — a
  // query statement: it RETURNS the would-be-removed items
  private val VacuumDryRunStmt =
    """(?is)\s*VACUUM\s+([\w.]+)(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?\s+DRY\s+RUN\s*;?\s*""".r

  /** Execute a read statement (SELECT text) over the session's tables —
    * completes the reference's text lifecycle: DDL, DML, and now the
    * reader's literal `SELECT * FROM db.table` (plus the timeline surface
    * `DESCRIBE HISTORY db.table`). */
  def query(sql: String): org.apache.spark.sql.DataFrame = sql match {
    case DescribeHistoryStmt(tn) => table(tn).history()
    case ShowBranchesStmt(tn) =>
      val t = table(tn)
      import spark.implicits._
      t.listBranches().map { case (n, fork) =>
        (n, fork, t.branch(n).latestVersion())
      }.toDF("branch", "fork_version", "head_version")
    case ShowTagsStmt(tn) =>
      import spark.implicits._
      table(tn).listTags().toDF("tag", "version")
    case ShowPartitionsStmt(tn) => table(tn).partitionsInventory()
    case DescribeDetailStmt(tn) => table(tn).detail()
    case FsckRepairStmt(tn) => table(tn).fsckRepair()
    case FsckStmt(tn) => table(tn).fsck()
    case VacuumDryRunStmt(tn, retain) =>
      table(tn).vacuumPreview(keepVersions = Option(retain).map(_.toInt).getOrElse(2))
    case _ =>
      // materialized views substitute FIRST (their names shadow nothing:
      // the table map is consulted for whatever relations remain)
      val plan = PlanShim.parse(spark, sql).transformUp {
        case r: UnresolvedRelation
            if views.contains(r.multipartIdentifier.mkString(".")) ||
              views.contains(r.multipartIdentifier.last) =>
          SubqueryAlias(r.multipartIdentifier.last, PlanShim.logical(
            views.getOrElse(r.multipartIdentifier.mkString("."),
              views(r.multipartIdentifier.last)).read()))
      }
      AcidSql.queryPlan(spark, tables.toMap, plan)
  }

  private def register(nameParts: Seq[String], t: AcidTable): Unit = {
    tables(nameParts.mkString(".")) = t
    tables(nameParts.last) = t
  }

  private def identParts(p: LogicalPlan): Seq[String] = p match {
    case u: UnresolvedIdentifier => u.nameParts
    case r: ResolvedIdentifier => r.identifier.namespace.toSeq :+ r.identifier.name
    case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable => t.multipartIdentifier
    case other => throw new IllegalArgumentException(s"unsupported identifier plan: $other")
  }
}
