package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Minimal bridge to `Dataset.ofRows` (private[sql]) for the SQL text
  * front-end: turns a parsed-but-unresolved logical plan (e.g. the USING
  * source of a MERGE statement) into a DataFrame through the session's
  * normal analyzer, so temp views and functions resolve exactly as in
  * `spark.sql`.
  */
object PlanShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def parse(spark: SparkSession, sql: String): LogicalPlan =
    spark.asInstanceOf[classic.SparkSession].sessionState.sqlParser.parsePlan(sql)

  /** The (unanalyzed) logical plan of a DataFrame — for splicing a
    * snapshot read into a parsed statement tree. */
  def logical(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.logical

  /** The ANALYZED (resolved, pre-optimization) plan — for extracting the
    * resolved expressions a driver-side interpreted kernel will evaluate
    * (the optimizer could fold them away on an empty relation). */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** `SparkSession.cloneSession()` (private[sql]): an isolated session
    * state INITIALIZED FROM the parent — conf, temp views, and registered
    * functions are inherited at clone time, then diverge. This is the
    * semantics the reference's session pool relies on
    * (`writer/TransactionManager.java:95-101`); `newSession()` would start
    * from empty state instead.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** If `df`'s single column reduces to a driver-side `LocalRelation` of
    * at most `maxRows` rows, return its values as CATALYST-internal values
    * (e.g. `UTF8String` for strings) — the element type [[inSet]] expects.
    * Transactional producers hand [[graft.lake.AcidTable]] small local
    * batches; their key sets then never need a distributed plan at all.
    */
  def smallLocalColumn(df: DataFrame, maxRows: Int): Option[Set[Any]] = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.queryExecution.optimizedPlan match {
      case rel: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if rel.output.size == 1 && rel.data.size <= maxRows =>
        val dt = rel.output.head.dataType
        Some(rel.data.map(_.get(0, dt)).toSet)
      case _ => None
    }
  }

  /** If `df` reduces to a driver-side `LocalRelation` of at most `maxRows`
    * rows, return its output attributes and internal rows for driver-side
    * metadata-scale processing.
    */
  def smallLocalRelation(
      df: DataFrame,
      maxRows: Int): Option[(Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
                             Seq[org.apache.spark.sql.catalyst.InternalRow])] = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.queryExecution.optimizedPlan match {
      case rel: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if rel.data.size <= maxRows =>
        Some((rel.output, rel.data))
      case _ => None
    }
  }

  /** Wrap driver-side internal rows back into a DataFrame (a
    * `LocalRelation` plan node). Inverse of [[smallLocalRelation]]. */
  def localRelationDf(
      spark: SparkSession,
      attrs: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow]): DataFrame =
    ofRows(spark, org.apache.spark.sql.catalyst.plans.logical.LocalRelation(attrs, rows))

  /** Whether Catalyst can order values of `dt` (maps cannot) — the
    * precondition for `max(struct(...))`-style whole-row aggregation. */
  def orderable(dt: org.apache.spark.sql.types.DataType): Boolean =
    org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(dt)

  /** `DataType.sameType` (private[sql]): type equality modulo nullability. */
  def sameType(a: org.apache.spark.sql.types.DataType,
               b: org.apache.spark.sql.types.DataType): Boolean = a.sameType(b)

  /** `e` as the optimizer hands it to execution: every
    * `RuntimeReplaceable` node (BETWEEN, NVL, url_encode, …) swapped for
    * its `replacement`, and every `With` common-expression block its
    * replacement may introduce inlined. An ANALYZED tree still carries
    * both, and an interpreted Predicate or Projection cannot evaluate
    * either. Inlining repeats a common expression's evaluation, which is
    * sound for the deterministic expressions the driver kernels accept.
    */
  def evaluable(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{CommonExpressionRef, RuntimeReplaceable, With}
    e match {
      case r: RuntimeReplaceable => evaluable(r.replacement)
      case w: With =>
        val defs = w.defs.map(d => d.id -> evaluable(d.child)).toMap
        evaluable(w.child.transform {
          case ref: CommonExpressionRef if defs.contains(ref.id) => defs(ref.id)
        })
      case other => other.mapChildren(evaluable)
    }
  }

  /** A null-first total ordering over Catalyst-internal values of `dt`,
    * or None when the type is not orderable (maps). Null sorting matches
    * `desc` = NULLS LAST when the caller takes a MAX under this ordering.
    */
  def interpretedOrdering(dt: org.apache.spark.sql.types.DataType): Option[Ordering[Any]] =
    if (!org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(dt)) None
    else {
      val base = org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dt)
      Some(new Ordering[Any] {
        override def compare(a: Any, b: Any): Int =
          if (a == null && b == null) 0
          else if (a == null) -1
          else if (b == null) 1
          else base.compare(a, b)
      })
    }

  /** `InSet` membership test as a Column. Unlike `isin(...)` / `In` with
    * literal children, `InSet` carries its set as a referenced object in
    * generated code, so whole-stage codegen compiled for one key set is
    * REUSED for the next — the property that keeps a stream of
    * transactional commits from recompiling per transaction. `values`
    * must hold Catalyst-internal values ([[smallLocalColumn]] provides
    * them).
    */
  /** An arbitrary catalyst Expression as a user-facing Column — for the
    * SQL front-end's UPDATE assignments/condition, which must resolve
    * against the target snapshot like any user Column. */
  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The catalyst expression behind a user Column (inverse of columnOf). */
  def exprOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  def inSet(column: org.apache.spark.sql.Column, values: Set[Any]): org.apache.spark.sql.Column = {
    val expr = org.apache.spark.sql.classic.ExpressionUtils.expression(column)
    org.apache.spark.sql.classic.ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.InSet(expr, values))
  }
}
