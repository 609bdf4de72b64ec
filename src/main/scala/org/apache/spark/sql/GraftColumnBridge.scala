package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> catalyst Expression bridge.
  *
  * Spark 4 moved `Column` onto ColumnNode (Connect-compatible) and made
  * the classic converters `private[sql]`; this shim lives in the sql
  * package purely to re-export the two conversions graft's native
  * expressions need. No Spark internals are modified.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** [[connector.catalog.CatalogV2Util]] is private[sql]; the lake
    * catalog needs its column conversion to re-attach generation
    * expressions the default createTable bridge drops.
    */
  def v2ColumnsToStructType(
      cols: Array[connector.catalog.Column]): types.StructType =
    connector.catalog.CatalogV2Util.v2ColumnsToStructType(cols.toSeq)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** Block until every listener-bus event posted so far (jobs, SQL
    * executions, QueryExecutionListener callbacks) has been delivered —
    * the bus is private[spark].
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
  /** Top-level conjuncts of `c`'s ColumnNode tree (the pre-analysis shape
    * Spark 4 Columns carry: comparisons are UnresolvedFunction nodes named
    * "=", "<", "and", …, not catalyst BinaryComparisons — and the node
    * classes are private[sql], hence this bridge), each function reduced
    * to (name, args) with every argument mapped to Left(attributeName),
    * Right(literalValue), or None for anything more complex. Callers
    * pattern match on this neutral form to derive e.g. predicate-implied
    * bounds without touching sql-private classes.
    */
  def conjunctComparisons(c: Column): Seq[(String, Seq[Option[Either[String, Any]]])] = {
    import org.apache.spark.sql.internal.{ColumnNode, Literal, UnresolvedAttribute,
      UnresolvedFunction}
    def conj(n: ColumnNode): Seq[ColumnNode] = n match {
      case f: UnresolvedFunction if f.functionName == "and" => f.arguments.flatMap(conj)
      case o => Seq(o)
    }
    def arg(n: ColumnNode): Option[Either[String, Any]] = n match {
      case a: UnresolvedAttribute => Some(Left(a.nameParts.mkString(".")))
      case l: Literal => Some(Right(l.value))
      case _ => None
    }
    conj(c.node).collect {
      case f: UnresolvedFunction => (f.functionName, f.arguments.map(arg))
    }
  }
  /** A DataFrame over an already-materialized InternalRow RDD (e.g. a
    * localCheckpoint'ed iteration state) — `internalCreateDataFrame` is
    * sql-private. The plan is a LogicalRDD leaf: lineage is CUT, which
    * is the point for iterative operators.
    */
  def internalFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[catalyst.InternalRow],
      schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A BaseRelation wrapped as a STREAMING frame — what a v1
    * `Source.getBatch` must return (the engine asserts isStreaming on the
    * batch plan). Routing through LogicalRelation keeps the relation's
    * full file-scan planning (pushdown, pruning) instead of freezing the
    * plan behind an RDD boundary; `LogicalRelation.apply` is sql-private,
    * hence this bridge.
    */
  def streamingRelationFrame(spark: SparkSession, relation: sources.BaseRelation): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession],
      execution.datasources.LogicalRelation(relation, isStreaming = true))

  /** An arbitrary BATCH frame re-issued as a streaming one (the
    * change-feed batches are derived plans — unions of classified file
    * diffs — not relations, so the LogicalRelation route above doesn't
    * apply; the plan freezes behind an RDD boundary, which is fine for
    * an already-computed CDC slice).
    */
  def streamingFrameFromBatch(spark: SparkSession, df: DataFrame): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val d = df.asInstanceOf[classic.Dataset[Row]]
    s.internalCreateDataFrame(d.queryExecution.toRdd, d.schema, isStreaming = true)
  }
}
