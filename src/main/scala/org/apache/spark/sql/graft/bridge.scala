package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public Column(Expression) constructor; the classic
  * bridge lives behind `private[sql]`. This shim (the standard pattern for
  * Spark extension libraries) re-exports the two conversions our native
  * Catalyst expressions need. Nothing else from the private API is used.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER ColumnNode → Expression conversion. `expression` above wraps
    * the node in a lazy `ColumnNodeExpression` placeholder that only the
    * session's plan-construction path unwraps — fine as a child of a
    * native expression inside a DataFrame transform, but Unevaluable if
    * returned directly from a FunctionRegistry builder (analysis keeps
    * the placeholder and codegen throws). SQL function builders that
    * expose Column-composed operators use this conversion instead, so
    * the registered function IS the resolved expression tree.
    */
  def toExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Replays what session construction does with a `spark.sql.extensions`
    * class: drain the extensions object's injected functions into a
    * registry. Lets a shared-session test suite prove the
    * `SparkSessionExtensions => Unit` wiring end-to-end without tearing
    * down the session (extensions only apply at session CREATION).
    */
  def registerInjectedFunctions(
      ext: org.apache.spark.sql.SparkSessionExtensions,
      reg: org.apache.spark.sql.catalyst.analysis.FunctionRegistry)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    ext.registerFunctions(reg)

  /** Same drain for injected TABLE functions (graft_history et al). */
  def registerInjectedTableFunctions(
      ext: org.apache.spark.sql.SparkSessionExtensions,
      reg: org.apache.spark.sql.catalyst.analysis.TableFunctionRegistry)
      : org.apache.spark.sql.catalyst.analysis.TableFunctionRegistry =
    ext.registerTableFunctions(reg)

  /** A DataFrame over an arbitrary resolved logical plan —
    * `Dataset.ofRows` is `private[sql]`, but the DML commands
    * (graft.plans.GraftDml) must turn the analyzer-resolved
    * target/source plans back into DataFrames so the resolved merge
    * condition and assignments (which reference those plans' attribute
    * ids) bind exactly.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A DataFrame over a CUSTOM [[org.apache.spark.sql.execution.datasources.FileIndex]]
    * — the extension seam Delta/Iceberg use for file-level data skipping:
    * the index's `listFiles(partitionFilters, dataFilters)` sees the
    * pushed-down predicates at scan planning and decides which files the
    * scan reads. Construction goes through the V1 parquet relation so the
    * scan keeps vectorized reads, parquet predicate pushdown, and
    * whole-stage codegen; only the file LISTING is ours. `Dataset.ofRows`
    * and the classic session are `private[sql]`, hence this shim.
    */
  def dataFrameFor(spark: org.apache.spark.sql.SparkSession,
                   index: org.apache.spark.sql.execution.datasources.FileIndex,
                   dataSchema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.classic.Dataset.ofRows(cs,
      org.apache.spark.sql.execution.datasources.LogicalRelation(
        relationFor(spark, index, dataSchema)))
  }

  /** The bare [[org.apache.spark.sql.sources.BaseRelation]] over a custom
    * FileIndex — what a V1 `RelationProvider` (the `USING graft` SQL
    * source) must return; [[dataFrameFor]] wraps the same relation for
    * programmatic callers.
    */
  def relationFor(spark: org.apache.spark.sql.SparkSession,
                  index: org.apache.spark.sql.execution.datasources.FileIndex,
                  dataSchema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.sources.BaseRelation = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      location = index,
      partitionSchema = org.apache.spark.sql.types.StructType(Nil),
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat =
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
      options = Map.empty)(cs)
  }

  /** Post-execution (files read, files total) off the plan's OWN
    * accounting: forces the frame's final physical plan to run, then sums
    * the `numFiles` metric of every parquet scan under it (descending
    * into the AQE-finalized plan — both metric and plan access are
    * `private[sql]`-adjacent, hence here). `total` comes from each scan's
    * FileIndex listing with NO filters. The honest observable for
    * "did the pushed-down predicate actually skip files".
    */
  def scanFileCounts(df: org.apache.spark.sql.DataFrame,
                     indexFilter: org.apache.spark.sql.execution.datasources.FileIndex => Boolean
                       = _ => true): (Long, Long) = {
    val qe = df.queryExecution
    qe.toRdd.count() // execute the real plan so scan metrics populate
    // explicit recursion: AdaptiveSparkPlanExec, QueryStageExec, and
    // ReusedExchangeExec are LEAF nodes hiding real subplans — a plain
    // TreeNode collect would miss every scan under an AQE stage
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
      val self = p match {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scansOf(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scansOf(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          scansOf(r.child)
        case _ => Nil
      }
      self ++ p.children.flatMap(scansOf)
    }
    val scans = scansOf(qe.executedPlan)
      .filter(s => indexFilter(s.relation.location))
      .distinct // a reused exchange must not double-count its scan
    val read = scans.map(_.metrics("numFiles").value).sum
    val total = scans.map(_.relation.location.listFiles(Nil, Nil)
      .map(_.files.length.toLong).sum).sum
    (read, total)
  }

  /** The session's lifetime-unique UUID when the concrete classic session
    * exposes one (`private[sql]` in the API, hence this shim), else an
    * identity-hash fallback. Cache keys use it so entries from two
    * session generations can never collide the way identityHashCode can.
    */
  /** The schema with every field nullable, nested fields included — what
    * a parquet write stores and a parquet read reports. */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable

  def sessionUUID(s: org.apache.spark.sql.SparkSession): String = s match {
    case c: org.apache.spark.sql.classic.SparkSession => c.sessionUUID
    case other => s"idh${System.identityHashCode(other)}"
  }
}
