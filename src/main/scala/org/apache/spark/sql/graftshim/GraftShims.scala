package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Minimal bridge into Spark's `private[sql]` surface, needed only to flag a
  * V1 streaming source's `getBatch` result as streaming (MicroBatchExecution
  * asserts `isStreaming` on the returned plan — the same bridge Spark's own
  * FileStreamSource and Delta's DeltaSource use). Lives in a subpackage of
  * `org.apache.spark.sql` purely for access; contains no Spark code.
  */
object GraftShims {

  /** Re-root a batch DataFrame as a streaming one: every base relation in the
    * analyzed plan is marked isStreaming = true. */
  def asStreamingDF(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val plan = ds.queryExecution.analyzed.transform {
      case lr: LogicalRelation => lr.copy(isStreaming = true)
    }
    classic.Dataset.ofRows(ds.sparkSession, plan)
  }

  /** Re-root the micro-batch DataFrame a V1 Sink receives (backed by the
    * stream's IncrementalExecution) as a plain batch frame: evaluating it
    * through its own execution keeps the streaming planner in charge, while
    * the returned frame is freely composable in batch jobs. */
  def materializeBatch(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = false)
  }

  /** Streaming-flag any batch frame (incl. LocalRelation-backed ones) by
    * evaluating it and re-rooting the row RDD as a streaming scan. */
  def asStreamingViaRdd(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = true)
  }

  /** Empty streaming-flagged frame (a micro-batch with no new data). */
  def emptyStreamingDF(spark: SparkSession, schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      cs.sparkContext.emptyRDD[org.apache.spark.sql.catalyst.InternalRow],
      schema, isStreaming = true)
  }

  /** A BaseRelation as a DataFrame — for relations constructed directly
    * (e.g. the multi-stream manifest index) rather than through DataSource
    * format resolution. */
  def dfFromRelation(spark: SparkSession,
                     rel: org.apache.spark.sql.sources.BaseRelation): DataFrame =
    spark.asInstanceOf[classic.SparkSession].baseRelationToDataFrame(rel)

  /** The frame's physical output as an InternalRow RDD (Tungsten format, no
    * Row conversion). Two jobs run over the SAME returned RDD share every
    * shuffle stage inside the plan (map outputs are reused), which is what
    * makes a stats pass + write pass see identical partition contents. */
  def internalRdd(df: DataFrame): org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd

  /** Runs `body` — jobs over [[internalRdd]] of `df` — as one SQL execution
    * of `df`'s plan: its jobs carry the execution id and listeners get the
    * execution's start and end events, plan and planning phases included,
    * as for any DataFrame action. */
  def withExecution[T](df: DataFrame, name: String)(body: => T): T =
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(
      df.asInstanceOf[classic.Dataset[Row]].queryExecution, Some(name))(body)

  /** Wrap an InternalRow RDD as a batch DataFrame without a Row round trip
    * (the inverse of [[internalRdd]]; rows must already match `schema`). */
  def dfFromInternalRdd(spark: SparkSession,
                        rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                        schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** A small driver-side result as a local frame (a `LocalRelation`):
    * internal rows, which must already match `schema`. */
  def dfFromInternalRows(spark: SparkSession,
                         rows: Seq[org.apache.spark.sql.catalyst.InternalRow],
                         schema: org.apache.spark.sql.types.StructType): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** Wrap a catalyst Expression as a public Column (Spark 4 moved Column to
    * the ColumnNode API; this is the classic-module bridge every custom
    * Expression needs to surface in the DataFrame DSL). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(e)

  /** The catalyst Expression behind a Column (inverse of [[column]]). Lazy:
    * the result is a ColumnNodeExpression placeholder that Dataset's own
    * column conversion rewrites — correct inside DataFrame-API operators,
    * NOT inside a FunctionRegistry builder (nothing ever converts it there;
    * codegen then sees an Unevaluable node). Builders use [[convertedExpr]]. */
  def expr(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Eagerly-converted catalyst Expression behind a Column: the same
    * ColumnNode→Expression conversion Dataset applies, so the tree is plain
    * catalyst (built-ins may still be UnresolvedFunction — the analyzer
    * resolves those wherever the tree is spliced). Required when handing a
    * composed Column to SQL: FunctionRegistry builders, rule rewrites. */
  def convertedExpr(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** The session's Hadoop configuration as a task-shippable thunk (Spark's
    * own SerializableConfiguration under a broadcast, the same mechanism
    * every file source uses): executor-side metadata reads see the exact
    * session FS config — credentials included — not classpath defaults. */
  def shippableHadoopConf(spark: SparkSession): () => org.apache.hadoop.conf.Configuration = {
    val bc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    new ShippedConf(bc)
  }
  private final class ShippedConf(
      bc: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration])
    extends (() => org.apache.hadoop.conf.Configuration) with Serializable {
    override def apply(): org.apache.hadoop.conf.Configuration = bc.value.value
  }

  // ---- live-session SQL function registration ----
  //
  // `SparkSessionExtensions.injectFunction` only fires at session BUILD time;
  // registering on an already-running session (the driver's Verify session,
  // notebooks attached to a shared session) needs the session's
  // FunctionRegistry, which is `private[sql]` — hence these bridges.

  /** Register a scalar function on a live session (create-or-replace). */
  def registerSqlFunction(
      spark: SparkSession, name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)

  /** Register a table-valued function on a live session (create-or-replace). */
  def registerSqlTableFunction(
      spark: SparkSession, name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.tableFunctionRegistry
      .registerFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)

  /** The analyzed logical plan behind a frame (for table-function builders:
    * a TVF must return a LogicalPlan, and an already-analyzed subtree splices
    * cleanly into the enclosing query's analysis). */
  def analyzedPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed
}
