package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Encoder, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedAggregator}

/** The library's one bridge into `private[sql]` Spark API: the object
  * lives under the `org.apache.spark.sql` package namespace solely to
  * satisfy the access modifiers, and it contains no Spark code (the
  * standard extension-library shim pattern). It is the only package
  * the library places inside Spark's namespace. It covers:
  *   - building a DataFrame from a custom [[LogicalPlan]], so library
  *     operators (graft.plans.AsOfJoinPlan) enter the session's
  *     analyzer / optimizer / planner like any built-in node;
  *   - converting between Column and Catalyst expression, and wrapping
  *     a typed Aggregator as an aggregate expression, for the SQL
  *     function registry (graft.functions.SketchSqlFunctions) and the
  *     file-skipping indexes;
  *   - probing the session's CacheManager for leaked cache entries;
  *   - a lazy local checkpoint that a plan can read twice and still
  *     share one exchange, and its release (graft.app.SpikeScheduler's
  *     accumulators).
  */
object GraftSqlBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** True when the session's shared CacheManager holds no cached
    * plans. Operators must not leak cache entries (VERDICT r4: the
    * pre-r6 minhash pipeline left one per call); CacheHygieneSpec
    * pins that through this probe — the manager is package-private,
    * hence the bridge.
    */
  def cacheManagerIsEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty

  /** `df.localCheckpoint(eager = false)` without the output
    * partitioning its relation inherits from `df`'s plan. Two instances
    * of a relation that keeps it do not canonicalize equal, so a plan
    * reading the frame twice (the spike pipeline's per-IP and /24
    * branches) would compute the exchange above it twice instead of
    * reusing it. Planned with AQE off: under AQE, planning the
    * checkpoint runs `df`'s stages at once. The first job that reads
    * the frame stores its blocks; [[releaseCheckpoint]] drops them.
    */
  def lazyLocalCheckpoint(df: DataFrame): DataFrame = {
    val ck = withoutAqe(df.sparkSession)(df.localCheckpoint(eager = false))
      .asInstanceOf[classic.Dataset[Row]]
    val lr = ck.queryExecution.logical.asInstanceOf[LogicalRDD]
    classic.Dataset.ofRows(ck.sparkSession, LogicalRDD(lr.output, lr.rdd)(ck.sparkSession))
  }

  /** Unpersists the blocks of a [[lazyLocalCheckpoint]] frame; a no-op
    * for any other frame.
    */
  def releaseCheckpoint(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist()
    case _ => ()
  }

  /** Runs `body` with AQE off in `spark`, restoring the previous value. */
  def withoutAqe[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  /** Column view of a Catalyst expression (function-builder input). */
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)

  /** Catalyst expression of a Column (function-builder output). The
    * EAGER default converter, not ExpressionUtils' lazy wrapper — a
    * function builder's output is spliced into a plan mid-analysis,
    * where a deferred ColumnNode wrapper would survive to execution
    * as an Unevaluable node.
    */
  def toExpression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)

  /** The aggregate-function expression for a typed Aggregator — what
    * the analyzer wraps into an AggregateExpression when the builder
    * returns it (same path as session-level udaf registration, but
    * session-independent, at extension-injection time).
    */
  def aggregatorExpression[IN, BUF, OUT](
      name: String,
      agg: Aggregator[IN, BUF, OUT],
      inputEncoder: Encoder[IN],
      children: Seq[Expression]): Expression =
    ScalaAggregator(
      UserDefinedAggregator(agg, inputEncoder, givenName = Some(name)),
      children.toIndexedSeq)
}
