package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made Column↔Expression conversion `private[sql]`
  * (org.apache.spark.sql.classic.ExpressionUtils). Custom Catalyst
  * expressions still need it; this shim lives inside the sql package
  * namespace to re-export the two conversions — the standard pattern for
  * extension libraries. No Spark internals are modified. */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A typed-Aggregator UDAF as a catalyst aggregate expression — what
    * `UDFRegistration.register(name, udaf)` builds internally (the
    * `ScalaAggregator` companion is `private[sql]`); needed to inject a
    * UDAF through `SparkSessionExtensions.injectFunction`, where the
    * builder must return a plain `Expression`. */
  def udafExpression(udf: org.apache.spark.sql.expressions.UserDefinedFunction,
                     children: Seq[Expression]): Expression = udf match {
    case agg: org.apache.spark.sql.expressions.UserDefinedAggregator[_, _, _] =>
      org.apache.spark.sql.execution.aggregate.ScalaAggregator(
        agg.asInstanceOf[org.apache.spark.sql.expressions.UserDefinedAggregator[Any, Any, Any]],
        children).toAggregateExpression()
    case other =>
      throw new IllegalArgumentException(s"not a typed-Aggregator UDAF: $other")
  }

  /** Wrap a (resolved) logical plan as a DataFrame —
    * `classic.Dataset.ofRows` is `private[sql]`; needed by libraries that
    * contribute custom logical operators (graft's as-of merge join). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Re-tag a batch DataFrame's leaf relations as STREAMING — the v1
    * streaming `Source.getBatch` contract requires the returned
    * DataFrame's plan to report `isStreaming = true` (exactly how
    * `FileStreamSource` and Delta's source build their micro-batches);
    * `LogicalRelation.isStreaming` is only settable from inside the
    * sql package, hence the shim. */
  def asStreaming(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed.transform {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.copy(isStreaming = true)
    }
    ofRows(df.sparkSession, plan)
  }

  /** Wrap an arbitrary BATCH DataFrame as ONE streaming-tagged leaf
    * (`LogicalRDD(isStreaming = true)` over its physical rows) — the
    * Kafka-source shape (`internalCreateDataFrame(rdd, schema,
    * isStreaming = true)`). Needed when a v1 `Source.getBatch` body
    * contains a JOIN: [[asStreaming]]'s per-leaf re-tag would mark BOTH
    * join legs streaming and the engine would plan a stream-stream
    * join (watermark-demanding, stateful) for what is semantically one
    * already-resolved micro-batch. Wrapping the whole computation as a
    * single leaf keeps the join a plain batch hash join inside the RDD
    * and presents only its OUTPUT to the incremental planner. Lazy —
    * nothing executes until the engine runs the batch. */
  def asStreamingRdd(df: DataFrame): DataFrame =
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
        isStreaming = true)

  /** An empty STREAMING DataFrame of `schema` — the zero-rows
    * micro-batch of a v1 streaming Source (a commit range whose add
    * sets are all empty still advances the offset). */
  def emptyStreaming(spark: SparkSession,
                     schema: org.apache.spark.sql.types.StructType): DataFrame =
    ofRows(spark, org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema),
      Nil, isStreaming = true))

  /** Catalyst predicate → v1 source filter, exactly the translation
    * the planner runs for `SupportsDelete` (`DataSourceStrategy
    * .translateFilter` is `protected[sql]`) — used by the txlog DML
    * rule to decide which DELETE conditions stay on Spark's native
    * path. */
  def translateFilter(e: Expression): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = false)
}
