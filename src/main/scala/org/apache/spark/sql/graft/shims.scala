package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Bridge into `private[sql]` surface for custom Catalyst expressions —
  * the sanctioned pattern for Spark extensions that define native
  * expressions: Column ↔ Expression conversion and SQL function
  * registration live behind `private[sql]` in Spark 4.
  */
object shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Eagerly convert a Column to a Catalyst expression. The lazy
    * `ExpressionUtils.expression` wrapper (ColumnNodeExpression) is only
    * unwrapped by Dataset's own operators — expressions embedded in CUSTOM
    * logical nodes must be converted up front or they reach execution
    * unresolved.
    */
  def expression(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)

  /** `schema` with every field nullable, nested ones too — what a file
    * source reports for data it reads (private[spark] surface). */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** Analyzed logical plan of a DataFrame (private[sql] surface). */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.analyzed

  /** Idempotently install an extra planner strategy on a live session. */
  def addStrategy(spark: SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!s.experimental.extraStrategies.contains(strategy)) {
      s.experimental.extraStrategies = s.experimental.extraStrategies :+ strategy
    }
  }

  /** Build a DataFrame from a logical plan (runs the analyzer). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Register a Catalyst expression builder as a SQL temp function. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    import org.apache.spark.sql.classic.ClassicConversions._
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
  }

  /** Virtual processing-time clock for deterministic-boundary streaming
    * tests (the machinery Spark's own StreamTest suites inject through
    * StartStream): wraps the private[spark] ManualClock so graft test
    * code can drive trigger time explicitly without referencing the
    * private type.
    */
  final class GraftManualClock(startMs: Long) {
    private[graft] val underlying = new org.apache.spark.util.ManualClock(startMs)
    def advance(ms: Long): Unit = underlying.advance(ms)
    def timeMs: Long = underlying.getTimeMillis()
  }

  /** Start a streaming query on a MANUAL trigger clock (private[sql]
    * StreamingQueryManager.startQuery — the same injection point
    * StreamTest uses), sinking to an in-memory table. Every batch's
    * processing time (current_timestamp, GroupStateTimeout deadlines,
    * transformWithState processing-time timers) then reads the manual
    * clock, so window boundaries become exact assertable values.
    * Returns the query and a reader of all sunk rows.
    */
  def startWithManualClock(df: org.apache.spark.sql.DataFrame,
      checkpoint: String, clock: GraftManualClock, intervalMs: Long,
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : (org.apache.spark.sql.streaming.StreamingQuery,
         () => Seq[org.apache.spark.sql.Row]) = {
    val sink = new org.apache.spark.sql.execution.streaming.sources.MemorySink
    val s = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val q = s.streams.startQuery(
      userSpecifiedName = Some(s"graft_manual_clock_${System.nanoTime()}"),
      userSpecifiedCheckpointLocation = Some(checkpoint),
      df = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]],
      extraOptions = Map.empty[String, String],
      sink = sink,
      outputMode = outputMode,
      useTempCheckpointLocation = false,
      recoverFromCheckpointLocation = true,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(intervalMs),
      triggerClock = clock.underlying,
      catalogAndIdent = None,
      catalogTable = None)
    (q, () => sink.allData)
  }
}
