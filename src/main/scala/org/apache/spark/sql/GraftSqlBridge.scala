package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkStrategy

/** The `private[sql]` touch points graft's library-defined expressions
  * and physical operator need, isolated in one place: moving between
  * `Column`s and catalyst expressions, wrapping a custom resolved
  * `LogicalPlan` into a `DataFrame`, and registering a planner strategy on
  * a live session (the `SparkSessionExtensions` path covers
  * `spark.sql.extensions`-configured clusters; this covers sessions the
  * library does not construct). Nothing else in graft reaches into the
  * `org.apache.spark.sql` package namespace.
  */
object GraftSqlBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column → catalyst Expression through the SESSION's converter, for
    * trees placed straight into a plan: the static form ([[argument]])
    * wraps the column node lazily (`ColumnNodeExpression`), which only a
    * column conversion replaces — in a plan it neither resolves under
    * transformUp nor serializes into a task. */
  def expression(spark: SparkSession, c: Column): catalyst.expressions.Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)

  /** Expression → Column (the inverse of [[expression]]): how a
    * library-defined catalyst expression enters a plan, with whatever
    * constructor state it carries (e.g. a driver-collected PQ codebook
    * reference) and without a session. */
  def column(e: catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Column → a placeholder expression for a kernel's argument: when the
    * [[column]] built around the kernel is used in a plan, the session's
    * converter replaces the placeholder with the argument's own
    * expression, so the resolved tree is the one a by-name
    * `call_function` would build. */
  def argument(c: Column): catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Whether this session can take planner strategies at runtime (a
    * classic JVM-backed session; e.g. Spark Connect sessions cannot). */
  def supportsStrategies(spark: SparkSession): Boolean =
    spark.isInstanceOf[classic.SparkSession]

  def addStrategy(spark: SparkSession, strategy: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    exp.synchronized {
      if (!exp.extraStrategies.contains(strategy)) {
        exp.extraStrategies = exp.extraStrategies :+ strategy
      }
    }
  }
}
