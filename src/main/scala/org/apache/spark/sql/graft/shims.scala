package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge for Spark 4.x, where the Column API is
  * decoupled from Catalyst (Spark Connect refactor) and the converters in
  * `org.apache.spark.sql.classic.ExpressionUtils` are `private[sql]`.
  * Lives under the `org.apache.spark.sql` package solely to re-export them;
  * contains no logic of its own.
  */
object shims {
  def toCol(e: Expression): Column = ExpressionUtils.column(e)
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a hand-built LogicalPlan (`Dataset.ofRows` is
    * `private[sql]` in the classic module) — the construction path for
    * custom logical operators like graft.plans.AsOfJoinPlan. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** DataFrame over rows already in `schema`'s Catalyst format
    * (`internalCreateDataFrame` is `private[sql]` in the classic module):
    * no external-Row encoder is built and no row is converted. */
  def internalCreateDataFrame(spark: org.apache.spark.sql.SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** Spark's JDBC row converter, the one the generic JDBC source's scan
    * runs (`resultSetToSparkInternalRows` is not public): `rs`'s rows in
    * `schema`'s Catalyst format, one mutable row refilled per row. */
  def jdbcInternalRows(rs: java.sql.ResultSet, dialect: org.apache.spark.sql.jdbc.JdbcDialect,
      schema: org.apache.spark.sql.types.StructType,
      metrics: org.apache.spark.executor.InputMetrics)
      : Iterator[org.apache.spark.sql.catalyst.InternalRow] =
    org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
      .resultSetToSparkInternalRows(rs, dialect, schema, metrics)

  /** Runs `f` with `spark`'s SQL conf plus `key = value` as the conf that
    * `SQLConf.get` returns on THIS thread (planning reads it there); the
    * session's conf, and every other thread's queries, are untouched. */
  def withThreadConf[T](spark: org.apache.spark.sql.SparkSession,
      key: String, value: String)(f: => T): T = {
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.clone()
    conf.setConfString(key, value)
    org.apache.spark.sql.internal.SQLConf.withExistingConf(conf)(f)
  }

  /** Idempotently add a planner strategy to the session's experimental list
    * (`experimental` lives on the classic session only). */
  def ensureStrategy(spark: org.apache.spark.sql.SparkSession,
      s: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(s))
      exp.extraStrategies = exp.extraStrategies :+ s
  }
}
