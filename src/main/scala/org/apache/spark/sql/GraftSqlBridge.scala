package org.apache.spark.sql

import org.apache.spark.executor.InputMetrics
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.jdbc.{JDBCOptions, JDBCPartition, JDBCRelation,
  JdbcUtils}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.jdbc.JdbcDialect
import org.apache.spark.sql.types.StructType

/** Bridge to `private[sql]` pieces of Spark 4.x: Column <-> Expression
  * conversions (the Column class is Connect-agnostic and no longer
  * exposes `.expr`), the JDBC reader's own partitioning for
  * `graft.jdbc.MiniPgScan`, and its getters, the reference the scan's
  * tests compare it against. Same technique used by open-source
  * Spark extensions (Delta Lake, Iceberg) to attach custom Catalyst
  * expressions to the classic DataFrame API.
  */
object GraftSqlBridge {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** A DataFrame scanning a DataSource V2 `table`. */
  def dataFrame(spark: SparkSession, table: Table): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      DataSourceV2Relation.create(table, None, None))

  /** The JDBC reader's per-partition WHERE clauses for `options` over
    * `schema` (one null clause when the read is not partitioned).
    */
  def jdbcPartitions(spark: SparkSession, schema: StructType,
      options: JDBCOptions): Array[JDBCPartition] = {
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    JDBCRelation.columnPartition(schema, conf.resolver,
      conf.sessionLocalTimeZone, options).map(_.asInstanceOf[JDBCPartition])
  }

  /** `rs` through the JDBC reader's own getters for `schema`. */
  def jdbcRows(rs: java.sql.ResultSet, dialect: JdbcDialect,
      schema: StructType): Iterator[InternalRow] =
    JdbcUtils.resultSetToSparkInternalRows(rs, dialect, schema, new InputMetrics())
}
