package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Relational
import graft.queries.Registry

/** Entry points for drivers outside this repository. The queries
  * themselves, with their DuckDB oracles, are records of
  * [[graft.queries.Registry]]; SURVEY.md §2 (operator inventory) and
  * §8 (implementation ledger) map them to the reference's surface.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** name → builder view of the registry. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.build).toMap
}
