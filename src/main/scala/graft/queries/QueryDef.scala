package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine query: its builder, its DuckDB oracle and
  * whether Bench times it. Builder and oracle take the same arguments,
  * the session and the corpus directory the query runs on.
  *
  * Oracles mirror the engine computation operation for operation in
  * DuckDB SQL: identical column aliases, identical ORDER BY, doubles
  * rounded at the same point, all content hashing via md5
  * (bit-identical across engines), integer outputs pinned to BIGINT on
  * both sides.
  */
final case class QueryDef(name: String, build: QueryDef.Build,
    oracle: Oracle, benched: Boolean) {

  /** The DuckDB text for `corpusDir`; None for a rows-only query. */
  def oracleText(spark: SparkSession, corpusDir: String): Option[String] =
    oracle match {
      case Oracle.Sql(render) => Some(render(spark, corpusDir))
      case Oracle.RowsOnly => None
    }
}

object QueryDef {
  type Build = (SparkSession, String) => DataFrame

  /** A benched query whose oracle text does not depend on the corpus. */
  def apply(name: String, build: Build, oracle: => String): QueryDef =
    QueryDef(name, build, Oracle.Sql((_, _) => oracle), benched = true)
}

sealed trait Oracle

object Oracle {
  /** DuckDB SQL rendered for the session and corpus the query ran on. */
  final case class Sql(render: (SparkSession, String) => String) extends Oracle

  /** No DuckDB text: the driver checks the query's rows only. */
  case object RowsOnly extends Oracle
}

/** Every engine query, one record each. */
object Registry {
  val all: Seq[QueryDef] = Seq(RelationalQueries.records, SqlQueries.records,
    EventQueries.records, TemporalQueries.records, TextQueries.records,
    DedupQueries.records, SimilarityQueries.records,
    MultimodalQueries.records, CurationQueries.records,
    LayoutQueries.records, StreamQueries.records).flatten

  private val byName: Map[String, QueryDef] = all.map(q => q.name -> q).toMap
  require(byName.size == all.size, "duplicate query names: " +
    all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }.mkString(", "))

  def apply(name: String): QueryDef = byName(name)

  /** Bench's default set, sorted. */
  def benched: Seq[String] = all.filter(_.benched).map(_.name).sorted

  /** Every oracle text, rendered for `corpusDir`. */
  def oracles(spark: SparkSession, corpusDir: String): Seq[(String, String)] =
    all.flatMap(q => q.oracleText(spark, corpusDir).map(q.name -> _))
}
