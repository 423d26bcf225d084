package graft.jdbc

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame

import graft.{Flaco, TestSpark}
import graft.queries.Registry
import graft.sources.Corpus

/** THE reference contract, executed end-to-end: flaco's entire query
  * model is "hand PostgreSQL an arbitrary SQL string, let PG plan and
  * execute it, ingest the rows" (`/root/reference/src/lib.rs:188-195`).
  * This suite runs this repo's own DuckDB ORACLE SQL texts through a
  * LIVE PostgreSQL via [[Flaco.readSqlToDataFrame]] (the
  * [[MiniPgDriver]] wire) and compares the rows against the native
  * Spark operators — a THIRD independent engine agreeing on the same
  * answers: engine ≡ DuckDB (the driver's gate) ≡ PostgreSQL (the
  * reference's backend, this gate).
  *
  * Env-gated like PagilaLiveSpec: cancels without `FLACO_PG_URI`;
  * `scripts/pg_provision.sh` provisions the cluster. The suite loads
  * the sf corpus tables it needs into PG itself (df.write.jdbc), and
  * installs one compatibility shim in the throwaway DB: PG has no
  * `round(double precision, int)` overload (DuckDB and Spark both do),
  * so a 2-line SQL function routes it through numeric — rounding the
  * exact decimal expansion of the double, the same half-up the other
  * two engines apply at these call sites.
  *
  * Query pick (r17, the "widen the triple-engine differential" ask):
  * every oracle text live PostgreSQL can parse AND value-match over
  * the TPC-H tables — 46 of them, selected by an exhaustive sweep of
  * the full oracle map (EXPLAIN for parseability, then a PG-vs-DuckDB
  * value compare; the 28 drops are DuckDB-only surface — QUALIFY,
  * GROUP BY ALL, UNPIVOT, strftime/date_diff/year, boolean::BIGINT
  * casts, grouping_id arity, double type name — plus every oracle
  * over documents/events/embeddings, whose list/regexp/epoch
  * functions PG spells differently). The oracle STRINGS are read from
  * the [[Registry]]'s records — not copies — so drift between the gates
  * is impossible.
  */
class PgDelegationParitySpec extends AnyFunSuite {

  private def spark = TestSpark.spark
  private val uriOpt: Option[String] = sys.env.get("FLACO_PG_URI")

  private def uri: String = {
    assume(uriOpt.isDefined,
      "FLACO_PG_URI not set — live-PG delegation gate dormant offline")
    graft.types.FlacoPostgresDialect.register()
    MiniPgDriver.ensureRegistered()
    uriOpt.get
  }

  /** Load the needed corpus tables into PG once per armed run, and
    * install the round(float8, int) shim.
    */
  private lazy val loaded: Boolean = {
    val u = uri
    val conn = java.sql.DriverManager.getConnection(u)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE OR REPLACE FUNCTION round(double precision, integer) " +
          "RETURNS double precision AS " +
          "'SELECT round($1::numeric, $2)::double precision' " +
          "LANGUAGE SQL IMMUTABLE")
      st.close()
    } finally conn.close()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem").foreach { t =>
      Corpus.read(spark, TestSpark.sf, t)
        .write.mode("overwrite")
        .jdbc(u, t, new java.util.Properties())
    }
    true
  }

  /** Canonical collect: columns sorted by name, rows sorted by their
    * stringified form — the driver gate's comparison discipline.
    */
  private def canon(df: DataFrame): Seq[Seq[String]] = {
    val cols = df.columns.sorted.toSeq
    df.selectExpr(cols.map(c => s"`$c`"): _*).collect()
      .map(_.toSeq.map(v => if (v == null) "NULL" else v.toString).toSeq)
      .toSeq.sortBy(_.mkString("|"))
  }

  Seq("q01_pricing_summary", "q02_filter_project", "q03_topk_revenue",
    "q04_order_priority", "q05_region_revenue", "q06_forecast_revenue",
    "q07_anti_join", "q08_segment_stats", "q09_window_topn",
    "q10_window_running", "q11_setops", "q12_top_orders", "q13_rollup",
    "q14_cube", "q34_asof_join", "q36_grouping_sets", "q37_pivot",
    "q46_interval_decode", "q51_correlated_subquery", "q57_salted_join",
    "q63_window_suite", "q63b_window_dist", "q64_setops_all",
    "q65_full_outer", "q65b_right_join", "q68_null_semantics",
    "q74_bucketed_join", "q77_string_agg", "q104_filter_agg",
    "q105_nulls_order", "q106_federated", "q109_lateral_join",
    "q117_named_window", "q119_limit_offset", "q125_distinct_aggs",
    "q126_named_params", "q140_bit_aggs", "q145_collation",
    "q146_cyclic_closure", "q147_join_using", "q150_keyset_page",
    "q183_having_subquery", "q199_window_over_agg",
    "q218_schema_evolution", "q222_hypothetical_rank",
    "q236_table_profile").foreach { name =>
    test(s"$name: PostgreSQL executing the oracle SQL equals the " +
      "native Spark operator") {
      val u = uri
      assert(loaded)
      val viaPg = Flaco.readSqlToDataFrame(spark, u,
        Registry(name).oracleText(spark, TestSpark.sf).get)
      val native = Registry(name).build(spark, TestSpark.sf)
      val a = canon(viaPg)
      val b = canon(native)
      assert(a.nonEmpty, "PG returned no rows — tables not loaded?")
      assert(a === b,
        s"$name: PostgreSQL's answer diverged from the native operator")
    }
  }

  test("federated join: the PG wire relation joins the parquet corpus " +
    "in one Catalyst plan and matches the all-parquet twin") {
    // The lakehouse + operational-store shape: lineitem lives in
    // PostgreSQL (loaded above), orders in parquet; one declarative
    // plan joins across the two sources. Parity: the same join with
    // both sides parquet.
    import org.apache.spark.sql.functions.{col, count, lit, round, sum}
    val u = uri
    assert(loaded)
    def revenueBySeg(li: DataFrame): Seq[(String, Long, Double)] = {
      val o = Corpus.read(spark, TestSpark.sf, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("rev"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
    }
    val viaPg = revenueBySeg(Flaco.readSqlToDataFrame(spark, u,
      "select l_orderkey, l_extendedprice, l_discount from lineitem"))
    val viaParquet = revenueBySeg(
      Corpus.read(spark, TestSpark.sf, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")))
    assert(viaPg.nonEmpty)
    assert(viaPg === viaParquet,
      "the federated (PG ⋈ parquet) aggregate diverged from the " +
        "all-parquet twin")
  }

  test("typed TIME delegation: PostgreSQL COMPUTING time-of-day " +
    "values matches Spark's native TIME construction, value-for-value " +
    "over the typed wire arm") {
    // PG derives each order's time-of-day itself (TIME + interval
    // arithmetic, ITS OWN evaluator) and ships real TIME columns;
    // the typed leg lands them as TIME(6) and they must equal
    // Spark's to_time construction from the same integer seconds.
    // Derivations stay in [0, 86400) — Spark's TIME ± INTERVAL is
    // strict at midnight while PG wraps (Breadth19Spec pins that
    // contract), so parity is only defined in-range.
    val u = uri
    assert(loaded)
    val viaPg = Flaco.readSqlToDataFrame(spark, u,
      "select o_orderkey, " +
        "(time '00:00:00' + make_interval(secs => " +
        "(o_orderkey * 7919 % 86400) + (o_orderkey % 100) / 100.0)) " +
        "as t from orders where o_orderkey <= 400",
      parity = graft.ParityOptions(timeAsNative = true))
    assert(viaPg.schema("t").dataType ===
      org.apache.spark.sql.types.TimeType(6))
    val native = Corpus.read(spark, TestSpark.sf, "orders")
      .filter("o_orderkey <= 400")
      .selectExpr("o_orderkey",
        "to_time(format_string('%02d:%02d:%02d.%06d', " +
          "(o_orderkey * 7919 % 86400) div 3600, " +
          "((o_orderkey * 7919 % 86400) div 60) % 60, " +
          "(o_orderkey * 7919 % 86400) % 60, " +
          "(o_orderkey % 100) * 10000)) as t")
    val a = viaPg.orderBy("o_orderkey").collect()
      .map(r => r.getLong(0) -> r.getAs[java.time.LocalTime](1))
    val b = native.orderBy("o_orderkey").collect()
      .map(r => r.getLong(0) -> r.getAs[java.time.LocalTime](1))
    assert(a.nonEmpty && a.length === b.length)
    a.zip(b).foreach { case (x, y) =>
      assert(x === y, s"TIME drift at order ${x._1}: PG ${x._2} vs " +
        s"native ${y._2}")
    }
  }

  test("4-way partitioned wire read returns exactly the full table " +
    "(per-partition WHERE pushdown over concurrent connections)") {
    val u = uri
    assert(loaded)
    val whole = Flaco.readSqlToDataFrame(spark, u,
      "select l_orderkey, l_linenumber, l_quantity from lineitem")
    val parts = Flaco.readSqlToDataFrame(spark, u,
      "select l_orderkey, l_linenumber, l_quantity from lineitem",
      partitionColumn = Some(("l_orderkey", 0L, 6200L, 4)))
    assert(parts.rdd.getNumPartitions === 4)
    assert(canon(parts) === canon(whole),
      "partitioned read lost or duplicated rows")
  }
}
