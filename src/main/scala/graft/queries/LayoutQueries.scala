package graft
package queries

import graft.sources.Layout

/** Storage layout: bucketing, format round trips, schema evolution and
  * file statistics, built on [[graft.sources.Layout]].
  */
object LayoutQueries {

  val records: Seq[QueryDef] = Seq(
    // The oracle is the PLAIN join over raw parquet — bucketing must
    // be result-invisible (the q57 pattern for physical layout).
    QueryDef("q74_bucketed_join", Layout.bucketedRevenue _,
      """SELECT c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // The oracle joins the ORIGINAL parquet — the engine side goes
    // through CSV/JSON re-writes of the dims, so any format
    // round-trip mangling breaks the hash (the q74 plain-oracle
    // pattern applied to the format selector).
    QueryDef("q106_federated", Layout.federatedRevenue _,
      """SELECT r_name, count(*) AS n_customers,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS acctbal_cents
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin),

    // q218: the merged table re-derived from the ORIGINAL parquet —
    // even keys lose their priority (the old-schema files), odd keys
    // keep it; any row the mergeSchema scan drops or mistypes moves
    // a checksum.
    QueryDef("q218_schema_evolution", Layout.schemaEvolutionRead(_, _),
      """WITH m AS (SELECT o_orderkey, o_totalprice,
        |    CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS prio0
        |  FROM orders)
        |SELECT coalesce(prio0, 'PRE_SCHEMA') AS prio,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS price_cents,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM m GROUP BY prio ORDER BY prio""".stripMargin),

    // q221: both populations re-derived arithmetically — the corrupt
    // set is event_id % 17 = 0 by construction.
    QueryDef("q221_corrupt_json", Layout.corruptJsonIngest(_, _),
      """WITH e AS (SELECT event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT count(*) AS n_lines,
        |  CAST(sum(CASE WHEN event_id % 17 <> 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_good,
        |  CAST(sum(CASE WHEN event_id % 17 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_corrupt,
        |  CAST(sum(CASE WHEN event_id % 17 <> 0 THEN event_id END)
        |    AS BIGINT) AS good_id_sum,
        |  CAST(sum(CASE WHEN event_id % 17 <> 0 THEN cents END)
        |    AS BIGINT) AS good_cents
        |FROM e""".stripMargin),

    // q242: the q237 philosophy applied to z-order — the oracle
    // re-derives the 8-bit scaling, the Morton interleave (the SAME
    // div/mod fragment builder, DuckDB's `//` spelling) and both
    // arithmetic file assignments from the ORIGINAL lineitem, never
    // reading the scratch layouts; a physical write/read/introspect
    // divergence breaks the hash.
    QueryDef("q242_zorder_layout", Layout.zorderHealth(_, _),
      {
      val z = graft.sources.Layout.zInterleaveExpr("xb", "yb", "//")
      s"""WITH s AS (SELECT CAST(l_partkey AS BIGINT) AS x,
         |    CAST(l_suppkey AS BIGINT) AS y FROM lineitem),
         |mx AS (SELECT max(x) AS maxx, max(y) AS maxy FROM s),
         |b AS (SELECT x * 256 // (maxx + 1) AS xb,
         |    y * 256 // (maxy + 1) AS yb FROM s, mx),
         |a AS (SELECT xb, yb, ($z) // 4096 AS f_zorder,
         |    xb // 16 AS f_linear FROM b),
         |pz AS (SELECT f_zorder, count(*) AS n,
         |    min(xb) AS mnx, max(xb) AS mxx,
         |    min(yb) AS mny, max(yb) AS mxy FROM a GROUP BY 1),
         |pl AS (SELECT f_linear, count(*) AS n,
         |    min(xb) AS mnx, max(xb) AS mxx,
         |    min(yb) AS mny, max(yb) AS mxy FROM a GROUP BY 1),
         |rz AS (SELECT 'zorder' AS layout,
         |    CAST(count(*) AS BIGINT) AS n_files,
         |    CAST(sum(n) AS BIGINT) AS n_rows,
         |    CAST(sum((mxx - mnx + 1) * (mxy - mny + 1)) AS BIGINT)
         |      AS sum_bbox_area,
         |    CAST(sum(CASE WHEN mnx <= 115 AND mxx >= 100
         |      THEN 1 ELSE 0 END) AS BIGINT) AS files_hit_x,
         |    CAST(sum(CASE WHEN mny <= 115 AND mxy >= 100
         |      THEN 1 ELSE 0 END) AS BIGINT) AS files_hit_y FROM pz),
         |rl AS (SELECT 'linear' AS layout,
         |    CAST(count(*) AS BIGINT) AS n_files,
         |    CAST(sum(n) AS BIGINT) AS n_rows,
         |    CAST(sum((mxx - mnx + 1) * (mxy - mny + 1)) AS BIGINT)
         |      AS sum_bbox_area,
         |    CAST(sum(CASE WHEN mnx <= 115 AND mxx >= 100
         |      THEN 1 ELSE 0 END) AS BIGINT) AS files_hit_x,
         |    CAST(sum(CASE WHEN mny <= 115 AND mxy >= 100
         |      THEN 1 ELSE 0 END) AS BIGINT) AS files_hit_y FROM pl)
         |SELECT * FROM rz UNION ALL SELECT * FROM rl
         |ORDER BY layout""".stripMargin
    }),

    // q237: the oracle re-derives every per-file statistic from the
    // ORIGINAL table via the same arithmetic file assignment — it
    // never reads the scratch layouts, so a physical write/read/
    // introspect divergence in the engine breaks the hash (the q106
    // philosophy applied to layout stats).
    QueryDef("q237_layout_health", Layout.layoutHealth(_, _),
      """WITH li AS (SELECT CAST(l_orderkey AS BIGINT) AS k FROM lineitem),
        |m AS (SELECT max(k) // 8 + 1 AS width FROM li),
        |a AS (SELECT k, k // width AS fc, k % 8 AS fs
        |  FROM li CROSS JOIN m),
        |pc AS (SELECT fc AS f, count(*) AS n, min(k) AS mn, max(k) AS mx
        |  FROM a GROUP BY fc),
        |ps AS (SELECT fs AS f, count(*) AS n, min(k) AS mn, max(k) AS mx
        |  FROM a GROUP BY fs),
        |oc AS (SELECT CAST(count(*) AS BIGINT) AS ov FROM pc x JOIN pc y
        |  ON x.f < y.f AND y.mn <= x.mx AND x.mn <= y.mx),
        |os AS (SELECT CAST(count(*) AS BIGINT) AS ov FROM ps x JOIN ps y
        |  ON x.f < y.f AND y.mn <= x.mx AND x.mn <= y.mx)
        |SELECT 'clustered' AS layout,
        |  CAST((SELECT count(*) FROM pc) AS BIGINT) AS n_files,
        |  CAST((SELECT sum(n) FROM pc) AS BIGINT) AS n_rows,
        |  (SELECT ov FROM oc) AS overlapping_pairs
        |UNION ALL
        |SELECT 'shuffled',
        |  CAST((SELECT count(*) FROM ps) AS BIGINT),
        |  CAST((SELECT sum(n) FROM ps) AS BIGINT),
        |  (SELECT ov FROM os)
        |ORDER BY layout""".stripMargin)
  )
}
