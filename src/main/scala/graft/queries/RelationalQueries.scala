package graft
package queries

import graft.operators.{Events, Relational}
import graft.queries.OracleFragments._

/** Relational operators (SURVEY.md §2.2: the SELECT surface the
  * reference delegates to PostgreSQL), built on [[graft.operators.Relational]].
  */
object RelationalQueries {

  val records: Seq[QueryDef] = Seq(
    QueryDef("q01_pricing_summary", Relational.pricingSummary _,
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 2) AS avg_qty,
        |  round(avg(l_extendedprice), 2) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    QueryDef("q02_filter_project", Relational.filterProject _,
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount,
        |  l_extendedprice * (1 - l_discount) AS net_price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        |  AND l_discount > 0.05 AND l_quantity < 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    QueryDef("q03_topk_revenue", Relational.topkRevenue _,
      """SELECT l_orderkey, o_orderdate,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
    QueryDef("q04_order_priority", Relational.orderPriority _,
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    QueryDef("q05_region_revenue", Relational.regionRevenue _,
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),
    QueryDef("q06_forecast_revenue", Relational.forecastRevenue _,
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 25""".stripMargin),
    QueryDef("q07_anti_join", Relational.inactiveCustomers _,
      """SELECT c_mktsegment, count(*) AS n_inactive FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |  AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1995-07-01 00:00:00')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    QueryDef("q08_segment_stats", Relational.segmentStats _,
      """SELECT c_mktsegment, count(DISTINCT o_custkey) AS n_active_customers,
        |  count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_value
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    QueryDef("q09_window_topn", Relational.topOrdersPerCustomer _,
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders) t WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),
    QueryDef("q10_window_running", Relational.runningQuantity _,
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  sum(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |    ROWS UNBOUNDED PRECEDING) AS running_qty
        |FROM lineitem
        |ORDER BY l_suppkey, l_orderkey, l_linenumber, running_qty""".stripMargin),
    QueryDef("q11_setops", Relational.setOpsCustomers _,
      """SELECT o_custkey FROM (
        |  SELECT o_custkey FROM orders
        |   WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-02-01 00:00:00'
        |  UNION
        |  SELECT o_custkey FROM orders
        |   WHERE o_orderdate >= TIMESTAMP '1996-02-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-03-01 00:00:00'
        |  EXCEPT
        |  SELECT o_custkey FROM orders
        |   WHERE o_orderdate >= TIMESTAMP '1996-03-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |) t ORDER BY o_custkey""".stripMargin),
    QueryDef("q12_top_orders", Relational.topOrders _,
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin),
    QueryDef("q13_rollup", Relational.rollupSummary _,
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin),
    QueryDef("q14_cube", Relational.cubeSummary _,
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  round(sum(o_totalprice), 2) AS total, count(*) AS n
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin),
    QueryDef("q15_scalar_funcs", Relational.scalarFunctions _,
      """SELECT o_orderkey,
        |  o_orderstatus || '-' || substring(o_orderpriority, 1, 1) AS tag,
        |  upper(substring(o_orderpriority, 3, 20)) AS prio_name,
        |  CAST(year(o_orderdate) AS BIGINT) AS oy,
        |  CAST(month(o_orderdate) AS BIGINT) AS om,
        |  CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
        |  o_orderkey % 7 AS k_mod,
        |  CAST(length(o_orderpriority) AS BIGINT) AS prio_len
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    QueryDef("q16_json_extract", Relational.jsonExtract _,
      """SELECT event_type, CAST(sum(k) AS BIGINT) AS sum_k, count(*) AS n,
        |  round(CAST(sum(k) AS DOUBLE) / count(*), 6) AS avg_k
        |FROM (SELECT event_type,
        |        CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
        |      FROM events) t
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // q186: the oracle restates each predicate in complement form
    // where one exists — overlap as NOT (b_hi <= a_lo OR a_hi <=
    // b_lo), range containment as "no element escapes" via bound
    // arithmetic, intersection emptiness via the merge width — the
    // q131 discipline.
    QueryDef("q186_range_algebra", Relational.rangeBattery _,
      """WITH r AS (SELECT o_orderkey,
        |    o_orderkey % 97 AS a_lo,
        |    o_orderkey % 97 + 1 + o_orderkey % 13 AS a_hi,
        |    o_orderkey % 89 AS b_lo,
        |    o_orderkey % 89 + 1 + o_orderkey % 17 AS b_hi,
        |    o_orderkey % 100 AS x
        |  FROM orders)
        |SELECT o_orderkey,
        |  CAST(a_lo AS BIGINT) AS a_lo, CAST(a_hi AS BIGINT) AS a_hi,
        |  CAST(b_lo AS BIGINT) AS b_lo, CAST(b_hi AS BIGINT) AS b_hi,
        |  CAST(NOT (b_lo < a_lo OR a_hi < b_hi) AS BIGINT) AS contains_r,
        |  CAST(NOT (x < a_lo OR x >= a_hi) AS BIGINT) AS contains_e,
        |  CAST(NOT (b_hi <= a_lo OR a_hi <= b_lo) AS BIGINT) AS overlaps,
        |  CAST(a_hi = b_lo OR b_hi = a_lo AS BIGINT) AS adjacent,
        |  CASE WHEN greatest(a_lo, b_lo) < least(a_hi, b_hi)
        |    THEN CAST(greatest(a_lo, b_lo) AS BIGINT) END AS inter_lo,
        |  CASE WHEN greatest(a_lo, b_lo) < least(a_hi, b_hi)
        |    THEN CAST(least(a_hi, b_hi) AS BIGINT) END AS inter_hi,
        |  CASE WHEN NOT (b_hi < a_lo OR a_hi < b_lo)
        |    THEN CAST(least(a_lo, b_lo) AS BIGINT) END AS merge_lo,
        |  CASE WHEN NOT (b_hi < a_lo OR a_hi < b_lo)
        |    THEN CAST(greatest(a_hi, b_hi) AS BIGINT) END AS merge_hi
        |FROM r ORDER BY o_orderkey""".stripMargin),

    // q182: the oracle counts matching patterns with a list lambda
    // (len(list_filter) vs 0 / vs len) — an independent encoding of
    // the ANY/ALL quantifier vs the engine's OR/AND fold.
    QueryDef("q182_like_quantified", Relational.likeQuantified _,
      {
      def arr(ps: Seq[String]) = ps.map(p => s"'$p'").mkString("[", ", ", "]")
      s"""SELECT p_partkey,
         |  CAST(len(list_filter(${arr(Relational.LikeAnyPatterns)},
         |    p -> p_name LIKE p)) > 0 AS BIGINT) AS m_any,
         |  CAST(len(list_filter(${arr(Relational.LikeAllPatterns)},
         |    p -> p_name LIKE p)) = ${Relational.LikeAllPatterns.length}
         |    AS BIGINT) AS m_all,
         |  CAST(len(list_filter(${arr(Relational.NotLikeAllPatterns)},
         |    p -> p_name LIKE p)) = 0 AS BIGINT) AS m_none
         |FROM part ORDER BY p_partkey""".stripMargin
    }),

    // q176: the engine translates each PG SIMILAR TO pattern
    // generically (similarToRegex); the oracle hardcodes the
    // hand-normalized regex per pattern via regexp_full_match —
    // independent encodings of PG's desugaring (DuckDB's own SIMILAR
    // TO is plain regex, '%' literal — not PG semantics).
    QueryDef("q176_similar_to", Relational.similarToBattery _,
      """SELECT p_partkey,
        |  CAST(regexp_full_match(p_type, '(STANDARD|SMALL|PROMO)')
        |    AS BIGINT) AS m_grade,
        |  CAST(regexp_full_match(p_name, '.*r.d.*') AS BIGINT) AS m_rxd,
        |  CAST(regexp_full_match(p_brand, 'Brand#[0-9]{2}')
        |    AS BIGINT) AS m_brand2,
        |  CAST(regexp_full_match(p_name, '(red|blue) .*')
        |    AS BIGINT) AS m_color,
        |  CAST(regexp_full_match(p_name, 's.*') AS BIGINT) AS m_escape
        |FROM part ORDER BY p_partkey""".stripMargin),

    // q174: DuckDB's utf8proc nfc_normalize/strip_accents vs the
    // engine's java.text.Normalizer kernels — two independent Unicode
    // implementations that must agree codepoint-for-codepoint (md5
    // pins exact bytes); the decomposed/precomposed prefixes are the
    // shared constants, so both engines see identical input
    // codepoints.
    QueryDef("q174_unicode_norm", Relational.unicodeBattery _,
      s"""WITH b AS (SELECT c_custkey, c_name,
         |    '${Relational.UniDecomposed}' || c_name AS d,
         |    '${Relational.UniPrecomposed}' || c_name AS p
         |  FROM customer)
         |SELECT c_custkey,
         |  CAST(length(d) AS BIGINT) AS n_dec,
         |  CAST(length(nfc_normalize(d)) AS BIGINT) AS n_nfc,
         |  CAST(CASE WHEN nfc_normalize(d) = p THEN 1 ELSE 0 END
         |    AS BIGINT) AS nfc_eq,
         |  md5(nfc_normalize(d)) AS nfc_md5,
         |  strip_accents(p) AS folded,
         |  CAST(CASE WHEN strip_accents(p) =
         |    '${Relational.UniFolded}' || c_name THEN 1 ELSE 0 END
         |    AS BIGINT) AS fold_eq
         |FROM b ORDER BY c_custkey""".stripMargin),
    QueryDef("q36_grouping_sets", Relational.groupingSets _,
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY rf, ls""".stripMargin),
    QueryDef("q37_pivot", Relational.pivotStatus _,
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    QueryDef("q38_topk_agg", Relational.topkAgg _,
      """WITH j AS (SELECT c_mktsegment, o_totalprice,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT c_mktsegment,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS top3_sum
        |FROM j WHERE rn <= 3 GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // q143: PG's multi-array unnest zip from FIRST PRINCIPLES —
    // explicit index range to the longest length, out-of-range
    // subscripts NULL (vs the engine's arrays_zip + posexplode):
    // independent encodings of the NULL-padding contract.
    QueryDef("q143_multi_unnest", Relational.multiUnnest _,
      """WITH b AS (SELECT o_orderkey,
        |    (['alpha','beta','gamma','delta'])[1:(o_orderkey % 5)] AS a,
        |    ([10,20,30])[1:(o_orderkey % 4)] AS b
        |  FROM orders),
        |x AS (SELECT o_orderkey, a, b,
        |    unnest(range(1, greatest(len(a), len(b)) + 1)) AS i
        |  FROM b)
        |SELECT o_orderkey, CAST(i AS BIGINT) AS ord, a[i] AS s,
        |  CAST(b[i] AS BIGINT) AS v
        |FROM x ORDER BY o_orderkey, ord""".stripMargin),

    // q145: case-insensitivity stated as explicit lower()
    // normalization (vs the engine's UTF8_LCASE collated type) —
    // independent encodings; collated group keys are not emitted
    // (representative variant is engine-arbitrary).
    QueryDef("q145_collation", Relational.collationGate _,
      """WITH b AS (SELECT c_mktsegment,
        |    CASE WHEN c_custkey % 2 = 1 THEN upper(c_mktsegment)
        |         ELSE lower(c_mktsegment) END AS mixed
        |  FROM customer)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT mixed) AS BIGINT) AS n_cs,
        |  CAST(count(DISTINCT lower(mixed)) AS BIGINT) AS n_ci,
        |  CAST(sum(CASE WHEN mixed = lower(c_mktsegment) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS eq_cs,
        |  CAST(sum(CASE WHEN lower(mixed) = lower(c_mktsegment) THEN 1 ELSE 0
        |    END) AS BIGINT) AS eq_ci
        |FROM b GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // q146: DuckDB's NATIVE recursive UNION on the cyclic affine
    // step — terminates by the same per-step dedup the engine loop
    // emulates; UNION ALL recursion would diverge on this fixture.
    QueryDef("q146_cyclic_closure", Relational.cyclicClosureDistinct _,
      """WITH RECURSIVE nodes AS (
        |  SELECT DISTINCT c_custkey % 101 AS node FROM customer),
        |r AS (
        |  SELECT node, node AS anc FROM nodes
        |  UNION
        |  SELECT node, (anc * 5 + 3) % 101 AS anc FROM r)
        |SELECT node, anc FROM r ORDER BY node, anc""".stripMargin),

    // q149: DuckDB's NATIVE QUALIFY (the engine emulates it as the
    // post-window filter QUALIFY is defined as) — independent
    // encodings; the predicate is exact Long arithmetic (cents·n >
    // sum_cents), no float mean to disagree on.
    QueryDef("q149_qualify", Relational.qualifyAboveAvg _,
      """SELECT o_custkey, o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |  count(*) OVER w AS n_cust_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w
        |    AS BIGINT) AS cust_sum_cents
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey)
        |QUALIFY cents * n_cust_orders > cust_sum_cents
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // q150: DuckDB's native ROW-VALUE comparison states the keyset
    // cursor directly; the engine spells the same total-order
    // predicate as the explicit disjunction — independent encodings.
    QueryDef("q150_keyset_page", Relational.keysetPage _,
      s"""SELECT o_orderkey, o_orderdate,
         |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         |FROM orders
         |WHERE (o_orderdate, o_orderkey) >
         |  (TIMESTAMP '${graft.operators.Relational.KeysetDate}',
         |   ${graft.operators.Relational.KeysetKey})
         |ORDER BY o_orderdate, o_orderkey
         |LIMIT ${graft.operators.Relational.KeysetPageSize}""".stripMargin),

    // q155: the same strings from FIRST PRINCIPLES — fmt-style
    // '{:,}' grouping on the integer dollars, lpad'd cents digits,
    // and explicit space-padding to the template width (Spark's
    // to_char pads 9-positions with spaces; S adds one sign
    // position) — independent encodings of grouped / signed /
    // currency / zero-padded rendering. Corpus prices are all
    // ≥ $900, so no sub-dollar digit-suppression edge exists.
    QueryDef("q155_number_format", Relational.numberFormatBattery _,
      """WITH b AS (SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |f AS (SELECT o_orderkey, cents,
        |    format('{:,}', cents // 100) || '.' ||
        |      lpad(CAST(cents % 100 AS VARCHAR), 2, '0') AS s
        |  FROM b)
        |SELECT o_orderkey, cents,
        |  lpad(s, 14, ' ') AS grouped,
        |  '$' || lpad(s, 14, ' ') AS currency,
        |  lpad('+' || s, 15, ' ') AS signed,
        |  lpad(CAST(cents AS VARCHAR), 12, '0') AS zero_padded
        |FROM f ORDER BY o_orderkey""".stripMargin),

    // The enumerated window functions under full deterministic
    // orders; first/last use explicit ROWS frames on both sides.
    QueryDef("q63_window_suite", Relational.windowSuite _,
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(rank() OVER wp AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER wp AS BIGINT) AS drk,
        |  CAST(ntile(4) OVER wp AS BIGINT) AS quartile,
        |  lead(o_orderdate, 1) OVER wt AS next_date,
        |  first_value(o_totalprice) OVER (
        |    wt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price,
        |  last_value(o_totalprice) OVER (
        |    wt ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS last_price
        |FROM orders
        |WINDOW wp AS (PARTITION BY o_custkey
        |                ORDER BY o_totalprice DESC, o_orderkey),
        |       wt AS (PARTITION BY o_custkey
        |                ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin),

    // The oracle computes the interval components ARITHMETICALLY; the
    // Spark side packs them through the 16-byte wire payload and back
    // via decode_interval — two independent encodings of the layout.
    QueryDef("q46_interval_decode", Relational.intervalDecode _,
      """SELECT o_orderkey,
        |  CAST(o_orderkey % 24 AS BIGINT) AS iv_months,
        |  CAST(o_orderkey % 30 AS BIGINT) AS iv_days,
        |  CAST((o_orderkey % 86400) * 1000000 + o_orderkey % 1000 AS BIGINT) AS iv_micros
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // The salted join must be result-identical to the plain join —
    // the oracle IS the plain join, so the hash gate fails on any
    // dropped or duplicated replica.
    QueryDef("q57_salted_join", Relational.saltedSegmentStats _,
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_value
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // Distribution-rank windows: the price order is tie-free
    // (o_orderkey tiebreak), so (rank-1)/(n-1) and peers/n divide the
    // same integers in double on both engines; nth_value pins an
    // explicit running ROWS frame on both sides.
    QueryDef("q63b_window_dist", Relational.windowSuiteExtras _,
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  round(percent_rank() OVER wp, 6) AS pct_rank,
        |  round(cume_dist() OVER wp, 6) AS cume,
        |  nth_value(o_totalprice, 3) OVER (
        |    wt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_price
        |FROM orders
        |WINDOW wp AS (PARTITION BY o_custkey
        |                ORDER BY o_totalprice DESC, o_orderkey),
        |       wt AS (PARTITION BY o_custkey
        |                ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin),

    // Each branch is tagged so one result carries all three set-op
    // semantics: distinct intersection, min-multiplicity bag
    // intersection, truncated bag difference.
    QueryDef("q64_setops_all", Relational.setOpsAll _,
      """SELECT op, o_custkey FROM (
        |  SELECT 'intersect' AS op, o_custkey FROM (
        |    SELECT o_custkey FROM orders
        |     WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-02-01 00:00:00'
        |    INTERSECT
        |    SELECT o_custkey FROM orders
        |     WHERE o_orderdate >= TIMESTAMP '1996-02-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-03-01 00:00:00') i
        |  UNION ALL
        |  SELECT 'intersect_all' AS op, o_custkey FROM (
        |    SELECT o_custkey FROM orders
        |     WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-02-01 00:00:00'
        |    INTERSECT ALL
        |    SELECT o_custkey FROM orders
        |     WHERE o_orderdate >= TIMESTAMP '1996-02-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-03-01 00:00:00') ia
        |  UNION ALL
        |  SELECT 'except_all' AS op, o_custkey FROM (
        |    SELECT o_custkey FROM orders
        |     WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-02-01 00:00:00'
        |    EXCEPT ALL
        |    SELECT o_custkey FROM orders
        |     WHERE o_orderdate >= TIMESTAMP '1996-02-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-03-01 00:00:00') ea
        |) u ORDER BY op, o_custkey""".stripMargin),
    QueryDef("q65_full_outer", Relational.fullOuterYears _,
      """WITH a AS (SELECT o_custkey, count(*) AS n95, sum(o_totalprice) AS v95
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |  GROUP BY o_custkey),
        |b AS (SELECT o_custkey, count(*) AS n96, sum(o_totalprice) AS v96
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY o_custkey)
        |SELECT coalesce(a.o_custkey, b.o_custkey) AS o_custkey,
        |  CASE WHEN a.o_custkey IS NOT NULL AND b.o_custkey IS NOT NULL THEN 'both'
        |       WHEN a.o_custkey IS NOT NULL THEN 'only_1995'
        |       ELSE 'only_1996' END AS presence,
        |  coalesce(n95, 0) AS n_1995, coalesce(n96, 0) AS n_1996,
        |  round(coalesce(v95, 0) + coalesce(v96, 0), 2) AS total_value
        |FROM a FULL JOIN b ON a.o_custkey = b.o_custkey
        |ORDER BY o_custkey""".stripMargin),
    QueryDef("q65b_right_join", Relational.rightJoinSegments _,
      """SELECT c_mktsegment,
        |  count(DISTINCT c_custkey) AS n_customers,
        |  count(o_custkey) AS n_orders,
        |  count(DISTINCT CASE WHEN o_custkey IS NULL THEN c_custkey END) AS n_inactive,
        |  round(sum(coalesce(o_totalprice, 0)), 2) AS h1_value
        |FROM (SELECT o_custkey, o_totalprice FROM orders
        |      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |        AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00') o
        |RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // PG's DISTINCT ON, stated in its native form — DuckDB implements
    // the PostgreSQL semantics directly, while the engine states it
    // as a row_number()=1 rank limit (which the injected rewrite
    // plans as a k=1 top-k heap). The (micros desc, event_id desc)
    // order is total, so both picks are forced to the same row.
    QueryDef("q76_distinct_on", Relational.distinctOnLatest _,
      """SELECT DISTINCT ON (user_id) user_id,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type, value
        |FROM events
        |ORDER BY user_id, epoch_us(CAST(ts AS TIMESTAMP)) DESC,
        |  event_id DESC""".stripMargin),

    // DuckDB's PG-style string_agg(DISTINCT … ORDER BY …) vs Spark's
    // listagg WITHIN GROUP — two spellings of the same SQL:2016
    // ordered string aggregation.
    QueryDef("q77_string_agg", Relational.orderedStringAgg _,
      """SELECT c_mktsegment,
        |  string_agg(DISTINCT n_name, ',' ORDER BY n_name) AS nations_csv,
        |  CAST(count(DISTINCT n_name) AS BIGINT) AS n_nations,
        |  count(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // Two independent JSON parse paths per row (the ->> operator and
    // json_extract_string), and to_json re-serialization hashed
    // against Spark's writer — the q46 independent-encodings pattern
    // on the published compact-JSON format.
    QueryDef("q80_json_funcs", Relational.jsonFuncs _,
      """SELECT event_id,
        |  CAST(props->>'k' AS BIGINT) AS k,
        |  CASE WHEN CAST(props->>'k' AS BIGINT) =
        |    CAST(json_extract_string(props, '$.k') AS BIGINT)
        |    THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS mismatch,
        |  md5(to_json(struct_pack(uid := user_id, et := event_type,
        |    k := CAST(props->>'k' AS BIGINT)))) AS fp
        |FROM events ORDER BY event_id""".stripMargin),

    // DuckDB's first-class UNPIVOT vs Spark's Dataset.unpivot — two
    // independent implementations of the same relational transpose.
    // Money summed as exact integer cents BEFORE the melt.
    QueryDef("q82_unpivot", Relational.unpivotMetrics _,
      """WITH wide AS (SELECT l_returnflag,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS extendedprice_cents,
        |    CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
        |      AS discount_cents,
        |    CAST(sum(CAST(round(l_tax * 100) AS BIGINT)) AS BIGINT)
        |      AS tax_cents
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, metric, value_cents
        |FROM wide UNPIVOT (value_cents FOR metric IN
        |  (extendedprice_cents, discount_cents, tax_cents))
        |ORDER BY l_returnflag, metric""".stripMargin),

    // Same functions, DuckDB's implementations (strpos for instr,
    // trim(s, chars) for the char-set TRIM) — exact string outputs.
    QueryDef("q90_string_battery", Relational.stringBattery _,
      """SELECT p_partkey,
        |  split_part(p_name, ' ', 1) AS word1,
        |  split_part(p_name, ' ', 2) AS word2,
        |  translate(p_type, 'AEIOU', 'aeiou') AS type_tr,
        |  lpad(p_brand, 10, '*') AS brand_l,
        |  rpad(p_brand, 10, '=') AS brand_r,
        |  repeat(left(p_name, 2), 3) AS rep2,
        |  reverse(p_name) AS name_rev,
        |  replace(p_name, ' ', '_') AS name_us,
        |  CAST(strpos(p_name, ' ') AS BIGINT) AS sp_pos,
        |  right(p_type, 3) AS type_r3,
        |  trim(p_brand, 'Bdran#') AS brand_num,
        |  CAST(ascii(p_name) AS BIGINT) AS first_ascii
        |FROM part ORDER BY p_partkey""".stripMargin),

    // q170: rows derived arithmetically (no parse) and the document
    // bytes rendered by DuckDB's own string constructor — engine
    // parse vs oracle derivation, bytes hash-pinned.
    QueryDef("q170_json_table", Relational.jsonTableShred _,
      """WITH b AS (SELECT o_orderkey AS k,
        |    unnest(range(1, 2 + o_orderkey % 3)) AS i FROM orders),
        |r AS (SELECT k, i, (k * i) % 97 AS id,
        |    'it' || CAST((k + i) % 5 AS VARCHAR) AS tag FROM b),
        |d AS (SELECT k, '[' || string_agg(
        |    '{"id":' || CAST(id AS VARCHAR) || ',"tag":"' || tag || '"}',
        |    ',' ORDER BY i) || ']' AS doc FROM r GROUP BY k)
        |SELECT r.k AS o_orderkey, d.doc, CAST(r.i AS BIGINT) AS ord,
        |  CAST(r.id AS BIGINT) AS id, r.tag
        |FROM r JOIN d ON d.k = r.k
        |ORDER BY o_orderkey, ord""".stripMargin),

    // q165: PG array operators via DuckDB's native list functions
    // (vs the engine's defining-∀ spelling); the PG NULL-when-absent
    // position contract stated as nullif on both sides.
    QueryDef("q165_array_ops", Relational.arrayOpsBattery _,
      """WITH b AS (SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 5 = 0 THEN CAST([] AS BIGINT[])
        |         ELSE list_transform(range(1, 2 + o_orderkey % 4),
        |                i -> (o_orderkey * i) % 7) END AS arr,
        |    CASE WHEN o_orderkey % 3 = 0 THEN CAST([] AS BIGINT[])
        |         ELSE list_transform(range(1, 2 + o_orderkey % 3),
        |                i -> (o_orderkey + i) % 7) END AS probe
        |  FROM orders)
        |SELECT k AS o_orderkey,
        |  CAST(list_has_all(arr, probe) AS BIGINT) AS contains_p,
        |  CAST(list_has_all(probe, arr) AS BIGINT) AS contained_p,
        |  CAST(list_has_any(arr, probe) AS BIGINT) AS overlap_p,
        |  CAST(nullif(list_position(arr, 3), 0) AS BIGINT) AS pos3,
        |  coalesce(array_to_string(list_filter(arr, x -> x != k % 7), '/'),
        |           '') AS removed
        |FROM b ORDER BY o_orderkey""".stripMargin),

    // q163: the PARSE direction — each engine builds the strings
    // with its own formatter and parses with its own template
    // dialect (Java patterns vs strptime %-codes); round-trip
    // asymmetries on either side are value-visible.
    QueryDef("q163_datetime_parse", Relational.datetimeParseBattery _,
      """WITH b AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
        |    o_orderkey % 86400 AS secs FROM orders),
        |t AS (SELECT o_orderkey, d,
        |    CAST(d AS TIMESTAMP) + secs * INTERVAL 1 SECOND AS ts FROM b)
        |SELECT o_orderkey,
        |  strftime(d, '%d-%b-%Y') AS s_date,
        |  CAST(strptime(strftime(d, '%d-%b-%Y'), '%d-%b-%Y') AS DATE)
        |    AS d_parsed,
        |  strftime(ts, '%m/%d/%Y %I:%M:%S %p') AS s_ts,
        |  CAST(epoch_us(strptime(strftime(ts, '%m/%d/%Y %I:%M:%S %p'),
        |    '%m/%d/%Y %I:%M:%S %p')) AS BIGINT) AS us_parsed
        |FROM t ORDER BY o_orderkey""".stripMargin),

    // DuckDB's date surface restated: PG dow convention is native
    // (Spark's is re-based engine-side); next-Monday re-derived
    // arithmetically from dow — an independent encoding of
    // next_day's strictly-after contract.
    QueryDef("q91_date_battery", Relational.dateBattery _,
      """WITH b AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
        |  FROM orders)
        |SELECT o_orderkey,
        |  CAST(date_trunc('month', d) AS DATE) AS mon,
        |  CAST(date_trunc('quarter', d) AS DATE) AS qtr,
        |  CAST(extract(dow FROM d) AS BIGINT) AS dow,
        |  CAST(extract(doy FROM d) AS BIGINT) AS doy,
        |  CAST(extract(week FROM d) AS BIGINT) AS iso_week,
        |  last_day(d) AS month_end,
        |  CAST(d + INTERVAL 3 MONTH AS DATE) AS plus3mo,
        |  d + 30 AS plus30d,
        |  CAST(date_diff('day', d, DATE '2000-01-01') AS BIGINT)
        |    AS days_to_y2k,
        |  d + CASE WHEN (8 - CAST(extract(dow FROM d) AS INT)) % 7 = 0
        |    THEN 7 ELSE (8 - CAST(extract(dow FROM d) AS INT)) % 7 END
        |    AS next_monday
        |FROM b ORDER BY o_orderkey""".stripMargin),

    // The map exists only on the engine side — the oracle computes
    // every output directly from the source columns (the q46
    // independent-encodings inversion), so an engine-side value that
    // survives build → concat → extract unchanged proves MapType
    // semantics.
    QueryDef("q94_map_roundtrip", Relational.mapRoundtrip _,
      """SELECT doc_id,
        |  n_chars AS chars_v,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS toks_v,
        |  CAST(2 * len(regexp_extract_all(text, '\S+')) AS BIGINT)
        |    AS toks2_v,
        |  CAST(3 AS BIGINT) AS m_size,
        |  'chars,toks,toks2' AS keys_csv,
        |  CAST((CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) +
        |    (CASE WHEN len(regexp_extract_all(text, '\S+')) >= 100
        |      THEN 1 ELSE 0 END) +
        |    (CASE WHEN 2 * len(regexp_extract_all(text, '\S+')) >= 100
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_big
        |FROM documents ORDER BY doc_id""".stripMargin),

    // DuckDB's regexp_extract with group index mirrors Spark's; the
    // num_matches_key column must be all-1 on both sides.
    QueryDef("q97_regex_battery", Relational.regexBattery _,
      """SELECT c_custkey,
        |  CAST(regexp_extract(c_name, '#(\d+)', 1) AS BIGINT) AS name_num,
        |  CAST(len(regexp_extract_all(c_mktsegment, '[AEIOU]+'))
        |    AS BIGINT) AS n_vowel_runs,
        |  CASE WHEN regexp_matches(c_name, '00$')
        |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS ends_00,
        |  CASE WHEN CAST(regexp_extract(c_name, '#(\d+)', 1) AS BIGINT)
        |      = c_custkey
        |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
        |    AS num_matches_key
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // DuckDB's ^ is exponentiation — XOR via xor(); pmod restated as
    // ((x % m) + m) % m. All BIGINT-exact.
    QueryDef("q98_bit_battery", Relational.bitBattery _,
      """SELECT o_orderkey,
        |  o_orderkey & 255 AS and255,
        |  o_orderkey | 4096 AS or4096,
        |  xor(o_orderkey, 777) AS xor777,
        |  o_orderkey << 3 AS shl3,
        |  o_orderkey >> 2 AS shr2,
        |  CAST(bit_count(o_orderkey) AS BIGINT) AS pop,
        |  ((2500 - o_orderkey) % 7 + 7) % 7 AS pm7,
        |  abs(o_orderkey - 5000) AS absd,
        |  CAST(CASE WHEN o_orderkey > 5000 THEN 1
        |    WHEN o_orderkey < 5000 THEN -1 ELSE 0 END AS BIGINT) AS sgn
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // q108b: DuckDB's NATIVE `WITH RECURSIVE … UNION` (per-iteration
    // dedup against everything already produced — the PG semantics
    // Spark's UNION ALL-only recursion lacks) over the same two-edge
    // converging-path DAG the engine closes with its iterative
    // dropDuplicates + anti-join loop.
    QueryDef("q108b_recursive_union", Relational.ancestorClosureDistinct _,
      """WITH RECURSIVE anc AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS node,
        |    CAST(c_custkey AS BIGINT) AS anc
        |  FROM customer
        |  UNION
        |  SELECT a.node, a.anc // d.v AS anc
        |  FROM anc a, (VALUES (2), (3)) d(v)
        |  WHERE a.anc // d.v >= 1 AND a.anc // d.v < a.anc
        |)
        |SELECT node, anc FROM anc ORDER BY node, anc""".stripMargin),

    // q139: C-style strftime vs the engine's Java DateTimeFormatter
    // patterns — two unrelated pattern languages rendering the same
    // English names (DuckDB strftime is C-locale; Spark formats
    // under Locale.US) and zero-padded numerics.
    QueryDef("q139_date_format", Relational.dateFormatBattery _,
      """WITH b AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
        |  FROM orders)
        |SELECT o_orderkey,
        |  strftime(d, '%Y-%m') AS ym,
        |  strftime(d, '%Y%m%d') AS ymd_compact,
        |  strftime(d, '%a') AS dow_abbrev,
        |  strftime(d, '%A') AS dow_full,
        |  strftime(d, '%b') AS mon_abbrev,
        |  strftime(d, '%B') AS mon_full,
        |  strftime(d, '%j') AS doy_padded,
        |  strftime(d, '%a, %d %b %Y') AS report_label
        |FROM b ORDER BY o_orderkey""".stripMargin),

    // q122: the DEFINITIONAL encoding of FETCH FIRST 48 WITH TIES —
    // rank() <= 48 — vs the engine's boundary-key decomposition
    // (top-n reduce + broadcast <= filter): independent encodings;
    // neither engine parses WITH TIES natively. 48 (not 50) so the
    // boundary day has real ties at both gate SFs.
    QueryDef("q122_fetch_ties", Relational.fetchFirstWithTies _,
      """SELECT o_orderkey, o_orderdate,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |FROM (SELECT *, rank() OVER (ORDER BY o_orderdate) AS r
        |  FROM orders)
        |WHERE r <= 48 ORDER BY o_orderkey""".stripMargin),

    // q125: DuckDB's DISTINCT-modified aggregates — the multi-arg
    // variant spelled `count(DISTINCT (a, b))` (struct row) vs
    // Spark's `count(DISTINCT a, b)`; sum(DISTINCT BIGINT) widens to
    // HUGEINT there, hence the CAST.
    QueryDef("q125_distinct_aggs", Relational.distinctAggs _,
      """SELECT l_returnflag AS flag,
        |  count(DISTINCT l_partkey) AS nd_part,
        |  count(DISTINCT (l_partkey, l_suppkey)) AS nd_pair,
        |  CAST(sum(DISTINCT CAST(l_quantity AS BIGINT)) AS BIGINT)
        |    AS sum_dq,
        |  round(avg(DISTINCT CAST(l_quantity AS BIGINT)), 6) AS avg_dq,
        |  count(*) AS n
        |FROM lineitem GROUP BY flag ORDER BY flag""".stripMargin),

    // DuckDB's NATIVE window FILTER vs the engine's CASE-projection
    // emulation (Spark has no window FILTER) — independent encodings
    // of the same running conditional aggregate.
    QueryDef("q111_window_filter", Relational.windowFilter _,
      """SELECT o_orderkey, o_custkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |  CAST(o_totalprice > 150000 AS BIGINT) AS is_big,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |    FILTER (WHERE o_totalprice > 150000) OVER w
        |    AS BIGINT) AS run_big_cents,
        |  CAST(count(*) FILTER (WHERE o_totalprice > 150000) OVER w
        |    AS BIGINT) AS run_big_n
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING)
        |ORDER BY o_orderkey""".stripMargin),

    // q203: decimals constructed from integer digits on both sides —
    // never by dividing a decimal (scale/rounding rules differ) —
    // and rendered as text so the digits themselves are pinned.
    QueryDef("q203_decimal_exact", Relational.decimalBattery _,
      """WITH b AS (SELECT l_returnflag, l_linestatus,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
        |    CAST(round(l_discount * 100) AS BIGINT) AS disc_c
        |  FROM lineitem),
        |d AS (SELECT l_returnflag, l_linestatus,
        |    CAST(price_c // 100 || '.' ||
        |      lpad(CAST(price_c % 100 AS VARCHAR), 2, '0')
        |      AS DECIMAL(18,2)) AS price_d,
        |    price_c * (100 - disc_c) AS rev_u FROM b),
        |e AS (SELECT l_returnflag, l_linestatus, price_d,
        |    CAST(rev_u // 10000 || '.' ||
        |      lpad(CAST(rev_u % 10000 AS VARCHAR), 4, '0')
        |      AS DECIMAL(28,4)) AS rev_d FROM d)
        |SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(CAST(sum(price_d) AS DECIMAL(38,2)) AS VARCHAR) AS sum_price,
        |  CAST(min(price_d) AS VARCHAR) AS min_price,
        |  CAST(max(price_d) AS VARCHAR) AS max_price,
        |  CAST(CAST(sum(rev_d) AS DECIMAL(38,4)) AS VARCHAR) AS sum_revenue
        |FROM e GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // q204: DuckDB's native UNION ALL recursion carrying the path
    // list, list_contains as the stop predicate — PG 14 CYCLE
    // semantics from first principles vs the engine's driver loop.
    QueryDef("q204_cycle_path", Relational.cyclePathWalk _,
      """WITH RECURSIVE nodes AS (
        |  SELECT DISTINCT c_custkey % 101 AS node FROM customer),
        |walk AS (
        |  SELECT node AS start, node AS cur, CAST(0 AS BIGINT) AS depth,
        |    [node] AS path, false AS is_cycle FROM nodes
        |  UNION ALL
        |  SELECT start, (cur * 5 + 3) % 101 AS cur, depth + 1,
        |    list_append(path, (cur * 5 + 3) % 101),
        |    list_contains(path, (cur * 5 + 3) % 101)
        |  FROM walk WHERE NOT is_cycle)
        |SELECT start, depth, cur, CAST(is_cycle AS BIGINT) AS is_cycle,
        |  md5(array_to_string(path, '->')) AS path_fp
        |FROM walk ORDER BY start, depth""".stripMargin),

    // q205: DuckDB's list primitives restate the DISTINCT+ORDER BY
    // aggregate; the rendered CSV keeps arrays out of the hash (the
    // q121 finding).
    QueryDef("q205_distinct_ordered_agg", Relational.distinctOrderedAgg _,
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_prios,
        |  array_to_string(list_sort(list_distinct(list(o_orderpriority))),
        |    ',') AS prio_csv,
        |  CAST(len(list_distinct(list(substring(o_orderpriority, 1, 1))))
        |    AS BIGINT) AS n_prio_codes
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // q222: the INSERTION semantics — the hypothetical row is really
    // unioned into each group and the genuine window functions are
    // read off it; meets the engine's counting identities only if
    // those identities ARE the semantics.
    QueryDef("q222_hypothetical_rank", Relational.hypotheticalRank _,
      s"""WITH b AS (SELECT o_orderstatus,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         |    0 AS is_h FROM orders),
         |h AS (SELECT DISTINCT o_orderstatus,
         |    CAST(${Relational.HypoCents} AS BIGINT) AS cents, 1 AS is_h
         |  FROM orders),
         |u AS (SELECT * FROM b UNION ALL SELECT * FROM h),
         |w AS (SELECT o_orderstatus, is_h,
         |    CAST(rank() OVER win AS BIGINT) AS rk,
         |    CAST(dense_rank() OVER win AS BIGINT) AS drk,
         |    round(percent_rank() OVER win, 6) AS prk,
         |    round(cume_dist() OVER win, 6) AS cd
         |  FROM u
         |  WINDOW win AS (PARTITION BY o_orderstatus ORDER BY cents)),
         |n AS (SELECT o_orderstatus, count(*) AS n FROM b
         |  GROUP BY o_orderstatus)
         |SELECT w.o_orderstatus, n.n, w.rk AS hypo_rank,
         |  w.drk AS hypo_dense_rank, w.prk AS hypo_percent_rank,
         |  w.cd AS hypo_cume_dist
         |FROM w JOIN n ON w.o_orderstatus = n.o_orderstatus
         |WHERE w.is_h = 1 ORDER BY w.o_orderstatus""".stripMargin),

    // q223: last-of-month from first principles (trunc + 1 month −
    // 1 day — PG's spelling; it has no last_day), the clamp cases
    // live via the leap-year span.
    QueryDef("q223_calendar_edges", Relational.calendarEdges _,
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE)
        |    AS plus_1m,
        |  CAST(CAST(o_orderdate AS DATE) - INTERVAL 13 MONTH AS DATE)
        |    AS minus_13m,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 YEAR AS DATE)
        |    AS plus_1y,
        |  CAST(date_trunc('month', CAST(o_orderdate AS DATE))
        |    + INTERVAL 1 MONTH - INTERVAL 1 DAY AS DATE) AS month_last,
        |  CAST(date_trunc('quarter', CAST(o_orderdate AS DATE)) AS DATE)
        |    AS qtr_start,
        |  CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE)
        |    AS week_start,
        |  CAST(dayofyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS doy
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // q236: DuckDB re-derives the per-column profile as one UNION ALL
    // block per column (n_nulls via count(*)−count(c)); doubles in
    // integer cents on both sides — float→string formatting is
    // engine-specific and never enters the hash. The column list is
    // Relational.ProfileColumns — the SAME value the engine relation
    // is built from, so a schema change breaks both sides together;
    // names are double-quoted in the generated SQL.
    QueryDef("q236_table_profile", Relational.tableProfile _,
      Relational.ProfileColumns.map { case (c, dbl) =>
        val q = "\"" + c + "\""
        val mn = if (dbl) s"CAST(CAST(round(min($q) * 100) AS BIGINT) AS VARCHAR)"
                 else s"CAST(min($q) AS VARCHAR)"
        val mx = if (dbl) s"CAST(CAST(round(max($q) * 100) AS BIGINT) AS VARCHAR)"
                 else s"CAST(max($q) AS VARCHAR)"
        s"""SELECT '$c' AS column_name,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count($q) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $q) AS BIGINT) AS n_distinct,
           |  $mn AS min_val, $mx AS max_val
           |FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")),

    // q238: the approx-profiler gate — the q20 sketch contract per
    // column: the HLL++ estimate itself is engine-specific and stays
    // out of the hash; the oracle re-derives the exact count and the
    // same ±SlackPct integer band, and asserts in_band as literal 1.
    // Generated from the same Relational.ProfileColumns.
    QueryDef("q238_table_profile_approx", Relational.tableProfileApprox _,
      Relational.ProfileColumns.map { case (c, _) =>
        val q = "\"" + c + "\""
        val slack = s"(count(DISTINCT $q) * ${Events.SlackPct} // 100 + 1)"
        s"""SELECT '$c' AS column_name,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count($q) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $q) AS BIGINT) AS exact_distinct,
           |  CAST(count(DISTINCT $q) - $slack AS BIGINT) AS lo_distinct,
           |  CAST(count(DISTINCT $q) + $slack AS BIGINT) AS hi_distinct,
           |  CAST(1 AS BIGINT) AS in_band
           |FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")),

    // q239 is the PRODUCTION profiler shape (one pass, HLL++ sketch
    // only — no exact distinct, no Expand; ProfileSpec pins the plan).
    // The sketch value is engine-specific so there is no DuckDB
    // oracle: its accuracy contract is q238's in_band gate, and the
    // driver records the weaker rows-only check here.
    QueryDef("q239_table_profile_detail", Relational.tableProfileApproxDetail _,
      Oracle.RowsOnly, benched = true),

    // q246: DuckDB re-derives snapshot B with the same deterministic
    // modular fixture, fingerprints with its own md5, and classifies
    // with a FULL OUTER JOIN — independent join/CASE encodings of the
    // same CDC semantics; sum_keys is an exact-integer identity of
    // WHICH keys landed in each class, not just how many.
    QueryDef("q246_snapshot_diff", Relational.snapshotDiff _,
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        |base AS (SELECT doc_id, md5(text) AS fpa FROM documents),
        |surv AS (SELECT doc_id,
        |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
        |             ELSE text END) AS fpb
        |  FROM documents WHERE doc_id % 11 <> 0),
        |ins AS (SELECT doc_id + m + 1 AS doc_id, md5(text) AS fpb
        |  FROM documents, mx WHERE doc_id % 13 = 0),
        |snap AS (SELECT * FROM surv UNION ALL SELECT * FROM ins),
        |j AS (SELECT coalesce(base.doc_id, snap.doc_id) AS doc_id,
        |    fpa, fpb FROM base FULL OUTER JOIN snap
        |    ON base.doc_id = snap.doc_id),
        |c AS (SELECT doc_id,
        |    CASE WHEN fpa IS NULL THEN 'insert'
        |         WHEN fpb IS NULL THEN 'delete'
        |         WHEN fpa = fpb THEN 'unchanged'
        |         ELSE 'update' END AS change
        |  FROM j)
        |SELECT change, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_keys
        |FROM c GROUP BY change ORDER BY change""".stripMargin),

    // q248: incremental dedup-survivor maintenance. The oracle is
    // deliberately NOT incremental — it rebuilds snapshot B from the
    // fixture arithmetic and performs the FULL dedup recompute, so a
    // hash match proves the engine's delta-only derivation equals
    // the ground-truth recompute (the IVM correctness identity).
    QueryDef("q248_dedup_ivm", Relational.dedupIndexMaintenance _,
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        |surv AS (SELECT doc_id,
        |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
        |             ELSE text END) AS fp
        |  FROM documents WHERE doc_id % 11 <> 0),
        |ins AS (SELECT doc_id + m + 1 AS doc_id, md5(text) AS fp
        |  FROM documents, mx WHERE doc_id % 13 = 0),
        |b AS (SELECT * FROM surv UNION ALL SELECT * FROM ins)
        |SELECT fp, CAST(min(doc_id) AS BIGINT) AS survivor_id
        |FROM b GROUP BY fp ORDER BY fp""".stripMargin),

    // q259: the oracle parses the SAME synthesized JSON bytes
    // (VariantJsonSynth, shared verbatim) with DuckDB's native JSON
    // functions and CASE-builds the observed-schema label from the
    // same mod arithmetic — pinning Spark's schema_of_variant render
    // (alphabetical fields, BIGINT ints, VOID null) as contract.
    QueryDef("q259_variant_shred", Relational.variantShred(_, _),
      s"""WITH j AS (SELECT event_id, user_id, event_type,
         |    ${graft.operators.Relational.VariantJsonSynth} AS js
         |  FROM events),
         |f AS (SELECT js,
         |    event_id % 7 = 0 AS no_value,
         |    event_id % 5 = 0 AS code_str,
         |    event_id % 3 = 0 AS has_tags,
         |    event_id % 4 = 0 AS has_note
         |  FROM j),
         |s AS (SELECT js, concat('OBJECT<code: ',
         |    CASE WHEN code_str THEN 'STRING' ELSE 'BIGINT' END,
         |    ', id: BIGINT',
         |    CASE WHEN has_note THEN ', note: VOID' ELSE '' END,
         |    CASE WHEN has_tags THEN ', tags: ARRAY<STRING>' ELSE '' END,
         |    ', user: OBJECT<tier: STRING, uid: BIGINT>',
         |    CASE WHEN no_value THEN '' ELSE ', value: BIGINT' END,
         |    '>') AS schema
         |  FROM f)
         |SELECT schema, count(*) AS n,
         |  CAST(sum(CAST(json_extract(js, '$$.user.uid') AS BIGINT))
         |    AS BIGINT) AS sum_uid,
         |  count(CAST(json_extract(js, '$$.value') AS BIGINT)) AS n_value,
         |  CAST(sum(CAST(json_extract(js, '$$.value') AS BIGINT))
         |    AS BIGINT) AS sum_value,
         |  count(CASE WHEN json_extract_string(js, '$$.code') LIKE 'c%'
         |    THEN 1 END) AS n_code_str,
         |  count(json_extract_string(js, '$$.tags[1]')) AS n_tag2,
         |  count(CASE WHEN json_type(js, '$$.note') = 'NULL'
         |    THEN 1 END) AS n_note_null,
         |  min(json_extract_string(js, '$$.tags[0]')) AS first_tag
         |FROM s GROUP BY schema ORDER BY schema""".stripMargin),

    // q261: the shredded-write identity gate — the oracle replays the
    // schema census from the SAME synthesized bytes (the q259 CASE-
    // built label) and pins every read-back match count at the group
    // size: the files-on-disk identity is Spark-side physics the
    // oracle states as n.
    QueryDef("q261_variant_shred_write", Relational.variantShredWrite(_, _),
      s"""WITH j AS (SELECT event_id, user_id, event_type,
         |    ${graft.operators.Relational.VariantJsonSynth} AS js
         |  FROM events),
         |f AS (SELECT js,
         |    event_id % 7 = 0 AS no_value,
         |    event_id % 5 = 0 AS code_str,
         |    event_id % 3 = 0 AS has_tags,
         |    event_id % 4 = 0 AS has_note
         |  FROM j),
         |s AS (SELECT js, concat('OBJECT<code: ',
         |    CASE WHEN code_str THEN 'STRING' ELSE 'BIGINT' END,
         |    ', id: BIGINT',
         |    CASE WHEN has_note THEN ', note: VOID' ELSE '' END,
         |    CASE WHEN has_tags THEN ', tags: ARRAY<STRING>' ELSE '' END,
         |    ', user: OBJECT<tier: STRING, uid: BIGINT>',
         |    CASE WHEN no_value THEN '' ELSE ', value: BIGINT' END,
         |    '>') AS schema
         |  FROM f)
         |SELECT schema, count(*) AS n,
         |  CAST(sum(CAST(json_extract(js, '$$.user.uid') AS BIGINT))
         |    AS BIGINT) AS sum_uid_stored,
         |  CAST(sum(CAST(json_extract(js, '$$.user.uid') AS BIGINT))
         |    AS BIGINT) AS sum_uid_reparsed,
         |  count(*) AS n_match_uid,
         |  count(*) AS n_match_value,
         |  count(*) AS n_match_code,
         |  count(*) AS n_match_tag2,
         |  count(*) AS n_match_note,
         |  count(*) AS n_match_schema
         |FROM s GROUP BY schema ORDER BY schema""".stripMargin),

    // q263: native shredding parity — the oracle replays ONE census
    // from the shared synthesis; both layout legs' columns pin to the
    // same values (shredded-read ≡ binary-read is Spark-side physics
    // the oracle states once per column pair).
    QueryDef("q263_variant_native_shred", Relational.variantNativeShred(_, _),
      s"""WITH j AS (SELECT event_id, user_id, event_type,
         |    ${graft.operators.Relational.VariantJsonSynth} AS js
         |  FROM events),
         |f AS (SELECT js,
         |    event_id % 7 = 0 AS no_value,
         |    event_id % 5 = 0 AS code_str,
         |    event_id % 3 = 0 AS has_tags,
         |    event_id % 4 = 0 AS has_note
         |  FROM j),
         |s AS (SELECT js, concat('OBJECT<code: ',
         |    CASE WHEN code_str THEN 'STRING' ELSE 'BIGINT' END,
         |    ', id: BIGINT',
         |    CASE WHEN has_note THEN ', note: VOID' ELSE '' END,
         |    CASE WHEN has_tags THEN ', tags: ARRAY<STRING>' ELSE '' END,
         |    ', user: OBJECT<tier: STRING, uid: BIGINT>',
         |    CASE WHEN no_value THEN '' ELSE ', value: BIGINT' END,
         |    '>') AS schema
         |  FROM f),
         |a AS (SELECT schema, count(*) AS n,
         |    CAST(sum(CAST(json_extract(js, '$$.user.uid') AS BIGINT))
         |      AS BIGINT) AS sum_uid,
         |    count(CAST(json_extract(js, '$$.value') AS BIGINT))
         |      AS n_value,
         |    CAST(sum(CAST(json_extract(js, '$$.value') AS BIGINT))
         |      AS BIGINT) AS sum_value,
         |    count(CASE WHEN json_extract_string(js, '$$.code')
         |      LIKE 'c%' THEN 1 END) AS n_code_str,
         |    count(json_extract_string(js, '$$.tags[1]')) AS n_tag2,
         |    count(CASE WHEN json_type(js, '$$.note') = 'NULL'
         |      THEN 1 END) AS n_note_null
         |  FROM s GROUP BY schema)
         |SELECT schema,
         |  n AS n_sh, n AS n_pl,
         |  sum_uid AS sum_uid_sh, sum_uid AS sum_uid_pl,
         |  n_value AS n_value_sh, n_value AS n_value_pl,
         |  sum_value AS sum_value_sh, sum_value AS sum_value_pl,
         |  n_code_str AS n_code_str_sh, n_code_str AS n_code_str_pl,
         |  n_tag2 AS n_tag2_sh, n_tag2 AS n_tag2_pl,
         |  n_note_null AS n_note_null_sh, n_note_null AS n_note_null_pl
         |FROM a ORDER BY schema""".stripMargin),

    // q264: the oracle re-derives the four SQL-function BODIES inline
    // (independent encodings of the same definitions — Spark resolves
    // them through CREATE FUNCTION + catalog lookup + inlining, DuckDB
    // evaluates the raw expressions).
    QueryDef("q264_sql_udf", Relational.sqlUdfReport(_, _),
      """WITH so AS (SELECT o.o_orderpriority AS prio,
        |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
        |    CAST(round(o.o_totalprice * 100) AS BIGINT) *
        |      (CASE substring(o.o_orderpriority, 1, 1) WHEN '1' THEN 5
        |        WHEN '2' THEN 4 WHEN '3' THEN 3 WHEN '4' THEN 2
        |        ELSE 1 END) AS wcents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_mktsegment = 'BUILDING')
        |SELECT prio,
        |  CASE substring(prio, 1, 1) WHEN '1' THEN 5 WHEN '2' THEN 4
        |    WHEN '3' THEN 3 WHEN '4' THEN 2 ELSE 1 END AS w,
        |  count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(sum(wcents) AS BIGINT) AS sum_wcents
        |FROM so GROUP BY prio ORDER BY prio""".stripMargin),

    // q265: the oracle INLINES the variable values ('AUTOMOBILE', the
    // orders table name) and replays the data-derived threshold as a
    // scalar subquery — q126's proof pattern for bound parameters.
    QueryDef("q265_exec_immediate", Relational.execImmediateReport(_, _),
      """WITH m AS (SELECT count(*) // 50 AS minn
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_mktsegment = 'AUTOMOBILE')
        |SELECT c.c_nationkey AS nk, count(*) AS n,
        |  CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
        |    AS BIGINT) AS cents
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'AUTOMOBILE'
        |GROUP BY c.c_nationkey
        |HAVING count(*) >= (SELECT minn FROM m)
        |ORDER BY nk""".stripMargin),

    // q266: DuckDB has no XML parser, so the oracle replays the drift
    // axes arithmetically from the same source columns (the q262
    // pattern) — every from_xml- and xpath-derived aggregate must
    // land on the mod-arithmetic ground truth.
    QueryDef("q266_xml_census", Relational.xmlCensus(_, _),
      """WITH b AS (SELECT event_id, user_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    (event_id % 7 <> 0) AS has_v,
        |    (event_id % 3 = 0) AS has_t
        |  FROM events)
        |SELECT event_type AS tier,
        |  concat(CASE WHEN has_v THEN 'v1' ELSE 'v0' END,
        |    CASE WHEN has_t THEN '-t1' ELSE '-t0' END) AS shape,
        |  count(*) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS sum_id,
        |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
        |  count(CASE WHEN has_v THEN 1 END) AS n_value,
        |  CAST(sum(CASE WHEN has_v THEN cents END) AS BIGINT)
        |    AS sum_value,
        |  count(CASE WHEN has_t THEN 1 END) AS n_tag2,
        |  min(CASE WHEN has_t THEN event_type END) AS first_tag,
        |  CAST(sum(user_id) AS BIGINT) AS sum_uid_xp,
        |  count(CASE WHEN has_v THEN 1 END) AS n_value_xp,
        |  count(CASE WHEN has_t THEN 1 END) AS n_tag2_xp,
        |  count(*) AS n_tier_agree
        |FROM b GROUP BY tier, shape ORDER BY tier, shape""".stripMargin),

    // q267: each try_* outcome re-encoded independently — DuckDB
    // TRY_CAST, /nullif for ÷0, HUGEINT-compare overflow guards,
    // native out-of-range list indexing; the to_number round-trip
    // replays the cents it rendered. Nullable BIGINTs surface as
    // float64 through pandas on BOTH sides, so 9.2e18 stringifies
    // identically.
    QueryDef("q267_try_arithmetic", Relational.tryArithmetic(_, _),
      """WITH b AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |f AS (SELECT k, cents,
        |    CASE WHEN k % 3 = 0 THEN 'x' || CAST(k AS VARCHAR)
        |      ELSE CAST(k AS VARCHAR) END AS s,
        |    CAST(9223372036854775800 + k % 8 AS BIGINT) AS big,
        |    [k, k + 1, k + 2] AS arr
        |  FROM b)
        |SELECT k,
        |  TRY_CAST(s AS BIGINT) AS safe_int,
        |  round(k / nullif(k % 5, 0), 6) AS safe_div,
        |  CAST(CASE WHEN CAST(big AS HUGEINT) + (k % 2 * 10) >
        |      9223372036854775807 THEN NULL
        |    ELSE CAST(big AS HUGEINT) + (k % 2 * 10) END AS BIGINT)
        |    AS safe_add,
        |  CAST(CASE WHEN CAST(big AS HUGEINT) * (k % 2 + 1) >
        |      9223372036854775807 THEN NULL
        |    ELSE CAST(big AS HUGEINT) * (k % 2 + 1) END AS BIGINT)
        |    AS safe_mul,
        |  arr[CAST(1 + k % 5 AS BIGINT)] AS safe_elem,
        |  cents AS cents_back,
        |  CAST(NULL AS DECIMAL(3,0)) AS bad_number
        |FROM f ORDER BY k""".stripMargin),

    // q252: the composed IVM gate. DuckDB recomputes ALL THREE
    // document-side artifacts from scratch over its own snapshot-B
    // derivation (survivor election, per-term distinct-doc DF, the
    // full band rebuild through the shared q28 CTEs), renders each
    // row canonically and folds it into the same 60-bit bit_xor
    // fingerprint the engine computes over its DELTA-MAINTAINED
    // artifacts — maintenance ≡ recompute for the whole family, plus
    // a fingerprint of the shared change feed itself.
    QueryDef("q252_cdc_maintain_all", Relational.cdcMaintainAll _,
      s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
         |$snapbDocsCte,
         |sfp AS (SELECT doc_id, md5(text) AS fp FROM snapb),
         |sv AS (SELECT fp, min(doc_id) AS sid FROM sfp GROUP BY fp),
         |tokd2 AS (SELECT doc_id,
         |    unnest(list_distinct(regexp_extract_all(text, '\\S+')))
         |      AS token
         |  FROM snapb),
         |dft AS (SELECT token, CAST(count(*) AS BIGINT) AS df
         |  FROM tokd2 GROUP BY token),
         |${bandsCteOver("snapb")},
         |feed AS (
         |  SELECT 'D:' || CAST(doc_id AS VARCHAR) AS r
         |  FROM documents WHERE doc_id % 11 = 0
         |  UNION ALL
         |  SELECT 'U:' || CAST(doc_id AS VARCHAR)
         |  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 11 <> 0
         |  UNION ALL
         |  SELECT 'I:' || CAST(doc_id + (SELECT m FROM mx) + 1 AS VARCHAR)
         |  FROM documents WHERE doc_id % 13 = 0)
         |SELECT * FROM (
         |  SELECT 'band_index' AS artifact,
         |    CAST(count(*) AS BIGINT) AS n_rows,
         |    bit_xor(CAST(concat('0x', substring(md5(
         |      CAST(doc_id AS VARCHAR) || ':' || CAST(band AS VARCHAR)
         |        || ':' || bkey), 1, 15)) AS BIGINT)) AS content_fp
         |  FROM bk0
         |  UNION ALL
         |  SELECT 'cdc_delta', CAST(count(*) AS BIGINT),
         |    bit_xor(CAST(concat('0x', substring(md5(r), 1, 15))
         |      AS BIGINT))
         |  FROM feed
         |  UNION ALL
         |  SELECT 'df_table', CAST(count(*) AS BIGINT),
         |    bit_xor(CAST(concat('0x', substring(md5(
         |      token || ':' || CAST(df AS VARCHAR)), 1, 15)) AS BIGINT))
         |  FROM dft
         |  UNION ALL
         |  SELECT 'survivors', CAST(count(*) AS BIGINT),
         |    bit_xor(CAST(concat('0x', substring(md5(
         |      fp || ':' || CAST(sid AS VARCHAR)), 1, 15)) AS BIGINT))
         |  FROM sv)
         |ORDER BY artifact""".stripMargin)
  )
}
