package graft
package queries

import org.apache.spark.sql.SparkSession


/** Delegated SQL statements: each runs through [[Flaco.sql]] and
  * Catalyst plans it, as PostgreSQL would in the reference. Most of them
  * are one SQL text with two planners: the same string is the DuckDB
  * oracle.
  */
object SqlQueries {

  /** One SQL text, two planners (the q51 pattern): the three-valued
    * IN / NOT IN / EXISTS subquery semantics — the classic NULL trap
    * the reference's SQL delegation inherits from PostgreSQL. The
    * nulled branches null out every 50th custkey AND append one
    * unconditional NULL row (at small SFs no January custkey is
    * divisible by 50, and a nulled branch that happens to inject
    * nothing would silently test ordinary NOT IN), so `not_in_nulls`
    * counts 0 at every scale — one NULL in the list poisons the whole
    * NOT IN — while `in_nulls` silently loses only the nulled
    * matches. Catalyst plans the NOT IN branches as null-aware anti
    * joins (broadcast-built — the reason EXISTS, a plain shuffled
    * anti join, is the formulation that scales; this gate pins that
    * both agree with DuckDB anyway).
    */
  private val nullSemanticsSql: String = {
    val jan =
      """FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |      AND o_orderdate < TIMESTAMP '1996-02-01 00:00:00'""".stripMargin
    s"""SELECT tag, cnt FROM (
       |  SELECT 'in' AS tag, count(*) AS cnt FROM customer
       |   WHERE c_custkey IN (SELECT o_custkey $jan)
       |  UNION ALL
       |  SELECT 'in_nulls' AS tag, count(*) AS cnt FROM customer
       |   WHERE c_custkey IN (SELECT CASE WHEN o_custkey % 50 = 0 THEN NULL
       |                                   ELSE o_custkey END $jan
       |                       UNION ALL SELECT CAST(NULL AS BIGINT))
       |  UNION ALL
       |  SELECT 'not_in' AS tag, count(*) AS cnt FROM customer
       |   WHERE c_custkey NOT IN (SELECT o_custkey $jan)
       |  UNION ALL
       |  SELECT 'not_in_nulls' AS tag, count(*) AS cnt FROM customer
       |   WHERE c_custkey NOT IN (SELECT CASE WHEN o_custkey % 50 = 0 THEN NULL
       |                                       ELSE o_custkey END $jan
       |                           UNION ALL SELECT CAST(NULL AS BIGINT))
       |  UNION ALL
       |  SELECT 'exists' AS tag, count(*) AS cnt FROM customer
       |   WHERE EXISTS (SELECT 1 $jan AND o_custkey = c_custkey)
       |  UNION ALL
       |  SELECT 'not_exists' AS tag, count(*) AS cnt FROM customer
       |   WHERE NOT EXISTS (SELECT 1 $jan AND o_custkey = c_custkey)
       |) t ORDER BY tag""".stripMargin
  }

  /** One SQL text, two planners (the q51/q68 pattern): SQL-standard
    * `percentile_disc … WITHIN GROUP` (discrete quantiles — actual
    * elements, so exact over integer cents) plus a DETERMINISTIC
    * mode: rank (count desc, value asc) = 1 — Spark's and DuckDB's
    * native `mode()` both break frequency ties arbitrarily, which is
    * not gateable; the rank formulation pins the smallest
    * most-frequent value on both engines.
    */
  private val discModeSql: String =
    """WITH b AS (SELECT event_type,
      |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
      |c AS (SELECT event_type, x, count(*) AS cnt FROM b
      |  GROUP BY event_type, x),
      |m AS (SELECT event_type, x AS mode_x FROM (
      |  SELECT event_type, x,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY cnt DESC, x) AS rn FROM c) r WHERE rn = 1),
      |p AS (SELECT event_type,
      |    CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY x)
      |      AS BIGINT) AS p25,
      |    CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY x)
      |      AS BIGINT) AS p50,
      |    CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY x)
      |      AS BIGINT) AS p75,
      |    count(*) AS n
      |  FROM b GROUP BY event_type)
      |SELECT p.event_type, p25, p50, p75, n, mode_x
      |FROM p JOIN m ON p.event_type = m.event_type
      |ORDER BY p.event_type""".stripMargin

  /** One SQL text, two planners: PG's `FILTER (WHERE …)` aggregate
    * modifier — conditional aggregation without CASE arithmetic.
    * Money in exact integer cents.
    */
  private val filterAggSql: String =
    """SELECT o_orderstatus,
      |  count(*) AS n,
      |  count(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
      |    FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT)
      |    AS urgent_cents,
      |  count(*) FILTER (WHERE o_orderdate >=
      |    TIMESTAMP '1998-01-01 00:00:00') AS n_recent
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** One SQL text, two planners: explicit `NULLS FIRST / NULLS LAST`
    * in both a sort and a window frame order. The explicitness is
    * the point — the engines' DEFAULTS differ (Spark: nulls first
    * under ASC; DuckDB/PG: nulls last), so any unspelled null
    * ordering in a gated query is a latent cross-engine mismatch.
    * The nullable key is injected deterministically (every 7th
    * customer), the (key, c_custkey) order is total, and rows
    * carry first/last flags per nation so the placement of the null
    * block is value-visible, not just order-visible.
    */
  private val nullsOrderSql: String =
    """WITH b AS (SELECT c_custkey, c_nationkey,
      |    CASE WHEN c_custkey % 7 = 0 THEN NULL
      |      ELSE c_custkey % 100 END AS k
      |  FROM customer)
      |SELECT c_nationkey, c_custkey, k,
      |  CAST(row_number() OVER (PARTITION BY c_nationkey
      |    ORDER BY k ASC NULLS LAST, c_custkey) AS BIGINT) AS rn_last,
      |  CAST(row_number() OVER (PARTITION BY c_nationkey
      |    ORDER BY k DESC NULLS FIRST, c_custkey) AS BIGINT) AS rn_first
      |FROM b ORDER BY c_nationkey, c_custkey""".stripMargin

  /** One SQL text, two planners: the GROUPING()/GROUPING_ID()
    * metadata functions over a ROLLUP — the standard way to tell a
    * data NULL from a super-aggregate row (q13/q36 gate the rollup
    * shapes; this gates the disambiguation surface). Explicit NULLS
    * LAST everywhere (the q105 lesson: the engines' default null
    * order differs).
    */
  private val groupingMetaSql: String =
    """WITH b AS (SELECT c_mktsegment AS seg, c_nationkey AS nk,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer)
      |SELECT seg, nk,
      |  CAST(grouping(seg) AS BIGINT) AS g_seg,
      |  CAST(grouping(nk) AS BIGINT) AS g_nk,
      |  CAST(grouping_id(seg, nk) AS BIGINT) AS gid,
      |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM b GROUP BY ROLLUP(seg, nk)
      |ORDER BY gid, seg NULLS LAST, nk NULLS LAST""".stripMargin

  /** One SQL text, two planners: the correlated-scalar-subquery gate
    * runs this exact string through `Flaco.sql` (Catalyst) and
    * verbatim as its own oracle (DuckDB) — the purest form of the
    * reference's "arbitrary SQL, the backend plans it" delegation
    * contract. Money is compared in exact integer cents (doubles
    * summed in engine-dependent order could flip a boundary `>`).
    */
  private val correlatedSql: String =
    """SELECT o_orderkey, o_totalprice FROM orders o
      |WHERE CAST(round(o_totalprice * 100) AS BIGINT) >
      |  (SELECT 2.0 * sum(CAST(round(i.o_totalprice * 100) AS BIGINT)) / count(*)
      |   FROM orders i WHERE i.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  /** One SQL text, two planners: the null-safe comparison and
    * conditional-scalar surface — `IS [NOT] DISTINCT FROM` (the PG
    * null-safe equality; Spark's `<=>` is its operator spelling),
    * NULLIF / COALESCE chains, GREATEST/LEAST (both engines ignore
    * NULLs and return NULL only when every argument is NULL — the
    * PG contract), ILIKE, and TRY_CAST (PG's error-on-bad-cast
    * becomes typed-NULL on both engines here). The %7/%3 null
    * injections overlap at multiples of 21, so the full 3VL matrix
    * (null-null, null-value, value-value) is exercised on every run.
    */
  private val nullSafeSql: String =
    """WITH b AS (SELECT c_custkey,
      |    CASE WHEN c_custkey % 7 = 0 THEN NULL
      |      ELSE c_custkey % 100 END AS a,
      |    CASE WHEN c_custkey % 3 = 0 THEN NULL
      |      ELSE c_custkey % 50 END AS bb,
      |    c_name FROM customer)
      |SELECT c_custkey, a, bb,
      |  CAST(a IS DISTINCT FROM bb AS BIGINT) AS isd,
      |  CAST(a IS NOT DISTINCT FROM bb AS BIGINT) AS isnd,
      |  NULLIF(a, bb) AS nullif_ab,
      |  COALESCE(a, bb, -1) AS coal,
      |  GREATEST(a, bb) AS gr,
      |  LEAST(a, bb) AS ls,
      |  CAST(c_name ILIKE '%customer%' AS BIGINT) AS ilike_hit,
      |  TRY_CAST(c_name AS BIGINT) AS try_bad
      |FROM b ORDER BY c_custkey""".stripMargin

  /** One SQL text, two planners: the PG boolean-aggregate surface —
    * bool_and / bool_or (PG's names; Spark aliases every/any) and
    * count_if, grouped and bare.
    */
  private val boolAggSql: String =
    """SELECT o_orderstatus,
      |  CAST(bool_and(o_totalprice > 1000) AS BIGINT) AS all_over_1k,
      |  CAST(bool_or(o_totalprice > 400000) AS BIGINT) AS any_over_400k,
      |  CAST(count_if(o_totalprice > 150000) AS BIGINT) AS n_big,
      |  count(*) AS n
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** One SQL text, two planners: PG's bitwise AGGREGATES — bit_and /
    * bit_or / bit_xor over grouped keys ([[Relational.bitBattery]]'s
    * q98 covers the scalar operators; this covers the aggregate
    * forms, which reduce with one map-side-combinable pass). The
    * names and BIGINT-in/BIGINT-out types agree across Spark and
    * DuckDB, so one text runs on both planners. XOR over the
    * odd-count l_linenumber groups makes the fold order-insensitive
    * but content-sensitive (any dropped/duplicated row flips bits).
    */
  private val bitAggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  bit_and(l_orderkey) AS k_and,
      |  bit_or(l_orderkey) AS k_or,
      |  bit_xor(l_orderkey * 31 + l_linenumber) AS k_xor,
      |  count(*) AS n
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** One SQL text, two planners: the SQL-standard ordered-set
    * spelling `percentile_cont(f) WITHIN GROUP (ORDER BY …)` — q41
    * gates the same interpolation semantics under each engine's
    * native spelling (Spark `percentile`, DuckDB `quantile_cont`);
    * this gates PG's standard syntax itself through both parsers.
    * Integer-cent inputs, but the interpolated double is ROUNDED at
    * 6 decimals (the q41 pattern): p25/p50 land on dyadic fractions
    * (denominator ≤ 4) where doubles are exact, but p90's rank
    * fraction is k/10 and the engines' interpolation forms differ —
    * Spark computes lo + (hi−lo)·f, PG/DuckDB lo·(1−f) + hi·f —
    * which diverge in the last ulp on non-dyadic f. The true value
    * is a multiple of 0.1 cents, so rounding at 1e-6 absorbs ulp
    * noise with six orders of margin and zero semantic slack.
    */
  private val percentileContSql: String =
    """WITH b AS (SELECT event_type,
      |    CAST(round(value * 100) AS BIGINT) AS x FROM events)
      |SELECT event_type,
      |  round(percentile_cont(0.25) WITHIN GROUP (ORDER BY x), 6) AS p25,
      |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY x), 6) AS p50,
      |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY x), 6) AS p90,
      |  count(*) AS n
      |FROM b GROUP BY event_type ORDER BY event_type""".stripMargin

  /** One SQL text, two planners: the SQL-standard named `WINDOW`
    * clause — one window definition shared by a frame aggregate, a
    * rank and an offset function (PG surface the reference's opaque
    * SQL rides through verbatim). ORDER BY (o_orderdate, o_orderkey)
    * is total, so both engines' default RANGE UNBOUNDED
    * PRECEDING..CURRENT ROW frame degenerates to ROWS and every
    * output is deterministic; window sums CAST to BIGINT because
    * DuckDB widens them to HUGEINT.
    */
  private val namedWindowSql: String =
    """SELECT o_orderkey, o_custkey,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w
      |    AS BIGINT) AS run_cents,
      |  CAST(rank() OVER w AS BIGINT) AS rk,
      |  lag(o_orderkey, 1) OVER w AS prev_key
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey
      |  ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  /** One SQL text, two planners: `LIMIT k OFFSET m` pagination over
    * a total order — PG surface Spark gained in 3.4. The order
    * (o_totalprice DESC, o_orderkey) is total, so the skipped prefix
    * and kept page are deterministic on both engines. Scale shape:
    * Spark plans a global top-(k+m) CollectLimit with a skip — fine
    * for page-sized k+m, and the documented anti-pattern for deep
    * pagination (use a keyset predicate instead).
    */
  private val limitOffsetSql: String =
    """SELECT o_orderkey,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 20 OFFSET 30""".stripMargin

  /** Shared q120 CTE prologue: customer balances and order totals in
    * integer cents with DETERMINISTIC null injection on both sides
    * (every 50th custkey's balance, every 7th orderkey's total), so
    * all five 3VL branches of the quantified comparisons fire at any
    * SF: empty subquery, NULL probe, definite counterexample,
    * NULL-poisoned verdict, definite pass.
    */
  private val quantifiedCte: String =
    """c AS (SELECT c_custkey,
      |    CASE WHEN c_custkey % 50 = 0 THEN NULL
      |      ELSE CAST(round(c_acctbal * 100) AS BIGINT) END AS bal
      |  FROM customer),
      |o AS (SELECT o_custkey,
      |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |      ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS v
      |  FROM orders)""".stripMargin

  /** Quantified comparison subqueries (`> ALL`, `< ANY`) — PG
    * delegated surface Spark's parser lacks entirely, so the engine
    * side EMULATES the full three-valued semantics from per-group
    * aggregates (count / non-null count / non-null max) + CASE:
    *
    *   x > ALL(S): TRUE on empty S (even for NULL x); else NULL for
    *     NULL x; else FALSE iff a non-null counterexample exists
    *     (x ≤ max); else NULL iff S contains a NULL; else TRUE.
    *   x < ANY(S): FALSE on empty S; else NULL for NULL x; else TRUE
    *     iff a non-null witness exists (x < max); else NULL iff S
    *     contains a NULL; else FALSE.
    *
    * The oracle runs DuckDB's NATIVE correlated `> ALL` / `< ANY` —
    * independent encodings; the null injections make every branch
    * value-visible. Scale shape: one map-side-combinable aggregate
    * on o_custkey + one co-partitioned equi-join — the decorrelation
    * PG's planner performs, written out explicitly.
    */
  private val quantifiedSparkSql: String =
    s"""WITH $quantifiedCte,
       |a AS (SELECT o_custkey, count(*) AS cnt, count(v) AS cnt_nn,
       |    max(v) AS maxnn
       |  FROM o GROUP BY o_custkey)
       |SELECT c.c_custkey, c.bal,
       |  CASE WHEN coalesce(a.cnt, 0) = 0 THEN CAST(1 AS BIGINT)
       |       WHEN c.bal IS NULL THEN CAST(NULL AS BIGINT)
       |       WHEN c.bal <= a.maxnn THEN CAST(0 AS BIGINT)
       |       WHEN a.cnt > a.cnt_nn THEN CAST(NULL AS BIGINT)
       |       ELSE CAST(1 AS BIGINT) END AS gt_all,
       |  CASE WHEN coalesce(a.cnt, 0) = 0 THEN CAST(0 AS BIGINT)
       |       WHEN c.bal IS NULL THEN CAST(NULL AS BIGINT)
       |       WHEN c.bal < a.maxnn THEN CAST(1 AS BIGINT)
       |       WHEN a.cnt > a.cnt_nn THEN CAST(NULL AS BIGINT)
       |       ELSE CAST(0 AS BIGINT) END AS lt_any
       |FROM c LEFT JOIN a ON a.o_custkey = c.c_custkey
       |ORDER BY c.c_custkey""".stripMargin

  /** PG's linear-regression aggregate family (q123): regr_count /
    * regr_avgx / regr_avgy / regr_slope / regr_intercept / regr_r2
    * over x = l_quantity (integral 1..50), y = exact integer cents.
    * The engine runs Spark's NATIVE streaming moment aggregates
    * (single-pass, mergeable, map-side-combinable — the shape that
    * survives 100 TB); the ORACLE recomputes every statistic from
    * first-principles EXACT integer sums (Σx, Σy, Σxy, Σx², Σy² in
    * DuckDB HUGEINT, cast to DOUBLE only at the final ratio) —
    * independent encodings, and the gate proves the streaming states
    * agree with the closed form. Rounding: avgx/avgy are ratios of
    * exact integers (bit-identical across engines; 6 dp), slope and
    * intercept carry ~1e-11 relative error from the differing
    * summation orders against a ~1e5-cent magnitude (2 dp = 5e-3
    * window, four orders of margin), r2 ∈ [0,1] with ~1e-12 error
    * (6 dp).
    */
  private val regrSparkSql: String =
    """WITH b AS (SELECT l_returnflag AS flag,
      |    CAST(l_quantity AS DOUBLE) AS x,
      |    CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DOUBLE)
      |      AS y
      |  FROM lineitem)
      |SELECT flag,
      |  CAST(regr_count(y, x) AS BIGINT) AS n_pairs,
      |  round(regr_avgx(y, x), 6) AS avgx,
      |  round(regr_avgy(y, x), 6) AS avgy,
      |  round(regr_slope(y, x), 2) AS slope,
      |  round(regr_intercept(y, x), 2) AS icept,
      |  round(regr_r2(y, x), 6) AS r2
      |FROM b GROUP BY flag ORDER BY flag""".stripMargin

  /** Calendar-spine zero-fill (q124): PG's `generate_series` +
    * inline `VALUES` table surface, and the classic gap-free
    * reporting join every pipeline needs — a generated date spine
    * LEFT JOINed to per-day order aggregates with `coalesce` 0-fill,
    * enriched from a constant VALUES dimension. The engine spells
    * series generation `explode(sequence(date, date))` and the
    * inline table Spark's `FROM VALUES … AS t(…)`; the oracle uses
    * DuckDB's `generate_series` TABLE FUNCTION and parenthesized
    * `(VALUES …) t(…)` — independent encodings of both surfaces.
    * Scale shape: the spine is O(days) (broadcast side), the
    * aggregate is map-side-combinable on the fact table, and the
    * zero-fill join is broadcast — no shuffle of the spine.
    */
  private val calendarSpineSparkSql: String =
    """WITH spine AS (
      |  SELECT explode(sequence(DATE '1995-01-01', DATE '1995-06-30'))
      |    AS d),
      |daily AS (
      |  SELECT o_orderdate AS d, count(*) AS n_orders,
      |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      |  FROM orders GROUP BY o_orderdate),
      |w AS (SELECT * FROM VALUES (1, 10), (2, 25) AS t(q, weight))
      |SELECT s.d, CAST(quarter(s.d) AS BIGINT) AS qtr,
      |  coalesce(dl.n_orders, 0) AS n_orders,
      |  coalesce(dl.cents, 0) AS cents,
      |  CAST(coalesce(dl.n_orders, 0) * w.weight AS BIGINT) AS weighted
      |FROM spine s
      |JOIN w ON w.q = quarter(s.d)
      |LEFT JOIN daily dl ON dl.d = s.d
      |ORDER BY s.d""".stripMargin

  /** SQL-standard string syntax (q134): the spellings PG clients
    * write — `SUBSTRING(x FROM n FOR m)`, `TRIM(LEADING/TRAILING/
    * BOTH set FROM x)` (set semantics: every char in the set trims),
    * `POSITION(y IN x)`, `LIKE … ESCAPE`, and `OVERLAY(x PLACING y
    * FROM n [FOR l])`. All but OVERLAY run as ONE text through both
    * parsers; this DuckDB lacks OVERLAY, so the oracle EMULATES those
    * two columns from substr‖concat — independent encodings of the
    * standard's definition (result = prefix ‖ placing ‖ suffix with
    * the FOR-length gap). The ESCAPE predicate is made
    * row-discriminating by a parity-dependent suffix containing a
    * literal underscore.
    */
  private val stdStringsSql: String =
    """SELECT c_custkey,
      |  substring(c_name FROM 3 FOR 8) AS sub,
      |  TRIM(LEADING 'C' FROM c_name) AS ltrim_c,
      |  TRIM(TRAILING '01' FROM c_name) AS rtrim_01,
      |  TRIM(BOTH ' ' FROM concat(' ', c_name, ' ')) AS btrim_sp,
      |  CAST(POSITION('#' IN c_name) AS BIGINT) AS pos_hash,
      |  OVERLAY(c_name PLACING '***' FROM 10) AS ovl,
      |  OVERLAY(c_name PLACING '**' FROM 4 FOR 6) AS ovl_for,
      |  CAST(concat(c_name,
      |      CASE WHEN c_custkey % 2 = 0 THEN '_x' ELSE 'yx' END)
      |    LIKE '%!_x' ESCAPE '!' AS BIGINT) AS like_esc
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** Range predicates (q131): the SQL-standard `OVERLAPS` and PG's
    * `BETWEEN SYMMETRIC`, both absent from Spark's parser (and from
    * this DuckDB), EMULATED from their definitions — OVERLAPS via
    * endpoint normalization (least/greatest on BOTH sides, the
    * standard's "earlier endpoint first" rule, exercised by a
    * parity-swapped probe range) + strict half-open intersection
    * s1 < e2 AND s2 < e1; BETWEEN SYMMETRIC via bound normalization
    * then plain BETWEEN, with a %13 null injection flowing 3VL
    * through to a nullable BIGINT. The oracle derives both from
    * DIFFERENT algebra: non-overlap negation NOT(e1 <= s2 OR
    * e2 <= s1) and explicit CASE bound-swapping — independent
    * encodings of the same definitions. Ranges are constructed
    * non-degenerate (length 30 days) so the half-open vs closed
    * edge-case dialects coincide and the gate pins the portable
    * core of the semantics.
    */
  private val rangePredicatesSql: String =
    """WITH b AS (SELECT o_orderkey,
      |    CAST(o_orderdate AS DATE) AS s1,
      |    date_add(CAST(o_orderdate AS DATE), 30) AS e1,
      |    CASE WHEN o_orderkey % 2 = 1 THEN DATE '1995-06-30'
      |         ELSE DATE '1995-04-01' END AS p1,
      |    CASE WHEN o_orderkey % 2 = 1 THEN DATE '1995-04-01'
      |         ELSE DATE '1995-06-30' END AS p2,
      |    CASE WHEN o_orderkey % 13 = 0 THEN CAST(NULL AS BIGINT)
      |         ELSE CAST(round(o_totalprice * 100) AS BIGINT)
      |         END AS cents,
      |    CASE WHEN o_orderkey % 3 = 0 THEN 20000000 ELSE 5000000
      |         END AS n1,
      |    CASE WHEN o_orderkey % 3 = 0 THEN 5000000 ELSE 20000000
      |         END AS n2
      |  FROM orders)
      |SELECT o_orderkey, cents,
      |  CAST(least(s1, e1) < greatest(p1, p2)
      |    AND least(p1, p2) < greatest(s1, e1) AS BIGINT) AS ovl,
      |  CAST(cents BETWEEN least(n1, n2) AND greatest(n1, n2)
      |    AS BIGINT) AS sym
      |FROM b ORDER BY o_orderkey""".stripMargin

  /** Named-parameter SQL (q126): Spark's `:param` marker binding via
    * `Flaco.sqlParams` — the prepared-statement surface every PG
    * client binds through. The text carries three parameter KINDS
    * (numeric predicate, date string cast, string equality); the
    * oracle is the same logical query with the constants INLINED, so
    * the gate proves binding is semantically identical to literal
    * substitution — including predicate pushdown (params reach the
    * scan as PushedFilters like any literal).
    */
  private val namedParamsSql: String =
    """SELECT o_orderkey, o_custkey,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |  c_mktsegment AS seg
      |FROM orders JOIN customer ON c_custkey = o_custkey
      |WHERE o_totalprice > :lo AND o_orderdate < CAST(:hi AS DATE)
      |  AND c_mktsegment = :seg
      |ORDER BY o_orderkey""".stripMargin

  /** SELECT-list EXISTS (q164) — the correlated existential as a
    * PROJECTED boolean rather than a WHERE predicate (q68's gate):
    * a different planner path entirely — the subquery must become a
    * left-semi/existence JOIN whose match flag SURVIVES as a column
    * (Spark plans an ExistenceJoin), not a filter. One SQL text,
    * two planners. Both flags are never-NULL booleans (cast BIGINT
    * for cross-engine hashing); `n_big` rides along to pin the
    * interaction with an unrelated scalar subquery in the same
    * projection. Customers without orders make both flags'
    * false/true branches live at every SF.
    */
  private[graft] val selectExistsSql: String =
    """SELECT c_custkey,
      |  CAST(EXISTS(SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey
      |      AND o.o_totalprice > 200000) AS BIGINT) AS has_big,
      |  CAST(NOT EXISTS(SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey) AS BIGINT) AS no_orders,
      |  (SELECT count(*) FROM orders o
      |    WHERE o.o_custkey = c.c_custkey
      |      AND o.o_totalprice > 200000) AS n_big
      |FROM customer c ORDER BY c_custkey""".stripMargin

  /** One SQL text, two planners (q183): a correlated SCALAR SUBQUERY
    * inside HAVING — the reporting idiom "groups above the
    * all-groups average" (PG planner: one extra uncorrelated
    * aggregate, then a post-aggregation filter; Catalyst plans the
    * same shape). Money flows as exact per-row cents BEFORE any sum
    * (the suite-wide discipline: double sums are
    * association-order-nondeterministic); the avg compare is stated
    * multiplicatively — sum·nsegs > total — so no division exists;
    * emitted sums are CAST BIGINT on both sides (the HUGEINT
    * lesson).
    */
  private val havingSubquerySql: String =
    """SELECT c_mktsegment AS seg,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS cents
      |FROM customer JOIN orders ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |HAVING sum(CAST(round(o_totalprice * 100) AS BIGINT))
      |    * (SELECT count(DISTINCT c_mktsegment) FROM customer)
      |  > (SELECT sum(CAST(round(o_totalprice * 100) AS BIGINT))
      |     FROM orders)
      |ORDER BY seg""".stripMargin

  /** One SQL text, two planners (q199): a WINDOW FUNCTION OVER AN
    * AGGREGATE — `sum(sum(cents)) OVER (PARTITION BY region)` — the
    * percent-of-parent reporting idiom and a syntactically special
    * surface (the window's argument is itself a post-GROUP-BY
    * aggregate; both planners must evaluate the aggregate first and
    * window over its RESULT rows). Exact integer cents throughout;
    * the share stays derivable (cents / region_cents) rather than
    * divided, because the engines' integer-division spellings (`div`
    * vs `//`) are not shareable in one text.
    */
  private val windowOverAggSql: String =
    """SELECT r_name, n_name,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS cents,
      |  CAST(sum(sum(CAST(round(o_totalprice * 100) AS BIGINT)))
      |    OVER (PARTITION BY r_name) AS BIGINT) AS region_cents,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(count(*)) OVER (PARTITION BY r_name) AS BIGINT)
      |    AS region_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** One SQL text, two planners (q128): the SQL-standard boolean
    * test predicates `IS [NOT] TRUE / FALSE / UNKNOWN` — the 3VL
    * surface PG WHERE clauses lean on. A %7 null injection keeps all
    * three truth values live in every run; every test output is a
    * total (never-NULL) BIGINT by definition, which is exactly the
    * property the gate proves (vs `= TRUE`, which propagates NULL).
    */
  private val boolTestSql: String =
    """WITH b AS (SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |         ELSE o_totalprice > 150000 END AS p
      |  FROM orders)
      |SELECT o_orderkey, CAST(p AS BIGINT) AS p,
      |  CAST(p IS TRUE AS BIGINT) AS is_t,
      |  CAST(p IS NOT TRUE AS BIGINT) AS not_t,
      |  CAST(p IS FALSE AS BIGINT) AS is_f,
      |  CAST(p IS NOT FALSE AS BIGINT) AS not_f,
      |  CAST(p IS UNKNOWN AS BIGINT) AS is_u,
      |  CAST(p IS NOT UNKNOWN AS BIGINT) AS not_u
      |FROM b ORDER BY o_orderkey""".stripMargin

  /** One SQL text, two planners (q129): `any_value` (PG 16 surface;
    * Spark 3.4+/DuckDB native). Deterministic ONLY when the value is
    * constant within its group — here c_mktsegment through the
    * customer equi-join, constant per o_custkey by construction —
    * which is also the documented usage contract: any_value is for
    * functionally-dependent columns, not arbitrary picks. Scale
    * shape: any_value carries one value per group through the
    * partial aggregate — the cheap way to keep dependent attributes
    * without widening the GROUP BY key.
    */
  private val anyValueSql: String =
    """SELECT o_custkey, any_value(c_mktsegment) AS seg,
      |  count(*) AS n
      |FROM orders JOIN customer ON c_custkey = o_custkey
      |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** One SQL text, two planners (q147): the SQL-standard `JOIN …
    * USING`, `NATURAL JOIN`, and `FULL JOIN … USING` surface —
    * PG-idiomatic join spellings q03-q07/q65 (ON-condition joins)
    * leave ungated. The semantics under test are structural: USING
    * merges the join column (it appears ONCE, unqualified), NATURAL
    * infers the key from the one shared column name, and a bare
    * `pri` after FULL JOIN USING must COALESCE the two sides — the
    * left-only and right-only rows make a wrong merge value-visible.
    * The TPC-H-ish corpus shares no column names across tables, so
    * CTEs rename keys to a common name first (which is also how PG
    * users actually reach USING). The synthetic right side of the
    * full join carries a key absent from orders ('9-SYNTH') and
    * omits three real priorities, so both null sides are populated
    * at every SF. All values exact integers.
    */
  private val joinUsingSql: String =
    """WITH c AS (SELECT c_custkey, c_nationkey AS nationkey,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
      |n AS (SELECT n_nationkey AS nationkey, n_name,
      |    n_regionkey AS regionkey FROM nation),
      |r AS (SELECT r_regionkey AS regionkey, r_name FROM region),
      |iu AS (SELECT r_name AS k, count(*) AS v1,
      |    CAST(sum(cents) AS BIGINT) AS v2
      |  FROM c JOIN n USING (nationkey) JOIN r USING (regionkey)
      |  GROUP BY r_name),
      |nj AS (SELECT n_name AS k, count(*) AS v1,
      |    CAST(sum(cents) AS BIGINT) AS v2
      |  FROM c NATURAL JOIN n GROUP BY n_name),
      |a AS (SELECT o_orderpriority AS pri, count(*) AS cnt FROM orders
      |  WHERE o_orderstatus = 'F' AND o_orderpriority < '4' GROUP BY o_orderpriority),
      |b AS (SELECT '1-URGENT' AS pri, CAST(10 AS BIGINT) AS cnt
      |  UNION ALL SELECT '9-SYNTH', CAST(5 AS BIGINT)),
      |fj AS (SELECT pri AS k, a.cnt AS v1, b.cnt AS v2
      |  FROM a FULL JOIN b USING (pri))
      |SELECT 'inner_using' AS section, k, v1, v2 FROM iu
      |UNION ALL SELECT 'natural' AS section, k, v1, v2 FROM nj
      |UNION ALL SELECT 'full_using' AS section, k, v1, v2 FROM fj
      |ORDER BY section, k""".stripMargin

  /** One SQL text, two planners (q148): `GROUP BY ALL` (DuckDB-
    * originated, adopted by Spark 3.4+ — the "group by every
    * non-aggregate select item" ergonomic PG users meet in every
    * modern warehouse dialect). The gate proves both planners infer
    * the SAME grouping key (segment × status): a planner that
    * groups differently changes every row. Exact integer cents; the
    * DISTINCT customer count rides along so the inferred key is
    * visible through a second aggregate kind.
    */
  private val groupByAllSql: String =
    """SELECT c_mktsegment, o_orderstatus, count(*) AS n,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS cents,
      |  count(DISTINCT o_custkey) AS n_cust
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY ALL
      |ORDER BY c_mktsegment, o_orderstatus""".stripMargin

  /** PG's `unnest … WITH ORDINALITY` surface: the engine spells it
    * `LATERAL VIEW posexplode` (0-based pos re-based to the 1-based
    * SQL ordinal), the oracle spells it `unnest +
    * generate_subscripts` — two independent encodings of
    * position-preserving table-function expansion. The ord ≤ 5
    * prefix keeps the gate row count bounded while still proving
    * positions (a wrong ordinal changes WHICH tokens survive, not
    * just a column value).
    */
  private val ordinalitySparkSql: String =
    """WITH t AS (SELECT doc_id,
      |    regexp_extract_all(text, '\\S+', 0) AS toks FROM documents)
      |SELECT doc_id, CAST(pos + 1 AS BIGINT) AS ord, tok
      |FROM t LATERAL VIEW posexplode(toks) p AS pos, tok
      |WHERE pos < 5 ORDER BY doc_id, ord""".stripMargin

  /** `WITH RECURSIVE` through Spark's own recursive-CTE execution
    * (4.0+): ancestor closure over the implicit binary-tree hierarchy
    * parent(k) = k div 2 on customer keys — a deterministic, genuinely
    * multi-iteration recursion (depth = ⌊log₂ max(key)⌋, so ~11 rounds
    * at sf0.01) whose row count n·O(log n) stays materializable at any
    * corpus size. The oracle is DuckDB's native WITH RECURSIVE over
    * the same closure (integer division spelled `//` there). Scale
    * disposition: bounded-depth recursion like this runs one
    * distributed job per level, and Spark's recursion is UNION
    * ALL-only (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), which DIVERGES
    * on cyclic graphs — unbounded closures (connected components)
    * must use q43's pointer-jumping operator instead: O(log n)
    * rounds, cycle-safe, dedup per round. RecursiveSqlSpec
    * cross-checks the two on the same pair graph.
    */
  private val recursiveSparkSql: String =
    """WITH RECURSIVE anc AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS node,
      |    CAST(c_custkey AS BIGINT) AS anc, CAST(0 AS BIGINT) AS depth
      |  FROM customer
      |  UNION ALL
      |  SELECT node, anc div 2 AS anc, depth + 1 AS depth
      |  FROM anc WHERE anc > 1
      |)
      |SELECT node, anc, depth FROM anc ORDER BY node, depth""".stripMargin

  /** PG 14 `SEARCH DEPTH FIRST BY … SET` / `SEARCH BREADTH FIRST`
    * ordering of a recursive CTE (q162) — PG's clauses are sugar for
    * an accumulated path column (depth-first) or a (depth, key) pair
    * (breadth-first) that the outer query ORDERs BY; neither Spark
    * nor this DuckDB parses the sugar, so BOTH engines are handed
    * the desugared form PG's own docs define — independent encodings
    * (Spark `concat(path, array(…))`/`array_join`, DuckDB
    * `list_append`/`array_to_string`, and each engine's own
    * lexicographic array ordering for the rank).
    *
    * The fixture walks customers as the binary tree rooted at 1
    * (children of k are 2k, 2k+1 — every custkey's halving chain
    * reaches 1, so the tree spans the table): a BRANCHING recursion,
    * where depth-first (1,2,4,8,…) and breadth-first (1,2,3,4,…)
    * orders genuinely diverge — on q108's per-node chains the two
    * collapse together and the clause would be untestable. Both
    * ranks ship, plus the path itself as a '/'-joined string (raw
    * array columns don't hash cross-engine — the q121 finding).
    *
    * Scale: recursion depth = log₂(max key); each level is one
    * co-partitioned join of the frontier against the table. The two
    * global row_number ranks are the GATE's materialization of the
    * order contract; production consumers ORDER BY the path/depth
    * columns directly (a sort, not a single-partition rank).
    */
  private[graft] val searchOrderSparkSql: String =
    """WITH RECURSIVE t AS (
      |  SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS depth,
      |    array(CAST(1 AS BIGINT)) AS path
      |  UNION ALL
      |  SELECT CAST(c.c_custkey AS BIGINT), t.depth + 1,
      |    concat(t.path, array(CAST(c.c_custkey AS BIGINT)))
      |  FROM t JOIN customer c ON c.c_custkey div 2 = t.node
      |    AND c.c_custkey > 1
      |)
      |SELECT CAST(row_number() OVER (ORDER BY path) AS BIGINT) AS dfs_rank,
      |  CAST(row_number() OVER (ORDER BY depth, node) AS BIGINT) AS bfs_rank,
      |  node, depth, array_join(path, '/') AS path_str
      |FROM t ORDER BY dfs_rank""".stripMargin

  /** LATERAL correlated TABLE subquery (q51 gates only the scalar
    * form): top-2 orders per customer via `, LATERAL (... ORDER BY
    * ... LIMIT 2)`. One SQL text, two planners — Spark and DuckDB
    * both accept this spelling; Spark must DECORRELATE it (the
    * rank-over-partition + join rewrite) rather than re-scan orders
    * per customer row — RecursiveSqlSpec pins the plan (no lateral
    * node survives optimization, no nested-loop join), and the
    * result is cross-checked against the q09 window formulation.
    * Inner-lateral semantics: order-less customers drop out.
    */
  private val lateralSql: String =
    """SELECT c.c_custkey, t.o_orderkey, t.cents
      |FROM customer c, LATERAL (
      |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders o WHERE o.o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      |ORDER BY c.c_custkey, t.cents DESC, t.o_orderkey""".stripMargin

  /** One SQL text, two planners: the engine runs `sql` through
    * [[Flaco.sql]] and DuckDB runs the same string as the oracle.
    */
  private def sameSql(name: String, sql: String): QueryDef =
    QueryDef(name, (s, d) => Flaco.sql(s, d, sql), sql)

  val records: Seq[QueryDef] = Seq(
    // q199: one SQL text, two planners (see windowOverAggSql).
    sameSql("q199_window_over_agg", windowOverAggSql),

    // q183: one SQL text, two planners — correlated scalar subquery
    // in HAVING (see havingSubquerySql's scaladoc).
    sameSql("q183_having_subquery", havingSubquerySql),
    sameSql("q51_correlated_subquery", correlatedSql),

    // q147 / q148: one SQL text, two planners — the USING/NATURAL/
    // FULL-USING spellings and GROUP BY ALL parse identically on
    // both engines; the oracle IS the engine text.
    sameSql("q147_join_using", joinUsingSql),
    sameSql("q148_group_by_all", groupByAllSql),

    // The identical SQL text both planners run (the q51 pattern).
    sameSql("q68_null_semantics", nullSemanticsSql),

    // q164: one SQL text, two planners (projected EXISTS becomes an
    // existence join, not a filter).
    sameSql("q164_select_exists", selectExistsSql),
    sameSql("q92_disc_mode", discModeSql),
    sameSql("q104_filter_agg", filterAggSql),
    sameSql("q107_grouping_meta", groupingMetaSql),
    sameSql("q105_nulls_order", nullsOrderSql),

    // DuckDB's native recursive CTE over the same ancestor closure;
    // only the integer-division spelling differs (`//` vs `div`).
    QueryDef("q108_recursive_cte", Flaco.sql(_, _, recursiveSparkSql),
      """WITH RECURSIVE anc AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS node,
        |    CAST(c_custkey AS BIGINT) AS anc, CAST(0 AS BIGINT) AS depth
        |  FROM customer
        |  UNION ALL
        |  SELECT node, anc // 2 AS anc, depth + 1 AS depth
        |  FROM anc WHERE anc > 1
        |)
        |SELECT node, anc, depth FROM anc ORDER BY node, depth""".stripMargin),

    // q162: PG 14 SEARCH DEPTH/BREADTH FIRST desugared per PG's own
    // definition — DuckDB builds the path with ITS list primitives
    // (list_append, // division, array_to_string) and ranks with its
    // own lexicographic list ordering; independent encodings.
    QueryDef("q162_search_order", Flaco.sql(_, _, searchOrderSparkSql),
      """WITH RECURSIVE t AS (
        |  SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS depth,
        |    [CAST(1 AS BIGINT)] AS path
        |  UNION ALL
        |  SELECT CAST(c.c_custkey AS BIGINT), t.depth + 1,
        |    list_append(t.path, CAST(c.c_custkey AS BIGINT))
        |  FROM t JOIN customer c ON c.c_custkey // 2 = t.node
        |    AND c.c_custkey > 1
        |)
        |SELECT row_number() OVER (ORDER BY path) AS dfs_rank,
        |  row_number() OVER (ORDER BY depth, node) AS bfs_rank,
        |  node, depth, array_to_string(path, '/') AS path_str
        |FROM t ORDER BY dfs_rank""".stripMargin),

    // One SQL text, two planners (the q51 pattern).
    sameSql("q109_lateral_join", lateralSql),
    sameSql("q112_null_safe", nullSafeSql),
    sameSql("q113_bool_agg", boolAggSql),
    sameSql("q115_percentile_cont", percentileContSql),
    sameSql("q117_named_window", namedWindowSql),
    sameSql("q119_limit_offset", limitOffsetSql),
    sameSql("q140_bit_aggs", bitAggSql),

    // q120: DuckDB's NATIVE correlated quantified comparisons vs the
    // engine's aggregate+CASE three-valued emulation (Spark has no
    // ALL/ANY subqueries) — independent encodings; the shared CTE
    // prologue injects the NULLs that make every 3VL branch fire.
    QueryDef("q120_quantified_cmp", Flaco.sql(_, _, quantifiedSparkSql),
      s"""WITH $quantifiedCte
         |SELECT c.c_custkey, c.bal,
         |  CAST(c.bal > ALL (SELECT v FROM o
         |    WHERE o.o_custkey = c.c_custkey) AS BIGINT) AS gt_all,
         |  CAST(c.bal < ANY (SELECT v FROM o
         |    WHERE o.o_custkey = c.c_custkey) AS BIGINT) AS lt_any
         |FROM c ORDER BY c.c_custkey""".stripMargin),

    // q123: first-principles regression from EXACT integer sums
    // (HUGEINT Σx/Σy/Σxy/Σx²/Σy², cast to DOUBLE only at the final
    // ratios) vs Spark's native streaming regr_* moment aggregates —
    // the gate proves the one-pass states reproduce the closed form.
    QueryDef("q123_regr", Flaco.sql(_, _, regrSparkSql),
      """WITH b AS (SELECT l_returnflag AS flag,
        |    CAST(l_quantity AS BIGINT) AS x,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        |  FROM lineitem),
        |s AS (SELECT flag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM b GROUP BY flag)
        |SELECT flag, CAST(n AS BIGINT) AS n_pairs,
        |  round(CAST(sx AS DOUBLE) / n, 6) AS avgx,
        |  round(CAST(sy AS DOUBLE) / n, 6) AS avgy,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE), 2) AS slope,
        |  round((CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    / n, 2) AS icept,
        |  round(pow(CAST(n * sxy - sx * sy AS DOUBLE), 2)
        |    / (CAST(n * sxx - sx * sx AS DOUBLE)
        |       * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
        |FROM s ORDER BY flag""".stripMargin),

    // q124: DuckDB's generate_series TABLE function + parenthesized
    // VALUES vs the engine's explode(sequence) + Spark VALUES —
    // independent encodings of the series and inline-table surfaces.
    QueryDef("q124_calendar_spine", Flaco.sql(_, _, calendarSpineSparkSql),
      """WITH spine AS (
        |  SELECT CAST(gs AS DATE) AS d
        |  FROM generate_series(DATE '1995-01-01', DATE '1995-06-30',
        |    INTERVAL 1 DAY) t(gs)),
        |daily AS (
        |  SELECT o_orderdate AS d, count(*) AS n_orders,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders GROUP BY o_orderdate),
        |w AS (SELECT * FROM (VALUES (1, 10), (2, 25)) t(q, weight))
        |SELECT s.d, CAST(quarter(s.d) AS BIGINT) AS qtr,
        |  coalesce(dl.n_orders, 0) AS n_orders,
        |  CAST(coalesce(dl.cents, 0) AS BIGINT) AS cents,
        |  CAST(coalesce(dl.n_orders, 0) * w.weight AS BIGINT)
        |    AS weighted
        |FROM spine s
        |JOIN w ON w.q = quarter(s.d)
        |LEFT JOIN daily dl ON dl.d = s.d
        |ORDER BY s.d""".stripMargin),

    // q126: the same logical query with the parameters INLINED as
    // literals — proves Spark's :param binding is semantically
    // identical to literal substitution.
    QueryDef("q126_named_params", (s: SparkSession, d: String) =>
      Flaco.sqlParams(s, d, namedParamsSql, Map(
        "lo" -> 150000, "hi" -> "1996-01-01", "seg" -> "BUILDING")),
      """SELECT o_orderkey, o_custkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |  c_mktsegment AS seg
        |FROM orders JOIN customer ON c_custkey = o_custkey
        |WHERE o_totalprice > 150000
        |  AND o_orderdate < CAST('1996-01-01' AS DATE)
        |  AND c_mktsegment = 'BUILDING'
        |ORDER BY o_orderkey""".stripMargin),
    sameSql("q128_bool_test", boolTestSql),
    sameSql("q129_any_value", anyValueSql),

    // q134: same standard spellings where this DuckDB has them;
    // OVERLAY emulated from the standard's definition
    // prefix || placing || suffix (substr arithmetic) — independent
    // encoding for exactly the columns the engine runs natively.
    QueryDef("q134_std_strings", Flaco.sql(_, _, stdStringsSql),
      """SELECT c_custkey,
        |  substring(c_name FROM 3 FOR 8) AS sub,
        |  TRIM(LEADING 'C' FROM c_name) AS ltrim_c,
        |  TRIM(TRAILING '01' FROM c_name) AS rtrim_01,
        |  TRIM(BOTH ' ' FROM concat(' ', c_name, ' ')) AS btrim_sp,
        |  CAST(POSITION('#' IN c_name) AS BIGINT) AS pos_hash,
        |  concat(substring(c_name, 1, 9), '***',
        |    substring(c_name, 13)) AS ovl,
        |  concat(substring(c_name, 1, 3), '**',
        |    substring(c_name, 10)) AS ovl_for,
        |  CAST(concat(c_name,
        |      CASE WHEN c_custkey % 2 = 0 THEN '_x' ELSE 'yx' END)
        |    LIKE '%!_x' ESCAPE '!' AS BIGINT) AS like_esc
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // q131: the oracle derives OVERLAPS from non-overlap negation and
    // BETWEEN SYMMETRIC from explicit CASE bound-swapping — different
    // algebra than the engine's least/greatest normalization.
    // The engine's parity-swapped probe endpoints and n1/n2 bounds
    // normalize to the SAME constants every row — so the oracle
    // hardcodes the normalized [1995-04-01, 1995-06-30) probe and
    // [5000000, 20000000] bounds, proving the engine's least/greatest
    // normalization did its job on the swapped rows.
    QueryDef("q131_range_predicates", Flaco.sql(_, _, rangePredicatesSql),
      """WITH b AS (SELECT o_orderkey,
        |    CAST(o_orderdate AS DATE) AS s1,
        |    CAST(o_orderdate AS DATE) + 30 AS e1,
        |    CASE WHEN o_orderkey % 13 = 0 THEN CAST(NULL AS BIGINT)
        |         ELSE CAST(round(o_totalprice * 100) AS BIGINT)
        |         END AS cents
        |  FROM orders)
        |SELECT o_orderkey, cents,
        |  CAST(NOT (e1 <= DATE '1995-04-01' OR DATE '1995-06-30' <= s1)
        |    AS BIGINT) AS ovl,
        |  CAST(cents >= 5000000 AND cents <= 20000000 AS BIGINT) AS sym
        |FROM b ORDER BY o_orderkey""".stripMargin),

    // unnest + generate_subscripts — DuckDB's independent encoding of
    // WITH ORDINALITY (the q78-oracle idiom, here as its own gate).
    QueryDef("q114_ordinality", Flaco.sql(_, _, ordinalitySparkSql),
      """WITH t AS (SELECT doc_id,
        |    regexp_extract_all(text, '\S+') AS toks FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS tok,
        |    CAST(generate_subscripts(toks, 1) AS BIGINT) AS ord FROM t)
        |SELECT doc_id, ord, tok FROM tok WHERE ord <= 5
        |ORDER BY doc_id, ord""".stripMargin)
  )
}
