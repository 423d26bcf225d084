package graft
package queries

import graft.operators.Events

/** Event analytics: windows, sessions, sketches and funnels over the
  * events table, built on [[graft.operators.Events]].
  */
object EventQueries {

  /** The q192/q192b oracle: DuckDB replays the integer KS statistic
    * over the `granule`-bucketed value axis — per-pair cumulative
    * counts, cleared denominators (|cum_a·n_b − cum_b·n_a|), ppm of
    * n_a·n_b — no float CDF on either side. granule=1 is the exact
    * statistic; granule=100 the engine's fixed-grid 100 TB path.
    */
  private def ksOracleSql(granule: Long): String =
    s"""WITH c AS (SELECT event_type,
       |    CAST(round(value * 100) AS BIGINT) // $granule AS x,
       |    count(*) AS n
       |  FROM events GROUP BY event_type, x),
       |tp AS (SELECT a.event_type AS ta, b.event_type AS tb
       |  FROM (SELECT DISTINCT event_type FROM c) a
       |  JOIN (SELECT DISTINCT event_type FROM c) b
       |    ON a.event_type < b.event_type),
       |m AS (SELECT tp.ta, tp.tb, c.x,
       |    CAST(sum(CASE WHEN c.event_type = tp.ta THEN n ELSE 0 END)
       |      AS BIGINT) AS nax,
       |    CAST(sum(CASE WHEN c.event_type = tp.tb THEN n ELSE 0 END)
       |      AS BIGINT) AS nbx
       |  FROM tp JOIN c ON c.event_type IN (tp.ta, tp.tb)
       |  GROUP BY tp.ta, tp.tb, c.x),
       |cc AS (SELECT ta, tb, x,
       |    sum(nax) OVER (PARTITION BY ta, tb ORDER BY x
       |      ROWS UNBOUNDED PRECEDING) AS ca,
       |    sum(nbx) OVER (PARTITION BY ta, tb ORDER BY x
       |      ROWS UNBOUNDED PRECEDING) AS cb
       |  FROM m),
       |tt AS (SELECT ta, tb, CAST(sum(nax) AS BIGINT) AS n_a,
       |    CAST(sum(nbx) AS BIGINT) AS n_b
       |  FROM m GROUP BY ta, tb),
       |d AS (SELECT cc.ta, cc.tb, tt.n_a, tt.n_b,
       |    CAST(max(abs(cc.ca * tt.n_b - cc.cb * tt.n_a)) AS BIGINT)
       |      AS d_scaled
       |  FROM cc JOIN tt ON cc.ta = tt.ta AND cc.tb = tt.tb
       |  GROUP BY cc.ta, cc.tb, tt.n_a, tt.n_b)
       |SELECT ta AS type_a, tb AS type_b, n_a, n_b,
       |  (d_scaled * 1000000) // (n_a * n_b) AS ks_ppm
       |FROM d ORDER BY ta, tb""".stripMargin

  /** Shared q19/q35 oracle: gaps-and-islands sessions at a 30-minute
    * gap, per user.
    */
  private[queries] val sessionsOracle: String =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      |m AS (SELECT user_id, ts, value,
      |  CASE WHEN lag(ts) OVER w IS NULL
      |         OR ts - lag(ts) OVER w > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |        ROWS UNBOUNDED PRECEDING) AS sid FROM m)
      |SELECT user_id, min(ts) AS session_start,
      |  max(ts) + INTERVAL '30 minutes' AS session_end,
      |  count(*) AS n_events,
      |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
      |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin

  val records: Seq[QueryDef] = Seq(
    QueryDef("q17_events_tumbling", Events.tumbling _,
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS wstart, event_type,
        |  count(*) AS n,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
        |FROM events GROUP BY wstart, event_type ORDER BY wstart, event_type""".stripMargin),
    QueryDef("q18_events_sliding", Events.sliding _,
      """SELECT wstart, event_type, count(*) AS n FROM (
        |  SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS wstart,
        |         event_type FROM events
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
        |           - INTERVAL '30 minutes' AS wstart,
        |         event_type FROM events
        |) t GROUP BY wstart, event_type ORDER BY wstart, event_type""".stripMargin),
    QueryDef("q19_events_sessions", Events.sessions _, sessionsOracle),

    // q20: the sketch VALUE is engine-specific so it is projected out;
    // the gated output is the exact count, its ±3·rsd integer band
    // (pure Long arithmetic — no decimal/double literal drift), and
    // in_band, which the oracle asserts as literal 1. The hash now
    // covers the accuracy contract itself: a drifting sketch flips
    // in_band to 0 and fails loudly. The band width is interpolated
    // from Events.SlackPct — the SAME constant the engine side uses —
    // so retuning the rsd cannot desync engine and oracle (the band's
    // probabilistic nature and re-baselining contract are documented
    // on the constant).
    QueryDef("q20_approx_distinct", Events.approxUsers _,
      s"""WITH e AS (SELECT event_type,
        |    count(DISTINCT user_id) AS exact_users
        |  FROM events GROUP BY event_type)
        |SELECT event_type, exact_users,
        |  exact_users - (exact_users * ${Events.SlackPct} // 100 + 1) AS lo_users,
        |  exact_users + (exact_users * ${Events.SlackPct} // 100 + 1) AS hi_users,
        |  CAST(1 AS BIGINT) AS in_band
        |FROM e ORDER BY event_type""".stripMargin),
    QueryDef("q20b_exact_distinct", Events.exactUsers _,
      """SELECT event_type, count(DISTINCT user_id) AS exact_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // q166: the sketch-UNION rollup — oracle recomputes the exact
    // distinct, the day count, and the same 5% integer band; the
    // engine's unioned-HLL estimate is pinned inside it (in_band
    // literal 1), the q20 idiom at the merge level.
    QueryDef("q166_sketch_union", Events.sketchUnionUsers _,
      """WITH e AS (SELECT event_type,
        |    count(DISTINCT CAST(ts AS DATE)) AS n_days,
        |    count(DISTINCT user_id) AS exact_users
        |  FROM events GROUP BY event_type)
        |SELECT event_type, n_days, exact_users,
        |  exact_users - (exact_users * 5 // 100 + 1) AS lo_users,
        |  exact_users + (exact_users * 5 // 100 + 1) AS hi_users,
        |  CAST(1 AS BIGINT) AS in_band
        |FROM e ORDER BY event_type""".stripMargin),

    // q173: the EXACT trailing 7-day distinct per day — the sketch
    // estimate stays engine-side, its accuracy contract rides the
    // pinned in_band + the ±5% integer band (the q20/q166 idiom).
    QueryDef("q173_sliding_sketch", Events.slidingSketchActives _,
      """WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
        |ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        |  FROM events),
        |w AS (SELECT d.day AS day,
        |    count(DISTINCT ud.day) AS n_days,
        |    count(DISTINCT ud.user_id) AS exact_users
        |  FROM d JOIN ud ON ud.day BETWEEN d.day - 6 AND d.day
        |  GROUP BY d.day)
        |SELECT day, n_days, exact_users,
        |  exact_users - (exact_users * 5 // 100 + 1) AS lo_users,
        |  exact_users + (exact_users * 5 // 100 + 1) AS hi_users,
        |  CAST(1 AS BIGINT) AS in_band
        |FROM w ORDER BY day""".stripMargin),

    // q197: DuckDB replays the lead() pairing over the same explicit
    // (epoch-µs, event_id) order and its own row-normalized ppm.
    QueryDef("q197_transition_matrix", Events.transitionMatrix _,
      """WITH b AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
        |  FROM events),
        |s AS (SELECT event_type AS t_from,
        |    lead(event_type, 1) OVER w AS t_to
        |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |p AS (SELECT t_from, t_to, CAST(count(*) AS BIGINT) AS n
        |  FROM s WHERE t_to IS NOT NULL GROUP BY t_from, t_to),
        |t AS (SELECT t_from, CAST(sum(n) AS BIGINT) AS row_total
        |  FROM p GROUP BY t_from)
        |SELECT p.t_from, p.t_to, p.n,
        |  (p.n * 1000000) // row_total AS rate_ppm
        |FROM p JOIN t USING (t_from) ORDER BY p.t_from, p.t_to""".stripMargin),

    // q194: DuckDB replays the decomposition with its own lag/lead
    // windows over the same distinct (user, epoch-day) relation.
    QueryDef("q194_growth_accounting", Events.growthAccounting _,
      """WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        |  FROM events),
        |b AS (SELECT user_id, day,
        |    lag(day) OVER w AS prev, lead(day) OVER w AS nxt
        |  FROM ud WINDOW w AS (PARTITION BY user_id ORDER BY day)),
        |pd AS (SELECT day, count(*) AS n_active,
        |    CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_new,
        |    CAST(sum(CASE WHEN prev = day - 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_retained,
        |    CAST(sum(CASE WHEN prev IS NOT NULL AND prev < day - 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        |  FROM b GROUP BY day),
        |mx AS (SELECT max(day) AS max_day FROM ud),
        |ch AS (SELECT day + 1 AS day, CAST(count(*) AS BIGINT)
        |      AS n_churned
        |  FROM b CROSS JOIN mx
        |  WHERE (nxt IS NULL OR nxt > day + 1) AND day + 1 <= max_day
        |  GROUP BY day + 1)
        |SELECT pd.day, n_active, n_new, n_retained, n_resurrected,
        |  COALESCE(n_churned, 0) AS n_churned
        |FROM pd LEFT JOIN ch USING (day) ORDER BY pd.day""".stripMargin),

    // q192: DuckDB replays the exact integer KS statistic — per-pair
    // merged value axis, cumulative counts, cleared denominators
    // (|cum_a·n_b − cum_b·n_a|), ppm of n_a·n_b — no float CDF on
    // either side. q192b replays the same construction over the
    // granule-100 pre-bucketed axis (the engine's 100 TB grid).
    QueryDef("q192_ks_distance", Events.ksDistance(_, _), ksOracleSql(granule = 1)),
    QueryDef("q192b_ks_bucketed", Events.ksDistance(_, _, granule = 100),
      ksOracleSql(granule = 100)),

    // q191: DuckDB replays the two lead() windows over the same
    // explicit (epoch-µs, event_id) order and its own path count.
    QueryDef("q191_top_paths", Events.topPaths(_, _),
      """WITH b AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
        |  FROM events),
        |s AS (SELECT event_type AS t1,
        |    lead(event_type, 1) OVER w AS t2,
        |    lead(event_type, 2) OVER w AS t3
        |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
        |SELECT t1 || '>' || t2 || '>' || t3 AS path,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM s WHERE t3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 15""".stripMargin),

    // q189: the oracle derives the same matrix WITHOUT pivoting —
    // CASE sums per offset column (independent encodings of the
    // transpose, the q82 pattern); exact integer week arithmetic.
    QueryDef("q189_cohort_matrix", Events.cohortMatrix _,
      """WITH uw AS (SELECT DISTINCT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS wk
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, min(wk) AS cw FROM uw GROUP BY user_id),
        |o AS (SELECT c.cw, uw.wk - c.cw AS off
        |  FROM uw JOIN c USING (user_id))
        |SELECT cw AS cohort_week,
        |  CAST(sum(CASE WHEN off = 0 THEN 1 ELSE 0 END) AS BIGINT) AS wk0,
        |  CAST(sum(CASE WHEN off = 1 THEN 1 ELSE 0 END) AS BIGINT) AS wk1,
        |  CAST(sum(CASE WHEN off = 2 THEN 1 ELSE 0 END) AS BIGINT) AS wk2,
        |  CAST(sum(CASE WHEN off = 3 THEN 1 ELSE 0 END) AS BIGINT) AS wk3,
        |  CAST(sum(CASE WHEN off = 4 THEN 1 ELSE 0 END) AS BIGINT) AS wk4
        |FROM o GROUP BY cw ORDER BY cw""".stripMargin),

    // q169: exact per-pair intersections + the same ±5%-of-exact-
    // union integer band; the engine's inclusion–exclusion estimate
    // is pinned inside it (in_band literal 1).
    QueryDef("q169_sketch_intersect", Events.sketchIntersections _,
      """WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
        |nd AS (SELECT event_type, count(*) AS nd FROM ut GROUP BY event_type),
        |ix AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    count(*) AS exact_inter
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY a.event_type, b.event_type),
        |j AS (SELECT ix.type_a, ix.type_b, ix.exact_inter,
        |    (na.nd + nb.nd - ix.exact_inter) * 5 // 100 + 1 AS slack
        |  FROM ix JOIN nd na ON na.event_type = ix.type_a
        |          JOIN nd nb ON nb.event_type = ix.type_b)
        |SELECT type_a, type_b, exact_inter,
        |  exact_inter - slack AS lo, exact_inter + slack AS hi,
        |  CAST(1 AS BIGINT) AS in_band
        |FROM j ORDER BY type_a, type_b""".stripMargin),

    // q151: the same gaps-and-islands idiom independently spelled —
    // DuckDB's 3-arg date_diff vs the engine's 2-arg datediff, its
    // own row_number run ids, and a rank-window argmax in place of
    // the engine's max_by.
    QueryDef("q151_streaks", Events.longestStreak _,
      """WITH d AS (SELECT DISTINCT user_id,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day
        |  FROM events),
        |r AS (SELECT user_id, day,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |      AS run
        |  FROM d),
        |g AS (SELECT user_id, run, count(*) AS len, min(day) AS start_day
        |  FROM r GROUP BY user_id, run),
        |x AS (SELECT user_id, count(*) AS n_streaks,
        |    CAST(sum(len) AS BIGINT) AS n_active_days, max(len) AS best_len
        |  FROM g GROUP BY user_id),
        |b AS (SELECT user_id, start_day,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY len DESC, start_day) AS rn
        |  FROM g)
        |SELECT x.user_id, x.n_streaks, x.n_active_days, x.best_len,
        |  CAST(b.start_day AS BIGINT) AS best_start_day
        |FROM x JOIN b ON b.user_id = x.user_id AND b.rn = 1
        |ORDER BY x.user_id""".stripMargin),
    QueryDef("q41_percentiles", Events.valuePercentiles _,
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.9), 6) AS p90,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    QueryDef("q69_stats_agg", Events.statsAgg _,
      """SELECT event_type, count(*) AS n,
        |  round(stddev_samp(value), 4) AS sd,
        |  round(var_samp(value), 4) AS vr,
        |  round(median(value), 6) AS med,
        |  round(corr(value, CAST(user_id AS DOUBLE)), 4) AS corr_uid,
        |  round(covar_samp(value, CAST(user_id AS DOUBLE)), 4) AS cov_uid
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Ordered funnel: stage 2 requires a click STRICTLY AFTER the
    // first view, stage 3 a purchase strictly after that first
    // qualifying click — same chained min-after-join formulation on
    // both sides; uid/ts sums are exact integer identities over WHICH
    // users converged and WHEN.
    QueryDef("q83_funnel", Events.funnelStages _,
      """WITH e AS (SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |v AS (SELECT user_id, min(us) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(us) AS t2 FROM e
        |  JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND us > t1 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(us) AS t3 FROM e
        |  JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND us > t2 GROUP BY e.user_id)
        |SELECT '1_view' AS stage, count(*) AS n_users,
        |  CAST(sum(user_id) AS BIGINT) AS uid_sum,
        |  CAST(sum(t1) AS BIGINT) AS ts_us_sum FROM v
        |UNION ALL
        |SELECT '2_click', count(*), CAST(sum(user_id) AS BIGINT),
        |  CAST(sum(t2) AS BIGINT) FROM c
        |UNION ALL
        |SELECT '3_purchase', count(*), CAST(sum(user_id) AS BIGINT),
        |  CAST(sum(t3) AS BIGINT) FROM p
        |ORDER BY stage""".stripMargin),

    // Integer-exact rolling z-score: with cents x, S1/S2 over the
    // trailing 24-row frame, |x−μ| > 2σ (population) ⇔
    // (n·x − S1)² > 4·(n·S2 − S1²) — both sides Long, no float σ.
    // The frame ordering (us, event_id) is total in both engines.
    QueryDef("q85_rolling_zscore", Events.rollingAnomalies _,
      """WITH b AS (SELECT event_id, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS x
        |  FROM events),
        |w AS (SELECT event_id, user_id, us, x,
        |    CAST(count(*) OVER win AS BIGINT) AS n_w,
        |    CAST(sum(x) OVER win AS BIGINT) AS s1,
        |    CAST(sum(x * x) OVER win AS BIGINT) AS s2
        |  FROM b WINDOW win AS (PARTITION BY user_id
        |    ORDER BY us, event_id ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, us, x, n_w, s1, s2,
        |  CASE WHEN (n_w * x - s1) * (n_w * x - s1) >
        |    4 * (n_w * s2 - s1 * s1)
        |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS anom
        |FROM w ORDER BY event_id""".stripMargin),

    // Bucket restated as `1 + cents // 2500` — an independent integer
    // encoding of width_bucket(x, 0, 60000, 24) (boundaries are exact
    // multiples of the width, so the float path cannot straddle one).
    QueryDef("q86_value_buckets", Events.valueBuckets _,
      """WITH b AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events)
        |SELECT event_type, CAST(1 + x // 2500 AS BIGINT) AS bucket,
        |  count(*) AS n, CAST(sum(x) AS BIGINT) AS sum_cents
        |FROM b GROUP BY event_type, bucket
        |ORDER BY event_type, bucket""".stripMargin),

    // Same lead-window formulation over the same total (us, event_id)
    // order; all integer (cents × µs, Long-safe at this span).
    QueryDef("q93_twa", Events.timeWeightedAvg _,
      """WITH b AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
        |w AS (SELECT user_id, us, x,
        |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      - us AS dt
        |  FROM b),
        |a AS (SELECT user_id, count(*) AS n_events,
        |    CAST(sum(x * dt) AS BIGINT) AS num,
        |    max(us) - min(us) AS den
        |  FROM w GROUP BY user_id)
        |SELECT user_id, n_events, num, den, num // den AS twa_cents
        |FROM a WHERE den > 0 ORDER BY user_id""".stripMargin),

    // q96: the q20 pattern for quantile sketches — the gated columns
    // are the EXACT percentile_disc bracket [p−δ, p+δ] in integer
    // cents plus in_band flags (oracle: literal 1); the sketch values
    // themselves never reach the hash. δ = Events.DiscDelta is
    // interpolated into BOTH SQL texts, so retuning the bracket (or
    // ApproxPercentileAccuracy, whose contract δ must contain) cannot
    // silently desync engine and oracle. The δ=0.01 rank band
    // strictly contains the sketch's rank-error contract
    // (n/accuracy + 1 ranks) for any group ≥ 102 rows.
    QueryDef("q96_approx_percentile", Events.approxPercentiles _,
      s"""WITH b AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
        |p AS (SELECT event_type,
        |    CAST(percentile_disc(${Events.discP(0.5 - Events.DiscDelta)}) WITHIN GROUP (ORDER BY x)
        |      AS BIGINT) AS lo50,
        |    CAST(percentile_disc(${Events.discP(0.5 + Events.DiscDelta)}) WITHIN GROUP (ORDER BY x)
        |      AS BIGINT) AS hi50,
        |    CAST(percentile_disc(${Events.discP(0.9 - Events.DiscDelta)}) WITHIN GROUP (ORDER BY x)
        |      AS BIGINT) AS lo90,
        |    CAST(percentile_disc(${Events.discP(0.9 + Events.DiscDelta)}) WITHIN GROUP (ORDER BY x)
        |      AS BIGINT) AS hi90,
        |    count(*) AS n
        |  FROM b GROUP BY event_type)
        |SELECT event_type, n, lo50, hi50, lo90, hi90,
        |  CAST(1 AS BIGINT) AS ap50_in_band,
        |  CAST(1 AS BIGINT) AS ap90_in_band
        |FROM p ORDER BY event_type""".stripMargin),

    // Ratio-to-report in exact integer ppm; the oracle uses the
    // window-over-() formulation the engine deliberately avoids —
    // same values, independent plans.
    QueryDef("q100_type_shares", Events.typeShares _,
      """WITH b AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
        |g AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS type_cents FROM b
        |  GROUP BY event_type)
        |SELECT event_type, n, type_cents,
        |  CAST(type_cents * 1000000 //
        |    (sum(type_cents) OVER ()) AS BIGINT) AS cents_ppm,
        |  CAST(n * 1000000 // (sum(n) OVER ()) AS BIGINT) AS count_ppm
        |FROM g ORDER BY event_type""".stripMargin),

    // Composed pipeline: the q19 gaps-and-islands session count
    // joined to the q83 chained funnel CTEs with the 6-hour
    // step-conversion horizon (21600000000 µs =
    // Events.ProfileHorizonUs — the unbounded funnel saturates on
    // this corpus), summarized per stage reached. uid/session sums
    // are exact integer identities over WHICH users landed in each
    // stage.
    QueryDef("q101_user_profiles", Events.userProfiles _,
      """WITH e AS (SELECT user_id, event_type,
        |    CAST(ts AS TIMESTAMP) AS ts,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |m AS (SELECT user_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |ns AS (SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions
        |  FROM m GROUP BY user_id),
        |v AS (SELECT user_id, min(us) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(us) AS t2 FROM e
        |  JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND us > t1
        |    AND us <= t1 + 21600000000 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(us) AS t3 FROM e
        |  JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND us > t2
        |    AND us <= t2 + 21600000000 GROUP BY e.user_id),
        |prof AS (SELECT ns.user_id, ns.n_sessions,
        |    CASE WHEN p.user_id IS NOT NULL THEN 3
        |      WHEN c.user_id IS NOT NULL THEN 2
        |      WHEN v.user_id IS NOT NULL THEN 1 ELSE 0 END AS stage
        |  FROM ns LEFT JOIN v USING (user_id)
        |    LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id))
        |SELECT CAST(stage AS BIGINT) AS stage, count(*) AS n_users,
        |  CAST(sum(user_id) AS BIGINT) AS uid_sum,
        |  CAST(sum(n_sessions) AS BIGINT) AS sessions_sum
        |FROM prof GROUP BY stage ORDER BY stage""".stripMargin),

    // Distinct (user, epoch-day) activity → per-user first day →
    // offset histogram; same integer epoch-day math on both sides.
    QueryDef("q102_retention", Events.retentionCurve _,
      """WITH days AS (SELECT DISTINCT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS d0 FROM days GROUP BY user_id)
        |SELECT day - d0 AS day_offset, count(*) AS n_users,
        |  CAST(sum(days.user_id) AS BIGINT) AS uid_sum
        |FROM days JOIN f ON days.user_id = f.user_id
        |GROUP BY day_offset ORDER BY day_offset""".stripMargin),

    // The q81 binary-length log2 bucket over lag() gaps; zero gaps
    // (same-µs events) take bucket -1 by convention on both sides.
    QueryDef("q103_interarrival", Events.interArrival _,
      """WITH e AS (SELECT event_type, user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |g AS (SELECT event_type,
        |    us - lag(us) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS dt
        |  FROM e),
        |b AS (SELECT event_type, dt,
        |    CASE WHEN dt = 0 THEN CAST(-1 AS BIGINT)
        |      ELSE CAST(length(printf('%b', dt)) - 1 AS BIGINT) END
        |      AS bucket
        |  FROM g WHERE dt IS NOT NULL)
        |SELECT event_type, bucket, count(*) AS n,
        |  CAST(sum(dt) AS BIGINT) AS sum_dt_us
        |FROM b GROUP BY event_type, bucket
        |ORDER BY event_type, bucket""".stripMargin),

    // q115b: PG's multi-percentile ordered-set form, DuckDB-native —
    // percentile_cont(ARRAY[…]) WITHIN GROUP, ONE sort per group
    // serving four cut points, slots extracted to scalars because raw
    // array columns don't hash-compare stably cross-engine (q121
    // finding). Engine side: Spark's array-fraction `percentile`.
    QueryDef("q115b_percentile_array", Events.multiPercentiles _,
      """WITH b AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
        |p AS (SELECT event_type,
        |    percentile_cont(ARRAY[0.25, 0.5, 0.75, 0.9])
        |      WITHIN GROUP (ORDER BY x) AS ps,
        |    count(*) AS n
        |  FROM b GROUP BY event_type)
        |SELECT event_type,
        |  round(ps[1], 6) AS p25, round(ps[2], 6) AS p50,
        |  round(ps[3], 6) AS p75, round(ps[4], 6) AS p90, n
        |FROM p ORDER BY event_type""".stripMargin),

    // q138: the published width_bucket contract restated from FIRST
    // PRINCIPLES (this DuckDB predates native width_bucket) — CASE
    // branches for the underflow/overflow buckets, multiply-before-
    // divide floor arithmetic in the engine kernel's association so
    // the IEEE doubles agree bit-for-bit. Both the ascending and the
    // descending-bounds mirror, exact-cent min/max per cell.
    QueryDef("q138_width_bucket", Events.widthBucketHistogram _,
      """WITH b AS (SELECT event_type, value,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CASE WHEN value < 50.0 THEN 0
        |         WHEN value >= 450.0 THEN 9
        |         ELSE CAST(floor(8.0 * (value - 50.0) / 400.0) AS BIGINT) + 1
        |    END AS b_asc,
        |    CASE WHEN value > 450.0 THEN 0
        |         WHEN value <= 50.0 THEN 9
        |         ELSE CAST(floor(8.0 * (450.0 - value) / 400.0) AS BIGINT) + 1
        |    END AS b_desc
        |  FROM events)
        |SELECT event_type, b_asc, b_desc, count(*) AS n,
        |  min(cents) AS min_cents, max(cents) AS max_cents
        |FROM b GROUP BY event_type, b_asc, b_desc
        |ORDER BY event_type, b_asc, b_desc""".stripMargin),

    // q121: DuckDB's native ordered array_agg + list slicing vs the
    // engine's sort-encoded collect (Spark collect_list has no order
    // contract) — both projected to a fingerprint because raw array
    // columns don't hash-compare stably cross-engine.
    QueryDef("q121_array_agg_order", Events.orderedArrayAgg _,
      """WITH b AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  (array_agg(x ORDER BY us, event_id))[1] AS first_x,
        |  md5(array_to_string(
        |    (array_agg(CAST(x AS VARCHAR) ORDER BY us, event_id))[1:5],
        |    ' ')) AS first5_fp
        |FROM b GROUP BY user_id ORDER BY user_id""".stripMargin),

    // q136: DuckDB's native ordered array_agg sliced THEN serialized
    // by its own JSON writer — the hash covers the exact JSON bytes
    // both engines print for the ordered payload.
    QueryDef("q136_json_agg", Events.orderedJsonAgg _,
      """WITH b AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  to_json((array_agg(struct_pack(u := us, x := x)
        |    ORDER BY us, event_id))[1:3])::VARCHAR AS first3_json
        |FROM b GROUP BY user_id ORDER BY user_id""".stripMargin),

    // q132: DuckDB's NATIVE time_bucket(stride, ts, origin) vs the
    // engine's exact integer-micros bin arithmetic — independent
    // encodings of PG 14's date_bin.
    QueryDef("q132_date_bin", Events.dateBin _,
      """SELECT event_id,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |  epoch_us(time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP),
        |    TIMESTAMP '1970-01-01 00:05:00')) AS bin_us
        |FROM events ORDER BY event_id""".stripMargin),

    // q118: IGNORE NULLS window offsets — the engine side is the
    // DataFrame API (lag/lead/first/last with the ignoreNulls flag),
    // the oracle DuckDB's `f(x IGNORE NULLS)` spelling: independent
    // encodings of skip-the-nulls offset semantics (PG itself lacks
    // IGNORE NULLS; it is the standard's spelling of the carry-
    // forward idiom the q75 gap-fill relies on, gated explicitly).
    QueryDef("q118_ignore_nulls", Events.ignoreNullsWindows _,
      """WITH b AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CASE WHEN event_id % 3 = 0 THEN NULL
        |      ELSE CAST(round(value * 100) AS BIGINT) END AS v
        |  FROM events)
        |SELECT user_id, event_id, v,
        |  last_value(v IGNORE NULLS) OVER w AS carry,
        |  lag(v IGNORE NULLS) OVER w AS prev_nn,
        |  lead(v IGNORE NULLS) OVER w AS next_nn,
        |  first_value(v IGNORE NULLS) OVER w AS first_nn
        |FROM b
        |WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),

    // The oracle derives the GROUPS frame from FIRST PRINCIPLES (this
    // DuckDB predates native GROUPS mode, and a first-principles
    // encoding is the stronger check anyway): the frame of a row is
    // BY DEFINITION the rows whose ORDER value is the row's own x or
    // the previous distinct x in its partition — materialized as two
    // equi-joins — and each EXCLUDE variant is a FILTER over that row
    // set. SUM FILTER over an emptied set is NULL, which reproduces
    // the empty-frame NULLs without any special-casing.
    QueryDef("q110_groups_frame", Events.groupsFrames _,
      """WITH b AS (SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS x, user_id AS w
        |  FROM events),
        |d AS (SELECT event_type, x,
        |    lag(x) OVER (PARTITION BY event_type ORDER BY x) AS px
        |  FROM (SELECT DISTINCT event_type, x FROM b)),
        |pairs AS (
        |  SELECT r.event_id AS rid, r.x AS rx, s.event_id AS sid,
        |    s.x AS sx, s.w AS sw
        |  FROM b r JOIN b s
        |    ON s.event_type = r.event_type AND s.x = r.x
        |  UNION ALL
        |  SELECT r.event_id, r.x, s.event_id, s.x, s.w
        |  FROM b r
        |  JOIN d ON d.event_type = r.event_type AND d.x = r.x
        |  JOIN b s ON s.event_type = r.event_type AND s.x = d.px),
        |f AS (SELECT rid,
        |    CAST(sum(sw) AS BIGINT) AS g_sum,
        |    CAST(sum(sw) FILTER (WHERE sx <> rx) AS BIGINT) AS x_group,
        |    CAST(sum(sw) FILTER (WHERE sid <> rid) AS BIGINT) AS x_row,
        |    CAST(sum(sw) FILTER (WHERE sx <> rx OR sid = rid)
        |      AS BIGINT) AS x_ties
        |  FROM pairs GROUP BY rid)
        |SELECT b.event_id, b.event_type, b.x, b.w,
        |  g_sum, x_group, x_row, x_ties
        |FROM b JOIN f ON b.event_id = f.rid
        |ORDER BY b.event_id""".stripMargin),

    // q110b: the q110 first-principles oracle generalized to GROUPS
    // 3 PRECEDING AND 1 FOLLOWING — instead of materializing "my x or
    // the previous distinct x" with two equi-joins, dense-rank the
    // distinct ORDER values once and band-join rows whose group
    // ranks are within [-3, +1] of the current row's. The EXCLUDE
    // variants stay the same FILTER aggregates over that row set
    // (FILTER over an emptied set is NULL — reproduces the
    // empty-frame NULLs with no special-casing).
    QueryDef("q110b_groups_frame_wide", Events.groupsFramesWide _,
      """WITH b AS (SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS x, user_id AS w
        |  FROM events),
        |d AS (SELECT event_type, x,
        |    CAST(dense_rank() OVER (PARTITION BY event_type ORDER BY x)
        |      AS BIGINT) AS dr
        |  FROM (SELECT DISTINCT event_type, x FROM b)),
        |br AS (SELECT b.event_id, b.event_type, b.x, b.w, d.dr
        |  FROM b JOIN d ON d.event_type = b.event_type AND d.x = b.x),
        |pairs AS (
        |  SELECT r.event_id AS rid, r.x AS rx, s.event_id AS sid,
        |    s.x AS sx, s.w AS sw
        |  FROM br r JOIN br s
        |    ON s.event_type = r.event_type
        |    AND s.dr BETWEEN r.dr - 3 AND r.dr + 1),
        |f AS (SELECT rid,
        |    CAST(sum(sw) AS BIGINT) AS g_sum,
        |    CAST(sum(sw) FILTER (WHERE sx <> rx) AS BIGINT) AS x_group,
        |    CAST(sum(sw) FILTER (WHERE sid <> rid) AS BIGINT) AS x_row,
        |    CAST(sum(sw) FILTER (WHERE sx <> rx OR sid = rid)
        |      AS BIGINT) AS x_ties
        |  FROM pairs GROUP BY rid)
        |SELECT b.event_id, b.event_type, b.x, b.w,
        |  g_sum, x_group, x_row, x_ties
        |FROM b JOIN f ON b.event_id = f.rid
        |ORDER BY b.event_id""".stripMargin),

    // q206: exact-integer histogram, ln rounded to 1e-6 BEFORE the
    // regression on both engines, fit statistics rounded after.
    QueryDef("q206_activity_powerlaw", Events.activityPowerlaw _,
      """WITH a AS (SELECT user_id, count(*) AS k FROM events
        |  GROUP BY user_id),
        |h AS (SELECT k, count(*) AS n_users FROM a GROUP BY k),
        |l AS (SELECT k, n_users, round(ln(k), 6) AS lk,
        |    round(ln(n_users), 6) AS ln_n FROM h)
        |SELECT count(*) AS n_points,
        |  CAST(sum(n_users * k) AS BIGINT) AS n_events,
        |  round(regr_slope(ln_n, lk), 6) AS slope,
        |  round(regr_intercept(ln_n, lk), 6) AS intercept,
        |  round(regr_r2(ln_n, lk), 6) AS r2
        |FROM l""".stripMargin),

    // q207: first-principles dynamic-gap islands — a running max of
    // per-event proposed ends, new session at ts >= that max (the
    // [start, end) contract); vs the engine's native dynamic
    // session_window merge. All exact integer micros.
    QueryDef("q207_adaptive_sessions", Events.adaptiveSessions _,
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CASE WHEN event_type = 'error' THEN 3600000000
        |         ELSE 1800000000 END AS gap_us, value FROM events),
        |m AS (SELECT *, max(us + gap_us) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM e),
        |s0 AS (SELECT *, CASE WHEN prev_end IS NULL OR us >= prev_end
        |    THEN 1 ELSE 0 END AS new_s FROM m),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s0)
        |SELECT user_id, min(us) AS start_us,
        |  CAST(max(us + gap_us) AS BIGINT) AS end_us,
        |  count(*) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
        |    AS sum_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin),

    // q209: the same percentile_disc cutpoints re-derived, membership
    // by the same strict > compares — no ntile anywhere.
    QueryDef("q209_rfm", Events.rfmSegments _,
      """WITH u AS (SELECT user_id, max(CAST(ts AS TIMESTAMP)) AS last_ts,
        |    count(*) AS f,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS m
        |  FROM events GROUP BY user_id),
        |a AS (SELECT max(last_ts) AS asof_ts FROM u),
        |r AS (SELECT user_id,
        |    CAST(date_diff('day', CAST(last_ts AS DATE),
        |      CAST(asof_ts AS DATE)) AS BIGINT) AS rec, f, m
        |  FROM u CROSS JOIN a),
        |c AS (SELECT
        |    CAST(percentile_disc(0.2) WITHIN GROUP (ORDER BY rec) AS BIGINT) AS rec_c0,
        |    CAST(percentile_disc(0.4) WITHIN GROUP (ORDER BY rec) AS BIGINT) AS rec_c1,
        |    CAST(percentile_disc(0.6) WITHIN GROUP (ORDER BY rec) AS BIGINT) AS rec_c2,
        |    CAST(percentile_disc(0.8) WITHIN GROUP (ORDER BY rec) AS BIGINT) AS rec_c3,
        |    CAST(percentile_disc(0.2) WITHIN GROUP (ORDER BY f) AS BIGINT) AS f_c0,
        |    CAST(percentile_disc(0.4) WITHIN GROUP (ORDER BY f) AS BIGINT) AS f_c1,
        |    CAST(percentile_disc(0.6) WITHIN GROUP (ORDER BY f) AS BIGINT) AS f_c2,
        |    CAST(percentile_disc(0.8) WITHIN GROUP (ORDER BY f) AS BIGINT) AS f_c3,
        |    CAST(percentile_disc(0.2) WITHIN GROUP (ORDER BY m) AS BIGINT) AS m_c0,
        |    CAST(percentile_disc(0.4) WITHIN GROUP (ORDER BY m) AS BIGINT) AS m_c1,
        |    CAST(percentile_disc(0.6) WITHIN GROUP (ORDER BY m) AS BIGINT) AS m_c2,
        |    CAST(percentile_disc(0.8) WITHIN GROUP (ORDER BY m) AS BIGINT) AS m_c3
        |  FROM r),
        |q AS (SELECT user_id, f, m,
        |    1 + CAST(rec > rec_c0 AS BIGINT) + CAST(rec > rec_c1 AS BIGINT)
        |      + CAST(rec > rec_c2 AS BIGINT) + CAST(rec > rec_c3 AS BIGINT) AS r_q,
        |    1 + CAST(f > f_c0 AS BIGINT) + CAST(f > f_c1 AS BIGINT)
        |      + CAST(f > f_c2 AS BIGINT) + CAST(f > f_c3 AS BIGINT) AS f_q,
        |    1 + CAST(m > m_c0 AS BIGINT) + CAST(m > m_c1 AS BIGINT)
        |      + CAST(m > m_c2 AS BIGINT) + CAST(m > m_c3 AS BIGINT) AS m_q
        |  FROM r CROSS JOIN c)
        |SELECT r_q, f_q, m_q, count(*) AS n_users,
        |  CAST(sum(f) AS BIGINT) AS sum_events,
        |  CAST(sum(m) AS BIGINT) AS sum_cents
        |FROM q GROUP BY r_q, f_q, m_q ORDER BY r_q, f_q, m_q""".stripMargin),

    // q211: band endpoints re-derived, winsorize/trim restated as
    // CASE arithmetic over the same integer cents.
    QueryDef("q211_trimmed_stats", Events.trimmedStats _,
      """WITH b AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
        |p AS (SELECT event_type,
        |    CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY x)
        |      AS BIGINT) AS p05,
        |    CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY x)
        |      AS BIGINT) AS p95
        |  FROM b GROUP BY event_type)
        |SELECT b.event_type, count(*) AS n,
        |  min(p.p05) AS p05, min(p.p95) AS p95,
        |  CAST(sum(least(greatest(b.x, p.p05), p.p95)) AS BIGINT)
        |    AS winsor_sum,
        |  CAST(sum(CASE WHEN b.x BETWEEN p.p05 AND p.p95 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_trim,
        |  CAST(sum(CASE WHEN b.x BETWEEN p.p05 AND p.p95 THEN b.x END)
        |    AS BIGINT) AS trim_sum,
        |  CAST(sum(least(greatest(b.x, p.p05), p.p95)) AS BIGINT)
        |    // count(*) AS winsor_cents,
        |  CAST(sum(CASE WHEN b.x BETWEEN p.p05 AND p.p95 THEN b.x END)
        |    AS BIGINT) // CAST(sum(CASE WHEN b.x BETWEEN p.p05 AND p.p95
        |    THEN 1 ELSE 0 END) AS BIGINT) AS trim_cents
        |FROM b JOIN p ON b.event_type = p.event_type
        |GROUP BY b.event_type ORDER BY b.event_type""".stripMargin),

    // q215: DuckDB's dayofweek is 0-based Sunday, Spark's 1-based —
    // the +1 aligns the calendars; baseline/residual replayed in
    // exact integers.
    QueryDef("q215_seasonal_baseline", Events.seasonalBaseline(_, _),
      """WITH e AS (SELECT event_id, event_type,
        |    CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS BIGINT) AS dow,
        |    CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
        |b AS (SELECT event_type, dow, hr, count(*) AS n_slot,
        |    CAST(sum(x) AS BIGINT) AS sum_slot
        |  FROM e GROUP BY event_type, dow, hr),
        |j AS (SELECT e.event_id, e.event_type, e.dow, e.hr, e.x,
        |    b.sum_slot // b.n_slot AS baseline, b.n_slot,
        |    e.x - b.sum_slot // b.n_slot AS residual
        |  FROM e JOIN b USING (event_type, dow, hr)),
        |r AS (SELECT *, CAST(row_number() OVER (
        |    ORDER BY abs(residual) DESC, event_id) AS BIGINT) AS rk
        |  FROM j)
        |SELECT rk, event_id, event_type, dow, hr, x, baseline, residual,
        |  n_slot
        |FROM r WHERE rk <= 20 ORDER BY rk""".stripMargin),

    // q220: dense calendar spine via generate_series; negative-delta
    // permille stated sign × (|delta|×1000 // prior) on both sides
    // because Spark div truncates and DuckDB // floors.
    QueryDef("q220_period_report", Events.periodOverPeriod _,
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev,
        |    count(*) AS n_purchases
        |  FROM events WHERE event_type = 'purchase' GROUP BY day),
        |sp AS (SELECT CAST(unnest(generate_series(
        |    (SELECT min(day) FROM d), (SELECT max(day) FROM d),
        |    INTERVAL 1 DAY)) AS DATE) AS day),
        |j AS (SELECT sp.day, coalesce(d.rev, 0) AS rev,
        |    coalesce(d.n_purchases, 0) AS n_purchases
        |  FROM sp LEFT JOIN d USING (day)),
        |l AS (SELECT *, lag(rev, 1) OVER (ORDER BY day) AS prev1,
        |    lag(rev, 7) OVER (ORDER BY day) AS prev7 FROM j)
        |SELECT day, rev, n_purchases,
        |  rev - prev1 AS rev_dod, rev - prev7 AS rev_wow,
        |  CASE WHEN prev1 > 0 THEN
        |    (CASE WHEN rev - prev1 < 0 THEN -1 ELSE 1 END)
        |      * (abs(rev - prev1) * 1000 // prev1) END AS dod_permille,
        |  CASE WHEN prev7 > 0 THEN
        |    (CASE WHEN rev - prev7 < 0 THEN -1 ELSE 1 END)
        |      * (abs(rev - prev7) * 1000 // prev7) END AS wow_permille
        |FROM l ORDER BY day""".stripMargin),

    // q230: the LTV triangle replayed — first-seen, week indices as
    // integer div, cumulative over the bounded grid.
    QueryDef("q230_cohort_ltv", Events.cohortLtv _,
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    event_type, CAST(round(value * 100) AS BIGINT) AS x
        |  FROM events),
        |fs AS (SELECT user_id, min(CAST(ts AS DATE)) AS first_day
        |  FROM e GROUP BY user_id),
        |d0 AS (SELECT min(first_day) AS d0 FROM fs),
        |u AS (SELECT user_id, first_day,
        |    CAST(date_diff('day', d0, first_day) AS BIGINT) // 7
        |      AS cohort_week
        |  FROM fs CROSS JOIN d0),
        |sz AS (SELECT cohort_week,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |  FROM u GROUP BY cohort_week),
        |g AS (SELECT u.cohort_week,
        |    CAST(date_diff('day', u.first_day, CAST(e.ts AS DATE))
        |      AS BIGINT) // 7 AS age_weeks,
        |    CAST(sum(e.x) AS BIGINT) AS week_cents
        |  FROM e JOIN u ON e.user_id = u.user_id
        |  WHERE e.event_type = 'purchase'
        |  GROUP BY u.cohort_week, age_weeks),
        |c AS (SELECT *, CAST(sum(week_cents) OVER (PARTITION BY cohort_week
        |    ORDER BY age_weeks ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS cum_cents FROM g)
        |SELECT c.cohort_week, c.age_weeks, sz.n_users, c.week_cents,
        |  c.cum_cents, c.cum_cents // sz.n_users AS cum_per_user_cents
        |FROM c JOIN sz ON c.cohort_week = sz.cohort_week
        |ORDER BY c.cohort_week, c.age_weeks""".stripMargin),

    // q257: Theta/KMV native set algebra (the q20/q169 gate idiom).
    // DuckDB replays the exact twin for every pair; BOTH sketch
    // implementations' estimates are emitted as BIGINTs that must
    // EQUAL the exact values — the transparent KMV at k=4096
    // (unsaturated ⇒ exact by construction) AND Spark 4.1's native
    // DataSketches Theta at lgk=12 (exact mode below 4096 entries;
    // every gate corpus has ≤1500 distinct users/day) — and the
    // saturated k=128 KMV legs pin their in-band bits to 1.
    // Set-algebra correctness is in the row hash; the saturated
    // accuracy contract is the spec's 5σ randomized test.
    QueryDef("q257_theta_intersect", Events.thetaIntersections(_, _),
      """WITH ut AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        |            FROM events),
        |nd AS (SELECT day, count(*) AS nd FROM ut GROUP BY day),
        |ix AS (SELECT a.day AS day_a, b.day AS day_b,
        |    count(*) AS exact_inter
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |    AND b.day = a.day + INTERVAL 1 DAY
        |  GROUP BY a.day, b.day)
        |SELECT ix.day_a, ix.day_b,
        |  CAST(exact_inter AS BIGINT) AS exact_inter,
        |  CAST(na.nd - exact_inter AS BIGINT) AS exact_anotb,
        |  CAST(na.nd + nb.nd - exact_inter AS BIGINT) AS exact_union,
        |  CAST(exact_inter AS BIGINT) AS hi_inter,
        |  CAST(na.nd - exact_inter AS BIGINT) AS hi_anotb,
        |  CAST(na.nd + nb.nd - exact_inter AS BIGINT) AS hi_union,
        |  CAST(exact_inter AS BIGINT) AS nat_inter,
        |  CAST(na.nd - exact_inter AS BIGINT) AS nat_anotb,
        |  CAST(na.nd + nb.nd - exact_inter AS BIGINT) AS nat_union,
        |  CAST(1 AS BIGINT) AS lo_inter_in_band,
        |  CAST(1 AS BIGINT) AS lo_union_in_band
        |FROM ix JOIN nd na ON na.day = ix.day_a
        |        JOIN nd nb ON nb.day = ix.day_b
        |ORDER BY day_a""".stripMargin),

    // q258: the q96 exact-bracket idiom for the native KLL family —
    // DuckDB replays the exact percentile_disc brackets and counts;
    // sketch_n (the stream length) is exact and deterministic, so it
    // pins as n; the three in-band bits pin to 1 (the raw KLL values
    // are randomized-compaction outputs and may never enter a hash).
    QueryDef("q258_kll_quantiles", Events.kllQuantiles(_, _),
      {
      import graft.operators.Events.{KllDelta, discP}
      s"""WITH b AS (SELECT event_type,
         |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
         |p AS (SELECT event_type,
         |    CAST(percentile_disc(${discP(0.5 - KllDelta)}) WITHIN GROUP (ORDER BY x) AS BIGINT)
         |      AS lo50,
         |    CAST(percentile_disc(${discP(0.5 + KllDelta)}) WITHIN GROUP (ORDER BY x) AS BIGINT)
         |      AS hi50,
         |    CAST(percentile_disc(${discP(0.9 - KllDelta)}) WITHIN GROUP (ORDER BY x) AS BIGINT)
         |      AS lo90,
         |    CAST(percentile_disc(${discP(0.9 + KllDelta)}) WITHIN GROUP (ORDER BY x) AS BIGINT)
         |      AS hi90,
         |    count(*) AS n
         |  FROM b GROUP BY event_type)
         |SELECT event_type, n, lo50, hi50, lo90, hi90,
         |  n AS sketch_n,
         |  CAST(1 AS BIGINT) AS k50_in_band,
         |  CAST(1 AS BIGINT) AS k90_in_band,
         |  CAST(1 AS BIGINT) AS merged50_in_band
         |FROM p ORDER BY event_type""".stripMargin
    }),

    // q260: the theta warehouse roll-up — DuckDB replays the exact
    // weekly twin; both sketch implementations' weekly estimates are
    // exact at gate cardinality (native lgk=12 exact mode, KMV k=4096
    // unsaturated) so they pin EQUAL, and the saturated k=128 leg
    // pins its in-band bit (the q257 idiom at the next grain up).
    QueryDef("q260_theta_rollup", Events.thetaWeeklyRollup(_, _),
      """WITH ut AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        |            FROM events),
        |wk AS (SELECT (day - DATE '1970-01-01') // 7 AS week, day,
        |    user_id FROM ut),
        |d AS (SELECT week, count(DISTINCT day) AS n_days,
        |    count(DISTINCT user_id) AS exact_nd
        |  FROM wk GROUP BY week)
        |SELECT week, n_days, exact_nd,
        |  exact_nd AS nat_weekly,
        |  exact_nd AS hi_weekly,
        |  CAST(1 AS BIGINT) AS lo_in_band
        |FROM d ORDER BY week""".stripMargin),

    // q262: native TIME(6) profile — TIME-typed columns ride the row
    // hash as values (Spark Parquet TIME(µs) and DuckDB TIME both
    // surface as datetime.time in the comparator); DuckDB builds its
    // TIMEs by exact string parse of the zero-padded µs render, and
    // replays every integer twin column from the same µs arithmetic.
    QueryDef("q262_time_native", Events.timeOfDayProfile(_, _),
      """WITH b AS (SELECT event_type,
        |    epoch_us(ts) % 86400000000 AS us FROM events),
        |a AS (SELECT event_type, us // 3600000000 AS h,
        |    count(*) AS n, min(us) AS mn, max(us) AS mx,
        |    CAST(sum(us % 60000000) AS BIGINT) AS sec_us
        |  FROM b GROUP BY event_type, h)
        |SELECT event_type,
        |  CAST(printf('%02d:00:00', h) AS TIME) AS hour_t,
        |  n,
        |  CAST(printf('%02d:%02d:%02d.%06d', mn // 3600000000,
        |    (mn // 60000000) % 60, (mn // 1000000) % 60,
        |    mn % 1000000) AS TIME) AS min_t,
        |  CAST(printf('%02d:%02d:%02d.%06d', mx // 3600000000,
        |    (mx // 60000000) % 60, (mx // 1000000) % 60,
        |    mx % 1000000) AS TIME) AS max_t,
        |  mn AS min_us_nat,
        |  mn AS min_us,
        |  sec_us AS sec_us_nat,
        |  sec_us AS sec_us,
        |  n AS n_recon
        |FROM a ORDER BY event_type, hour_t""".stripMargin)
  )
}
