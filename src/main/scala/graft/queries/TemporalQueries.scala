package graft
package queries

import graft.operators.Temporal

/** Time-series joins and gap filling, built on
  * [[graft.operators.Temporal]].
  */
object TemporalQueries {

  /** Shared q75/q79 oracle CTEs: per-(user, hour) collapse with the
    * total-ordered last-in-hour pick, per-user bounds, the hourly
    * grid, and the grid⟕hourly join `j`.
    */
  private val hourlyGridCtes: String =
    """hourly AS (
      |  SELECT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
      |    arg_max(value,
      |      lpad(CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS VARCHAR), 20, '0') ||
      |      lpad(CAST(event_id AS VARCHAR), 12, '0')) AS v_obs,
      |    CAST(count(*) AS BIGINT) AS n_obs
      |  FROM events GROUP BY user_id, h),
      |bounds AS (SELECT user_id, min(h) AS hmin, max(h) AS hmax
      |  FROM hourly GROUP BY user_id),
      |grid AS (SELECT user_id, unnest(range(hmin, hmax + 1)) AS h
      |  FROM bounds),
      |j AS (SELECT g.user_id, g.h, o.v_obs,
      |    coalesce(o.n_obs, CAST(0 AS BIGINT)) AS n_obs
      |  FROM grid g LEFT JOIN hourly o
      |    ON g.user_id = o.user_id AND g.h = o.h)""".stripMargin

  val records: Seq[QueryDef] = Seq(
    // q160: AT TIME ZONE both directions, session-tz-FREE on the
    // oracle side — naive→instant is always spelled timezone('UTC'|
    // zone, naive) and instant→naive timezone(zone, tstz), so no
    // implicit session-zone cast anywhere; fixed-width strftime %f
    // micros match Spark's SSSSSS bytes.
    QueryDef("q160_timezone", Temporal.timezoneBattery _,
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS t FROM events)
        |SELECT event_id,
        |  strftime(t, '%Y-%m-%d %H:%M:%S.%f') AS ts_utc,
        |  strftime(timezone('America/New_York', timezone('UTC', t)),
        |    '%Y-%m-%d %H:%M:%S.%f') AS ny_wall,
        |  strftime(timezone('Asia/Tokyo', timezone('UTC', t)),
        |    '%Y-%m-%d %H:%M:%S.%f') AS tokyo_wall,
        |  strftime(timezone('UTC', timezone('Asia/Kolkata', t)),
        |    '%Y-%m-%d %H:%M:%S.%f') AS kolkata_utc,
        |  strftime(timezone('America/New_York',
        |      timezone('UTC', t + INTERVAL 69 DAY)),
        |    '%Y-%m-%d %H:%M:%S.%f') AS ny_dst
        |FROM e ORDER BY event_id""".stripMargin),

    // q184: the oracle runs the DEFINITIONAL correlated LATERAL
    // top-1 with the tolerance predicate — an independent encoding of
    // the engine's single union+running-window pass.
    QueryDef("q184_asof_tolerance", Temporal.asofTolerance _,
      s"""WITH e AS (SELECT event_id, user_id,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
         |    CAST(round(value * 100) AS BIGINT) AS x, event_type
         |  FROM events),
         |p AS (SELECT event_id, user_id, us FROM e
         |  WHERE event_type = 'purchase'),
         |c AS (SELECT event_id, user_id, us, x FROM e
         |  WHERE event_type = 'click')
         |SELECT p.event_id, p.user_id, p.us,
         |  m.event_id AS asof_event_id, m.x AS asof_x
         |FROM p LEFT JOIN LATERAL (
         |  SELECT c.event_id, c.x FROM c
         |  WHERE c.user_id = p.user_id
         |    AND (c.us < p.us OR (c.us = p.us AND c.event_id < p.event_id))
         |    AND c.us >= p.us - ${Temporal.AsofTolUs}
         |  ORDER BY c.us DESC, c.event_id DESC LIMIT 1) m ON TRUE
         |ORDER BY p.event_id""".stripMargin),
    QueryDef("q34_asof_join", Temporal.prevOrder _,
      """SELECT o_orderkey, o_custkey, o_orderdate,
        |  lag(o_orderkey) OVER w AS prev_orderkey,
        |  lag(o_orderdate) OVER w AS prev_orderdate
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin),

    // Same oracle as q19 — the typed sessionizer must agree with the
    // declarative session_window operator row for row.
    QueryDef("q35_sessions_typed", Temporal.sessionsTyped _, EventQueries.sessionsOracle),

    // q152: DuckDB's NATIVE PG-compatible age() read back through
    // date_part vs the engine's explicit subtract-then-borrow
    // calendar arithmetic — independent encodings; total_days
    // cross-checks the symbolic and absolute views.
    QueryDef("q152_age_breakdown", Temporal.ageBreakdown _,
      """WITH m AS (SELECT o_custkey,
        |    CAST(min(o_orderdate) AS DATE) AS t1,
        |    CAST(max(o_orderdate) AS DATE) AS t2, count(*) AS n_orders
        |  FROM orders GROUP BY o_custkey)
        |SELECT o_custkey, n_orders, t1, t2,
        |  CAST(date_part('year',
        |    age(CAST(t2 AS TIMESTAMP), CAST(t1 AS TIMESTAMP)))
        |    AS BIGINT) AS age_years,
        |  CAST(date_part('month',
        |    age(CAST(t2 AS TIMESTAMP), CAST(t1 AS TIMESTAMP)))
        |    AS BIGINT) AS age_months,
        |  CAST(date_part('day',
        |    age(CAST(t2 AS TIMESTAMP), CAST(t1 AS TIMESTAMP)))
        |    AS BIGINT) AS age_days,
        |  date_diff('day', t1, t2) AS total_days
        |FROM m ORDER BY o_custkey""".stripMargin),
    QueryDef("q40_range_join", Temporal.eventBurstCounts(_, _),
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |m AS (SELECT a.event_id, count(b.event_id) AS n_next
        |  FROM e a LEFT JOIN e b ON a.user_id = b.user_id
        |    AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL '300 seconds'
        |  GROUP BY a.event_id)
        |SELECT e.event_id, e.user_id, e.ts, m.n_next
        |FROM e JOIN m USING (event_id) ORDER BY event_id""".stripMargin),

    // RANGE frame over integer day numbers: the frame boundary is an
    // exact integer compare; the frame sum runs in DECIMAL on both
    // engines (order-free) and casts to double once.
    QueryDef("q59_range_window", Temporal.trailingWindow _,
      """SELECT l_suppkey, l_orderkey, l_linenumber, ship_day,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) OVER (
        |    PARTITION BY l_suppkey ORDER BY ship_day
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS qty_7d
        |FROM (SELECT l_suppkey, l_orderkey, l_linenumber,
        |        CAST(date_diff('day', TIMESTAMP '1992-01-01', l_shipdate) AS BIGINT) AS ship_day,
        |        l_quantity FROM lineitem) t
        |ORDER BY l_suppkey, ship_day, l_orderkey, l_linenumber""".stripMargin),

    // ts is TIMESTAMP(NANOS) in parquet; the engine reads it truncated
    // to microseconds (Corpus), so the oracle truncates identically
    // with CAST(ts AS TIMESTAMP) before epoch_us. The last-in-hour
    // pick orders by the same zero-padded (micros, event_id) string
    // as the engine — total order even under timestamp ties.
    QueryDef("q75_gap_fill", Temporal.gapFillHourly _,
      s"""WITH $hourlyGridCtes
         |SELECT user_id, h, last_value(v_obs IGNORE NULLS) OVER (
         |    PARTITION BY user_id ORDER BY h
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_fill,
         |  n_obs
         |FROM j ORDER BY user_id, h""".stripMargin),

    // Same hourly/grid CTEs as q75. The interpolated value is an
    // EXACT integer rational in cents (numerator/denominator plus
    // the truncated micro-unit quotient) — rounded doubles are not
    // gateable here because midpoints land exactly on decimal
    // rounding boundaries where the engines' round() differ.
    QueryDef("q79_interpolate", Temporal.interpolateHourly _,
      s"""WITH $hourlyGridCtes,
         |w AS (SELECT user_id, h, v_obs,
         |    last_value(v_obs IGNORE NULLS) OVER (
         |      PARTITION BY user_id ORDER BY h
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vp,
         |    last_value(CASE WHEN v_obs IS NOT NULL THEN h END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY h
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hp,
         |    first_value(v_obs IGNORE NULLS) OVER (
         |      PARTITION BY user_id ORDER BY h
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vn,
         |    first_value(CASE WHEN v_obs IS NOT NULL THEN h END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY h
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS hn
         |  FROM j),
         |r AS (SELECT user_id, h,
         |    CASE WHEN v_obs IS NOT NULL THEN 'obs' ELSE 'gap' END AS src,
         |    CASE WHEN v_obs IS NOT NULL
         |      THEN CAST(round(v_obs * 100) AS BIGINT)
         |      ELSE CAST(round(vp * 100) AS BIGINT) * (hn - h) +
         |           CAST(round(vn * 100) AS BIGINT) * (h - hp) END AS num_cents,
         |    CASE WHEN v_obs IS NOT NULL THEN CAST(1 AS BIGINT)
         |      ELSE hn - hp END AS den
         |  FROM w)
         |SELECT user_id, h, src, num_cents, den,
         |  (num_cents * 10000) // den AS v_micro
         |FROM r ORDER BY user_id, h""".stripMargin),

    // Last-touch attribution: the running last(enc IGNORE NULLS) over
    // rows strictly before the current one carries the latest
    // click/view as ts·4+code (one value — ts and type cannot come
    // from different touches); purchases decode it and test the
    // 7-day horizon (604800000000 µs = Temporal.AttributionWindowUs).
    QueryDef("q87_attribution", Temporal.lastTouchAttribution _,
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2 END
        |      AS code
        |  FROM events),
        |w AS (SELECT event_id, user_id, event_type, us,
        |    last_value(CASE WHEN code IS NOT NULL
        |        THEN us * 4 + code END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS last_enc
        |  FROM e)
        |SELECT event_id, user_id, us,
        |  CASE WHEN within THEN last_enc // 4 END AS touch_us,
        |  CASE WHEN within THEN
        |    CASE WHEN last_enc % 4 = 1 THEN 'click' ELSE 'view' END
        |  END AS touch_type,
        |  CASE WHEN within THEN CAST(1 AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS attributed
        |FROM (SELECT *, last_enc IS NOT NULL AND
        |    us - last_enc // 4 <= 604800000000 AS within FROM w)
        |WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin),

    // q213: the pair join replayed; the power-of-two weight ladder is
    // an integer shift on both engines, shares are integer permille.
    QueryDef("q213_decay_attribution", Temporal.decayAttribution _,
      s"""WITH e AS (SELECT event_id, user_id, event_type,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
         |t AS (SELECT user_id, event_type AS touch_type, us AS t_us
         |  FROM e WHERE event_type IN ('click', 'view')),
         |c AS (SELECT user_id, event_id AS conv_id, us AS c_us
         |  FROM e WHERE event_type = 'purchase'),
         |p AS (SELECT touch_type, conv_id,
         |    (c_us - t_us) // 86400000000 AS days
         |  FROM t JOIN c USING (user_id)
         |  WHERE t_us < c_us
         |    AND c_us - t_us < ${Temporal.AttributionWindowUs}),
         |w AS (SELECT touch_type, conv_id,
         |    1 << CAST(6 - days AS INTEGER) AS w_units FROM p),
         |a AS (SELECT touch_type, count(*) AS n_touches,
         |    CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions,
         |    CAST(sum(w_units) AS BIGINT) AS w_sum
         |  FROM w GROUP BY touch_type),
         |tt AS (SELECT CAST(sum(w_sum) AS BIGINT) AS w_total FROM a)
         |SELECT touch_type, n_touches, n_conversions, w_sum,
         |  w_sum * 1000 // w_total AS share_permille
         |FROM a CROSS JOIN tt ORDER BY touch_type""".stripMargin),

    // q217: the DIRECT inequality join over the same gap-island
    // sessions — the gate proves the engine's hour-bucket blocking
    // (candidates + exact verify) is lossless.
    QueryDef("q217_interval_join", Temporal.sessionOverlapPairs _,
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |m AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
        |      OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM m),
        |iv AS (SELECT user_id, sid, min(us) AS s_us,
        |    CAST(max(us) + 1800000000 AS BIGINT) AS e_us
        |  FROM s GROUP BY user_id, sid),
        |pr AS (SELECT a.user_id AS u_a, b.user_id AS u_b,
        |    least(a.e_us, b.e_us) - greatest(a.s_us, b.s_us) AS overlap_us
        |  FROM iv a JOIN iv b ON a.user_id < b.user_id
        |    AND a.s_us < b.e_us AND b.s_us < a.e_us)
        |SELECT u_a, u_b, count(*) AS n_overlaps,
        |  CAST(sum(overlap_us) AS BIGINT) AS sum_overlap_us
        |FROM pr GROUP BY u_a, u_b ORDER BY u_a, u_b""".stripMargin),

    // q219: the same change-point islands from first principles.
    QueryDef("q219_scd2", Temporal.scd2Intervals _,
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |m AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |      OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END
        |    AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |r AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS run FROM m),
        |g AS (SELECT user_id, run, min(us) AS valid_from,
        |    min(event_type) AS state, count(*) AS n_events
        |  FROM r GROUP BY user_id, run),
        |f AS (SELECT user_id, run AS version, state, valid_from,
        |    lead(valid_from) OVER (PARTITION BY user_id ORDER BY run)
        |      AS valid_to, n_events FROM g)
        |SELECT user_id, version, state, valid_from, valid_to, n_events,
        |  CAST(valid_to IS NULL AS BIGINT) AS is_current
        |FROM f ORDER BY user_id, version""".stripMargin)
  )
}
