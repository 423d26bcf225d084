package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Corpus

/** Event-time windowing over the `events` table — the batch side of
  * the streaming capability (the same window operators run under
  * Structured Streaming in [[graft.streaming.EventStreams]]; Spark's
  * unified model makes the logic identical). No reference analogue
  * (flaco has no streaming, SURVEY.md §1.1 last row).
  */
object Events {

  /** Tumbling 1-hour windows per event type. Decimal sum for the same
    * order-free determinism as [[sessions]].
    */
  def tumbling(spark: SparkSession, dir: String): DataFrame =
    Corpus.read(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,6)")), 2)
          .cast("double").as("sum_value"))
      .select(col("w.start").as("wstart"), col("event_type"), col("n"),
        col("sum_value"))
      .orderBy(col("wstart"), col("event_type"))

  /** Sliding 1-hour windows every 30 minutes. */
  def sliding(spark: SparkSession, dir: String): DataFrame =
    Corpus.read(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("wstart"), col("event_type"), col("n"))
      .orderBy(col("wstart"), col("event_type"))

  /** Session windows per user with a 30-minute inactivity gap.
    * Session end = last event + gap (Spark semantics; the oracle
    * reproduces it with gaps-and-islands SQL). The per-session sum is
    * computed in DECIMAL(18,6): double addition is order-sensitive and
    * Spark's partial-aggregation order differs from the oracle's
    * ordered scan, which can flip a rounded cent; decimal addition is
    * exact and order-free on both engines.
    */
  def sessions(spark: SparkSession, dir: String): DataFrame =
    Corpus.read(spark, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,6)")), 2)
          .cast("double").as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** The HLL++ relative standard deviation [[approxUsers]] requests —
    * named so the accuracy spec bounds against the SAME constant the
    * sketch is configured with (3·rsd ≈ the 99.7% band for a
    * well-behaved sketch).
    */
  val ApproxRsd = 0.05

  /** The q20 band half-width in integer percent, derived from
    * [[ApproxRsd]] (3·rsd·100 = 15) and interpolated into BOTH the
    * engine expression and the DuckDB oracle SQL — one constant feeds
    * both sides, so retuning the rsd cannot silently desync them.
    * Note the band is a ~3-sigma PROBABILISTIC bound, not a hard
    * sketch guarantee (unlike q96's deterministic rank-error
    * contract): on the committed corpora the seed-stable HLL++
    * estimate sits well inside it, but a regenerated or rescaled
    * corpus can legitimately land outside — that is a DELIBERATE
    * loud failure whose remedy is re-baselining (confirm the sketch
    * error against [[approxUsersDetail]], then widen here), not a
    * bug in either engine.
    */
  val SlackPct: Long = math.round(3 * ApproxRsd * 100)

  /** q96's exact-bracket half-width in rank probability: the gated
    * bracket is percentile_disc at p ± [[DiscDelta]]. Chosen so the
    * bracket STRICTLY contains the sketch's deterministic rank-error
    * contract (n/accuracy + 1 ranks) for any group ≥ 102 rows at
    * [[ApproxPercentileAccuracy]] = 10000. [[discP]] renders the
    * bracket probabilities for SQL interpolation on both sides.
    */
  val DiscDelta = 0.01

  /** A percentile probability as SQL text (2 decimals — both
    * constants in use are exact at that width).
    */
  def discP(p: Double): String = f"$p%.2f"

  /** Raw sketch next to its exact twin — the probe OperatorsSpec
    * ("approx distinct users...") bounds at 3·rsd. Not the gated
    * shape: the sketch VALUE is engine-specific, so it can never be
    * hash-compared; [[approxUsers]] projects this to one that can.
    */
  def approxUsersDetail(spark: SparkSession, dir: String): DataFrame =
    Corpus.read(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), ApproxRsd).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .orderBy(col("event_type"))

  /** Approximate distinct users per event type (HLL++ at
    * [[ApproxRsd]]), gated the only way a sketch can be: the output
    * carries the EXACT count with its ±3·rsd band as integer bounds
    * plus `in_band` = does the sketch fall inside — all of which the
    * oracle reproduces exactly (it emits `1` for in_band), so the
    * driver's row hash covers the accuracy contract itself. A sketch
    * drifting past 3·rsd flips in_band to 0 → loud hash mismatch.
    * Slack is pure Long arithmetic (`exact·15 div 100 + 1` ≥
    * 0.15·exact = 3·[[ApproxRsd]]·exact; +1 absorbs the floor) —
    * identical on both engines, no decimal-vs-double literal drift.
    */
  def approxUsers(spark: SparkSession, dir: String): DataFrame = {
    approxUsersDetail(spark, dir)
      .withColumn("slack", expr(s"exact_users * $SlackPct div 100 + 1"))
      .select(col("event_type"), col("exact_users"),
        (col("exact_users") - col("slack")).as("lo_users"),
        (col("exact_users") + col("slack")).as("hi_users"),
        (col("approx_users") >= col("exact_users") - col("slack") &&
          col("approx_users") <= col("exact_users") + col("slack"))
          .cast("long").as("in_band"))
      .orderBy(col("event_type"))
  }

  /** Exact distinct users per event type — the plain-value twin of
    * [[approxUsers]] (whose gated output carries bounds and a flag
    * rather than the bare counts).
    */
  def exactUsers(spark: SparkSession, dir: String): DataFrame =
    Corpus.read(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
      .orderBy(col("event_type"))

  /** RE-AGGREGATABLE distinct counting via HLL sketch UNION (q166) —
    * the capability q20's `approx_count_distinct` does NOT have:
    * daily distinct counts cannot be summed into a monthly one, but
    * daily SKETCHES union losslessly. This is how a 100 TB warehouse
    * serves distinct-count rollups — materialize one Datasketches
    * HLL per (dimension, day) once, answer every coarser-grained
    * question by `hll_union_agg` over the stored sketches, never
    * re-scanning raw events. The gate materializes the per-(type,
    * day) sketch relation, unions it per type, and pins the merged
    * estimate inside the exact count's ±3·rsd integer band (lgK=12 →
    * rsd ≈ 1.04/√4096 ≈ 1.6%; the band uses 3·rsd rounded up to 5%
    * in exact integer arithmetic, the q20 idiom — the estimate
    * itself is sketch-version-specific and stays out of the hash).
    * Both aggregation levels are map-side-combinable mergeable
    * binary states; no distinct-key shuffle at any scale.
    */
  def sketchUnionUsers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Corpus.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("user_id"))
    val daily = ev.groupBy(col("event_type"), col("day"))
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
    val merged = daily.groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"),
        count(lit(1)).as("n_days"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    merged.join(exact, Seq("event_type"))
      .withColumn("slack", expr("exact_users * 5 div 100 + 1"))
      .select(col("event_type"), col("n_days"), col("exact_users"),
        (col("exact_users") - col("slack")).as("lo_users"),
        (col("exact_users") + col("slack")).as("hi_users"),
        (col("est") >= col("exact_users") - col("slack") &&
          col("est") <= col("exact_users") + col("slack"))
          .cast("long").as("in_band"))
      .orderBy(col("event_type"))
  }

  /** Growth accounting (q194) — the standard DAU decomposition every
    * growth team reports (new / retained / resurrected / churned,
    * the "growth accounting identity"): per epoch-day, actives split
    * by their previous active day (none → new; yesterday → retained;
    * earlier → resurrected), churn attributed to the day AFTER a
    * user's active day when the next active day isn't adjacent
    * (bounded to the observed range — the identity
    * active(d) − active(d−1) = new + resurrected − churned then
    * holds by construction, spec-pinned). One distinct (user, day)
    * collapse first (the q102 discipline), one lag/lead window per
    * user, two map-side-combinable day aggregates — event volume
    * never reaches any window. All exact integer day arithmetic.
    */
  def growthAccounting(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val ud = Corpus.read(spark, dir, "events")
      .select(col("user_id"), Exact.microsDiv(dayUs).as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val base = ud
      .withColumn("prev", lag(col("day"), 1).over(w))
      .withColumn("nxt", lead(col("day"), 1).over(w))
      .cache()
    val perDay = base.groupBy(col("day")).agg(
      count(lit(1)).as("n_active"),
      sum(when(col("prev").isNull, 1L).otherwise(0L)).as("n_new"),
      sum(when(col("prev") === col("day") - 1, 1L).otherwise(0L))
        .as("n_retained"),
      sum(when(col("prev").isNotNull && col("prev") < col("day") - 1, 1L)
        .otherwise(0L)).as("n_resurrected"))
    val maxDay = ud.agg(max(col("day")).as("max_day"))
    val churn = base
      .filter(col("nxt").isNull || col("nxt") > col("day") + 1)
      .select((col("day") + 1).as("day"))
      .crossJoin(broadcast(maxDay))
      .filter(col("day") <= col("max_day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_churned"))
    perDay.join(churn, Seq("day"), "left_outer")
      .select(col("day"), col("n_active"), col("n_new"),
        col("n_retained"), col("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy(col("day"))
  }

  /** Exact two-sample Kolmogorov–Smirnov distance between event
    * types' value distributions (q192) — the numeric-drift test next
    * to q167's token-distribution KL: D = max_x |F_a(x) − F_b(x)|,
    * computed EXACTLY as integers by clearing denominators —
    * D_scaled = max |cum_a(x)·n_b − cum_b(x)·n_a| over the merged
    * observed-value axis, emitted as ppm of n_a·n_b — so no float
    * CDF exists and the oracle replays bit-for-bit (the Rényi/q177
    * construction applied to a distribution test).
    *
    * ONE plan for all pairs: the (type, value, n) aggregate
    * (map-side-combinable — collapses event volume to ≤ types ×
    * distinct-values rows) joins the dimension-sized type-pair table
    * (broadcast; a row enters every pair it belongs to), and the
    * cumulative sums run under a SINGLE window PARTITIONED BY the
    * pair key — P(P−1)/2 modest partitions in one shuffle instead of
    * that many unioned single-partition subplans (the r11 verdict's
    * q192 anti-pattern; it also made q192 the suite's slowest query).
    *
    * `granule` pre-buckets the value axis (`x div granule` — the q86
    * width_bucket move) so each pair's window is bounded by the grid
    * size, not the observed-value cardinality: the 100 TB setting.
    * Bucketing computes the exact KS of the BUCKETED distributions
    * (a deterministic coarsening both engines replay bit-for-bit;
    * D_bucketed ≤ D_exact, tight as the grid refines). granule=1 is
    * the exact statistic — the q192 gate; q192b gates the bucketed
    * scale path on the same oracle construction.
    */
  def ksDistance(spark: SparkSession, dir: String,
      granule: Long = 1): DataFrame = {
    val cnt = Corpus.read(spark, dir, "events")
      .select(col("event_type"), cents.as("x0"))
      // SQL `div`, never Column./ — the Exact.microsDiv discipline.
      .select(col("event_type"), expr(s"x0 div $granule").as("x"))
      .groupBy(col("event_type"), col("x"))
      .agg(count(lit(1)).as("n"))
    val types = cnt.select(col("event_type")).distinct()
    val pairs = types.select(col("event_type").as("type_a"))
      .crossJoin(broadcast(types.select(col("event_type").as("type_b"))))
      .filter(col("type_a") < col("type_b"))
    val m = cnt
      .join(broadcast(pairs), cnt("event_type") === pairs("type_a") ||
        cnt("event_type") === pairs("type_b"))
      .groupBy(col("type_a"), col("type_b"), col("x"))
      .agg(sum(when(col("event_type") === col("type_a"), col("n"))
        .otherwise(0L)).as("nax"),
        sum(when(col("event_type") === col("type_b"), col("n"))
          .otherwise(0L)).as("nbx"))
    val w = Window.partitionBy(col("type_a"), col("type_b"))
      .orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = m.groupBy(col("type_a"), col("type_b"))
      .agg(sum(col("nax")).as("n_a"), sum(col("nbx")).as("n_b"))
    m.withColumn("ca", sum(col("nax")).over(w))
      .withColumn("cb", sum(col("nbx")).over(w))
      .join(broadcast(tot), Seq("type_a", "type_b"))
      .groupBy(col("type_a"), col("type_b"), col("n_a"), col("n_b"))
      .agg(max(abs(col("ca") * col("n_b") - col("cb") * col("n_a")))
        .as("d_scaled"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        expr("d_scaled * 1000000 div (n_a * n_b)").as("ks_ppm"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** Markov transition matrix (q197) — q191's pairwise core as the
    * normalized next-event model product analytics and simulation
    * both consume: per (from, to) event-type pair, the transition
    * count and the row-normalized rate as exact integer ppm of the
    * from-state's outgoing mass (the q100 share discipline — no
    * float probabilities). One lead() window over the total
    * (epoch-µs, event_id) order, one map-side-combinable pair count,
    * row totals as a types-sized broadcast join.
    */
  def transitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val pairs = Corpus.read(spark, dir, "events")
      .select(col("user_id"), col("event_id"), micros.as("us"),
        col("event_type").as("t_from"))
      .withColumn("t_to", lead(col("t_from"), 1).over(w))
      .filter(col("t_to").isNotNull)
      .groupBy(col("t_from"), col("t_to"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("t_from"))
      .agg(sum(col("n")).as("row_total"))
    pairs.join(broadcast(totals), Seq("t_from"))
      .select(col("t_from"), col("t_to"), col("n"),
        expr("n * 1000000 div row_total").as("rate_ppm"))
      .orderBy(col("t_from"), col("t_to"))
  }

  /** Top behavior paths (q191) — product analytics' path/sequence
    * report ("what do users do in three steps"): each event paired
    * with its user's next two events via lead() over the total
    * (us, event_id) order — the n-gram-over-sequences idiom with NO
    * per-user collect (state is two carried values per row), then
    * one map-side-combinable path count and a global
    * `TakeOrderedAndProject` top-k. Path strings are exact; counts
    * integers. The oracle replays with its own lead() windows over
    * the same explicit integer ordering (ns-vs-µs timestamp ties
    * are why both sides order by epoch-µs + event_id, not raw ts).
    */
  def topPaths(spark: SparkSession, dir: String, k: Int = 15): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    Corpus.read(spark, dir, "events")
      .select(col("user_id"), col("event_id"), Exact.micros.as("us"),
        col("event_type"))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .filter(col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
        .as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path")).limit(k)
  }

  /** Weekly cohort-retention matrix (q189) — THE retention table
    * every analytics tool renders: users grouped by first-active
    * epoch-week (cohort), counted per week offset, PIVOTED to one
    * row per cohort with wk0..wk4 columns (wk0 = cohort size).
    * Composes q102's discipline — distinct (user, week) FIRST so
    * event volume collapses before anything else, per-user min week,
    * offset histogram — with q37's pivot as the presentation shape;
    * the offset domain is bounded (5 columns), so the pivot is a
    * constant-width conditional aggregation, map-side-combinable.
    * The ORACLE never pivots: it derives the same matrix as CASE
    * sums — independent encodings of the transpose (the q82
    * pattern). All exact integer week arithmetic (epoch-µs div
    * 7-day-µs — the microsDiv discipline).
    */
  def cohortMatrix(spark: SparkSession, dir: String): DataFrame = {
    val weekUs = 7L * 86400L * 1000000L
    // Purchase activity only: the all-events cohort is degenerate on
    // this fixture (every user active every week — one 100%-retention
    // row); first-PURCHASE cohorts genuinely spread and decay.
    val uw = Corpus.read(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), Exact.microsDiv(weekUs).as("wk"))
      .distinct()
    val cohort = uw.groupBy(col("user_id")).agg(min(col("wk")).as("cw"))
    val off = uw.join(cohort, Seq("user_id"))
      .select(col("cw"), (col("wk") - col("cw")).as("off"))
    off.groupBy(col("cw"))
      .pivot("off", Seq(0, 1, 2, 3, 4))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("cw").as("cohort_week"),
        col("0").as("wk0"), col("1").as("wk1"), col("2").as("wk2"),
        col("3").as("wk3"), col("4").as("wk4"))
      .orderBy(col("cohort_week"))
  }

  /** Sliding-window distinct actives from daily sketches (q173) —
    * the rolling-DAU/WAU dashboard shape, and the reason q166's
    * re-aggregatable sketches exist: distinct counts do NOT sum
    * across days, so a trailing 7-day distinct either re-scans raw
    * events per window (7× the scan cost, unboundable at 100 TB) or
    * unions the per-day sketches the warehouse already materialized.
    * Here each output day unions ≤ 7 daily sketch rows: the
    * window-to-day assignment is a range join of the ≤ days-sized
    * grid against the ≤ days-sized sketch relation — a broadcast
    * nested-loop over DIMENSION-sized inputs (the q169-sanctioned
    * NLJ shape; raw events are touched exactly once, to build the
    * daily sketches). The exact trailing twin (distinct (user, day)
    * collapse first — the q102 discipline — then the same range
    * join) is gate evidence: its ±5% integer band and the pinned
    * `in_band` put the sketch accuracy contract in the row hash (the
    * q20/q166 idiom); production keeps only the sketch path.
    */
  def slidingSketchActives(spark: SparkSession, dir: String): DataFrame = {
    val ev = Corpus.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val daily = ev.groupBy(col("day"))
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
    val grid = daily.select(col("day").as("d"))
    val win = grid.join(daily,
        col("day") >= date_sub(col("d"), 6) && col("day") <= col("d"))
      .groupBy(col("d"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"),
        count(lit(1)).as("n_days"))
    val ud = ev.distinct()
    val exact = grid.join(ud,
        col("day") >= date_sub(col("d"), 6) && col("day") <= col("d"))
      .groupBy(col("d"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    win.join(exact, Seq("d"))
      .withColumn("slack", expr("exact_users * 5 div 100 + 1"))
      .select(col("d").as("day"), col("n_days"), col("exact_users"),
        (col("exact_users") - col("slack")).as("lo_users"),
        (col("exact_users") + col("slack")).as("hi_users"),
        (col("est") >= col("exact_users") - col("slack") &&
          col("est") <= col("exact_users") + col("slack"))
          .cast("long").as("in_band"))
      .orderBy(col("day"))
  }

  /** Sketch set algebra (q169) — distinct-user INTERSECTION between
    * event-type pairs from the SAME materialized HLL sketches q166
    * unions: |A∩B| = |A| + |B| − |A∪B|, all three terms sketch
    * estimates. This answers "how many users did BOTH click and
    * purchase" from per-type sketches without re-scanning events —
    * with the known inclusion–exclusion caveat, stated honestly: the
    * absolute error scales with |A∪B|, not with the intersection, so
    * a small overlap of two large sets is unrecoverable from HLL
    * (production uses Theta sketches for set ops precisely because
    * they intersect natively — q257 IS that operator, via both
    * Spark 4.1's native DataSketches theta_* functions and the
    * transparent KMV in [[graft.functions.ThetaSketch]]; this query
    * keeps the HLL inclusion–exclusion form alive as the documented
    * contrast, band ±3·rsd·|A∪B|).
    * The fixture's overlaps are union-sized, so the band is tight in
    * relative terms too. All sketches build in one pass over events
    * (map-side-combinable); the pairing is an INEQUALITY self-join
    * of the per-type sketch relation and therefore plans as a
    * broadcast nested-loop — over a dimension-cardinality side
    * (≤ types rows, one sketch each), never the corpus, which is the
    * one shape where an NLJ is the right plan at any scale.
    */
  def sketchIntersections(spark: SparkSession, dir: String): DataFrame = {
    // Distinct (user, type) FIRST — the q102 discipline: event
    // volume collapses before any self-join, so the exact-twin join
    // fans out per user-type-pair, never per event-pair.
    val ut = Corpus.read(spark, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
    val sk = ut.groupBy(col("event_type"))
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"),
        countDistinct(col("user_id")).as("nd"))
    val pairs = sk.as("x").join(sk.as("y"),
        col("x.event_type") < col("y.event_type"))
      .select(col("x.event_type").as("type_a"),
        col("y.event_type").as("type_b"),
        col("x.nd").as("nd_a"), col("y.nd").as("nd_b"),
        (expr("hll_sketch_estimate(x.sk)") +
          expr("hll_sketch_estimate(y.sk)") -
          expr("hll_sketch_estimate(hll_union(x.sk, y.sk))"))
          .as("est_inter"))
    val exact = ut.as("a").join(ut.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("exact_inter"))
    pairs.join(exact, Seq("type_a", "type_b"))
      // Integer band the oracle replays exactly: ±5% of the EXACT
      // union (nd_a + nd_b − exact_inter) — the inclusion–exclusion
      // error scale — never of a sketch estimate.
      .withColumn("slack",
        expr("(nd_a + nd_b - exact_inter) * 5 div 100 + 1"))
      .select(col("type_a"), col("type_b"), col("exact_inter"),
        (col("exact_inter") - col("slack")).as("lo"),
        (col("exact_inter") + col("slack")).as("hi"),
        (col("est_inter") >= col("exact_inter") - col("slack") &&
          col("est_inter") <= col("exact_inter") + col("slack"))
          .cast("long").as("in_band"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** Theta/KMV sketch set algebra (q257) — the r17 verdict's #5,
    * closing q169's documented honesty gap: HLL can only intersect
    * via inclusion–exclusion (error scales with |A∪B|), while the
    * Theta family intersects NATIVELY with error scaling with the
    * intersection sample itself. One pass builds per-DAY audience
    * sketches from the distinct (day, user) collapse (the q102
    * discipline); consecutive days pair via an equi-join on the
    * derived day key over the ≤days-row sketch relation. Estimates
    * come from Spark 4.1's NATIVE DataSketches theta functions
    * (lgk=12 — exact mode at gate cardinality, value-pinned) and
    * from [[graft.functions.ThetaSketch]] at TWO sketch sizes:
    *   - k=4096 — unsaturated on every gate corpus, where KMV is
    *     EXACT by construction; those estimates are emitted as
    *     BIGINT columns the oracle replays as the exact twin —
    *     set-algebra correctness (∩, \, ∪) pinned in the row hash;
    *   - k=128 — saturated on every gate corpus (≥120 distinct
    *     users/day), the real estimation regime; banded ±3.5σ-ish
    *     (σ ≈ est/√(retained matches), here expressed as integer
    *     slack on the exact value: 35% + 4) with the in-band bit
    *     pinned to 1, the q20/q169 gate idiom.
    * The hash (`xxhash64 & Long.Max`) stays whole-stage-codegen'd on
    * the corpus side; sketches are transparent `array<bigint>`
    * columns; union re-aggregation is the q166 warehouse contract.
    */
  def thetaIntersections(spark: SparkSession, dir: String): DataFrame =
      Materialize.scoped { s =>
    import graft.functions.ThetaSketch._
    // Per-DAY audiences, paired consecutive days: the fixture's
    // event-type audiences overlap COMPLETELY (every type reaches
    // every user), which would leave A\B = 0 everywhere; day-on-day
    // audiences overlap partially (~88%), so the intersection,
    // difference, and union legs are all non-degenerate.
    // One corpus pass serves BOTH legs (r18 verdict #2: the gate
    // paid ~3.3 s re-deriving this distinct for the sketch aggregate
    // and again for the exact twin): persist the (day, user)
    // collapse, eagerly materialize the two ≤days-row leg outputs,
    // and return a trivial join over them — the scope releases the
    // collapse, which the result no longer reads.
    val ut = s.hold(Corpus.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      .persist())
    // Native DataSketches Theta (Spark 4.1 ships theta_sketch_agg /
    // theta_union / theta_intersection / theta_difference): the
    // production sketch column, validated alongside the transparent
    // KMV. lgk=12 ⇒ 4096 nominal entries — exact mode on every gate
    // corpus, so its estimates pin EQUAL to the exact twin. (The
    // wildcard `functions._` at file scope also exports these names;
    // the method-local ThetaSketch._ import shadows them, so the
    // native ones are reached via the F alias.)
    val F = org.apache.spark.sql.functions
    // Eager, ≤days rows (sketch arrays bounded by 2k+4 longs):
    // materializes from the cached collapse, truncates lineage so the
    // final join never re-reads the corpus.
    val sk = Materialize(ut.groupBy(col("day"))
      .agg(theta_sketch_agg(positionOf(col("user_id")), 4096).as("sk_hi"),
        theta_sketch_agg(positionOf(col("user_id")), 128).as("sk_lo"),
        F.theta_sketch_agg(col("user_id"), 12).as("sk_nat"),
        countDistinct(col("user_id")).as("nd")))
    val pairs = sk.as("x").join(sk.as("y"),
        col("y.day") === date_add(col("x.day"), 1))
      .select(col("x.day").as("day_a"),
        col("y.day").as("day_b"),
        col("x.nd").as("nd_a"), col("y.nd").as("nd_b"),
        theta_intersect_estimate(col("x.sk_hi"), col("y.sk_hi"), 4096)
          .cast("long").as("hi_inter"),
        theta_anotb_estimate(col("x.sk_hi"), col("y.sk_hi"), 4096)
          .cast("long").as("hi_anotb"),
        theta_estimate(theta_union(col("x.sk_hi"), col("y.sk_hi"), 4096),
          4096).cast("long").as("hi_union"),
        F.theta_sketch_estimate(F.theta_intersection(col("x.sk_nat"),
          col("y.sk_nat"))).cast("long").as("nat_inter"),
        F.theta_sketch_estimate(F.theta_difference(col("x.sk_nat"),
          col("y.sk_nat"))).cast("long").as("nat_anotb"),
        F.theta_sketch_estimate(F.theta_union(col("x.sk_nat"),
          col("y.sk_nat"))).cast("long").as("nat_union"),
        theta_intersect_estimate(col("x.sk_lo"), col("y.sk_lo"), 128)
          .as("lo_inter"),
        theta_estimate(theta_union(col("x.sk_lo"), col("y.sk_lo"), 128),
          128).as("lo_union"))
    val exact = Materialize(ut.as("a").join(ut.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("b.day") === date_add(col("a.day"), 1))
      .groupBy(col("a.day").as("day_a"), col("b.day").as("day_b"))
      .agg(count(lit(1)).as("exact_inter"))) // ≤days rows — see sk above
    pairs.join(exact, Seq("day_a", "day_b"))
      .withColumn("exact_anotb", col("nd_a") - col("exact_inter"))
      .withColumn("exact_union",
        col("nd_a") + col("nd_b") - col("exact_inter"))
      .withColumn("slack_inter",
        expr("exact_inter * 35 div 100 + 4"))
      .withColumn("slack_union",
        expr("exact_union * 35 div 100 + 4"))
      .select(col("day_a"), col("day_b"),
        col("exact_inter"), col("exact_anotb"), col("exact_union"),
        col("hi_inter"), col("hi_anotb"), col("hi_union"),
        col("nat_inter"), col("nat_anotb"), col("nat_union"),
        (col("lo_inter") >= col("exact_inter") - col("slack_inter") &&
          col("lo_inter") <= col("exact_inter") + col("slack_inter"))
          .cast("long").as("lo_inter_in_band"),
        (col("lo_union") >= col("exact_union") - col("slack_union") &&
          col("lo_union") <= col("exact_union") + col("slack_union"))
          .cast("long").as("lo_union_in_band"))
      .orderBy(col("day_a"))
  }

  /** Theta warehouse roll-up (q260) — the r18 verdict's #4: q258's
    * merge leg pins the KLL re-aggregation contract; this is the same
    * contract for SET sketches (the q166/q173 re-aggregatable-
    * warehouse story). Daily audience sketches roll up to WEEK grain
    * inside an aggregate — never re-touching the corpus — on BOTH
    * implementations:
    *   - native DataSketches Theta via Spark 4.1's `theta_union_agg`
    *     (lgk=12 — exact mode at gate cardinality, so the weekly
    *     estimate pins EQUAL to the exact weekly twin);
    *   - transparent KMV: bottom-k merge is pure SQL over the sorted
    *     `array<bigint>` sketch columns
    *     (`slice(array_sort(array_distinct(flatten(collect_list(…)))), 1, k)`
    *     — the bottom-k of a union of bottom-k sketches IS the
    *     union's bottom-k), at k=4096 (unsaturated ⇒ exact, pinned
    *     equal) and k=128 (saturated — the real estimation regime,
    *     banded with the in-band bit pinned to 1, the q20/q169 gate
    *     idiom).
    * The exact weekly twin is a second pass over the SAME persisted
    * (day, user) collapse (the q257 cache-release discipline); at
    * 100 TB the twin drops and the sketch warehouse IS the path —
    * per-week partials are ≤ 7 bounded sketch arrays.
    */
  def thetaWeeklyRollup(spark: SparkSession, dir: String): DataFrame =
      Materialize.scoped { s =>
    import graft.functions.ThetaSketch.{positionOf, theta_estimate}
    val F = org.apache.spark.sql.functions
    val weekExpr = "CAST(datediff(day, DATE'1970-01-01') div 7 AS BIGINT)"
    val ut = s.hold(Corpus.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      .persist())
    // Eager, ≤days rows — the q257 discipline.
    val daily = Materialize(ut.groupBy(col("day"))
      .agg(graft.functions.ThetaSketch
          .theta_sketch_agg(positionOf(col("user_id")), 4096).as("sk_hi"),
        graft.functions.ThetaSketch
          .theta_sketch_agg(positionOf(col("user_id")), 128).as("sk_lo"),
        F.theta_sketch_agg(col("user_id"), 12).as("sk_nat")))
    val exact = Materialize(ut.select(expr(weekExpr).as("week"), col("user_id"))
      .distinct()
      .groupBy(col("week")).agg(count(lit(1)).as("exact_nd")))
    val rolled = daily.withColumn("week", expr(weekExpr))
      .groupBy(col("week"))
      .agg(count(lit(1)).as("n_days"),
        F.theta_sketch_estimate(F.theta_union_agg(col("sk_nat"), 12))
          .cast("long").as("nat_weekly"),
        expr("slice(array_sort(array_distinct(flatten(" +
          "collect_list(sk_hi)))), 1, 4096)").as("sk_hi_w"),
        expr("slice(array_sort(array_distinct(flatten(" +
          "collect_list(sk_lo)))), 1, 128)").as("sk_lo_w"))
    rolled.join(exact, Seq("week"))
      .withColumn("hi_weekly",
        theta_estimate(col("sk_hi_w"), 4096).cast("long"))
      .withColumn("lo_weekly", theta_estimate(col("sk_lo_w"), 128))
      .withColumn("slack", expr("exact_nd * 35 div 100 + 4"))
      .select(col("week"), col("n_days"), col("exact_nd"),
        col("nat_weekly"), col("hi_weekly"),
        (col("lo_weekly") >= col("exact_nd") - col("slack") &&
          col("lo_weekly") <= col("exact_nd") + col("slack"))
          .cast("long").as("lo_in_band"))
      .orderBy(col("week"))
  }

  /** KLL sketch size for [[kllQuantiles]]: normalized rank error at
    * k=800 ≈ 0.45% (99% confidence, DataSketches KLL) — the ±2%-rank
    * exact bracket below is ≈11σ away, so the pinned in-band bits
    * hold at any realistic odds even though KLL compaction is
    * RANDOMIZED (measured: two runs over identical input differ in
    * the raw quantile — unlike HLL/approx_percentile, the sketch
    * VALUE is not even run-reproducible, so only bracket bits may
    * enter the row hash; the raw-value accuracy contract lives in
    * the AnalyticsSpec-style randomized test instead).
    */
  val KllK = 800
  val KllDelta = 0.02

  /** Native DataSketches KLL quantiles (q258) — Spark 4.1 ships the
    * KLL family (`kll_sketch_agg_/merge_/get_quantile_bigint`), the
    * production quantile sketch (mergeable, proven bounds; Karnin,
    * Lang, Liberty 2016) next to q96's older `approx_percentile`
    * (Greenwald–Khanna). Gate idiom = q96's exact-bracket: the
    * sketched p50/p90 per event type must land inside the exact
    * `percentile_disc` bracket [p−δ, p+δ] (δ = [[KllDelta]] rank),
    * in-band bits pinned to 1. The MERGE leg is the warehouse
    * contract (the q166/q173 re-aggregation story for quantiles):
    * two half-corpus sketches (event_id parity split, built in the
    * SAME one-pass aggregate) merge via `kll_sketch_merge_bigint`
    * and the merged p50 must sit in the same bracket; the sketch's
    * stream length n is exact and deterministic, pinned equal to the
    * group count. One corpus scan for sketches + exact brackets
    * together (one sort per group serves every percentile_disc cut —
    * the q115b argument); at 100 TB the exact twin drops and the
    * mergeable sketch IS the path.
    */
  def kllQuantiles(spark: SparkSession, dir: String): DataFrame =
    graft.Flaco.sql(spark, dir,
      s"""WITH b AS (SELECT event_type, event_id,
         |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
         |sk AS (SELECT event_type,
         |    kll_sketch_agg_bigint(x, $KllK) AS sk,
         |    kll_sketch_agg_bigint(CASE WHEN event_id % 2 = 0 THEN x END,
         |      $KllK) AS sk_even,
         |    kll_sketch_agg_bigint(CASE WHEN event_id % 2 = 1 THEN x END,
         |      $KllK) AS sk_odd,
         |    CAST(percentile_disc(${discP(0.5 - KllDelta)})
         |      WITHIN GROUP (ORDER BY x) AS BIGINT) AS lo50,
         |    CAST(percentile_disc(${discP(0.5 + KllDelta)})
         |      WITHIN GROUP (ORDER BY x) AS BIGINT) AS hi50,
         |    CAST(percentile_disc(${discP(0.9 - KllDelta)})
         |      WITHIN GROUP (ORDER BY x) AS BIGINT) AS lo90,
         |    CAST(percentile_disc(${discP(0.9 + KllDelta)})
         |      WITHIN GROUP (ORDER BY x) AS BIGINT) AS hi90,
         |    count(*) AS n
         |  FROM b GROUP BY event_type),
         |q AS (SELECT event_type, n, lo50, hi50, lo90, hi90,
         |    kll_sketch_get_quantile_bigint(sk, 0.5) AS k50,
         |    kll_sketch_get_quantile_bigint(sk, 0.9) AS k90,
         |    kll_sketch_get_quantile_bigint(
         |      kll_sketch_merge_bigint(sk_even, sk_odd), 0.5) AS m50,
         |    kll_sketch_get_n_bigint(sk) AS sketch_n
         |  FROM sk)
         |SELECT event_type, n, lo50, hi50, lo90, hi90,
         |  CAST(sketch_n AS BIGINT) AS sketch_n,
         |  CAST(CASE WHEN k50 BETWEEN lo50 AND hi50
         |    THEN 1 ELSE 0 END AS BIGINT) AS k50_in_band,
         |  CAST(CASE WHEN k90 BETWEEN lo90 AND hi90
         |    THEN 1 ELSE 0 END AS BIGINT) AS k90_in_band,
         |  CAST(CASE WHEN m50 BETWEEN lo50 AND hi50
         |    THEN 1 ELSE 0 END AS BIGINT) AS merged50_in_band
         |FROM q ORDER BY event_type""".stripMargin)

  /** Native TIME(6) time-of-day profile (q262) — the r18 verdict's #1
    * adopted at query level: Spark 4.1 ships a real TIME type (the
    * typed form of the reference's `Time64(Microsecond)` output arm,
    * reference `src/lib.rs:350-366`), and this gate exercises its
    * whole surface over the corpus — construction (`to_time` from the
    * integer µs-of-day twin), bucketing (`time_trunc('HOUR')`),
    * ordering (min/max on TIME), field access (`extract(SECOND)`,
    * `hour`/`minute`), reconstruction (`make_time` round-trip pinned
    * per row), and the TIME→DECIMAL seconds cast — against integer-µs
    * twin columns the oracle replays exactly. TIME-typed columns ride
    * the row hash natively: Spark's Parquet TIME(µs) output and
    * DuckDB's TIME both reach the comparator as `datetime.time`
    * values, so the comparison is value-level, not render-level
    * (DuckDB constructs its TIMEs by casting a zero-padded
    * `printf('%02d:%02d:%02d.%06d')` — exact string parse, never
    * float `make_time`). One scan, one hash aggregate on
    * (event_type, hour) — stateless per-row kernel the cores absorb;
    * at 100 TB the group count is bounded by types × 24.
    */
  /** q262's per-row TIME derivation as stream-composable columns —
    * the STATELESS leg qS12 runs at ingest (the qS11 shared-fragment
    * discipline: same µs arithmetic, same render-then-parse TIME
    * construction, so stream and batch cannot drift). Input: events
    * rows with `event_id` and a TIMESTAMP-typed `ts` (µs precision —
    * the corpus file's type; the UTC session makes µs-of-day
    * zone-unambiguous, exactly q262's own derivation).
    */
  def timeOfDayProjection(df: DataFrame): DataFrame =
    df.withColumn("us",
        expr("unix_micros(CAST(ts AS TIMESTAMP)) % 86400000000"))
      .withColumn("t", expr(
        "CASE WHEN us IS NULL THEN NULL ELSE " +
          "to_time(format_string('%02d:%02d:%02d.%06d', " +
          "us div 3600000000, (us div 60000000) % 60, " +
          "(us div 1000000) % 60, us % 1000000)) END"))
      .select(col("event_id"), col("us"), col("t"),
        expr("time_trunc('HOUR', t)").as("hour_t"),
        expr("CAST(extract(SECOND FROM t) * 1000000 AS BIGINT)")
          .as("sec_us_nat"),
        expr("us % 60000000").as("sec_us"))

  def timeOfDayProfile(spark: SparkSession, dir: String): DataFrame = {
    // Defensive: the TIME type resolves only behind this runtime-
    // settable flag (Flaco.session/Verify/Bench set it; a driver-built
    // session might not).
    spark.conf.set("spark.sql.timeType.enabled", "true")
    graft.Flaco.sql(spark, dir,
      """WITH b AS (SELECT event_type,
        |    unix_micros(CAST(ts AS TIMESTAMP)) % 86400000000 AS us
        |  FROM events),
        |n AS (SELECT event_type, us,
        |    to_time(format_string('%02d:%02d:%02d.%06d',
        |      us div 3600000000, (us div 60000000) % 60,
        |      (us div 1000000) % 60, us % 1000000)) AS t
        |  FROM b),
        |g AS (SELECT event_type, time_trunc('HOUR', t) AS hour_t, t, us,
        |    CAST(CASE WHEN make_time(hour(t), minute(t),
        |        CAST(us % 60000000 AS DECIMAL(8,0)) / 1000000) = t
        |      THEN 1 ELSE 0 END AS BIGINT) AS recon_ok
        |  FROM n)
        |SELECT event_type, hour_t,
        |  count(*) AS n,
        |  min(t) AS min_t, max(t) AS max_t,
        |  CAST(CAST(min(t) AS DECIMAL(17,6)) * 1000000 AS BIGINT)
        |    AS min_us_nat,
        |  min(us) AS min_us,
        |  sum(CAST(extract(SECOND FROM t) * 1000000 AS BIGINT))
        |    AS sec_us_nat,
        |  sum(us % 60000000) AS sec_us,
        |  sum(recon_ok) AS n_recon
        |FROM g GROUP BY event_type, hour_t
        |ORDER BY event_type, hour_t""".stripMargin)
  }

  /** Exact interpolated percentiles of event value per type (Spark
    * `percentile` == DuckDB `quantile_cont`: sort + linear
    * interpolation). For sketched quantiles at scale, swap in
    * `approx_percentile` the way [[approxUsers]] twins [[exactUsers]].
    */
  def valuePercentiles(spark: SparkSession, dir: String): DataFrame =
    Corpus.read(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** PG's MULTI-percentile ordered-set form (q115b) —
    * `percentile_cont(ARRAY[0.25,0.5,0.75,0.9]) WITHIN GROUP
    * (ORDER BY x)`: ONE sort per group serving many cut points,
    * the shape a reporting user reaches for immediately after the
    * scalar q115. Spark's array-fraction `percentile(x, array(…))`
    * is the same contract (single sort-based aggregate, one output
    * slot per fraction); the oracle runs DuckDB's native
    * `percentile_cont(ARRAY…) WITHIN GROUP`. Raw array columns
    * don't hash-compare stably cross-engine (the q121 finding), so
    * both sides extract the slots to scalar columns from the ONE
    * array-valued aggregate — the plan still computes a single
    * multi-cut sort, which is the surface under test. Integer-cent
    * inputs, rounded at 6 like q115 (interpolation-form ulp only).
    *
    * Scale: exact multi-percentile is a per-group sort — fine when
    * groups are many and modest (here); for corpus-scale groups the
    * sketch twin is `approx_percentile(x, array(…))` (q96's detail
    * shape), one mergeable pass, no sort.
    */
  def multiPercentiles(spark: SparkSession, dir: String): DataFrame =
    Corpus.read(spark, dir, "events")
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("x"))
      .groupBy(col("event_type"))
      .agg(
        expr("percentile(x, array(0.25D, 0.5D, 0.75D, 0.9D))").as("ps"),
        count(lit(1)).as("n"))
      .select(col("event_type"),
        round(col("ps")(0), 6).as("p25"),
        round(col("ps")(1), 6).as("p50"),
        round(col("ps")(2), 6).as("p75"),
        round(col("ps")(3), 6).as("p90"),
        col("n"))
      .orderBy(col("event_type"))

  /** PG `width_bucket` equi-width histogram (q137) over event values
    * — the reporting primitive behind every value-distribution chart.
    * Both the ascending form (underflow bucket 0, overflow n+1) and
    * PG's DESCENDING-bounds mirror are exercised on the same rows;
    * the bounds (50, 450, 8 buckets) land real events in all of
    * underflow/interior/overflow at both gate SFs, and the boundary
    * rows discriminate the two forms (ascending assigns v = lo to
    * bucket 1 via `>= lo`, descending assigns v = b2 to overflow via
    * `<= b2` — not a pure mirror). Exact-cent min/max per cell make
    * every edge assignment value-visible. The engine side is the
    * codegen'd [[graft.functions.WidthBucket]] kernel; the oracle
    * restates the published contract as CASE + floor arithmetic
    * (this DuckDB predates native width_bucket) — independent
    * encodings of PG's documented semantics.
    *
    * Scale: per-row projection fused into the scan + one map-side-
    * combinable count/min/max aggregate on a (5 × ~11)-key space —
    * the cheapest shape an aggregation can take.
    */
  def widthBucketHistogram(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.WidthBucketFunctions.width_bucket
    Corpus.read(spark, dir, "events")
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        width_bucket(col("value"), lit(50.0), lit(450.0), lit(8))
          .as("b_asc"),
        width_bucket(col("value"), lit(450.0), lit(50.0), lit(8))
          .as("b_desc"))
      .groupBy(col("event_type"), col("b_asc"), col("b_desc"))
      .agg(count(lit(1)).as("n"), min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"))
      .orderBy(col("event_type"), col("b_asc"), col("b_desc"))
  }

  /** Statistical aggregate battery per event type: sample
    * stddev/variance, exact median (sort + midpoint interpolation in
    * both engines), Pearson correlation and sample covariance against
    * the user id — the PG aggregate surface beyond sums/counts. All
    * are single-pass mergeable aggregates (Spark's parallel moment
    * merge); moments are rounded at 4 because merge ORDER legitimately
    * perturbs the low bits across engines (the values are ~1e2-1e4, so
    * 1e-4 is far above fp noise and far below any semantic drift);
    * the median interpolates two exact doubles and rounds at 6.
    */
  def statsAgg(spark: SparkSession, dir: String): DataFrame =
    Corpus.read(spark, dir, "events")
      .withColumn("uid_d", col("user_id").cast("double"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(stddev_samp(col("value")), 4).as("sd"),
        round(var_samp(col("value")), 4).as("vr"),
        round(median(col("value")), 6).as("med"),
        round(corr(col("value"), col("uid_d")), 4).as("corr_uid"),
        round(covar_samp(col("value"), col("uid_d")), 4).as("cov_uid"))
      .orderBy(col("event_type"))

  /** The shared [[Exact]] conventions applied to this table's
    * columns (ts → µs epoch, value → cents).
    */
  private def micros = Exact.micros
  private def cents = Exact.cents(col("value"))

  /** GROUPS window-frame mode + frame EXCLUDE, emulated — Spark has
    * neither (only ROWS and RANGE; no EXCLUDE clause), but both are
    * PG window surface behind the reference's opaque-SQL delegation,
    * so they get an emulation gate instead of a documented absence:
    *
    *  - GROUPS n PRECEDING AND m FOLLOWING ≡ RANGE BETWEEN n
    *    PRECEDING AND m FOLLOWING over `dense_rank()` of the ORDER
    *    key (peer groups are exactly the dense-rank levels);
    *  - EXCLUDE GROUP / CURRENT ROW / TIES ≡ subtracting the peer
    *    sum (a RANGE CURRENT ROW..CURRENT ROW frame — the peers —
    *    over the SAME sort, no extra shuffle) and/or the row's own
    *    value from the inclusive frame sum.
    *
    * The aggregated column (user_id) is deliberately different from
    * the ORDER key (cents) so the three EXCLUDE variants are
    * value-distinguishable even inside a tie group. The oracle
    * derives the frame from FIRST PRINCIPLES — equi-joins
    * materializing "rows whose x is mine or the previous distinct x"
    * with FILTER aggregates per EXCLUDE variant (this DuckDB predates
    * native GROUPS mode; the set-based encoding is the stronger
    * check anyway). All Long-exact.
    *
    * Plan shape: one shuffle on event_type; dense_rank + peer_sum
    * share the (event_type, x) sort, the frame sum re-sorts the same
    * partitions by dr without re-exchanging — O(1) window state per
    * row at any scale.
    */
  def groupsFrames(spark: SparkSession, dir: String): DataFrame =
    groupsFramesOf(corpusFrameInput(spark, dir))

  /** q110b: the SAME emulation at `GROUPS 3 PRECEDING AND 1
    * FOLLOWING` — the generalized bounds q110's n=1 gate never
    * exercises (following groups, multi-group spans, frames clipped
    * at both partition edges). Same oracle style: first-principles
    * set membership, extended from "my x or the previous distinct x"
    * to a dense-rank band join.
    */
  def groupsFramesWide(spark: SparkSession, dir: String): DataFrame =
    groupsFramesOf(corpusFrameInput(spark, dir), nPreceding = 3,
      nFollowing = 1)

  private def corpusFrameInput(spark: SparkSession, dir: String): DataFrame =
    Corpus.read(spark, dir, "events")
      .select(col("event_id"), col("event_type"), cents.as("x"),
        col("user_id").as("w"))

  /** The emulation core over any `(event_id, event_type, x, w)` frame
    * — separated from the corpus wrapper so GroupsFrameSpec can
    * drive randomized shapes (all-tie partitions, singletons) AND
    * randomized bounds through it against a brute-force frame
    * replay. Frame = GROUPS `nPreceding` PRECEDING AND `nFollowing`
    * FOLLOWING (both ≥ 0, so the current row's peer group is always
    * inside the inclusive frame — the EXCLUDE algebra below relies
    * on that).
    */
  def groupsFramesOf(rows: DataFrame, nPreceding: Int = 1,
      nFollowing: Int = 0): DataFrame = {
    require(nPreceding >= 0 && nFollowing >= 0,
      "GROUPS emulation requires non-negative bounds")
    val byX = Window.partitionBy(col("event_type")).orderBy(col("x"))
    val peers = byX.rangeBetween(Window.currentRow, Window.currentRow)
    val byDr = Window.partitionBy(col("event_type")).orderBy(col("dr"))
      .rangeBetween(-nPreceding.toLong, nFollowing.toLong)
    rows
      .withColumn("dr", dense_rank().over(byX).cast("long"))
      .withColumn("peer_sum", sum(col("w")).over(peers))
      .withColumn("peer_cnt", count(lit(1)).over(peers))
      .withColumn("g_sum", sum(col("w")).over(byDr))
      .withColumn("g_cnt", count(lit(1)).over(byDr))
      // An EXCLUDE that empties the frame is SUM over nothing = NULL
      // in SQL, which plain subtraction would render as 0: EXCLUDE
      // GROUP empties iff the frame held ONLY the current peer group
      // (frame count = peer count — at any bounds); EXCLUDE CURRENT
      // ROW empties iff the frame was exactly this row (frame count
      // = 1). EXCLUDE TIES keeps the current row, so its frame is
      // never empty.
      .select(col("event_id"), col("event_type"), col("x"), col("w"),
        col("g_sum"),
        when(col("g_cnt") === col("peer_cnt"), lit(null).cast("long"))
          .otherwise(col("g_sum") - col("peer_sum")).as("x_group"),
        when(col("g_cnt") === 1, lit(null).cast("long"))
          .otherwise(col("g_sum") - col("w")).as("x_row"),
        (col("g_sum") - col("peer_sum") + col("w")).as("x_ties"))
      .orderBy(col("event_id"))
  }

  /** IGNORE NULLS window offsets (q118) — the standard's spelling of
    * carry-forward/carry-back over sparse observations (the idiom
    * [[Temporal.gapFillHourly]] builds on, here gated explicitly):
    * value nulled on every event_id ≡ 0 (mod 3), then last/lag/lead/
    * first with `ignoreNulls = true` over the total per-user
    * (us, event_id) order. The oracle is DuckDB's
    * `f(x IGNORE NULLS)` syntax — an independent encoding (PG has no
    * IGNORE NULLS at all; this is delegated-surface PLUS). One
    * shuffle on user_id; every function is O(1)-or-one-lookahead
    * state under sort-based WindowExec.
    */
  def ignoreNullsWindows(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Corpus.read(spark, dir, "events")
      .select(col("user_id"), col("event_id"), micros.as("us"),
        when(col("event_id") % 3 === 0, lit(null).cast("long"))
          .otherwise(cents).as("v"))
      .select(col("user_id"), col("event_id"), col("v"),
        last(col("v"), ignoreNulls = true).over(running).as("carry"),
        lag(col("v"), 1, null, ignoreNulls = true).over(w).as("prev_nn"),
        lead(col("v"), 1, null, ignoreNulls = true).over(w).as("next_nn"),
        first(col("v"), ignoreNulls = true).over(running).as("first_nn"))
      .orderBy(col("event_id"))
  }

  /** PG 14's `date_bin(stride, ts, origin)` (q132) — arbitrary-stride
    * time bucketing anchored at an arbitrary origin, the surface
    * behind downsampling to "every 15 minutes starting at :05".
    * Spark has window()/date_trunc but no origin-anchored bin, so
    * the engine computes it EXACTLY in integer micros:
    * origin + ((us − origin) div stride) · stride — one codegen'd
    * projection, no shuffle (the `div` idiom, never double division:
    * IEEE rounding mis-buckets near boundaries). The oracle is
    * DuckDB's NATIVE `time_bucket(INTERVAL, ts, origin)` —
    * independent encodings. The :05 origin and 15-minute stride make
    * a wrong origin shift every bucket boundary, value-visible on
    * every row. Caveat the gate corpus never hits: integer `div`
    * truncates toward zero, so timestamps BEFORE the origin would
    * bin one stride high vs PG/time_bucket's floor — binning a
    * pre-origin corpus needs `floor_div` (subtract (stride−1) from
    * negative deltas first).
    */
  def dateBin(spark: SparkSession, dir: String): DataFrame = {
    val strideUs = 15L * 60 * 1000 * 1000
    val originUs = 5L * 60 * 1000 * 1000 // 1970-01-01 00:05:00 UTC
    Corpus.read(spark, dir, "events")
      .select(col("event_id"), micros.as("us"))
      .withColumn("bin_us",
        lit(originUs) +
          expr(s"((us - ${originUs}L) div ${strideUs}L) * ${strideUs}L"))
      .select(col("event_id"), col("us"), col("bin_us"))
      .orderBy(col("event_id"))
  }

  /** PG's `array_agg(x ORDER BY …)` ordered-aggregate surface
    * (q121): Spark's collect_list has NO order contract, so the
    * engine encodes the ordering deterministically — collect structs
    * keyed by the total (us, event_id) order, `array_sort` (struct
    * ordering is field-lexicographic, and the key prefix is unique
    * per user), slice the first 5, fingerprint as md5 of the joined
    * values (the q70 idiom: raw array columns don't hash-compare
    * stably cross-engine; a fingerprint plus the first element and
    * count do). The oracle is DuckDB's NATIVE
    * `array_agg(… ORDER BY …)` with list slicing — independent
    * encodings. Scale note: per-key collect_list materializes the
    * group (bounded here by ~67 events/user at any SF); for
    * unbounded keys the right shapes are the q62 TopKRows bounded
    * heap or a window — collect-then-slice is the documented
    * anti-pattern at scale, the gate's fixture is bounded by
    * construction.
    */
  def orderedArrayAgg(spark: SparkSession, dir: String): DataFrame =
    Corpus.read(spark, dir, "events")
      .select(col("user_id"), col("event_id"), micros.as("us"),
        cents.as("x"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        collect_list(struct(col("us"), col("event_id"), col("x")))
          .as("obs"))
      .select(col("user_id"), col("n_events"),
        element_at(array_sort(col("obs")), 1).getField("x").as("first_x"),
        md5(array_join(
          transform(slice(array_sort(col("obs")), 1, 5),
            e => e.getField("x").cast("string")), " ")).as("first5_fp"))
      .orderBy(col("user_id"))

  /** PG's `json_agg(x ORDER BY …)` export surface (q136): aggregate
    * rows into a JSON ARRAY document — the "ship a grouped payload
    * to an API/doc store" ELT step. Ordering is ENCODED exactly as
    * q121 (collect structs keyed by the unique (us, event_id)
    * prefix, array_sort, slice) and the serialized text is Spark's
    * `to_json` over the sliced array — compact `[{"u":…,"x":…}]`
    * with struct-declaration key order, which DuckDB's
    * `to_json(array_agg(struct_pack(…) ORDER BY …)[1:3])` prints
    * byte-identically, so the gate hash covers the exact JSON BYTES
    * both engines emit. Integer-only payload fields keep number
    * formatting trivially identical (doubles would re-open the
    * engine-formatting question and belong behind an explicit
    * round/CAST).
    */
  def orderedJsonAgg(spark: SparkSession, dir: String): DataFrame =
    Corpus.read(spark, dir, "events")
      .select(col("user_id"), col("event_id"), micros.as("us"),
        cents.as("x"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        collect_list(struct(col("us"), col("event_id"), col("x")))
          .as("obs"))
      .select(col("user_id"), col("n_events"),
        to_json(transform(slice(array_sort(col("obs")), 1, 3),
          e => struct(e.getField("us").as("u"), e.getField("x").as("x"))))
          .as("first3_json"))
      .orderBy(col("user_id"))

  /** Ordered conversion funnel view → click → purchase: a user
    * reaches stage 2 only with a click STRICTLY AFTER their first
    * view, stage 3 only with a purchase strictly after that first
    * qualifying click. The naive `min(ts) per type` funnel overcounts
    * (a click before any view would qualify); the ordered form is the
    * one product analytics actually means.
    *
    * Shape: three per-user min-aggregates chained by equi-joins on
    * user_id — each stage's input is the previous stage's survivor
    * set, so the frontier shrinks monotonically. All three aggregates
    * are map-side combinable; the joins are user-cardinality vs
    * event-cardinality on the same key (AQE broadcasts the survivor
    * side when it is small; at cluster scale they hash-join
    * co-partitioned on user_id — no plan rewrite needed at 1000×).
    * The gate output is stage-level: row count, user-id sum and
    * stage-timestamp sum as exact integer identities over WHICH users
    * converted and WHEN.
    */
  /** The chained per-user funnel frames (first view, first click
    * after it, first purchase after that) — shared by
    * [[funnelStages]] (unbounded) and [[userProfiles]] (horizon-
    * bounded: each step must convert within `horizonUs`).
    */
  private def funnelFrames(spark: SparkSession, dir: String,
      horizonUs: Option[Long] = None): (DataFrame, DataFrame, DataFrame) = {
    val e = Corpus.read(spark, dir, "events")
      .select(col("user_id"), col("event_type"), micros.as("us"))
    def within(prev: String): Column =
      horizonUs.map(h => col("us") <= col(prev) + h).getOrElse(lit(true))
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
    val clicks = e.filter(col("event_type") === "click")
      .join(views, "user_id").where(col("us") > col("t1") && within("t1"))
      .groupBy(col("user_id")).agg(min(col("us")).as("t2"))
    val purchases = e.filter(col("event_type") === "purchase")
      .join(clicks, "user_id").where(col("us") > col("t2") && within("t2"))
      .groupBy(col("user_id")).agg(min(col("us")).as("t3"))
    (views, clicks, purchases)
  }

  def funnelStages(spark: SparkSession, dir: String): DataFrame = {
    val (views, clicks, purchases) = funnelFrames(spark, dir)
    def stage(df: DataFrame, name: String, ts: String): DataFrame =
      df.agg(count(lit(1)).as("n_users"),
        sum(col("user_id")).as("uid_sum"),
        sum(col(ts)).as("ts_us_sum"))
        .select(lit(name).as("stage"), col("n_users"), col("uid_sum"),
          col("ts_us_sum"))
    stage(views, "1_view", "t1")
      .unionAll(stage(clicks, "2_click", "t2"))
      .unionAll(stage(purchases, "3_purchase", "t3"))
      .orderBy(col("stage"))
  }

  /** Rolling z-score anomaly flags: each event against the trailing
    * 24-event window (23 preceding + current) of its user's stream,
    * flagged when |x − μ| > 2σ (population σ over the window). The
    * whole test is INTEGER-EXACT: with cents x, S1 = Σx, S2 = Σx²
    * over the window of size n, the flag is
    * `(n·x − S1)² > 4·(n·S2 − S1²)` — both sides Long (cents ≤ 56k,
    * n ≤ 24 ⇒ n·S2 ≤ 2e15), so no float σ ever exists to disagree
    * on. The gate emits n/S1/S2 so the oracle pins the window sums
    * themselves, not just the flag.
    *
    * Shape: one window pass per user ordered by (us, event_id) — a
    * total order, so frames are deterministic. Running ROWS sums are
    * O(1) per row in both engines; state per partition is the 24-row
    * frame. Scale = q10's running-window shape: one shuffle by
    * user_id, no self-join.
    */
  def rollingAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(-23, Window.currentRow)
    Corpus.read(spark, dir, "events")
      .select(col("event_id"), col("user_id"), micros.as("us"),
        cents.as("x"))
      .withColumn("n_w", count(lit(1)).over(w))
      .withColumn("s1", sum(col("x")).over(w))
      .withColumn("s2", sum(col("x") * col("x")).over(w))
      .withColumn("anom",
        when((col("n_w") * col("x") - col("s1")) *
          (col("n_w") * col("x") - col("s1")) >
          lit(4L) * (col("n_w") * col("s2") - col("s1") * col("s1")),
          lit(1L)).otherwise(lit(0L)))
      .orderBy(col("event_id"))
  }

  /** KLL-style sketch accuracy knob for [[approxPercentiles]] — named
    * so the accuracy spec bounds against the SAME constant (the
    * [[ApproxRsd]] pattern): rank error ≤ n / accuracy.
    */
  val ApproxPercentileAccuracy = 10000

  /** Raw sketch quantiles over the double value domain — the probe
    * AnalyticsSpec bounds with the rank-error contract (rank error ≤
    * n/[[ApproxPercentileAccuracy]]). Not the gated shape: sketch
    * VALUES are engine-specific; [[approxPercentiles]] is the
    * hash-comparable projection.
    */
  def approxPercentilesDetail(spark: SparkSession, dir: String): DataFrame =
    Corpus.read(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(expr(s"approx_percentile(value, array(0.5, 0.9), " +
        s"$ApproxPercentileAccuracy)").as("approx_p"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("approx_p")(0).as("ap50"),
        col("approx_p")(1).as("ap90"), col("n"))
      .orderBy(col("event_type"))

  /** Approximate percentiles per event type, gated like [[approxUsers]]:
    * the output is the EXACT `percentile_disc` bracket [p−δ, p+δ]
    * (δ = 0.01 in rank probability) around each sketched quantile,
    * in integer cents, plus `in_band` flags the oracle emits as `1`.
    * The rank-error contract (rank ∈ p·n ± n/accuracy) guarantees the
    * sketch value sits inside the bracket whenever δ·n ≥ n/accuracy
    * + 1 — i.e. any group of ≥ 102 rows at accuracy 10000; the gate
    * corpora have ≥ 2 000 per type, and AnalyticsSpec holds the far
    * tighter ±(n/accuracy + 1)-rank bound on the raw sketch.
    * `approx_percentile` stays the scale path: a mergeable sketch —
    * one pass, bounded memory, no global sort at any parallelism.
    */
  def approxPercentiles(spark: SparkSession, dir: String): DataFrame =
    graft.Flaco.sql(spark, dir,
      s"""WITH b AS (SELECT event_type,
         |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
         |p AS (SELECT event_type,
         |    approx_percentile(x, array(0.5, 0.9),
         |      $ApproxPercentileAccuracy) AS ap,
         |    CAST(percentile_disc(${discP(0.5 - DiscDelta)}) WITHIN GROUP (ORDER BY x)
         |      AS BIGINT) AS lo50,
         |    CAST(percentile_disc(${discP(0.5 + DiscDelta)}) WITHIN GROUP (ORDER BY x)
         |      AS BIGINT) AS hi50,
         |    CAST(percentile_disc(${discP(0.9 - DiscDelta)}) WITHIN GROUP (ORDER BY x)
         |      AS BIGINT) AS lo90,
         |    CAST(percentile_disc(${discP(0.9 + DiscDelta)}) WITHIN GROUP (ORDER BY x)
         |      AS BIGINT) AS hi90,
         |    count(*) AS n
         |  FROM b GROUP BY event_type)
         |SELECT event_type, n, lo50, hi50, lo90, hi90,
         |  CAST(CASE WHEN ap[0] BETWEEN lo50 AND hi50
         |    THEN 1 ELSE 0 END AS BIGINT) AS ap50_in_band,
         |  CAST(CASE WHEN ap[1] BETWEEN lo90 AND hi90
         |    THEN 1 ELSE 0 END AS BIGINT) AS ap90_in_band
         |FROM p ORDER BY event_type""".stripMargin)

  /** Time-weighted average value per user — the metric that matters
    * when observations are irregularly spaced (a value held for six
    * hours must weigh more than one held for a minute; the plain
    * mean is sampling-rate-biased). Each event's value is held until
    * the next event: `num = Σ xᵢ·(tᵢ₊₁ − tᵢ)`, `den = t_n − t_1`,
    * TWA = num/den — emitted as the exact Long pair plus the
    * truncated cents quotient (cents ≤ 56k × span µs ≤ 2.6e12 ⇒
    * num ≤ 1.5e17, Long-safe; no float accumulation to disagree on).
    *
    * One lead() window pass per user over the total (us, event_id)
    * order, then one hash aggregate — the q10 running-window shape.
    * Single-event users have den = 0 (no held interval) and are
    * excluded by contract.
    */
  def timeWeightedAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    Corpus.read(spark, dir, "events")
      .select(col("user_id"), col("event_id"), micros.as("us"),
        cents.as("x"))
      .withColumn("dt", lead(col("us"), 1).over(w) - col("us"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("x") * col("dt")).as("num"),
        (max(col("us")) - min(col("us"))).as("den"))
      .filter(col("den") > 0)
      .withColumn("twa_cents", expr("num div den"))
      .orderBy(col("user_id"))
  }

  /** [[userProfiles]]' step-conversion horizon: 6 hours in µs,
    * shared by name with the oracle SQL.
    */
  val ProfileHorizonUs: Long = 6L * 3600 * 1000000L

  /** The composed event-analytics pipeline — the events-side twin of
    * the document pipelines (q42/q52/q58): per-user profiles built
    * from two proven operators (30-minute [[sessions]] windows
    * collapsed to a session count; the chained ordered funnel),
    * then summarized per funnel stage reached (0 = never viewed).
    * The funnel here is horizon-bounded ([[ProfileHorizonUs]]: each
    * step must convert within 6 hours of the previous one) — the
    * unbounded q83 funnel saturates on this corpus (every user
    * eventually does everything), which would make the profile
    * degenerate. One declarative plan: every stage is a map-side-
    * combinable aggregate or a user_id equi-join — the same key end
    * to end, so at cluster scale the joins co-partition on one
    * shuffle chain. uid/session sums are exact integer identities
    * over WHICH users landed in each stage.
    */
  def userProfiles(spark: SparkSession, dir: String): DataFrame = {
    val (views, clicks, purchases) =
      funnelFrames(spark, dir, Some(ProfileHorizonUs))
    val nSessions = Corpus.read(spark, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_sessions"))
    nSessions
      .join(views.withColumn("v", lit(1L)), Seq("user_id"), "left")
      .join(clicks.withColumn("c", lit(1L)), Seq("user_id"), "left")
      .join(purchases.withColumn("p", lit(1L)), Seq("user_id"), "left")
      .withColumn("stage",
        when(col("p").isNotNull, lit(3L))
          .when(col("c").isNotNull, lit(2L))
          .when(col("v").isNotNull, lit(1L)).otherwise(lit(0L)))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_users"), sum(col("user_id")).as("uid_sum"),
        sum(col("n_sessions")).as("sessions_sum"))
      .orderBy(col("stage"))
  }

  /** Retention curve — product analytics' standard cohort question:
    * of the users first active on day d₀, how many return on day
    * d₀+k? Stated over distinct (user, epoch-day) activity pairs:
    * the distinct collapse is the map-side-combinable volume killer
    * (event count → at most users × days rows), first-day is a
    * per-user min, and the offset histogram is one final hash
    * aggregate. Offset 0 counts every user by construction — the
    * curve's denominator. All epoch-day integer math; the uid sum
    * pins WHICH users were retained, not just how many.
    */
  def retentionCurve(spark: SparkSession, dir: String): DataFrame = {
    // Integer `div`, never `/`: Column./ on longs is IEEE double
    // division, which rounds a 1 µs-before-midnight timestamp into
    // the NEXT day once epoch-µs outgrows double precision (the
    // Corpus.scala nanos trap, same failure mode).
    val days = Corpus.read(spark, dir, "events")
      .select(col("user_id"), Exact.microsDiv(86400000000L).as("day"))
      .distinct()
    val first = days.groupBy(col("user_id")).agg(min(col("day")).as("d0"))
    days.join(first, "user_id")
      .select(col("user_id"), (col("day") - col("d0")).as("day_offset"))
      .groupBy(col("day_offset"))
      .agg(count(lit(1)).as("n_users"), sum(col("user_id")).as("uid_sum"))
      .orderBy(col("day_offset"))
  }

  /** Inter-arrival time distribution per event type: consecutive-gap
    * µs bucketed by floor(log2) — the burstiness/periodicity profile
    * behind rate limiting and bot detection. The gap comes from ONE
    * lag() window over the total (us, event_id) per-user order; the
    * bucket is the q81 binary-string-length trick (integer-exact —
    * float log2 rounds wrong at exact powers of two); zero gaps
    * (same-µs events) take bucket −1 by convention. One shuffle by
    * user_id, then a map-side-combinable histogram aggregate to
    * ≤ types × ~45 rows.
    */
  def interArrival(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    Corpus.read(spark, dir, "events")
      .select(col("event_type"), col("user_id"), col("event_id"),
        micros.as("us"))
      .withColumn("dt", col("us") - lag(col("us"), 1).over(w))
      .filter(col("dt").isNotNull)
      .withColumn("bucket",
        when(col("dt") === 0, lit(-1L))
          .otherwise((length(bin(col("dt"))) - 1).cast("long")))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("dt")).as("sum_dt_us"))
      .orderBy(col("event_type"), col("bucket"))
  }

  /** Share-of-total per event type (ratio-to-report) — stated
    * scale-honestly: the textbook `sum(x) OVER ()` window puts the
    * whole relation in ONE window partition (a single task), so the
    * total instead comes from a second map-side-combinable aggregate
    * broadcast back via a one-row cross join (the q95 boundary
    * pattern). Shares are exact integer ppm of cents — no float
    * division to disagree on.
    */
  def typeShares(spark: SparkSession, dir: String): DataFrame = {
    val base = Corpus.read(spark, dir, "events")
      .select(col("event_type"), cents.as("x"))
    val perType = base.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("type_cents"))
    val total = base.agg(sum(col("x")).as("total_cents"),
      count(lit(1)).as("total_n"))
    perType.crossJoin(broadcast(total))
      .select(col("event_type"), col("n"), col("type_cents"),
        expr("type_cents * 1000000 div total_cents").as("cents_ppm"),
        expr("n * 1000000 div total_n").as("count_ppm"))
      .orderBy(col("event_type"))
  }

  /** Fixed-width value histogram per event type via `width_bucket`
    * over integer cents (lo 0, hi 60 000, 24 buckets of 2 500). The
    * oracle restates the bucket as `1 + cents div 2500` — an
    * independent encoding of the same binning (the q46/q80 pattern):
    * boundaries are exact multiples of 2500, cents are exact Longs,
    * and at those boundaries double division is exact, so the two
    * formulations cannot drift ON THE DOMAIN WHERE THEY AGREE,
    * cents ∈ [0, 62 500): outside it width_bucket clamps to the
    * under/overflow buckets 0 and 25 while the div form keeps
    * counting. The corpus is pinned well inside that domain
    * (values ≤ 560.21 ⇒ cents ≤ 56 021; AnalyticsSpec asserts no
    * bucket escapes 1..24, so a corpus regeneration that breaks the
    * precondition fails the spec before it can skew the gate). One
    * scan + one map-side-combinable hash aggregate; output is
    * ≤ types×24 rows at any corpus size.
    */
  def valueBuckets(spark: SparkSession, dir: String): DataFrame =
    Corpus.read(spark, dir, "events")
      .select(col("event_type"), cents.as("x"))
      .withColumn("bucket",
        width_bucket(col("x").cast("double"), lit(0d), lit(60000d), lit(24))
          .cast("long"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sum_cents"))
      .orderBy(col("event_type"), col("bucket"))

  /** Longest consecutive-day activity streak per user (q151) — the
    * gaps-and-islands idiom (day_number − row_number is constant
    * within a consecutive run), the standard SQL shape for streaks /
    * uptime runs / consecutive-login analytics that no single window
    * function expresses directly. Stages, each map-side-combinable
    * or one co-partitioned window: distinct (user, day) FIRST (event
    * volume collapses to ≤ users × days rows before any window —
    * the q102 discipline), the run-id projection over one per-user
    * window, a per-(user, run) aggregate, and a per-user argmax
    * (`max_by` on (len, −start): longest streak, earliest start on
    * ties — deterministic). Day numbers are exact integer
    * `datediff` from a fixed epoch; the oracle re-derives runs with
    * its own date_diff/row_number — same idiom, independently
    * spelled (3-arg date_diff, interval day arithmetic).
    */
  def longestStreak(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    Corpus.read(spark, dir, "events")
      .select(col("user_id"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .cast("long").as("day"))
      .distinct()
      .withColumn("run", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("run"))
      .agg(count(lit(1)).as("len"), min(col("day")).as("start_day"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_streaks"),
        sum(col("len")).as("n_active_days"),
        max(col("len")).as("best_len"),
        max_by(col("start_day"), struct(col("len"), -col("start_day")))
          .as("best_start_day"))
      .orderBy(col("user_id"))
  }

  /** Activity power-law fit (q206) — does per-user event volume
    * follow the Zipf-ish heavy tail every healthy product shows, or
    * has a bot cohort bent it? The classic check is a straight line
    * on the log–log activity histogram; the slope/intercept/R² come
    * from the regr_* aggregates over it.
    *
    * Float discipline (the q130/q167 rule): the histogram (k events →
    * n_users) is exact-integer via two hash aggregates; ln() is
    * applied once per HISTOGRAM row (≤ distinct-activity-levels rows,
    * never per user) and rounded to 1e-6 BEFORE the regression on
    * both engines, so libm's last bit cannot flip the fit; the three
    * fit statistics are rounded to 1e-6 after. The regression runs
    * over a bounded relation, so aggregation-order float drift has
    * no corpus-sized sum to accumulate in.
    */
  def activityPowerlaw(spark: SparkSession, dir: String): DataFrame =
    Corpus.read(spark, dir, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_users"))
      .select(col("k"), col("n_users"),
        round(log(col("k").cast("double")), 6).as("lk"),
        round(log(col("n_users").cast("double")), 6).as("ln_n"))
      .agg(count(lit(1)).as("n_points"),
        sum(col("n_users") * col("k")).as("n_events"),
        round(expr("regr_slope(ln_n, lk)"), 6).as("slope"),
        round(expr("regr_intercept(ln_n, lk)"), 6).as("intercept"),
        round(expr("regr_r2(ln_n, lk)"), 6).as("r2"))

  /** RFM segmentation (q209) — the classic recency/frequency/monetary
    * user partitioning, stated the way it SCALES: quintile membership
    * comes from comparing each user's metric to the four
    * `percentile_disc` cutpoints (one bounded aggregate, broadcast
    * back — exact integer compares), NOT from a global `ntile` whose
    * single-partition total sort is the textbook formulation's
    * scale-killer. Ties land on the same side of every cutpoint in
    * both engines, so membership is deterministic without a global
    * order. Output is the 5×5×5-bounded segment table.
    */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    // The per-user rollup feeds three consumers (the as-of anchor, the
    // cutpoint aggregate, the final assignment); without a persist the
    // declarative plan re-derives it per consumer — each a full raw
    // scan. Persisting the USER-sized relation (MEMORY_AND_DISK —
    // spillable, ~32 bytes/user) makes the raw event corpus scan
    // exactly once at any scale.
    val byUser = Corpus.read(spark, dir, "events")
      .select(col("user_id"), col("ts"), cents.as("x"))
      .groupBy(col("user_id"))
      .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("f"),
        sum(col("x")).as("m"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val asof = byUser.agg(max(col("last_ts")).as("asof"))
    val r = byUser.crossJoin(broadcast(asof))
      .select(col("user_id"),
        datediff(col("asof").cast("date"), col("last_ts").cast("date"))
          .cast("long").as("rec"),
        col("f"), col("m"))
    def cuts(c: String) = Seq(0.2, 0.4, 0.6, 0.8).zipWithIndex.map {
      case (p, i) =>
        expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY $c)")
          .cast("long").as(s"${c}_c$i")
    }
    val cutpoints = r.agg(cuts("rec").head,
      (cuts("rec").tail ++ cuts("f") ++ cuts("m")): _*)
    def quint(c: String) = (0 until 4).map(i =>
      (col(c) > col(s"${c}_c$i")).cast("long")).reduce(_ + _) + lit(1L)
    r.crossJoin(broadcast(cutpoints))
      .select(col("user_id"), col("f"), col("m"),
        quint("rec").as("r_q"), quint("f").as("f_q"), quint("m").as("m_q"))
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_users"), sum(col("f")).as("sum_events"),
        sum(col("m")).as("sum_cents"))
      .orderBy(col("r_q"), col("f_q"), col("m_q"))
  }

  /** Winsorized / trimmed robust statistics per event type (q211) —
    * the outlier-resistant location estimates monitoring relies on
    * when `avg` is one fat-finger away from useless: clamp to the
    * exact [p05, p95] `percentile_disc` band (winsorize) or drop
    * outside it (trim). All sums are integer cents, the band
    * endpoints are actual data elements, and the reported means are
    * truncated integer quotients — nothing floats. Shape: one
    * bounded percentile aggregate per type, broadcast back into one
    * scan + hash aggregate.
    */
  def trimmedStats(spark: SparkSession, dir: String): DataFrame = {
    val b = Corpus.read(spark, dir, "events")
      .select(col("event_type"), cents.as("x"))
    val p = b.groupBy(col("event_type"))
      .agg(expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY x)")
          .cast("long").as("p05"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY x)")
          .cast("long").as("p95"))
    b.join(broadcast(p), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("p05")).as("p05"), min(col("p95")).as("p95"),
        sum(least(greatest(col("x"), col("p05")), col("p95")))
          .as("winsor_sum"),
        sum(when(col("x").between(col("p05"), col("p95")), 1L)
          .otherwise(0L)).as("n_trim"),
        sum(when(col("x").between(col("p05"), col("p95")), col("x")))
          .as("trim_sum"))
      .withColumn("winsor_cents", expr("winsor_sum div n"))
      .withColumn("trim_cents", expr("trim_sum div n_trim"))
      .orderBy(col("event_type"))
  }

  /** Period-over-period revenue report (q220) — the daily business
    * report every warehouse renders: revenue per calendar day with
    * day-over-day and week-over-week deltas and permille changes.
    * The day spine is DENSE (sequence over the observed min..max
    * date — the q124 spine composed in), so a silent day reports 0
    * and the lag really means "yesterday", not "previous row with
    * data". All integer cents; pct change = delta×1000 div prior,
    * NULL when the prior period is zero (permille of nothing is not
    * 0). One aggregate to days, windows over the days-sized spine.
    */
  def periodOverPeriod(spark: SparkSession, dir: String): DataFrame = {
    val daily = Corpus.read(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(col("ts").cast("date").as("day"))
      .agg(sum(cents).as("rev"), count(lit(1)).as("n_purchases"))
    val spine = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val w = Window.orderBy(col("day"))
    // Deltas can be negative and Spark's `div` truncates toward zero
    // while DuckDB's `//` floors — the permille is stated as
    // sign × (|delta|×1000 div prior), where both engines agree.
    spine.join(daily, Seq("day"), "left")
      .select(col("day"),
        coalesce(col("rev"), lit(0L)).as("rev"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
      .withColumn("prev1", lag(col("rev"), 1).over(w))
      .withColumn("prev7", lag(col("rev"), 7).over(w))
      .withColumn("rev_dod", col("rev") - col("prev1"))
      .withColumn("rev_wow", col("rev") - col("prev7"))
      .withColumn("dod_permille",
        when(col("prev1") > 0,
          (when(col("rev_dod") < 0, -1L).otherwise(1L) *
            expr("abs(rev_dod) * 1000 div prev1"))))
      .withColumn("wow_permille",
        when(col("prev7") > 0,
          (when(col("rev_wow") < 0, -1L).otherwise(1L) *
            expr("abs(rev_wow) * 1000 div prev7"))))
      .select(col("day"), col("rev"), col("n_purchases"), col("rev_dod"),
        col("rev_wow"), col("dod_permille"), col("wow_permille"))
      .orderBy(col("day"))
  }

  /** Cohort LTV triangle (q230) — q189's retention matrix counts WHO
    * comes back; this accumulates WHAT THEY SPEND: per signup-week
    * cohort and account-age week, the period's purchase revenue, its
    * running cumulative, and cumulative-per-user — the lifetime-value
    * curve every growth model is fit against. Two bounded stages:
    * per-user first-seen (one map-side-combinable aggregate), then
    * revenue collapsed onto the (cohort, age) grid (≤ weeks² cells)
    * BEFORE the cumulative window runs — the running sum never sees
    * event volume. All integer cents; per-user quotients truncate.
    */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val ev = Corpus.read(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type"), cents.as("x"))
    val firstSeen = ev.groupBy(col("user_id"))
      .agg(min(col("ts").cast("date")).as("first_day"))
    val day0 = firstSeen.agg(min(col("first_day")).as("d0"))
    val users = firstSeen.crossJoin(broadcast(day0))
      .select(col("user_id"), col("first_day"),
        expr("CAST(datediff(first_day, d0) AS LONG) div 7")
          .as("cohort_week"))
    val sizes = users.groupBy(col("cohort_week"))
      .agg(countDistinct(col("user_id")).as("n_users"))
    val grid = ev.filter(col("event_type") === "purchase")
      .join(users, Seq("user_id"))
      .withColumn("age_weeks",
        expr("CAST(datediff(CAST(ts AS DATE), first_day) AS LONG) div 7"))
      .groupBy(col("cohort_week"), col("age_weeks"))
      .agg(sum(col("x")).as("week_cents"))
    val w = Window.partitionBy(col("cohort_week")).orderBy(col("age_weeks"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.withColumn("cum_cents", sum(col("week_cents")).over(w))
      .join(broadcast(sizes), Seq("cohort_week"))
      .withColumn("cum_per_user_cents", expr("cum_cents div n_users"))
      .select(col("cohort_week"), col("age_weeks"), col("n_users"),
        col("week_cents"), col("cum_cents"), col("cum_per_user_cents"))
      .orderBy(col("cohort_week"), col("age_weeks"))
  }

  /** Seasonality-adjusted anomaly report (q215) — q85's rolling
    * z-score flags deviation from a user's own recent history; this
    * flags deviation from the SEASONAL norm (a Tuesday-9am purchase
    * judged against Tuesday-9am purchases), the baseline every
    * traffic/revenue monitor subtracts before alerting. The baseline
    * table is one hash aggregate bounded by type × 7 dow × 24 hours
    * (≤ 840 rows — broadcast back), residuals are exact integer cents
    * (baseline = truncated mean), and the report is the global top-20
    * |residual| events — a TakeOrdered top-k, never a global sort.
    */
  def seasonalBaseline(spark: SparkSession, dir: String,
      topK: Int = 20): DataFrame = {
    val e = Corpus.read(spark, dir, "events")
      .select(col("event_id"), col("event_type"),
        dayofweek(col("ts")).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hr"), cents.as("x"))
    val base = e.groupBy(col("event_type"), col("dow"), col("hr"))
      .agg(count(lit(1)).as("n_slot"), sum(col("x")).as("sum_slot"))
      .withColumn("baseline", expr("sum_slot div n_slot"))
    val w = Window.orderBy(abs(col("residual")).desc, col("event_id"))
    e.join(broadcast(base), Seq("event_type", "dow", "hr"))
      .withColumn("residual", col("x") - col("baseline"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
      .select(col("rk"), col("event_id"), col("event_type"), col("dow"),
        col("hr"), col("x"), col("baseline"), col("residual"),
        col("n_slot"))
      .orderBy(col("rk"))
  }

  /** DYNAMIC-gap (adaptive) sessionization (q207) — Spark's
    * per-event gap form of `session_window`, the semantics the
    * static-gap operators (q18/q19/q35, all 30-minute) cannot
    * express: each event proposes the half-open window
    * [ts, ts + gap(event)), overlapping proposals merge, and an
    * event landing exactly ON a session's end starts a new one (the
    * `[start, end)` contract). Error events here hold a session open
    * 60 minutes vs 30 — the real-world shape where outage bursts or
    * bot traffic deserve different idle thresholds than human
    * browsing.
    *
    * Still ONE hash aggregate (fragments merge in the aggregate's
    * merge phase — no per-user sort barrier). The oracle re-derives
    * the same sessions from first principles: a running max of
    * proposed ends (`max(ts+gap) OVER (… 1 PRECEDING)`) marks a new
    * session wherever `ts ≥` that max — all exact integer micros.
    * Emitted as unix micros so the boundary arithmetic is visible.
    */
  def adaptiveSessions(spark: SparkSession, dir: String): DataFrame =
    Corpus.read(spark, dir, "events")
      .groupBy(col("user_id"),
        session_window(col("ts"),
          when(col("event_type") === "error", "60 minutes")
            .otherwise("30 minutes")).as("sw"))
      .agg(count(lit(1)).as("n_events"),
        // q35's float discipline: exact decimal sum (order-free), one
        // rounding at the end.
        round(sum(col("value").cast("decimal(18,6)")), 2).cast("double")
          .as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("sw.start").cast("timestamp")).as("start_us"),
        unix_micros(col("sw.end").cast("timestamp")).as("end_us"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("start_us"))
}
