package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Corpus

/** Temporal join operators (SURVEY.md §2.2 joins row: "range/as-of
  * join" — an operator PostgreSQL gives the reference for free via
  * SQL but Spark has no built-in for).
  *
  * The as-of join is implemented with the union + window technique
  * instead of a non-equi range join: tag both inputs, union them,
  * and per key take `last(payload, ignoreNulls)` over rows sorted by
  * (time, tiebreak, side). One shuffle on the key, sort within
  * partitions — the same cost envelope as any window function — where
  * a range join would degenerate to per-key cross products. This is
  * the standard at-scale formulation (Flink's event-time join and
  * pandas merge_asof do the equivalent).
  */
object Temporal {

  /** For every left row, attach the payload of the latest right row
    * with (time, tiebreak) strictly before the left row's — "what was
    * the most recent X as of this event". Left and right must share
    * the `key`, `time` and `tiebreak` column names; payload columns
    * come back as `asof_<name>` (null when no earlier right row
    * exists). Strictness on the (time, tiebreak) pair makes self
    * as-of joins well-defined (a row never matches itself) and ties
    * deterministic.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      time: String,
      tiebreak: String,
      payload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val pStruct = struct(payload.map(right(_)): _*)
    // Sides: a LEFT row sorts BEFORE any right row with the same
    // (time, tiebreak) — in particular before its own right copy in a
    // self as-of join — so "strictly before" falls out of the sort
    // order and the current-row-inclusive window (the left row's own
    // __p is null and skipped by ignoreNulls).
    val l = left
      .withColumn("__p", lit(null).cast(
        org.apache.spark.sql.types.StructType(
          payload.map(c => org.apache.spark.sql.types.StructField(
            c, right.schema(c).dataType)))))
      .withColumn("__side", lit(0))
    val r = right.select(
      leftCols.map {
        case c @ (`key` | `time` | `tiebreak`) => right(c)
        case c => lit(null).cast(left.schema(c).dataType).as(c)
      } :+ pStruct.as("__p") :+ lit(1).as("__side"): _*)
    val w = Window.partitionBy(col(key))
      .orderBy(col(time), col(tiebreak), col("__side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val filled = l.unionByName(r)
      .withColumn("__asof", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__side") === 0)
    filled.select(leftCols.map(col) ++
      payload.map(c => col(s"__asof.$c").as(s"asof_$c")): _*)
  }

  /** [[asofJoin]] with a TOLERANCE horizon (pandas
    * `merge_asof(tolerance=…)`, kdb's windowed join): the latest
    * strictly-preceding right row still matches ONLY if it lies
    * within `tolUs` of the left row's time — a stale quote is as
    * good as no quote. Same union+running-window plan (one shuffle
    * on the key, O(1) window state, no left⋈right range explosion);
    * the carried payload struct additionally smuggles the matched
    * right time, and the tolerance test is one projection — beyond
    * horizon, every asof_ column nulls out together (they cannot
    * come from different matches, the q87 packing argument).
    * `time` must be a numeric (epoch-micros) column.
    */
  def asofJoinTolerance(
      left: DataFrame,
      right: DataFrame,
      key: String,
      time: String,
      tiebreak: String,
      payload: Seq[String],
      tolUs: Long): DataFrame = {
    val leftCols = left.columns.toSeq
    val pStruct = struct(right(time).as("__t") +: payload.map(right(_)): _*)
    val pType = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField(
        "__t", right.schema(time).dataType) +:
        payload.map(c => org.apache.spark.sql.types.StructField(
          c, right.schema(c).dataType)))
    val l = left
      .withColumn("__p", lit(null).cast(pType))
      .withColumn("__side", lit(0))
    val r = right.select(
      leftCols.map {
        case c @ (`key` | `time` | `tiebreak`) => right(c)
        case c => lit(null).cast(left.schema(c).dataType).as(c)
      } :+ pStruct.as("__p") :+ lit(1).as("__side"): _*)
    val w = Window.partitionBy(col(key))
      .orderBy(col(time), col(tiebreak), col("__side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val filled = l.unionByName(r)
      .withColumn("__asof", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__side") === 0)
    val inTol = col("__asof").isNotNull &&
      col("__asof.__t") >= col(time) - lit(tolUs)
    filled.select(leftCols.map(col) ++
      payload.map(c =>
        when(inTol, col(s"__asof.$c")).as(s"asof_$c")): _*)
  }

  /** Tolerance horizon for [[asofTolerance]] (24 hours of micros) —
    * shared with the oracle by name. On the fixture: 683 purchases
    * match within it, 1,155 have a preceding click that the horizon
    * NULLS OUT, 143 have none — both contracts value-visible in
    * volume.
    */
  val AsofTolUs = 86400000000L

  /** q184: each purchase enriched with the user's latest strictly-
    * preceding click — but only within [[AsofTolUs]] (a day-old
    * click no longer explains a purchase). The tolerance is what
    * separates this from q34/q87: most of the fixture's matches fall
    * OUTSIDE the horizon and must null out, so the gate
    * distinguishes tolerance-as-of from plain as-of on every such
    * row. Oracle: DuckDB's correlated LATERAL top-1 with the horizon
    * predicate — an independent encoding (the engine never runs a
    * per-row subquery; its one window pass is the scale shape).
    */
  def asofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val ev = Corpus.read(spark, dir, "events")
      .select(col("event_id"), col("user_id"), Exact.micros.as("us"),
        Exact.cents(col("value")).as("x"), col("event_type"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .drop("event_type")
    asofJoinTolerance(purchases,
      ev.filter(col("event_type") === "click").drop("event_type"),
      key = "user_id", time = "us", tiebreak = "event_id",
      payload = Seq("event_id", "x"), tolUs = AsofTolUs)
      .select(col("event_id"), col("user_id"), col("us"),
        col("asof_event_id"), col("asof_x"))
      .orderBy(col("event_id"))
  }

  /** Demo query: each order enriched with the customer's previous
    * order (generic [[asofJoin]] applied self-wise). The oracle is a
    * lag window — identical semantics by construction of the
    * strict (time, tiebreak) order.
    */
  def prevOrder(spark: SparkSession, dir: String): DataFrame = {
    val orders = Corpus.read(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderdate")
    asofJoin(orders, orders,
      key = "o_custkey", time = "o_orderdate", tiebreak = "o_orderkey",
      payload = Seq("o_orderkey", "o_orderdate"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("asof_o_orderkey").as("prev_orderkey"),
        col("asof_o_orderdate").as("prev_orderdate"))
      .orderBy(col("o_orderkey"))
  }

  /** Trailing-time aggregation with a RANGE frame: per supplier, the
    * quantity shipped in the trailing 7 days of each shipment —
    * `RANGE BETWEEN 6 PRECEDING AND CURRENT ROW` over the ship date
    * as an integer day number, so the frame boundary is an exact
    * integer compare on both engines. A ROWS frame cannot express
    * this (gaps and ties in time change the row count inside a fixed
    * row window); the range frame is the remaining frame kind next to
    * q10's running rows-frame. The frame sum runs in DECIMAL (double
    * addition is order-sensitive inside a frame; decimal is exact and
    * order-free) and casts once at the end.
    */
  def trailingWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("ship_day"))
      .rangeBetween(-6, 0)
    Corpus.read(spark, dir, "lineitem")
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        datediff(col("l_shipdate"), lit("1992-01-01").cast("date"))
          .cast("long").as("ship_day"),
        col("l_quantity"))
      .withColumn("qty_7d",
        sum(col("l_quantity").cast("decimal(18,6)")).over(w).cast("double"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("ship_day"), col("qty_7d"))
      .orderBy(col("l_suppkey"), col("ship_day"), col("l_orderkey"),
        col("l_linenumber"))
  }

  /** Binned range join: count, for every event, the same user's
    * events in the following `windowSec` seconds. A naive range join
    * (`b.ts > a.ts AND b.ts <= a.ts + w`) is a per-key cross product;
    * binning time into `windowSec` buckets turns it into an EQUI-join
    * on (key, bin) — each left row probes its own bin and the next
    * (a right match within (t, t+w] can only land there) — and the
    * exact range predicate filters inside the hash join. Candidate
    * volume is bounded by 2× the per-bin occupancy instead of the
    * per-key square.
    */
  def eventBurstCounts(
      spark: SparkSession, dir: String, windowSec: Long = 300): DataFrame = {
    val e = Corpus.read(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    // NTZ has no direct long cast; wall-clock micros via a UTC-session
    // timestamp cast (binning only — the join predicate uses real ts).
    val binUs = windowSec * 1000000L
    val l = e
      .withColumn("us", Exact.micros)
      .withColumn("bin", explode(array(
        floor(col("us") / binUs), floor(col("us") / binUs) + 1)))
    val r = e.select(col("user_id").as("r_user"), col("ts").as("r_ts"))
      .withColumn("r_bin",
        floor(expr("unix_micros(cast(r_ts as timestamp))") / binUs))
    val matches = l.join(r,
        col("user_id") === col("r_user") && col("bin") === col("r_bin") &&
          col("r_ts") > col("ts") &&
          col("r_ts") <= col("ts") + expr(s"INTERVAL $windowSec seconds"))
      .groupBy(col("event_id")).agg(count(lit(1)).as("n_next"))
    e.join(matches, Seq("event_id"), "left")
      .withColumn("n_next", coalesce(col("n_next"), lit(0L)))
      .orderBy(col("event_id"))
  }

  /** Session row emitted by the typed sessionizer (ts is TimestampNTZ
    * → LocalDateTime in the typed API).
    */
  case class Session(
      user_id: Long, session_start: java.time.LocalDateTime,
      session_end: java.time.LocalDateTime, n_events: Long,
      sum_value: Double)

  private val GapMinutes = 30L

  /** Fold one user's time-sorted events into gap-separated sessions.
    * Sum in BigDecimal(6dp) like the declarative twin — exact,
    * order-free addition.
    */
  private[operators] def foldSessions(
      uid: Long,
      evs: Seq[(java.time.LocalDateTime, Double)]): Seq[Session] = {
    val gap = java.time.Duration.ofMinutes(GapMinutes)
    if (evs.isEmpty) Seq.empty
    else {
      val out = scala.collection.mutable.ArrayBuffer[Session]()
      var start = evs.head._1; var last = evs.head._1
      var n = 0L
      var sum = java.math.BigDecimal.ZERO
      def dec(v: Double) = java.math.BigDecimal.valueOf(v)
        .setScale(6, java.math.RoundingMode.HALF_UP)
      def flush(): Unit = out += Session(uid, start, last.plus(gap), n,
        sum.setScale(2, java.math.RoundingMode.HALF_UP).doubleValue)
      evs.foreach { case (ts, v) =>
        if (java.time.Duration.between(last, ts).compareTo(gap) > 0) {
          flush(); start = ts; n = 0L; sum = java.math.BigDecimal.ZERO
        }
        last = ts; n += 1; sum = sum.add(dec(v))
      }
      flush()
      out.toSeq
    }
  }

  /** Typed sessionization via KeyValueGroupedDataset.flatMapGroups —
    * the imperative twin of the declarative `session_window` in
    * [[Events.sessions]], producing identical rows (same oracle).
    * Contract: one user's events must fit in memory (true for any
    * sane event stream; the declarative twin is the unbounded-safe
    * path). Demonstrates the typed custom-state API the declarative
    * operator can't express (arbitrary per-session logic goes here).
    */
  def sessionsTyped(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val ldtOrd: Ordering[java.time.LocalDateTime] =
      Ordering.fromLessThan(_ isBefore _)
    Corpus.read(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("value"))
      .as[(Long, java.time.LocalDateTime, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (uid: Long, it: Iterator[(Long, java.time.LocalDateTime, Double)]) =>
        foldSessions(uid, it.map(e => (e._2, e._3)).toSeq.sortBy(x => (x._1, x._2))).iterator
      }
      .toDF()
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Gap-fill / resampling: per-user hourly grid from first to last
    * observed hour, forward-filling the latest observation into
    * silent hours — the standard time-series regularization
    * (monitoring rollups, feature snapshots, training sequences need
    * an observation per step, not per event). Three shapes keep it
    * scale-safe:
    *
    *  - raw events collapse FIRST into one row per (user, hour) via a
    *    map-side-combinable aggregate (the last-in-hour pick is
    *    max_by over a zero-padded (micros, event_id) string — total
    *    order even under timestamp ties, so the pick is deterministic
    *    on any data, not just this fixture's unique timestamps);
    *  - the grid derives from per-user min/max bounds and explodes
    *    sequence(hmin, hmax) — grid size is bounded by users x span
    *    hours, never by event count;
    *  - the forward fill is one running `last(ignoreNulls)` window
    *    per user over grid-sized rows (span hours per user, a few
    *    hundred — sorts are per-user-partition and bounded).
    * The first grid hour per user is observed by construction, so the
    * fill is never null. Hour indices are integer epoch-hours (exact
    * in both engines); values pass through untouched (no arithmetic,
    * exact hash compare).
    */
  /** Shared first stage of [[gapFillHourly]] / [[interpolateHourly]]:
    * the per-user hourly grid left-joined to the per-(user, hour)
    * collapsed observations — (user_id, h, v_obs nullable, n_obs).
    */
  private def hourlyGrid(spark: SparkSession, dir: String): DataFrame = {
    // Microsecond epoch (the Corpus truncation) — exact integers.
    val micros = Exact.micros
    // NOT spread (r21, measured both directions): repartitioning the
    // events scan before this aggregate made q75 3.25→4.86 s and q79
    // 4.99→13.2 s (cpu 3.8→17 s — the exchange destroys the scan
    // stats and the downstream grid/obs join re-plans worse). The
    // 1-task partial aggregate is cheaper than the spread here.
    // Materialized ONCE (r22, VERDICT #3): `hourly` feeds BOTH the
    // per-user bounds aggregate (grid derivation) and the grid join's
    // probe side — without materialization the events scan plus the
    // max_by collapse aggregate (the query's dominant cost) evaluated
    // TWICE (Spark has no common-subplan dedup). Narrow (user_id, h,
    // v_obs, n_obs) rows bounded by users × span hours — far smaller
    // than the event table (a persist measured cpu 4.2→10.5 s on q79,
    // see [[Materialize]]). The r21 attempt spread the events SCAN
    // (before the aggregate) and lost 2.6x — this materializes the
    // aggregate's OUTPUT instead, which also hands the downstream
    // grid/obs join exact size stats.
    val hourly = Materialize(Corpus.read(spark, dir, "events")
      .select(col("user_id"), Exact.microsDiv(3600000000L).as("h"),
        col("value"),
        concat(lpad(micros.cast("string"), 20, "0"),
          lpad(col("event_id").cast("string"), 12, "0")).as("ord"))
      .groupBy(col("user_id"), col("h"))
      .agg(expr("max_by(value, ord)").as("v_obs"),
        count(lit(1)).as("n_obs")))
    val grid = hourly
      .groupBy(col("user_id"))
      .agg(min(col("h")).as("hmin"), max(col("h")).as("hmax"))
      .select(col("user_id"),
        explode(sequence(col("hmin"), col("hmax"))).as("h"))
    grid.join(hourly, Seq("user_id", "h"), "left")
      .select(col("user_id"), col("h"), col("v_obs"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"))
  }

  def gapFillHourly(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hourlyGrid(spark, dir)
      .select(col("user_id"), col("h"),
        last(col("v_obs"), ignoreNulls = true).over(w).as("v_fill"),
        col("n_obs"))
      .orderBy(col("user_id"), col("h"))
  }

  /** Linear-interpolation resampling — the other standard time-series
    * regularization next to [[gapFillHourly]]'s forward fill: silent
    * hours take the straight line between the surrounding observed
    * hours, `v = (vp·(hn−h) + vn·(h−hp)) / (hn−hp)`. Both grid
    * endpoints are observed by construction (the grid spans min..max
    * observed hour per user), so every gap has a previous AND a next
    * observation — the interpolation is total.
    *
    * Scale shape: identical to q75 — event volume collapses in the
    * first map-side-combinable aggregate; the two bracketing lookups
    * are ONE forward and ONE backward running window over grid-sized
    * rows (`last(ignoreNulls)` up to the row, `first(ignoreNulls)`
    * from the row), never a self-join of the grid against the
    * observations.
    *
    * The gate reports the interpolated value as an EXACT integer
    * rational in cents — numerator `vp_c·(hn−h) + vn_c·(h−hp)`,
    * denominator `hn−hp` — plus its truncated micro-unit quotient.
    * A rounded double here is NOT gateable: interpolated midpoints
    * land exactly on decimal rounding boundaries (denominators 8/16
    * over 2-decimal inputs ⇒ …6875), where Spark's BigDecimal
    * HALF_UP and DuckDB's double-multiply rounding genuinely differ
    * in the last digit.
    */
  def interpolateHourly(spark: SparkSession, dir: String): DataFrame = {
    // Both bracket lookups are stated as RUNNING frames (unbounded
    // preceding → current row): the forward scan over ascending h,
    // the backward scan over DESCENDING h. A `currentRow →
    // unboundedFollowing` frame looks equivalent for the backward
    // scan but is O(n²) per partition — Spark's UnboundedFollowing
    // frame re-aggregates the partition tail for every row (35 s vs
    // 0.9 s at sf0.1), while running frames keep O(1) state per row.
    val before = Window.partitionBy(col("user_id")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val after = Window.partitionBy(col("user_id")).orderBy(col("h").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val obsH = when(col("v_obs").isNotNull, col("h"))
    def cents(c: Column): Column = Exact.cents(c)
    hourlyGrid(spark, dir)
      .select(col("user_id"), col("h"), col("v_obs"),
        last(col("v_obs"), ignoreNulls = true).over(before).as("vp"),
        last(obsH, ignoreNulls = true).over(before).as("hp"),
        last(col("v_obs"), ignoreNulls = true).over(after).as("vn"),
        last(obsH, ignoreNulls = true).over(after).as("hn"))
      .select(col("user_id"), col("h"),
        when(col("v_obs").isNotNull, lit("obs")).otherwise(lit("gap")).as("src"),
        when(col("v_obs").isNotNull, cents(col("v_obs"))).otherwise(
          cents(col("vp")) * (col("hn") - col("h")) +
            cents(col("vn")) * (col("h") - col("hp"))).as("num_cents"),
        when(col("v_obs").isNotNull, lit(1L))
          .otherwise(col("hn") - col("hp")).as("den"))
      .withColumn("v_micro", expr("num_cents * 10000 div den"))
      .orderBy(col("user_id"), col("h"))
  }

  /** Attribution lookback horizon: 7 days in microseconds. Shared by
    * name with the oracle SQL so both sides test the same window.
    */
  val AttributionWindowUs: Long = 7L * 24 * 3600 * 1000000L

  /** Last-touch attribution: each purchase is credited to the user's
    * most recent PRECEDING click or view within [[AttributionWindowUs]]
    * — the marketing-analytics flavor of an as-of backward join
    * ([[asofJoin]]'s shape with a type-filtered right side and a
    * horizon).
    *
    * Stated as ONE running window instead of a join: touches carry
    * `enc = us·4 + code` (click 1, view 2 — monotone in time, so the
    * running `last(enc ignore nulls)` over rows strictly before the
    * current one IS the latest touch), purchases read the carried
    * value and decode (ts, type) back out. Encoding ts and type into
    * one Long matters: two separate `last(ignoreNulls)` columns could
    * disagree about WHICH touch they came from under identical
    * timestamps; one value cannot. Ordering (us, event_id) is total,
    * so ties are deterministic in both engines.
    *
    * Scale: one shuffle by user_id, O(1) state per row — the same
    * shape as [[trailingWindow]], with no events self-join (a join
    * formulation shuffles the corpus twice and re-sorts; this passes
    * once). Out-of-horizon touches null out and flag attributed=0
    * rather than dropping the purchase — attribution coverage is
    * usually the metric of interest.
    */
  def lastTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    val us = Exact.micros
    val code = when(col("event_type") === "click", lit(1L))
      .when(col("event_type") === "view", lit(2L))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Corpus.read(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        us.as("us"))
      .withColumn("enc", when(code.isNotNull, col("us") * 4 + code))
      .withColumn("last_enc", last(col("enc"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("within", col("last_enc").isNotNull &&
        col("us") - expr("last_enc div 4") <= lit(AttributionWindowUs))
      .select(col("event_id"), col("user_id"), col("us"),
        when(col("within"), expr("last_enc div 4")).as("touch_us"),
        when(col("within"),
          when(expr("last_enc % 4") === 1, "click").otherwise("view"))
          .as("touch_type"),
        when(col("within"), lit(1L)).otherwise(lit(0L)).as("attributed"))
      .orderBy(col("event_id"))
  }

  /** Multi-touch TIME-DECAY attribution (q213) — the pooled
    * exponential-decay credit model next to q87's last-touch: every
    * click/view in the 7 days before a purchase earns weight
    * 2^(−days-before), and channels split credit by total weight.
    * Stated entirely in exact integers: the half-life-one-day weight
    * is `1 << (6 − days)` units (days ∈ 0..6 — a power-of-two ladder,
    * no float decay anywhere), credit shares are `×1000 div` permille.
    *
    * Unlike last-touch (one preceding row — a running window),
    * multi-touch credit is irreducibly pair-valued: each (touch,
    * conversion) pair within the horizon carries its own delta. The
    * pair join co-partitions both sides on user_id (one shuffle
    * each); fan-out is bounded by per-user touch density × the
    * horizon, the same bound as the q40 range join.
    */
  def decayAttribution(spark: SparkSession, dir: String): DataFrame = {
    val us = Exact.micros
    val ev = Corpus.read(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        us.as("us"))
    val touches = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("event_type").as("touch_type"),
        col("us").as("t_us"))
    val convs = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("conv_id"),
        col("us").as("c_us"))
    // STRICT horizon (vs q87's inclusive one): an exactly-7-day delta
    // would index day 7 and shift by −1 — engines disagree below a
    // zero shift, so the boundary stays out of the weight ladder.
    val pairs = touches.join(convs, Seq("user_id"))
      .filter(col("t_us") < col("c_us") &&
        col("c_us") - col("t_us") < lit(AttributionWindowUs))
      .withColumn("days", expr("(c_us - t_us) div 86400000000"))
      .withColumn("w_units",
        expr("shiftleft(1L, cast(6 - days AS int))"))
    val agg = pairs.groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("conv_id")).as("n_conversions"),
        sum(col("w_units")).as("w_sum"))
    val total = agg.agg(sum(col("w_sum")).as("w_total"))
    agg.crossJoin(broadcast(total))
      .withColumn("share_permille", expr("w_sum * 1000 div w_total"))
      .select(col("touch_type"), col("n_touches"), col("n_conversions"),
        col("w_sum"), col("share_permille"))
      .orderBy(col("touch_type"))
  }

  /** SCD2 intervalization (q219) — turn an event log into the
    * slowly-changing-dimension type-2 table a warehouse keys history
    * against: per user, consecutive events carrying the SAME
    * event_type collapse into one validity interval
    * [first ts, next change's ts), the last interval per user open
    * (end NULL, is_current = 1). Change-point islands — lag to mark
    * changes, running sum to number runs, one aggregate — the
    * gap-island machinery with a VALUE predicate instead of a time
    * gap (q18/q35's complement). Exact integer micros; one shuffle
    * on user_id shared by the window and the aggregate.
    */
  def scd2Intervals(spark: SparkSession, dir: String): DataFrame = {
    val us = Exact.micros
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val runs = Corpus.read(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        us.as("us"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("run", sum(col("chg")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("run"))
      .agg(min(col("us")).as("valid_from"),
        max(col("us")).as("last_seen"),
        // every row in a run shares event_type by construction; min()
        // keeps the pick order-free.
        min(col("event_type")).as("state"),
        count(lit(1)).as("n_events"))
    val wNext = Window.partitionBy(col("user_id")).orderBy(col("run"))
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wNext))
      .withColumn("is_current", col("valid_to").isNull.cast("long"))
      .select(col("user_id"), col("run").as("version"), col("state"),
        col("valid_from"), col("valid_to"), col("n_events"),
        col("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** Interval-overlap JOIN via bucket blocking (q217) — the
    * interval×interval generalization of q40's point-in-range join:
    * which users' sessions overlapped in time (concurrency analysis,
    * co-presence, contention windows). The naive formulation is an
    * inequality-only join — a cartesian at any scale; the scale form
    * blocks each interval into the hour buckets it covers (bounded
    * fan-out: session span div 1h + 1), equi-joins on bucket,
    * DEDUPES pairs found in several shared buckets, and verifies the
    * exact overlap predicate on candidates only — the LSH-family
    * shape (candidates by blocking, exact verify after). The oracle
    * states the DIRECT inequality join over the same sessions — the
    * gate therefore proves the bucket blocking is lossless.
    *
    * Sessions come from the q35 gap-island construction in exact
    * integer micros; overlap length is exact (`least(end) −
    * greatest(start)`); output aggregates per user pair.
    */
  def sessionOverlapPairs(spark: SparkSession, dir: String): DataFrame = {
    val us = Exact.micros
    val gapUs = 30L * 60 * 1000000L
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val sessions = Corpus.read(spark, dir, "events")
      .select(col("user_id"), col("event_id"), us.as("us"))
      .withColumn("new_s",
        when(col("us") - lag(col("us"), 1).over(wOrd) > gapUs || lag(col("us"), 1).over(wOrd).isNull, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("us")).as("s_us"),
        (max(col("us")) + gapUs).as("e_us"))
      // Both sides of the self-join consume this relation; without a
      // persist each side re-runs the corpus window+aggregate (the
      // q209 argument — sessions are user×activity-sized, the raw
      // events corpus-sized).
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hourUs = 3600L * 1000000L
    def buckets(df: DataFrame, tag: String): DataFrame =
      df.select(col("user_id").as(s"u_$tag"), col("sid").as(s"sid_$tag"),
        col("s_us").as(s"s_$tag"), col("e_us").as(s"e_$tag"),
        explode(expr(s"sequence(s_us div $hourUs, e_us div $hourUs)"))
          .as("bucket"))
    // A pair meeting in several shared buckets must count once. A
    // dropDuplicates over the candidate stream is a second corpus-
    // sized shuffle at exactly the densest moment; instead each pair
    // is EMITTED only from the first bucket of its overlap
    // (bucket == greatest(s_a, s_b) div hour — a property both sides
    // of every duplicate agree on), so the dedup is a free per-row
    // predicate and the candidate stream goes straight into the
    // aggregate.
    val cands = buckets(sessions, "a").join(buckets(sessions, "b"), "bucket")
      .filter(col("u_a") < col("u_b"))
      .filter(col("s_a") < col("e_b") && col("s_b") < col("e_a"))
      .filter(col("bucket") ===
        expr(s"greatest(s_a, s_b) div $hourUs"))
      .select(col("u_a"), col("sid_a"), col("u_b"), col("sid_b"),
        (least(col("e_a"), col("e_b")) -
          greatest(col("s_a"), col("s_b"))).as("overlap_us"))
    cands.groupBy(col("u_a"), col("u_b"))
      .agg(count(lit(1)).as("n_overlaps"),
        sum(col("overlap_us")).as("sum_overlap_us"))
      .orderBy(col("u_a"), col("u_b"))
  }

  /** PG `age(t2, t1)` symbolic interval breakdown (q152) — the
    * calendar-aware "2 years 3 mons 12 days" decomposition PG users
    * read off customer tenure / account age, and the DECODED form of
    * the reference's INTERVAL wire type (months, days, µs —
    * `src/lib.rs:367-374`; q46 gates the byte decode, this gates the
    * arithmetic that produces such values). Spark has no age(), so
    * the engine states the algorithm explicitly, exactly PG's
    * field-wise subtract-then-borrow (verified against this DuckDB's
    * PG-compatible age() on month-end/leap cases): dd = day₂ − day₁;
    * if dd < 0 borrow ONE month, adding days-in-month of t₁'s month
    * (one borrow always suffices: dd ≥ 1 − 31 and every month has
    * ≥ 28 days); months_total = 12·Δyear + Δmonth − borrow, split
    * div/mod 12. Fixture: per-customer first/last order dates
    * (max ≥ min by construction — PG mirrors negative ages
    * sign-symmetrically, out of scope here; o_orderdate is
    * day-granular so the time fields are zero). The oracle reads the
    * same components off DuckDB's NATIVE age() via date_part —
    * independent encodings. total_days (plain datediff) rides along
    * as the cross-check that symbolic and absolute views agree. One
    * map-side-combinable aggregate + per-row date arithmetic.
    */
  def ageBreakdown(spark: SparkSession, dir: String): DataFrame =
    Corpus.read(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(min(col("o_orderdate").cast("date")).as("t1"),
        max(col("o_orderdate").cast("date")).as("t2"),
        count(lit(1)).as("n_orders"))
      .withColumn("dd", dayofmonth(col("t2")) - dayofmonth(col("t1")))
      .withColumn("borrow", (col("dd") < 0).cast("int"))
      .withColumn("age_days",
        (col("dd") + col("borrow") * dayofmonth(last_day(col("t1"))))
          .cast("long"))
      .withColumn("mtot",
        (year(col("t2")) - year(col("t1"))) * 12 +
          (month(col("t2")) - month(col("t1"))) - col("borrow"))
      .select(col("o_custkey"), col("n_orders"), col("t1"), col("t2"),
        expr("mtot div 12").cast("long").as("age_years"),
        pmod(col("mtot"), lit(12)).cast("long").as("age_months"),
        col("age_days"),
        datediff(col("t2"), col("t1")).cast("long").as("total_days"))
      .orderBy(col("o_custkey"))

  /** AT TIME ZONE conversion battery (q160) — PG's two-direction
    * `AT TIME ZONE` surface through Spark's `convert_timezone`
    * (TIMESTAMP_NTZ in, TIMESTAMP_NTZ out — the wall-clock algebra
    * PG defines, no session-zone dependence):
    *
    *   - instant→local (always total): the UTC event time rendered
    *     on the New York and Tokyo wall clocks;
    *   - local→instant on a no-DST zone (always unambiguous): the
    *     naive ts REINTERPRETED as Asia/Kolkata wall time, back to
    *     UTC (+05:30 — a half-hour offset, so a wrong-direction bug
    *     shifts minutes, not just hours);
    *   - instant→local ACROSS a DST boundary: the event time shifted
    *     +69 days spans 2024-03-10, the US spring-forward, so the
    *     ny_dst column carries BOTH offsets (−5 then −4) and a
    *     fixed-offset shortcut is value-visible on thousands of
    *     rows. (Local→instant near transitions is deliberately NOT
    *     gated: the ambiguous/skipped hour is resolved differently
    *     across engines and PG itself documents it as
    *     implementation-chosen.)
    *
    * Values ship as fixed-width `yyyy-MM-dd HH:mm:ss.SSSSSS`
    * strings: micros pass through conversion untouched and the
    * format is byte-identical cross-engine (DuckDB strftime's %f is
    * the same zero-padded micros). One codegen'd scan projection —
    * zone rules evaluate per row with no shuffle, so the operator
    * scales exactly as the scan does.
    */
  def timezoneBattery(spark: SparkSession, dir: String): DataFrame = {
    val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    def f(c: Column): Column = date_format(c, fmt)
    // Five timezone-convert + format renders per row — spread the
    // 1-task corpus scan (Corpus.spread; no-op on many-file inputs).
    Corpus.spread(Corpus.events(spark, dir))
      .select(col("event_id"),
        f(col("ts")).as("ts_utc"),
        f(expr("convert_timezone('UTC', 'America/New_York', ts)"))
          .as("ny_wall"),
        f(expr("convert_timezone('UTC', 'Asia/Tokyo', ts)"))
          .as("tokyo_wall"),
        f(expr("convert_timezone('Asia/Kolkata', 'UTC', ts)"))
          .as("kolkata_utc"),
        f(expr("convert_timezone('UTC', 'America/New_York', " +
          "ts + INTERVAL '69' DAY)")).as("ny_dst"))
      .orderBy(col("event_id"))
  }
}
