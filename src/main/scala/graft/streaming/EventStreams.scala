package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming over the events stream (north-star extension;
  * the reference has no streaming at all). The aggregation logic is
  * the same code that runs in batch in [[graft.operators.Events]] —
  * Spark's unified engine — with watermarks bounding state so the
  * pipeline runs indefinitely on an unbounded stream: late events
  * beyond the watermark are dropped instead of growing state forever.
  *
  * Tested by streaming the events parquet through a file source with
  * a memory sink (see EventStreamsSpec); in production the source
  * would be Kafka/files and the sink a Delta/parquet append.
  */
object EventStreams {

  /** events schema as read from the corpus (ts already micros). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // raw nanos in the parquet
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream of the events table with event-time ts.
    *
    * Mirrors [[graft.sources.Corpus.events]]: the corpus has shipped
    * `ts` both as TIMESTAMP(NANOS) (read as a raw long under the
    * legacy conf, ÷1000 to micros) and as a plain microsecond
    * timestamp. A streaming source needs its schema up front, so sniff
    * the footer of the existing files once (driver-side metadata read)
    * and pick the matching schema + conversion.
    */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Sniff the footer of files already present (driver-side metadata
    // read). A stream source may legitimately start before any file
    // arrives — fall back to the default schema (nanos long) instead
    // of failing at stream construction.
    val onDisk =
      try Some(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType)
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    val tsType = onDisk.getOrElse(LongType)
    val schema = StructType(eventSchema.map {
      case f if f.name == "ts" => f.copy(dataType = tsType)
      case f => f
    })
    val raw = spark.readStream.schema(schema).parquet(s"$dir/events.parquet")
    tsType match {
      case LongType =>
        // A plain INT64 ts is ambiguous: nanos-since-epoch is ~1.7e18,
        // micros ~1.7e15 — three orders apart, so one sampled value
        // disambiguates (same sniff read; skipped when no files yet,
        // where nanos — the corpus encoding — is assumed).
        val looksMicros = onDisk.isDefined && {
          val sample = spark.read.schema(schema).parquet(s"$dir/events.parquet")
            .select(abs(col("ts"))).na.drop().head(1)
          sample.nonEmpty && sample(0).getLong(0) < 100000000000000000L
        }
        val micros = if (looksMicros) expr("ts") else expr("ts div 1000")
        raw.withColumn("ts", timestamp_micros(micros))
      case _ =>
        // TimestampType, not the NTZ Corpus.events uses: Spark 4.1
        // watermarks reject TIMESTAMP_NTZ event-time columns
        // (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), so the stream keeps
        // the instant type. Every session pins
        // spark.sql.session.timeZone=UTC (SparkEntry/specs), making
        // the wall-clock values identical to the batch NTZ twin.
        raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Tumbling 1-hour counts with a 2-hour watermark (late data beyond
    * 2h of max event time is dropped; state for closed windows is
    * evicted — bounded memory on an unbounded stream).
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,6)")), 2)
          .cast("double").as("sum_value"))
      .select(col("w.start").as("wstart"), col("event_type"), col("n"),
        col("sum_value"))

  /** Sliding 1-hour windows every 30 minutes under a watermark —
    * streaming twin of [[graft.operators.Events.sliding]].
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("wstart"), col("event_type"), col("n"))

  /** Streaming daily distinct-active sketches — the INGEST half of
    * the q166/q173 warehouse pattern: the stream maintains one HLL
    * sketch per day as mergeable aggregation state (each micro-batch
    * merges into it — never a per-user distinct state), so the
    * materialized dailies that q173's rolling union consumes are
    * produced incrementally at ingest time instead of by a batch
    * re-scan. State: one constant-size sketch per day inside the
    * watermark horizon, evicted as the watermark passes — O(open
    * days), independent of user cardinality (an exact streaming
    * distinct would hold every user id). Parity contract
    * (EventStreamsSpec): stream-final estimates equal the batch
    * dailies bit-for-bit — same aggregate, same lgk.
    */
  def dailyActiveSketches(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))")
        .as("est_users"),
        count(lit(1)).as("n_events"))
      .select(col("w.start").as("day"), col("est_users"), col("n_events"))

  /** Stream-static enrichment: the event stream joined to a static
    * dimension (broadcast — no stream state, each micro-batch probes
    * the built side), then a watermarked windowed aggregate on the
    * enriched column. The standard "attach reference data to a feed"
    * pattern.
    */
  def enrichedCounts(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .join(broadcast(dim), Seq("event_type"))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("category"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("wstart"), col("category"), col("n"))

  /** Streaming exact dedup: drop events whose event_id was already
    * seen within the watermark horizon — the streaming twin of
    * exact-fingerprint dedup for an at-least-once upstream (replayed
    * deliveries land inside the horizon; state for older keys is
    * evicted, keeping memory bounded).
    */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream inner join: even-id events joined to the same
    * user's odd-id events within the following 10 minutes. Both sides
    * carry watermarks and the join condition bounds event-time
    * distance, so each side's state is evicted once the other side's
    * watermark passes the range — the required shape for an unbounded
    * stream-stream join (without the time bound, state grows forever).
    */
  def joinedNearbyEvents(events: DataFrame): DataFrame = {
    val l = events.filter(col("event_id") % 2 === 0)
      .select(col("user_id"), col("ts").as("l_ts"), col("event_id").as("l_id"))
      .withWatermark("l_ts", "2 hours")
    val r = events.filter(col("event_id") % 2 === 1)
      .select(col("user_id").as("r_user"), col("ts").as("r_ts"),
        col("event_id").as("r_id"))
      .withWatermark("r_ts", "2 hours")
    l.join(r,
        col("user_id") === col("r_user") &&
          col("r_ts") >= col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr("INTERVAL 10 minutes"))
      .select(col("user_id"), col("l_id"), col("r_id"))
  }

  /** Stream-stream LEFT OUTER join — the semantics [[joinedNearbyEvents]]
    * (inner) cannot express: every left event is emitted exactly
    * once, matched rows as they join, UNMATCHED rows with nulls only
    * after the right watermark passes the join range (proving no
    * match can still arrive — the late-binding null that makes outer
    * stream joins subtle). Same time-bounded condition, so both
    * sides' state stays watermark-evicted. The standard deployment
    * shape behind "did a view get a purchase within 10 minutes"
    * conversion streams where the NON-conversions are the signal.
    */
  def leftJoinedNearbyEvents(events: DataFrame): DataFrame = {
    val l = events.filter(col("event_id") % 2 === 0)
      .select(col("user_id"), col("ts").as("l_ts"), col("event_id").as("l_id"))
      .withWatermark("l_ts", "2 hours")
    val r = events.filter(col("event_id") % 2 === 1)
      .select(col("user_id").as("r_user"), col("ts").as("r_ts"),
        col("event_id").as("r_id"))
      .withWatermark("r_ts", "2 hours")
    l.join(r,
        col("user_id") === col("r_user") &&
          col("r_ts") >= col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr("INTERVAL 10 minutes"),
        "left_outer")
      .select(col("user_id"), col("l_id"), col("r_id"))
  }

  /** The qS01 streaming-vs-oracle gate: the watermarked 30-minute
    * session aggregation (the q19 batch twin's full output shape —
    * start/end/count/decimal-summed value) run END-TO-END as a
    * Structured Streaming pipeline — file source → session_window
    * aggregate under a 2-hour watermark → append-mode parquet sink
    * with checkpointing, Trigger.AvailableNow — then read back.
    *
    * DETERMINISM CONTRACT (what makes a streaming run oracle-able):
    * append mode emits exactly the sessions the FINAL watermark
    * (max event time − 2 h) has sealed — a session whose
    * `end = last event + gap` is at or below it can never be
    * extended (later events would be dropped by contract), so the
    * emitted set is a pure function of the input data, independent
    * of micro-batch boundaries. The DuckDB oracle replays that
    * contract in batch SQL: gaps-and-islands sessionization plus the
    * same `session_end ≤ max(ts) − 2h` seal. Spark tracks event-time
    * watermarks in MILLISECONDS (truncating the µs max event time),
    * so the oracle's seal compares at the same ms floor.
    *
    * Timestamps ship as epoch-µs BIGINTs (instant vs naive parquet
    * encodings don't hash cross-engine; the UTC session pin makes
    * the integer values identical). Scale: the aggregate is keyed
    * (user_id × sealed windows), state bounded by the watermark
    * horizon; the sink is an ordinary distributed parquet append.
    */
  /** Run a staged streaming gate inside a throwaway scratch dir:
    * `body` stages its input feed under `tmp`, drives the query to
    * completion, and returns the sink read-back; the result is
    * MATERIALIZED (eager localCheckpoint — gate outputs are
    * verify-scale) so the staged input, checkpoint and sink files
    * can be deleted before returning. Without this each invocation
    * leaked a full staged copy of its input table into /tmp —
    * unbounded disk across repeated Verify/spec runs. Callers apply
    * their ORDER BY after the checkpoint.
    */
  private[streaming] def stagedGate(prefix: String)(
      body: String => DataFrame): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix)
    try graft.operators.Materialize(body(tmp.toString))
    finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile): Unit
  }

  def sessionsFinalized(spark: SparkSession, dir: String): DataFrame =
    stagedGate("graft-qs01-") { tmp =>
    // The corpus ships events as ONE parquet file; a file-source
    // stream watches a DIRECTORY. Stage it as a multi-file ingest dir
    // (what a real feed looks like) — the raw nanos `ts` long rides
    // through unchanged under the legacy conf and readEventStream's
    // magnitude sniff picks the right conversion.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/events.parquet")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$tmp/in/events.parquet")
    val q = readEventStream(spark, s"$tmp/in")
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,6)")), 2)
          .cast("double").as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"),
        col("n_events"), col("sum_value"))
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$tmp/data")
      .option("checkpointLocation", s"$tmp/chk")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.stop()
    spark.read.parquet(s"$tmp/data")
  }.orderBy(col("user_id"), col("start_us"))

  /** The qS02 streaming-vs-oracle gate: at-least-once ingest DEDUP
    * end-to-end — the staged feed delivers EVERY event twice (the
    * replayed-upstream shape), [[dedupedEvents]]'
    * `dropDuplicatesWithinWatermark(event_id)` must emit each exactly
    * once into an append-mode parquet sink, and the read-back is
    * gated against a plain batch projection of the original events.
    *
    * Determinism contract: unlike qS01's sealed aggregate, dedup
    * emits a row in the micro-batch it FIRST appears (the watermark
    * bounds STATE, not emission), so with every duplicate inside the
    * horizon the emitted set is exactly the distinct-event set —
    * independent of batch boundaries. event_id is unique in the
    * corpus, so "first delivery wins" cannot pick different payloads.
    * Timestamps as epoch-µs, money as integer cents (suite-wide
    * discipline).
    */
  def dedupFinalized(spark: SparkSession, dir: String): DataFrame =
    stagedGate("graft-qs02-") { tmp =>
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.union(raw).repartition(4)
      .write.mode("overwrite").parquet(s"$tmp/in/events.parquet")
    val q = dedupedEvents(readEventStream(spark, s"$tmp/in"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$tmp/data")
      .option("checkpointLocation", s"$tmp/chk")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.stop()
    spark.read.parquet(s"$tmp/data")
  }.orderBy(col("event_id"))

  /** Session windows (30-minute gap) per user under a watermark. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"))

  /** Per-user buffered event times (MICROS — java.sql.Timestamp
    * getTime is millis and would truncate event time) not yet
    * provably session-complete — bounded by the watermark horizon.
    */
  case class Pending(times: Seq[Long])

  /** Emitted session row. */
  case class SessionRow(user_id: Long, session_start: java.sql.Timestamp,
      n_events: Long)

  private val GapUs = 30L * 60 * 1000 * 1000

  private def tsToMicros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos % 1000000) / 1000

  private def microsToTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Custom stateful sessionization via flatMapGroupsWithState with an
    * event-time timeout — the arbitrary-state API for logic
    * `session_window` can't express (per-session custom emission,
    * enrichment, early triggers). A session is emitted exactly when
    * the watermark passes its last event + gap: no later event can
    * extend it (events older than the watermark are dropped by
    * contract), so out-of-order arrival across micro-batches is
    * handled correctly. State per key = events within the watermark
    * horizon — bounded memory on an unbounded stream.
    */
  def sessionizeWithState(events: DataFrame): Dataset[SessionRow] = {
    val spark = events.sparkSession
    import spark.implicits._

    def toSessions(times: Seq[Long]): Seq[(Long, Long, Long)] = // (start, last, n)
      times.foldLeft(Vector.empty[(Long, Long, Long)]) {
        case (acc :+ ((s, l, n)), t) if t - l < GapUs => acc :+ ((s, t, n + 1))
        case (acc, t) => acc :+ ((t, t, 1L))
      }

    events
      .withWatermark("ts", "2 hours")
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Pending, SessionRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, evs: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[Pending]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val times = (state.getOption.map(_.times).getOrElse(Seq.empty) ++
            evs.map(e => tsToMicros(e._2))).sorted
          val sessions = toSessions(times)
          // Sessions are time-ordered with last_i < start_{i+1}, so the
          // provably-complete ones (last + gap <= watermark) are a prefix.
          val (done, open) = sessions.partition { case (_, l, _) => l + GapUs <= wmUs }
          if (open.isEmpty) state.remove()
          else {
            state.update(Pending(times.filter(_ >= open.head._1)))
            state.setTimeoutTimestamp(math.max(
              (open.head._2 + GapUs) / 1000L,
              state.getCurrentWatermarkMs() + 1))
          }
          done.iterator.map { case (s, _, n) =>
            SessionRow(uid, microsToTs(s), n)
          }
      }
  }

  case class AnomalyRow(event_id: Long, user_id: Long, us: Long,
    x: Long, n_w: Long, anom: Long)

  /** Watermark-buffer state for [[anomaliesWithState]]: not-yet-final
    * events plus the ≤ 23 most recent FINALIZED cents (the trailing
    * frame seed for the next event).
    */
  case class AnomState(buffered: Seq[(Long, Long, Long)],
    window: Seq[Long])

  /** Streaming twin of [[graft.operators.Events.rollingAnomalies]] —
    * the alerting shape monitoring actually deploys (batch z-scores
    * arrive hours late): per-user trailing-24-row anomaly flags with
    * the SAME all-Long 2σ inequality `(n·x−S1)² > 4·(n·S2−S1²)` (no
    * float σ exists to disagree on), emitted as events finalize at
    * the watermark. Out-of-order arrivals are handled by the
    * sessionizer's watermark-buffer pattern: events buffer until the
    * watermark passes them, then finalize in exact (us, event_id)
    * order — so the flags are bit-identical to the batch window, not
    * approximately ordered. State per user: the buffer (bounded by
    * the watermark horizon) + 23 longs of trailing frame — O(1)
    * beyond the horizon, independent of stream length.
    * EventStreamsSpec pins stream rows ≡ the batch operator's rows
    * for every finalized event.
    */
  def anomaliesWithState(events: DataFrame): Dataset[AnomalyRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "2 hours")
      .select(col("user_id"), col("event_id"), col("ts"),
        graft.operators.Exact.cents(col("value")).as("x"))
      .as[(Long, Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AnomState, AnomalyRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, evs: Iterator[(Long, Long, java.sql.Timestamp, Long)],
         state: GroupState[AnomState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val prev = state.getOption.getOrElse(AnomState(Nil, Nil))
          val merged = (prev.buffered ++
            evs.map(e => (tsToMicros(e._3), e._2, e._4)))
            .sortBy { case (us, eid, _) => (us, eid) }
          val (ready, pending) = merged.partition(_._1 <= wmUs)
          var win = prev.window
          val out = ready.map { case (us, eid, x) =>
            val frame = (win :+ x).takeRight(24)
            val n = frame.length.toLong
            val s1 = frame.sum
            val s2 = frame.map(v => v * v).sum
            val d = n * x - s1
            val anom = if (d * d > 4L * (n * s2 - s1 * s1)) 1L else 0L
            win = (win :+ x).takeRight(23)
            AnomalyRow(eid, uid, us, x, n, anom)
          }
          state.update(AnomState(pending, win))
          if (pending.nonEmpty)
            state.setTimeoutTimestamp(math.max(pending.head._1 / 1000L,
              state.getCurrentWatermarkMs() + 1))
          out.iterator
      }
  }

  /** Run a streaming aggregation to a named in-memory table until the
    * (finite) file source drains — the spec's harness.
    */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode): StreamingQuery = {
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** The qS11 streaming-vs-oracle gate: VARIANT schema-drift
    * classification at INGEST — q259's extraction
    * ([[graft.operators.Relational.variantShredProjection]], shared
    * fragments with the batch census so stream and batch cannot
    * drift) run as the stateless per-row arrival leg: staged
    * multi-file feed → parse_json + typed variant_get extraction +
    * per-row schema_of_variant label → append-mode parquet sink with
    * checkpoint, Trigger.AvailableNow, read back. No watermark, no
    * state store, constant memory — exactly where VARIANT earns its
    * keep at ingest: one binary column absorbs producer drift
    * per-row, the census (q259) is then an ordinary downstream
    * aggregate. The oracle replays every row's extraction from the
    * shared synthesis text with DuckDB's native JSON functions (row
    * grain — stronger than the census: any single mis-extraction or
    * schema-label drift flips the hash).
    */
  /** Streaming native-TIME profiling at ingest (qS12) — q262's
    * per-row derivation ([[graft.operators.Events.timeOfDayProjection]],
    * shared fragments) as the stateless arrival leg: µs-of-day from
    * the raw nanos long, typed TIME(6) construction, hour bucket,
    * second extraction — no watermark, no state, constant memory.
    * The sink rows carry REAL TIME(6) columns through a STREAMING
    * Parquet sink (the platform capability under test — checkpointed
    * exactly-once, typed all the way to the files). Oracle replays
    * every arriving row's derivation from epoch-µs (row grain, TIME
    * values compared as values — the q262 comparator contract).
    */
  def timeProfiledFinalized(spark: SparkSession, dir: String): DataFrame =
    stagedGate("graft-qs12-") { tmp =>
      spark.conf.set("spark.sql.timeType.enabled", "true")
      // Stage via Corpus.events, which normalizes BOTH corpus ts
      // encodings (TIMESTAMP(NANOS)-as-long under the legacy conf,
      // and already-µs timestamp) to µs TimestampNTZ — a raw read +
      // cast assumed the typed encoding and would misread the
      // nanos-long variant.
      graft.sources.Corpus.events(spark, dir)
        .select(col("event_id"), col("ts"))
        .repartition(4)
        .write.mode("overwrite").parquet(s"$tmp/in/events.parquet")
      val feed = spark.readStream
        .schema(StructType(Seq(
          StructField("event_id", LongType),
          StructField("ts", TimestampNTZType))))
        .parquet(s"$tmp/in/events.parquet")
      val q = graft.operators.Events.timeOfDayProjection(feed)
        .writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", s"$tmp/data")
        .option("checkpointLocation", s"$tmp/chk")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.stop()
      spark.read.parquet(s"$tmp/data")
    }.orderBy(col("event_id"))

  def variantShreddedFinalized(spark: SparkSession, dir: String): DataFrame =
    stagedGate("graft-qs11-") { tmp =>
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Stage only the columns the projection reads — ts (the
    // nanos-typed column) stays out of the feed entirely.
    spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
      .repartition(4)
      .write.mode("overwrite").parquet(s"$tmp/in/events.parquet")
    val feed = spark.readStream
      .schema(StructType(Seq(
        StructField("event_id", LongType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType))))
      .parquet(s"$tmp/in/events.parquet")
    val q = graft.operators.Relational.variantShredProjection(feed)
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$tmp/data")
      .option("checkpointLocation", s"$tmp/chk")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.stop()
    spark.read.parquet(s"$tmp/data")
  }.orderBy(col("event_id"))
}
