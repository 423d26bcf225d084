package graft.types

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{FlacoSparkException, ParityOptions}

/** The reference's complete type system is one 19-arm switch from
  * PostgreSQL wire type to Arrow builder (reference `src/lib.rs:199-386`;
  * exhaustive table in SURVEY.md §1.2). Here that switch becomes a pure
  * mapping spec `pg type name -> Catalyst DataType` plus the value-level
  * conversion semantics the reference applies. The row decoding is
  * done by `graft.jdbc.MiniPgScan`'s per-column decoders (Spark's JDBC
  * getters for other drivers); this object is the contract (and the
  * unit of test) for WHICH Catalyst type each PG type must land on, and
  * [[applyParity]] post-processes a loaded DataFrame for the semantics
  * that are flaco-specific rather than JDBC-standard.
  */
object PgTypeMap {

  /** pg type name (lowercase, as in pg_type.typname) -> Catalyst type.
    * One entry per arm of `src/lib.rs:199-386`.
    */
  val mapping: Map[String, DataType] = Map(
    "bytea" -> BinaryType,                  // src/lib.rs:202-207
    "bool" -> BooleanType,                  // src/lib.rs:208-213
    "char" -> ByteType,                     // 1-byte "char": keeps the code, src/lib.rs:214-219
    "text" -> StringType,                   // src/lib.rs:220-225
    "varchar" -> StringType,
    "name" -> StringType,
    "bpchar" -> StringType,
    "unknown" -> StringType,
    "json" -> StringType,                   // re-serialized text, not nested: src/lib.rs:226-234
    "jsonb" -> StringType,
    "oid" -> LongType,                      // u32 widened; JVM has no unsigned: src/lib.rs:235-240
    "uuid" -> StringType,                   // the INTENT of src/lib.rs:241-248 (which mis-decodes via IpAddr)
    "int2" -> ShortType,                    // src/lib.rs:249-254
    "int4" -> IntegerType,                  // src/lib.rs:255-260
    "int8" -> LongType,                     // src/lib.rs:261-266
    "float4" -> FloatType,                  // src/lib.rs:267-274
    "float8" -> DoubleType,                 // src/lib.rs:275-282
    "timestamp" -> TimestampNTZType,        // µs, tz-naive: src/lib.rs:283-303
    "timestamptz" -> TimestampType,         // instant; offset label dropped: src/lib.rs:304-332
    "date" -> DateType,                     // src/lib.rs:333-349
    "time" -> LongType,                     // µs since midnight (BIGINT twin of src/lib.rs:350-366);
                                            // the TYPED form is [[timeNative]] (TIME(6), Spark 4.1+)
    "timetz" -> LongType,                   // offset discarded, same as reference: src/lib.rs:358
    "interval" -> StructType(Seq(           // decoded 16-byte PG binary: src/lib.rs:367-374
      StructField("months", IntegerType),
      StructField("days", IntegerType),
      StructField("micros", LongType))),
    "numeric" -> DoubleType                 // lossy, parity default: src/lib.rs:375-381
  )

  /** Exact-mode override: NUMERIC keeps full precision instead of the
    * reference's lossy to_f64 (`src/lib.rs:375-381`).
    */
  val numericExact: DataType = DecimalType(38, 18)

  /** Native-mode override for TIME/TIMETZ: Spark 4.1's `TIME(6)` —
    * the typed equivalent of the reference's `Time64(Microsecond)`
    * Arrow columns (`src/lib.rs:350-366`). The type holds µs, but the
    * values do not yet: both read paths (MiniPgScan and Spark's JDBC
    * reader) take a TIME/TIMETZ cell through `ResultSet.getTime`,
    * which keeps whole milliseconds, so sub-millisecond digits read as
    * zero (ROADMAP direction 3). Resolution requires
    * `spark.sql.timeType.enabled=true` ([[graft.Flaco.session]] sets
    * it; [[applyParity]] checks and raises a typed error otherwise).
    *
    * Sink boundary (measured on Spark 4.1.2): Parquet round-trips
    * TIME(µs) natively (q262 gate) and the Feather sink writes Arrow
    * `Time64(MICROSECOND)` (FeatherSinkSpec); the JDBC WRITE path is
    * a platform limit — `JdbcRelationProvider` rejects TIME columns
    * with UNSUPPORTED_DATA_TYPE_FOR_DATASOURCE before any dialect is
    * consulted (JdbcUtils has no TIME setter yet). To write back to
    * PG, cast to the BIGINT µs twin or to STRING (PG coerces
    * `'HH:mm:ss.ffffff'` text into TIME columns).
    */
  val timeNative: DataType = TimeType(TimeType.MICROS_PRECISION)

  /** Everything else hits the reference's `unimplemented!` abort
    * (`src/lib.rs:382-385`); we raise a catchable exception instead.
    */
  def toCatalyst(pgType: String, parity: ParityOptions = ParityOptions()): DataType =
    pgType.toLowerCase match {
      case "numeric" if !parity.numericAsDouble => numericExact
      case "time" | "timetz" if parity.timeAsNative => timeNative
      case t => mapping.getOrElse(t, throw new FlacoSparkException(
        s"Type $t not implemented, consider casting to text in the query."))
    }

  /** Post-load adjustments for flaco-specific value semantics that the
    * stock JDBC reader does not apply:
    *   - numericAsDouble: DECIMAL columns -> double (src/lib.rs:375-381)
    *   - nullFloatsAsNaN: float/double NULL -> NaN (src/lib.rs:272,280)
    *   - timeAsMicros: TIME/TIMETZ columns (found via the `pg_type`
    *     field metadata the dialect records) -> µs since midnight as
    *     BIGINT (src/lib.rs:350-366). Assumes a UTC session time zone
    *     (every session this engine builds is UTC).
    *   - timeAsNative: the same columns -> Spark 4.1's native TIME(6)
    *     ([[timeNative]]) — the typed form of the reference's
    *     Time64(µs) output. Derivation shares the µs twin's integer
    *     math exactly (µs of day -> `to_time` over a zero-padded
    *     HH:mm:ss.SSSSSS render), so the two legs are value-identical
    *     by construction. Requires `spark.sql.timeType.enabled=true`;
    *     mutually exclusive with timeAsMicros.
    *   - charAsCode: 1-byte "char" columns -> the character code as
    *     TINYINT (src/lib.rs:214-219)
    */
  def applyParity(df: DataFrame, parity: ParityOptions): DataFrame = {
    def pgTypeOf(f: StructField): Option[String] =
      if (f.metadata.contains("pg_type")) Some(f.metadata.getString("pg_type"))
      else None
    var out = df
    if (parity.timeAsNative && parity.timeAsMicros)
      throw new FlacoSparkException(
        "timeAsNative and timeAsMicros are mutually exclusive: pick the " +
          "typed TIME(6) column or the BIGINT µs-since-midnight twin.")
    if (parity.timeAsNative) {
      if (!df.sparkSession.conf.get("spark.sql.timeType.enabled", "false")
            .equalsIgnoreCase("true"))
        throw new FlacoSparkException(
          "timeAsNative needs spark.sql.timeType.enabled=true (Spark 4.1 " +
            "gates the TIME type behind it; graft.Flaco.session sets it, " +
            "or spark.conf.set it — the flag is runtime-settable).")
      out = out.schema.fields.foldLeft(out) {
        case (d, f @ StructField(n, TimestampType | TimestampNTZType, _, _))
            if pgTypeOf(f).exists(t => t == "time" || t == "timetz") =>
          val ts = if (f.dataType == TimestampNTZType)
            col(n).cast(TimestampType) else col(n)
          // Integer µs of day (the BIGINT twin's exact derivation),
          // rendered zero-padded and re-parsed: value-identity with
          // the twin is structural, not numeric. Integer `div`, never
          // `/` (double rounding — the Corpus.events lesson).
          d.withColumn("__flaco_time_us",
              unix_micros(ts) - unix_micros(date_trunc("DAY", ts)))
            // NULL guard: format_string renders a NULL arg as the
            // literal text "null", which to_time would then reject.
            .withColumn(n, expr(
              "CASE WHEN __flaco_time_us IS NULL THEN NULL ELSE " +
                "to_time(format_string('%02d:%02d:%02d.%06d', " +
                "__flaco_time_us div 3600000000, " +
                "(__flaco_time_us div 60000000) % 60, " +
                "(__flaco_time_us div 1000000) % 60, " +
                "__flaco_time_us % 1000000)) END"))
            .drop("__flaco_time_us")
        case (d, _) => d
      }
    }
    if (parity.timeAsMicros)
      out = out.schema.fields.foldLeft(out) {
        case (d, f @ StructField(n, TimestampType | TimestampNTZType, _, _))
            if pgTypeOf(f).exists(t => t == "time" || t == "timetz") =>
          val ts = if (f.dataType == TimestampNTZType)
            col(n).cast(TimestampType) else col(n)
          d.withColumn(n,
            (unix_micros(ts) - unix_micros(date_trunc("DAY", ts))).as(n))
        case (d, _) => d
      }
    if (parity.charAsCode)
      out = out.schema.fields.foldLeft(out) {
        case (d, f @ StructField(n, StringType, _, _))
            if pgTypeOf(f).contains("char") =>
          d.withColumn(n, ascii(col(n)).cast(ByteType))
        case (d, _) => d
      }
    if (parity.numericAsDouble)
      out = out.schema.fields.foldLeft(out) {
        case (d, StructField(n, _: DecimalType, _, _)) =>
          d.withColumn(n, col(n).cast(DoubleType))
        case (d, _) => d
      }
    if (parity.nullFloatsAsNaN)
      out = out.schema.fields.foldLeft(out) {
        case (d, StructField(n, FloatType, _, _)) =>
          d.withColumn(n, coalesce(col(n), lit(Float.NaN)))
        case (d, StructField(n, DoubleType, _, _)) =>
          d.withColumn(n, coalesce(col(n), lit(Double.NaN)))
        case (d, _) => d
      }
    out
  }

  /** Decode the PG 16-byte interval wire payload the reference passes
    * through undecoded (`src/lib.rs:367-374`: µs i64, days i32, months
    * i32, big-endian on the wire) into (months, days, micros).
    */
  def decodeInterval(bytes: Array[Byte]): (Int, Int, Long) = {
    if (bytes == null || bytes.length != 16)
      throw new FlacoSparkException(
        s"interval payload must be 16 bytes, got ${if (bytes == null) "null" else bytes.length}")
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val micros = bb.getLong
    val days = bb.getInt
    val months = bb.getInt
    (months, days, micros)
  }
}
