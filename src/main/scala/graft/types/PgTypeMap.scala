package graft.types

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{FlacoSparkException, ParityOptions}

/** The reference's complete type system is one 19-arm switch from
  * PostgreSQL wire type to Arrow builder (reference `src/lib.rs:199-386`;
  * exhaustive table in SURVEY.md §1.2). Here the Catalyst type each PG
  * type reads as is [[FlacoPostgresDialect]]'s choice (Spark's defaults
  * where it defers), and the row decoding is `graft.jdbc.MiniPgScan`'s
  * per-column decoders (Spark's JDBC getters for other drivers);
  * PgTypeMapSpec pins both for every type the wire names. This object
  * holds [[applyParity]], which post-processes a loaded DataFrame for
  * the semantics that are flaco-specific rather than JDBC-standard.
  */
object PgTypeMap {

  /** Exact-mode override: NUMERIC keeps full precision instead of the
    * reference's lossy to_f64 (`src/lib.rs:375-381`).
    */
  val numericExact: DataType = DecimalType(38, 18)

  /** Post-load adjustments for flaco-specific value semantics that the
    * stock JDBC reader does not apply:
    *   - numericAsDouble: DECIMAL columns -> double (src/lib.rs:375-381)
    *   - nullFloatsAsNaN: float/double NULL -> NaN (src/lib.rs:272,280)
    *   - timeAsMicros: TIME/TIMETZ columns (found via the `pg_type`
    *     field metadata the dialect records) -> µs since midnight as
    *     BIGINT (src/lib.rs:350-366). Assumes a UTC session time zone
    *     (every session this engine builds is UTC).
    *   - timeAsNative: the same columns -> Spark 4.1's native TIME(6),
    *     the typed form of the reference's Time64(µs) output, built by
    *     `make_time` from the µs twin's integer parts of the day, so the
    *     two legs are value-identical by construction. The type holds
    *     µs, but the values do not yet: both read paths take a TIME
    *     cell through `ResultSet.getTime`, which keeps whole
    *     milliseconds (ROADMAP direction 3). Requires
    *     `spark.sql.timeType.enabled=true`; mutually exclusive with
    *     timeAsMicros. Parquet and the Feather sink (Arrow
    *     `Time64(MICROSECOND)`) write TIME natively; Spark's JDBC write
    *     rejects it (UNSUPPORTED_DATA_TYPE_FOR_DATASOURCE), so cast to
    *     the µs twin or to STRING to write back to PG.
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
    if (parity.timeAsNative &&
        !df.sparkSession.conf.get("spark.sql.timeType.enabled", "false").equalsIgnoreCase("true"))
      throw new FlacoSparkException(
        "timeAsNative needs spark.sql.timeType.enabled=true (Spark 4.1 " +
          "gates the TIME type behind it; graft.Flaco.session sets it, " +
          "or spark.conf.set it — the flag is runtime-settable).")
    if (parity.timeAsMicros || parity.timeAsNative)
      out = out.schema.fields.foldLeft(out) {
        case (d, f @ StructField(n, TimestampType | TimestampNTZType, _, _))
            if pgTypeOf(f).exists(t => t == "time" || t == "timetz") =>
          val ts = if (f.dataType == TimestampNTZType)
            col(n).cast(TimestampType) else col(n)
          // µs since midnight, and TIME(6) from its parts (NULL for a
          // NULL part): integer `div` and an exact decimal second, never
          // `/` (double rounding — the Corpus.events lesson).
          val us = unix_micros(ts) - unix_micros(date_trunc("DAY", ts))
          def div(by: Long) = call_function("div", us, lit(by))
          d.withColumn(n,
            if (parity.timeAsMicros) us
            else call_function("make_time", div(3600000000L).cast(IntegerType),
              (div(60000000L) % 60).cast(IntegerType),
              ((us % 60000000L).cast(DecimalType(20, 0)) *
                lit(new java.math.BigDecimal("0.000001"))).cast(DecimalType(16, 6))))
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
}
