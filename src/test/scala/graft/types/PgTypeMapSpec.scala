package graft.types

import java.nio.ByteBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.{Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.{FlacoSparkException, ParityOptions, TestSpark}

/** The reference's 19-arm wire-type switch (reference
  * `src/lib.rs:199-386`) as the types a read returns, plus the
  * value-level parity transforms. The reference itself has zero unit
  * tests; this is the upgrade SURVEY.md §5 calls for.
  */
class PgTypeMapSpec extends AnyFunSuite {

  /** An enum's OID: one the wire has no name for. */
  private val EnumOid = 16390

  /** What a read returns for each type the wire names, and for an
    * enum: (OID, Catalyst type at default parity, at exact parity,
    * whether the columnar scan decodes the column itself rather than
    * sending the statement to the JDBC reader). TIME and TIMETZ read as
    * timestamps on the epoch date, interval as PG's text render and
    * `"char"` as a string; `timeAsMicros`, `timeAsNative` and
    * `charAsCode` ([[PgTypeMap.applyParity]]) change those after the
    * read, and [[graft.functions.DecodeInterval]] decodes a binary
    * interval payload.
    */
  private val readTypes: Seq[(Int, DataType, DataType, Boolean)] = Seq(
    (16, BooleanType, BooleanType, true), // bool
    (17, BinaryType, BinaryType, true), // bytea
    (18, StringType, StringType, true), // "char"
    (20, LongType, LongType, true), // int8
    (21, ShortType, ShortType, true), // int2
    (23, IntegerType, IntegerType, true), // int4
    (25, StringType, StringType, true), // text
    (114, StringType, StringType, true), // json
    (142, StringType, StringType, true), // xml
    (700, FloatType, FloatType, true), // float4
    (701, DoubleType, DoubleType, true), // float8
    (1042, StringType, StringType, true), // bpchar
    (1043, StringType, StringType, true), // varchar
    (1082, DateType, DateType, true), // date
    (1083, TimestampType, TimestampType, true), // time
    (1114, TimestampNTZType, TimestampNTZType, true), // timestamp
    (1184, TimestampType, TimestampType, true), // timestamptz
    (1186, StringType, StringType, true), // interval
    (1266, TimestampType, TimestampType, true), // timetz
    (1700, DoubleType, DecimalType(38, 18), true), // numeric
    (2950, StringType, StringType, true), // uuid
    (3802, StringType, StringType, true), // jsonb
    // The reference aborts on an enum such as pagila's
    // `film.mpaa_rating` (`src/lib.rs:382-385`); here it reads as text.
    (EnumOid, StringType, StringType, true))

  test("every type the wire names reads as one Catalyst type at each " +
    "parity, decoded by the scan or by the JDBC reader") {
    import org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
    import org.apache.spark.sql.jdbc.JdbcDialects
    import graft.jdbc.{Cells, MiniPgResultSet, MiniPgWire}
    val oids = MiniPgWire.TypeName.keys.toSeq.sorted :+ EnumOid
    val cols = oids.map(oid => MiniPgWire.Col(s"c$oid", oid, -1)).toArray
    // Per parity: the schema a read gets, and whether the scan decodes
    // each column, alike in binary and in text transfer.
    def read(parity: ParityOptions): (StructType, Seq[Boolean]) = {
      val installed = FlacoPostgresDialect.register(parity)
      try {
        val dialect = JdbcDialects.get("jdbc:postgresql://localhost/db")
        val schema = JdbcUtils.getSchema(null, MiniPgResultSet.describing(cols), dialect, true, false)
        (schema, cols.indices.map { c =>
          val byMode = Seq(true, false).map(Cells.decoder(schema(c), cols(c), _, dialect).isDefined)
          assert(byMode.distinct.size === 1, s"OID ${cols(c).oid}")
          byMode.head
        })
      } finally JdbcDialects.unregisterDialect(installed)
    }
    val (default, decoded) = read(ParityOptions())
    val (exact, exactDecoded) = read(ParityOptions(numericAsDouble = false))
    assert(exactDecoded === decoded)
    val got = oids.indices.map(c => (oids(c), default(c).dataType, exact(c).dataType, decoded(c)))
    assert(got === readTypes)
    // The dialect names each column's wire type for applyParity.
    oids.indices.foreach { c =>
      assert(default(c).metadata.getString("pg_type") ===
        MiniPgWire.TypeName.getOrElse(oids(c), "unknown"))
    }
  }

  test("decode_interval round-trips any (months, days, micros) [property]") {
    import graft.functions.IntervalFunctions.decode_interval
    import org.apache.spark.sql.functions.col
    import org.scalacheck.{Arbitrary, Gen}
    val spark = TestSpark.spark
    val schema = StructType(Seq(StructField("k", IntegerType), StructField("p", BinaryType)))
    val samples = Gen.listOfN(200, Arbitrary.arbitrary[(Int, Int, Long)])
    val prop = Prop.forAll(samples) { ivs =>
      val rows = ivs.zipWithIndex.map { case ((months, days, micros), k) =>
        Row(k, ByteBuffer.allocate(16).putLong(micros).putInt(days).putInt(months).array())
      }
      val got = spark.createDataFrame(java.util.List.of(rows: _*), schema)
        .select(col("k"), decode_interval(col("p")).as("iv")).orderBy("k").collect()
        .map { r => val iv = r.getStruct(1); (iv.getInt(0), iv.getInt(1), iv.getLong(2)) }
      got.toSeq == ivs
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), prop).passed)
  }

  test("decode_interval expression decodes payload columns (codegen path)") {
    import graft.functions.IntervalFunctions.decode_interval
    import org.apache.spark.sql.functions.col
    val spark = TestSpark.spark
    def payload(months: Int, days: Int, micros: Long): Array[Byte] =
      ByteBuffer.allocate(16).putLong(micros).putInt(days).putInt(months).array()
    val schema = StructType(Seq(StructField("k", IntegerType),
      StructField("p", BinaryType)))
    val df = spark.createDataFrame(
      java.util.List.of(
        Row(1, payload(14, 3, 5000000L)),
        Row(2, Array[Byte](1, 2, 3)), // wrong length -> NULL
        Row(3, null)),
      schema)
    val got = df.select(col("k"), decode_interval(col("p")).as("iv"))
      .orderBy("k").collect()
    val iv = got(0).getStruct(1)
    assert((iv.getInt(0), iv.getInt(1), iv.getLong(2)) === ((14, 3, 5000000L)))
    assert(got(1).isNullAt(1) && got(2).isNullAt(1))
  }

  test("applyParity numericAsDouble casts decimal columns to double") {
    val spark = TestSpark.spark
    val schema = StructType(Seq(
      StructField("d", DecimalType(10, 2)), StructField("s", StringType)))
    val df = spark.createDataFrame(
      java.util.List.of(
        Row(new java.math.BigDecimal("12.34"), "x"),
        Row(null, "y")),
      schema)
    val out = PgTypeMap.applyParity(df, ParityOptions(numericAsDouble = true))
    assert(out.schema("d").dataType === DoubleType)
    val vals = out.orderBy("s").collect()
    assert(vals(0).getDouble(0) === 12.34)
    assert(vals(1).isNullAt(0))
  }

  test("applyParity nullFloatsAsNaN erases float/double nulls to NaN") {
    val spark = TestSpark.spark
    val schema = StructType(Seq(
      StructField("f", FloatType), StructField("d", DoubleType),
      StructField("k", IntegerType)))
    val df = spark.createDataFrame(
      java.util.List.of(
        Row(1.5f, 2.5, 1), Row(null, null, 2)),
      schema)
    // Default: real nulls preserved (Spark-native behavior).
    val keep = PgTypeMap.applyParity(df, ParityOptions())
    assert(keep.orderBy("k").collect()(1).isNullAt(0))
    // Parity: the reference's NULL→NaN erasure (src/lib.rs:272,280).
    val nan = PgTypeMap.applyParity(df, ParityOptions(nullFloatsAsNaN = true))
      .orderBy("k").collect()
    assert(nan(0).getFloat(0) === 1.5f && nan(0).getDouble(1) === 2.5)
    assert(nan(1).getFloat(0).isNaN && nan(1).getDouble(1).isNaN)
  }

  test("dialect records the wire type name as pg_type field metadata") {
    val md = new MetadataBuilder()
    new FlacoPostgresDialect().getCatalystType(java.sql.Types.TIME, "TIME", 8, md)
    assert(md.build().getString("pg_type") === "time")
  }

  test("applyParity timeAsMicros lands TIME columns on µs-since-midnight BIGINT") {
    val spark = TestSpark.spark
    val timeMeta = new MetadataBuilder().putString("pg_type", "time").build()
    val schema = StructType(Seq(
      StructField("t", TimestampType, nullable = true, timeMeta),
      // Same Catalyst type WITHOUT the marker: must be untouched.
      StructField("ts", TimestampType)))
    val inst = java.sql.Timestamp.from(
      java.time.Instant.parse("1970-01-01T01:02:03.000456Z"))
    val df = spark.createDataFrame(
      java.util.List.of(Row(inst, inst), Row(null, null)), schema)
    val out = PgTypeMap.applyParity(df, ParityOptions(timeAsMicros = true))
    assert(out.schema("t").dataType === LongType)
    assert(out.schema("ts").dataType === TimestampType)
    val rows = out.collect()
    // 1h 2m 3.000456s = 3723000456 µs — the §1.2 target value
    // (src/lib.rs:350-366).
    assert(rows(0).getLong(0) === 3723000456L)
    assert(rows(1).isNullAt(0))
  }

  test("applyParity timeAsNative lands TIME columns on TIME(6), value-identical to the µs twin") {
    val spark = TestSpark.spark
    val timeMeta = new MetadataBuilder().putString("pg_type", "time").build()
    val tzMeta = new MetadataBuilder().putString("pg_type", "timetz").build()
    val schema = StructType(Seq(
      StructField("t", TimestampType, nullable = true, timeMeta),
      StructField("tz", TimestampNTZType, nullable = true, tzMeta),
      // Same Catalyst type WITHOUT the marker: must be untouched.
      StructField("ts", TimestampType)))
    val inst = java.sql.Timestamp.from(
      java.time.Instant.parse("1970-01-01T01:02:03.000456Z"))
    val ldt = java.time.LocalDateTime.parse("1970-01-01T23:59:59.999999")
    val df = spark.createDataFrame(
      java.util.List.of(Row(inst, ldt, inst), Row(null, null, null)), schema)
    val out = PgTypeMap.applyParity(df, ParityOptions(timeAsNative = true))
    assert(out.schema("t").dataType === TimeType(6))
    assert(out.schema("tz").dataType === TimeType(6))
    assert(out.schema("ts").dataType === TimestampType)
    val rows = out.collect()
    assert(rows(0).getAs[java.time.LocalTime]("t") ===
      java.time.LocalTime.of(1, 2, 3, 456000))
    assert(rows(0).getAs[java.time.LocalTime]("tz") ===
      java.time.LocalTime.of(23, 59, 59, 999999000))
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
    // Value-identity with the BIGINT twin (src/lib.rs:350-366's µs):
    // LocalTime µs must equal the timeAsMicros leg row-for-row.
    val twin = PgTypeMap.applyParity(df, ParityOptions(timeAsMicros = true))
      .select("t").collect()
    assert(rows(0).getAs[java.time.LocalTime]("t").toNanoOfDay / 1000L ===
      twin(0).getLong(0))
  }

  test("timeAsNative without the TIME flag raises the typed error; with timeAsMicros it is rejected") {
    val spark = TestSpark.spark
    val timeMeta = new MetadataBuilder().putString("pg_type", "time").build()
    val schema = StructType(Seq(
      StructField("t", TimestampType, nullable = true, timeMeta)))
    // newSession: own runtime SQLConf, shared context — flip the flag
    // off without touching the suite-wide session.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.timeType.enabled", "false")
    val df2 = s2.createDataFrame(java.util.List.of(Row(null)), schema)
    val e = intercept[FlacoSparkException] {
      PgTypeMap.applyParity(df2, ParityOptions(timeAsNative = true))
    }
    assert(e.getMessage.contains("spark.sql.timeType.enabled"))
    val df = spark.createDataFrame(java.util.List.of(Row(null)), schema)
    val both = intercept[FlacoSparkException] {
      PgTypeMap.applyParity(df,
        ParityOptions(timeAsNative = true, timeAsMicros = true))
    }
    assert(both.getMessage.contains("mutually exclusive"))
  }

  test("TIME→STRING render contract: trailing fraction zeros trimmed, dot dropped at zero fraction") {
    val spark = TestSpark.spark
    val r = spark.sql(
      "SELECT cast(TIME'07:30:15.120000' AS STRING), " +
        "cast(TIME'07:00:00' AS STRING), " +
        "cast(TIME'23:59:59.999999' AS STRING)").collect()(0)
    assert(r.getString(0) === "07:30:15.12")
    assert(r.getString(1) === "07:00:00")
    assert(r.getString(2) === "23:59:59.999999")
  }

  test("applyParity charAsCode lands 1-byte \"char\" columns on the code") {
    val spark = TestSpark.spark
    val charMeta = new MetadataBuilder().putString("pg_type", "char").build()
    val schema = StructType(Seq(
      StructField("c", StringType, nullable = true, charMeta),
      StructField("s", StringType)))
    val df = spark.createDataFrame(
      java.util.List.of(Row("A", "A"), Row(null, null)), schema)
    val out = PgTypeMap.applyParity(df, ParityOptions(charAsCode = true))
    assert(out.schema("c").dataType === ByteType)
    assert(out.schema("s").dataType === StringType)
    val rows = out.collect()
    assert(rows(0).getByte(0) === 65.toByte)
    assert(rows(0).getString(1) === "A")
    assert(rows(1).isNullAt(0))
  }
}
