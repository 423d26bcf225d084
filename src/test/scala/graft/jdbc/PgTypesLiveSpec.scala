package graft.jdbc

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.types._

import graft.{Flaco, ParityOptions, TestSpark}

/** The FlacoPostgresDialect type arms the pagila-shaped tables don't
  * reach — uuid / json / jsonb name-first mappings, TIME/TIMETZ with
  * the reference's µs-since-midnight parity transform, the 1-byte
  * "char" code parity, and exact-NUMERIC mode — exercised against a
  * LIVE PostgreSQL over the wire driver. Env-gated like
  * PagilaLiveSpec (cancels offline; `scripts/pg_provision.sh` arms).
  *
  * Reference anchors: uuid→string is lib.rs:241-248's intent,
  * json/jsonb→re-serialized text lib.rs:226-234, time-of-day as
  * µs-since-midnight lib.rs:305-317, "char" code lib.rs:218-224,
  * numeric→float8 lib.rs:375-381 (and exact mode as the documented
  * opt-out).
  */
class PgTypesLiveSpec extends AnyFunSuite {

  private def spark = TestSpark.spark
  private val uriOpt: Option[String] = sys.env.get("FLACO_PG_URI")

  private def uri: String = {
    assume(uriOpt.isDefined,
      "FLACO_PG_URI not set — live-PG type gate dormant offline")
    graft.types.FlacoPostgresDialect.register()
    MiniPgDriver.ensureRegistered()
    uriOpt.get
  }

  private lazy val loaded: Boolean = {
    val conn = java.sql.DriverManager.getConnection(uri)
    try {
      val st = conn.createStatement()
      st.executeUpdate("DROP TABLE IF EXISTS flaco_types_live")
      st.executeUpdate(
        """CREATE TABLE flaco_types_live (
          |  id int4,
          |  u uuid,
          |  j json,
          |  jb jsonb,
          |  t time,
          |  ttz timetz,
          |  c "char",
          |  n numeric(10,4))""".stripMargin)
      st.executeUpdate(
        """INSERT INTO flaco_types_live VALUES
          |  (1, 'a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11',
          |   '{"k": 1}', '{"k": [1, 2]}',
          |   '12:34:56.25', '12:34:56.25+02', 'A', 1234.5678),
          |  (2, NULL, NULL, NULL, '00:00:00', '23:59:59+00', 'z',
          |   -0.0001),
          |  (3, '00000000-0000-0000-0000-000000000000', '[]', '{}',
          |   NULL, NULL, '0', NULL)""".stripMargin)
      st.close()
    } finally conn.close()
    true
  }

  test("uuid, json and jsonb load as strings via the name-first arms") {
    val u = uri
    assert(loaded)
    val df = Flaco.readSqlToDataFrame(spark, u,
      "select id, u, j, jb from flaco_types_live")
    assert(df.schema.fields.drop(1).forall(_.dataType == StringType))
    val byId = df.collect().map(r => r.getInt(0) ->
      (r.getString(1), r.getString(2), r.getString(3))).toMap
    assert(byId(1)._1 === "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11")
    assert(byId(1)._2 === """{"k": 1}""")
    // jsonb re-serializes canonically (PG's own text form).
    assert(byId(1)._3 === """{"k": [1, 2]}""")
    assert(byId(2) === ((null, null, null)))
    assert(byId(3)._2 === "[]")
  }

  test("jsonb's ?, ?| and ?& operators reach PostgreSQL as written") {
    val u = uri
    val df = Flaco.readSqlToDataFrame(spark, u,
      """select '{"a":1}'::jsonb ? 'a' as has_a,
        |  '{"a":1}'::jsonb ?| array['b'] as any_b,
        |  '{"a":1}'::jsonb ?& array['a'] as all_a""".stripMargin)
    val r = df.collect().head
    assert((r.getBoolean(0), r.getBoolean(1), r.getBoolean(2)) === ((true, false, true)))
  }

  test("xml loads as string via the name-first arm and parses " +
      "downstream with from_xml (the reference hard-aborts on xml, " +
      "lib.rs:382-385)") {
    val u = uri
    val conn = java.sql.DriverManager.getConnection(u)
    try {
      val st = conn.createStatement()
      st.executeUpdate("DROP TABLE IF EXISTS flaco_xml_live")
      st.executeUpdate(
        "CREATE TABLE flaco_xml_live (id int4, x xml)")
      st.executeUpdate(
        """INSERT INTO flaco_xml_live VALUES
          |  (1, '<r a="7"><v>41</v></r>'),
          |  (2, XMLPARSE(DOCUMENT '<r a="8"><v>42</v></r>')),
          |  (3, NULL)""".stripMargin)
      st.close()
    } finally conn.close()
    val df = Flaco.readSqlToDataFrame(spark, u,
      "select id, x from flaco_xml_live")
    assert(df.schema("x").dataType === StringType)
    assert(df.schema("x").metadata.getString("pg_type") === "xml")
    val parsed = df.selectExpr("id",
      "from_xml(x, '_a INT, v INT') AS s")
      .selectExpr("id", "s._a AS a", "s.v AS v")
      .collect().map(r => r.getInt(0) ->
        (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(parsed(1) === ((Some(7), Some(41))))
    assert(parsed(2) === ((Some(8), Some(42))))
    assert(parsed(3) === ((None, None)))
  }

  test("TIME and TIMETZ under timeAsMicros parity are exact " +
    "µs-since-midnight (the reference's time mapping)") {
    val u = uri
    assert(loaded)
    val df = Flaco.readSqlToDataFrame(spark, u,
      "select id, t, ttz from flaco_types_live",
      parity = ParityOptions(timeAsMicros = true))
    assert(df.schema("t").dataType === LongType)
    assert(df.schema("ttz").dataType === LongType)
    val byId = df.collect().map(r => r.getInt(0) ->
      (if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1)),
        if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2))))
      .toMap
    val t1 = ((12L * 3600 + 34 * 60 + 56) * 1000000) + 250000
    assert(byId(1)._1 === t1)
    // timetz 12:34:56.25+02 is 10:34:56.25 UTC.
    assert(byId(1)._2 === t1 - 2L * 3600 * 1000000)
    assert(byId(2)._1 === 0L)
    assert(byId(2)._2 === (23L * 3600 + 59 * 60 + 59) * 1000000)
    assert(byId(3) === ((null, null)))
  }

  test("TIME and TIMETZ under timeAsNative parity are typed TIME(6) " +
    "columns, value-identical to the µs twin (the reference's Time64 arm)") {
    val u = uri
    assert(loaded)
    val df = Flaco.readSqlToDataFrame(spark, u,
      "select id, t, ttz from flaco_types_live",
      parity = ParityOptions(timeAsNative = true))
    assert(df.schema("t").dataType ===
      org.apache.spark.sql.types.TimeType(6))
    assert(df.schema("ttz").dataType ===
      org.apache.spark.sql.types.TimeType(6))
    val byId = df.collect().map(r => r.getInt(0) ->
      (r.getAs[java.time.LocalTime](1), r.getAs[java.time.LocalTime](2)))
      .toMap
    assert(byId(1)._1 === java.time.LocalTime.of(12, 34, 56, 250000000))
    // timetz 12:34:56.25+02 is 10:34:56.25 UTC — same normalization
    // as the µs twin (lib.rs:358 discards the offset post-shift).
    assert(byId(1)._2 === java.time.LocalTime.of(10, 34, 56, 250000000))
    assert(byId(2)._1 === java.time.LocalTime.MIDNIGHT)
    assert(byId(2)._2 === java.time.LocalTime.of(23, 59, 59))
    assert(byId(3) === ((null, null)))
  }

  test("TIME(6) JDBC write is a PINNED platform boundary; the " +
    "documented STRING fallback round-trips typed TIME through PG") {
    val u = uri
    assert(loaded)
    val ss = spark
    val df = ss.sql(
      "SELECT id, to_time(format_string('%02d:30:15.5', " +
        "CAST(id AS INT))) AS t FROM range(3)")
    // Boundary: Spark's JDBC relation provider rejects TIME before
    // any dialect runs (no JdbcUtils setter on 4.1.2). If this ever
    // starts passing, PgTypeMap.applyParity's timeAsNative doc and
    // this fallback contract should be revisited.
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.write.mode("overwrite")
        .jdbc(u, "flaco_time_write", new java.util.Properties())
    }
    assert(e.getMessage.contains("TIME"))
    // Fallback: cast to STRING on the way out, PG coerces to TIME,
    // and the typed leg reads it back as TIME(6) values intact.
    val conn = java.sql.DriverManager.getConnection(u)
    try {
      val st = conn.createStatement()
      st.executeUpdate("DROP TABLE IF EXISTS flaco_time_write")
      st.executeUpdate(
        "CREATE TABLE flaco_time_write (id int8, t time)")
      st.close()
    } finally conn.close()
    df.selectExpr("id", "CAST(t AS STRING) AS t")
      .write.mode("append")
      .jdbc(u, "flaco_time_write", new java.util.Properties())
    val back = Flaco.readSqlToDataFrame(spark, u,
      "select id, t from flaco_time_write",
      parity = ParityOptions(timeAsNative = true))
      .orderBy("id").collect()
    assert(back.map(_.getAs[java.time.LocalTime](1)).toSeq ===
      (0 until 3).map(i => java.time.LocalTime.of(i, 30, 15, 500000000)))
  }

  test("the 1-byte \"char\" column under charAsCode parity yields " +
    "the character code") {
    val u = uri
    assert(loaded)
    val df = Flaco.readSqlToDataFrame(spark, u,
      "select id, c from flaco_types_live",
      parity = ParityOptions(charAsCode = true))
    assert(df.schema("c").dataType === ByteType)
    val byId = df.collect().map(r => r.getInt(0) -> r.getByte(1)).toMap
    assert(byId(1) === 'A'.toByte)
    assert(byId(2) === 'z'.toByte)
    assert(byId(3) === '0'.toByte)
  }

  test("an interval column degrades to PG's text rendering (Spark " +
    "4.1 maps Types.OTHER to string — delegation, not the abort)") {
    // First live run recorded the REAL contract here: where the
    // reference aborts on interval (`unimplemented!`, lib.rs:367-374)
    // and the dialect docstring anticipated a catchable load error,
    // Spark 4.1's JDBC source loads Types.OTHER columns as their text
    // rendering — strictly better delegation (the same rows an
    // explicit ::text cast yields; [[graft.functions.DecodeInterval]]
    // remains the exact-decode path, q46).
    val u = uri
    assert(loaded)
    val df = Flaco.readSqlToDataFrame(spark, u,
      "select id, make_interval(days => id) AS iv from flaco_types_live")
    assert(df.schema("iv").dataType === StringType)
    val byId = df.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(byId(2) === "2 days")
    val txt = Flaco.readSqlToDataFrame(spark, u,
      "select id, make_interval(days => id)::text AS iv " +
        "from flaco_types_live")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(byId === txt, "OTHER-as-string diverged from explicit ::text")
  }

  test("numeric loads as float8 under default parity and as exact " +
    "DECIMAL in exact mode") {
    val u = uri
    assert(loaded)
    val lossy = Flaco.readSqlToDataFrame(spark, u,
      "select id, n from flaco_types_live")
    assert(lossy.schema("n").dataType === DoubleType)
    assert(lossy.filter("id = 1").head().getDouble(1) === 1234.5678)
    // Exact mode is a LOAD-time dialect choice (the JDBC schema is
    // decided by the registered dialect, not the post-load parity
    // transforms) — the FakePgSpec register/unregister pattern.
    val d = graft.types.FlacoPostgresDialect.register(
      ParityOptions(numericAsDouble = false))
    val exact =
      try Flaco.readSqlToDataFrame(spark, u,
        "select id, n from flaco_types_live",
        parity = ParityOptions(numericAsDouble = false))
      finally org.apache.spark.sql.jdbc.JdbcDialects.unregisterDialect(d)
    assert(exact.schema("n").dataType.isInstanceOf[DecimalType])
    assert(exact.filter("id = 2").head().getDecimal(1)
      .compareTo(new java.math.BigDecimal("-0.0001")) === 0)
    assert(exact.filter("id = 3").head().isNullAt(1))
  }
}
