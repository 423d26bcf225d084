package graft.jdbc

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.{Flaco, TestSpark}

/** [[MiniPgScan]]'s binary transfer (extended protocol, BINARY result
  * formats for `Cells.BinaryOids`) against the text decode of Spark's
  * JDBC reader, on a LIVE PostgreSQL 15 — env-gated like PagilaLiveSpec
  * (`scripts/pg_provision.sh` arms; cancels offline). A MiniPg result
  * set reads text only, so the two decodes share no cell code and each
  * checks the other:
  *  1. every BinaryOids type, cell by cell, with NULLs and
  *     sign/fraction/scale/range edges;
  *  2. ±infinity, which both fail on;
  *  3. timestamptz under other session time zones, whose text render
  *     carries their offsets;
  *  4. the scan's whole read in both transfer modes, hash-compared on
  *     a pagila-shaped bulk table.
  */
class PgBinaryParitySpec extends AnyFunSuite {

  private def spark = TestSpark.spark
  private val uriOpt: Option[String] = sys.env.get("FLACO_PG_URI")

  private def uri: String = {
    assume(uriOpt.isDefined,
      "FLACO_PG_URI not set — live-PG binary parity gate dormant offline")
    graft.types.FlacoPostgresDialect.register()
    MiniPgDriver.ensureRegistered()
    uriOpt.get
  }
  private def textUri: String = {
    val u = uri
    u + (if (u.contains("?")) "&" else "?") + "binaryTransfer=false"
  }

  private lazy val loaded: Boolean = {
    val conn = java.sql.DriverManager.getConnection(uri)
    try {
      val st = conn.createStatement()
      st.executeUpdate("DROP TABLE IF EXISTS flaco_binfmt_live")
      st.executeUpdate(
        """CREATE TABLE flaco_binfmt_live (
          |  id int4,
          |  i8 int8, i2 int2, b bool,
          |  f4 float4, f8 float8,
          |  d date, ts timestamp, tz timestamptz,
          |  n numeric(20,6), nn numeric,
          |  by bytea, u uuid,
          |  s text, j json)""".stripMargin)
      st.executeUpdate(
        """INSERT INTO flaco_binfmt_live VALUES
          |  (1, -9007199254740993, -32768, true,
          |   0.1, -2.2250738585072014e-308,
          |   '1999-12-31', '2021-03-14 01:02:03.25',
          |   '2021-03-14 01:02:03.25+05:30',
          |   -1234567890123.456789, 1.500,
          |   '\x0001ff7f80', 'a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11',
          |   'plain ''text''', '{"k": 1}'),
          |  (2, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
          |   NULL, NULL, NULL, NULL, NULL, NULL),
          |  (3, 9223372036854775807, 32767, false,
          |   3.4028235e38, 1.7976931348623157e308,
          |   '2000-01-01', '2000-01-01 00:00:00',
          |   '2000-01-01 00:00:00+00',
          |   0.000001, 'NaN',
          |   '\x', '00000000-0000-0000-0000-000000000000',
          |   '', '[]')""".stripMargin)
      st.close()
    } finally conn.close()
    true
  }

  /** `q` through the binary scan and through Spark's JDBC reader. */
  private def bothReads(u: String, q: String,
      readerOptions: Map[String, String] = Map.empty): (DataFrame, DataFrame) = {
    val scan = Flaco.readSqlToDataFrame(spark, u, q)
    assert(scan.queryExecution.executedPlan.collectFirst { case s: BatchScanExec => s }.isDefined)
    val reader = spark.read.format("jdbc")
      .options(Flaco.jdbcOptions(u, q) ++ readerOptions).load()
    (scan, reader)
  }

  private def cells(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq.map {
    case b: Array[Byte] => b.toSeq
    // Distinct renders for -0.0 and 0.0, and NaN equal to itself.
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case x => x
  })

  test("every BinaryOids column reads alike through the scan's binary " +
    "decode and the JDBC reader's text decode, including NULLs and range edges") {
    val u = uri
    assert(loaded)
    val (scan, reader) = bothReads(u, "select * from flaco_binfmt_live order by id")
    assert(scan.schema === reader.schema)
    val rows = cells(scan)
    assert(rows === cells(reader))
    assert(rows.size === 3)
  }

  test("±infinity timestamps and dates fail alike through the scan's " +
    "binary decode and the JDBC reader's text decode") {
    val u = uri
    Seq("'infinity'::timestamp", "'-infinity'::timestamptz", "'infinity'::date",
      "'-infinity'::date").foreach { v =>
      val (scan, reader) = bothReads(u, s"select $v as v")
      assert(Try(scan.collect()).isFailure, v)
      assert(Try(reader.collect()).isFailure, v)
    }
  }

  test("binary timestamptz reads the instant that the text render of " +
    "every session TimeZone carries") {
    val u = uri
    val q = "select tz, tz::text as r from " +
      "(select '2021-03-13 19:32:03.25+00'::timestamptz as tz) t"
    val (scan, _) = bothReads(u, q)
    val want = scan.collect().head.getTimestamp(0)
    assert(want.toInstant === java.time.Instant.parse("2021-03-13T19:32:03.250Z"))
    Seq("Asia/Kolkata" -> "2021-03-14 01:02:03.25+05:30",
      "America/New_York" -> "2021-03-13 14:32:03.25-05",
      "UTC" -> "2021-03-13 19:32:03.25+00").foreach { case (z, render) =>
      val (_, reader) = bothReads(u, q, Map("sessionInitStatement" -> s"SET TIME ZONE '$z'"))
      val got = reader.collect().head
      assert(got.getString(1) === render, s"zone $z")
      assert(got.getTimestamp(0) === want, s"zone $z")
    }
  }

  test("Spark's whole JDBC read is row-identical across transfer " +
    "modes on a pagila-shaped bulk table") {
    val u = uri
    assert(loaded)
    // payment: ids, numeric amount, timestamp — the bulk shape the
    // ingest probe measures.
    val q = "select * from payment"
    val dfB = Flaco.readSqlToDataFrame(spark, u, q)
    val dfT = Flaco.readSqlToDataFrame(spark, textUri, q)
    assert(dfB.schema === dfT.schema)
    val hb = dfB.selectExpr("count(*)", "bit_xor(xxhash64(*))").head()
    val ht = dfT.selectExpr("count(*)", "bit_xor(xxhash64(*))").head()
    assert(hb === ht)
    assert(hb.getLong(0) > 0)
  }
}
