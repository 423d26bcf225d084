package graft.jdbc

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.spark_partition_id
import org.apache.spark.sql.types.{IntegerType, LongType, ShortType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.{Flaco, ParityOptions, TestSpark}

/** [[MiniPgScan]] against Spark's JDBC reader on a LIVE PostgreSQL: the
  * same statement read both ways must give the same schema (metadata
  * included), the same row count and the same `bit_xor(xxhash64(*))`,
  * in both transfer modes, unpartitioned and with `partitionColumn`,
  * and under a `select`/`filter` on top; where the JDBC reader fails,
  * the columnar one must fail too. Env-gated like PagilaLiveSpec
  * (`scripts/pg_provision.sh` arms; cancels offline).
  *
  * The statements are those of PgTypesLiveSpec and PgBinaryParitySpec
  * (over copies of their tables), PagilaLiveSpec's 14 tables, and the
  * benchmark's ingest type mix; every fixture carries a row of NULLs.
  */
class PgColumnarParitySpec extends AnyFunSuite {

  private def spark = TestSpark.spark
  private val uriOpt: Option[String] = sys.env.get("FLACO_PG_URI")

  private def uri: String = {
    assume(uriOpt.isDefined,
      "FLACO_PG_URI not set — live-PG columnar parity gate dormant offline")
    graft.types.FlacoPostgresDialect.register()
    MiniPgDriver.ensureRegistered()
    uriOpt.get
  }
  private def textUri: String = {
    val u = uri
    u + (if (u.contains("?")) "&" else "?") + "binaryTransfer=false"
  }

  private def exec(sql: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(uri)
    try conn.createStatement().executeUpdate(sql): Unit finally conn.close()
  }

  private lazy val loaded: Boolean = {
    exec("""DROP TABLE IF EXISTS flaco_colpar_types;
      |CREATE TABLE flaco_colpar_types (
      |  id int4, u uuid, j json, jb jsonb, t time, ttz timetz, c "char",
      |  n numeric(10,4), x xml);
      |INSERT INTO flaco_colpar_types VALUES
      |  (1, 'a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11', '{"k": 1}', '{"k": [1, 2]}',
      |   '12:34:56.25', '12:34:56.25+02', 'A', 1234.5678, '<r a="7"><v>41</v></r>'),
      |  (2, NULL, NULL, NULL, '00:00:00', '23:59:59+00', 'z', -0.0001, NULL),
      |  (3, '00000000-0000-0000-0000-000000000000', '[]', '{}', NULL, NULL, '0',
      |   NULL, '<r/>'),
      |  (4, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)""".stripMargin)
    exec("""DROP TABLE IF EXISTS flaco_colpar_binfmt;
      |CREATE TABLE flaco_colpar_binfmt (
      |  id int4, i8 int8, i2 int2, b bool, f4 float4, f8 float8,
      |  d date, ts timestamp, tz timestamptz, n numeric(20,6), nn numeric,
      |  by bytea, u uuid, s text, j json);
      |INSERT INTO flaco_colpar_binfmt VALUES
      |  (1, -9007199254740993, -32768, true, 0.1, -2.2250738585072014e-308,
      |   '1999-12-31', '2021-03-14 01:02:03.25', '2021-03-14 01:02:03.25+05:30',
      |   -1234567890123.456789, 1.500, '\x0001ff7f80',
      |   'a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11', 'plain ''text''', '{"k": 1}'),
      |  (2, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
      |   NULL, NULL, NULL),
      |  (3, 9223372036854775807, 32767, false, 3.4028235e38,
      |   1.7976931348623157e308, '2000-01-01', '2000-01-01 00:00:00',
      |   '2000-01-01 00:00:00+00', 0.000001, 'NaN', '\x',
      |   '00000000-0000-0000-0000-000000000000', '', '[]'),
      |  (4, 0, 0, false, 'NaN', '-Infinity', '1000-01-01', '1000-01-01 12:00:00',
      |   '1582-10-10 12:00:00+00', 0, 0, '\x00', NULL, 'ü', NULL)""".stripMargin)
    exec("""DROP TABLE IF EXISTS flaco_colpar_ingest;
      |SELECT setseed(0.25);
      |CREATE TABLE flaco_colpar_ingest AS
      |SELECT i::int4 AS col1,
      |  (random() * 1e15)::int8 AS col2,
      |  random()::float8 AS col3,
      |  random()::float4 AS col4,
      |  lpad(to_hex((random() * 4294967295)::int8), 8, '0') || '-row-' || i::text AS col5,
      |  int8send((random() * 1e18)::int8) AS col6,
      |  date '2000-01-01' + (random() * 10000)::int AS col7,
      |  timestamp '2000-01-01' + (random() * 690000000000)::int8 * interval '1 microsecond' AS col8,
      |  timestamptz '2000-01-01 00:00:00+00' + (random() * 690000000000)::int8 * interval '1 microsecond' AS col9,
      |  time '00:00' + (random() * 86399999999)::int8 * interval '1 microsecond' AS col10
      |FROM generate_series(1, 9000) i;
      |INSERT INTO flaco_colpar_ingest (col1) VALUES (9001)""".stripMargin)
    true
  }

  private val PagilaTables = Seq(
    "actor", "address", "category", "city", "country", "customer",
    "film_actor", "film_category", "inventory", "language", "payment",
    "rental", "staff", "store")

  private val Statements: Seq[String] = Seq(
    "select id, u, j, jb from flaco_colpar_types",
    "select id, x from flaco_colpar_types",
    "select id, t, ttz from flaco_colpar_types",
    "select id, c from flaco_colpar_types",
    "select id, make_interval(days => id) AS iv from flaco_colpar_types",
    "select id, make_interval(days => id)::text AS iv from flaco_colpar_types",
    "select id, n from flaco_colpar_types",
    "select * from flaco_colpar_binfmt order by id",
    "select '2021-03-13 19:32:03.25+00'::timestamptz",
    "select * from flaco_colpar_ingest") ++ PagilaTables.map(t => s"select * from $t")

  /** A read's schema, count and row-hash xor, or its failure. */
  private def outcome(df: => DataFrame): Try[(StructType, Long, Long)] = Try {
    val d = df
    val r = d.selectExpr("count(*)", "coalesce(bit_xor(xxhash64(*)), 0)").head()
    (d.schema, r.getLong(0), r.getLong(1))
  }

  private def jdbcRead(u: String, stmt: String,
      part: Option[(String, Long, Long, Int)] = None): DataFrame =
    graft.types.PgTypeMap.applyParity(spark.read.format("jdbc")
      .options(Flaco.jdbcOptions(u, stmt, partitionColumn = part)).load(), ParityOptions())

  /** Both readers fail, or both give the same schema and rows. The
    * columnar read plans nothing on the server until it runs, so an
    * error PostgreSQL raises while planning (a constant `1/0`) comes
    * when the DataFrame runs instead of when it is made.
    */
  private def assertSameRead(u: String, stmt: String,
      part: Option[(String, Long, Long, Int)] = None): Unit = {
    val jdbc = outcome(jdbcRead(u, stmt, part))
    val col = outcome(Flaco.readSqlToDataFrame(spark, u, stmt, partitionColumn = part))
    assert(jdbc.isSuccess === col.isSuccess, s"$stmt: JDBC $jdbc, columnar $col")
    if (jdbc.isSuccess) {
      assert(col.get === jdbc.get, stmt)
      // A select and filter on top. The columnar scan may push more of
      // the filter (V2 predicates compile arithmetic that the JDBC
      // reader's V1 filters cannot carry) and so skip a row the JDBC
      // reader fails on: those reads are not compared.
      val schema = jdbc.get._1
      for (c <- schema.fields.find(f =>
          Seq(IntegerType, LongType, ShortType).contains(f.dataType)).map(_.name)) {
        def onTop(df: DataFrame) = df.select(df.columns.take(3).map(df.col): _*)
          .filter(df.col(c) % 2 === 0)
        val j = outcome(onTop(jdbcRead(u, stmt, part)))
        if (j.isSuccess)
          assert(outcome(onTop(Flaco.readSqlToDataFrame(spark, u, stmt,
            partitionColumn = part))) === j, s"$stmt with select/filter")
      }
    }
  }

  for ((mode, u) <- Seq("binary" -> (() => uri), "text" -> (() => textUri))) {
    test(s"every statement reads the same through both readers ($mode transfer)") {
      assert(loaded)
      Statements.foreach(s => assertSameRead(u(), s))
    }

    test(s"partitioned reads are the same through both readers ($mode transfer)") {
      assert(loaded)
      val tables = Seq("flaco_colpar_types" -> "id", "flaco_colpar_binfmt" -> "id",
        "flaco_colpar_ingest" -> "col1") ++ PagilaTables.map(t => t -> s"${t}_id")
      tables.foreach { case (t, c) =>
        val pc = if (t == "film_actor" || t == "film_category") "film_id" else c
        assertSameRead(u(), s"select * from $t", Some((pc, 0L, 10000L, 3)))
      }
    }

    test(s"±infinity and edge values fail or read alike ($mode transfer)") {
      Seq("'infinity'::timestamp", "'-infinity'::timestamp", "'infinity'::timestamptz",
        "'-infinity'::timestamptz", "'infinity'::date", "'-infinity'::date",
        "'294276-12-31 23:59:59'::timestamp", "'4713-01-01 BC'::date",
        "'0001-01-01 00:00:00+00'::timestamptz", "'24:00:00'::time", "'NaN'::numeric",
        "'Infinity'::numeric", "1/0").foreach { e =>
        assertSameRead(u(), s"select $e as v")
      }
    }
  }

  test("exact NUMERIC mode reads the same through both readers") {
    val u = uri
    assert(loaded)
    val d = graft.types.FlacoPostgresDialect.register(ParityOptions(numericAsDouble = false))
    try Seq("select id, n from flaco_colpar_types",
      "select id, n, nn from flaco_colpar_binfmt where nn <> 'NaN'",
      "select id, nn from flaco_colpar_binfmt").foreach(s => assertSameRead(u, s))
    finally org.apache.spark.sql.jdbc.JdbcDialects.unregisterDialect(d)
  }

  test("the scan reports rows equal to count(*) and ceil(rows/4096) " +
    "batches per partition") {
    val u = uri
    assert(loaded)
    Seq(None, Some(("col1", 0L, 9002L, 2))).foreach { part =>
      val df = Flaco.readSqlToDataFrame(spark, u, "select * from flaco_colpar_ingest",
        partitionColumn = part)
      val rows = df.collect().length.toLong
      val scan = df.queryExecution.executedPlan.collectFirst { case s: BatchScanExec => s }.get
      val perPart = Flaco.readSqlToDataFrame(spark, u, "select * from flaco_colpar_ingest",
        partitionColumn = part).groupBy(spark_partition_id()).count().collect()
        .map(_.getLong(1))
      assert(rows === jdbcRead(u, "select count(*) from flaco_colpar_ingest").head().getLong(0))
      assert(scan.metrics("rows").value === rows)
      assert(scan.metrics("batches").value === perPart.map(n => (n + 4095) / 4096).sum)
      assert(scan.metrics("wireBytes").value > 0)
    }
  }
}
