package graft.jdbc

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.SQLException
import java.time.{LocalDate, LocalDateTime}
import java.util.concurrent.TimeUnit

import scala.util.Try

import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.{Flaco, TestSpark}

/** Offline tests of [[MiniPgScan]]'s partition reader against a
  * scripted server: it streams batch by batch, cleans up on close and
  * on failure, and every cell reads as Spark's JDBC getters read the
  * same frames through [[MiniPgResultSet]].
  */
class MiniPgScanSpec extends AnyFunSuite {
  import MiniPgScanSpec._
  import ScriptedPgServer._

  private lazy val dialect = {
    graft.types.FlacoPostgresDialect.register()
    JdbcDialects.get("jdbc:postgresql://localhost/db")
  }

  private def colsOf(spec: Seq[(String, Int)]) =
    spec.map { case (n, oid) => MiniPgWire.Col(n, oid, -1) }.toArray

  private def schemaOf(cols: Array[MiniPgWire.Col]): StructType =
    JdbcUtils.getSchema(null, new MiniPgResultSet(
      MiniPgWire.Result(cols, new MiniPgWire.ColumnStore(cols), "SELECT")), dialect, true, false)

  private def reader(server: ScriptedPgServer, spec: Seq[(String, Int)],
      binary: Boolean = true): MiniPgPartitionReader = {
    val cols = colsOf(spec)
    new MiniPgPartitionReader(
      new MiniPgWire("localhost", server.port, "db", "u", None, 5, binary),
      "select * from t", dialect, cols, schemaOf(cols))
  }

  /** The reply to Parse/Bind/Execute/Sync carrying `rows`. */
  private def streamed(rows: Seq[Array[Byte]]): Seq[Array[Byte]] =
    Seq(ParseComplete, BindComplete) ++ rows ++ Seq(complete(s"SELECT ${rows.size}"), Ready)

  test("10,000 rows come back as 4096, 4096 and 1808-row batches, the " +
    "first while the server still holds the rest") {
    val rows = (1 to 10000).map(i => rawRow(int4(i)))
    val server = new ScriptedPgServer(Hello,
      Seq(streamed(rows.take(5000) ++ Seq(Gate) ++ rows.drop(5000))))
    val r = reader(server, Seq("x" -> 23))
    try {
      assert(r.next())
      assert(r.get().numRows() === 4096)
      assert(server.gate.getCount === 1, "the rest was released before the first batch")
      var sum = (0 until 4096).map(r.get().column(0).getInt(_).toLong).sum
      server.gate.countDown()
      val sizes = Iterator.continually(r.next()).takeWhile(identity).map { _ =>
        val b = r.get()
        sum += (0 until b.numRows()).map(b.column(0).getInt(_).toLong).sum
        b.numRows()
      }.toSeq
      assert(sizes === Seq(4096, 1808))
      assert(!r.next())
      assert(sum === 10000L * 10001 / 2)
      val m = r.currentMetricsValues().map(t => t.name() -> t.value()).toMap
      assert(m("rows") === 10000 && m("batches") === 3)
      assert(m("wireBytes") > 10000L * 11)
    } finally { r.close(); server.close() }
  }

  test("closing the reader mid-result closes its socket") {
    val rows = (1 to 10000).map(i => rawRow(int4(i)))
    val server = new ScriptedPgServer(Hello, Seq(streamed(rows)))
    val r = reader(server, Seq("x" -> 23))
    try {
      assert(r.next())
      r.close()
      assert(server.clientClosed.await(2, TimeUnit.SECONDS), "the socket stayed open")
    } finally { r.close(); server.close() }
  }

  test("an ErrorResponse after some DataRows surfaces as SQLException " +
    "and leaves no open socket") {
    val rows = (1 to 10).map(i => rawRow(int4(i)))
    val server = new ScriptedPgServer(Hello, Seq(
      Seq(ParseComplete, BindComplete) ++ rows ++ Seq(error("division by zero"), Ready)))
    val r = reader(server, Seq("x" -> 23))
    try {
      val e = intercept[SQLException](r.next())
      assert(e.getMessage.contains("division by zero"))
      assert(server.clientClosed.await(2, TimeUnit.SECONDS), "the socket stayed open")
    } finally { r.close(); server.close() }
  }

  test("a DataRow with the wrong cell count fails the reader with 08P01") {
    val server = new ScriptedPgServer(Hello,
      Seq(streamed(Seq(rawRow(int4(1), int4(2))))))
    val r = reader(server, Seq("x" -> 23))
    try {
      assert(intercept[SQLException](r.next()).getSQLState === "08P01")
      assert(server.clientClosed.await(2, TimeUnit.SECONDS))
    } finally { r.close(); server.close() }
  }

  /** The same DataRows through the JDBC path (ColumnStore, then Spark's
    * getters) and through the reader: each side's rows, or its failure.
    */
  private def bothWays(spec: Seq[(String, Int)], rows: Seq[Array[Byte]],
      binary: Boolean): (Try[Seq[Seq[Any]]], Try[Seq[Seq[Any]]]) = {
    val cols = colsOf(spec)
    val schema = schemaOf(cols)
    val types = schema.fields.map(_.dataType)
    def plain(v: Any): Any = v match {
      case b: Array[Byte] => b.toSeq
      case d: Double if d.isNaN => "NaN" // NaN != NaN
      case f: Float if f.isNaN => "NaN"
      case x => x
    }
    def values(row: org.apache.spark.sql.catalyst.InternalRow) =
      types.indices.map(i => if (row.isNullAt(i)) null else plain(row.get(i, types(i)))).toSeq
    val desc = rowDescription(spec: _*)
    val jdbcTurns =
      if (binary) Seq(Seq(ParseComplete, NoParams, desc),
        Seq(BindComplete) ++ rows ++ Seq(complete("SELECT"), Ready))
      else Seq(Seq(desc) ++ rows ++ Seq(complete("SELECT"), Ready))
    val jdbc = Try {
      val server = new ScriptedPgServer(Hello, jdbcTurns)
      val wire = new MiniPgWire("localhost", server.port, "db", "u", None, 5, binary)
      try {
        val res = if (binary) wire.queryExtended("q").head else wire.query("q").head
        GraftSqlBridge.jdbcRows(new MiniPgResultSet(res), dialect, schema).map(values).toList
      } finally { wire.close(); server.close() }
    }
    val columnar = Try {
      val server = new ScriptedPgServer(Hello, Seq(streamed(rows)))
      val r = reader(server, spec, binary)
      try {
        Iterator.continually(r.next()).takeWhile(identity)
          .flatMap(_ => (0 until r.get().numRows()).map(i => values(r.get().getRow(i))))
          .toList
      } finally { r.close(); server.close() }
    }
    (jdbc, columnar)
  }

  private def assertSame(spec: Seq[(String, Int)], rows: Seq[Array[Byte]],
      binary: Boolean): Unit = {
    val (jdbc, columnar) = bothWays(spec, rows, binary)
    assert(jdbc.isSuccess === columnar.isSuccess,
      s"JDBC gave $jdbc, the columnar reader $columnar")
    if (jdbc.isSuccess) assert(columnar.get === jdbc.get)
  }

  test("every binary kind reads as the JDBC getters read ColumnStore's " +
    "decode of the same frames, NULLs and range edges included") {
    val spec = Seq("i2" -> 21, "i4" -> 23, "i8" -> 20, "f4" -> 700, "f8" -> 701,
      "b" -> 16, "d" -> 1082, "ts" -> 1114, "tz" -> 1184, "n" -> 1700,
      "by" -> 17, "u" -> 2950, "s" -> 25, "t" -> 1083)
    val rows = Seq(
      rawRow(int2(-32768), int4(Int.MinValue), int8(Long.MinValue), float4(0.1f),
        float8(-2.2250738585072014e-308), Array[Byte](1), int4(days(1999, 12, 31)),
        int8(micros(LocalDateTime.of(2021, 3, 14, 1, 2, 3, 250000000))),
        int8(micros(LocalDateTime.of(2021, 3, 13, 19, 32, 3, 250000000))),
        numeric(2, 0, 0, 4, 1234, 5678), Array[Byte](0, 1, -1, 127, -128),
        int8(0x0123456789abcdefL) ++ int8(-1L), utf8("plain 'text' ü"), utf8("12:34:56.25")),
      rawRow(Seq.fill(spec.size)(null): _*),
      rawRow(int2(32767), int4(Int.MaxValue), int8(Long.MaxValue), float4(Float.NaN),
        float8(Double.PositiveInfinity), Array[Byte](0), int4(days(1000, 1, 1)),
        int8(micros(LocalDateTime.of(1000, 1, 1, 0, 0))),
        int8(micros(LocalDateTime.of(1582, 10, 10, 12, 0))),
        numeric(0, 0, 0xC000, 0), Array.emptyByteArray, new Array[Byte](16),
        utf8(""), utf8("00:00:00")))
    assertSame(spec, rows, binary = true)
  }

  test("±infinity dates and timestamps fail or read alike on both paths") {
    Seq("d" -> 1082 -> int4(Int.MaxValue), "d" -> 1082 -> int4(Int.MinValue),
      "ts" -> 1114 -> int8(Long.MaxValue), "ts" -> 1114 -> int8(Long.MinValue),
      "tz" -> 1184 -> int8(Long.MaxValue), "tz" -> 1184 -> int8(Long.MinValue)).foreach {
      case (col, cell) => assertSame(Seq(col), Seq(rawRow(cell)), binary = true)
    }
  }

  test("every kind in text transfer reads as the JDBC getters read it") {
    val spec = Seq("i2" -> 21, "i8" -> 20, "f4" -> 700, "f8" -> 701, "b" -> 16,
      "d" -> 1082, "ts" -> 1114, "tz" -> 1184, "n" -> 1700, "by" -> 17,
      "u" -> 2950, "s" -> 25, "t" -> 1083)
    val rows = Seq(
      Seq("-32768", "-9007199254740993", "0.1", "1e+300", "t", "1999-12-31",
        "2021-03-14 01:02:03.25", "2021-03-14 01:02:03.25+00", "1234.5678",
        "\\x0001ff", "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11", "ü", "12:34:56.25"),
      Seq.fill(spec.size)(null),
      Seq("7", "0", "NaN", "-Infinity", "f", "1000-01-01", "1000-01-01 00:00:00",
        "1582-10-10 12:00:00+00", "NaN", "\\x", "00000000-0000-0000-0000-000000000000",
        "", "23:59:59"))
    assertSame(spec, rows.map(r => row(r: _*)), binary = false)
  }

  test("Flaco.readSqlToDataFrame reads a MiniPg URI through the columnar " +
    "scan, which reports its rows and batches") {
    val spec = Seq("id" -> 23, "s" -> 25)
    val rows = (1 to 10000).map(i => rawRow(int4(i), utf8(s"row $i")))
    val server = new ScriptedPgServer(Hello,
      Seq(Seq(ParseComplete, NoParams, rowDescription(spec: _*), Ready)),
      Seq(Seq(streamed(rows))))
    try {
      val df = Flaco.readSqlToDataFrame(TestSpark.spark,
        s"jdbc:postgresql://localhost:${server.port}/db?user=u", "select id, s from t")
      assert(df.schema.fieldNames.toSeq === Seq("id", "s"))
      assert(df.collect().map(_.getInt(0)).sum === 10000 * 10001 / 2)
      val scan = df.queryExecution.executedPlan.collectFirst { case s: BatchScanExec => s }
      assert(scan.isDefined, df.queryExecution.executedPlan.toString)
      assert(scan.get.metrics("rows").value === 10000)
      assert(scan.get.metrics("batches").value === 3)
      // One Parse + Describe for the schema, one statement for the task.
      assert(server.received.toArray.toSeq.map(_.toString).mkString.startsWith("PDSXPBES"))
    } finally server.close()
  }
}

object MiniPgScanSpec {
  def int2(v: Int): Array[Byte] = ByteBuffer.allocate(2).putShort(v.toShort).array()
  def int4(v: Int): Array[Byte] = ByteBuffer.allocate(4).putInt(v).array()
  def int8(v: Long): Array[Byte] = ByteBuffer.allocate(8).putLong(v).array()
  def float4(v: Float): Array[Byte] = ByteBuffer.allocate(4).putFloat(v).array()
  def float8(v: Double): Array[Byte] = ByteBuffer.allocate(8).putDouble(v).array()
  def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)
  /** A binary date: days since 2000-01-01. */
  def days(y: Int, m: Int, d: Int): Int =
    (LocalDate.of(y, m, d).toEpochDay - LocalDate.of(2000, 1, 1).toEpochDay).toInt
  /** A binary timestamp: µs since 2000-01-01 00:00. */
  def micros(t: LocalDateTime): Long =
    java.time.temporal.ChronoUnit.MICROS.between(LocalDateTime.of(2000, 1, 1, 0, 0), t)
  /** A binary numeric: digit count, weight, sign, display scale, digits. */
  def numeric(ndigits: Int, weight: Int, sign: Int, dscale: Int, digits: Int*): Array[Byte] = {
    val b = ByteBuffer.allocate(8 + 2 * digits.size)
    b.putShort(ndigits.toShort).putShort(weight.toShort).putShort(sign.toShort)
      .putShort(dscale.toShort)
    digits.foreach(d => b.putShort(d.toShort))
    b.array()
  }
}
