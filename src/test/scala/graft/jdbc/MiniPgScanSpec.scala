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
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects}
import org.apache.spark.sql.types.{DataType, MetadataBuilder, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.{Flaco, TestSpark}

/** Offline tests of [[MiniPgScan]]'s partition reader against a
  * scripted server: it streams batch by batch, cleans up on close and
  * on failure, and every cell reads as Spark's JDBC getters read it
  * through [[MiniPgResultSet]]: the same text frames, or, for a binary
  * frame, PostgreSQL's text render of the same values.
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
    JdbcUtils.getSchema(null, MiniPgResultSet.describing(cols), dialect, true, false)

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

  test("a DataRow cut short inside a length field fails the reader " +
    "with 08P01") {
    // The second row ends one byte into its NULL length; the first
    // row left that byte 0xff in the reused read buffer, so reading
    // the field anyway yields -1, a NULL.
    val cut = frame('D') { d =>
      d.writeShort(2); d.writeInt(4); d.write(int4(8)); d.write(Array[Byte](-1, -1, -1))
    }
    val server = new ScriptedPgServer(Hello,
      Seq(streamed(Seq(rawRow(int4(7), null), cut))))
    val r = reader(server, Seq("x" -> 23, "y" -> 23))
    try {
      assert(intercept[SQLException](r.next()).getSQLState === "08P01")
      assert(server.clientClosed.await(2, TimeUnit.SECONDS))
    } finally { r.close(); server.close() }
  }

  test("a binary cell whose length is not its type's width fails the " +
    "reader with 08P01") {
    wrongWidth.foreach { case (oid, cell) =>
      val server = new ScriptedPgServer(Hello, Seq(streamed(Seq(rawRow(cell)))))
      val r = reader(server, Seq("x" -> oid))
      try {
        assert(intercept[SQLException](r.next()).getSQLState === "08P01", s"oid $oid")
        assert(server.clientClosed.await(2, TimeUnit.SECONDS))
      } finally { r.close(); server.close() }
    }
  }

  test("a text cell that does not parse fails the reader with 08P01") {
    badText.foreach { case (oid, cell) =>
      val server = new ScriptedPgServer(Hello, Seq(streamed(Seq(row(cell)))))
      val r = reader(server, Seq("x" -> oid), binary = false)
      try {
        assert(intercept[SQLException](r.next()).getSQLState === "08P01", s"oid $oid '$cell'")
        assert(server.clientClosed.await(2, TimeUnit.SECONDS))
      } finally { r.close(); server.close() }
    }
  }

  /** Each row through the JDBC path (`query`: ColumnStore, then Spark's
    * getters) and through the reader: each side's rows, or its failure.
    * A row is a pair of DataRows, the reader's then the JDBC path's:
    * for a binary reader, the second is PostgreSQL's text render of the
    * same values, which the JDBC path parses independently.
    */
  private def bothWays(spec: Seq[(String, Int)], rows: Seq[(Array[Byte], Array[Byte])],
      binary: Boolean): (Try[Seq[Seq[Any]]], Try[Seq[Seq[Any]]]) = {
    val cols = colsOf(spec)
    val schema = schemaOf(cols)
    val types = schema.fields.map(_.dataType)
    def plain(v: Any): Any = v match {
      case b: Array[Byte] => b.toSeq
      // Distinct renders for -0.0 and 0.0, and NaN equal to itself.
      case d: Double => java.lang.Double.toString(d)
      case f: Float => java.lang.Float.toString(f)
      case x => x
    }
    def values(row: org.apache.spark.sql.catalyst.InternalRow) =
      types.indices.map(i => if (row.isNullAt(i)) null else plain(row.get(i, types(i)))).toSeq
    val jdbc = Try {
      val server = new ScriptedPgServer(Hello,
        Seq(Seq(rowDescription(spec: _*)) ++ rows.map(_._2) ++ Seq(complete("SELECT"), Ready)))
      val wire = new MiniPgWire("localhost", server.port, "db", "u", None, 5)
      try {
        GraftSqlBridge.jdbcRows(new MiniPgResultSet(wire.query("q").head), dialect, schema)
          .map(values).toList
      } finally { wire.close(); server.close() }
    }
    val columnar = Try {
      val server = new ScriptedPgServer(Hello, Seq(streamed(rows.map(_._1))))
      val r = reader(server, spec, binary)
      try {
        Iterator.continually(r.next()).takeWhile(identity)
          .flatMap(_ => (0 until r.get().numRows()).map(i => values(r.get().getRow(i))))
          .toList
      } finally { r.close(); server.close() }
    }
    (jdbc, columnar)
  }

  /** Both paths read `rows` alike: the whole table, each row alone, and
    * every row that reads alone all together in one batch (so values
    * are compared across rows, and a failing cell cannot hide the
    * others); returns the indices of the rows that fail on both.
    */
  private def assertSame(spec: Seq[(String, Int)], rows: Seq[(Array[Byte], Array[Byte])],
      binary: Boolean): Set[Int] = {
    def same(rs: Seq[(Array[Byte], Array[Byte])]): Boolean = {
      val (jdbc, columnar) = bothWays(spec, rs, binary)
      assert(jdbc.isSuccess === columnar.isSuccess,
        s"JDBC gave $jdbc, the columnar reader $columnar")
      if (jdbc.isSuccess) assert(columnar.get === jdbc.get)
      jdbc.isSuccess
    }
    same(rows)
    val failing = rows.indices.filterNot(i => same(Seq(rows(i)))).toSet
    assert(same(rows.indices.filterNot(failing).map(rows)),
      "rows that read alone fail together")
    failing
  }

  /** `rows` are a `24:00:00` time then a `24:00:00+00` timetz in the
    * last two columns of `spec`: both paths read them as the next day's
    * midnight, 86 400 000 000 µs on the time-of-day scale (for time, in
    * the JVM zone, as its midnight reads).
    */
  private def assertEndOfDay(spec: Seq[(String, Int)], rows: Seq[(Array[Byte], Array[Byte])],
      binary: Boolean): Unit = {
    val day = 86400000000L
    val midnight = MiniPgResultSet.timeOf(1083, "00:00:00").getTime * 1000L
    val want = Seq(Seq(midnight + day, null), Seq(null, day))
    val (jdbc, columnar) = bothWays(spec, rows, binary)
    assert(jdbc.get.map(_.takeRight(2)) === want)
    assert(columnar.get.map(_.takeRight(2)) === want)
  }

  test("every binary kind reads as the JDBC getters read PostgreSQL's " +
    "text render of the same values, NULLs and range edges included") {
    val spec = Seq("i2" -> 21, "i4" -> 23, "i8" -> 20, "f4" -> 700, "f8" -> 701,
      "b" -> 16, "d" -> 1082, "ts" -> 1114, "tz" -> 1184, "n" -> 1700,
      "by" -> 17, "u" -> 2950, "s" -> 25, "t" -> 1083, "tt" -> 1266)
    val kolkata = micros(LocalDateTime.of(2021, 3, 13, 19, 32, 3, 250000000))
    /** A binary row and its text render, cell by cell (null = NULL). */
    def pair(cells: (Array[Byte], String)*): (Array[Byte], Array[Byte]) =
      (rawRow(cells.map(_._1): _*), row(cells.map(_._2): _*))
    val nul = (null: Array[Byte], null: String)
    /** A row of NULLs but for column `c`. */
    def only(c: String, cell: (Array[Byte], String)): (Array[Byte], Array[Byte]) =
      pair(spec.map { case (n, _) => if (n == c) cell else nul }: _*)
    def times(t: String, tt: String) =
      pair(Seq.fill(spec.size - 2)(nul) ++ Seq(t, tt).map(c => (Option(c).map(utf8).orNull, c)): _*)
    val rows = Seq(
      pair(int2(-32768) -> "-32768", int4(Int.MinValue) -> "-2147483648",
        int8(Long.MinValue) -> "-9223372036854775808", float4(0.1f) -> "0.1",
        float8(-2.2250738585072014e-308) -> "-2.2250738585072014e-308",
        Array[Byte](1) -> "t", int4(days(1999, 12, 31)) -> "1999-12-31",
        int8(micros(LocalDateTime.of(2021, 3, 14, 1, 2, 3, 250000000))) -> "2021-03-14 01:02:03.25",
        int8(kolkata) -> "2021-03-13 19:32:03.25+00",
        numeric(2, 0, 0, 4, 1234, 5678) -> "1234.5678",
        Array[Byte](0, 1, -1, 127, -128) -> "\\x0001ff7f80",
        (int8(0x0123456789abcdefL) ++ int8(-1L)) -> "01234567-89ab-cdef-ffff-ffffffffffff",
        utf8("plain 'text' ü") -> "plain 'text' ü", utf8("12:34:56.25") -> "12:34:56.25",
        utf8("12:34:56.5+05:30") -> "12:34:56.5+05:30"),
      pair(Seq.fill(spec.size)(nul): _*),
      pair(int2(32767) -> "32767", int4(Int.MaxValue) -> "2147483647",
        int8(Long.MaxValue) -> "9223372036854775807", float4(Float.NaN) -> "NaN",
        float8(Double.PositiveInfinity) -> "Infinity", Array[Byte](0) -> "f",
        int4(days(1000, 1, 1)) -> "1000-01-01",
        int8(micros(LocalDateTime.of(1000, 1, 1, 0, 0))) -> "1000-01-01 00:00:00",
        int8(micros(LocalDateTime.of(1582, 10, 10, 12, 0))) -> "1582-10-10 12:00:00+00",
        numeric(0, 0, 0xC000, 0) -> "NaN", Array.emptyByteArray -> "\\x",
        new Array[Byte](16) -> "00000000-0000-0000-0000-000000000000",
        utf8("") -> "", utf8("00:00:00") -> "00:00:00", utf8("23:59:59+00") -> "23:59:59+00"),
      // The same instant in the render of other session time zones.
      only("tz", int8(kolkata) -> "2021-03-14 01:02:03.25+05:30"),
      only("tz", int8(kolkata) -> "2021-03-13 14:32:03.25-05"),
      // float4 at its largest, subnormal and signed zero: getFloat of
      // the text equals the binary value.
      only("f4", float4(3.4e38f) -> "3.4e+38"),
      only("f4", float4(Float.MinPositiveValue) -> "1e-45"),
      only("f4", float4(-0.0f) -> "-0"),
      only("f8", float8(-0.0) -> "-0"),
      only("n", numeric(1, -1, 0x4000, 4, 1) -> "-0.0001"),
      // Years java.time's four-digit parsers do not take: BC (1 BC is
      // ISO year 0, a leap year) and past 9999.
      pair(Seq.fill(6)(nul) ++ Seq(int4(days(-4712, 1, 1)) -> "4713-01-01 BC",
        int8(micros(LocalDateTime.of(0, 2, 29, 12, 0))) -> "0001-02-29 12:00:00 BC",
        int8(micros(LocalDateTime.of(-4712, 1, 1, 0, 0, 1))) -> "4713-01-01 00:00:01+00 BC") ++
        Seq.fill(6)(nul): _*),
      pair(Seq.fill(6)(nul) ++ Seq(int4(days(10000, 1, 1)) -> "10000-01-01",
        int8(micros(LocalDateTime.of(12345, 6, 7, 8, 9, 10))) -> "12345-06-07 08:09:10",
        int8(micros(LocalDateTime.of(10000, 1, 1, 0, 0))) -> "10000-01-01 00:00:00+00") ++
        Seq.fill(6)(nul): _*),
      times("12:34:56.123456", "12:34:56.123456-07"),
      // PG's end of day reads as the next day's midnight.
      times("24:00:00", null),
      times(null, "24:00:00+00"))
    assert(assertSame(spec, rows, binary = true) === Set.empty)
    assertEndOfDay(spec, rows.takeRight(2), binary = true)
  }

  test("±infinity dates and timestamps fail or read alike on both paths") {
    Seq("d" -> 1082 -> (int4(Int.MaxValue) -> "infinity"),
      "d" -> 1082 -> (int4(Int.MinValue) -> "-infinity"),
      "ts" -> 1114 -> (int8(Long.MaxValue) -> "infinity"),
      "ts" -> 1114 -> (int8(Long.MinValue) -> "-infinity"),
      "tz" -> 1184 -> (int8(Long.MaxValue) -> "infinity"),
      "tz" -> 1184 -> (int8(Long.MinValue) -> "-infinity")).foreach {
      case (col, (cell, render)) =>
        assertSame(Seq(col), Seq(rawRow(cell) -> row(render)), binary = true)
    }
    // The binary sentinels take pgjdbc's convention on their way to
    // Spark's conversions: a Date or Timestamp at Long.MAX/MIN ms.
    import Cells.{dateOf, timestampOf}
    assert(dateOf(Int.MaxValue + Cells.PgEpochDay).getTime === Long.MaxValue)
    assert(dateOf(Int.MinValue + Cells.PgEpochDay).getTime === Long.MinValue)
    Seq(1114, 1184).foreach { oid =>
      assert(timestampOf(oid, Long.MaxValue).getTime === Long.MaxValue)
      assert(timestampOf(oid, Long.MinValue).getTime === Long.MinValue)
    }
  }

  test("every kind in text transfer reads as the JDBC getters read it") {
    val spec = Seq("i2" -> 21, "i8" -> 20, "f4" -> 700, "f8" -> 701, "b" -> 16,
      "d" -> 1082, "ts" -> 1114, "tz" -> 1184, "n" -> 1700, "by" -> 17,
      "u" -> 2950, "s" -> 25, "t" -> 1083, "tt" -> 1266)
    def times(t: String, tt: String) = Seq.fill(spec.size - 2)(null) ++ Seq(t, tt)
    val rows = Seq(
      Seq("-32768", "-9007199254740993", "0.1", "1e+300", "t", "1999-12-31",
        "2021-03-14 01:02:03.25", "2021-03-14 01:02:03.25+00", "1234.5678",
        "\\x0001ff", "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11", "ü", "12:34:56.25",
        "12:34:56.5+05:30"),
      Seq.fill(spec.size)(null),
      Seq("7", "0", "NaN", "-Infinity", "f", "1000-01-01", "1000-01-01 00:00:00",
        "1582-10-10 12:00:00+00", "NaN", "\\x", "00000000-0000-0000-0000-000000000000",
        "", "23:59:59", "00:00:00+00"),
      times("12:34:56.123456", "12:34:56.123456-07"),
      times("24:00:00", null),
      times(null, "24:00:00+00"))
    val frames = rows.map(r => row(r: _*)).map(r => r -> r)
    assert(assertSame(spec, frames, binary = false) === Set.empty)
    assertEndOfDay(spec, frames.takeRight(2), binary = false)
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

  test("a column without a decoder sends the whole statement to Spark's " +
    "JDBC reader") {
    // Reads int4 as a string, for this test's database alone.
    val intsAsText = new JdbcDialect {
      override def canHandle(url: String): Boolean = url.contains("/scan_fallback_db?")
      override def getCatalystType(sqlType: Int, typeName: String, size: Int,
          md: MetadataBuilder): Option[DataType] =
        if (typeName == "int4") Some(StringType) else None
    }
    val desc = rowDescription("id" -> 23, "s" -> 25)
    val describe = Seq(Seq(ParseComplete, NoParams, desc, Ready))
    val rows = (1 to 3).map(i => row(i.toString, s"row $i"))
    // MiniPgScan.read twice (the second through Flaco), then the JDBC
    // reader's schema query and its read.
    val server = new ScriptedPgServer(Hello, describe, Seq(describe,
      Seq(Seq(desc, complete("SELECT 0"), Ready)),
      Seq(Seq(desc) ++ rows ++ Seq(complete("SELECT 3"), Ready))))
    val url = s"jdbc:postgresql://localhost:${server.port}/scan_fallback_db?user=u&binaryTransfer=false"
    JdbcDialects.registerDialect(intsAsText)
    try {
      assert(MiniPgScan.read(TestSpark.spark, Flaco.jdbcOptions(url, "select id, s from t")).isEmpty)
      val df = Flaco.readSqlToDataFrame(TestSpark.spark, url, "select id, s from t")
      assert(df.schema.map(_.dataType) === Seq(StringType, StringType))
      assert(df.collect().map(r => (r.getString(0), r.getString(1))).toSeq ===
        (1 to 3).map(i => (i.toString, s"row $i")))
      assert(df.queryExecution.executedPlan.collectFirst { case s: BatchScanExec => s }.isEmpty,
        df.queryExecution.executedPlan.toString)
      assert(server.accepted.get === 4)
    } finally { JdbcDialects.unregisterDialect(intsAsText); server.close() }
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
  /** Binary cells of a length their type does not have, by column OID:
    * a 4-byte int8 and timestamptz, and a numeric whose third digit
    * group runs past its cell.
    */
  val wrongWidth: Seq[(Int, Array[Byte])] =
    Seq(20 -> int4(7), 1184 -> int4(0), 1700 -> numeric(3, 0, 0, 0, 1, 2))
  /** Text cells no PostgreSQL render of their type takes, by column
    * OID: integers with a stray character, empty, a bare sign or past
    * Long's range; floats empty, with a suffix, a space or in hex;
    * bools other than `t`/`f`.
    */
  val badText: Seq[(Int, String)] = Seq(23 -> "12a", 23 -> "", 21 -> "-",
    20 -> "9223372036854775808", 20 -> "-9223372036854775809", 701 -> "", 701 -> "1.5x",
    701 -> " 1", 700 -> "0x1p3", 16 -> "x", 16 -> "", 16 -> "true")
}
