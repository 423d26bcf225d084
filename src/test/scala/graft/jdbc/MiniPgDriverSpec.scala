package graft.jdbc

import org.scalatest.funsuite.AnyFunSuite

/** Offline unit tests for [[MiniPgWire]]'s pure codec surface — the
  * pieces of the wire driver that need no server: literal rendering,
  * text-format parsing, and the quote-aware parameter splitter. The
  * live end-to-end behavior is PagilaLiveSpec's job (armed by
  * `scripts/pg_provision.sh` + `FLACO_PG_URI`).
  */
class MiniPgDriverSpec extends AnyFunSuite {

  test("splitParams: '?' inside string literals and quoted " +
    "identifiers is text, not a parameter") {
    val segs = MiniPgJdbc.splitParams(
      """INSERT INTO "t?bl" (a, b) VALUES ('x?y', ?) WHERE c = ?""")
    assert(segs.length === 3)
    assert(segs(0).contains("'x?y'"))
    assert(segs(0).contains("\"t?bl\""))
    assert(segs(1) === ") WHERE c = ")
  }

  test("timestamptz text parses across PG's render shapes " +
    "(fraction digits vary, offset may carry minutes)") {
    import MiniPgWire.parseTimestamptz
    val base = parseTimestamptz("2000-01-01 00:01:00+00")
    assert(base.toInstant.toString === "2000-01-01T00:01:00Z")
    assert(parseTimestamptz("2000-01-01 00:01:00.5+00")
      .toInstant.toString === "2000-01-01T00:01:00.500Z")
    assert(parseTimestamptz("2000-01-01 02:01:00+02")
      .toInstant === base.toInstant.plusSeconds(0))
    assert(parseTimestamptz("2000-01-01 05:31:00+05:30")
      .toInstant === base.toInstant)
  }

  test("timestamp (NTZ) text parses with and without fraction") {
    import MiniPgWire.parseTimestampNtz
    assert(parseTimestampNtz("2000-01-01 00:00:01").toString ===
      "2000-01-01T00:00:01")
    assert(parseTimestampNtz("2000-01-01 00:00:01.25").getNano === 250000000)
  }

  test("bytea hex round-trips through render + parse") {
    import MiniPgWire.{parseByteaHex, renderBytea}
    val b = Array[Byte](0, 1, -1, 127, -128, 66)
    val lit = renderBytea(b)
    assert(lit.startsWith("'\\x") && lit.endsWith("'::bytea"))
    val hex = lit.stripPrefix("'").stripSuffix("'::bytea")
    assert(parseByteaHex(hex).toSeq === b.toSeq)
  }

  test("string literals escape quotes the standard-conforming way") {
    assert(MiniPgWire.quote("it's") === "'it''s'")
  }

  test("whole-minute instants render with explicit seconds (the " +
    "first-live-run regression: LocalTime.toString drops ':00')") {
    // Reproduce the r16 bug shape through the public driver surface:
    // bind a whole-minute timestamp and check the rendered literal
    // carries HH:mm:ss, via a statement over a throwaway wire-less
    // path — splitParams + manual render is the same code path the
    // prepared statement uses, so pin the formatter directly.
    val ts = java.sql.Timestamp.from(
      java.time.Instant.parse("2000-01-01T00:01:00Z"))
    val odt = java.time.OffsetDateTime.ofInstant(
      ts.toInstant, java.time.ZoneOffset.UTC)
    val rendered = f"${odt.toLocalDate}%s ${odt.getHour}%02d:" +
      f"${odt.getMinute}%02d:${odt.getSecond}%02d"
    assert(rendered === "2000-01-01 00:01:00")
    // The buggy form this replaces:
    assert(odt.toLocalTime.withNano(0).toString === "00:01",
      "java.time contract changed — revisit the renderer comment")
  }

  // ---- binary-format decoders (the r17 extended-protocol read
  //      path) — pure codec, no server needed ----

  test("singleStatement: top-level ';' splits, quoted ';' and a " +
    "trailing ';' don't") {
    import MiniPgWire.singleStatement
    assert(singleStatement("select 1"))
    assert(singleStatement("select 1;"))
    assert(singleStatement("select ';' as s; "))
    assert(!singleStatement("select 1; select 2"))
    assert(singleStatement("""select ";" from "t;bl""""))
  }

  test("singleStatement: dollar quotes, comments, and E-string " +
    "backslash escapes (r17 ADVICE) — ambiguity errs multi-statement") {
    import MiniPgWire.singleStatement
    // E'…' backslash-escaped quote must NOT invert in-string state:
    // this genuinely multi-statement string routed to Parse pre-r18.
    assert(!singleStatement("""select E'a\'b'; select 2"""))
    assert(singleStatement("""select E'a\'b; not a split'"""))
    assert(singleStatement("""select 'E''s plain literal; kept'"""))
    // Identifier ending in E is not an E-string prefix.
    assert(!singleStatement("""select TABLE_E'x'; select 2"""))
    // Dollar quotes, tagged and bare.
    assert(singleStatement("select $$a; b$$"))
    assert(singleStatement("select $tag$ ; $notit$ ; $tag$"))
    assert(!singleStatement("select $$a$$; select 2"))
    // $1 is a parameter ref, not a dollar-quote opener.
    assert(!singleStatement("select $1; select $2"))
    // Comments hide semicolons.
    assert(singleStatement("select 1 -- ; not a split"))
    assert(singleStatement("select /* ; */ 1"))
    assert(singleStatement("select /* outer /* nested ; */ ; */ 1"))
    assert(!singleStatement("select 1 /* c */; select 2"))
    // Unterminated forms are not provably single → simple protocol.
    assert(!singleStatement("select 'unterminated"))
    assert(!singleStatement("select $$unterminated"))
    assert(!singleStatement("select /* unterminated"))
  }

  test("binary numeric decodes to the exact BigDecimal the text " +
    "render parses to (scale preserved, base-10000 groups aligned)") {
    import MiniPgWire.decodeNumericBinary
    def enc(ndigits: Int, weight: Int, sign: Int, dscale: Int,
        digits: Int*): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8 + 2 * digits.length)
      b.putShort(ndigits.toShort).putShort(weight.toShort)
        .putShort(sign.toShort).putShort(dscale.toShort)
      digits.foreach(d => b.putShort(d.toShort))
      b.array()
    }
    def dec(p: Array[Byte]) = decodeNumericBinary(p, 0, p.length)
    assert(dec(enc(2, 0, 0, 4, 1234, 5678)) ===
      new java.math.BigDecimal("1234.5678"))
    assert(dec(enc(1, -1, 0x4000, 4, 1)) ===
      new java.math.BigDecimal("-0.0001"))
    // dscale narrower than the group grid: 1.500 stores [1, 5000].
    assert(dec(enc(2, 0, 0, 3, 1, 5000)) ===
      new java.math.BigDecimal("1.500"))
    // Zero with display scale, and the bare zero.
    assert(dec(enc(0, 0, 0, 2)) === new java.math.BigDecimal("0.00"))
    assert(dec(enc(0, 0, 0, 0)) === java.math.BigDecimal.ZERO)
    // Wide value through the BigInteger path (> 4 groups).
    assert(dec(enc(6, 4, 0, 2, 1234, 5678, 9012, 3456, 7890, 1200)) ===
      new java.math.BigDecimal("12345678901234567890.12"))
    // Integral with positive weight: 20000 = [2] at weight 1.
    assert(dec(enc(1, 1, 0, 0, 2)) === new java.math.BigDecimal("20000"))
    // Specials carry PG's text forms.
    assert(dec(enc(0, 0, 0xC000, 0)) === "NaN")
    assert(dec(enc(0, 0, 0xD000, 0)) === "Infinity")
    assert(dec(enc(0, 0, 0xF000, 0)) === "-Infinity")
  }

  test("binary timestamp/date epoch conversions round the PG epoch " +
    "exactly (negative µs floor-divide)") {
    import MiniPgWire.ColumnStore.{microsToLocalDateTime, microsToTimestamptz}
    assert(microsToLocalDateTime(0L).toString === "2000-01-01T00:00")
    assert(microsToLocalDateTime(-1L).toString ===
      "1999-12-31T23:59:59.999999")
    assert(microsToLocalDateTime(86400L * 1000000 + 1500000).toString ===
      "2000-01-02T00:00:01.500")
    assert(microsToTimestamptz(0L).toInstant.toString ===
      "2000-01-01T00:00:00Z")
    assert(microsToTimestamptz(-2L).toInstant.toString ===
      "1999-12-31T23:59:59.999998Z")
  }

  test("binary uuid decodes to PG's canonical lowercase text render") {
    import MiniPgWire.decodeUuidBinary
    val u = java.util.UUID.fromString(
      "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11")
    val b = java.nio.ByteBuffer.allocate(16)
      .putLong(u.getMostSignificantBits)
      .putLong(u.getLeastSignificantBits).array()
    assert(decodeUuidBinary(b, 0, 16) === "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11")
  }

  test("a binary-format ColumnStore serves the same getter values " +
    "as a text-format one for every BinaryOids type") {
    import MiniPgWire.{Col, ColumnStore, Result}
    val cols = Array(
      Col("i8", 20, -1), Col("i4", 23, -1), Col("i2", 21, -1),
      Col("b", 16, -1), Col("f4", 700, -1), Col("f8", 701, -1),
      Col("d", 1082, -1), Col("ts", 1114, -1), Col("tz", 1184, -1),
      Col("n", 1700, ((10 << 16) | 4) + 4), Col("by", 17, -1))
    def put(store: ColumnStore, c: Int, bytes: Array[Byte]): Unit =
      store.put(c, bytes, 0, bytes.length)
    val text = new ColumnStore(cols)
    Seq("-9007199254740993", "42", "-7", "t", "1.5", "-2.25",
      "2021-03-14", "2021-03-14 01:02:03.25",
      "2021-03-14 01:02:03.25+00", "1234.5678", "\\x0001ff")
      .zipWithIndex.foreach { case (s, c) =>
        put(text, c, s.getBytes("UTF-8")) }
    text.rowDone()
    val binF = Array.fill[Byte](cols.length)(1)
    val bb = java.nio.ByteBuffer.allocate(64)
    def bytesOf(f: java.nio.ByteBuffer => Unit): Array[Byte] = {
      bb.clear(); f(bb); java.util.Arrays.copyOf(bb.array(), bb.position())
    }
    val binary = new ColumnStore(cols, binF)
    put(binary, 0, bytesOf(_.putLong(-9007199254740993L)))
    put(binary, 1, bytesOf(_.putInt(42)))
    put(binary, 2, bytesOf(_.putShort(-7)))
    put(binary, 3, Array[Byte](1))
    put(binary, 4, bytesOf(_.putFloat(1.5f)))
    put(binary, 5, bytesOf(_.putDouble(-2.25)))
    // 2021-03-14 = 7743 days after 2000-01-01.
    put(binary, 6, bytesOf(_.putInt(
      java.time.LocalDate.of(2021, 3, 14).toEpochDay.toInt - 10957)))
    val us = (java.time.LocalDateTime.of(2021, 3, 14, 1, 2, 3)
      .toEpochSecond(java.time.ZoneOffset.UTC) - 946684800L) *
      1000000L + 250000L
    put(binary, 7, bytesOf(_.putLong(us)))
    put(binary, 8, bytesOf(_.putLong(us)))
    put(binary, 9, bytesOf { b =>
      b.putShort(2).putShort(0).putShort(0).putShort(4)
        .putShort(1234).putShort(5678): Unit
    })
    put(binary, 10, Array[Byte](0, 1, -1))
    binary.rowDone()
    val rsT = new MiniPgResultSet(Result(cols, text, "SELECT 1"))
    val rsB = new MiniPgResultSet(Result(cols, binary, "SELECT 1"))
    assert(rsT.next() && rsB.next())
    assert(rsB.getLong(1) === rsT.getLong(1))
    assert(rsB.getInt(2) === rsT.getInt(2))
    assert(rsB.getShort(3) === rsT.getShort(3))
    assert(rsB.getBoolean(4) === rsT.getBoolean(4))
    assert(rsB.getFloat(5) === rsT.getFloat(5))
    assert(rsB.getDouble(6) === rsT.getDouble(6))
    assert(rsB.getDate(7) === rsT.getDate(7))
    assert(rsB.getTimestamp(8) === rsT.getTimestamp(8))
    assert(rsB.getTimestamp(9) === rsT.getTimestamp(9))
    assert(rsB.getBigDecimal(10) === rsT.getBigDecimal(10))
    assert(rsB.getDouble(10) === rsT.getDouble(10))
    assert(rsB.getBytes(11).toSeq === rsT.getBytes(11).toSeq)
    // getString agrees too (the text() renders mirror PG's under
    // the UTC session zone the provisioned cluster uses).
    (1 to 11).foreach { i =>
      assert(rsB.getString(i) === rsT.getString(i), s"col $i")
    }
  }

  test("binary timestamptz renders getString in the server's session " +
    "zone with PG's offset spelling") {
    import MiniPgWire.{Col, ColumnStore, Result}
    val cols = Array(Col("tz", 1184, -1))
    def storeWith(zone: String): MiniPgResultSet = {
      val s = new ColumnStore(cols, Array[Byte](1),
        java.time.ZoneId.of(zone))
      // 2021-03-13T19:32:03.25Z as µs since the PG epoch.
      val us = (java.time.Instant.parse("2021-03-13T19:32:03.25Z")
        .getEpochSecond - 946684800L) * 1000000L + 250000L
      s.put(0, java.nio.ByteBuffer.allocate(8).putLong(us).array(), 0, 8)
      s.rowDone()
      val rs = new MiniPgResultSet(Result(cols, s, "SELECT 1"))
      rs.next(); rs
    }
    assert(storeWith("UTC").getString(1) === "2021-03-13 19:32:03.25+00")
    assert(storeWith("Asia/Kolkata").getString(1) ===
      "2021-03-14 01:02:03.25+05:30")
    assert(storeWith("America/New_York").getString(1) ===
      "2021-03-13 14:32:03.25-05")
    // getTimestamp stays zone-exact regardless of the render zone.
    assert(storeWith("Asia/Kolkata").getTimestamp(1).toInstant ===
      java.time.Instant.parse("2021-03-13T19:32:03.250Z"))
    // PG's offset spelling drops ':00' minutes.
    import MiniPgWire.ColumnStore.renderPgOffset
    assert(renderPgOffset(java.time.ZoneOffset.ofHours(-7)) === "-07")
    assert(renderPgOffset(java.time.ZoneOffset.ofHoursMinutes(5, 30)) ===
      "+05:30")
    assert(renderPgOffset(
      java.time.ZoneOffset.ofHoursMinutes(-3, -30)) === "-03:30")
    assert(renderPgOffset(java.time.ZoneOffset.UTC) === "+00")
    // Historic LMT offsets carry seconds (r17 ADVICE): PG renders
    // them, e.g. Asia/Kolkata pre-1880 is +05:53:28.
    assert(renderPgOffset(
      java.time.ZoneOffset.ofHoursMinutesSeconds(5, 53, 28)) ===
      "+05:53:28")
    assert(renderPgOffset(
      java.time.ZoneOffset.ofHoursMinutesSeconds(-5, -53, -28)) ===
      "-05:53:28")
  }

  test("binary ±infinity timestamp/date sentinels map to pgjdbc's " +
    "convention and render PG's text forms") {
    import MiniPgWire.{Col, ColumnStore, Result}
    val cols = Array(Col("ts", 1114, -1), Col("tz", 1184, -1),
      Col("d", 1082, -1))
    val store = new ColumnStore(cols, Array.fill[Byte](3)(1))
    def put(c: Int, bytes: Array[Byte]): Unit =
      store.put(c, bytes, 0, bytes.length)
    def i64(v: Long) = java.nio.ByteBuffer.allocate(8).putLong(v).array()
    def i32(v: Int) = java.nio.ByteBuffer.allocate(4).putInt(v).array()
    put(0, i64(Long.MaxValue)); put(1, i64(Long.MinValue))
    put(2, i32(Int.MaxValue)); store.rowDone()
    put(0, i64(Long.MinValue)); put(1, i64(Long.MaxValue))
    put(2, i32(Int.MinValue)); store.rowDone()
    val rs = new MiniPgResultSet(Result(cols, store, "SELECT 2"))
    assert(rs.next())
    assert(rs.getTimestamp(1).getTime === Long.MaxValue)
    assert(rs.getTimestamp(2).getTime === Long.MinValue)
    assert(rs.getDate(3).getTime === Long.MaxValue)
    assert(rs.getString(1) === "infinity")
    assert(rs.getString(2) === "-infinity")
    assert(rs.getString(3) === "infinity")
    assert(rs.next())
    assert(rs.getTimestamp(1).getTime === Long.MinValue)
    assert(rs.getTimestamp(2).getTime === Long.MaxValue)
    assert(rs.getDate(3).getTime === Long.MinValue)
    assert(rs.getString(3) === "-infinity")
  }

  test("binary float4 widens through the shortest-roundtrip render: " +
    "getDouble/getString match the text path, getFloat is exact " +
    "(r17 ADVICE)") {
    import MiniPgWire.{Col, ColumnStore, Result}
    val cols = Array(Col("f", 700, -1))
    val store = new ColumnStore(cols, Array[Byte](1))
    def putF(f: Float): Unit = {
      val b = java.nio.ByteBuffer.allocate(4)
        .putInt(java.lang.Float.floatToIntBits(f)).array()
      store.put(0, b, 0, 4); store.rowDone()
    }
    val vals = Seq(0.1f, -2.5f, 3.4e38f, 1.1754944e-38f, 0.0f, -0.0f,
      Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity)
    vals.foreach(putF)
    val rs = new MiniPgResultSet(Result(cols, store, "SELECT"))
    vals.foreach { f =>
      assert(rs.next())
      val got = rs.getFloat(1)
      if (f.isNaN) assert(got.isNaN) else assert(got === f)
      if (!f.isNaN && !f.isInfinite) {
        // The text wire sends the shortest decimal render; parsing it
        // as double is what the text path stores — binary must agree.
        assert(rs.getDouble(1) ===
          java.lang.Float.toString(f).toDouble)
      }
    }
  }

  test("COPY text rendering: structural characters escaped, NULLs as " +
    "\\N, and the Spark-writer INSERT shape rewrites to COPY") {
    import MiniPgCopy.{copyEscape, insertToCopy}
    assert(copyEscape("plain text") === "plain text")
    assert(copyEscape("a\tb\nc\rd\\e") === "a\\tb\\nc\\rd\\\\e")
    assert(copyEscape("") === "")
    // Unicode and quote characters pass raw (only the four
    // structural characters are escaped in COPY text format).
    assert(copyEscape("it's \"quoted\" → ünïcode") ===
      "it's \"quoted\" → ünïcode")
    // The exact statement shape Spark's JDBC writer generates.
    assert(insertToCopy(
      """INSERT INTO lineitem_probe ("l_orderkey","l_comment") VALUES (?,?)""")
      === Some("""COPY lineitem_probe ("l_orderkey","l_comment") FROM STDIN"""))
    assert(insertToCopy("insert into t values (?, ?, ?)") ===
      Some("COPY t FROM STDIN"))
    assert(insertToCopy("INSERT INTO s.t (a) VALUES (?);") ===
      Some("COPY s.t (a) FROM STDIN"))
    // Non-convertible shapes fall back to the literal path.
    assert(insertToCopy("INSERT INTO t (a) VALUES (1)").isEmpty)
    assert(insertToCopy("INSERT INTO t (a) VALUES (?), (?)").isEmpty)
    assert(insertToCopy("INSERT INTO t (a) VALUES (?) ON CONFLICT DO NOTHING").isEmpty)
    assert(insertToCopy("INSERT INTO t (a) VALUES (upper(?))").isEmpty)
    assert(insertToCopy("UPDATE t SET a = ?").isEmpty)
  }

  test("driver steps aside for non-postgres URLs and parses pgjdbc " +
    "URL shapes") {
    val d = new MiniPgDriver
    assert(!d.acceptsURL("jdbc:derby:memory:db"))
    val (h, p, db, params) = MiniPgDriver.parseUrl(
      "jdbc:postgresql://localhost:5544/postgres?user=postgres&password=x")
    assert((h, p, db) === ("localhost", 5544, "postgres"))
    assert(params === Map("user" -> "postgres", "password" -> "x"))
    val (h2, p2, db2, _) = MiniPgDriver.parseUrl(
      "jdbc:postgresql://db.example.com/pagila")
    assert((h2, p2, db2) === ("db.example.com", 5432, "pagila"))
  }

  test("URL parameter values keep '=' and decode percent escapes after " +
    "the split") {
    val (_, _, _, params) = MiniPgDriver.parseUrl(
      "jdbc:postgresql://localhost/db?user=u%20x&password=a=b%26c&ssl")
    assert(params === Map("user" -> "u x", "password" -> "a=b&c"))
  }
}
