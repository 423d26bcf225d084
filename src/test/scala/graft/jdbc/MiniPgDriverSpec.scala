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

  // ---- binary cell decoders (MiniPgScan's binary transfer) — pure
  //      codec, no server needed ----

  test("binary numeric decodes to the exact BigDecimal the text " +
    "render parses to (scale preserved, base-10000 groups aligned)") {
    import Cells.decodeNumericBinary
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
    import Cells.{microsToLocalDateTime, microsToTimestamptz}
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
    import Cells.decodeUuidBinary
    val u = java.util.UUID.fromString(
      "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11")
    val b = java.nio.ByteBuffer.allocate(16)
      .putLong(u.getMostSignificantBits)
      .putLong(u.getLeastSignificantBits).array()
    assert(decodeUuidBinary(b, 0, 16) === "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11")
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
