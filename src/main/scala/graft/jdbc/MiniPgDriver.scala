package graft.jdbc

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.net.Socket
import java.nio.charset.StandardCharsets
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.{SQLException, SQLFeatureNotSupportedException}
import java.time.{LocalDate, LocalDateTime, OffsetDateTime, ZoneOffset}
import java.time.format.DateTimeFormatterBuilder
import java.time.temporal.ChronoField
import java.util.Properties

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** A minimal, dependency-free PostgreSQL WIRE client with just enough
  * of a JDBC face for Spark's JDBC source — the JVM mirror of the
  * reference's own architecture: flaco does not link libpq either, it
  * speaks the v3 wire protocol through the native `rust-postgres`
  * client (`/root/reference/src/lib.rs:46` `Client::connect`, row
  * stream at `lib.rs:191-194`). This sandbox has a real PostgreSQL 15
  * server but no pgjdbc jar (offline resolver), so without this class
  * the live-PG parity gate ([[graft.jdbc]] test `PagilaLiveSpec`) can
  * never actually run; with it, `jdbc:postgresql://` URLs resolve
  * through `java.sql.DriverManager` (registered via
  * `META-INF/services/java.sql.Driver`) and Spark's whole JDBC read /
  * write path — [[graft.Flaco.readSqlToDataFrame]], the
  * [[graft.types.FlacoPostgresDialect]] name-first type arms,
  * `df.write.jdbc` — runs against a live server.
  *
  * Deliberately minimal, like the reference's client usage:
  *  - v3 SIMPLE QUERY protocol (`Q` messages, TEXT results) for
  *    execute/update/batch, plus ONE extended-protocol shape for
  *    reads (`executeQuery` → unnamed Parse/Bind/Execute with
  *    per-column BINARY result formats for the types in
  *    [[MiniPgWire.BinaryOids]] — the same binary typed reads the
  *    reference's rust-postgres client performs; disable with
  *    `?binaryTransfer=false`, pgjdbc's param name);
  *  - trust / cleartext-password auth (the provisioned test cluster
  *    uses trust; no SCRAM);
  *  - `PreparedStatement` parameters are bound client-side as SQL
  *    literals (standard_conforming_strings escaping; bytea as
  *    `'\x…'::bytea`, timestamps as quoted ISO text) — batches are
  *    sent as one multi-statement simple query per JDBC batch;
  *  - results decode from the wire TEXT format by type OID — the same
  *    per-type dispatch the reference's 19-arm switch performs
  *    (`lib.rs:199-386`), here to JDBC getter values;
  *  - the giant JDBC interfaces are served through reflective
  *    [[java.lang.reflect.Proxy]] handlers that implement the ~40
  *    methods Spark's `JdbcUtils`/`JDBCRDD` actually call and throw a
  *    named [[SQLFeatureNotSupportedException]] for the rest (the
  *    catchable-error contract, `lib.rs:382-385`).
  *
  * NOT a general-purpose driver: no named statements/portals or
  * server-side parameters, no cursors, no cancellation, no SSL — and
  * a JDBC `ResultSet`'s result is fully buffered in client memory
  * before it is handed back (no fetchSize streaming). That bounds
  * `spark.read.jdbc` over this driver to test-harness scales; the
  * columnar read [[graft.Flaco.readSqlToDataFrame]] takes for these
  * URLs ([[MiniPgScan]]) streams instead, one batch at a time over
  * [[MiniPgWire.execute]] / [[MiniPgWire.readRows]]. It exists so the
  * reference's integration surface (live PG round-trips) is
  * executable in-sandbox; production deployments would put the real
  * pgjdbc on the classpath and never load this class (DriverManager
  * prefers whichever driver accepts the URL first, and pgjdbc
  * registers ahead of service-loaded fallbacks in practice — this
  * driver also steps aside if pgjdbc is present, see
  * [[MiniPgDriver.pgjdbcPresent]]).
  */
object MiniPgWire {

  /** One column of a RowDescription: name, type OID, type modifier. */
  final case class Col(name: String, oid: Int, typmod: Int)

  object ColumnStore {
    val KindString = 0
    val KindLong = 1
    val KindDouble = 2
    val KindBool = 3
    /** Binary-format date: int4 days since 2000-01-01, stored as
      * epoch-day in the long vector.
      */
    val KindDate = 4
    /** Binary-format timestamp (NTZ): int8 µs since 2000-01-01 00:00
      * wall-clock, stored raw in the long vector.
      */
    val KindTs = 5
    /** Binary-format timestamptz: int8 µs since 2000-01-01T00:00Z
      * (an instant), stored raw in the long vector.
      */
    val KindTstz = 6
    /** Binary-format numeric: decoded to java.math.BigDecimal (or
      * the literal text for NaN/±Infinity) in the object vector.
      */
    val KindDecimal = 7
    /** Binary-format bytea: the raw payload bytes in the object
      * vector (no hex round-trip).
      */
    val KindBytes = 8
    /** OID → decode kind: the wire layer's row→columnar dispatch
      * (the reference's 19-arm switch shape, lib.rs:197-389). int2/
      * int4/int8 parse straight from the payload bytes — no per-cell
      * String; float4/float8 via one ASCII String (parseDouble takes
      * only String); everything else keeps its text form for the
      * typed getters to interpret (numeric → BigDecimal, date/ts →
      * java.time, bytea → hex decode).
      */
    def kindOf(oid: Int): Int = oid match {
      case 20 | 23 | 21 => KindLong
      case 700 | 701 => KindDouble
      case 16 => KindBool
      case _ => KindString
    }

    /** OID → decode kind for BINARY result format (the extended-
      * protocol fast path): the wire value parses straight into its
      * typed vector with no intermediate text at all. Only OIDs in
      * [[MiniPgWire.BinaryOids]] reach here.
      */
    def binKindOf(oid: Int): Int = oid match {
      case 20 | 23 | 21 => KindLong
      case 700 | 701 => KindDouble
      case 16 => KindBool
      case 1082 => KindDate
      case 1114 => KindTs
      case 1184 => KindTstz
      case 1700 => KindDecimal
      case 17 => KindBytes
      case 2950 => KindString // decoded to the canonical text render
      case _ => KindString
    }

    /** PG epoch (2000-01-01) as a Unix epoch-day / epoch-second. */
    val PgEpochDay = 10957L
    val PgEpochSec = 946684800L

    /** Binary `numeric` → BigDecimal (NaN/±Infinity → their text
      * forms, matching PG's text render so the text/binary paths
      * agree): ndigits base-10000 groups, a group-aligned weight and
      * a display scale. The unscaled integer is the digit groups read
      * as one base-10000 number shifted to the dscale grid — exact by
      * construction (value × 10^dscale is integral whenever dscale
      * covers the fractional groups, which PG guarantees).
      */
    def decodeNumericBinary(p: Array[Byte], off: Int): AnyRef = {
      val ndigits = be16(p, off)
      val weight = be16(p, off + 2).toShort.toInt
      val sign = be16(p, off + 4)
      val dscale = be16(p, off + 6)
      sign match {
        case 0xC000 => "NaN"
        case 0xD000 => "Infinity"
        case 0xF000 => "-Infinity"
        case _ =>
          val neg = sign == 0x4000
          if (ndigits == 0)
            java.math.BigDecimal.ZERO.setScale(dscale)
          else {
            // Digit groups as one base-10000 integer…
            var acc = java.math.BigInteger.ZERO
            val tenK = java.math.BigInteger.valueOf(10000L)
            var i = 0
            var accL = 0L
            val fitsLong = ndigits <= 4
            while (i < ndigits) {
              val d = be16(p, off + 8 + 2 * i)
              if (fitsLong) accL = accL * 10000 + d
              else acc = acc.multiply(tenK)
                .add(java.math.BigInteger.valueOf(d.toLong))
              i += 1
            }
            if (fitsLong) acc = java.math.BigInteger.valueOf(accL)
            // …aligned: the last group sits at 10^(4·(weight−ndigits+1)).
            val exp10 = 4 * (weight - ndigits + 1)
            val bd = new java.math.BigDecimal(acc, -exp10)
            val scaled = bd.setScale(dscale)
            if (neg) scaled.negate() else scaled
          }
      }
    }

    /** Binary `uuid` (16 bytes) → the canonical lowercase-hex render
      * PG's text format uses.
      */
    def decodeUuidBinary(p: Array[Byte], off: Int): String = {
      val hi = be64(p, off)
      val lo = be64(p, off + 8)
      new java.util.UUID(hi, lo).toString
    }

    /** PG's binary ±infinity timestamp sentinels (Long.MAX/MIN µs).
      * The typed getters map them to pgjdbc's convention (a
      * Timestamp at Long.MAX/MIN ms); text() renders PG's
      * 'infinity'/'-infinity'. The TEXT path throws on these at
      * parse time, so binary is strictly more faithful here.
      */
    val TsPosInfinity: Long = Long.MaxValue
    val TsNegInfinity: Long = Long.MinValue

    /** Binary ±infinity DATE sentinels (Int.MAX/MIN days), stored
      * epoch-day-shifted like every other date cell.
      */
    val DatePosInfinity: Long = Int.MaxValue.toLong + PgEpochDay
    val DateNegInfinity: Long = Int.MinValue.toLong + PgEpochDay

    /** µs since the PG epoch → wall-clock LocalDateTime (the binary
      * `timestamp` payload; interpretation zone is the CALLER's
      * choice, exactly like the text render).
      */
    def microsToLocalDateTime(us: Long): LocalDateTime =
      LocalDateTime.ofEpochSecond(
        Math.floorDiv(us, 1000000L) + PgEpochSec,
        (Math.floorMod(us, 1000000L) * 1000L).toInt, ZoneOffset.UTC)

    /** µs since the PG epoch (as an instant) → java.sql.Timestamp
      * (the binary `timestamptz` payload).
      */
    def microsToTimestamptz(us: Long): java.sql.Timestamp =
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        Math.floorDiv(us, 1000000L) + PgEpochSec,
        Math.floorMod(us, 1000000L) * 1000L))

    /** PG's offset spelling: '+00' / '-07' for whole hours, ':MM'
      * appended when the offset carries minutes ('+05:30'), ':SS'
      * appended when it carries seconds ('+05:53:28' — historic LMT
      * zones predate offset standardization; r17 ADVICE).
      */
    def renderPgOffset(off: ZoneOffset): String = {
      val total = off.getTotalSeconds
      val sign = if (total < 0) "-" else "+"
      val abs = math.abs(total)
      val base = f"$sign${abs / 3600}%02d"
      if (abs % 3600 == 0) base
      else if (abs % 60 == 0) f"$base:${(abs % 3600) / 60}%02d"
      else f"$base:${(abs % 3600) / 60}%02d:${abs % 60}%02d"
    }

    /** PG-style text render of a wall-clock timestamp: fraction
      * digits only when non-zero, trailing zeros trimmed (what
      * `timestamp::text` produces, so getString agrees across
      * formats).
      */
    def renderTsText(ldt: LocalDateTime): String = {
      val base = f"${ldt.toLocalDate}%s ${ldt.getHour}%02d:" +
        f"${ldt.getMinute}%02d:${ldt.getSecond}%02d"
      val us = ldt.getNano / 1000
      if (us == 0) base
      else {
        var frac = f"$us%06d"
        while (frac.endsWith("0")) frac = frac.dropRight(1)
        s"$base.$frac"
      }
    }

    /** Binary int2/int4/int8 by payload length. */
    def binaryIntegral(p: Array[Byte], off: Int, len: Int): Long = len match {
      case 2 => be16(p, off).toShort.toLong
      case 4 => be32(p, off).toLong
      case _ => be64(p, off)
    }
    def binaryFloat4(p: Array[Byte], off: Int): Float =
      java.lang.Float.intBitsToFloat(be32(p, off))
    def binaryFloat8(p: Array[Byte], off: Int): Double =
      java.lang.Double.longBitsToDouble(be64(p, off))
    def binaryBool(p: Array[Byte], off: Int): Boolean = p(off) == 1
    /** Binary date → epoch day (the ±infinity sentinels shifted alike). */
    def binaryDate(p: Array[Byte], off: Int): Long = be32(p, off).toLong + PgEpochDay
    /** Binary timestamp/timestamptz: µs since the PG epoch, raw. */
    def binaryMicros(p: Array[Byte], off: Int): Long = be64(p, off)

    /** Text int2/int4/int8: `[-]digits`, parsed without a String. */
    def parseLongCell(p: Array[Byte], off: Int, len: Int): Long = {
      var v = 0L
      var i = off
      val end = off + len
      var neg = false
      if (p(i) == '-') { neg = true; i += 1 }
      while (i < end) { v = v * 10 + (p(i) - '0'); i += 1 }
      if (neg) -v else v
    }

    /** Exact no-allocation parse of the common float render
      * `[-]ddd[.ddd]`: with ≤ 15 significant digits the mantissa is
      * exact in a long and one division by an exact power of ten is
      * correctly rounded — bit-identical to parseDouble. Exponents,
      * specials (NaN/Infinity) and longer digit strings take the
      * String + parseDouble fallback (exactness over speed).
      */
    def parseDoubleCell(payload: Array[Byte], off: Int,
        len: Int): Double = {
      val end = off + len
      var i = off
      var neg = false
      if (i < end && payload(i) == '-') { neg = true; i += 1 }
      var m = 0L
      var digits = 0
      var frac = -1
      var simple = i < end
      while (i < end && simple) {
        val b = payload(i)
        if (b >= '0' && b <= '9') {
          m = m * 10 + (b - '0'); digits += 1
          if (frac >= 0) frac += 1
          i += 1
        } else if (b == '.' && frac < 0) { frac = 0; i += 1 }
        else simple = false
      }
      if (simple && digits > 0 && digits <= 15) {
        val d0 = if (frac <= 0) m.toDouble else m / Pow10(frac)
        if (neg) -d0 else d0
      } else java.lang.Double.parseDouble(
        new String(payload, off, len, StandardCharsets.US_ASCII))
    }
  }

  /** Per-column TYPED vectors decoded once at message-read time — the
    * buffer a [[MiniPgResultSet]] serves without further parsing or
    * boxing (the r17 wire-decode fast path; see MiniPgResultSet's
    * docstring for the measured motivation). `tz` is the SERVER's
    * session TimeZone (tracked from ParameterStatus messages): binary
    * `timestamptz` payloads are zone-less instants, so re-rendering
    * the text form PG would have sent needs the zone PG would have
    * used.
    */
  final class ColumnStore(cols: Array[Col], formats: Array[Byte],
      tz: java.time.ZoneId) {
    import ColumnStore._

    def this(cols: Array[Col], formats: Array[Byte]) =
      this(cols, formats, ZoneOffset.UTC)

    /** Simple-protocol (all-text) store. */
    def this(cols: Array[Col]) = this(cols, new Array[Byte](cols.length))

    private val n = cols.length
    /** Cells a DataRow of this result carries. */
    def width: Int = n
    private val bin: Array[Boolean] = formats.map(_ == 1.toByte)
    private val oids: Array[Int] = cols.map(_.oid)
    private val kinds: Array[Int] = Array.tabulate(n)(c =>
      if (bin(c)) binKindOf(oids(c)) else kindOf(oids(c)))
    val nulls: Array[java.util.BitSet] = Array.fill(n)(new java.util.BitSet())
    private def longBacked(k: Int): Boolean =
      k == KindLong || k == KindBool || k == KindDate || k == KindTs ||
        k == KindTstz
    private def objBacked(k: Int): Boolean =
      k == KindDecimal || k == KindBytes
    private val longCols: Array[Array[Long]] = kinds.map(k =>
      if (longBacked(k)) new Array[Long](64) else null)
    private val dblCols: Array[Array[Double]] = kinds.map(k =>
      if (k == KindDouble) new Array[Double](64) else null)
    private val strCols: Array[Array[String]] = kinds.map(k =>
      if (k == KindString) new Array[String](64) else null)
    private val objCols: Array[Array[AnyRef]] = kinds.map(k =>
      if (objBacked(k)) new Array[AnyRef](64) else null)
    var size = 0

    def kind(c: Int): Int = kinds(c)
    def kindLong(c: Int): Array[Long] = longCols(c)
    def kindDouble(c: Int): Array[Double] = dblCols(c)
    def kindObj(c: Int): Array[AnyRef] = objCols(c)

    /** Text view of a cell (null-cell → null) — the fallback getters
      * (BigDecimal, date/time, bytea, json…) and getString.
      */
    def text(c: Int, r: Int): String =
      if (nulls(c).get(r)) null
      else kinds(c) match {
        case KindString => strCols(c)(r)
        case KindLong => String.valueOf(longCols(c)(r))
        case KindDouble => String.valueOf(dblCols(c)(r))
        case KindBool => if (longCols(c)(r) != 0L) "t" else "f"
        case KindDate =>
          val d = longCols(c)(r)
          if (d == DatePosInfinity) "infinity"
          else if (d == DateNegInfinity) "-infinity"
          else LocalDate.ofEpochDay(d).toString
        case KindTs =>
          val us = longCols(c)(r)
          if (us == TsPosInfinity) "infinity"
          else if (us == TsNegInfinity) "-infinity"
          else renderTsText(microsToLocalDateTime(us))
        case KindTstz =>
          // Re-rendered in the SERVER's session zone with PG's own
          // offset spelling ('+00', '+05:30'), so getString agrees
          // with what the text wire would have carried; typed access
          // goes through getTimestamp, which is zone-exact
          // regardless.
          val us = longCols(c)(r)
          if (us == TsPosInfinity) "infinity"
          else if (us == TsNegInfinity) "-infinity"
          else {
            val inst = microsToTimestamptz(us).toInstant
            renderTsText(LocalDateTime.ofInstant(inst, tz)) +
              renderPgOffset(tz.getRules.getOffset(inst))
          }
        case KindDecimal => objCols(c)(r) match {
          case bd: java.math.BigDecimal => bd.toPlainString
          case s => s.asInstanceOf[String]
        }
        case KindBytes =>
          val b = objCols(c)(r).asInstanceOf[Array[Byte]]
          val sb = new java.lang.StringBuilder(2 + 2 * b.length)
          sb.append("\\x")
          var i = 0
          while (i < b.length) {
            sb.append(Character.forDigit((b(i) >> 4) & 0xf, 16))
            sb.append(Character.forDigit(b(i) & 0xf, 16))
            i += 1
          }
          sb.toString
        case _ => if (longCols(c)(r) != 0L) "t" else "f"
      }

    private def grown[T <: AnyRef](a: T, len: Int): T = {
      val out = java.lang.reflect.Array.newInstance(
        a.getClass.getComponentType, len)
      System.arraycopy(a, 0, out, 0, size)
      out.asInstanceOf[T]
    }
    private def ensure(c: Int): Unit = kinds(c) match {
      case KindString =>
        if (size == strCols(c).length) strCols(c) = grown(strCols(c), size * 2)
      case KindDouble =>
        if (size == dblCols(c).length) dblCols(c) = grown(dblCols(c), size * 2)
      case KindDecimal | KindBytes =>
        if (size == objCols(c).length) objCols(c) = grown(objCols(c), size * 2)
      case _ =>
        if (size == longCols(c).length) longCols(c) = grown(longCols(c), size * 2)
    }

    /** Decode one cell of the current row (len == -1 → SQL NULL). */
    def put(c: Int, payload: Array[Byte], off: Int, len: Int): Unit = {
      ensure(c)
      if (len < 0) { nulls(c).set(size); return }
      if (bin(c)) putBinary(c, payload, off, len)
      else kinds(c) match {
        case KindLong =>
          longCols(c)(size) = parseLongCell(payload, off, len)
        case KindDouble =>
          dblCols(c)(size) = parseDoubleCell(payload, off, len)
        case KindBool =>
          longCols(c)(size) = if (payload(off) == 't') 1L else 0L
        case _ =>
          strCols(c)(size) = new String(payload, off, len, UTF_8)
      }
    }

    /** Binary-format cell decode (extended-protocol fast path): the
      * network byte order payloads of PG's `send` functions, straight
      * into the typed vectors — zero text, zero boxing.
      */
    private def putBinary(c: Int, payload: Array[Byte], off: Int,
        len: Int): Unit = kinds(c) match {
      case KindLong =>
        longCols(c)(size) = binaryIntegral(payload, off, len)
      case KindDouble =>
        dblCols(c)(size) =
          if (len == 4) {
            // float4: widen through the shortest-roundtrip decimal
            // render, NOT the raw bit widen — PG's text path sends
            // '0.1' (parsed to 0.1d) where (double)0.1f is
            // 0.10000000149…; Float.toString is the same shortest
            // render, so getDouble/getString are transfer-mode
            // independent (r17 ADVICE). getFloat round-trips exactly
            // either way.
            val f = binaryFloat4(payload, off)
            if (java.lang.Float.isNaN(f) || java.lang.Float.isInfinite(f))
              f.toDouble
            else java.lang.Double.parseDouble(java.lang.Float.toString(f))
          } else binaryFloat8(payload, off)
      case KindBool =>
        longCols(c)(size) = if (binaryBool(payload, off)) 1L else 0L
      case KindDate =>
        longCols(c)(size) = binaryDate(payload, off)
      case KindTs | KindTstz =>
        longCols(c)(size) = be64(payload, off)
      case KindDecimal =>
        objCols(c)(size) = decodeNumericBinary(payload, off)
      case KindBytes =>
        objCols(c)(size) =
          java.util.Arrays.copyOfRange(payload, off, off + len)
      case _ =>
        strCols(c)(size) =
          if (oids(c) == 2950) decodeUuidBinary(payload, off)
          else new String(payload, off, len, UTF_8)
    }

    def rowDone(): Unit = size += 1

    /** Empties the store for reuse; its vectors keep their capacity. */
    def clear(): Unit = {
      size = 0
      nulls.foreach(_.clear())
    }

  }

  /** Network-order (big-endian) reads: unsigned int16, int32, int64. */
  private[jdbc] def be16(p: Array[Byte], o: Int): Int =
    ((p(o) & 0xff) << 8) | (p(o + 1) & 0xff)
  private[jdbc] def be32(p: Array[Byte], o: Int): Int =
    ((p(o) & 0xff) << 24) | ((p(o + 1) & 0xff) << 16) |
      ((p(o + 2) & 0xff) << 8) | (p(o + 3) & 0xff)
  private[jdbc] def be64(p: Array[Byte], o: Int): Long =
    (be32(p, o).toLong << 32) | (be32(p, o + 4).toLong & 0xffffffffL)

  /** Exact powers of ten — built by repeated ×10 so every entry is
    * the EXACT double (10^k is representable for k ≤ 22; math.pow's
    * 1-ulp license would break the correctly-rounded-division
    * argument).
    */
  private val Pow10: Array[Double] = {
    val a = new Array[Double](23)
    a(0) = 1.0
    var i = 1
    while (i < a.length) { a(i) = a(i - 1) * 10.0; i += 1 }
    a
  }

  /** Receives a statement's DataRows straight off the wire. */
  trait RowSink {
    /** One DataRow in `p(0 until len)`, which the wire reuses once this
      * returns; `true` ends the read after this row.
      */
    def row(p: Array[Byte], len: Int): Boolean
  }

  /** A frame the protocol does not allow: the stream position is lost. */
  private[jdbc] def malformed(what: String): SQLException =
    new SQLException(s"malformed server message: $what", "08P01")

  /** Throws unless DataRow `p` carries `width` cells. */
  private[jdbc] def checkCells(p: Array[Byte], width: Int): Unit = {
    val n = be16(p, 0)
    if (n != width)
      throw malformed(s"DataRow of $n cells for a $width-column result")
  }

  /** One result of a simple query: columns (empty for command-only
    * statements), the decoded column store, and the command tag.
    */
  final case class Result(cols: Array[Col], data: ColumnStore, tag: String)

  /** OID → pgjdbc-style type name (what
    * `ResultSetMetaData.getColumnTypeName` reports — the name-first
    * dialect arms key on these exact strings).
    */
  val TypeName: Map[Int, String] = Map(
    16 -> "bool", 17 -> "bytea", 18 -> "char", 20 -> "int8",
    21 -> "int2", 23 -> "int4", 25 -> "text", 114 -> "json",
    142 -> "xml",
    700 -> "float4", 701 -> "float8", 1042 -> "bpchar",
    1043 -> "varchar", 1082 -> "date", 1083 -> "time",
    1114 -> "timestamp", 1184 -> "timestamptz", 1186 -> "interval",
    1266 -> "timetz", 1700 -> "numeric", 2950 -> "uuid",
    3802 -> "jsonb")

  /** OID → java.sql.Types code (pgjdbc's choices for the same OIDs —
    * NUMERIC for numeric, TIMESTAMP for BOTH timestamp flavors, which
    * is exactly why FlacoPostgresDialect matches timestamptz by NAME).
    */
  val JdbcType: Map[Int, Int] = Map(
    16 -> java.sql.Types.BIT, 17 -> java.sql.Types.BINARY,
    18 -> java.sql.Types.CHAR, 20 -> java.sql.Types.BIGINT,
    21 -> java.sql.Types.SMALLINT, 23 -> java.sql.Types.INTEGER,
    25 -> java.sql.Types.VARCHAR, 114 -> java.sql.Types.OTHER,
    // xml: pgjdbc reports Types.SQLXML, which Spark's default mapping
    // rejects — FlacoPostgresDialect's "xml" name arm intercepts first.
    142 -> java.sql.Types.SQLXML,
    700 -> java.sql.Types.REAL, 701 -> java.sql.Types.DOUBLE,
    1042 -> java.sql.Types.CHAR, 1043 -> java.sql.Types.VARCHAR,
    1082 -> java.sql.Types.DATE, 1083 -> java.sql.Types.TIME,
    1114 -> java.sql.Types.TIMESTAMP, 1184 -> java.sql.Types.TIMESTAMP,
    1186 -> java.sql.Types.OTHER, 1266 -> java.sql.Types.TIME,
    1700 -> java.sql.Types.NUMERIC, 2950 -> java.sql.Types.OTHER,
    3802 -> java.sql.Types.OTHER)

  /** PG renders timestamps with a space separator, optional fraction,
    * and (timestamptz only) a +HH[:MM] offset; fraction digits are
    * variable. One lenient formatter covers all three render shapes.
    */
  private val TsFmt = new DateTimeFormatterBuilder()
    .appendPattern("yyyy-MM-dd HH:mm:ss")
    .optionalStart().appendFraction(ChronoField.MICRO_OF_SECOND, 0, 6, true).optionalEnd()
    .optionalStart().appendOffset("+HH:mm", "+00").optionalEnd()
    .toFormatter

  def parseTimestamptz(s: String): java.sql.Timestamp = {
    val t = java.time.format.DateTimeFormatter.ISO_OFFSET_DATE_TIME
    val norm = s.replace(' ', 'T') + (if (s.contains("+") || s.drop(11).contains("-")) "" else "Z")
    // Normalize bare '+00' / '+05' offsets to '+00:00' for ISO parse.
    val fixed = norm.replaceAll("([+-]\\d{2})$", "$1:00")
    java.sql.Timestamp.from(OffsetDateTime.parse(fixed, t).toInstant)
  }

  /** Fast manual parse of PG's standard render
    * `yyyy-MM-dd HH:mm:ss[.f{1,6}]` (the shape every row of a bulk
    * read carries — a DateTimeFormatter here costs ~1 µs/cell, which
    * alone put the 600k-row probe ~0.5 s over budget); anything else
    * (BC era, special values) falls back to the lenient formatter.
    */
  def parseTimestampNtz(s: String): LocalDateTime = {
    if (s.length >= 19 && s.charAt(4) == '-' && s.charAt(7) == '-' &&
        s.charAt(10) == ' ' && s.charAt(13) == ':' && s.charAt(16) == ':') {
      var ok = true
      def d(i: Int): Int = {
        val c = s.charAt(i) - '0'
        if (c < 0 || c > 9) ok = false
        c
      }
      val y = d(0) * 1000 + d(1) * 100 + d(2) * 10 + d(3)
      val mo = d(5) * 10 + d(6)
      val dd = d(8) * 10 + d(9)
      val h = d(11) * 10 + d(12)
      val mi = d(14) * 10 + d(15)
      val se = d(17) * 10 + d(18)
      var nano = 0
      if (s.length > 19) {
        if (s.charAt(19) == '.' && s.length <= 26) {
          var scale = 100000000
          var i = 20
          while (i < s.length && ok) {
            nano += d(i) * scale; scale /= 10; i += 1
          }
        } else ok = false
      }
      if (ok) return LocalDateTime.of(y, mo, dd, h, mi, se, nano)
    }
    LocalDateTime.parse(s, TsFmt)
  }

  /** Fast `yyyy-MM-dd` parse with ISO fallback (same rationale). */
  def parseDateFast(s: String): LocalDate = {
    if (s.length == 10 && s.charAt(4) == '-' && s.charAt(7) == '-') {
      var ok = true
      def d(i: Int): Int = {
        val c = s.charAt(i) - '0'
        if (c < 0 || c > 9) ok = false
        c
      }
      val y = d(0) * 1000 + d(1) * 100 + d(2) * 10 + d(3)
      val mo = d(5) * 10 + d(6)
      val dd = d(8) * 10 + d(9)
      if (ok) return LocalDate.of(y, mo, dd)
    }
    LocalDate.parse(s)
  }

  def parseByteaHex(s: String): Array[Byte] = {
    require(s.startsWith("\\x"), s"unexpected bytea literal: $s")
    val h = s.substring(2)
    val out = new Array[Byte](h.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = Integer.parseInt(h.substring(2 * i, 2 * i + 2), 16).toByte
      i += 1
    }
    out
  }

  def renderBytea(b: Array[Byte]): String =
    "'\\x" + b.map("%02x".format(_)).mkString + "'::bytea"

  /** SQL string literal under standard_conforming_strings. */
  def quote(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Default blocking-read bound (seconds) — see the class doc. */
  val DefaultSocketTimeoutSec = 300

  /** OIDs requested in BINARY result format on the extended-protocol
    * read path (everything else stays text, chosen per column in the
    * Bind message): the types whose binary decode is (a) cheaper than
    * text parse and (b) value-identical to it through the typed
    * getters Spark calls. Notably ABSENT: time/timetz/interval/json/
    * jsonb (text decode is already the contract the dialect parities
    * pin) and float-adjacent types where only the getter-level value
    * is pinned (float4 IS here — getFloat is bit-identical either
    * way; see the parity spec).
    */
  val BinaryOids: Set[Int] =
    Set(16, 17, 20, 21, 23, 700, 701, 1082, 1114, 1184, 1700, 2950)

  /** True when `sql` is PROVABLY a single statement (no top-level
    * ';' except a trailing one) — the extended protocol rejects
    * multi-statement strings, so those take the simple-query path.
    * The scanner understands all four PG lexical forms that can hide
    * a ';': standard `''`-escaped literals, `E''` literals with
    * backslash escapes, `$tag$…$tag$` dollar quotes, and `--`/nested
    * `/* */` comments (r17 ADVICE: the old form tracked only plain
    * quotes, and a backslash-escaped quote INVERTED its in-string
    * state, mis-routing a real multi-statement string to Parse).
    * Anything unterminated/ambiguous returns false — the safe
    * direction, since the simple-query path executes every statement
    * form.
    */
  def singleStatement(sql: String): Boolean = {
    val n = sql.length
    var i = 0
    var semi = -1
    while (i < n) {
      val ch = sql.charAt(i)
      if (ch == '\'') {
        // E'…' iff the quote is preceded by a lone E/e (not part of
        // an identifier like TABLE_E).
        val eStyle = i > 0 &&
          (sql.charAt(i - 1) == 'E' || sql.charAt(i - 1) == 'e') &&
          (i < 2 || !(Character.isLetterOrDigit(sql.charAt(i - 2)) ||
            sql.charAt(i - 2) == '_'))
        i += 1
        var closed = false
        while (i < n && !closed) {
          val c = sql.charAt(i)
          if (eStyle && c == '\\') i += 2
          else if (c == '\'') {
            if (i + 1 < n && sql.charAt(i + 1) == '\'') i += 2
            else { closed = true; i += 1 }
          } else i += 1
        }
        if (!closed) return false
      } else if (ch == '"') {
        i += 1
        var closed = false
        while (i < n && !closed) {
          if (sql.charAt(i) == '"') {
            if (i + 1 < n && sql.charAt(i + 1) == '"') i += 2
            else { closed = true; i += 1 }
          } else i += 1
        }
        if (!closed) return false
      } else if (ch == '-' && i + 1 < n && sql.charAt(i + 1) == '-') {
        while (i < n && sql.charAt(i) != '\n') i += 1
      } else if (ch == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (sql.charAt(i) == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
            depth += 1; i += 2
          } else if (sql.charAt(i) == '*' && i + 1 < n &&
              sql.charAt(i + 1) == '/') {
            depth -= 1; i += 2
          } else i += 1
        }
        if (depth > 0) return false
      } else if (ch == '$') {
        // $tag$ opener: tag is empty or [A-Za-z_][A-Za-z0-9_]* (a
        // digit-first "$1$" is a parameter ref followed by '$', not
        // a quote). Unclosed tag → not provably single.
        var j = i + 1
        while (j < n && (sql.charAt(j) == '_' ||
            Character.isLetterOrDigit(sql.charAt(j)))) j += 1
        val validTag = j < n && sql.charAt(j) == '$' &&
          (j == i + 1 || !Character.isDigit(sql.charAt(i + 1)))
        if (validTag) {
          val tag = sql.substring(i, j + 1)
          val end = sql.indexOf(tag, j + 1)
          if (end < 0) return false
          i = end + tag.length
        } else i += 1
      } else {
        if (ch == ';') semi = i
        i += 1
      }
    }
    semi < 0 || sql.substring(semi + 1).forall(_.isWhitespace)
  }
}

/** One live wire session (socket + startup + simple queries).
  *
  * `socketTimeoutSec` (URL param `socketTimeout`, pgjdbc's name and
  * seconds unit; 0 disables) bounds every blocking read — without it
  * a stalled server parks a Spark task forever with no cancel path
  * (r16 ADVICE). The default is generous: this is a hang breaker,
  * not a statement timeout.
  */
final class MiniPgWire(host: String, port: Int, database: String,
    user: String, password: Option[String],
    socketTimeoutSec: Int = MiniPgWire.DefaultSocketTimeoutSec,
    val binaryTransfer: Boolean = true) {
  import MiniPgWire._

  private val socket = new Socket(host, port)
  socket.setTcpNoDelay(true)
  socket.setSoTimeout(math.max(0, socketTimeoutSec) * 1000)
  private val in = new DataInputStream(new BufferedInputStream(socket.getInputStream, 1 << 16))
  private val out = new DataOutputStream(new BufferedOutputStream(socket.getOutputStream, 1 << 16))
  @volatile private var open = true

  /** The payload of the last message read, in `buf(0 until bufLen)`;
    * reused from message to message.
    */
  private var buf = new Array[Byte](1 << 12)
  private var bufLen = 0
  @volatile private var read = 0L

  /** The server's session TimeZone, tracked from ParameterStatus
    * messages (TimeZone is GUC_REPORT: the server announces it at
    * startup and after every SET that changes it). Used to re-render
    * binary `timestamptz` instants in the text form PG itself would
    * have sent.
    */
  @volatile private var serverZone: java.time.ZoneId = ZoneOffset.UTC
  def zone: java.time.ZoneId = serverZone

  /** ParameterStatus payload: cstring name + cstring value. */
  private def onParameterStatus(payload: Array[Byte]): Unit = {
    val nameEnd = payload.indexOf(0.toByte)
    if (nameEnd > 0) {
      val name = new String(payload, 0, nameEnd, UTF_8)
      if (name == "TimeZone") {
        val valEnd = payload.indexOf(0.toByte, nameEnd + 1)
        val v = new String(payload, nameEnd + 1,
          (if (valEnd < 0) payload.length else valEnd) - nameEnd - 1, UTF_8)
        serverZone =
          try java.time.ZoneId.of(v, java.time.ZoneId.SHORT_IDS)
          catch { case _: Exception => ZoneOffset.UTC }
      }
    }
  }

  // A failed startup must not leak the socket it opened.
  try startup()
  catch { case t: Throwable => close(); throw t }

  private def send(tpe: Byte, body: Array[Byte],
      flushNow: Boolean = true): Unit = {
    if (tpe != 0) out.writeByte(tpe.toInt)
    out.writeInt(body.length + 4)
    out.write(body)
    if (flushNow) out.flush()
  }

  private def cstr(s: String): Array[Byte] = s.getBytes(UTF_8) :+ 0.toByte

  private def startup(): Unit = {
    // StartupMessage: protocol 3.0 + (user, database) params.
    val params = cstr("user") ++ cstr(user) ++ cstr("database") ++
      cstr(database) ++ Array(0.toByte)
    val body = new ArrayBuffer[Byte]()
    body ++= Array[Byte](0, 3, 0, 0) // 196608
    body ++= params
    send(0, body.toArray)
    pump("startup") {
      case ('R', p) => be32(p, 0) match {
        case 0 => () // AuthenticationOk (trust)
        case 3 => // cleartext password
          send('p'.toByte, cstr(password.getOrElse("")))
        case other =>
          throw new SQLException(
            s"unsupported auth method $other (provision the test " +
              "cluster with trust or password auth)")
      }
      case ('K', _) => () // BackendKeyData
      // A startup ErrorResponse is fatal: the server closes the
      // connection instead of reaching ReadyForQuery.
      case ('E', p) => throw errorFrom(p)
    }
  }

  /** Bytes received on this wire so far, headers included. */
  def bytesRead: Long = read

  /** Reads one message into [[buf]] and returns its type. */
  private def readMessage(): Char =
    try {
      val tpe = in.readByte().toChar
      val len = in.readInt() - 4
      if (len < 0) throw malformed(s"'$tpe' frame of length ${len + 4}")
      if (len > buf.length) buf = new Array[Byte](math.max(len, buf.length * 2))
      in.readFully(buf, 0, len)
      bufLen = len
      read += len + 5
      tpe
    } catch {
      case e: java.net.SocketTimeoutException =>
        // A stalled server must not park a Spark task forever (r16
        // ADVICE); the pump closes the half-read wire.
        throw new SQLException("socket read timed out after " +
          s"$socketTimeoutSec s (tune with the socketTimeout URL " +
          "param; 0 disables)", "57014", e)
    }

  /** The wire's one receive loop: reads backend messages until one in
    * `stop`, handing the phase-specific ones to `on`. Everything else
    * follows the same rules in every phase:
    *  - ParameterStatus, Notice and NotificationResponse may arrive at
    *    any time and never end a phase;
    *  - the first ErrorResponse is kept and thrown once the server
    *    reaches ReadyForQuery, after sending the phase's Sync if it is
    *    still owed (the server skips to Sync after an error);
    *  - any other message is a protocol misuse: fail the COPY IN the
    *    server waits in, send the owed Sync, drain to ReadyForQuery and
    *    throw a SQLException naming `phase` — the shared wire stays in
    *    sync for the next statement;
    *  - a failed read or handler leaves the stream position unknowable,
    *    so the wire is closed; a pending error is thrown with that
    *    failure as its cause (fatal errors propagate as themselves);
    *  - DataRows go to `rows`, when given, straight from the reused
    *    read buffer; its `true` ends the call mid-statement, and the
    *    pump then returns false.
    */
  private def pump(phase: String, stop: String = "Z",
      syncOwed: Boolean = false, hint: String = "", rows: RowSink = null)(
      on: PartialFunction[(Char, Array[Byte]), Unit]): Boolean = {
    var owesSync = syncOwed
    def syncIfOwed(): Unit =
      if (owesSync) { owesSync = false; send('S'.toByte, Array.empty) }
    var failure: SQLException = null
    var done = false
    var full = false
    try while (!done) {
      val tpe = readMessage()
      if (tpe == 'D' && rows != null && failure == null) {
        full = rows.row(buf, bufLen)
        done = full
      } else {
        def payload = java.util.Arrays.copyOf(buf, bufLen)
        tpe match {
          case 'S' => onParameterStatus(payload)
          case 'N' | 'A' => () // Notice / NotificationResponse
          case 'Z' if failure != null || stop.indexOf('Z') >= 0 => done = true
          case _ if failure != null => () // draining to ReadyForQuery
          case _ if on.isDefinedAt((tpe, null)) =>
            on((tpe, payload))
            done = stop.indexOf(tpe) >= 0
          case 'E' =>
            failure = errorFrom(payload)
            syncIfOwed()
          case other =>
            failure = new SQLException(s"unexpected $phase reply '$other'$hint")
            if (other == 'G') // CopyInResponse: the server awaits data
              send('f'.toByte, cstr(s"COPY FROM STDIN is not read in $phase"))
            syncIfOwed()
            done = other == 'Z'
        }
      }
    } catch {
      case t: Throwable =>
        close()
        if (failure == null || !NonFatal(t)) throw t
        failure.initCause(t)
        throw failure
    }
    if (failure != null) throw failure
    !full
  }

  private def errorFrom(payload: Array[Byte]): SQLException = {
    // ErrorResponse: sequence of (code byte, cstring) fields.
    var i = 0
    var msg = "error"
    var state = "XX000"
    while (i < payload.length && payload(i) != 0) {
      val code = payload(i).toChar
      val end = payload.indexOf(0.toByte, i + 1)
      val v = new String(payload, i + 1, end - i - 1, UTF_8)
      if (code == 'M') msg = v
      if (code == 'C') state = v
      i = end + 1
    }
    new SQLException(msg, state)
  }

  /** DataRow → the next row of `store`: an int16 cell count, then per
    * cell an int32 length (-1 = NULL) and that many bytes, decoded
    * straight into the typed vectors (no per-cell String for int/bool
    * columns — the r17 fast path).
    */
  private def decodeRow(store: ColumnStore, p: Array[Byte]): Unit = {
    checkCells(p, store.width)
    val n = store.width
    var off = 2
    var c = 0
    while (c < n) {
      val len = be32(p, off)
      off += 4
      store.put(c, p, off, len)
      if (len > 0) off += len
      c += 1
    }
    store.rowDone()
  }

  /** Run one simple query (may contain multiple ';'-separated
    * statements); collect all result sets / command tags.
    */
  def query(sql: String): Seq[Result] = synchronized {
    if (!open) throw new SQLException("connection is closed")
    send('Q'.toByte, cstr(sql))
    val results = ArrayBuffer.empty[Result]
    var cols: Array[Col] = Array.empty
    var store: ColumnStore = new ColumnStore(Array.empty)
    pump("query") {
      case ('T', p) =>
        cols = parseRowDescription(p)
        store = new ColumnStore(cols)
      case ('D', p) => decodeRow(store, p)
      case ('C', p) =>
        results += Result(cols, store, new String(p, 0, p.length - 1, UTF_8))
        cols = Array.empty
        store = new ColumnStore(Array.empty)
      case ('I', _) =>
        results += Result(Array.empty, new ColumnStore(Array.empty), "EMPTY")
    }
    results.toSeq
  }

  /** `COPY … FROM STDIN` (text format) over the simple protocol —
    * the bulk write path (r17 verdict #4: the rendered-literal batch
    * paid ~17 s to load 600k rows; COPY streams them in one command).
    * `rows` yields COPY-text-rendered lines WITHOUT the trailing
    * newline (tab-separated cells, `\N` nulls, backslash escapes —
    * [[MiniPgCopy.copyCell]] renders them). Rows are packed into
    * ~64 KiB CopyData messages. One implicit transaction: any bad row
    * aborts the whole COPY (the server replies ErrorResponse after
    * CopyDone; we drain to ReadyForQuery and throw). Returns the row
    * count from the server's `COPY n` command tag.
    */
  def copyIn(sql: String, rows: Iterator[String]): Long = synchronized {
    if (!open) throw new SQLException("connection is closed")
    send('Q'.toByte, cstr(sql))
    pump("copy-start", stop = "G",
        hint = " — copyIn requires a COPY … FROM STDIN statement") {
      case ('G', _) => () // CopyInResponse
    }
    val chunk = new java.io.ByteArrayOutputStream(1 << 16)
    def flushChunk(): Unit = if (chunk.size() > 0) {
      send('d'.toByte, chunk.toByteArray, flushNow = false)
      chunk.reset()
    }
    while (rows.hasNext) {
      chunk.write(rows.next().getBytes(UTF_8))
      chunk.write('\n')
      if (chunk.size() >= (1 << 16) - 4096) flushChunk()
    }
    flushChunk()
    send('c'.toByte, Array.empty) // CopyDone
    var tag = ""
    pump("copy-end") {
      case ('C', p) => tag = new String(p, 0, p.length - 1, UTF_8)
    }
    tag.split(' ') match {
      case Array("COPY", n) => n.toLong
      case _ => throw new SQLException(s"unexpected COPY tag '$tag'")
    }
  }

  private def parseRowDescription(payload: Array[Byte]): Array[Col] = {
    val n = be16(payload, 0)
    val cs = new Array[Col](n)
    var off = 2
    var c = 0
    while (c < n) {
      val end = payload.indexOf(0.toByte, off)
      val name = new String(payload, off, end - off, UTF_8)
      off = end + 1
      val oid = be32(payload, off + 6)
      val typmod = be32(payload, off + 12)
      off += 18
      cs(c) = Col(name, oid, typmod)
      c += 1
    }
    cs
  }

  private def i16bytes(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  /** Run ONE statement over the EXTENDED protocol with per-column
    * result formats — BINARY for [[MiniPgWire.BinaryOids]], text for
    * everything else. Two phases on the wire: Parse+Describe+Flush
    * learns the result shape (OIDs) so the Bind that follows can
    * request binary only where the decode is implemented and
    * value-identical; Bind+Execute+Sync then streams DataRows
    * straight into the typed [[ColumnStore]]. This is the r17 wire
    * fast path: binary int/float/date/timestamp/numeric cells skip
    * text entirely (an int8 is 8 bytes + one shift-or instead of up
    * to 20 ASCII digits through a parse loop), which is how the
    * reference's native client reads too (rust-postgres requests
    * binary format for typed reads).
    */
  def queryExtended(sql: String): Seq[Result] = synchronized {
    if (!open) throw new SQLException("connection is closed")
    // Phase 1: Parse (unnamed statement, no param types) + Describe.
    send('P'.toByte, cstr("") ++ cstr(sql) ++ i16bytes(0), flushNow = false)
    send('D'.toByte, 'S'.toByte +: cstr(""), flushNow = false)
    send('H'.toByte, Array.empty) // Flush
    var cols: Array[Col] = Array.empty
    pump("describe", stop = "Tn", syncOwed = true) {
      case ('1' | 't', _) => () // ParseComplete / ParameterDescription
      case ('T', p) => cols = parseRowDescription(p)
      case ('n', _) => () // NoData (command-only statement)
    }
    // Phase 2: Bind with per-column result formats, Execute, Sync.
    val formats: Array[Byte] =
      cols.map(c => if (BinaryOids(c.oid)) 1.toByte else 0.toByte)
    bindExecuteSync(formats)
    val store = new ColumnStore(cols, formats, serverZone)
    var tag = "SELECT"
    pump("execute") {
      case ('2', _) => () // BindComplete
      case ('D', p) => decodeRow(store, p)
      case ('C', p) => tag = new String(p, 0, p.length - 1, UTF_8)
      case ('I', _) => tag = "EMPTY"
    }
    Seq(Result(cols, store, tag))
  }

  /** The result columns of `sql` from one Parse + Describe + Sync: the
    * statement is planned, never executed.
    */
  def describe(sql: String): Array[Col] = synchronized {
    if (!open) throw new SQLException("connection is closed")
    send('P'.toByte, cstr("") ++ cstr(sql) ++ i16bytes(0), flushNow = false)
    send('D'.toByte, 'S'.toByte +: cstr(""), flushNow = false)
    send('S'.toByte, Array.empty)
    var cols: Array[Col] = Array.empty
    pump("describe") {
      case ('1' | 't', _) => () // ParseComplete / ParameterDescription
      case ('T', p) => cols = parseRowDescription(p)
      case ('n', _) => () // NoData (command-only statement)
    }
    cols
  }

  /** Starts `sql` over the extended protocol — Parse, Bind with result
    * `formats` per column, Execute without a row limit, Sync, in one
    * flush — and leaves its reply to [[readRows]]. The server streams
    * the rows; TCP backpressure holds it while the reader is busy.
    */
  def execute(sql: String, formats: Array[Byte]): Unit = synchronized {
    if (!open) throw new SQLException("connection is closed")
    send('P'.toByte, cstr("") ++ cstr(sql) ++ i16bytes(0), flushNow = false)
    bindExecuteSync(formats)
  }

  /** Bind the unnamed statement with result `formats`, Execute it
    * without a row limit, Sync.
    */
  private def bindExecuteSync(formats: Array[Byte]): Unit = {
    val bind = new ArrayBuffer[Byte]()
    bind ++= cstr("") // portal
    bind ++= cstr("") // statement
    bind ++= i16bytes(0) // no param format codes
    bind ++= i16bytes(0) // no params
    bind ++= i16bytes(formats.length)
    formats.foreach(f => bind ++= i16bytes(f.toInt))
    send('B'.toByte, bind.toArray, flushNow = false)
    send('E'.toByte, cstr("") ++ Array[Byte](0, 0, 0, 0), flushNow = false)
    send('S'.toByte, Array.empty)
  }

  /** Hands the DataRows of the statement [[execute]] started to `rows`
    * until it asks to stop or the statement ends. Returns true once
    * the statement has ended and the wire is ready for the next one;
    * a server error is thrown then.
    */
  def readRows(rows: RowSink): Boolean = synchronized {
    if (!open) throw new SQLException("connection is closed")
    pump("execute", rows = rows) {
      case ('1' | '2', _) => () // ParseComplete / BindComplete
      case ('C' | 'I', _) => () // CommandComplete / EmptyQueryResponse
    }
  }

  def close(): Unit = synchronized {
    if (open) {
      open = false
      try { send('X'.toByte, Array.empty) } catch { case _: Exception => () }
      try socket.close() catch { case _: Exception => () }
    }
  }

  def isOpen: Boolean = open
}

/** COPY-text rendering + INSERT→COPY rewrite for the bulk write path
  * (r17 verdict #4: the rendered-literal batch paid ~17 s to load the
  * 600k-row probe corpus; COPY is PG's bulk-load protocol). PG COPY
  * text format: tab-delimited cells, `\N` for NULL, backslash escapes
  * for the four characters structural to the format (backslash, tab,
  * newline, carriage return) — everything else passes raw.
  */
object MiniPgCopy {

  /** Escape one non-null string cell for COPY text format. */
  def copyEscape(s: String): String = {
    var i = 0
    var needs = false
    while (i < s.length && !needs) {
      val c = s.charAt(i)
      needs = c == '\\' || c == '\t' || c == '\n' || c == '\r'
      i += 1
    }
    if (!needs) s
    else {
      val sb = new java.lang.StringBuilder(s.length + 8)
      i = 0
      while (i < s.length) {
        s.charAt(i) match {
          case '\\' => sb.append("\\\\")
          case '\t' => sb.append("\\t")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case c => sb.append(c): Unit
        }
        i += 1
      }
      sb.toString
    }
  }

  private val InsertRe =
    ("""(?is)\s*INSERT\s+INTO\s+([^()?;]+?)\s*(\([^()?;]*\))?""" +
      """\s*VALUES\s*\(\s*\?(?:\s*,\s*\?)*\s*\)\s*;?\s*""").r.pattern

  /** `INSERT INTO t [(cols)] VALUES (?,…)` → `COPY t [(cols)] FROM
    * STDIN` — exactly the statement shape Spark's JDBC writer
    * generates. Anything else (expressions among the VALUES,
    * multi-row VALUES, ON CONFLICT, quoted identifiers containing
    * parentheses, …) returns None and the batch keeps the
    * literal-render path — the safe direction.
    */
  def insertToCopy(sql: String): Option[String] = {
    val m = InsertRe.matcher(sql)
    if (!m.matches()) None
    else {
      val table = m.group(1).trim
      val cols = Option(m.group(2)).map(" " + _).getOrElse("")
      Some(s"COPY $table$cols FROM STDIN")
    }
  }
}

/** Reflective JDBC faces over [[MiniPgWire]]. Each java.sql interface
  * is served by a [[Proxy]] whose handler implements the methods
  * Spark's JDBC source calls; anything else throws a NAMED
  * [[SQLFeatureNotSupportedException]] so a widened calling surface
  * fails loudly instead of silently misbehaving.
  */
object MiniPgJdbc {

  private def unsupported(m: Method): Nothing =
    throw new SQLFeatureNotSupportedException(
      s"MiniPgDriver does not implement ${m.getDeclaringClass.getSimpleName}.${m.getName}")

  private def proxy[T](iface: Class[T])(
      pf: PartialFunction[(String, Array[AnyRef]), AnyRef]): T =
    Proxy.newProxyInstance(iface.getClassLoader, Array(iface),
      new InvocationHandler {
        override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
          val a = if (args == null) Array.empty[AnyRef] else args
          val key = (m.getName, a)
          m.getName match {
            case "toString" if !pf.isDefinedAt(key) => s"MiniPg(${iface.getSimpleName})"
            case "hashCode" if !pf.isDefinedAt(key) => Integer.valueOf(System.identityHashCode(p))
            case "equals" if !pf.isDefinedAt(key) => java.lang.Boolean.valueOf(p eq a(0))
            case _ => if (pf.isDefinedAt(key)) pf(key) else unsupported(m)
          }
        }
      }).asInstanceOf[T]

  private val B = java.lang.Boolean.valueOf(_: Boolean)
  private val I = Integer.valueOf(_: Int)

  // ---- statements ----

  /** Rows-affected count from a command tag ('INSERT 0 5' → 5). */
  def updateCountOf(tag: String): Int = {
    val parts = tag.split(' ')
    parts.lastOption.flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(0)
  }

  /** Split a SQL text into segments around top-level '?' parameter
    * markers (quote-aware: markers inside single-quoted literals or
    * double-quoted identifiers are text, not parameters).
    */
  def splitParams(sql: String): Array[String] = {
    val segs = ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inS = false
    var inD = false
    var i = 0
    while (i < sql.length) {
      val ch = sql.charAt(i)
      if (ch == '\'' && !inD) inS = !inS
      else if (ch == '"' && !inS) inD = !inD
      if (ch == '?' && !inS && !inD) { segs += cur.toString; cur.clear() }
      else cur.append(ch)
      i += 1
    }
    segs += cur.toString
    segs.toArray
  }

  // ---- connection ----

  /** The JDBC connection over a wire `open` starts on the first call
    * that needs the server: statements, transaction control and
    * `isValid`. `getMetaData`, `close` and `isClosed` answer without
    * one, so a caller that only reads metadata (Spark's
    * `JDBCDatabaseMetadata` in every JDBC scan) costs the server no
    * backend.
    */
  def connection(open: () => MiniPgWire, url: String, user: String): java.sql.Connection = {
    var closed = false
    var opened = false
    lazy val wire = {
      if (closed) throw new SQLException("connection is closed", "08003")
      // Through the proxy a raw socket error would surface as
      // UndeclaredThrowableException; JDBC callers catch SQLException.
      val w = try open() catch {
        case e: SQLException => throw e
        case NonFatal(e) => throw new SQLException(s"connection failed: $e", "08001", e)
      }
      opened = true
      w
    }
    // Real transaction demarcation (r18, part of the COPY write
    // path): autoCommit=false opens an explicit BEGIN so Spark's
    // savePartition commits a partition's worth of COPY batches as
    // ONE transaction (one fsync) instead of one implicit commit per
    // executeBatch — the difference between ~600 WAL flushes and one
    // on the 600k-row probe load. commit/rollback immediately reopen
    // the next transaction, mirroring JDBC's txn-chaining contract;
    // an idle trailing BEGIN is discarded by the server at
    // disconnect.
    var autoCommit = true
    lazy val self: java.sql.Connection = proxy(classOf[java.sql.Connection]) {
      case ("prepareStatement", a) =>
        new MiniPgPreparedStatement(wire, self, Some(a(0).asInstanceOf[String]))
      case ("createStatement", _) => new MiniPgPreparedStatement(wire, self, None)
      case ("getMetaData", _) => dbMeta(url, user)
      case ("close", _) =>
        // Mid-transaction disconnect rolls back server-side.
        if (!closed) { closed = true; if (opened) wire.close() }; null
      case ("isClosed", _) => B(closed || (opened && !wire.isOpen))
      case ("isValid", _) =>
        B(!closed && (try wire.isOpen catch { case _: SQLException => false }))
      case ("setAutoCommit", a) =>
        val v = a(0).asInstanceOf[java.lang.Boolean].booleanValue
        if (autoCommit && !v) wire.query("BEGIN"): Unit
        else if (!autoCommit && v) wire.query("COMMIT"): Unit
        autoCommit = v
        null
      case ("getAutoCommit", _) => B(autoCommit)
      case ("commit", _) =>
        if (!autoCommit) wire.query("COMMIT; BEGIN"): Unit
        null
      case ("rollback", _) =>
        if (!autoCommit) wire.query("ROLLBACK; BEGIN"): Unit
        null
      case ("setTransactionIsolation", _) => null
      case ("getTransactionIsolation", _) =>
        I(java.sql.Connection.TRANSACTION_READ_COMMITTED)
      case ("setReadOnly", _) => null
      case ("isReadOnly", _) => B(false)
      case ("getCatalog", _) => null
      case ("setCatalog", _) => null
      case ("getSchema", _) => "public"
      case ("getWarnings", _) => null
      case ("clearWarnings", _) => null
      case ("nativeSQL", a) => a(0)
    }
    self
  }

  private def dbMeta(url: String, user: String): java.sql.DatabaseMetaData =
    proxy(classOf[java.sql.DatabaseMetaData]) {
      // Transactions ARE supported (r18): savePartition wraps each
      // partition's COPY batches in one BEGIN…COMMIT — see
      // connection()'s autoCommit handling.
      case ("supportsTransactions", _) => B(true)
      case ("supportsDataManipulationTransactionsOnly", _) => B(false)
      case ("supportsDataDefinitionAndDataManipulationTransactions", _) => B(true)
      case ("getDefaultTransactionIsolation", _) =>
        I(java.sql.Connection.TRANSACTION_READ_COMMITTED)
      // PG accepts all four standard levels (READ UNCOMMITTED
      // executes as READ COMMITTED), like pgjdbc reports.
      case ("supportsTransactionIsolationLevel", a) =>
        B(a(0).asInstanceOf[Integer].intValue !=
          java.sql.Connection.TRANSACTION_NONE)
      case ("getDatabaseProductName", _) => "PostgreSQL"
      case ("getDatabaseProductVersion", _) => "15"
      case ("getDatabaseMajorVersion", _) => I(15)
      case ("getDatabaseMinorVersion", _) => I(0)
      case ("getDriverName", _) => "graft-minipg"
      case ("getDriverVersion", _) => "0.1"
      case ("getDriverMajorVersion", _) => I(0)
      case ("getDriverMinorVersion", _) => I(1)
      case ("getJDBCMajorVersion", _) => I(4)
      case ("getJDBCMinorVersion", _) => I(2)
      case ("getURL", _) => url
      case ("getUserName", _) => user
      case ("getIdentifierQuoteString", _) => "\""
      case ("storesMixedCaseIdentifiers", _) => B(false)
      case ("storesLowerCaseIdentifiers", _) => B(true)
      case ("storesUpperCaseIdentifiers", _) => B(false)
      case ("supportsMixedCaseIdentifiers", _) => B(false)
      case ("getSQLKeywords", _) => ""
      case ("getExtraNameCharacters", _) => ""
      case ("getMaxColumnNameLength", _) => I(63)
    }
}

/** The java.sql.Driver face. Registered with [[java.sql.DriverManager]]
  * both via `META-INF/services/java.sql.Driver` (classpath discovery)
  * and the idempotent [[MiniPgDriver.ensureRegistered]]. Steps aside
  * if a real pgjdbc is on the classpath — this driver exists for the
  * sandbox, not to shadow the real one.
  */
class MiniPgDriver extends java.sql.Driver {
  MiniPgDriver.ensureRegistered()

  override def acceptsURL(url: String): Boolean = MiniPgDriver.accepts(url)

  override def connect(url: String, info: Properties): java.sql.Connection =
    if (!acceptsURL(url)) null
    else MiniPgJdbc.connection(() => MiniPgDriver.openWire(url, info), url,
      MiniPgDriver.user(url, info))

  override def getMajorVersion: Int = 0
  override def getMinorVersion: Int = 1
  override def jdbcCompliant(): Boolean = false
  override def getPropertyInfo(url: String, info: Properties): Array[java.sql.DriverPropertyInfo] =
    Array.empty
  override def getParentLogger: java.util.logging.Logger =
    throw new SQLFeatureNotSupportedException("getParentLogger")
}

object MiniPgDriver {
  lazy val pgjdbcPresent: Boolean =
    try { Class.forName("org.postgresql.Driver"); true }
    catch { case _: ClassNotFoundException => false }

  private val registered = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** The URLs this driver serves: `jdbc:postgresql:` while no pgjdbc is
    * on the classpath.
    */
  def accepts(url: String): Boolean =
    url != null && url.startsWith("jdbc:postgresql:") && !pgjdbcPresent

  /** A connection property: `info` first, then the URL's parameters. */
  private def property(url: String, info: Properties, k: String): Option[String] =
    Option(if (info == null) null else info.getProperty(k))
      .orElse(parseUrl(url)._4.get(k))

  def user(url: String, info: Properties): String =
    property(url, info, "user").getOrElse("postgres")

  /** A started wire session for `url` (host, port, database, and the
    * `user`, `password`, `socketTimeout` and `binaryTransfer` params).
    */
  def openWire(url: String, info: Properties): MiniPgWire = {
    val (host, port, db, _) = parseUrl(url)
    def opt(k: String) = property(url, info, k)
    new MiniPgWire(host, port, db, user(url, info), opt("password"),
      opt("socketTimeout").map(_.toInt).getOrElse(MiniPgWire.DefaultSocketTimeoutSec),
      opt("binaryTransfer").forall(_.toBoolean))
  }

  /** Idempotent DriverManager registration. */
  def ensureRegistered(): Unit =
    if (registered.compareAndSet(false, true)) {
      java.sql.DriverManager.registerDriver(new MiniPgDriver)
    }

  /** `jdbc:postgresql://host[:port]/db[?k=v&…]` (pgjdbc URL shape). */
  def parseUrl(url: String): (String, Int, String, Map[String, String]) = {
    val u = new java.net.URI(url.stripPrefix("jdbc:"))
    // URI.getHost is null for authorities it cannot parse (e.g. a
    // hostname with an underscore) — failing loudly beats silently
    // connecting to localhost instead of the intended server (r16
    // ADVICE). A genuinely authority-less URL (jdbc:postgresql:db)
    // still defaults to localhost, like pgjdbc.
    if (u.getRawAuthority != null && u.getRawAuthority.nonEmpty &&
        u.getHost == null)
      throw new SQLException(
        s"cannot parse host from JDBC URL authority '${u.getRawAuthority}'")
    val host = Option(u.getHost).getOrElse("localhost")
    val port = if (u.getPort > 0) u.getPort else 5432
    val db = Option(u.getPath).map(_.stripPrefix("/")).filter(_.nonEmpty)
      .getOrElse("postgres")
    val params = Option(u.getQuery).map(_.split('&').toSeq).getOrElse(Seq.empty)
      .flatMap { kv =>
        kv.split('=') match {
          case Array(k, v) => Some(k -> v)
          case _ => None
        }
      }.toMap
    (host, port, db, params)
  }
}

