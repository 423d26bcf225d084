package graft.jdbc

import java.sql.{Connection, SQLException, SQLFeatureNotSupportedException}
import java.time.{LocalDateTime, OffsetDateTime, ZoneOffset}

import scala.collection.mutable.ArrayBuffer

import MiniPgWire.quote

/** Concrete (non-reflective) PreparedStatement — the bulk-WRITE hot
  * path, the symmetric move to r17's concrete [[MiniPgResultSet]] on
  * the read side. Spark's savePartition calls one typed setter per
  * CELL plus addBatch per ROW; through the old reflective Proxy that
  * was an invoke + args-array + boxing + PartialFunction double
  * dispatch per cell (≈10M dispatches for the 600k-row probe load),
  * and every batched row ALSO rendered its full INSERT literal even
  * when executeBatch was about to ship the batch as COPY.
  *
  * Parameters are stored RAW (tag byte + primitive/object slot) and
  * rendered once per consuming path: COPY text cells at addBatch for
  * the COPY-convertible batch (the [[MiniPgCopy]] rewrite), SQL
  * literal fragments only for direct executes and non-convertible
  * batches. Everything Spark's JDBC source does not call throws the
  * same NAMED SQLFeatureNotSupportedException contract as the
  * remaining proxy faces.
  *
  * Prepared text treats every `?` outside quotes as a parameter
  * marker ([[MiniPgJdbc.splitParams]]), PostgreSQL's own `?`, `?|` and
  * `?&` jsonb operators included: a statement using them fails here
  * with "parameter 1 not bound". [[graft.Flaco.readSqlToDataFrame]]
  * sends its statement through [[MiniPgScan]] as written instead.
  */
final class MiniPgPreparedStatement(wire: MiniPgWire, conn: Connection,
    sqlOpt: Option[String]) extends java.sql.PreparedStatement {
  import MiniPgPreparedStatement._

  private[this] val segs: Array[String] =
    sqlOpt.map(MiniPgJdbc.splitParams).getOrElse(Array.empty)
  private[this] val nParams = math.max(0, segs.length - 1)
  private[this] val copyStmt: Option[String] =
    if (nParams > 0) sqlOpt.flatMap(MiniPgCopy.insertToCopy) else None

  // Raw parameter slots: tags(i) selects the render, longs/dbls hold
  // unboxed primitives, vals holds Strings (raw for TString, already
  // rendered for decimal/timestamp/date/bytea-hex/localdatetime —
  // those renders are shared verbatim by both consuming paths).
  private[this] val tags = new Array[Int](nParams)
  private[this] val longs = new Array[Long](nParams)
  private[this] val dbls = new Array[Double](nParams)
  private[this] val vals = new Array[String](nParams)

  // COPY-convertible batches accumulate rendered COPY rows; anything
  // else accumulates rendered statements for the multi-statement
  // simple query (the pre-r18 path).
  private[this] val copyRows = ArrayBuffer.empty[String]
  private[this] val textBatch = ArrayBuffer.empty[String]
  private[this] var closed = false
  private[this] var lastResult: Option[MiniPgWire.Result] = None

  private def nope(m: String): Nothing =
    throw new SQLFeatureNotSupportedException(
      s"MiniPgDriver does not implement PreparedStatement.$m")

  private def setTag(i: Int, t: Int): Unit = {
    if (i < 1 || i > nParams)
      throw new SQLException(s"parameter index $i out of range 1..$nParams")
    tags(i - 1) = t
  }

  /** SQL literal fragment for parameter slot `i` (0-based). */
  private def sqlFrag(i: Int): String = tags(i) match {
    case TNull => "NULL"
    case TLong => String.valueOf(longs(i))
    case TBool => if (longs(i) != 0L) "true" else "false"
    case TDouble => s"'${dbls(i)}'::float8"
    case TFloat => s"'${dbls(i).toFloat}'::float4"
    case TString => quote(vals(i))
    case TDecimal => vals(i)
    case TBytes => s"'\\x${vals(i)}'::bytea"
    case TTs => quote(vals(i))
    case TDate => quote(vals(i)) + "::date"
    case TLdt => quote(vals(i))
    case _ => throw new SQLException(
      s"parameter ${i + 1} not bound before execute")
  }

  /** COPY-text cell for parameter slot `i` (0-based). */
  private def copyCell(i: Int): String = tags(i) match {
    case TNull => "\\N"
    case TLong => String.valueOf(longs(i))
    case TBool => if (longs(i) != 0L) "true" else "false"
    case TDouble => String.valueOf(dbls(i))
    case TFloat => String.valueOf(dbls(i).toFloat)
    case TString => MiniPgCopy.copyEscape(vals(i))
    case TDecimal => vals(i)
    case TBytes => "\\\\x" + vals(i)
    case TTs | TDate | TLdt => vals(i)
    case _ => throw new SQLException(
      s"parameter ${i + 1} not bound before addBatch")
  }

  private def render(): String = {
    val sb = new java.lang.StringBuilder(segs(0))
    var i = 0
    while (i < nParams) {
      sb.append(sqlFrag(i))
      sb.append(segs(i + 1))
      i += 1
    }
    sb.toString
  }

  private def copyRow(): String = {
    if (nParams == 1) copyCell(0)
    else {
      val sb = new java.lang.StringBuilder(nParams * 12)
      var i = 0
      while (i < nParams) {
        if (i > 0) sb.append('\t')
        sb.append(copyCell(i))
        i += 1
      }
      sb.toString
    }
  }

  private def runQuery(q: String): java.sql.ResultSet = {
    val res =
      if (wire.binaryTransfer && MiniPgWire.singleStatement(q))
        wire.queryExtended(q)
      else wire.query(q)
    val withRows = res.find(_.cols.nonEmpty).getOrElse(res.last)
    lastResult = Some(withRows)
    new MiniPgResultSet(withRows)
  }

  // ---- PreparedStatement: executes ----

  override def executeQuery(): java.sql.ResultSet = runQuery(render())
  override def executeQuery(sql: String): java.sql.ResultSet = runQuery(sql)
  override def executeUpdate(): Int =
    MiniPgJdbc.updateCountOf(wire.query(render()).last.tag)
  override def executeUpdate(sql: String): Int =
    MiniPgJdbc.updateCountOf(wire.query(sql).last.tag)
  override def execute(): Boolean = executeText(render())
  override def execute(sql: String): Boolean = executeText(sql)
  private def executeText(q: String): Boolean = {
    val res = wire.query(q)
    lastResult = res.find(_.cols.nonEmpty)
    lastResult.isDefined
  }
  override def getResultSet(): java.sql.ResultSet =
    lastResult.map(new MiniPgResultSet(_)).orNull
  override def getUpdateCount(): Int = -1

  // ---- batching ----

  override def addBatch(): Unit =
    if (copyStmt.isDefined) copyRows += copyRow()
    else textBatch += render()
  override def addBatch(sql: String): Unit =
    if (nParams > 0 || copyRows.nonEmpty)
      // JDBC forbids addBatch(String) on a PreparedStatement.
      throw new SQLException(
        "addBatch(String) is not valid on a PreparedStatement")
    else textBatch += sql
  override def clearBatch(): Unit = {
    copyRows.clear()
    textBatch.clear()
  }

  /** ALL-OR-NOTHING batch semantics (documented contract): the batch
    * is one `COPY … FROM STDIN` (when the prepared text is the
    * Spark-writer INSERT shape — r17 verdict #4) or one
    * multi-statement simple query; either way ONE transaction scope,
    * so a failing row aborts the whole batch (the SQLException
    * propagates; there is no per-row BatchUpdateException). Spark's
    * savePartition treats any exception as a partition retry, so the
    * coarse grain is correct for the one caller this driver serves.
    * Update counts come from the server's command tags (r16 ADVICE —
    * the COPY path distributes the `COPY n` tag as n per-row 1s
    * after checking n against the batch size).
    */
  override def executeBatch(): Array[Int] =
    // Clear in finally: pgjdbc clears the batch on failure too, so a
    // caller that catches and re-executes never resends stale rows
    // (r18 ADVICE; Spark's savePartition retries with a fresh
    // statement, but the JDBC surface shouldn't depend on that).
    try {
      if (copyRows.nonEmpty) {
        val n = wire.copyIn(copyStmt.get, copyRows.iterator)
        if (n != copyRows.length)
          throw new SQLException(
            s"COPY reported $n rows for a ${copyRows.length}-row batch")
        Array.fill(copyRows.length)(1)
      } else if (textBatch.isEmpty) Array.empty[Int]
      else {
        val counts = wire.query(textBatch.mkString(";\n"))
          .map(r => MiniPgJdbc.updateCountOf(r.tag)).toArray
        if (counts.length == textBatch.length) counts
        else java.util.Arrays.copyOf(counts, textBatch.length)
      }
    } finally clearBatch()

  // ---- typed setters (Spark's makeSetter surface) ----

  override def setNull(i: Int, sqlType: Int): Unit = setTag(i, TNull)
  override def setNull(i: Int, sqlType: Int, typeName: String): Unit =
    setTag(i, TNull)
  override def setBoolean(i: Int, v: Boolean): Unit = {
    setTag(i, TBool); longs(i - 1) = if (v) 1L else 0L
  }
  override def setByte(i: Int, v: Byte): Unit = {
    setTag(i, TLong); longs(i - 1) = v.toLong
  }
  override def setShort(i: Int, v: Short): Unit = {
    setTag(i, TLong); longs(i - 1) = v.toLong
  }
  override def setInt(i: Int, v: Int): Unit = {
    setTag(i, TLong); longs(i - 1) = v.toLong
  }
  override def setLong(i: Int, v: Long): Unit = {
    setTag(i, TLong); longs(i - 1) = v
  }
  override def setFloat(i: Int, v: Float): Unit = {
    setTag(i, TFloat); dbls(i - 1) = v.toDouble
  }
  override def setDouble(i: Int, v: Double): Unit = {
    setTag(i, TDouble); dbls(i - 1) = v
  }
  override def setBigDecimal(i: Int, v: java.math.BigDecimal): Unit =
    if (v == null) setTag(i, TNull)
    else { setTag(i, TDecimal); vals(i - 1) = v.toPlainString }
  override def setString(i: Int, v: String): Unit =
    if (v == null) setTag(i, TNull)
    else { setTag(i, TString); vals(i - 1) = v }
  override def setBytes(i: Int, v: Array[Byte]): Unit =
    if (v == null) setTag(i, TNull)
    else {
      setTag(i, TBytes)
      val sb = new java.lang.StringBuilder(v.length * 2)
      var k = 0
      while (k < v.length) {
        sb.append(Character.forDigit((v(k) >> 4) & 0xf, 16))
        sb.append(Character.forDigit(v(k) & 0xf, 16))
        k += 1
      }
      vals(i - 1) = sb.toString
    }
  override def setTimestamp(i: Int, v: java.sql.Timestamp): Unit =
    if (v == null) setTag(i, TNull)
    else { setTag(i, TTs); vals(i - 1) = tsRender(v) }
  override def setDate(i: Int, v: java.sql.Date): Unit =
    if (v == null) setTag(i, TNull)
    else { setTag(i, TDate); vals(i - 1) = v.toString }
  override def setObject(i: Int, v: AnyRef): Unit = v match {
    case null => setTag(i, TNull)
    case s: String => setString(i, s)
    case n: java.math.BigDecimal => setBigDecimal(i, n)
    case n: java.lang.Number =>
      setTag(i, TDecimal); vals(i - 1) = n.toString
    case ldt: LocalDateTime =>
      setTag(i, TLdt); vals(i - 1) = ldt.toString.replace('T', ' ')
    case other => throw new SQLFeatureNotSupportedException(
      s"setObject(${other.getClass.getName})")
  }
  override def clearParameters(): Unit =
    java.util.Arrays.fill(tags, 0)

  // ---- statement plumbing Spark touches ----

  override def close(): Unit = closed = true
  override def isClosed(): Boolean = closed
  override def getConnection(): Connection = conn
  override def getWarnings(): java.sql.SQLWarning = null
  override def clearWarnings(): Unit = ()
  override def getMoreResults(): Boolean = false
  override def getMoreResults(current: Int): Boolean = false
  override def setQueryTimeout(seconds: Int): Unit = ()
  override def getQueryTimeout(): Int = 0
  override def setFetchSize(rows: Int): Unit = ()
  override def getFetchSize(): Int = 0
  override def setFetchDirection(d: Int): Unit = ()
  override def getFetchDirection(): Int = java.sql.ResultSet.FETCH_FORWARD
  override def setMaxRows(max: Int): Unit = ()
  override def getMaxRows(): Int = 0
  override def cancel(): Unit = ()
  override def getMetaData(): java.sql.ResultSetMetaData =
    null // unknown before execution; Spark tolerates

  // ---- named unsupported (same contract as the proxy faces) ----

  override def setTime(i: Int, v: java.sql.Time): Unit = nope("setTime")
  override def setTime(i: Int, v: java.sql.Time,
      cal: java.util.Calendar): Unit = nope("setTime")
  override def setDate(i: Int, v: java.sql.Date,
      cal: java.util.Calendar): Unit = nope("setDate(Calendar)")
  override def setTimestamp(i: Int, v: java.sql.Timestamp,
      cal: java.util.Calendar): Unit = nope("setTimestamp(Calendar)")
  override def setObject(i: Int, v: AnyRef, t: Int): Unit =
    nope("setObject(targetSqlType)")
  override def setObject(i: Int, v: AnyRef, t: Int, s: Int): Unit =
    nope("setObject(targetSqlType, scale)")
  override def setAsciiStream(i: Int, in: java.io.InputStream,
      len: Int): Unit = nope("setAsciiStream")
  override def setAsciiStream(i: Int, in: java.io.InputStream,
      len: Long): Unit = nope("setAsciiStream")
  override def setAsciiStream(i: Int, in: java.io.InputStream): Unit =
    nope("setAsciiStream")
  @deprecated("JDBC", "1.0")
  override def setUnicodeStream(i: Int, in: java.io.InputStream,
      len: Int): Unit = nope("setUnicodeStream")
  override def setBinaryStream(i: Int, in: java.io.InputStream,
      len: Int): Unit = nope("setBinaryStream")
  override def setBinaryStream(i: Int, in: java.io.InputStream,
      len: Long): Unit = nope("setBinaryStream")
  override def setBinaryStream(i: Int, in: java.io.InputStream): Unit =
    nope("setBinaryStream")
  override def setCharacterStream(i: Int, r: java.io.Reader,
      len: Int): Unit = nope("setCharacterStream")
  override def setCharacterStream(i: Int, r: java.io.Reader,
      len: Long): Unit = nope("setCharacterStream")
  override def setCharacterStream(i: Int, r: java.io.Reader): Unit =
    nope("setCharacterStream")
  override def setNCharacterStream(i: Int, r: java.io.Reader,
      len: Long): Unit = nope("setNCharacterStream")
  override def setNCharacterStream(i: Int, r: java.io.Reader): Unit =
    nope("setNCharacterStream")
  override def setRef(i: Int, v: java.sql.Ref): Unit = nope("setRef")
  override def setBlob(i: Int, v: java.sql.Blob): Unit = nope("setBlob")
  override def setBlob(i: Int, in: java.io.InputStream, len: Long): Unit =
    nope("setBlob")
  override def setBlob(i: Int, in: java.io.InputStream): Unit =
    nope("setBlob")
  override def setClob(i: Int, v: java.sql.Clob): Unit = nope("setClob")
  override def setClob(i: Int, r: java.io.Reader, len: Long): Unit =
    nope("setClob")
  override def setClob(i: Int, r: java.io.Reader): Unit = nope("setClob")
  override def setNClob(i: Int, v: java.sql.NClob): Unit = nope("setNClob")
  override def setNClob(i: Int, r: java.io.Reader, len: Long): Unit =
    nope("setNClob")
  override def setNClob(i: Int, r: java.io.Reader): Unit = nope("setNClob")
  override def setArray(i: Int, v: java.sql.Array): Unit = nope("setArray")
  override def setURL(i: Int, v: java.net.URL): Unit = nope("setURL")
  override def setRowId(i: Int, v: java.sql.RowId): Unit = nope("setRowId")
  override def setNString(i: Int, v: String): Unit = nope("setNString")
  override def setSQLXML(i: Int, v: java.sql.SQLXML): Unit =
    nope("setSQLXML")
  override def getParameterMetaData(): java.sql.ParameterMetaData =
    nope("getParameterMetaData")
  override def executeUpdate(sql: String, autoGen: Int): Int =
    nope("executeUpdate(autoGeneratedKeys)")
  override def executeUpdate(sql: String, cols: Array[Int]): Int =
    nope("executeUpdate(columnIndexes)")
  override def executeUpdate(sql: String, cols: Array[String]): Int =
    nope("executeUpdate(columnNames)")
  override def execute(sql: String, autoGen: Int): Boolean =
    nope("execute(autoGeneratedKeys)")
  override def execute(sql: String, cols: Array[Int]): Boolean =
    nope("execute(columnIndexes)")
  override def execute(sql: String, cols: Array[String]): Boolean =
    nope("execute(columnNames)")
  override def getGeneratedKeys(): java.sql.ResultSet =
    nope("getGeneratedKeys")
  override def getMaxFieldSize(): Int = 0
  override def setMaxFieldSize(max: Int): Unit = ()
  override def setEscapeProcessing(enable: Boolean): Unit = ()
  override def setCursorName(name: String): Unit = nope("setCursorName")
  override def getResultSetConcurrency(): Int =
    java.sql.ResultSet.CONCUR_READ_ONLY
  override def getResultSetType(): Int =
    java.sql.ResultSet.TYPE_FORWARD_ONLY
  override def getResultSetHoldability(): Int =
    java.sql.ResultSet.CLOSE_CURSORS_AT_COMMIT
  override def setPoolable(p: Boolean): Unit = ()
  override def isPoolable(): Boolean = false
  override def closeOnCompletion(): Unit = ()
  override def isCloseOnCompletion(): Boolean = false
  override def unwrap[T](iface: Class[T]): T =
    if (iface.isInstance(this)) iface.cast(this)
    else throw new SQLException(s"not a wrapper for $iface")
  override def isWrapperFor(iface: Class[_]): Boolean =
    iface.isInstance(this)
}

object MiniPgPreparedStatement {
  // Parameter tag bytes; 0 = unset.
  private final val TNull = 1
  private final val TLong = 2
  private final val TDouble = 3
  private final val TFloat = 4
  private final val TBool = 5
  private final val TString = 6
  private final val TDecimal = 7
  private final val TBytes = 8
  private final val TTs = 9
  private final val TDate = 10
  private final val TLdt = 11

  /** PG-parseable text render of a Timestamp, in the JVM DEFAULT zone
    * like pgjdbc (r16 ADVICE): for `timestamp` (no tz) PG keeps the
    * wall-clock and drops the offset, and the read path
    * (Timestamp.valueOf) re-interprets that wall-clock in the JVM
    * zone — symmetric only if the writer rendered in the same zone.
    * For `timestamptz` the explicit offset makes the instant exact
    * under any zone. Explicit HH:mm:ss — LocalTime.toString drops
    * ':00' seconds ('00:01' for one minute), which PG then
    * mis-parses. Raw (unquoted): the INSERT path quotes it, the COPY
    * path ships it as-is (no COPY-structural characters possible).
    */
  def tsRender(ts: java.sql.Timestamp): String = {
    val odt = OffsetDateTime.ofInstant(ts.toInstant,
      java.time.ZoneId.systemDefault())
    // Hand-rolled digits (equivalent to the former
    // f"%02d/%06d"-interpolated render, byte for byte): this runs
    // once per timestamp CELL on the bulk-write path, and
    // f-interpolators are String.format underneath — a format-string
    // parse per call.
    val sb = new java.lang.StringBuilder(32)
    sb.append(odt.toLocalDate.toString).append(' ')
    def two(v: Int): Unit = {
      sb.append(('0' + v / 10).toChar)
      sb.append(('0' + v % 10).toChar): Unit
    }
    two(odt.getHour); sb.append(':')
    two(odt.getMinute); sb.append(':')
    two(odt.getSecond); sb.append('.')
    var m = odt.getNano / 1000
    var div = 100000
    while (div > 0) {
      sb.append(('0' + m / div).toChar)
      m %= div
      div /= 10
    }
    val off = odt.getOffset
    sb.append(if (off == ZoneOffset.UTC) "+00" else off.getId)
    sb.toString
  }
}
