package graft.jdbc

import java.sql.SQLFeatureNotSupportedException
import java.time.{LocalDate, LocalDateTime}

import MiniPgWire.{Col, ColumnStore, parseByteaHex, parseDateFast, parseTimestampNtz, parseTimestamptz}

/** Concrete (non-reflective) ResultSet over a [[MiniPgWire.ColumnStore]].
  * Spark's JDBC reader calls a getter per cell, so the getters are
  * plain virtual calls over per-column typed vectors the wire layer
  * decoded once by OID, with no reflective dispatch and no per-cell
  * String for int, float and bool columns. Every cell arrives in text,
  * so this decode shares nothing with [[MiniPgScan]]'s binary one and
  * can check it. Everything Spark's JDBC source does not call throws
  * the same NAMED SQLFeatureNotSupportedException contract as the
  * proxy faces.
  */
final class MiniPgResultSet(res: MiniPgWire.Result) extends java.sql.ResultSet {
  private[this] val store: ColumnStore = res.data
  private[this] val nRows = store.size
  private[this] var cursor = -1
  private[this] var nullFlag = false
  private[this] var closed = false

  private def nope(m: String): Nothing =
    throw new SQLFeatureNotSupportedException(
      s"MiniPgDriver does not implement ResultSet.$m")

  private def col(i: Int): Col = res.cols(i - 1)

  /** Null-tracking accessors; Spark reads by index. */
  private def isNull(i: Int): Boolean = {
    val n = store.nulls(i - 1).get(cursor)
    nullFlag = n
    n
  }
  private def longAt(i: Int): Long =
    if (isNull(i)) 0L else store.kindLong(i - 1)(cursor)
  private def dblAt(i: Int): Double =
    if (isNull(i)) 0.0 else store.kindDouble(i - 1)(cursor)
  private def strAt(i: Int): String =
    if (isNull(i)) null else store.text(i - 1, cursor)

  override def next(): Boolean = { cursor += 1; cursor < nRows }
  override def close(): Unit = closed = true
  override def isClosed(): Boolean = closed
  override def wasNull(): Boolean = nullFlag
  override def findColumn(label: String): Int = {
    var i = 0
    while (i < res.cols.length) {
      if (res.cols(i).name == label) return i + 1
      i += 1
    }
    throw new java.sql.SQLException(s"no such column: $label")
  }

  override def getMetaData(): java.sql.ResultSetMetaData =
    new MiniPgResultSetMetaData(res.cols)

  override def getString(i: Int): String = strAt(i)
  override def getString(l: String): String = getString(findColumn(l))
  override def getLong(i: Int): Long = store.kind(i - 1) match {
    case ColumnStore.KindLong | ColumnStore.KindBool => longAt(i)
    case ColumnStore.KindDouble => dblAt(i).toLong
    case _ => val v = strAt(i); if (v == null) 0L else v.toLong
  }
  override def getLong(l: String): Long = getLong(findColumn(l))
  override def getInt(i: Int): Int = getLong(i).toInt
  override def getInt(l: String): Int = getInt(findColumn(l))
  override def getShort(i: Int): Short = getLong(i).toShort
  override def getShort(l: String): Short = getShort(findColumn(l))
  override def getByte(i: Int): Byte = getLong(i).toByte
  override def getByte(l: String): Byte = getByte(findColumn(l))
  override def getDouble(i: Int): Double = store.kind(i - 1) match {
    case ColumnStore.KindDouble => dblAt(i)
    case ColumnStore.KindLong | ColumnStore.KindBool => longAt(i).toDouble
    case _ => val v = strAt(i); if (v == null) 0.0 else v.toDouble
  }
  override def getDouble(l: String): Double = getDouble(findColumn(l))
  override def getFloat(i: Int): Float = getDouble(i).toFloat
  override def getFloat(l: String): Float = getFloat(findColumn(l))
  override def getBoolean(i: Int): Boolean = store.kind(i - 1) match {
    case ColumnStore.KindBool | ColumnStore.KindLong => longAt(i) != 0L
    case _ => val v = strAt(i); v == "t" || v == "true"
  }
  override def getBoolean(l: String): Boolean = getBoolean(findColumn(l))
  override def getBigDecimal(i: Int): java.math.BigDecimal = {
    val v = strAt(i)
    if (v == null) null else new java.math.BigDecimal(v) // throws on NaN
  }
  override def getBigDecimal(l: String): java.math.BigDecimal =
    getBigDecimal(findColumn(l))
  override def getBytes(i: Int): Array[Byte] = {
    val v = strAt(i)
    if (v == null) null else parseByteaHex(v)
  }
  override def getBytes(l: String): Array[Byte] = getBytes(findColumn(l))
  override def getDate(i: Int): java.sql.Date = {
    val v = strAt(i)
    if (v == null) null else MiniPgResultSet.dateOf(v)
  }
  override def getDate(l: String): java.sql.Date = getDate(findColumn(l))
  override def getTimestamp(i: Int): java.sql.Timestamp = {
    val v = strAt(i)
    if (v == null) null else MiniPgResultSet.timestampOf(col(i).oid, v)
  }
  override def getTimestamp(l: String): java.sql.Timestamp =
    getTimestamp(findColumn(l))
  override def getTime(i: Int): java.sql.Time = {
    val v = strAt(i)
    if (v == null) null else MiniPgResultSet.timeOf(col(i).oid, v)
  }
  override def getTime(l: String): java.sql.Time = getTime(findColumn(l))
  override def getObject[T](i: Int, cls: Class[T]): T = {
    val v = strAt(i)
    val out: AnyRef =
      if (v == null) null
      else if (cls == classOf[LocalDateTime]) parseTimestampNtz(v)
      else if (cls == classOf[LocalDate]) parseDateFast(v)
      else nope(s"getObject(${cls.getName})")
    out.asInstanceOf[T]
  }
  override def getObject[T](l: String, cls: Class[T]): T =
    getObject(findColumn(l), cls)
  override def setFetchSize(n: Int): Unit = ()
  override def getFetchSize(): Int = 0
  override def getWarnings(): java.sql.SQLWarning = null
  override def clearWarnings(): Unit = ()
  override def getHoldability(): Int =
    java.sql.ResultSet.CLOSE_CURSORS_AT_COMMIT
  override def getType(): Int = java.sql.ResultSet.TYPE_FORWARD_ONLY

  override def absolute(p0: Int): Boolean = nope("absolute")
  override def afterLast(): Unit = nope("afterLast")
  override def beforeFirst(): Unit = nope("beforeFirst")
  override def cancelRowUpdates(): Unit = nope("cancelRowUpdates")
  override def deleteRow(): Unit = nope("deleteRow")
  override def first(): Boolean = nope("first")
  override def getArray(p0: Int): java.sql.Array = nope("getArray")
  override def getArray(p0: java.lang.String): java.sql.Array = nope("getArray")
  override def getAsciiStream(p0: Int): java.io.InputStream = nope("getAsciiStream")
  override def getAsciiStream(p0: java.lang.String): java.io.InputStream = nope("getAsciiStream")
  override def getBigDecimal(p0: Int, p1: Int): java.math.BigDecimal = nope("getBigDecimal")
  override def getBigDecimal(p0: java.lang.String, p1: Int): java.math.BigDecimal = nope("getBigDecimal")
  override def getBinaryStream(p0: Int): java.io.InputStream = nope("getBinaryStream")
  override def getBinaryStream(p0: java.lang.String): java.io.InputStream = nope("getBinaryStream")
  override def getBlob(p0: Int): java.sql.Blob = nope("getBlob")
  override def getBlob(p0: java.lang.String): java.sql.Blob = nope("getBlob")
  override def getCharacterStream(p0: Int): java.io.Reader = nope("getCharacterStream")
  override def getCharacterStream(p0: java.lang.String): java.io.Reader = nope("getCharacterStream")
  override def getClob(p0: Int): java.sql.Clob = nope("getClob")
  override def getClob(p0: java.lang.String): java.sql.Clob = nope("getClob")
  override def getConcurrency(): Int = nope("getConcurrency")
  override def getCursorName(): java.lang.String = nope("getCursorName")
  override def getDate(p0: Int, p1: java.util.Calendar): java.sql.Date = nope("getDate")
  override def getDate(p0: java.lang.String, p1: java.util.Calendar): java.sql.Date = nope("getDate")
  override def getFetchDirection(): Int = nope("getFetchDirection")
  override def getNCharacterStream(p0: Int): java.io.Reader = nope("getNCharacterStream")
  override def getNCharacterStream(p0: java.lang.String): java.io.Reader = nope("getNCharacterStream")
  override def getNClob(p0: Int): java.sql.NClob = nope("getNClob")
  override def getNClob(p0: java.lang.String): java.sql.NClob = nope("getNClob")
  override def getNString(p0: Int): java.lang.String = nope("getNString")
  override def getNString(p0: java.lang.String): java.lang.String = nope("getNString")
  override def getObject(p0: Int): AnyRef = nope("getObject")
  override def getObject(p0: Int, p1: java.util.Map[java.lang.String, java.lang.Class[_]]): AnyRef = nope("getObject")
  override def getObject(p0: java.lang.String): AnyRef = nope("getObject")
  override def getObject(p0: java.lang.String, p1: java.util.Map[java.lang.String, java.lang.Class[_]]): AnyRef = nope("getObject")
  override def getRef(p0: Int): java.sql.Ref = nope("getRef")
  override def getRef(p0: java.lang.String): java.sql.Ref = nope("getRef")
  override def getRow(): Int = nope("getRow")
  override def getRowId(p0: Int): java.sql.RowId = nope("getRowId")
  override def getRowId(p0: java.lang.String): java.sql.RowId = nope("getRowId")
  override def getSQLXML(p0: Int): java.sql.SQLXML = nope("getSQLXML")
  override def getSQLXML(p0: java.lang.String): java.sql.SQLXML = nope("getSQLXML")
  override def getStatement(): java.sql.Statement = nope("getStatement")
  override def getTime(p0: Int, p1: java.util.Calendar): java.sql.Time = nope("getTime")
  override def getTime(p0: java.lang.String, p1: java.util.Calendar): java.sql.Time = nope("getTime")
  override def getTimestamp(p0: Int, p1: java.util.Calendar): java.sql.Timestamp = nope("getTimestamp")
  override def getTimestamp(p0: java.lang.String, p1: java.util.Calendar): java.sql.Timestamp = nope("getTimestamp")
  override def getURL(p0: Int): java.net.URL = nope("getURL")
  override def getURL(p0: java.lang.String): java.net.URL = nope("getURL")
  override def getUnicodeStream(p0: Int): java.io.InputStream = nope("getUnicodeStream")
  override def getUnicodeStream(p0: java.lang.String): java.io.InputStream = nope("getUnicodeStream")
  override def insertRow(): Unit = nope("insertRow")
  override def isAfterLast(): Boolean = nope("isAfterLast")
  override def isBeforeFirst(): Boolean = nope("isBeforeFirst")
  override def isFirst(): Boolean = nope("isFirst")
  override def isLast(): Boolean = nope("isLast")
  override def isWrapperFor(p0: java.lang.Class[_]): Boolean = nope("isWrapperFor")
  override def last(): Boolean = nope("last")
  override def moveToCurrentRow(): Unit = nope("moveToCurrentRow")
  override def moveToInsertRow(): Unit = nope("moveToInsertRow")
  override def previous(): Boolean = nope("previous")
  override def refreshRow(): Unit = nope("refreshRow")
  override def relative(p0: Int): Boolean = nope("relative")
  override def rowDeleted(): Boolean = nope("rowDeleted")
  override def rowInserted(): Boolean = nope("rowInserted")
  override def rowUpdated(): Boolean = nope("rowUpdated")
  override def setFetchDirection(p0: Int): Unit = nope("setFetchDirection")
  override def unwrap[T](p0: java.lang.Class[T]): T = nope("unwrap")
  override def updateArray(p0: Int, p1: java.sql.Array): Unit = nope("updateArray")
  override def updateArray(p0: java.lang.String, p1: java.sql.Array): Unit = nope("updateArray")
  override def updateAsciiStream(p0: Int, p1: java.io.InputStream): Unit = nope("updateAsciiStream")
  override def updateAsciiStream(p0: Int, p1: java.io.InputStream, p2: Int): Unit = nope("updateAsciiStream")
  override def updateAsciiStream(p0: Int, p1: java.io.InputStream, p2: Long): Unit = nope("updateAsciiStream")
  override def updateAsciiStream(p0: java.lang.String, p1: java.io.InputStream): Unit = nope("updateAsciiStream")
  override def updateAsciiStream(p0: java.lang.String, p1: java.io.InputStream, p2: Int): Unit = nope("updateAsciiStream")
  override def updateAsciiStream(p0: java.lang.String, p1: java.io.InputStream, p2: Long): Unit = nope("updateAsciiStream")
  override def updateBigDecimal(p0: Int, p1: java.math.BigDecimal): Unit = nope("updateBigDecimal")
  override def updateBigDecimal(p0: java.lang.String, p1: java.math.BigDecimal): Unit = nope("updateBigDecimal")
  override def updateBinaryStream(p0: Int, p1: java.io.InputStream): Unit = nope("updateBinaryStream")
  override def updateBinaryStream(p0: Int, p1: java.io.InputStream, p2: Int): Unit = nope("updateBinaryStream")
  override def updateBinaryStream(p0: Int, p1: java.io.InputStream, p2: Long): Unit = nope("updateBinaryStream")
  override def updateBinaryStream(p0: java.lang.String, p1: java.io.InputStream): Unit = nope("updateBinaryStream")
  override def updateBinaryStream(p0: java.lang.String, p1: java.io.InputStream, p2: Int): Unit = nope("updateBinaryStream")
  override def updateBinaryStream(p0: java.lang.String, p1: java.io.InputStream, p2: Long): Unit = nope("updateBinaryStream")
  override def updateBlob(p0: Int, p1: java.io.InputStream): Unit = nope("updateBlob")
  override def updateBlob(p0: Int, p1: java.io.InputStream, p2: Long): Unit = nope("updateBlob")
  override def updateBlob(p0: Int, p1: java.sql.Blob): Unit = nope("updateBlob")
  override def updateBlob(p0: java.lang.String, p1: java.io.InputStream): Unit = nope("updateBlob")
  override def updateBlob(p0: java.lang.String, p1: java.io.InputStream, p2: Long): Unit = nope("updateBlob")
  override def updateBlob(p0: java.lang.String, p1: java.sql.Blob): Unit = nope("updateBlob")
  override def updateBoolean(p0: Int, p1: Boolean): Unit = nope("updateBoolean")
  override def updateBoolean(p0: java.lang.String, p1: Boolean): Unit = nope("updateBoolean")
  override def updateByte(p0: Int, p1: Byte): Unit = nope("updateByte")
  override def updateByte(p0: java.lang.String, p1: Byte): Unit = nope("updateByte")
  override def updateBytes(p0: Int, p1: Array[Byte]): Unit = nope("updateBytes")
  override def updateBytes(p0: java.lang.String, p1: Array[Byte]): Unit = nope("updateBytes")
  override def updateCharacterStream(p0: Int, p1: java.io.Reader): Unit = nope("updateCharacterStream")
  override def updateCharacterStream(p0: Int, p1: java.io.Reader, p2: Int): Unit = nope("updateCharacterStream")
  override def updateCharacterStream(p0: Int, p1: java.io.Reader, p2: Long): Unit = nope("updateCharacterStream")
  override def updateCharacterStream(p0: java.lang.String, p1: java.io.Reader): Unit = nope("updateCharacterStream")
  override def updateCharacterStream(p0: java.lang.String, p1: java.io.Reader, p2: Int): Unit = nope("updateCharacterStream")
  override def updateCharacterStream(p0: java.lang.String, p1: java.io.Reader, p2: Long): Unit = nope("updateCharacterStream")
  override def updateClob(p0: Int, p1: java.io.Reader): Unit = nope("updateClob")
  override def updateClob(p0: Int, p1: java.io.Reader, p2: Long): Unit = nope("updateClob")
  override def updateClob(p0: Int, p1: java.sql.Clob): Unit = nope("updateClob")
  override def updateClob(p0: java.lang.String, p1: java.io.Reader): Unit = nope("updateClob")
  override def updateClob(p0: java.lang.String, p1: java.io.Reader, p2: Long): Unit = nope("updateClob")
  override def updateClob(p0: java.lang.String, p1: java.sql.Clob): Unit = nope("updateClob")
  override def updateDate(p0: Int, p1: java.sql.Date): Unit = nope("updateDate")
  override def updateDate(p0: java.lang.String, p1: java.sql.Date): Unit = nope("updateDate")
  override def updateDouble(p0: Int, p1: Double): Unit = nope("updateDouble")
  override def updateDouble(p0: java.lang.String, p1: Double): Unit = nope("updateDouble")
  override def updateFloat(p0: Int, p1: Float): Unit = nope("updateFloat")
  override def updateFloat(p0: java.lang.String, p1: Float): Unit = nope("updateFloat")
  override def updateInt(p0: Int, p1: Int): Unit = nope("updateInt")
  override def updateInt(p0: java.lang.String, p1: Int): Unit = nope("updateInt")
  override def updateLong(p0: Int, p1: Long): Unit = nope("updateLong")
  override def updateLong(p0: java.lang.String, p1: Long): Unit = nope("updateLong")
  override def updateNCharacterStream(p0: Int, p1: java.io.Reader): Unit = nope("updateNCharacterStream")
  override def updateNCharacterStream(p0: Int, p1: java.io.Reader, p2: Long): Unit = nope("updateNCharacterStream")
  override def updateNCharacterStream(p0: java.lang.String, p1: java.io.Reader): Unit = nope("updateNCharacterStream")
  override def updateNCharacterStream(p0: java.lang.String, p1: java.io.Reader, p2: Long): Unit = nope("updateNCharacterStream")
  override def updateNClob(p0: Int, p1: java.io.Reader): Unit = nope("updateNClob")
  override def updateNClob(p0: Int, p1: java.io.Reader, p2: Long): Unit = nope("updateNClob")
  override def updateNClob(p0: Int, p1: java.sql.NClob): Unit = nope("updateNClob")
  override def updateNClob(p0: java.lang.String, p1: java.io.Reader): Unit = nope("updateNClob")
  override def updateNClob(p0: java.lang.String, p1: java.io.Reader, p2: Long): Unit = nope("updateNClob")
  override def updateNClob(p0: java.lang.String, p1: java.sql.NClob): Unit = nope("updateNClob")
  override def updateNString(p0: Int, p1: java.lang.String): Unit = nope("updateNString")
  override def updateNString(p0: java.lang.String, p1: java.lang.String): Unit = nope("updateNString")
  override def updateNull(p0: Int): Unit = nope("updateNull")
  override def updateNull(p0: java.lang.String): Unit = nope("updateNull")
  override def updateObject(p0: Int, p1: AnyRef): Unit = nope("updateObject")
  override def updateObject(p0: Int, p1: AnyRef, p2: Int): Unit = nope("updateObject")
  override def updateObject(p0: Int, p1: AnyRef, p2: java.sql.SQLType): Unit = nope("updateObject")
  override def updateObject(p0: Int, p1: AnyRef, p2: java.sql.SQLType, p3: Int): Unit = nope("updateObject")
  override def updateObject(p0: java.lang.String, p1: AnyRef): Unit = nope("updateObject")
  override def updateObject(p0: java.lang.String, p1: AnyRef, p2: Int): Unit = nope("updateObject")
  override def updateObject(p0: java.lang.String, p1: AnyRef, p2: java.sql.SQLType): Unit = nope("updateObject")
  override def updateObject(p0: java.lang.String, p1: AnyRef, p2: java.sql.SQLType, p3: Int): Unit = nope("updateObject")
  override def updateRef(p0: Int, p1: java.sql.Ref): Unit = nope("updateRef")
  override def updateRef(p0: java.lang.String, p1: java.sql.Ref): Unit = nope("updateRef")
  override def updateRow(): Unit = nope("updateRow")
  override def updateRowId(p0: Int, p1: java.sql.RowId): Unit = nope("updateRowId")
  override def updateRowId(p0: java.lang.String, p1: java.sql.RowId): Unit = nope("updateRowId")
  override def updateSQLXML(p0: Int, p1: java.sql.SQLXML): Unit = nope("updateSQLXML")
  override def updateSQLXML(p0: java.lang.String, p1: java.sql.SQLXML): Unit = nope("updateSQLXML")
  override def updateShort(p0: Int, p1: Short): Unit = nope("updateShort")
  override def updateShort(p0: java.lang.String, p1: Short): Unit = nope("updateShort")
  override def updateString(p0: Int, p1: java.lang.String): Unit = nope("updateString")
  override def updateString(p0: java.lang.String, p1: java.lang.String): Unit = nope("updateString")
  override def updateTime(p0: Int, p1: java.sql.Time): Unit = nope("updateTime")
  override def updateTime(p0: java.lang.String, p1: java.sql.Time): Unit = nope("updateTime")
  override def updateTimestamp(p0: Int, p1: java.sql.Timestamp): Unit = nope("updateTimestamp")
  override def updateTimestamp(p0: java.lang.String, p1: java.sql.Timestamp): Unit = nope("updateTimestamp")
}

object MiniPgResultSet {

  /** A result set of `cols` and no rows: what `JdbcUtils.getSchema`
    * reads a statement's metadata from.
    */
  def describing(cols: Array[Col]): MiniPgResultSet =
    new MiniPgResultSet(MiniPgWire.Result(cols, new ColumnStore(cols), "SELECT"))

  // The values a text cell reads as through the getters; MiniPgScan's
  // decoders call the same functions where they take the getter's value.

  /** A text date cell. */
  def dateOf(text: String): java.sql.Date = java.sql.Date.valueOf(parseDateFast(text))

  /** A text timestamptz, time, timetz or (any other `oid`) timestamp
    * cell. Time and timetz follow pgjdbc's convention, a timestamp on
    * the epoch date (PgTypeMap.timeAsMicros re-derives µs since
    * midnight).
    */
  def timestampOf(oid: Int, text: String): java.sql.Timestamp = oid match {
    case 1184 => parseTimestamptz(text)
    case 1083 => java.sql.Timestamp.valueOf(parseTimestampNtz(s"1970-01-01 $text"))
    case 1266 => parseTimestamptz(s"1970-01-01 $text")
    case _ => java.sql.Timestamp.valueOf(parseTimestampNtz(text))
  }

  /** A text time (or, for `oid` 1266, timetz) cell: whole milliseconds,
    * as `java.sql.Time` holds them.
    */
  def timeOf(oid: Int, text: String): java.sql.Time =
    new java.sql.Time(timestampOf(if (oid == 1266) 1266 else 1083, text).getTime)
}

/** Concrete metadata twin of [[MiniPgResultSet]] (Spark reads it once
  * per result to build the Catalyst schema, so it is off the hot
  * path; concrete for uniformity).
  */
final class MiniPgResultSetMetaData(cols: Array[Col])
    extends java.sql.ResultSetMetaData {
  import MiniPgWire.{JdbcType, TypeName}

  private def nope(m: String): Nothing =
    throw new SQLFeatureNotSupportedException(
      s"MiniPgDriver does not implement ResultSetMetaData.$m")
  private def col(i: Int): Col = cols(i - 1)

  override def getColumnCount(): Int = cols.length
  override def getColumnLabel(i: Int): String = col(i).name
  override def getColumnName(i: Int): String = col(i).name
  override def getColumnType(i: Int): Int =
    JdbcType.getOrElse(col(i).oid, java.sql.Types.OTHER)
  override def getColumnTypeName(i: Int): String =
    TypeName.getOrElse(col(i).oid, "unknown")
  override def getPrecision(i: Int): Int = {
    val c = col(i)
    if (c.oid == 1700 && c.typmod >= 4) (c.typmod - 4) >> 16
    else if ((c.oid == 1042 || c.oid == 1043) && c.typmod >= 4) c.typmod - 4
    else 0
  }
  override def getScale(i: Int): Int = {
    val c = col(i)
    if (c.oid == 1700 && c.typmod >= 4) (c.typmod - 4) & 0xffff else 0
  }
  override def isNullable(i: Int): Int =
    java.sql.ResultSetMetaData.columnNullableUnknown
  override def isSigned(i: Int): Boolean =
    Set(20, 21, 23, 700, 701, 1700).contains(col(i).oid)
  override def getColumnDisplaySize(i: Int): Int = 0
  override def isCaseSensitive(i: Int): Boolean = true
  override def isCurrency(i: Int): Boolean = false
  override def isAutoIncrement(i: Int): Boolean = false
  override def getCatalogName(i: Int): String = ""
  override def getSchemaName(i: Int): String = ""
  override def getTableName(i: Int): String = ""
  override def getColumnClassName(i: Int): String = nope("getColumnClassName")
  override def isDefinitelyWritable(i: Int): Boolean = false
  override def isReadOnly(i: Int): Boolean = true
  override def isSearchable(i: Int): Boolean = true
  override def isWritable(i: Int): Boolean = false
  override def unwrap[T](cls: Class[T]): T = nope("unwrap")
  override def isWrapperFor(cls: Class[_]): Boolean = false
}
