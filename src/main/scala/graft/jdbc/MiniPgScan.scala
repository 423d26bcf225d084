package graft.jdbc

import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.jdbc.{JDBCOptions, JDBCPartition, JdbcUtils}
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

import MiniPgWire.Col

/** A DataSource V2 read of one statement on a MiniPg-served PostgreSQL:
  * each task's wire rows decode straight into the vectors of a
  * [[ColumnarBatch]], the way the reference decodes each wire value
  * into an Arrow builder (reference `src/lib.rs:188-195`), instead of
  * walking a JDBC `ResultSet` row by row.
  *
  * It keeps the plan contract of Spark's JDBC reader by running that
  * reader's own code: the same options ([[graft.Flaco.jdbcOptions]]),
  * the schema from `JdbcUtils.getSchema` with the registered dialect,
  * the partition predicates of `JDBCRelation.columnPartition`, and the
  * statement text of the dialect's `JdbcSQLQueryBuilder` with the
  * required columns and the predicates the dialect compiles. The
  * schema comes from one Parse + Describe; nothing runs until a task
  * does.
  */
object MiniPgScan {

  /** Rows per batch: the Arrow sink's batch size. */
  val BatchRows: Int = graft.sinks.FeatherSink.BatchRows

  /** The read Spark's JDBC reader would make with `options`, or None
    * when a column has no [[Cells]] decoder: the caller then keeps the
    * JDBC reader for the whole statement.
    */
  def read(spark: SparkSession, options: Map[String, String]): Option[DataFrame] = {
    val jdbc = new JDBCOptions(options)
    val dialect = JdbcDialects.get(jdbc.url)
    val props = jdbc.asConnectionProperties
    val wire = MiniPgDriver.openWire(jdbc.url, props)
    val (cols, schema) =
      try {
        val cols = wire.describe(dialect.getSchemaQuery(jdbc.tableOrQuery))
        val conn = MiniPgJdbc.connection(() => wire, jdbc.url, MiniPgDriver.user(jdbc.url, props))
        (cols, JdbcUtils.getSchema(conn, MiniPgResultSet.describing(cols), dialect, true,
          jdbc.preferTimestampNTZ))
      } finally wire.close()
    if (schema.fields.indices.exists(c =>
        Cells.decoder(schema(c), cols(c), wire.binaryTransfer, dialect).isEmpty)) None
    else {
      val parts = GraftSqlBridge.jdbcPartitions(spark, schema, jdbc).map(_.whereClause)
      Some(GraftSqlBridge.dataFrame(spark,
        new MiniPgTable(jdbc, props, dialect, cols, schema, parts)))
    }
  }
}

private[jdbc] final class MiniPgTable(val jdbc: JDBCOptions, val props: Properties,
    val dialect: JdbcDialect, val cols: Array[Col], tableSchema: StructType,
    val partitionWheres: Array[String]) extends Table with SupportsRead {
  override def name(): String = jdbc.tableOrQuery
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MiniPgScanBuilder(this)
}

private[jdbc] final class MiniPgScanBuilder(t: MiniPgTable) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownV2Filters {
  private var required = t.schema()
  private var pushed = Array.empty[Predicate]

  override def pruneColumns(s: StructType): Unit = required = s

  /** Pushes what the dialect compiles, as the JDBC reader does; the
    * rest Spark evaluates after the scan.
    */
  override def pushPredicates(ps: Array[Predicate]): Array[Predicate] =
    if (!t.jdbc.pushDownPredicate) ps
    else {
      val (ok, rest) = ps.partition(p => t.dialect.compileExpression(p).isDefined)
      pushed = ok
      rest
    }
  override def pushedPredicates(): Array[Predicate] = pushed

  override def build(): Scan = {
    val names = t.schema().fieldNames
    val cols = required.fieldNames.map(n => t.cols(names.indexOf(n)))
    val quoted = required.fieldNames.map(t.dialect.quoteIdentifier)
    val stmts = t.partitionWheres.zipWithIndex.map { case (w, i) =>
      t.dialect.getJdbcSQLQueryBuilder(t.jdbc).withColumns(quoted)
        .withPredicates(pushed, JDBCPartition(w, i)).build()
    }
    new MiniPgBatchScan(t, required, cols, stmts)
  }
}

private[jdbc] final case class MiniPgPartition(stmt: String) extends InputPartition

private[jdbc] final class MiniPgBatchScan(t: MiniPgTable, required: StructType,
    cols: Array[Col], stmts: Array[String]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"MiniPgScan ${t.jdbc.tableOrQuery} ${stmts.mkString("[", "; ", "]")}"
  override def planInputPartitions(): Array[InputPartition] =
    stmts.map(MiniPgPartition(_): InputPartition)
  override def createReaderFactory(): PartitionReaderFactory =
    new MiniPgReaderFactory(t.jdbc.url, t.props, t.dialect, cols, required)
  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new MiniPgRowsMetric, new MiniPgBatchesMetric, new MiniPgWireBytesMetric)
}

private[jdbc] final class MiniPgReaderFactory(url: String, props: Properties,
    dialect: JdbcDialect, cols: Array[Col], schema: StructType)
    extends PartitionReaderFactory {
  override def supportColumnarReads(p: InputPartition): Boolean = true
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("MiniPgScan reads columnar batches only")
  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
    new MiniPgPartitionReader(MiniPgDriver.openWire(url, props),
      p.asInstanceOf[MiniPgPartition].stmt, dialect, cols, schema)
}

/** Reads one statement on its own `wire`, [[MiniPgScan.BatchRows]] rows
  * a batch into reused vectors: a task holds one batch plus the socket
  * buffers. Each cell goes through its column's [[Cells]] decoder. The
  * wire closes when the reader does, or at once on a failure.
  */
final class MiniPgPartitionReader(wire: MiniPgWire, stmt: String,
    dialect: JdbcDialect, cols: Array[Col], schema: StructType)
    extends PartitionReader[ColumnarBatch] with MiniPgWire.RowSink {

  private val fields = schema.fields
  private val cells: Array[Cells.Cell] = fields.indices.map { c =>
    Cells.decoder(fields(c), cols(c), wire.binaryTransfer, dialect).getOrElse(
      throw new IllegalArgumentException(s"no column decoder for ${fields(c)} from ${cols(c)}"))
  }.toArray
  /** Cells per DataRow: an empty column list is sent as `SELECT 1`. */
  private val width = math.max(1, fields.length)

  private val vectors: Array[WritableColumnVector] =
    OnHeapColumnVector.allocateColumns(MiniPgScan.BatchRows, schema)
      .map(v => v: WritableColumnVector)
  private val batch = new ColumnarBatch(vectors.map(v => v: ColumnVector))
  private var n = 0
  private var started = false
  private var ended = false
  private var closed = false
  private var rows = 0L
  private var batches = 0L

  override def next(): Boolean =
    if (ended) false
    else try {
      if (!started) { wire.execute(stmt, cells.map(_.format)); started = true }
      vectors.foreach(_.reset())
      n = 0
      ended = wire.readRows(this)
      batch.setNumRows(n)
      rows += n
      if (n > 0) batches += 1
      n > 0
    } catch { case t: Throwable => close(); throw t }

  override def row(p: Array[Byte], len: Int): Boolean = {
    MiniPgWire.checkCells(p, len, width)
    var off = 2
    var c = 0
    while (c < fields.length) {
      val l = MiniPgWire.cellLen(p, len, off)
      off += 4
      if (l < 0) vectors(c).putNull(n)
      else cells(c).put(vectors(c), n, p, off, l)
      if (l > 0) off += l
      c += 1
    }
    n += 1
    n == MiniPgScan.BatchRows
  }

  override def get(): ColumnarBatch = batch

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    Array("rows" -> rows, "batches" -> batches, "wireBytes" -> wire.bytesRead).map {
      case (n, v) => new CustomTaskMetric {
        override def name(): String = n
        override def value(): Long = v
      }: CustomTaskMetric
    }

  override def close(): Unit = if (!closed) {
    closed = true
    wire.close()
    batch.close()
  }
}

/** Per-column decoders from wire cells to column vectors, and the
  * binary cell decoders only they use. A binary decoder reads by its
  * type's width, so it first checks that the cell is that wide: past
  * the cell lie the next cell's bytes, or stale ones of an earlier row.
  */
private[graft] object Cells {
  import MiniPgWire._

  abstract class Cell(val format: Byte) {
    /** Writes non-null cell `p(off until off + len)` to row `r` of `v`. */
    def put(v: WritableColumnVector, r: Int, p: Array[Byte], off: Int, len: Int): Unit
  }

  /** OIDs the scan reads in BINARY result format when the wire's
    * `binaryTransfer` is on (everything else stays text, chosen per
    * column in the Bind message): the types whose binary decode is
    * cheaper than the text parse and reads as the same value through
    * Spark's JDBC getters. Absent: time/timetz/interval/json/jsonb,
    * whose text is already the contract the dialect parities pin.
    */
  val BinaryOids: Set[Int] =
    Set(16, 17, 20, 21, 23, 700, 701, 1082, 1114, 1184, 1700, 2950)

  /** PG epoch (2000-01-01) as a Unix epoch-day / epoch-second. */
  val PgEpochDay = 10957L
  val PgEpochSec = 946684800L
  private val PgEpochMicros = PgEpochSec * 1000000L

  /** PG's binary ±infinity timestamp sentinels (Long.MAX/MIN µs). */
  val TsPosInfinity: Long = Long.MaxValue
  val TsNegInfinity: Long = Long.MinValue
  /** Binary ±infinity date sentinels (Int.MAX/MIN days), shifted to
    * epoch days like every other date cell.
    */
  val DatePosInfinity: Long = Int.MaxValue.toLong + PgEpochDay
  val DateNegInfinity: Long = Int.MinValue.toLong + PgEpochDay

  /** Throws unless a binary cell of `len` bytes is the `width` its value takes. */
  private def fixed(len: Int, width: Int): Unit =
    if (len != width) throw malformed(s"binary cell of $len bytes for a $width-byte value")

  /** Binary int2/int4/int8, by the column's `oid` (21/23/20). */
  def binaryIntegral(oid: Int, p: Array[Byte], off: Int, len: Int): Long = oid match {
    case 21 => fixed(len, 2); be16(p, off).toShort.toLong
    case 23 => fixed(len, 4); be32(p, off).toLong
    case _ => fixed(len, 8); be64(p, off)
  }
  def binaryFloat4(p: Array[Byte], off: Int, len: Int): Float = {
    fixed(len, 4); java.lang.Float.intBitsToFloat(be32(p, off))
  }
  def binaryFloat8(p: Array[Byte], off: Int, len: Int): Double = {
    fixed(len, 8); java.lang.Double.longBitsToDouble(be64(p, off))
  }
  def binaryBool(p: Array[Byte], off: Int, len: Int): Boolean = { fixed(len, 1); p(off) == 1 }
  /** Binary date → epoch day (the ±infinity sentinels shifted alike). */
  def binaryDate(p: Array[Byte], off: Int, len: Int): Long = {
    fixed(len, 4); be32(p, off) + PgEpochDay
  }
  /** Binary timestamp/timestamptz: µs since the PG epoch, raw. */
  def binaryMicros(p: Array[Byte], off: Int, len: Int): Long = { fixed(len, 8); be64(p, off) }

  /** Binary `numeric` → BigDecimal (NaN/±Infinity → their text
    * forms, which the text path reads): ndigits base-10000 groups, a
    * group-aligned weight and a display scale. The unscaled integer is
    * the digit groups read as one base-10000 number shifted to the
    * dscale grid — exact by construction (value × 10^dscale is
    * integral whenever dscale covers the fractional groups, which PG
    * guarantees).
    */
  def decodeNumericBinary(p: Array[Byte], off: Int, len: Int): AnyRef = {
    if (len < 8) fixed(len, 8)
    val ndigits = be16(p, off)
    fixed(len, 8 + 2 * ndigits)
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
  def decodeUuidBinary(p: Array[Byte], off: Int, len: Int): String = {
    fixed(len, 16)
    new java.util.UUID(be64(p, off), be64(p, off + 8)).toString
  }

  /** µs since the PG epoch → wall-clock LocalDateTime (the binary
    * `timestamp` payload; the zone it is read in is the caller's).
    */
  def microsToLocalDateTime(us: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(us, 1000000L) + PgEpochSec,
      (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)

  /** µs since the PG epoch (as an instant) → java.sql.Timestamp (the
    * binary `timestamptz` payload).
    */
  def microsToTimestamptz(us: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L) + PgEpochSec,
      Math.floorMod(us, 1000000L) * 1000L))

  /** A binary date cell (epoch day) as the JDBC getter of its text
    * would read it; PG's ±infinity map to pgjdbc's convention, a Date
    * at Long.MAX/MIN ms.
    */
  def dateOf(epochDay: Long): java.sql.Date = epochDay match {
    case DatePosInfinity => new java.sql.Date(Long.MaxValue)
    case DateNegInfinity => new java.sql.Date(Long.MinValue)
    case d => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d))
  }

  /** A binary timestamp (`oid` 1114: wall-clock µs, read back with the
    * text path's Timestamp.valueOf semantics in the JVM zone) or
    * timestamptz (1184: an instant) cell; PG's ±infinity map to
    * pgjdbc's convention, a Timestamp at Long.MAX/MIN ms.
    */
  def timestampOf(oid: Int, us: Long): java.sql.Timestamp = us match {
    case TsPosInfinity => new java.sql.Timestamp(Long.MaxValue)
    case TsNegInfinity => new java.sql.Timestamp(Long.MinValue)
    case _ if oid == 1114 => java.sql.Timestamp.valueOf(microsToLocalDateTime(us))
    case _ => microsToTimestamptz(us)
  }

  /** Epoch days in which a date or timestamp reads through JDBC as its
    * own value: after the Julian→Gregorian rebase window and inside the
    * range JDBC's conversions hold. Outside it a cell takes the getter's
    * own conversion.
    */
  private val FirstDay = java.time.LocalDate.of(1583, 1, 1).toEpochDay
  private val LastDay = java.time.LocalDate.of(9999, 12, 31).toEpochDay
  private def plainDay(day: Long): Boolean = day >= FirstDay && day <= LastDay
  private def plainMicros(us: Long): Boolean = {
    val day = Math.floorDiv(us + PgEpochMicros, 86400000000L)
    day >= FirstDay && day <= LastDay
  }

  private def utcJvm: Boolean = {
    val rules = java.util.TimeZone.getDefault.toZoneId.getRules
    rules.isFixedOffset && rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds == 0
  }

  /** The dialect keeps JDBC's default date/time conversions, which the
    * identity shortcuts assume (an aggregated dialect delegates to the
    * first of the registered ones, FlacoPostgresDialect in practice).
    */
  private def defaultTimes(d: JdbcDialect): Boolean =
    Seq("convertJavaDateToDate" -> classOf[java.sql.Date],
      "convertJavaTimestampToTimestamp" -> classOf[java.sql.Timestamp],
      "convertJavaTimestampToTimestampNTZ" -> classOf[java.sql.Timestamp]).forall {
      case (m, arg) =>
        val owner = d.getClass.getMethod(m, arg).getDeclaringClass
        owner == classOf[JdbcDialect] ||
          owner.getName == "org.apache.spark.sql.jdbc.AggregatedDialect"
    }

  private def text(p: Array[Byte], off: Int, len: Int): String = new String(p, off, len, UTF_8)

  /** The decoder for `f` from `col`, or None when there is none (the
    * statement then belongs to Spark's JDBC reader). Each decoder yields
    * the value Spark's JDBC getter gives for the text of the same value
    * through [[MiniPgResultSet]]: a date or time cell takes the helper
    * that getter calls (or, in binary, its epoch-day/µs twin above) and
    * the dialect's conversion, which a binary cell skips where it is the
    * identity (JDBC's default conversions, a date in the plain range
    * and, for a wall-clock timestamp, a UTC JVM).
    */
  def decoder(f: StructField, col: Col, binaryTransfer: Boolean,
      dialect: JdbcDialect): Option[Cell] = {
    val bin = binaryTransfer && BinaryOids(col.oid)
    val fmt: Byte = if (bin) 1 else 0
    val times = defaultTimes(dialect)
    def jdbcDate(d: java.sql.Date): Int =
      DateTimeUtils.fromJavaDate(dialect.convertJavaDateToDate(d))
    def jdbcTimestamp(t: DataType, ts: java.sql.Timestamp): Long =
      if (t == TimestampNTZType)
        DateTimeUtils.localDateTimeToMicros(dialect.convertJavaTimestampToTimestampNTZ(ts))
      else DateTimeUtils.fromJavaTimestamp(dialect.convertJavaTimestampToTimestamp(ts))
    Option((col.oid, f.dataType) match {
      case (16, BooleanType) => new Cell(fmt) {
        def put(v: WritableColumnVector, r: Int, p: Array[Byte], off: Int, len: Int): Unit =
          v.putBoolean(r, if (bin) binaryBool(p, off, len) else parseBoolCell(p, off, len))
      }
      case (20 | 21 | 23, t @ (ByteType | ShortType | IntegerType | LongType)) => new Cell(fmt) {
        def put(v: WritableColumnVector, r: Int, p: Array[Byte], off: Int, len: Int): Unit = {
          val x = if (bin) binaryIntegral(col.oid, p, off, len) else parseLongCell(p, off, len)
          t match {
            case LongType => v.putLong(r, x)
            case IntegerType => v.putInt(r, x.toInt)
            case ShortType => v.putShort(r, x.toShort)
            case _ => v.putByte(r, x.toByte)
          }
        }
      }
      case (700, FloatType) => new Cell(fmt) {
        def put(v: WritableColumnVector, r: Int, p: Array[Byte], off: Int, len: Int): Unit =
          v.putFloat(r,
            if (bin) binaryFloat4(p, off, len) else parseDoubleCell(p, off, len).toFloat)
      }
      case (701, DoubleType) => new Cell(fmt) {
        def put(v: WritableColumnVector, r: Int, p: Array[Byte], off: Int, len: Int): Unit =
          v.putDouble(r, if (bin) binaryFloat8(p, off, len) else parseDoubleCell(p, off, len))
      }
      case (1700, DoubleType) => new Cell(fmt) {
        def put(v: WritableColumnVector, r: Int, p: Array[Byte], off: Int, len: Int): Unit =
          v.putDouble(r, numeric(bin, p, off, len) match {
            case bd: java.math.BigDecimal => bd.doubleValue
            case s => s.asInstanceOf[String].toDouble
          })
      }
      case (1700, d: DecimalType) => new Cell(fmt) {
        def put(v: WritableColumnVector, r: Int, p: Array[Byte], off: Int, len: Int): Unit = {
          val bd = numeric(bin, p, off, len) match {
            case bd: java.math.BigDecimal => bd
            // NaN throws here, as it does in getBigDecimal.
            case s => new java.math.BigDecimal(s.asInstanceOf[String])
          }
          v.putDecimal(r, Decimal(bd, d.precision, d.scale), d.precision)
        }
      }
      case (17, BinaryType) => new Cell(fmt) {
        def put(v: WritableColumnVector, r: Int, p: Array[Byte], off: Int, len: Int): Unit =
          if (bin) v.putByteArray(r, p, off, len)
          else v.putByteArray(r, parseByteaHex(text(p, off, len)))
      }
      case (2950, _: StringType) => new Cell(fmt) {
        def put(v: WritableColumnVector, r: Int, p: Array[Byte], off: Int, len: Int): Unit =
          if (bin) v.putByteArray(r, decodeUuidBinary(p, off, len).getBytes(US_ASCII))
          else v.putByteArray(r, p, off, len)
      }
      case (oid, _: StringType) if !BinaryOids(oid) => new Cell(0) {
        def put(v: WritableColumnVector, r: Int, p: Array[Byte], off: Int, len: Int): Unit =
          v.putByteArray(r, p, off, len)
      }
      case (1082, DateType) => new Cell(fmt) {
        def put(v: WritableColumnVector, r: Int, p: Array[Byte], off: Int, len: Int): Unit =
          v.putInt(r, if (!bin) jdbcDate(MiniPgResultSet.dateOf(text(p, off, len)))
            else {
              val day = binaryDate(p, off, len)
              if (times && plainDay(day)) day.toInt else jdbcDate(dateOf(day))
            })
      }
      case (1114 | 1184, t @ (TimestampType | TimestampNTZType)) => new Cell(fmt) {
        // JDBC reads a wall clock (1114) as a Timestamp in the JVM zone,
        // and a Timestamp back as a wall clock in UTC: the identity for
        // an instant read as an instant, otherwise only in a UTC JVM.
        private val same = times && ((col.oid == 1184 && t == TimestampType) || utcJvm)
        def put(v: WritableColumnVector, r: Int, p: Array[Byte], off: Int, len: Int): Unit =
          v.putLong(r,
            if (!bin) jdbcTimestamp(t, MiniPgResultSet.timestampOf(col.oid, text(p, off, len)))
            else {
              val us = binaryMicros(p, off, len)
              if (same && plainMicros(us)) us + PgEpochMicros
              else jdbcTimestamp(t, timestampOf(col.oid, us))
            })
      }
      // Spark's getter for a TIME column: rs.getTime, whole ms, as µs.
      case (1083 | 1266, TimestampType) if f.metadata.contains("logical_time_type") =>
        new Cell(fmt) {
          def put(v: WritableColumnVector, r: Int, p: Array[Byte], off: Int, len: Int): Unit =
            v.putLong(r, Math.multiplyExact(
              MiniPgResultSet.timeOf(col.oid, text(p, off, len)).getTime, 1000L))
        }
      case _ => null
    })
  }

  /** A numeric cell as [[MiniPgResultSet]] serves it: a BigDecimal, or
    * the text of NaN/±Infinity.
    */
  private def numeric(bin: Boolean, p: Array[Byte], off: Int, len: Int): AnyRef =
    if (bin) decodeNumericBinary(p, off, len) else text(p, off, len)
}

/** Rows a scan read. */
final class MiniPgRowsMetric extends CustomSumMetric {
  override def name(): String = "rows"
  override def description(): String = "rows read"
}

/** Column batches a scan returned. */
final class MiniPgBatchesMetric extends CustomSumMetric {
  override def name(): String = "batches"
  override def description(): String = "column batches"
}

/** Bytes a scan received on its wires, message headers included. */
final class MiniPgWireBytesMetric extends CustomSumMetric {
  override def name(): String = "wireBytes"
  override def description(): String = "wire bytes received"
}
