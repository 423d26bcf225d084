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

import MiniPgWire.{Col, ColumnStore, Result, be32}

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
    * when a column has a type this read cannot hold in a column vector
    * (the caller then keeps the JDBC reader).
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
        val rowless = new MiniPgResultSet(Result(cols, new ColumnStore(cols), "SELECT"))
        (cols, JdbcUtils.getSchema(conn, rowless, dialect, true, jdbc.preferTimestampNTZ))
      } finally wire.close()
    if (!schema.forall(f => Cells.holds(f.dataType))) None
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
  * buffers. Each cell goes through its column's [[Cells]] decoder, or,
  * for the types without one, into a side [[ColumnStore]] that Spark's
  * JDBC getters read once the batch is full. The wire closes when the
  * reader does, or at once on a failure.
  */
final class MiniPgPartitionReader(wire: MiniPgWire, stmt: String,
    dialect: JdbcDialect, cols: Array[Col], schema: StructType)
    extends PartitionReader[ColumnarBatch] with MiniPgWire.RowSink {

  private val fields = schema.fields
  private val cells: Array[Cells.Cell] =
    fields.indices.map(c => Cells.direct(fields(c), cols(c), wire.binaryTransfer, dialect)).toArray
  private val sideIdx = fields.indices.filter(cells(_) == null).toArray
  private val sideAt = {
    val a = Array.fill(fields.length)(-1)
    sideIdx.zipWithIndex.foreach { case (c, j) => a(c) = j }
    a
  }
  private val sideCols = sideIdx.map(cols)
  private val side =
    if (sideIdx.isEmpty) null
    else new ColumnStore(sideCols,
      sideCols.map(c => Cells.jdbcFormat(c, wire.binaryTransfer)), wire.zone)
  private val sideSchema = StructType(sideIdx.map(fields))
  private val formats: Array[Byte] = fields.indices.map { c =>
    if (cells(c) != null) cells(c).format else Cells.jdbcFormat(cols(c), wire.binaryTransfer)
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
      if (!started) { wire.execute(stmt, formats); started = true }
      vectors.foreach(_.reset())
      if (side != null) side.clear()
      n = 0
      ended = wire.readRows(this)
      if (side != null) fromSide()
      batch.setNumRows(n)
      rows += n
      if (n > 0) batches += 1
      n > 0
    } catch { case t: Throwable => close(); throw t }

  override def row(p: Array[Byte], len: Int): Boolean = {
    MiniPgWire.checkCells(p, width)
    var off = 2
    var c = 0
    while (c < fields.length) {
      val l = be32(p, off)
      off += 4
      if (l > len - off) throw MiniPgWire.malformed(s"cell of $l bytes past its DataRow")
      val cell = cells(c)
      if (cell == null) side.put(sideAt(c), p, off, l)
      else if (l < 0) vectors(c).putNull(n)
      else cell.put(vectors(c), n, p, off, l)
      if (l > 0) off += l
      c += 1
    }
    if (side != null) side.rowDone()
    n += 1
    n == MiniPgScan.BatchRows
  }

  /** The side columns through Spark's JDBC getters, into their vectors. */
  private def fromSide(): Unit = {
    val it = GraftSqlBridge.jdbcRows(
      new MiniPgResultSet(Result(sideCols, side, "SELECT")), dialect, sideSchema)
    var r = 0
    while (it.hasNext) {
      val row = it.next()
      var j = 0
      while (j < sideIdx.length) {
        Cells.copy(row, j, sideSchema.fields(j).dataType, vectors(sideIdx(j)), r)
        j += 1
      }
      r += 1
    }
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

/** Per-column decoders from wire cells to column vectors. */
private[jdbc] object Cells {
  import ColumnStore._

  abstract class Cell(val format: Byte) {
    /** Writes non-null cell `p(off until off + len)` to row `r` of `v`. */
    def put(v: WritableColumnVector, r: Int, p: Array[Byte], off: Int, len: Int): Unit
  }

  /** The format the JDBC path requests for `col` (see queryExtended). */
  def jdbcFormat(col: Col, binaryTransfer: Boolean): Byte =
    if (binaryTransfer && MiniPgWire.BinaryOids(col.oid)) 1 else 0

  /** Types [[copy]] writes, and so the types this read holds. */
  def holds(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType |
        DoubleType | DateType | TimestampType | TimestampNTZType | BinaryType |
        _: StringType | _: DecimalType => true
    case _ => false
  }

  /** One value of a JDBC getter row into row `r` of `v`. */
  def copy(row: InternalRow, j: Int, dt: DataType, v: WritableColumnVector, r: Int): Unit =
    if (row.isNullAt(j)) v.putNull(r)
    else dt match {
      case BooleanType => v.putBoolean(r, row.getBoolean(j))
      case ByteType => v.putByte(r, row.getByte(j))
      case ShortType => v.putShort(r, row.getShort(j))
      case IntegerType | DateType => v.putInt(r, row.getInt(j))
      case LongType | TimestampType | TimestampNTZType => v.putLong(r, row.getLong(j))
      case FloatType => v.putFloat(r, row.getFloat(j))
      case DoubleType => v.putDouble(r, row.getDouble(j))
      case BinaryType => v.putByteArray(r, row.getBinary(j))
      case d: DecimalType => v.putDecimal(r, row.getDecimal(j, d.precision, d.scale), d.precision)
      case _ => v.putByteArray(r, row.getUTF8String(j).getBytes)
    }

  private val PgEpochMicros = PgEpochSec * 1000000L
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
    * direct decoders assume (an aggregated dialect delegates to the
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

  /** A direct decoder for `f` from `col`, or null where the cell goes
    * through the JDBC getter. Each decoder yields the value Spark's
    * JDBC getter gives for the same cell through [[MiniPgResultSet]].
    */
  def direct(f: StructField, col: Col, binaryTransfer: Boolean, dialect: JdbcDialect): Cell = {
    val bin = jdbcFormat(col, binaryTransfer) == 1
    val fmt: Byte = if (bin) 1 else 0
    lazy val times = defaultTimes(dialect)
    (col.oid, f.dataType) match {
      case (16, BooleanType) => new Cell(fmt) {
        def put(v: WritableColumnVector, r: Int, p: Array[Byte], off: Int, len: Int): Unit =
          v.putBoolean(r, if (bin) binaryBool(p, off) else p(off) == 't')
      }
      case (20 | 21 | 23, t @ (ByteType | ShortType | IntegerType | LongType)) => new Cell(fmt) {
        def put(v: WritableColumnVector, r: Int, p: Array[Byte], off: Int, len: Int): Unit = {
          val x = if (bin) binaryIntegral(p, off, len) else parseLongCell(p, off, len)
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
          v.putFloat(r, if (bin) binaryFloat4(p, off) else parseDoubleCell(p, off, len).toFloat)
      }
      case (701, DoubleType) => new Cell(fmt) {
        def put(v: WritableColumnVector, r: Int, p: Array[Byte], off: Int, len: Int): Unit =
          v.putDouble(r, if (bin) binaryFloat8(p, off) else parseDoubleCell(p, off, len))
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
          else v.putByteArray(r, MiniPgWire.parseByteaHex(new String(p, off, len, UTF_8)))
      }
      case (2950, _: StringType) => new Cell(fmt) {
        def put(v: WritableColumnVector, r: Int, p: Array[Byte], off: Int, len: Int): Unit =
          if (bin) v.putByteArray(r, decodeUuidBinary(p, off).getBytes(US_ASCII))
          else v.putByteArray(r, p, off, len)
      }
      case (oid, _: StringType) if !MiniPgWire.BinaryOids(oid) => new Cell(0) {
        def put(v: WritableColumnVector, r: Int, p: Array[Byte], off: Int, len: Int): Unit =
          v.putByteArray(r, p, off, len)
      }
      case (1082, DateType) if bin && times => new Cell(1) {
        def put(v: WritableColumnVector, r: Int, p: Array[Byte], off: Int, len: Int): Unit = {
          val day = binaryDate(p, off)
          v.putInt(r, if (plainDay(day)) day.toInt
            else DateTimeUtils.fromJavaDate(
              dialect.convertJavaDateToDate(MiniPgResultSet.dateOf(day))))
        }
      }
      case (1184, TimestampType) if bin && times => new Cell(1) {
        def put(v: WritableColumnVector, r: Int, p: Array[Byte], off: Int, len: Int): Unit = {
          val us = binaryMicros(p, off)
          v.putLong(r, if (plainMicros(us)) us + PgEpochMicros
            else DateTimeUtils.fromJavaTimestamp(dialect.convertJavaTimestampToTimestamp(
              MiniPgResultSet.timestampOf(KindTstz, us))))
        }
      }
      // JDBC reads the wall clock as a Timestamp in the JVM zone and
      // back as a wall clock in UTC: the identity only in a UTC JVM.
      case (1114, TimestampNTZType) if bin && times && utcJvm => new Cell(1) {
        def put(v: WritableColumnVector, r: Int, p: Array[Byte], off: Int, len: Int): Unit = {
          val us = binaryMicros(p, off)
          v.putLong(r, if (plainMicros(us)) us + PgEpochMicros
            else DateTimeUtils.localDateTimeToMicros(dialect.convertJavaTimestampToTimestampNTZ(
              MiniPgResultSet.timestampOf(KindTs, us))))
        }
      }
      case _ => null
    }
  }

  /** A numeric cell as [[ColumnStore]] holds it: a BigDecimal, or the
    * text of NaN/±Infinity.
    */
  private def numeric(bin: Boolean, p: Array[Byte], off: Int, len: Int): AnyRef =
    if (bin) decodeNumericBinary(p, off) else new String(p, off, len, UTF_8)
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
