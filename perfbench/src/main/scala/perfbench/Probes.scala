package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.{Flaco, ParityOptions}
import graft.jdbc.{MiniPgCopy, MiniPgResultSet, MiniPgWire}
import graft.sinks.FeatherSink
import graft.types.PgTypeMap

/** Per-layer probes of a traced run. Each calls one module's public
  * functions from outside on the workload's own tables, repeats it and
  * keeps the median; figures are summed over the workload's tables.
  */
object Probes {
  private val Reps = 3

  private def secs(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def med(body: => Unit): Double = Stats.median((1 to Reps).map(_ => secs(body)))

  /** Touch every decoded cell through its typed vector, so decode cannot
    * be skipped lazily; returns a checksum.
    */
  def touch(res: MiniPgWire.Result): Long = {
    import MiniPgWire.ColumnStore._
    val store = res.data
    var acc = 0L
    var c = 0
    while (c < res.cols.length) {
      val k = store.kind(c)
      var r = 0
      while (r < store.size) {
        if (!store.nulls(c).get(r)) {
          acc ^= (k match {
            case KindLong | KindBool | KindDate | KindTs | KindTstz => store.kindLong(c)(r)
            case KindDouble => java.lang.Double.doubleToLongBits(store.kindDouble(c)(r))
            case KindDecimal | KindBytes => store.kindObj(c)(r).hashCode().toLong
            case _ => store.text(c, r).length.toLong
          }) * (r + 1)
        }
        r += 1
      }
      c += 1
    }
    acc
  }

  /** Walk a result set through the getters Spark's JDBC reader calls for
    * each column type.
    */
  def walkGetters(res: MiniPgWire.Result, schema: StructType): Long = {
    val rs = new MiniPgResultSet(res)
    val types = schema.fields.map(_.dataType)
    var acc = 0L
    while (rs.next()) {
      var i = 1
      while (i <= types.length) {
        acc += (types(i - 1) match {
          case IntegerType => rs.getInt(i).toLong
          case ShortType => rs.getShort(i).toLong
          case LongType => rs.getLong(i)
          case DoubleType => rs.getDouble(i).toLong
          case FloatType => rs.getFloat(i).toLong
          case BooleanType => if (rs.getBoolean(i)) 1L else 0L
          case BinaryType => Option(rs.getBytes(i)).map(_.length.toLong).getOrElse(0L)
          case DateType => Option(rs.getDate(i)).map(_.getTime).getOrElse(0L)
          case TimestampType | TimestampNTZType =>
            Option(rs.getTimestamp(i)).map(_.getTime).getOrElse(0L)
          case _ => Option(rs.getString(i)).map(_.length.toLong).getOrElse(0L)
        })
        if (rs.wasNull()) acc += 1
        i += 1
      }
    }
    acc
  }

  private def sizeOf(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(sizeOf).sum).getOrElse(0L)
    else f.length()

  def run(spark: SparkSession, args: Main.Args, tables: Seq[Table], loadPath: String,
      work: File, openWire: Boolean => MiniPgWire): Seq[(String, (Double, String))] = {
    def wire[T](binary: Boolean)(f: MiniPgWire => T): T = {
      val w = openWire(binary)
      try f(w) finally w.close()
    }
    var sink = 0L
    def keep(x: Long): Unit = sink ^= x

    // jdbc: wire read + decode into the columnar store, binary and text.
    val decodeBin = tables.map(t => med(wire(binary = true) { w =>
      keep(touch(w.queryExtended(s"select * from ${t.name}").head)) })).sum
    val decodeText = tables.map(t => med(wire(binary = false) { w =>
      keep(touch(w.query(s"select * from ${t.name}").head)) })).sum
    val getters = tables.map { t =>
      val res = wire(binary = true)(_.queryExtended(s"select * from ${t.name}").head)
      med(keep(walkGetters(res, t.schema)))
    }.sum
    val connects = (1 to 10).map(_ => secs(wire(binary = true)(_ => ())))

    // jdbc: COPY of the pre-rendered load source.
    val copyRows: Array[String] = spark.read.parquet(loadPath).collect().map { r =>
      (0 until r.length).map { i =>
        if (r.isNullAt(i)) "\\N" else MiniPgCopy.copyEscape(r.get(i).toString)
      }.mkString("\t")
    }
    val copyIn = Stats.median((1 to Reps).map { _ =>
      wire(binary = true)(_.query("TRUNCATE load_target"))
      secs(wire(binary = true) { w =>
        val n = w.copyIn("COPY load_target FROM STDIN", copyRows.iterator)
        require(n == copyRows.length, s"COPY loaded $n of ${copyRows.length} rows")
      })
    })

    // types + Flaco front door.
    val rawFrames = tables.map(t => spark.read.format("jdbc")
      .options(Flaco.jdbcOptions(args.pgUrl, s"select * from ${t.name}")).load())
    val applyParity = rawFrames.map(df => med(PgTypeMap.applyParity(df, ParityOptions()))).sum
    val resolve = tables.map(t =>
      med(Flaco.readSqlToDataFrame(spark, args.pgUrl, s"select * from ${t.name}"))).sum
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val scan = tables.map(t =>
      med(noop(Flaco.readSqlToDataFrame(spark, args.pgUrl, s"select * from ${t.name}")))).sum
    val scan2 = tables.map(t => med(noop(Flaco.readSqlToDataFrame(spark, args.pgUrl,
      s"select * from ${t.name}", partitionColumn = Some((t.partCol, t.lo, t.hi + 1, 2)))))).sum

    // sinks, on rows staged and cached locally so PostgreSQL is not in the path.
    var pq, fe, ar = 0.0
    var pqBytes, feBytes, arBytes = 0L
    for (t <- tables) {
      val staged = Flaco.readSqlToDataFrame(spark, args.pgUrl, s"select * from ${t.name}").cache()
      staged.count()
      val pqDir = new File(work, s"probe-pq-${t.name}")
      val feDir = new File(work, s"probe-fe-${t.name}")
      pq += med(Flaco.writeParquet(staged, pqDir.getPath))
      fe += med(FeatherSink.write(staged, feDir.getPath))
      var bytes: Array[Byte] = null
      ar += med { bytes = Flaco.collectAsArrowStream(staged) }
      pqBytes += sizeOf(pqDir); feBytes += sizeOf(feDir); arBytes += bytes.length
      staged.unpersist(blocking = true)
    }
    if (sink == 42L) System.err.println("") // keeps the checksums alive

    val rows = tables.map(_.serverRows).sum.toDouble
    Seq(
      "jdbc.wire_decode_s" -> (decodeBin, "s"),
      "jdbc.wire_decode_text_s" -> (decodeText, "s"),
      "jdbc.rowset_getters_s" -> (getters, "s"),
      "jdbc.rows" -> (rows, "rows"),
      "jdbc.connect_ms" -> (Stats.median(connects) * 1000, "ms"),
      "jdbc.copy_in_s" -> (copyIn, "s"),
      "types.apply_parity_ms" -> (applyParity * 1000, "ms"),
      "flaco.resolve_ms" -> (resolve * 1000, "ms"),
      "flaco.scan_s" -> (scan, "s"),
      "flaco.scan_2part_s" -> (scan2, "s"),
      "sinks.parquet_write_s" -> (pq, "s"),
      "sinks.feather_write_s" -> (fe, "s"),
      "sinks.arrow_stream_s" -> (ar, "s"),
      "sinks.parquet_bytes" -> (pqBytes.toDouble, "bytes"),
      "sinks.feather_bytes" -> (feBytes.toDouble, "bytes"),
      "sinks.arrow_stream_bytes" -> (arBytes.toDouble, "bytes"))
  }
}
