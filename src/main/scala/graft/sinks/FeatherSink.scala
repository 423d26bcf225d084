package graft.sinks

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, File, FileOutputStream}
import java.nio.channels.{Channels, WritableByteChannel}

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{VectorLoader, VectorSchemaRoot, VectorUnloader}
import org.apache.arrow.vector.ipc.{ArrowFileWriter, ArrowStreamWriter, ReadChannel, WriteChannel}
import org.apache.arrow.vector.ipc.message.MessageSerializer
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit => ArrowTimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
import org.apache.commons.io.FileUtils
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter, WholeStageCodegenExec}
import org.apache.spark.sql.execution.arrow.GraftArrowBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.FlacoSparkException

/** Feather (Arrow IPC File) sink — the Spark-native
  * `write_table_to_feather` (reference `src/lib.rs:150-168`). The
  * reference freezes the whole result into one in-memory chunk and
  * writes a single uncompressed IPC file; here we stream fixed-size
  * record batches (bounded memory — the reference's own TODO at
  * `src/lib.rs:75`) and, by default, write one IPC file per partition
  * in parallel (the 100 TB path), in one Spark job. `singleFile = true`
  * gives the reference's one-file layout by pulling one partition per
  * job through the driver, still batch-streamed.
  *
  * One encoder serves every path: the tasks fill Arrow-Java 18.3
  * vectors from InternalRows (the plan's, or row views over a columnar
  * scan's own batches) with Spark's own
  * `execution.arrow.ArrowWriter` — the writer behind Spark's Arrow
  * exchange with Python — so no row goes through an external `Row`
  * and its `java.sql`/`String` objects.
  */
object FeatherSink {

  private[graft] val BatchRows = 4096

  /** Ceiling for [[write]]'s `singleFile` parity mode. That mode
    * streams the WHOLE result through the driver by design
    * (reference-layout parity) — correct for interchange-sized
    * results, catastrophic if invoked on a corpus-sized one by
    * accident. The guard fails fast with a typed error the moment
    * the budget is crossed (bytes actually written, not an estimate
    * — plan statistics are unreliable before execution), deletes the
    * partial file, and names the per-partition mode as the scale
    * path. Override per call for bigger deliberate exports.
    */
  val DefaultSingleFileByteBudget: Long = 4L << 30

  /** Replaces whatever is at `path`, like the Parquet sink's
    * `overwrite`. Per-partition mode writes `part-NNNNN.arrow` for
    * each non-empty partition, or one schema-only file when every
    * partition is empty.
    */
  def write(df: DataFrame, path: String, singleFile: Boolean = false,
      singleFileByteBudget: Long = DefaultSingleFileByteBudget): Unit = {
    val schema = df.schema
    validate(schema)
    val target = new File(path)
    if (target.exists()) FileUtils.forceDelete(target)
    if (singleFile) {
      try writeFile(schema, path, singleFileByteBudget)(pulled(df))
      catch { case e: Throwable =>
        target.delete() // no truncated IPC file left behind
        throw e
      }
    } else {
      target.mkdirs()
      val (rdd, columnar) = source(df)
      val wrote = new Array[Boolean](rdd.getNumPartitions)
      rdd.sparkContext.runJob(rdd, WritePartition(schema, path, columnar),
        wrote.indices, (pid: Int, nonEmpty: Boolean) => wrote(pid) = nonEmpty)
      if (!wrote.contains(true))
        writeFile(schema, s"$path/part-00000.arrow")(_ => false)
    }
  }

  /** The whole result as Arrow IPC STREAM bytes — the in-memory
    * interchange contract of the reference's flagship
    * `read_sql_to_pyarrow` (reference `src/lib.rs:42-72`, which hands
    * a fully materialized table across the Arrow C Data Interface).
    * Driver-side by design: this is the "hand the result to a
    * Python/Arrow consumer" path, bounded by what one process can
    * hold — same contract and same limit as the reference; the
    * distributed paths (parquet/feather sinks, the DataFrame itself)
    * remain the 100 TB story. The tasks encode the record batches and
    * the driver pulls them one partition at a time, so peak memory is
    * one partition's encoded batches plus one 4096-row batch.
    */
  def collectAsArrowStream(df: DataFrame): Array[Byte] = {
    validate(df.schema)
    val bos = new ByteArrayOutputStream()
    writeIpc(df.schema, Channels.newChannel(bos), stream = true)(pulled(df))
    bos.toByteArray
  }

  private def validate(schema: StructType): Unit =
    schema.fields.foreach { f =>
      f.dataType match {
        case IntegerType | LongType | ShortType | ByteType | FloatType |
            DoubleType | StringType | BinaryType | BooleanType | DateType |
            TimestampType | TimestampNTZType => ()
        case _: TimeType => ()
        case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => ()
        case dt => throw new FlacoSparkException(
          s"Feather sink: type $dt (column ${f.name}) not supported")
      }
    }

  private def arrowField(f: StructField): Field = {
    def prim(t: ArrowType) =
      new Field(f.name, FieldType.nullable(t), null)
    f.dataType match {
      case IntegerType => prim(new ArrowType.Int(32, true))
      case LongType => prim(new ArrowType.Int(64, true))
      case ShortType => prim(new ArrowType.Int(16, true))
      case ByteType => prim(new ArrowType.Int(8, true))
      case FloatType => prim(new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE))
      case DoubleType => prim(new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE))
      case StringType => prim(ArrowType.Utf8.INSTANCE)
      case BinaryType => prim(ArrowType.Binary.INSTANCE)
      case BooleanType => prim(ArrowType.Bool.INSTANCE)
      case DateType => prim(new ArrowType.Date(DateUnit.DAY))
      case TimestampType =>
        prim(new ArrowType.Timestamp(ArrowTimeUnit.MICROSECOND, "UTC"))
      case TimestampNTZType =>
        prim(new ArrowType.Timestamp(ArrowTimeUnit.MICROSECOND, null))
      case _: TimeType =>
        // The reference's own TIME output shape: Time64(Microsecond)
        // (src/lib.rs:350-366). Spark TIME(p≤6) values are µs-exact.
        prim(new ArrowType.Time(ArrowTimeUnit.MICROSECOND, 64))
      case ArrayType(elem, _) =>
        val child = arrowField(StructField("item", elem))
        new Field(f.name, FieldType.nullable(ArrowType.List.INSTANCE),
          Seq(child).asJava)
      case dt => throw new FlacoSparkException(s"unsupported $dt")
    }
  }

  /** Write one IPC file at `file` from `next` (see [[writeIpc]]).
    * `byteBudget`, if finite, bounds the bytes actually written.
    */
  private def writeFile(schema: StructType, file: String,
      byteBudget: Long = Long.MaxValue)(next: BatchEncoder => Boolean): Unit = {
    val out = new FileOutputStream(file)
    try {
      if (byteBudget == Long.MaxValue)
        writeIpc(schema, out.getChannel, stream = false)(next)
      else {
        val ch = new BudgetedChannel(out.getChannel, byteBudget)
        // The trip surfaces as IOException somewhere inside the Arrow
        // writer (possibly wrapped, possibly superseded by the
        // writer's own shutdown) — the flag, not the exception type,
        // is the reliable signal to translate into the typed error.
        try writeIpc(schema, ch, stream = false)(next)
        catch { case e: Throwable =>
          if (ch.tripped) throw new FlacoSparkException(
            s"Feather singleFile output exceeded its $byteBudget-byte " +
              s"budget at $file. singleFile streams the whole result " +
              "through the driver (reference-parity layout); use the " +
              "default per-partition mode for large results, or raise " +
              "singleFileByteBudget deliberately.")
          throw e
        }
      }
    } finally out.close()
  }

  /** Counts bytes through to `inner`; crossing `budget` sets
    * [[tripped]] and refuses all further writes — fail-fast for the
    * driver-side singleFile parity path.
    */
  private final class BudgetedChannel(
      inner: WritableByteChannel, budget: Long)
      extends WritableByteChannel {
    private var written = 0L
    @volatile var tripped = false
    override def write(src: java.nio.ByteBuffer): Int = {
      if (tripped) throw new java.io.IOException("byte budget exceeded")
      val n = inner.write(src)
      written += n
      if (written > budget) {
        tripped = true
        throw new java.io.IOException("byte budget exceeded")
      }
      n
    }
    override def isOpen: Boolean = inner.isOpen
    override def close(): Unit = inner.close()
  }

  /** Write `ch` as the IPC file format (Feather) or the IPC stream
    * format (interchange), one batch per call of `next` that filled
    * the encoder's root, until a call returns false.
    */
  private def writeIpc(schema: StructType, ch: WritableByteChannel,
      stream: Boolean)(next: BatchEncoder => Boolean): Unit = {
    val enc = new BatchEncoder(schema)
    val writer = if (stream) new ArrowStreamWriter(enc.root, null, ch)
                 else new ArrowFileWriter(enc.root, null, ch)
    try {
      writer.start()
      while (next(enc)) writer.writeBatch()
      writer.end()
    } catch { case e: Throwable =>
      // writer.close() re-flushes through the (possibly tripped)
      // channel; don't let its secondary failure supersede the real
      // one or leak the root/allocator.
      try writer.close() catch { case _: Throwable => () }
      enc.close()
      throw e
    }
    writer.close(); enc.close()
  }

  /** The driver-side paths: one job per partition, in order, encodes
    * that partition into IPC record-batch messages, so the driver holds
    * one partition's batches at a time.
    */
  private def pulled(df: DataFrame): BatchEncoder => Boolean = {
    val (rdd, columnar) = source(df)
    val encode = EncodePartition(df.schema, columnar)
    val messages = Iterator.range(0, rdd.getNumPartitions).flatMap { pid =>
      var out = Array.empty[Array[Byte]]
      rdd.sparkContext.runJob(rdd, encode, Seq(pid),
        (_: Int, m: Array[Array[Byte]]) => out = m)
      out
    }
    enc => messages.hasNext && { enc.load(messages.next()); true }
  }

  /** What the tasks read: the scan's own column batches when the plan
    * only turns them into rows (a bare columnar scan such as MiniPgScan
    * or a vectorized Parquet read), else the plan's rows. Both feed the
    * same InternalRow getters, so the encoded bytes are the same.
    */
  private[sinks] def source(df: DataFrame): (RDD[AnyRef], Boolean) =
    df.queryExecution.executedPlan match {
      case WholeStageCodegenExec(ColumnarToRowExec(InputAdapter(scan))) =>
        (scan.executeColumnar().asInstanceOf[RDD[AnyRef]], true)
      case _ => (df.queryExecution.toRdd.asInstanceOf[RDD[AnyRef]], false)
    }

  private def rowsOf(it: Iterator[AnyRef], columnar: Boolean): Iterator[InternalRow] =
    if (columnar) it.flatMap(_.asInstanceOf[ColumnarBatch].rowIterator().asScala)
    else it.asInstanceOf[Iterator[InternalRow]]

  /** A task: its partition as IPC record-batch messages. The task
    * functions are named classes, not lambdas, because Spark's closure
    * cleaner returns at once for them instead of re-parsing the
    * bytecode of `RDD` and `SparkContext` on every job.
    */
  private final case class EncodePartition(schema: StructType, columnar: Boolean)
      extends ((TaskContext, Iterator[AnyRef]) => Array[Array[Byte]]) {
    def apply(ctx: TaskContext, it: Iterator[AnyRef]): Array[Array[Byte]] = {
      val rows = rowsOf(it, columnar)
      val enc = new BatchEncoder(schema)
      try Iterator.continually(enc.encode(rows)).takeWhile(_ > 0).map(_ => enc.message()).toArray
      finally enc.close()
    }
  }

  /** A task: its partition as `part-NNNNN.arrow` under `path`, unless
    * empty; whether it wrote one.
    */
  private final case class WritePartition(schema: StructType, path: String, columnar: Boolean)
      extends ((TaskContext, Iterator[AnyRef]) => Boolean) {
    def apply(ctx: TaskContext, it: Iterator[AnyRef]): Boolean = {
      val rows = rowsOf(it, columnar)
      val nonEmpty = rows.hasNext
      if (nonEmpty)
        writeFile(schema, f"$path/part-${ctx.partitionId()}%05d.arrow")(_.encode(rows) > 0)
      nonEmpty
    }
  }

  /** An Arrow root for a sink schema that Spark's ArrowWriter fills
    * from InternalRows, BatchRows rows at a time.
    */
  private final class BatchEncoder(schema: StructType) extends AutoCloseable {
    private val allocator = new RootAllocator()
    val root: VectorSchemaRoot = VectorSchemaRoot.create(
      new Schema(schema.fields.map(arrowField).toSeq.asJava), allocator)
    private val writer = GraftArrowBridge.writer(root)

    /** Fill the root with the next rows; their count, 0 once drained. */
    def encode(rows: Iterator[InternalRow]): Int = {
      writer.reset()
      var n = 0
      while (n < BatchRows && rows.hasNext) { writer.write(rows.next()); n += 1 }
      writer.finish()
      n
    }

    /** The root's batch as one IPC record-batch message. */
    def message(): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      val batch = new VectorUnloader(root).getRecordBatch
      try MessageSerializer.serialize(new WriteChannel(Channels.newChannel(out)), batch)
      finally batch.close()
      out.toByteArray
    }

    /** Load a [[message]] into the root. */
    def load(message: Array[Byte]): Unit = {
      val batch = MessageSerializer.deserializeRecordBatch(
        new ReadChannel(Channels.newChannel(new ByteArrayInputStream(message))), allocator)
      try new VectorLoader(root).load(batch) finally batch.close()
    }

    override def close(): Unit = { root.close(); allocator.close() }
  }
}
