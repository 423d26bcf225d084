package graft.sinks

import java.io.{ByteArrayOutputStream, File, FileOutputStream}
import java.nio.channels.Channels

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{VectorSchemaRoot, VectorUnloader}
import org.apache.arrow.vector.ipc.{ArrowFileWriter, ArrowStreamWriter, WriteChannel}
import org.apache.arrow.vector.ipc.message.{IpcOption, MessageSerializer}
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit => ArrowTimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
import org.apache.commons.io.FileUtils
import org.apache.spark.TaskContext
import org.apache.spark.rdd.{PartitionCoalescer, PartitionGroup, RDD}
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
  * gives the reference's one-file layout: the same task, run once over
  * every partition in order.
  *
  * One encoder, in the tasks only, produces every Arrow IPC byte: the
  * tasks fill Arrow-Java 18.3 vectors from InternalRows (the plan's, or
  * row views over a columnar scan's own batches) with Spark's own
  * `execution.arrow.ArrowWriter` — the writer behind Spark's Arrow
  * exchange with Python — so no row goes through an external `Row`
  * and its `java.sql`/`String` objects. The driver decodes no batch:
  * it writes the schema-only file of an empty result, and concatenates
  * the tasks' record-batch messages into [[collectAsArrowStream]]'s
  * stream.
  */
object FeatherSink {

  private[graft] val BatchRows = 4096

  /** Replaces whatever is at `path`, like the Parquet sink's
    * `overwrite`. Per-partition mode writes `part-NNNNN.arrow` for
    * each non-empty partition; `singleFile` writes the file `path`
    * from one task. A result with no rows writes one schema-only file.
    * A failed write leaves nothing at `path`.
    */
  def write(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val schema = df.schema
    val arrow = arrowSchema(schema)
    val target = new File(path)
    if (target.exists()) FileUtils.forceDelete(target)
    try {
      if (!singleFile) target.mkdirs()
      val (parts, columnar) = source(df)
      // singleFile: one task over every partition's iterator, so that
      // its batches end where the partitions do.
      val rdd = if (singleFile)
        parts.mapPartitions(Iterator(_)).coalesce(1, partitionCoalescer = Some(InOrder))
          .asInstanceOf[RDD[AnyRef]]
        else parts
      val task = WritePartition(schema, path, columnar, singleFile)
      val wrote = new Array[Boolean](rdd.getNumPartitions)
      rdd.sparkContext.runJob(rdd, task, wrote.indices,
        (pid: Int, nonEmpty: Boolean) => wrote(pid) = nonEmpty)
      if (!wrote.contains(true)) writeFile(arrow, task.file(0), Iterator.empty)
    } catch { case e: Throwable =>
      // The tasks that finished wrote whole files, which a reader would
      // take for the whole result.
      FileUtils.deleteQuietly(target)
      throw e
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
    * remain the 100 TB story. The driver writes the schema message,
    * then each partition's record-batch messages as its task encoded
    * them (one job per partition, in order, so the driver holds one
    * partition's messages beyond the stream), then the end-of-stream
    * marker. Every message is padded to 8 bytes, so the bytes are
    * those `ArrowStreamWriter` writes for the same batches.
    */
  def collectAsArrowStream(df: DataFrame): Array[Byte] = {
    val arrow = arrowSchema(df.schema)
    val (rdd, columnar) = source(df)
    val encode = EncodePartition(df.schema, columnar)
    val bos = new ByteArrayOutputStream()
    val ch = new WriteChannel(Channels.newChannel(bos))
    MessageSerializer.serialize(ch, arrow)
    rdd.partitions.indices.foreach { pid =>
      rdd.sparkContext.runJob(rdd, encode, Seq(pid),
        (_: Int, messages: Array[Array[Byte]]) => messages.foreach(ch.write))
    }
    ArrowStreamWriter.writeEndOfStream(ch, IpcOption.DEFAULT)
    bos.toByteArray
  }

  /** The Arrow field the sink writes for `f`; the one place that
    * decides which types the sink accepts.
    */
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
      case ArrayType(elem @ (FloatType | DoubleType), _) =>
        val child = arrowField(StructField("item", elem))
        new Field(f.name, FieldType.nullable(ArrowType.List.INSTANCE),
          Seq(child).asJava)
      case dt => throw new FlacoSparkException(
        s"Feather sink: type $dt (column ${f.name}) not supported")
    }
  }

  private def arrowSchema(schema: StructType): Schema =
    new Schema(schema.fields.map(arrowField).toSeq.asJava)

  /** Write one IPC file at `file`, one record batch per element of
    * `batches` (see [[batchesOf]]). A failure leaves the file without
    * its footer.
    */
  private def writeFile(schema: Schema, file: String,
      batches: Iterator[Iterator[InternalRow]]): Unit = {
    val enc = new BatchEncoder(schema)
    val out = new FileOutputStream(file)
    try {
      val writer = new ArrowFileWriter(enc.root, null, out.getChannel)
      writer.start()
      batches.foreach { rows => enc.encode(rows); writer.writeBatch() }
      writer.end()
    } finally { out.close(); enc.close() }
  }

  /** The parent's partitions, in index order, as one partition.
    * Spark's default coalescer puts a partition with preferred
    * locations ahead of one without.
    */
  private[graft] object InOrder extends PartitionCoalescer with Serializable {
    def coalesce(maxPartitions: Int, parent: RDD[_]): Array[PartitionGroup] = {
      val all = new PartitionGroup()
      all.partitions ++= parent.partitions
      Array(all)
    }
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

  /** `rows` once for each batch they fill: encoding an element takes
    * the next [[BatchRows]] rows or the rest.
    */
  private def batchesOf(rows: Iterator[InternalRow]): Iterator[Iterator[InternalRow]] =
    Iterator.continually(rows).takeWhile(_.hasNext)

  /** A task: its partition as IPC record-batch messages. The task
    * functions are named classes, not lambdas, because Spark's closure
    * cleaner returns at once for them instead of re-parsing the
    * bytecode of `RDD` and `SparkContext` on every job.
    */
  private final case class EncodePartition(schema: StructType, columnar: Boolean)
      extends ((TaskContext, Iterator[AnyRef]) => Array[Array[Byte]]) {
    def apply(ctx: TaskContext, it: Iterator[AnyRef]): Array[Array[Byte]] = {
      val enc = new BatchEncoder(arrowSchema(schema))
      try batchesOf(rowsOf(it, columnar)).map { rows => enc.encode(rows); enc.message() }.toArray
      finally enc.close()
    }
  }

  /** A task: its partition (for `singleFile`, the iterators of every
    * partition) as the IPC file [[file]], unless empty; whether it
    * wrote one.
    */
  private final case class WritePartition(schema: StructType, path: String,
      columnar: Boolean, singleFile: Boolean)
      extends ((TaskContext, Iterator[AnyRef]) => Boolean) {
    def file(pid: Int): String = if (singleFile) path else f"$path/part-$pid%05d.arrow"
    def apply(ctx: TaskContext, it: Iterator[AnyRef]): Boolean = {
      val parts = if (singleFile) it.map(_.asInstanceOf[Iterator[AnyRef]]) else Iterator(it)
      val batches = parts.flatMap(p => batchesOf(rowsOf(p, columnar)))
      val nonEmpty = batches.hasNext
      if (nonEmpty) writeFile(arrowSchema(schema), file(ctx.partitionId()), batches)
      nonEmpty
    }
  }

  /** An Arrow root of `schema` that Spark's ArrowWriter fills from
    * InternalRows, BatchRows rows at a time.
    */
  private final class BatchEncoder(schema: Schema) extends AutoCloseable {
    private val allocator = new RootAllocator()
    val root: VectorSchemaRoot = VectorSchemaRoot.create(schema, allocator)
    private val writer = GraftArrowBridge.writer(root)

    /** Fill the root with the next [[BatchRows]] rows, or the rest. */
    def encode(rows: Iterator[InternalRow]): Unit = {
      writer.reset()
      var n = 0
      while (n < BatchRows && rows.hasNext) { writer.write(rows.next()); n += 1 }
      writer.finish()
    }

    /** The root's batch as one IPC record-batch message. */
    def message(): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      val batch = new VectorUnloader(root).getRecordBatch
      try MessageSerializer.serialize(new WriteChannel(Channels.newChannel(out)), batch)
      finally batch.close()
      out.toByteArray
    }

    override def close(): Unit = { root.close(); allocator.close() }
  }
}
