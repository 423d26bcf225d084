package graft.sources

import java.io.{File, FileInputStream}

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowFileReader
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.arrow.ArrowColumns
import org.apache.spark.sql.types.StructType

import graft.FlacoSparkException

/** First-class read-back of what [[graft.sinks.FeatherSink]] writes —
  * an engine that writes a format should read it (the reference
  * cannot: its Feather support is write-only, `src/lib.rs:150-168`).
  *
  * Distributed by file: the driver opens only the first file for the
  * schema; each task then reads whole IPC files with the Arrow-Java
  * reader — the natural parallelism for a sink that writes one IPC
  * file per partition. (IPC files are not block-splittable like
  * parquet; at scale the sink's many-files layout IS the split.)
  * Spark reads the record batches in place, through its own Arrow
  * column vectors ([[ArrowColumns]]), so the types are Spark's Arrow
  * type map plus the sink's Time64(µs) TIME.
  */
object FeatherSource {

  def read(spark: SparkSession, path: String): DataFrame = {
    val f = new File(path)
    val files: Seq[String] =
      if (f.isDirectory)
        f.listFiles().filter(_.getName.endsWith(".arrow")).map(_.getPath)
          .sorted.toSeq
      else if (f.isFile) Seq(path)
      else throw new FlacoSparkException(s"feather read: no such path $path")
    if (files.isEmpty)
      throw new FlacoSparkException(s"feather read: no .arrow files under $path")
    val first = new IpcFile(files.head)
    val schema = try first.columns.schema finally first.close()
    val rows = spark.sparkContext.parallelize(files, files.length)
      .flatMap(file => readRows(file, schema))
    GraftSqlBridge.dataFrame(spark, rows, schema)
  }

  /** One IPC file open for reading; `close` frees every buffer. */
  private final class IpcFile(file: String) extends AutoCloseable {
    private val alloc = new RootAllocator()
    private val in = new FileInputStream(file)
    val reader = new ArrowFileReader(in.getChannel, alloc)
    val columns: ArrowColumns =
      try new ArrowColumns(reader.getVectorSchemaRoot)
      catch {
        case e: UnsupportedOperationException =>
          closeFile()
          throw new FlacoSparkException(s"feather read: $file: ${e.getMessage}", e)
        case e: Throwable => closeFile(); throw e
      }
    private def closeFile(): Unit = { reader.close(); in.close(); alloc.close() }
    override def close(): Unit = { columns.close(); closeFile() }
  }

  /** Batch-streaming row iterator over one IPC file: only the current
    * Arrow record batch is resident, so task memory is bounded by the
    * writer's batch size, not the file. The file is closed when the
    * iterator drains (and on task completion, for early-terminating
    * consumers like limit).
    */
  private def readRows(file: String, schema: StructType): Iterator[InternalRow] = {
    val ipc = new IpcFile(file)
    var closed = false
    def close(): Unit = if (!closed) { closed = true; ipc.close() }
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => close()))
    if (ipc.columns.schema != schema) {
      close()
      throw new FlacoSparkException(
        s"feather read: $file holds ${ipc.columns.schema.simpleString}, not ${schema.simpleString}")
    }
    Iterator.continually(ipc.reader.loadNextBatch())
      .takeWhile { loaded => if (!loaded) close(); loaded }
      .flatMap(_ => ipc.columns.batch().rowIterator().asScala)
  }
}
