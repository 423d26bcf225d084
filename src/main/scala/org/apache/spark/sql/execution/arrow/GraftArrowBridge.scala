package org.apache.spark.sql.execution.arrow

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.arrow.vector.{TimeMicroVector, TimeNanoVector, VectorSchemaRoot}
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.vectorized.{ArrowColumnVector, ColumnVector, ColumnarBatch}

/** Bridge to Spark's `private[arrow]` field writers (the technique of
  * [[org.apache.spark.sql.GraftSqlBridge]]): an [[ArrowWriter]] that
  * fills a root built by `graft.sinks.FeatherSink` straight from
  * InternalRows. Spark's writers cover every column type the sink
  * accepts except TIME: the sink writes Time64(µs), the reference's
  * shape (`src/lib.rs:350-366`), while Spark's `TimeWriter` writes
  * Time64(ns). [[ArrowColumns]] is the way back.
  */
object GraftArrowBridge {
  def writer(root: VectorSchemaRoot): ArrowWriter =
    new ArrowWriter(root, root.getFieldVectors.asScala.map {
      case v: TimeMicroVector => new TimeMicroWriter(v)
      case v => ArrowWriter.createFieldWriter(v)
    }.toArray)
}

/** Spark TIME values are nanoseconds of the day. */
private[arrow] class TimeMicroWriter(val valueVector: TimeMicroVector)
    extends ArrowFieldWriter {
  override def setNull(): Unit = valueVector.setNull(count)
  override def setValue(input: SpecializedGetters, ordinal: Int): Unit =
    valueVector.setSafe(count, input.getLong(ordinal) / 1000L)
}

/** The record batches `root` loads, as Spark column batches of Spark's
  * own [[ArrowColumnVector]]s, whose types are Spark's
  * (`ArrowUtils.fromArrowField`). Spark reads TIME from Time64(ns)
  * only, so a Time64(µs) vector is read through a ns view that
  * [[batch]] refills from it: the read-side twin of [[TimeMicroWriter]].
  * Close this before `root`'s allocator; `root` keeps its own vectors.
  * A vector Spark cannot read throws UnsupportedOperationException
  * naming its column.
  */
final class ArrowColumns(root: VectorSchemaRoot) extends AutoCloseable {
  private val views = mutable.ArrayBuffer[(TimeMicroVector, TimeNanoVector)]()

  private val columns: Array[ColumnVector] = root.getFieldVectors.asScala.map { v =>
    val read = v match {
      case us: TimeMicroVector =>
        val ns = new TimeNanoVector(us.getName, us.getAllocator)
        views += us -> ns
        ns
      case _ => v
    }
    try new ArrowColumnVector(read): ColumnVector
    catch { case e: UnsupportedOperationException =>
      throw new UnsupportedOperationException(s"column ${v.getName}: ${e.getMessage}", e)
    }
  }.toArray

  val schema: StructType = StructType(root.getFieldVectors.asScala.zip(columns).map {
    case (v, c) => StructField(v.getName, c.dataType)
  }.toSeq)

  /** The batch `root` holds now. */
  def batch(): ColumnarBatch = {
    val n = root.getRowCount
    views.foreach { case (us, ns) =>
      ns.allocateNew(n)
      (0 until n).foreach(i => if (!us.isNull(i)) ns.set(i, us.get(i) * 1000L))
      ns.setValueCount(n)
    }
    new ColumnarBatch(columns, n)
  }

  override def close(): Unit = views.foreach(_._2.close())
}
