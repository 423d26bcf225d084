package org.apache.spark.sql.execution.arrow

import scala.jdk.CollectionConverters._

import org.apache.arrow.vector.{TimeMicroVector, VectorSchemaRoot}
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters

/** Bridge to Spark's `private[arrow]` field writers (the technique of
  * [[org.apache.spark.sql.GraftSqlBridge]]): an [[ArrowWriter]] that
  * fills a root built by `graft.sinks.FeatherSink` straight from
  * InternalRows. Spark's writers cover every column type the sink
  * accepts except TIME: the sink writes Time64(µs), the reference's
  * shape (`src/lib.rs:350-366`), while Spark's `TimeWriter` writes
  * Time64(ns).
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
