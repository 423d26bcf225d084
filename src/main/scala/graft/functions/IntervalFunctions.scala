package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Decode the 16-byte PostgreSQL INTERVAL wire payload the reference
  * passes through undecoded (reference `src/lib.rs:367-374`: µs i64,
  * then days i32, then months i32, big-endian) into
  * STRUCT<months INT, days INT, micros BIGINT> — the Parquet-writable
  * representation SURVEY.md §1.2 chose (CalendarIntervalType cannot
  * be written). Codegen'd so bulk decodes stay in Tungsten; null or
  * wrong-length payloads yield NULL (the catchable-error contract).
  */
case class DecodeInterval(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = StructType(Seq(
    StructField("months", IntegerType),
    StructField("days", IntegerType),
    StructField("micros", LongType)))
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    if (b.length != 16) null
    else {
      val bb = java.nio.ByteBuffer.wrap(b)
      val micros = bb.getLong
      val days = bb.getInt
      val months = bb.getInt
      InternalRow(months, days, micros)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      val bb = ctx.freshName("bb")
      s"""
         |if ($b.length != 16) {
         |  ${ev.isNull} = true;
         |} else {
         |  java.nio.ByteBuffer $bb = java.nio.ByteBuffer.wrap($b);
         |  long micros = $bb.getLong();
         |  int days = $bb.getInt();
         |  int months = $bb.getInt();
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[] { months, days, micros });
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object IntervalFunctions {
  import GraftSqlBridge.{column, expression}

  /** `decode_interval(byteaCol)` → struct(months, days, micros). */
  def decode_interval(c: Column): Column = column(DecodeInterval(expression(c)))
}
