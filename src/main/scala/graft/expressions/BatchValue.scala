package graft.expressions

import java.time.{Instant, LocalDate}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types.{DataType, DateType, TimestampType}

/** A value fixed for one batch — its date, its ingest time — that the
  * generated code reads from the plan's reference array instead of
  * inlining it. Spark's `Literal` writes int, date, long and timestamp
  * values into the code text, so two batches whose plans differ only in
  * such a value compile two classes, and the second batch can reuse
  * nothing of the first. Not foldable, so the optimizer cannot turn it
  * back into a literal; deterministic, so every other rewrite still
  * applies. */
case class BatchValue(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null, "a batch value is never null")

  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = s"batch_value($value)"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("batchValue", value, CodeGenerator.boxedType(dataType))
    ev.copy(code = code"final ${CodeGenerator.javaType(dataType)} ${ev.value} = $ref;",
      isNull = FalseLiteral)
  }
}

object BatchValue {
  def date(d: LocalDate): Column =
    org.apache.spark.sql.GraftColumnBridge.column(BatchValue(d.toEpochDay.toInt, DateType))

  def timestamp(t: Instant): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      BatchValue(DateTimeUtils.instantToMicros(t), TimestampType))
}
