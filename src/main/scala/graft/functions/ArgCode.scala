package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{MaxBy, MinBy}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Exact MIN_BY/MAX_BY over a STRING value that keeps the aggregate
  * hash-based (the reference's FIRST/LAST-as-aggregate pattern,
  * models/spark/base/active_devices.sql:24-43).
  *
  * A STRING aggregate buffer is immutable in an `UnsafeRow`, so Spark plans
  * any aggregate holding one as a SortAggregate (a full sort of the input by
  * the grouping key). This helper aggregates a fixed-width code instead and
  * decodes the winner: `decode(max_by(encode(value), ord))`. The winning row
  * is picked by `ord` alone, so the result equals `max_by(value, ord)`.
  *
  * The code is a `DECIMAL(38,0)` holding the unsigned big-endian integer of
  * `0x01 ‖ UTF-8 bytes`. The leading 0x01 keeps lengths apart, so the code is
  * a bijection on every string of at most [[MaxBytes]] UTF-8 bytes: the empty
  * string, NUL and any code point included. NULL stays NULL. A longer value
  * fails the query with an error that names it. The code does not order like
  * the string, so it serves MIN_BY/MAX_BY only, never MIN/MAX of the value.
  *
  * It is fixed-width rather than a dictionary, which would need an extra
  * scan and a collect job (or two joins per aggregate) that a SQL model text
  * cannot express. SQL: `exact_min_by(value, ord)` / `exact_max_by(value,
  * ord)` after [[register]]; DataFrames: [[minBy]] / [[maxBy]].
  */
object ArgCode {
  /** 0x01 ‖ 15 bytes is 121 bits, below 10^38. */
  val MaxBytes: Int = 15
  val CodeType: DecimalType = DecimalType(38, 0)

  def encode(s: UTF8String): Decimal = {
    val n = s.numBytes
    if (n > MaxBytes) throw new IllegalArgumentException(
      s"exact_min_by/exact_max_by: value '$s' is $n UTF-8 bytes, " +
        s"more than the $MaxBytes the exact string code holds")
    if (n < 8) { // 0x01 ‖ 7 bytes < 10^18: Decimal's compact long, no BigInteger
      var v = 1L
      var i = 0
      while (i < n) { v = v << 8 | (s.getByte(i) & 0xff); i += 1 }
      Decimal(v, CodeType.precision, 0)
    } else {
      val bytes = new Array[Byte](n + 1)
      bytes(0) = 1
      s.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET + 1)
      Decimal(new JBigDecimal(new BigInteger(1, bytes)), CodeType.precision, 0)
    }
  }

  def decode(d: Decimal): UTF8String = {
    // a positive value whose top byte is 0x01 has no sign byte to strip
    val bytes = d.toJavaBigDecimal.unscaledValue.toByteArray
    UTF8String.fromBytes(bytes, 1, bytes.length - 1)
  }

  /** Register `exact_min_by` / `exact_max_by` (once per session). */
  def register(spark: SparkSession): Unit =
    SessionFunctions.registerOnce(spark,
      "exact_min_by" -> (es => ArgDecode(MinBy(ArgEncode(es(0)), es(1)).toAggregateExpression())),
      "exact_max_by" -> (es => ArgDecode(MaxBy(ArgEncode(es(0)), es(1)).toAggregateExpression())))

  /** Column API (register per session first). */
  def minBy(value: Column, ord: Column): Column = call_function("exact_min_by", value, ord)

  def maxBy(value: Column, ord: Column): Column = call_function("exact_max_by", value, ord)
}

/** STRING → its [[ArgCode]] code. */
case class ArgEncode(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArgCode.CodeType
  override def nullSafeEval(input: Any): Any = ArgCode.encode(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArgCode.encode($c)")
  override protected def withNewChildInternal(c: Expression): ArgEncode = copy(child = c)
}

/** [[ArgCode]] code → the STRING it encodes. */
case class ArgDecode(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any = ArgCode.decode(input.asInstanceOf[Decimal])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArgCode.decode($c)")
  override protected def withNewChildInternal(c: Expression): ArgDecode = copy(child = c)
}
