package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Raw IEEE-754 bit access as native codegen'd Catalyst expressions.
  *
  * Needed for Prometheus staleness markers: a stale sample is a NaN with the
  * exact payload 0x7ff0000000000002, distinguishable from ordinary NaNs only
  * by bit pattern (reference: `aggregate/aggregate.go:95`,
  * `math.Float64bits(point.Value) == value.StaleNaN`). No Spark builtin can
  * observe NaN payloads, and a Scala UDF would break whole-stage codegen in
  * the ingest/downsample hot path, hence a custom `Expression` with
  * `doGenCode` (stays inside WholeStageCodegen).
  */
case class DoubleBits(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    java.lang.Double.doubleToRawLongBits(input.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"java.lang.Double.doubleToRawLongBits($c)")
  override protected def withNewChildInternal(newChild: Expression): DoubleBits =
    copy(child = newChild)
}

case class BitsToDouble(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  // Never constant-fold: a folded result would become a double Literal,
  // and Literal codegen canonicalizes any NaN to Double.NaN — destroying
  // the payload this expression exists to produce (StaleNaN, NormalNaN).
  override def foldable: Boolean = false
  override protected def nullSafeEval(input: Any): Any =
    java.lang.Double.longBitsToDouble(input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"java.lang.Double.longBitsToDouble($c)")
  override protected def withNewChildInternal(newChild: Expression): BitsToDouble =
    copy(child = newChild)
}

object Bits {
  /** Prometheus staleness marker (prometheus/model/value: StaleNaN). */
  val StaleNaNBits: Long = 0x7ff0000000000002L

  /** Prometheus "normal" NaN emitted by the downsampler for all-NaN buckets
    * (prometheus/model/value: NormalNaN).
    */
  val NormalNaNBits: Long = 0x7ff8000000000001L
  val NormalNaN: Double = java.lang.Double.longBitsToDouble(NormalNaNBits)
  val StaleNaN: Double = java.lang.Double.longBitsToDouble(StaleNaNBits)

  def doubleBits(c: Column): Column =
    ColumnShim.column(DoubleBits(ColumnShim.expression(c)))

  def isStaleNaN(c: Column): Column = doubleBits(c) === lit(StaleNaNBits)

  /** The double whose raw bits are `c` — payload-preserving. */
  def bitsToDouble(c: Column): Column =
    ColumnShim.column(BitsToDouble(ColumnShim.expression(c)))

  def normalNaN: Column = bitsToDouble(lit(NormalNaNBits))

  /** StaleNaN as a Column — payload-preserving (see [[BitsToDouble]]). */
  def staleNaN: Column = bitsToDouble(lit(StaleNaNBits))
}
