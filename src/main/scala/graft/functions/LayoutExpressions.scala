package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types._

/** Bit utilities for multi-dimensional data layout (Z-order / Morton
  * curves — Morton 1966; the clustering key Delta Lake's OPTIMIZE ZORDER
  * and Iceberg's sort orders use so min/max file statistics prune scans
  * on EVERY indexed dimension, not just the leading sort column). */
object LayoutUtil {

  /** Spread the low 31 bits of v onto the even bit positions of a 62-bit
    * lane (the standard mask-shift doubling ladder). */
  def spread31(v: Long): Long = {
    var x = v & 0x7fffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** 62-bit Morton code of (x, y): x's low 31 bits on even positions,
    * y's on odd. Inputs are masked to 31 bits — callers bucket their
    * dimensions into the curve's grid first. Same curve as
    * [[graft.sources.Layout.zValue]]'s per-bit Column fold (the write
    * path), ~10 fused ops instead of 4·bits. */
  def zValue2(x: Long, y: Long): Long =
    spread31(x) | (spread31(y) << 1)
}

/** `zvalue2(x, y)` → bigint: 62-bit Morton interleave of two 31-bit
  * dimension buckets. Definitionally identical to the unrolled
  * shift-and-mask SQL the DuckDB oracles use (Σ_b ((x>>b)&1)·4^b +
  * ((y>>b)&1)·2·4^b), computed with the mask ladder instead of per-bit
  * terms. */
case class ZValue2(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"zvalue2 expects (bigint, bigint), got (${l.simpleString}, ${r.simpleString})")
    }

  override def nullSafeEval(x: Any, y: Any): Any =
    LayoutUtil.zValue2(x.asInstanceOf[Long], y.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.functions.LayoutUtil.zValue2($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZValue2 =
    copy(left = newLeft, right = newRight)
}
