package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The set kernels: each is the whole body of one expression below, run
  * by both its interpreted and its codegen path. */
object SetUtil {

  /** Intersection size of two sorted-ascending distinct long arrays: one
    * linear merge, no allocation. */
  def sortedIntersectCount(x: ArrayData, y: ArrayData): Long = {
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < nx && j < ny) {
      val xi = x.getLong(i)
      val yj = y.getLong(j)
      if (xi == yj) { c += 1; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    c
  }

  /** Positions of the common length where both sides are non-null and
    * equal. */
  def arrayEqCount(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var i = 0
    var c = 0L
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i))
        c += 1
      i += 1
    }
    c
  }
}

/** `sorted_intersect_count(a, b)` over two SORTED-ASCENDING, DISTINCT
  * `array<bigint>` columns → the intersection cardinality as a long.
  *
  * Equal by definition to `size(array_intersect(a, b))` on such inputs
  * (the precondition every dedup pipeline here satisfies: shingle-hash
  * sets are built `distinct` and `sort_array`ed), but computed as a
  * single linear merge with zero allocation — `array_intersect` builds a
  * hash set of one side AND materializes the intersection array, only for
  * `size` to throw it away. The verification step of the Jaccard /
  * MinHash-LSH pipelines runs this once per candidate pair, so the saved
  * allocations are per-pair, not per-query.
  *
  * The oracle SQL keeps counting via its own join/list arithmetic — the
  * VALUE is what's pinned, and SetExpressionsSpec differentially pins
  * this expression to `size(array_intersect(...))` on random inputs.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_count expects (array<bigint>, array<bigint>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    SetUtil.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.functions.SetUtil.sortedIntersectCount($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** `array_eq_count(a, b)` over two `array<bigint>` columns → the number
  * of positions where both sides are non-null and equal, as a long.
  *
  * Equal by definition to
  * `size(filter(zip_with(a, b, (x, y) -> x = y), p -> p))`: zip_with
  * pads the shorter side with nulls and `x = y` is null when either
  * side is null, so padded/null positions never pass the filter —
  * which is exactly "count over the common length, both non-null and
  * equal". The HOF chain is CodegenFallback (boxed lambda steps per
  * element per row); the MinHash calibration runs it once per banded
  * candidate PAIR, row-scale at any corpus size, so the interpreted
  * overhead is per-pair. This is one compiled loop with zero
  * allocation. SetExpressionsSpec pins the equivalence differentially
  * on random inputs (including nulls and ragged lengths). */
case class ArrayEqCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"array_eq_count expects (array<bigint>, array<bigint>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    SetUtil.arrayEqCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.functions.SetUtil.arrayEqCount($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayEqCount =
    copy(left = newLeft, right = newRight)
}
