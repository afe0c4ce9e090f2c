package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The vector kernels: each is the whole body of one expression below,
  * run by both its interpreted and its codegen path. Every sum widens
  * each float exactly to double and accumulates in ascending component
  * order from a 0.0 seed — the IEEE order the DuckDB oracles fold in. */
object VectorUtil {
  /** Whether `e` is an array<float> (else array<double>) operand. */
  def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  @inline private def elem(a: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Cosine of two float arrays over their common length, null elements
    * as 0.0; null (SQL NULL) when either side has zero norm. */
  def cosine(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = if (x.isNullAt(i)) 0.0 else x.getFloat(i).toDouble
      val yi = if (y.isNullAt(i)) 0.0 else y.getFloat(i).toDouble
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  /** Dot product of two float arrays over their common length, null
    * elements as 0.0. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += (if (x.isNullAt(i)) 0.0 else x.getFloat(i).toDouble) *
        (if (y.isNullAt(i)) 0.0 else y.getFloat(i).toDouble)
      i += 1
    }
    dot
  }

  /** Squared euclidean distance, `acc += (x[i] − y[i])²`; null (SQL NULL)
    * for a length mismatch or any null element. */
  def sqDist(x: ArrayData, xFloat: Boolean, y: ArrayData, yFloat: Boolean): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = elem(x, xFloat, i) - elem(y, yFloat, i)
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** [[sqDist]] of `x` to every centroid of `cents`, in codebook order,
    * with its NULL rule: null when any centroid's width differs from
    * `x`'s length or `x` has a null element. `x` is widened once, then
    * each centroid is one pass over plain double arrays. */
  def centroidSqDists(x: ArrayData, isFloat: Boolean, cents: Array[Array[Double]]): ArrayData = {
    val n = x.numElements()
    val v = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      v(i) = elem(x, isFloat, i)
      i += 1
    }
    val out = new Array[Double](cents.length)
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      if (c.length != n) return null
      var acc = 0.0
      i = 0
      while (i < n) {
        val d = v(i) - c(i)
        acc += d * d
        i += 1
      }
      out(j) = acc
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** `cosine_sim(a, b)` over two `array<float>` embedding columns → double.
  *
  * One fused pass accumulates dot product and both squared norms in doubles
  * (each float widened exactly), then `dot / (sqrt(na) * sqrt(nb))`. The
  * accumulation order is strictly sequential and mirrored in the DuckDB
  * oracle (`list_reduce` fold), so results are bit-identical across engines
  * — which is what makes the similarity queries hash-checkable.
  *
  * Scale rationale: the naive Spark formulation is three `aggregate()` /
  * `zip_with()` passes over the arrays per pair; at N·k similarity
  * computations per top-k query this expression keeps the hot loop in one
  * compiled kernel with zero per-element boxing or lambda dispatch.
  * Null elements count as 0.0 so the result is deterministic for ragged
  * data; a zero-norm side yields SQL NULL.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects (array<float>, array<float>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorUtil.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      KernelCall.orNull(ctx, ev, dataType, s"graft.functions.VectorUtil.cosine($x, $y)"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** `dot_product(a, b)` over two `array<float>` columns → double, same
  * sequential float→double accumulation as [[CosineSimilarity]]'s dot
  * term. Pairing it with PREcomputed per-vector norms turns an N·k cosine
  * scan from three array passes per pair into one:
  * `dot/(norm_a*norm_b)` is bit-identical to `cosine_sim` because
  * `sqrt(na)` is the same IEEE value whether computed per pair or once per
  * vector. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product expects (array<float>, array<float>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorUtil.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.functions.VectorUtil.dot($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** `sq_dist(a, b)` → double: the exact squared euclidean distance with
  * the same ascending-component IEEE accumulation as the declarative
  * `aggregate(sequence(0, n-1), 0.0, (acc, i) -> acc + (a[i]-b[i])²)`
  * fold it replaces (r16): d = (double)a[i] − (double)b[i]; acc += d·d.
  * HOF folds are CodegenFallback, so the exact ground-truth L2 passes in
  * the IVF/ADC recall queries ran 64 boxed lambda steps per candidate
  * pair; this native loop produces the bit-identical double for
  * every pair, so rankings and gate hashes are unchanged. Accepts
  * array<float> or array<double> on either side independently. */
case class SqDist(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sq_dist expects array<float>/array<double> operands, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  // Degenerate inputs NULL-PROPAGATE, mirroring the declarative fold
  // this expression replaced (r16 advice): a null element made the
  // fold's acc null, and an out-of-range a[i] under a length mismatch
  // read null too — so ragged pairs and null elements return NULL here
  // instead of a silently truncated/garbage distance. Production
  // embeddings are fixed-width non-null, so gate hashes are unchanged.
  override def nullable: Boolean = true

  private def xf = VectorUtil.isFloatArray(left)
  private def yf = VectorUtil.isFloatArray(right)

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorUtil.sqDist(a.asInstanceOf[ArrayData], xf, b.asInstanceOf[ArrayData], yf)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => KernelCall.orNull(ctx, ev, dataType,
      s"graft.functions.VectorUtil.sqDist($x, $xf, $y, $yf)"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDist =
    copy(left = newLeft, right = newRight)
}

/** `CentroidSqDists(embedding, cents)` → `array<double>` of squared
  * euclidean distances to each codebook centroid, in codebook order.
  *
  * Why native (r16): the coarse-IVF assignment was a
  * `transform(sequence(0, k−1), j -> aggregate(sequence(0, 63), …))`
  * nested higher-order fold — HOFs are CodegenFallback, so every row
  * paid k·64 BOXED lambda steps. With the corpus-scaled k (k = n/1000,
  * [[graft.operators.Similarity]]) that interpreted constant grew with k
  * and the 10×-probe assignment pass read 3× its k=8 cost
  * (sim_ivf_kmeans 8.1 → 24.8 s at sf1). This expression runs the same
  * arithmetic as ONE tight double loop ([[VectorUtil.centroidSqDists]])
  * over a referenced `double[][]` codebook. Its NULL rule is
  * [[SqDist]]'s: an input whose length differs from the centroid width,
  * or that holds a null element, gives NULL.
  *
  * Bit-exactness contract: per centroid, terms accumulate in ascending
  * component order from a 0.0 seed — `acc += (emb[i] − c[i])²` —
  * exactly the IEEE order of both the HOF fold it replaces and the
  * DuckDB oracle's `list_reduce(list_prepend(0.0, list_transform(…)))`,
  * so every gated distance/argmin hash is unchanged.
  *
  * The codebook rides as constructor metadata (broadcast with the task
  * closure like any literal; k ≤ 256 × 64 doubles = 128 KB ceiling),
  * NOT as a child expression — a k×64 literal array child would be
  * re-evaluated generically per row. */
case class CentroidSqDists(child: Expression, cents: Seq[Seq[Double]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"centroid_sq_dists expects array<float> or array<double>, got ${t.simpleString}")
  }

  @transient private lazy val matrix: Array[Array[Double]] =
    cents.map(_.toArray).toArray

  private def isF = VectorUtil.isFloatArray(child)

  override def nullSafeEval(input: Any): Any =
    VectorUtil.centroidSqDists(input.asInstanceOf[ArrayData], isF, matrix)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("centMatrix", matrix, "double[][]")
    nullSafeCodeGen(ctx, ev, x => KernelCall.orNull(ctx, ev, dataType,
      s"graft.functions.VectorUtil.centroidSqDists($x, $isF, $m)"))
  }

  override protected def withNewChildInternal(newChild: Expression): CentroidSqDists =
    copy(child = newChild)
}
