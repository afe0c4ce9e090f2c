package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/* Custom Catalyst expressions for the reference's map-task semantics.
  *
  * Rationale (100 TB design): the naive Spark formulation of the reference's
  * letter histogram (tasks.c:53-88) is `explode(split(lower(text), ""))` —
  * one shuffle row PER CHARACTER, i.e. a 100 TB scan becomes ~100 T exploded
  * rows before the partial aggregate. These expressions compute the whole
  * per-document histogram in ONE pass inside whole-stage codegen, so the
  * downstream rows are 26 (or 3) per document and map-side partial
  * aggregation collapses them to 26 per partition before any shuffle.
  */

/** The map-task kernels: each is the whole per-document body of one
  * expression below, run by both its interpreted and its codegen path. */
object TextUtil {

  /** `[letters, digits, others]` of `s`: ASCII letters and digits counted
    * byte-wise (ASCII bytes only appear as single UTF-8 bytes), `others` as
    * charCount - letters - digits so a multi-byte codepoint counts once. */
  def charClassCounts(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    var letters = 0L
    var digits = 0L
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')) letters += 1
      else if (b >= '0' && b <= '9') digits += 1
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      Array(letters, digits, s.numChars().toLong - letters - digits))
  }

  /** The 26 case-folded ASCII letter counts of `s` (index 0 = 'a'). */
  def letterHistogram(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val counts = new Array[Long](26)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b >= 'a' && b <= 'z') counts(b - 'a') += 1
      else if (b >= 'A' && b <= 'Z') counts(b - 'A') += 1
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(counts)
  }
}

/** `char_class_counts(text)` → array<long>[letters, numbers, others].
  *
  * Mirrors the reference's map1 classification (tasks.c:20-29): ASCII
  * letters / ASCII digits / everything else. See [[TextUtil.charClassCounts]].
  */
case class CharClassCounts(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    TextUtil.charClassCounts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextUtil.charClassCounts($c)")

  override protected def withNewChildInternal(newChild: Expression): CharClassCounts =
    copy(child = newChild)
}

/** `letter_histogram(text)` → array<long> of 26 case-folded ASCII letter
  * counts (index 0 = 'a'). Mirrors map2's dense histogram semantics
  * (tasks.c:62-81): zeros are kept, case folded, non-letters ignored.
  */
case class LetterHistogram(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    TextUtil.letterHistogram(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextUtil.letterHistogram($c)")

  override protected def withNewChildInternal(newChild: Expression): LetterHistogram =
    copy(child = newChild)
}

/** Codegen of a kernel whose `null` result is SQL NULL: the generated code
  * only calls the kernel and reads its (boxed or reference) result, so the
  * NULL rule lives in the kernel alone. */
object KernelCall {
  def orNull(ctx: CodegenContext, ev: ExprCode, dataType: DataType, call: String): String = {
    val r = ctx.freshName("r")
    s"""${CodeGenerator.boxedType(dataType)} $r = $call;
       |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }""".stripMargin
  }
}

/** graft's native SQL functions: one `(name, builder)` list, which both
  * [[Registry.register]] (per session) and `graft.GraftExtensions`
  * (`spark.sql.extensions`) install. A new native function is one entry
  * here. */
object Registry {
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("char_class_counts", e => CharClassCounts(e.head)),
    ("letter_histogram", e => LetterHistogram(e.head)),
    ("cosine_sim", e => CosineSimilarity(e(0), e(1))),
    ("dot_product", e => DotProduct(e(0), e(1))),
    ("sq_dist", e => SqDist(e(0), e(1))),
    ("portable_hash60", e => PortableHash60(e.head)),
    ("simhash32", e => Simhash32(e.head)),
    ("simhash64", e => Simhash64(e.head)),
    ("sorted_intersect_count", e => SortedIntersectCount(e(0), e(1))),
    ("array_eq_count", e => ArrayEqCount(e(0), e(1))),
    ("word_tokens", e => WordTokens(e.head)),
    ("word_bigrams", e => WordBigrams(e.head)),
    ("word_bigram_hashes", WordBigramHashes.fromArgs),
    ("shingle_hashes", ShingleHashes.fromArgs),
    ("shingle_hash_pairs", ShingleHashPairs.fromArgs),
    ("segment_hashes", SegmentHashes.fromArgs),
    ("char_window_hashes", CharWindowHashes.fromArgs),
    ("winnow_hashes", WinnowHashes.fromArgs),
    ("zvalue2", e => ZValue2(e(0), e(1))),
    ("lex_max", e => LexExtreme(e(0), e(1), isMax = true)),
    ("lex_min", e => LexExtreme(e(0), e(1), isMax = false)))

  /** Registers [[functions]] in the session's function registry, so they
    * are usable from both `expr(...)` and `spark.sql(...)`. Idempotent: a
    * name that already holds its builder is left alone, so preparing a
    * session before every query neither re-registers a function nor logs
    * Spark's "replaced a previously registered function" warning. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, build) =>
      if (!reg.lookupFunctionBuilder(FunctionIdentifier(name)).contains(build))
        reg.createOrReplaceTempFunction(name, build, "built-in")
    }
  }
}
