package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the reference's map-task semantics.
  *
  * Rationale (100 TB design): the naive Spark formulation of the reference's
  * letter histogram (tasks.c:53-88) is `explode(split(lower(text), ""))` —
  * one shuffle row PER CHARACTER, i.e. a 100 TB scan becomes ~100 T exploded
  * rows before the partial aggregate. These expressions compute the whole
  * per-document histogram in ONE pass inside whole-stage codegen, so the
  * downstream rows are 26 (or 3) per document and map-side partial
  * aggregation collapses them to 26 per partition before any shuffle.
  */

/** `char_class_counts(text)` → array<long>[letters, numbers, others].
  *
  * Mirrors the reference's map1 classification (tasks.c:20-29): ASCII
  * letters / ASCII digits / everything else. Letters and digits are counted
  * byte-wise (ASCII bytes only appear as single UTF-8 bytes); `others` is
  * charCount - letters - digits so a multi-byte codepoint counts once.
  */
case class CharClassCounts(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val letters = ctx.freshName("letters")
      val digits = ctx.freshName("digits")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      s"""
        byte[] $bytes = $c.getBytes();
        long $letters = 0L, $digits = 0L;
        for (int $i = 0; $i < $bytes.length; $i++) {
          byte $b = $bytes[$i];
          if (($b >= 97 && $b <= 122) || ($b >= 65 && $b <= 90)) $letters++;
          else if ($b >= 48 && $b <= 57) $digits++;
        }
        ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
          .fromPrimitiveArray(new long[]{
            $letters, $digits, ((long) $c.numChars()) - $letters - $digits});
      """
    })

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

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val counts = ctx.freshName("counts")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      s"""
        byte[] $bytes = $c.getBytes();
        long[] $counts = new long[26];
        for (int $i = 0; $i < $bytes.length; $i++) {
          byte $b = $bytes[$i];
          if ($b >= 97 && $b <= 122) $counts[$b - 97]++;
          else if ($b >= 65 && $b <= 90) $counts[$b - 65]++;
        }
        ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
          .fromPrimitiveArray($counts);
      """
    })

  override protected def withNewChildInternal(newChild: Expression): LetterHistogram =
    copy(child = newChild)
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
