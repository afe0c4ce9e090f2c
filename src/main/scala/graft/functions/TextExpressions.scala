package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
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
  *
  * The kernels are the hot loop of the map tasks' stages, so they are
  * written for the byte rate of the scan that feeds them:
  *  - they read the string where it lies (`getBaseObject`/`getBaseOffset`
  *    with `Platform` reads), never `getBytes`, which copies the whole
  *    document whenever the string is a slice of an `UnsafeRow`;
  *  - each byte is classified by a 256-entry table into counters that live
  *    in registers, spread over 4 independent lanes: no data-dependent
  *    branch to mispredict on mixed text and no chain of increments to the
  *    same counter from one byte to the next;
  *  - characters are counted as the bytes outside 0x80–0xBF (one per UTF-8
  *    lead or ASCII byte), eight bytes per step, instead of Spark's
  *    `numChars`, which steps through the string one lead byte at a time.
  */

/** The map-task kernels: each is the whole per-document body of one
  * expression below, run by both its interpreted and its codegen path.
  *
  * Character unit: one character per byte outside 0x80–0xBF (a UTF-8
  * continuation byte). On valid UTF-8 that is Spark's `numChars`; on
  * invalid UTF-8 every byte that is not a continuation byte counts once,
  * so a truncated or stray sequence never makes a count negative. */
object TextUtil {

  private final val LetterShift = 0
  private final val DigitShift = 21
  private final val CharShift = 42
  private final val FieldMask = (1L << 21) - 1
  /** Bytes summed into one packed accumulator before it is unpacked: each
    * 21-bit field then holds at most 2^20, so no field carries into the
    * next. */
  private final val Block = 1 << 20

  /** Byte → packed increments: 1 at bit 0 for an ASCII letter, at bit 21
    * for an ASCII digit, at bit 42 for a byte that starts a character. */
  private val classBits: Array[Long] = Array.tabulate(256) { b =>
    val letter = if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')) 1L else 0L
    val digit = if (b >= '0' && b <= '9') 1L else 0L
    val start = if ((b & 0xC0) != 0x80) 1L else 0L
    (letter << LetterShift) | (digit << DigitShift) | (start << CharShift)
  }

  /** Histogram slots per lane: 26 letters, one sink slot for every other
    * byte, padded to 32. */
  private final val Slots = 32
  /** Byte → slot: 0..25 for `a`..`z` and `A`..`Z`, 26 for any other byte. */
  private val letterSlot: Array[Int] = Array.tabulate(256) { b =>
    if (b >= 'a' && b <= 'z') b - 'a' else if (b >= 'A' && b <= 'Z') b - 'A' else 26
  }

  /** `[letters, digits, others]` of `s`: ASCII letters and ASCII digits,
    * and `others` = characters − letters − digits, characters counted as in
    * [[numChars]]. ASCII bytes are never continuation bytes, so `others`
    * is never negative. */
  def charClassCounts(s: UTF8String): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val table = classBits
    var letters = 0L
    var digits = 0L
    var chars = 0L
    var i = 0
    while (i < n) {
      val end = i + math.min(n - i, Block)
      var a0 = 0L
      var a1 = 0L
      var a2 = 0L
      var a3 = 0L
      while (i < end - 3) {
        val p = off + i
        a0 += table(Platform.getByte(base, p) & 0xFF)
        a1 += table(Platform.getByte(base, p + 1) & 0xFF)
        a2 += table(Platform.getByte(base, p + 2) & 0xFF)
        a3 += table(Platform.getByte(base, p + 3) & 0xFF)
        i += 4
      }
      while (i < end) {
        a0 += table(Platform.getByte(base, off + i) & 0xFF)
        i += 1
      }
      val sum = a0 + a1 + a2 + a3
      letters += (sum >>> LetterShift) & FieldMask
      digits += (sum >>> DigitShift) & FieldMask
      chars += (sum >>> CharShift) & FieldMask
    }
    UnsafeArrayData.fromPrimitiveArray(Array(letters, digits, chars - letters - digits))
  }

  /** The 26 case-folded ASCII letter counts of `s` (index 0 = 'a'). */
  def letterHistogram(s: UTF8String): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val slot = letterSlot
    // Four lanes of slots; a lane counts at most a quarter of the bytes
    // (plus the tail), so an Int cannot overflow.
    val lanes = new Array[Int](4 * Slots)
    var i = 0
    while (i < n - 3) {
      val p = off + i
      lanes(slot(Platform.getByte(base, p) & 0xFF)) += 1
      lanes(Slots + slot(Platform.getByte(base, p + 1) & 0xFF)) += 1
      lanes(2 * Slots + slot(Platform.getByte(base, p + 2) & 0xFF)) += 1
      lanes(3 * Slots + slot(Platform.getByte(base, p + 3) & 0xFF)) += 1
      i += 4
    }
    while (i < n) {
      lanes(slot(Platform.getByte(base, off + i) & 0xFF)) += 1
      i += 1
    }
    val counts = new Array[Long](26)
    var k = 0
    while (k < 26) {
      counts(k) = lanes(k).toLong + lanes(Slots + k) + lanes(2 * Slots + k) + lanes(3 * Slots + k)
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(counts)
  }

  /** The characters of `s`: its bytes that are not continuation bytes
    * (0x80–0xBF). Eight bytes per step where the platform reads unaligned
    * words: `w & ~(w << 1)` keeps bit 7 of a byte iff its bit 6 is clear,
    * so the 0x80 mask leaves one bit per continuation byte (the bit shifted
    * in from the byte below lands on bit 0, outside the mask). */
  def numChars(s: UTF8String): Int = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var continuations = 0
    var i = 0
    if (Platform.unaligned()) {
      while (i < n - 7) {
        val w = Platform.getLong(base, off + i)
        continuations += java.lang.Long.bitCount(w & ~(w << 1) & 0x8080808080808080L)
        i += 8
      }
    }
    while (i < n) {
      val b = Platform.getByte(base, off + i).toInt
      continuations += (b >> 7) & ~(b >> 6) & 1
      i += 1
    }
    n - continuations
  }
}

/** `char_class_counts(text)` → array<long>[letters, numbers, others].
  *
  * Mirrors the reference's map1 classification (tasks.c:20-29): ASCII
  * letters / ASCII digits / every other character. See
  * [[TextUtil.charClassCounts]].
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

/** `num_chars(text)` → int: the characters of `text` as [[TextUtil.numChars]]
  * counts them (equal to `length` on valid UTF-8). map3's length
  * (tasks.c:99). */
case class NumChars(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    TextUtil.numChars(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextUtil.numChars($c)")

  override protected def withNewChildInternal(newChild: Expression): NumChars =
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
    ("num_chars", e => NumChars(e.head)),
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
