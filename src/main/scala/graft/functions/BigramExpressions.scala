package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen word-tokenization / bigram generators for the text
  * quality family (lm_score, kneser_ney, bigram_oov).
  *
  * The declarative formulation those queries used —
  * `filter(split(text, '\\s+'), x -> x != '')` followed by
  * `zip_with(slice(ws, 1, n-1), slice(ws, 2, n-1), (a, b) -> struct(a, b))`
  * or `transform(sequence(0, n-2), i -> hash(tk[i], tk[i+1]))` — runs
  * three CodegenFallback higher-order functions per corpus row, each with
  * boxed per-element lambda steps and intermediate array allocations, and
  * each query scans the corpus 2-4 times (per model aggregation). These
  * expressions produce the same values in ONE byte-level pass per row
  * inside whole-stage codegen.
  *
  * Tokenization contract (pinned differentially in BigramExpressionsSpec):
  * words are maximal runs of non-whitespace bytes, whitespace being Java
  * regex `\s` = [ \t\n\x0B\f\r] — ASCII-only, and UTF-8 multi-byte
  * sequences never contain ASCII bytes, so the byte scan equals
  * `filter(split(text, '\\s+'), x -> x != '')` on ANY UTF-8 input.
  */
object BigramUtil {
  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || (b >= 9 && b <= 13) // \t \n \x0B \f \r

  /** Maximal non-whitespace byte runs as UTF8String slices (no per-token
    * byte copies beyond the one getBytes). */
  def splitWords(s: UTF8String): Array[UTF8String] = {
    val bytes = s.getBytes
    val out = new java.util.ArrayList[UTF8String]()
    var i = 0
    val n = bytes.length
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) out.add(UTF8String.fromBytes(bytes, start, i - start))
    }
    out.toArray(new Array[UTF8String](out.size))
  }

  /** array<string> of the words — `filter(split(text,'\\s+'), x -> x != '')`. */
  def wordTokens(s: UTF8String): ArrayData = {
    val ws = splitWords(s)
    new GenericArrayData(ws.asInstanceOf[Array[Any]])
  }

  /** array<struct<l,r>> of adjacent word pairs — the zip_with/slice
    * bigram chain. Empty for < 2 words. */
  def wordBigrams(s: UTF8String): ArrayData = {
    val ws = splitWords(s)
    if (ws.length < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](ws.length - 1)
    var i = 0
    while (i < ws.length - 1) {
      out(i) = new GenericInternalRow(Array[Any](ws(i), ws(i + 1)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** array<bigint> of `hash60(prefix || l || ' ' || r)` per adjacent word
    * pair — `transform(sequence(0, n-2), i ->
    * portable_hash60(concat(prefix, tk[i], ' ', tk[i+1])))` without the
    * concat materialization (digest fed the byte slices directly). */
  def wordBigramHashes(s: UTF8String, prefix: Array[Byte]): ArrayData = {
    val ws = splitWords(s)
    if (ws.length < 2) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](ws.length - 1)
    var i = 0
    while (i < ws.length - 1) {
      out(i) = HashUtil.hash60Parts(prefix, ws(i), ws(i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `word_tokens(text)` → array<string>. */
case class WordTokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    BigramUtil.wordTokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.BigramUtil.wordTokens($c)")

  override protected def withNewChildInternal(newChild: Expression): WordTokens =
    copy(child = newChild)
}

/** `word_bigrams(text)` → array<struct<l:string, r:string>>. */
case class WordBigrams(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("l", StringType, nullable = false),
      StructField("r", StringType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    BigramUtil.wordBigrams(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.BigramUtil.wordBigrams($c)")

  override protected def withNewChildInternal(newChild: Expression): WordBigrams =
    copy(child = newChild)
}

/** `word_bigram_hashes(text, prefix)` → array<bigint> of h60 per bigram. */
case class WordBigramHashes(child: Expression, prefix: String)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  private lazy val prefixBytes: Array[Byte] =
    prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  override def nullSafeEval(input: Any): Any =
    BigramUtil.wordBigramHashes(input.asInstanceOf[UTF8String], prefixBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pref = ctx.addReferenceObj("bgPrefix", prefixBytes, "byte[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.BigramUtil.wordBigramHashes($c, $pref)")
  }

  override protected def withNewChildInternal(newChild: Expression): WordBigramHashes =
    copy(child = newChild)
}

object WordBigramHashes {
  /** `word_bigram_hashes(text[, prefix])`; prefix must be a foldable
    * literal. */
  def fromArgs(exprs: Seq[Expression]): WordBigramHashes = {
    val prefix = exprs.lift(1).map(e =>
      e.eval(null).asInstanceOf[UTF8String].toString).getOrElse("")
    WordBigramHashes(exprs.head, prefix)
  }
}
