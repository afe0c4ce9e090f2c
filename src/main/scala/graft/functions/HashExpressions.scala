package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fast codegen implementations of the engine's portable md5-derived
  * hashes. Definitionally identical to the SQL formulations the DuckDB
  * oracles use — `portable_hash60(x)` IS
  * `cast(conv(substr(md5(x),1,15),16,10) as bigint)` — but computed
  * straight from the digest bytes, skipping the hex-string materialization
  * and radix parse that dominated the dedup queries' profiles.
  */
object HashUtil {
  private val tl: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** First 15 hex digits of md5(s) as a 60-bit long. */
  def hash60(s: UTF8String): Long = {
    val md = tl.get()
    md.reset()
    h60Of(md.digest(s.getBytes))
  }

  /** Whether any token is null: the token-array kernels below then return
    * null (SQL NULL), matching the null poisoning of the HOF formulations
    * they replace. */
  private def anyNull(toks: ArrayData): Boolean = {
    var i = 0
    while (i < toks.numElements()) {
      if (toks.isNullAt(i)) return true
      i += 1
    }
    false
  }

  /** The first 15 hex digits of an md5 digest as a 60-bit long: bytes 0..6
    * carry nibbles 0..13, plus the high nibble of byte 7. */
  @inline private def h60Of(d: Array[Byte]): Long =
    ((d(0) & 0xffL) << 52) | ((d(1) & 0xffL) << 44) | ((d(2) & 0xffL) << 36) |
      ((d(3) & 0xffL) << 28) | ((d(4) & 0xffL) << 20) | ((d(5) & 0xffL) << 12) |
      ((d(6) & 0xffL) << 4) | ((d(7) & 0xffL) >>> 4)

  /** h60 of every word k-gram `"t[i] … t[i+k-1]" + suffix` — one
    * incremental digest per shingle, identical by definition to
    * `hash60(concat_ws(' ', t[i], …, t[i+k-1]) || suffix)` but without
    * materializing any intermediate shingle String (the md5 is fed the
    * token bytes directly; token byte arrays are fetched once, not once
    * per shingle). Returns an empty array for < k tokens, null for a null
    * token. */
  def shingleHashes60(toks: ArrayData, suffix: Array[Byte], k: Int): ArrayData = {
    if (anyNull(toks)) return null
    val n = toks.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val bytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { bytes(i) = toks.getUTF8String(i).getBytes; i += 1 }
    val out = new Array[Long](n - k + 1)
    val md = tl.get()
    i = 0
    while (i <= n - k) {
      md.reset()
      var j = 0
      while (j < k) {
        if (j > 0) md.update(' '.toByte)
        md.update(bytes(i + j))
        j += 1
      }
      if (suffix.length > 0) md.update(suffix)
      out(i) = h60Of(md.digest())
      i += 1
    }
    new GenericArrayData(out)
  }

  /** (h60(shingle), h60(shingle || suffix)) per word k-gram, in ONE pass
    * over the tokens: the digest is fed the shingle bytes once and CLONED
    * before finalization — the clone absorbs the suffix — so the double
    * hashing family h_j = h1 + j·h2 costs one md5 feed per shingle
    * instead of two. Values are definitionally
    * `zip_with(shingle_hashes(toks), shingle_hashes(toks, suffix),
    * (a, b) -> struct(a, b))` (HashExpressionsSpec pins it), without the
    * CodegenFallback zip_with or the second token-byte pass. Null for a
    * null token. */
  def shingleHashPairs60(toks: ArrayData, suffix: Array[Byte], k: Int): ArrayData = {
    if (anyNull(toks)) return null
    val n = toks.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val bytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { bytes(i) = toks.getUTF8String(i).getBytes; i += 1 }
    val out = new Array[Any](n - k + 1)
    val md = tl.get()
    i = 0
    while (i <= n - k) {
      md.reset()
      var j = 0
      while (j < k) {
        if (j > 0) md.update(' '.toByte)
        md.update(bytes(i + j))
        j += 1
      }
      val md2 = md.clone().asInstanceOf[MessageDigest]
      md2.update(suffix)
      out(i) = new GenericInternalRow(
        Array[Any](h60Of(md.digest()), h60Of(md2.digest())))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** h60 of `prefix || concat_ws(' ', toks[i·w .. i·w+w−1])` for every
    * fixed-width non-overlapping token segment — the CCNet segment
    * hashes, fed the token bytes directly. Segment count matches the
    * `transform(sequence(0, (n−1) div 3), …)` formulation exactly,
    * including its two edge cases: an n = 0 array yields ONE hash of the
    * bare prefix (sequence(0, 0) over an empty slice), and the tail
    * segment may carry fewer than `w` tokens. Null for a null token. */
  def segmentHashes60(toks: ArrayData, prefix: Array[Byte], w: Int): ArrayData = {
    if (anyNull(toks)) return null
    val n = toks.numElements()
    val nSeg = (n - 1) / w + 1 // Java division truncates: n=0 -> 1
    val out = new Array[Long](nSeg)
    val md = tl.get()
    var s = 0
    while (s < nSeg) {
      md.reset()
      if (prefix.length > 0) md.update(prefix)
      var j = s * w
      val end = math.min(j + w, n)
      while (j < end) {
        if (j > s * w) md.update(' '.toByte)
        md.update(toks.getUTF8String(j).getBytes)
        j += 1
      }
      out(s) = h60Of(md.digest())
      s += 1
    }
    new GenericArrayData(out)
  }

  /** 32-bit TF-weighted simhash over an array of tokens — one pass, equal
    * by definition to folding `(hash60(t) >> j & 1) * 2 - 1` per bit plane
    * and setting bit j where the sum is positive. Null for a null token. */
  def simhash32(toks: ArrayData): java.lang.Long = {
    if (anyNull(toks)) return null
    val counters = new Array[Int](32)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      val h = hash60(toks.getUTF8String(i))
      var j = 0
      while (j < 32) {
        if (((h >>> j) & 1L) == 1L) counters(j) += 1 else counters(j) -= 1
        j += 1
      }
      i += 1
    }
    var acc = 0L
    var j = 0
    while (j < 32) {
      if (counters(j) > 0) acc |= 1L << j
      j += 1
    }
    java.lang.Long.valueOf(acc)
  }

  /** h60 of `prefix || l || ' ' || r` — definitionally
    * `hash60(concat(prefix, l, ' ', r))` with the digest fed the byte
    * slices directly (no concat String ever built). One call per word
    * bigram in the OOV scorer. */
  def hash60Parts(prefix: Array[Byte], l: UTF8String, r: UTF8String): Long = {
    val md = tl.get()
    md.reset()
    if (prefix.length > 0) md.update(prefix)
    md.update(l.getBytes)
    md.update(' '.toByte)
    md.update(r.getBytes)
    h60Of(md.digest())
  }

  private val HiSuffix = "#hi".getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** h60 of `s` with a byte suffix appended — definitionally
    * `hash60(s || suffix)` without materializing the concatenation. */
  private def hash60Suffixed(s: UTF8String, suffix: Array[Byte]): Long = {
    val md = tl.get()
    md.reset()
    md.update(s.getBytes)
    md.update(suffix)
    h60Of(md.digest())
  }

  /** 64-bit TF-weighted simhash: bit planes 0..31 from `hash60(t)`, planes
    * 32..63 from the independent `hash60(t || "#hi")` — two portable
    * md5-derived halves instead of one 64-bit digest read, so the DuckDB
    * oracle states the identical definition with the same `dh60` helper
    * the 32-bit oracles use (a 16-hex-digit fold would overflow DuckDB's
    * checked BIGINT arithmetic). Bit 63 set yields a negative long in
    * both engines — the signed value IS the fingerprint. Null for a null
    * token. */
  def simhash64(toks: ArrayData): java.lang.Long = {
    if (anyNull(toks)) return null
    val counters = new Array[Int](64)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      val lo = hash60(t)
      val hi = hash60Suffixed(t, HiSuffix)
      var j = 0
      while (j < 32) {
        if (((lo >>> j) & 1L) == 1L) counters(j) += 1 else counters(j) -= 1
        if (((hi >>> j) & 1L) == 1L) counters(j + 32) += 1 else counters(j + 32) -= 1
        j += 1
      }
      i += 1
    }
    var acc = 0L
    var j = 0
    while (j < 64) {
      if (counters(j) > 0) acc |= 1L << j
      j += 1
    }
    java.lang.Long.valueOf(acc)
  }

  // Rabin-Karp double-hash parameters. Two independent 30-bit polynomial
  // hashes are combined as h1 * 2^31 + h2 (< 2^62, exact in int64 for both
  // engines), giving ~60 effective bits — collision odds stay negligible at
  // gate scale and small enough at 100 TB that a final exact-substring
  // verify pass (same candidate-then-verify shape as the n-gram dedups)
  // closes the gap when byte-exact guarantees are required.
  private val WP1 = 1000000007L
  private val WB1 = 131L
  private val WP2 = 998244353L
  private val WB2 = 137L

  /** Rolling polynomial hash of every `w`-byte window of `s`: O(n) total
    * work instead of the O(n·w) of hashing each window from scratch — the
    * difference between a 40× write-amplified scan and a plain scan when
    * substring-level dedup runs over 100 TB of text. Each window value is
    * definitionally `fold(h·B + byte mod P)` over the window's bytes
    * (what the DuckDB oracle computes non-rolling via `list_reduce`), for
    * ASCII text where DuckDB's char-wise `ord(substr(…))` equals Spark's
    * UTF-8 bytes. Empty array for inputs shorter than `w`. */
  def charWindowHashes(s: UTF8String, w: Int): ArrayData = {
    new GenericArrayData(rollHashes(s.getBytes, w))
  }

  private def rollHashes(bytes: Array[Byte], w: Int): Array[Long] = {
    val n = bytes.length
    if (n < w) return Array.empty[Long]
    var pow1 = 1L
    var pow2 = 1L
    var k = 0
    while (k < w - 1) { pow1 = pow1 * WB1 % WP1; pow2 = pow2 * WB2 % WP2; k += 1 }
    val out = new Array[Long](n - w + 1)
    var h1 = 0L
    var h2 = 0L
    var i = 0
    while (i < w) {
      val c = (bytes(i) & 0xff).toLong
      h1 = (h1 * WB1 + c) % WP1
      h2 = (h2 * WB2 + c) % WP2
      i += 1
    }
    out(0) = h1 * 2147483648L + h2
    var j = 1
    while (j <= n - w) {
      val cOut = (bytes(j - 1) & 0xff).toLong
      val cIn = (bytes(j + w - 1) & 0xff).toLong
      h1 = ((h1 - cOut * pow1 % WP1 + WP1) % WP1 * WB1 + cIn) % WP1
      h2 = ((h2 - cOut * pow2 % WP2 + WP2) % WP2 * WB2 + cIn) % WP2
      out(j) = h1 * 2147483648L + h2
      j += 1
    }
    out
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    * 2003): over the rolling `w`-char window hashes, every window of `win`
    * consecutive hashes contributes its minimum (rightmost position on
    * ties), and the selected positions' hashes form the fingerprint set —
    * ~2/(win+1) of all positions, with the guarantee that any shared
    * substring of length ≥ w + win − 1 produces at least one shared
    * fingerprint. O(n) via a monotonic deque (pop-equal keeps the
    * rightmost minimum at the front). Sequences shorter than one window
    * winnow as a single window. May contain duplicate VALUES (the same
    * hash selected at different positions); callers dedupe. */
  def winnowHashes(s: UTF8String, w: Int, win: Int): ArrayData = {
    val hs = rollHashes(s.getBytes, w)
    val n = hs.length
    if (n == 0) return new GenericArrayData(Array.empty[Long])
    if (n < win) {
      var best = 0
      var i = 1
      while (i < n) { if (hs(i) <= hs(best)) best = i; i += 1 }
      return new GenericArrayData(Array(hs(best)))
    }
    val selected = new Array[Boolean](n)
    val dq = new Array[Int](n)
    var head = 0
    var tail = 0 // deque indices live in dq[head, tail)
    var j = 0
    while (j < n) {
      while (tail > head && hs(dq(tail - 1)) >= hs(j)) tail -= 1
      dq(tail) = j
      tail += 1
      val s0 = j - win + 1
      if (s0 >= 0) {
        while (dq(head) < s0) head += 1
        selected(dq(head)) = true
      }
      j += 1
    }
    var cnt = 0
    j = 0
    while (j < n) { if (selected(j)) cnt += 1; j += 1 }
    val out = new Array[Long](cnt)
    var o = 0
    j = 0
    while (j < n) { if (selected(j)) { out(o) = hs(j); o += 1 }; j += 1 }
    new GenericArrayData(out)
  }
}

/** `char_window_hashes(str[, width])` → array<bigint>: the rolling
  * Rabin-Karp double-hash of every `width`-char window (default 40). See
  * [[HashUtil.charWindowHashes]]. */
case class CharWindowHashes(child: Expression, width: Int)
    extends UnaryExpression {
  require(width >= 1, "window width must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"char_window_hashes expects string, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    HashUtil.charWindowHashes(input.asInstanceOf[UTF8String], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.charWindowHashes($c, $width)")

  override protected def withNewChildInternal(newChild: Expression): CharWindowHashes =
    copy(child = newChild)
}

object CharWindowHashes {
  /** `char_window_hashes(text)` or `char_window_hashes(text, width)` —
    * width must be a foldable integer literal. */
  def fromArgs(exprs: Seq[Expression]): CharWindowHashes = {
    val width = exprs.lift(1).map(e =>
      e.eval(null).asInstanceOf[Number].intValue).getOrElse(40)
    CharWindowHashes(exprs.head, width)
  }
}

/** `winnow_hashes(str[, width[, window]])` → array<bigint>: winnowed
  * fingerprint hashes over the rolling `width`-char window hashes with
  * winnowing window `window`. See [[HashUtil.winnowHashes]]. */
case class WinnowHashes(child: Expression, width: Int, window: Int)
    extends UnaryExpression {
  require(width >= 1 && window >= 1, "width and window must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"winnow_hashes expects string, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    HashUtil.winnowHashes(input.asInstanceOf[UTF8String], width, window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.winnowHashes($c, $width, $window)")

  override protected def withNewChildInternal(newChild: Expression): WinnowHashes =
    copy(child = newChild)
}

object WinnowHashes {
  def fromArgs(exprs: Seq[Expression]): WinnowHashes = {
    val width = exprs.lift(1).map(e =>
      e.eval(null).asInstanceOf[Number].intValue).getOrElse(40)
    val window = exprs.lift(2).map(e =>
      e.eval(null).asInstanceOf[Number].intValue).getOrElse(8)
    WinnowHashes(exprs.head, width, window)
  }
}

/** `portable_hash60(str)` → bigint. See [[HashUtil.hash60]]. */
case class PortableHash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"portable_hash60 expects string, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    HashUtil.hash60(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.hash60($c)")

  override protected def withNewChildInternal(newChild: Expression): PortableHash60 =
    copy(child = newChild)
}

/** `simhash32(array<string>)` → bigint. Null if the array (or any token,
  * matching the HOF formulation's null poisoning) is null. */
case class Simhash32(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash32 expects array<string>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    HashUtil.simhash32(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      KernelCall.orNull(ctx, ev, dataType, s"graft.functions.HashUtil.simhash32($c)"))

  override protected def withNewChildInternal(newChild: Expression): Simhash32 =
    copy(child = newChild)
}

/** `simhash64(array<string>)` → bigint: the web-scale fingerprint width
  * (Manku WWW'07 uses 64 bits) whose 4×16-bit bands keep banded candidate
  * generation near-linear — expected bucket size n/65536 vs the 32-bit
  * path's n/256. Null poisoning matches [[Simhash32]]. */
case class Simhash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects array<string>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    HashUtil.simhash64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      KernelCall.orNull(ctx, ev, dataType, s"graft.functions.HashUtil.simhash64($c)"))

  override protected def withNewChildInternal(newChild: Expression): Simhash64 =
    copy(child = newChild)
}

/** `shingle_hashes(array<string>[, suffix[, width]])` → array<bigint>: the
  * h60 of every word `width`-gram (default 3; optionally suffixed — the
  * MinHash double-hash family needs h60(s) and h60(s || '~')) in one pass
  * with no intermediate shingle strings. See [[HashUtil.shingleHashes60]].
  * Null if the array (or any token) is null, matching the HOF
  * formulation's poisoning. */
case class ShingleHashes(child: Expression, suffix: String, width: Int = 3)
    extends UnaryExpression {
  require(width >= 1, "shingle width must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  private lazy val suffixBytes: Array[Byte] =
    suffix.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes expects array<string>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    HashUtil.shingleHashes60(input.asInstanceOf[ArrayData], suffixBytes, width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val suffixRef = ctx.addReferenceObj("shingleSuffix", suffixBytes, "byte[]")
    nullSafeCodeGen(ctx, ev, c => KernelCall.orNull(ctx, ev, dataType,
      s"graft.functions.HashUtil.shingleHashes60($c, $suffixRef, $width)"))
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  /** Shared SQL-registration argument parsing: `shingle_hashes(toks)`,
    * `shingle_hashes(toks, suffix)`, `shingle_hashes(toks, suffix, width)`
    * — suffix and width must be foldable literals. */
  def fromArgs(exprs: Seq[Expression]): ShingleHashes = {
    val suffix = exprs.lift(1).map(e =>
      e.eval(null).asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
        .toString).getOrElse("")
    val width = exprs.lift(2).map(e =>
      e.eval(null).asInstanceOf[Number].intValue).getOrElse(3)
    ShingleHashes(exprs.head, suffix, width)
  }
}

/** `segment_hashes(array<string>, prefix, width)` → array<bigint>: the
  * h60 of every fixed-width non-overlapping token segment (prefix
  * prepended, tokens space-joined) — definitionally
  * `transform(sequence(0, (size(t)-1) div w), i ->
  * portable_hash60(concat(prefix, concat_ws(' ', slice(t, i*w+1, w)))))`
  * without the CodegenFallback transform or the segment strings.
  * HashExpressionsSpec pins the equivalence, edge cases included. */
case class SegmentHashes(child: Expression, prefix: String, width: Int)
    extends UnaryExpression {
  require(width >= 1, "segment width must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  private lazy val prefixBytes: Array[Byte] =
    prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"segment_hashes expects array<string>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    HashUtil.segmentHashes60(input.asInstanceOf[ArrayData], prefixBytes, width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val prefixRef = ctx.addReferenceObj("segPrefix", prefixBytes, "byte[]")
    nullSafeCodeGen(ctx, ev, c => KernelCall.orNull(ctx, ev, dataType,
      s"graft.functions.HashUtil.segmentHashes60($c, $prefixRef, $width)"))
  }

  override protected def withNewChildInternal(newChild: Expression): SegmentHashes =
    copy(child = newChild)
}

object SegmentHashes {
  /** `segment_hashes(toks, prefix, width)` — prefix/width must be
    * foldable literals. */
  def fromArgs(exprs: Seq[Expression]): SegmentHashes = {
    val prefix = exprs.lift(1).map(e =>
      e.eval(null).asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
        .toString).getOrElse("")
    val width = exprs.lift(2).map(e =>
      e.eval(null).asInstanceOf[Number].intValue).getOrElse(3)
    SegmentHashes(exprs.head, prefix, width)
  }
}

/** `shingle_hash_pairs(array<string>[, suffix[, width]])` →
  * array<struct<h1:bigint, h2:bigint>>: both components of the MinHash
  * double-hash family per shingle in ONE token pass — definitionally
  * `zip_with(shingle_hashes(toks), shingle_hashes(toks, suffix),
  * (a, b) -> named_struct('h1', a, 'h2', b))`, which ran a
  * CodegenFallback zip_with over TWO full shingle-hash passes. See
  * [[HashUtil.shingleHashPairs60]]; null-poisoning as [[ShingleHashes]]. */
case class ShingleHashPairs(child: Expression, suffix: String, width: Int = 3)
    extends UnaryExpression {
  require(width >= 1, "shingle width must be >= 1")
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("h1", LongType, nullable = false),
      StructField("h2", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true

  private lazy val suffixBytes: Array[Byte] =
    suffix.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingle_hash_pairs expects array<string>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    HashUtil.shingleHashPairs60(input.asInstanceOf[ArrayData], suffixBytes, width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val suffixRef = ctx.addReferenceObj("shingleSuffix", suffixBytes, "byte[]")
    nullSafeCodeGen(ctx, ev, c => KernelCall.orNull(ctx, ev, dataType,
      s"graft.functions.HashUtil.shingleHashPairs60($c, $suffixRef, $width)"))
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashPairs =
    copy(child = newChild)
}

object ShingleHashPairs {
  /** `shingle_hash_pairs(toks[, suffix[, width]])` — suffix and width
    * must be foldable literals. */
  def fromArgs(exprs: Seq[Expression]): ShingleHashPairs = {
    val suffix = exprs.lift(1).map(e =>
      e.eval(null).asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
        .toString).getOrElse("~")
    val width = exprs.lift(2).map(e =>
      e.eval(null).asInstanceOf[Number].intValue).getOrElse(3)
    ShingleHashPairs(exprs.head, suffix, width)
  }
}
