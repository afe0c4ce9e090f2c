package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** The map-task kernels of [[TextUtil]] against plain per-byte definitions:
  * a letter is an ASCII letter byte, a digit an ASCII digit byte, and a
  * character any byte outside 0x80–0xBF. The inputs cover every byte value,
  * every length of the unrolled loops' tails, valid and malformed UTF-8,
  * slices at odd offsets of a larger array and off-heap strings. */
class TextKernelsSpec extends SparkSpec {

  private def isLetter(b: Int): Boolean = (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')
  private def isDigit(b: Int): Boolean = b >= '0' && b <= '9'
  private def isCharStart(b: Int): Boolean = (b & 0xC0) != 0x80

  private def expectedClasses(bytes: Array[Byte]): Seq[Long] = {
    val u = bytes.map(_ & 0xFF)
    val letters = u.count(isLetter).toLong
    val digits = u.count(isDigit).toLong
    Seq(letters, digits, u.count(isCharStart) - letters - digits)
  }

  private def expectedHistogram(bytes: Array[Byte]): Seq[Long] = {
    val folded = bytes.map(_ & 0xFF).filter(isLetter).map(b => (b | 0x20) - 'a')
    (0 until 26).map(k => folded.count(_ == k).toLong)
  }

  private def expectedChars(bytes: Array[Byte]): Int = bytes.count(b => isCharStart(b & 0xFF))

  /** Checks all three kernels on `s`, whose bytes are `bytes`. */
  private def check(s: UTF8String, bytes: Array[Byte], what: String): Unit = {
    val hex = bytes.take(80).map(b => f"${b & 0xFF}%02x").mkString(" ")
    assert(TextUtil.charClassCounts(s).toLongArray().toSeq == expectedClasses(bytes),
      s"char_class_counts of $what [$hex]")
    assert(TextUtil.letterHistogram(s).toLongArray().toSeq == expectedHistogram(bytes),
      s"letter_histogram of $what [$hex]")
    assert(TextUtil.numChars(s) == expectedChars(bytes), s"num_chars of $what [$hex]")
  }

  private def checkBytes(bytes: Array[Byte], what: String): Unit =
    check(UTF8String.fromBytes(bytes), bytes, what)

  private val random = new Random(20261021L)

  private def randomBytes(n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    random.nextBytes(b)
    b
  }

  test("every single byte 0x00-0xFF") {
    (0 until 256).foreach(b => checkBytes(Array(b.toByte), f"byte $b%02x"))
  }

  test("random byte strings of every length 0-70") {
    for (n <- 0 to 70; _ <- 0 until 40) checkBytes(randomBytes(n), s"random length $n")
  }

  test("valid 2-, 3- and 4-byte UTF-8: num_chars equals Spark's length") {
    val fixed = Seq("é", "ÄÖü", "中文字", "𝄞", "a𝄞b", "x é中𝄞9", "߿ࠀ￿",
      new String(Character.toChars(0x10ffff)), "日本語のテキスト 123")
    val drawn = (0 until 300).map { _ =>
      val cps = Seq.fill(random.nextInt(40)) {
        random.nextInt(4) match {
          case 0 => random.nextInt(0x80)
          case 1 => 0x80 + random.nextInt(0x800 - 0x80)
          case 2 => 0xe000 + random.nextInt(0x10000 - 0xe000)
          case _ => 0x10000 + random.nextInt(0x110000 - 0x10000)
        }
      }
      new String(cps.toArray, 0, cps.length)
    }
    (fixed ++ drawn).foreach { str =>
      val s = UTF8String.fromString(str)
      assert(TextUtil.numChars(s) == s.numChars(), s"num_chars of $str")
      assert(TextUtil.numChars(s) == str.codePointCount(0, str.length), s"num_chars of $str")
      check(s, str.getBytes(UTF_8), str)
    }
  }

  test("malformed UTF-8: every byte outside 0x80-0xBF is one character") {
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    checkBytes(bytes(0x80), "a lone continuation byte")
    checkBytes(bytes(0x61, 0xbf, 0x62), "a continuation byte between letters")
    checkBytes(bytes(0x61, 0x62, 0xe4, 0xb8), "a lead byte truncated at the end")
    checkBytes(bytes(0xf0, 0x9d, 0x84), "a 4-byte lead truncated at the end")
    val e9 = UTF8String.fromBytes(bytes(0xe9, 0x61, 0x62))
    assert(TextUtil.charClassCounts(e9).toLongArray().toSeq == Seq(2L, 0L, 1L))
    assert(TextUtil.letterHistogram(e9).toLongArray().toSeq.take(2) == Seq(1L, 1L))
    assert(TextUtil.numChars(e9) == 3)
  }

  test("strings longer than one 2^20-byte accumulator block") {
    // 5 MiB + 3 of one class each: a packed 21-bit field that was not
    // flushed per block would carry into the next field
    val n = (5 << 20) + 3
    Seq[Byte]('a', '7', 0xc3.toByte, 0xa9.toByte).foreach { b =>
      checkBytes(Array.fill(n)(b), f"$n bytes of ${b & 0xFF}%02x")
    }
    checkBytes(randomBytes(n), s"$n random bytes")
  }

  test("slices at odd offsets of a larger array") {
    for (n <- 0 to 70 by 3; start <- Seq(1, 3, 5, 7, 9, 13)) {
      val padded = randomBytes(start + n + 11)
      val s = UTF8String.fromBytes(padded, start, n)
      check(s, padded.slice(start, start + n), s"slice [$start, ${start + n})")
    }
  }

  test("off-heap strings") {
    for (n <- Seq(0, 1, 7, 8, 9, 15, 16, 17, 63, 64, 65, 70, 1000); shift <- Seq(0, 1, 3)) {
      val bytes = randomBytes(n)
      val address = Platform.allocateMemory(n + shift + 1L)
      try {
        Platform.copyMemory(bytes, Platform.BYTE_ARRAY_OFFSET, null, address + shift, n.toLong)
        check(UTF8String.fromAddress(null, address + shift, n), bytes, s"off-heap length $n")
      } finally Platform.freeMemory(address)
    }
  }

  test("num_chars equals length in SQL on valid UTF-8 rows read from a file") {
    import spark.implicits._
    val dir = Files.createTempDirectory("text_kernels").resolve("rows").toString
    Seq("", "plain ascii 42", "é中𝄞 mixed", "x" * 1000 + "ü" * 77, null).toDF("s")
      .write.parquet(dir)
    val rows = spark.read.parquet(dir)
      .select(expr("num_chars(s)").as("n"), length(col("s")).as("len")).collect()
    assert(rows.length == 5)
    rows.foreach(r => assert(r.isNullAt(0) == r.isNullAt(1) && r.get(0) == r.get(1), s"$r"))
  }
}
