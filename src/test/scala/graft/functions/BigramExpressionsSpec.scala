package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The native tokenizer/bigram generators must equal the declarative HOF
  * formulations they replaced in lm_score / kneser_ney / bigram_oov,
  * byte-for-byte, on adversarial whitespace and unicode inputs — the
  * oracle gates then re-prove it on the real corpora. */
class BigramExpressionsSpec extends SparkSpec {

  private val texts: Seq[String] = Seq(
    "", " ", "\t\n", "one", " one ", "a b", "a  b", "  a\t b \n c ",
    "x y z w", "a b c", // U+00A0 is NOT Java \s — one token "a b"
    "héllo wörld déjà vu", "日本 語 テスト", "a b a b a",
    "tab\tsep\nnewline\rcr\fffvt end",
    "trailing space ", " leading", "many     spaces   here",
    "punct, words. and? more!", "a", "ab cd", "\n\n\nx\n\n\n")

  private def df = {
    import spark.implicits._
    texts.toDF("text")
  }

  test("word_tokens equals filter(split(text,'\\s+'), x -> x != '')") {
    val rows = df.select(
      expr("word_tokens(text)").as("fast"),
      expr("filter(split(text, '\\\\s+'), x -> x != '')").as("ref")).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString) }
  }

  test("word_bigrams equals the zip_with/slice bigram chain") {
    // the zip_with/slice REF errors on 0-word inputs (slice length -1);
    // production corpora never contain them, and the empty-input contract
    // of the native form is pinned by the size test below
    val rows = df
      .withColumn("ws", expr("filter(split(text, '\\\\s+'), x -> x != '')"))
      .filter(size(col("ws")) >= 1)
      .select(
        expr("word_bigrams(text)").cast("array<struct<l:string,r:string>>")
          .as("fast"),
        expr("zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1), " +
          "(a, b) -> named_struct('l', a, 'r', b))").as("ref")).collect()
    rows.foreach { r =>
      val fast = r.getSeq[org.apache.spark.sql.Row](0)
        .map(x => (x.getString(0), x.getString(1)))
      val ref = Option(r.getSeq[org.apache.spark.sql.Row](1))
        .getOrElse(Seq.empty).map(x => (x.getString(0), x.getString(1)))
      assert(fast == ref, r.toString)
    }
  }

  test("word_bigram_hashes equals transform(sequence)∘portable_hash60∘concat") {
    val rows = df
      .withColumn("tk", expr("filter(split(text, '\\\\s+'), x -> x != '')"))
      .filter(size(col("tk")) >= 2)
      .select(
        expr("word_bigram_hashes(text, 'bg:')").as("fast"),
        expr("transform(sequence(0, size(tk) - 2), " +
          "i -> portable_hash60(concat('bg:', tk[i], ' ', tk[i+1])))")
          .as("ref")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString) }
  }

  test("word_bigram_hashes and word_bigrams are empty (not an error) " +
      "below 2 words") {
    val rows = df.select(expr("word_bigram_hashes(text, 'bg:')").as("h"),
        expr("word_tokens(text)").as("tk"),
        expr("word_bigrams(text)").as("bg")).collect()
    rows.foreach { r =>
      val n = r.getSeq[String](1).length
      assert(r.getSeq[Long](0).length == math.max(n - 1, 0), r.toString)
      assert(r.getSeq[Any](2).length == math.max(n - 1, 0), r.toString)
    }
  }
}
