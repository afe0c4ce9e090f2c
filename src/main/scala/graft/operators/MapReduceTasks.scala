package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** The reference engine's three map tasks + the canonical word count,
  * re-expressed as declarative Spark pipelines over a document corpus.
  *
  * Input contract: a DataFrame with a string column `content` (one row per
  * document). Output contract (all tasks): DataFrame(key: string,
  * value: long), sorted by key — the reference's `KeyValue` record stream
  * after the sum-reduce (tasks.h:12-15, tasks.c:149-161), canonicalized by
  * key order because the reference's own output order is nondeterministic
  * (main.cpp:285) and its golden files are key-sorted.
  *
  * Scale notes: all three tasks avoid per-character row explosion via the
  * one-pass codegen expressions in [[graft.functions]] — per-document output
  * is ≤26 rows, and Spark's partial (map-side) aggregation collapses those
  * to ≤26 rows per partition before the shuffle, something the reference
  * lacks entirely (it ships every raw KV over the wire, main.cpp:204-225).
  *
  * Character-unit decision (deliberate, documented divergence): the
  * reference counts BYTES (`strlen`, tasks.c:14/54/99); these pipelines
  * count CHARACTERS (`num_chars` in task3, and `others` = characters −
  * letters − digits in CharClassCounts). The two agree on any ASCII corpus —
  * verified byte-exact against all three golden outputs (GoldenParitySpec;
  * the sample corpus is pure ASCII) — and characters are the right unit
  * for a multilingual documents table: one é is one character, not two
  * bytes. The DuckDB oracle's `length` also counts characters, keeping the
  * correctness gate aligned. Byte-parity on non-ASCII input, if ever
  * needed, is `octet_length` on both sides.
  *
  * The rule: one character per byte outside 0x80–0xBF (a UTF-8
  * continuation byte). On valid UTF-8 that is the code point count (Spark's
  * `length`). `DocSource` does not validate UTF-8, and on invalid input the
  * rule still counts every byte exactly once: the bytes `E9 61 62` (a
  * 3-byte lead followed by two ASCII letters) are 3 characters, 2 of them
  * letters and 1 other, where Spark's `length` reads one 3-byte character
  * and would make `others` −1.
  */
object MapReduceTasks {

  /** map1 — character-class counts (reference tasks.c:13-45): counts of
    * ASCII letters / digits / everything else over the whole corpus. */
  def task1(docs: DataFrame): DataFrame =
    docs.select(expr("char_class_counts(content)").as("h"))
      .agg(
        sum(element_at(col("h"), 1)).as("letters"),
        sum(element_at(col("h"), 2)).as("numbers"),
        sum(element_at(col("h"), 3)).as("others"))
      .selectExpr(
        "stack(3, 'letters', letters, 'numbers', numbers, 'others', others) as (key, value)")
      .orderBy("key")

  /** map2 — dense case-folded letter histogram (tasks.c:53-88): exactly 26
    * rows `a`..`z`, zeros kept. Density is structural here: every document
    * emits a 26-slot histogram, so absent letters arrive as explicit zeros
    * (no dictionary join needed). */
  def task2(docs: DataFrame): DataFrame =
    docs.select(posexplode(expr("letter_histogram(content)")).as(Seq("idx", "cnt")))
      .groupBy(col("idx"))
      .agg(sum(col("cnt")).as("value"))
      .select(chr(col("idx") + 97).as("key"), col("value"))
      .orderBy("key")

  /** map3 — keyed row generator (tasks.c:98-133): per document, emits the
    * keys `we, love, cs, 3210` cycled `num_chars(content) % 49` times with
    * value 1, then sum-reduces. The generator shape is kept (`explode` = the
    * UDTF slot) but each document contributes its partial count directly
    * instead of `4*(len%49)` unit rows — same reduced output, O(4) rows per
    * document instead of O(192). */
  def task3(docs: DataFrame): DataFrame =
    docs.select(
        explode(array(lit("we"), lit("love"), lit("cs"), lit("3210"))).as("key"),
        (expr("num_chars(content)") % 49).cast("long").as("value"))
      .groupBy("key")
      .agg(sum("value").as("value"))
      .orderBy("key")

  /** Canonical MapReduce word count over whitespace-delimited tokens —
    * the generic flatMap→reduce shape the reference's pluggable map-fn
    * surface (main.cpp:83-95) exists to serve. Words come from the native
    * `word_tokens` expression: maximal runs of non-whitespace, whitespace
    * being Java regex `\s` (ASCII only), the same words as
    * `filter(split(content, '\\s+'), x -> x != '')` without the regex
    * split, the empty tokens and the filter. */
  def wordCount(docs: DataFrame): DataFrame =
    docs.select(explode(expr("word_tokens(content)")).as("key"))
      .groupBy("key")
      .agg(count(lit(1)).as("value"))
      .orderBy("key")

  /** The documents analytic table presented as a corpus (text ↦ content). */
  private def corpus(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("text").as("content"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mr_map1_char_classes" -> ((s, d) => task1(corpus(s, d))),
    "mr_map2_letter_histogram" -> ((s, d) => task2(corpus(s, d))),
    "mr_map3_keyword_gen" -> ((s, d) => task3(corpus(s, d))),
    "mr_wordcount" -> ((s, d) => wordCount(corpus(s, d)))
  )

  val oracle: Map[String, String] = Map(
    "mr_map1_char_classes" ->
      """SELECT k AS key, CAST(SUM(v) AS BIGINT) AS value FROM (
        |  SELECT 'letters' AS k, length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS v FROM documents
        |  UNION ALL SELECT 'numbers', length(regexp_replace(text, '[^0-9]', '', 'g')) FROM documents
        |  UNION ALL SELECT 'others', length(text) - length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) FROM documents
        |) GROUP BY 1 ORDER BY 1""".stripMargin,
    "mr_map2_letter_histogram" ->
      """WITH letters AS (SELECT chr(96 + CAST(i AS INTEGER)) AS key FROM range(1, 27) t(i)),
        |counts AS (
        |  SELECT ch AS key, COUNT(*) AS c
        |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]')) AS ch FROM documents)
        |  GROUP BY 1)
        |SELECT l.key AS key, CAST(COALESCE(c.c, 0) AS BIGINT) AS value
        |FROM letters l LEFT JOIN counts c ON l.key = c.key ORDER BY key""".stripMargin,
    "mr_map3_keyword_gen" ->
      """SELECT t.key AS key, CAST((SELECT SUM(length(text) % 49) FROM documents) AS BIGINT) AS value
        |FROM (VALUES ('3210'), ('cs'), ('love'), ('we')) t(key) ORDER BY key""".stripMargin,
    "mr_wordcount" ->
      """SELECT w AS key, COUNT(*) AS value
        |FROM (SELECT unnest(string_split_regex(text, '\s+')) AS w FROM documents)
        |WHERE length(w) > 0 GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
