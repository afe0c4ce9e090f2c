package graft.functions

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, GraftPlanShim, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Every native function gives the same result through codegen and through
  * the interpreter. Each case runs twice over the same adversarial rows:
  * with whole-stage codegen and codegen-only expression factories, then
  * fully interpreted. The rows are read from a parquet file, not a local
  * `Seq`: the optimizer folds a projection over a local `Seq` into a
  * `LocalRelation`, which the interpreter evaluates in both modes. */
class ExecutionModeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val codegen = Seq(
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.fallback" -> "false")
  private val interpreted = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("s", StringType),
    StructField("toks", ArrayType(StringType)),
    StructField("a", ArrayType(LongType)),
    StructField("b", ArrayType(LongType)),
    StructField("fa", ArrayType(FloatType)),
    StructField("fb", ArrayType(FloatType)),
    StructField("da", ArrayType(DoubleType)),
    StructField("x", LongType),
    StructField("y", LongType)))

  private val longText: String = {
    val parts = Seq("alpha", "Beta9", " ", "é", "中文", "𝄞", "42", " ",
      "\t", "x\ny", "!?", "ZZ", "  ")
    (0 until 2500).map(i => parts((i * 7 + i / 3) % parts.length)).mkString
  }

  private def floats(n: Int, seed: Int): Seq[Any] =
    (0 until n).map(i => java.lang.Float.valueOf(((i * 37 + seed) % 101 - 50) / 7.0f))

  private val rows: Seq[Row] = Seq(
    Row(0, null, null, null, null, null, null, null, null, null),
    Row(1, "", Seq(), Seq(), Seq(), Seq(), Seq(), Seq(), 0L, 0L),
    Row(2, "a b", Seq("a", null, "b"), Seq(1L, null, 3L), Seq(1L, 2L, 3L),
      Seq(1.0f, null), Seq(1.0f, 2.0f), Seq(1.0, null), -1L, 1L),
    Row(3, "\u00a0x\u00a0y z", Seq("\u00a0x", "y"), Seq(1L, 2L, 3L), Seq(2L, 3L),
      Seq(1.0f), Seq(0.5f, 2.0f, 3.0f), Seq(1.5), Long.MaxValue, Long.MinValue),
    Row(4, "𝄞 music 𝄞𝄞 ab12",
      Seq("𝄞", "music", "ab", "cd", "ef"), Seq(-5L, 0L, 7L, 9L),
      Seq(-5L, 7L, 8L), Seq(1.0f, 2.0f), Seq(3.0f, -4.0f), Seq(0.5, 3.0),
      Long.MinValue, Long.MaxValue),
    Row(5, "Hello, World! 123\t\nfoo", Seq("the", "cat", "sat", "on", "the", "mat", "", "x"),
      Seq(0L), Seq(0L), Seq(0.0f, 0.0f), Seq(0.0f, 0.0f), Seq(0.0, 0.0), 12345L, -12345L),
    Row(6, longText, longText.split(" ").toSeq, (0L until 500L by 2L).toList, (0L until 500L by 3L).toList,
      floats(64, 1), floats(64, 2), Seq(-0.0, 1e300), Long.MaxValue, Long.MaxValue),
    Row(7, "abc", Seq("abc"), Seq(Long.MinValue, Long.MaxValue), Seq(Long.MaxValue),
      Seq(Float.MaxValue, Float.MinValue), Seq(Float.MinPositiveValue, Float.NaN),
      Seq(Double.MaxValue, -0.0), Long.MinValue, Long.MinValue))

  private lazy val table: DataFrame = {
    val dir = Files.createTempDirectory("modes").resolve("rows").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def sel(exprs: String*): DataFrame => DataFrame =
    t => t.select(col("id") +: exprs.map(expr): _*)

  private def lex(name: String): DataFrame => DataFrame =
    t => t.groupBy(col("id") % 3).agg(expr(s"$name(x, id)"))

  /** A 2-wide codebook: the row inputs hit its width, miss it and hold
    * nulls. */
  private val cents = Seq(Seq(0.0, 0.0), Seq(1.0, -1.0))
  private def centroids(c: String): Column =
    GraftPlanShim.column(CentroidSqDists(GraftPlanShim.expression(col(c)), cents))

  private val cases: Seq[(String, DataFrame => DataFrame)] = Seq(
    "char_class_counts" -> sel("char_class_counts(s)"),
    "letter_histogram" -> sel("letter_histogram(s)"),
    "num_chars" -> sel("num_chars(s)"),
    "cosine_sim" -> sel("cosine_sim(fa, fb)", "cosine_sim(fa, fa)"),
    "dot_product" -> sel("dot_product(fa, fb)"),
    "sq_dist" -> sel("sq_dist(fa, fb)", "sq_dist(da, fa)", "sq_dist(da, da)"),
    "portable_hash60" -> sel("portable_hash60(s)"),
    "simhash32" -> sel("simhash32(toks)"),
    "simhash64" -> sel("simhash64(toks)"),
    "sorted_intersect_count" -> sel("sorted_intersect_count(a, b)"),
    "array_eq_count" -> sel("array_eq_count(a, b)"),
    "word_tokens" -> sel("word_tokens(s)"),
    "word_bigrams" -> sel("word_bigrams(s)"),
    "word_bigram_hashes" -> sel("word_bigram_hashes(s)", "word_bigram_hashes(s, 'p|')"),
    "shingle_hashes" -> sel("shingle_hashes(toks)", "shingle_hashes(toks, '~', 2)"),
    "shingle_hash_pairs" -> sel("shingle_hash_pairs(toks)", "shingle_hash_pairs(toks, '#', 1)"),
    "segment_hashes" -> sel("segment_hashes(toks, 'seg:', 3)"),
    "char_window_hashes" -> sel("char_window_hashes(s, 4)", "char_window_hashes(s)"),
    "winnow_hashes" -> sel("winnow_hashes(s, 4, 3)", "winnow_hashes(s)"),
    "zvalue2" -> sel("zvalue2(x, y)"),
    "lex_max" -> lex("lex_max"),
    "lex_min" -> lex("lex_min"),
    "CentroidSqDists" -> (t => t.select(col("id"), centroids("fa"), centroids("da"))))

  private def run(confs: Seq[(String, String)], q: DataFrame => DataFrame): Seq[String] =
    withConf(confs: _*) {
      val df = q(table)
      val out = df.collect().map(_.toString).sorted.toSeq
      val compiled = find(df.queryExecution.executedPlan)(_.isInstanceOf[WholeStageCodegenExec])
      assert(compiled.isDefined == (confs == codegen),
        s"whole-stage codegen ${if (compiled.isDefined) "ran" else "did not run"} under $confs")
      out
    }

  test("every function on Registry.functions has a case") {
    val names = Registry.functions.map(_._1).toSet
    assert(names == cases.map(_._1).toSet - "CentroidSqDists",
      s"no case for ${(names -- cases.map(_._1)).mkString(", ")}")
  }

  cases.foreach { case (name, q) =>
    test(s"$name: codegen and interpreted results are equal") {
      val compiled = run(codegen, q)
      assert(compiled.length >= 3)
      assert(compiled == run(interpreted, q))
    }
  }

  test("CentroidSqDists follows sq_dist's NULL rule in both modes") {
    val q: DataFrame => DataFrame = t => t.select(col("id"), centroids("fa"),
      expr("sq_dist(fa, array(0d, 0d))"), expr("sq_dist(fa, array(1d, -1d))"))
    Seq(codegen, interpreted).foreach { confs =>
      withConf(confs: _*) {
        q(table).collect().foreach { r =>
          if (r.isNullAt(2)) assert(r.isNullAt(1), s"$r under $confs")
          else assert(r.getSeq[Double](1) == Seq(r.getDouble(2), r.getDouble(3)),
            s"$r under $confs")
        }
      }
    }
  }
}
