package graft.operators

import graft.SparkSpec

/** The similarity subject: semantics of the cosine expression, recall of
  * the bucketed and LSH ANN paths against the exact baseline (the
  * measurement promised in Similarity's docs), the trained quantizers
  * against a sequential reference ([[LloydReference]]), ADC ranking,
  * recall accounting and the kNN vote. */
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

  /** (vec_id, embedding as doubles) of every vector, by vec_id. */
  private def embeddingVectors(): Seq[(Long, Array[Double])] = {
    import org.apache.spark.sql.functions._
    graft.core.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1).toSeq
  }

  /** The corpus-scaled coarse cell count: clamp(n / 1000, 8, 256). */
  private def coarseK(n: Int): Int = math.min(256, math.max(8, n / 1000))

  test("sim_ivf_kmeans equals the sequential Lloyd reference: cid exactly, " +
    "dist within 1e-9") {
    val vecs = embeddingVectors()
    val got = Similarity.ivfKmeans(spark, sfDir).collect()
    assert(got.length == vecs.length)
    assert(got.forall(_.getAs[Long]("k_cells") == coarseK(vecs.length)))
    val cells = LloydReference.train(vecs, 1, 64, coarseK(vecs.length))(0)
    val byId = vecs.toMap
    got.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      val (cid, dist) = LloydReference.nearest(byId(id), cells)
      assert(r.getAs[Int]("cid") == cid, s"cell mismatch for vec $id")
      assert(math.abs(r.getAs[Double]("dist") - dist) <= 1e-9,
        s"distance mismatch for vec $id")
    }
  }

  test("sim_ivfadc_residual's residual err_micro equals the sequential " +
    "Lloyd reference run on the residuals") {
    import org.apache.spark.sql.functions._
    val vecs = embeddingVectors()
    val coarse = LloydReference.train(vecs, 1, 64, coarseK(vecs.length))(0)
    val residuals = vecs.map { case (id, v) =>
      val c = coarse.find(_._1 == LloydReference.nearest(v, coarse)._1).get._2
      id -> Array.tabulate(64)(j => v(j) - c(j))
    }
    val book = LloydReference.train(residuals, 4, 16, 4)
    val expected = residuals.map { case (_, rv) =>
      (0 until 4).map { s =>
        val d = LloydReference.nearest(LloydReference.sub(rv, s, 16), book(s))._2
        math.floor(d * 1e6 + 0.5).toLong
      }.sum
    }.sum
    val got = Similarity.ivfadcResidual(spark, sfDir)
      .filter(col("variant") === "adc_residual").head().getAs[Long]("err_micro")
    assert(got == expected)
  }

  test("product quantization equals a sequential in-memory PQ reference " +
    "(codes exactly, MSE within float tolerance) and Lloyd did not regress") {
    val out = Similarity.productQuantize(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((0 to 3).map(s => r.getAs[Int](s"code$s")), r.getAs[Double]("mse"))).toMap
    val vecs = embeddingVectors()
    def sub(v: Array[Double], s: Int) = LloydReference.sub(v, s, 16)
    val books = LloydReference.train(vecs, 4, 16, 4)
    var initTotal = 0.0; var trainedTotal = 0.0
    vecs.foreach { case (id, v) =>
      val nearest = (0 to 3).map(s => LloydReference.nearest(sub(v, s), books(s)))
      val (gotCodes, gotMse) = out(id)
      assert(gotCodes == nearest.map(_._1), s"codes mismatch for vec $id")
      val expMse = nearest.map(_._2).sum / 64.0
      assert(math.abs(gotMse - expMse) < 1e-9, s"mse mismatch for vec $id")
      trainedTotal += gotMse
      initTotal += (0 to 3).map(s => (0 to 3).map(cid =>
        LloydReference.d2(sub(v, s), sub(vecs(cid)._2, s))).min).sum / 64.0
    }
    assert(trainedTotal <= initTotal + 1e-9, "Lloyd step regressed the objective")
  }

  test("ADC search: 3 ranked rows per query, adc nondecreasing in rank, " +
    "and adc >= 0") {
    val adc = Similarity.topkPqAdc(spark, sfDir).collect()
    val byQ = adc.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 10)
    byQ.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).sameElements(Array(1, 2, 3)))
      val ds = sorted.map(_.getAs[Double]("adc"))
      assert(ds.forall(_ >= 0.0))
      assert(ds.sameElements(ds.sorted), "adc not nondecreasing in rank")
    }
  }

  test("ANN recall report: accounting bounds hold and recall is the " +
    "hit ratio") {
    val r = Similarity.annRecall(spark, sfDir).head()
    val nq = r.getAs[Long]("n_queries")
    val hits = r.getAs[Long]("n_hits")
    val full = r.getAs[Long]("n_full")
    val zero = r.getAs[Long]("n_zero")
    assert(nq > 0)
    assert(hits >= 0 && hits <= 3 * nq)
    assert(full + zero <= nq)
    assert(hits >= 3 * full) // full-recall queries contribute 3 each
    assert(math.abs(r.getAs[Double]("recall_at_3") -
      hits.toDouble / (3 * nq)) < 1e-12)
  }

  test("knn classification matches a driver recompute of vote and " +
    "tie-break for the first queries") {
    import spark.implicits._
    val emb = graft.core.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding", "label")
      .as[(Long, Array[Float], Int)].collect()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val got = Similarity.knnClassify(spark, sfDir)
      .select("query_id", "pred_label", "n_votes")
      .as[(Long, Int, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    emb.take(5).foreach { case (qid, qv, _) =>
      val top5 = emb.filter(_._1 != qid)
        .map { case (vid, v, lbl) => (vid, lbl, cos(qv, v)) }
        .sortBy { case (vid, _, s) => (-s, vid) }.take(5)
      val votes = top5.groupBy(_._2).view.mapValues(_.length.toLong).toSeq
      val (predLabel, nVotes) = votes.minBy { case (l, n) => (-n, l) }
      assert(got(qid) == ((predLabel, nVotes)),
        s"query $qid: got ${got(qid)}, expected ($predLabel, $nVotes)")
    }
  }
}

/** Sequential in-memory twin of Similarity's Lloyd trainer, which trains
  * the coarse k-means, PQ and residual PQ alike: the same init (the
  * subvectors of vectors vec_id < k), one assignment, one update with
  * fixed-point means, and nearest-cell lookups for the final assignment.
  * Distances accumulate in ascending component order, as
  * CentroidSqDists does, and ties go to the smaller cid. */
object LloydReference {
  type Cells = Array[(Int, Array[Double])]

  /** Squared L2 distance, accumulated in ascending component order. */
  def d2(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i) - b(i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** The `width`-wide subspace `s` of `v`. */
  def sub(v: Array[Double], s: Int, width: Int): Array[Double] =
    v.slice(s * width, s * width + width)

  /** (cid, distance) of the nearest of the cid-sorted `cells`: the first
    * minimum. */
  def nearest(v: Array[Double], cells: Cells): (Int, Double) = {
    var best = (cells(0)._1, d2(v, cells(0)._2))
    cells.iterator.drop(1).foreach { case (cid, c) =>
      val d = d2(v, c)
      if (d < best._2) best = (cid, d)
    }
    best
  }

  /** Per subspace, the cid-sorted trained cells of `vecs` (vec_id,
    * vector): `subspaces` slices of `width` components, `k` cells each. */
  def train(vecs: Seq[(Long, Array[Double])], subspaces: Int, width: Int,
      k: Int): IndexedSeq[Cells] =
    (0 until subspaces).map { s =>
      val init: Cells = vecs.filter(_._1 < k)
        .map { case (id, v) => (id.toInt, sub(v, s, width)) }.sortBy(_._1).toArray
      vecs.map { case (_, v) => nearest(sub(v, s, width), init)._1 -> sub(v, s, width) }
        .groupBy(_._1).toArray
        .map { case (cid, members) =>
          val n = members.length
          cid -> Array.tabulate(width) { i =>
            members.map(m => math.floor(m._2(i) * 1e6 + 0.5).toLong).sum.toDouble / 1e6 / n
          }
        }
        .sortBy(_._1)
    }
}
