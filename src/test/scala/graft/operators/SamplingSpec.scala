package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** Deterministic-sampling invariants the hash gate alone can't show. */
class SamplingSpec extends SparkSpec {

  test("bottom-k aggregator equals the window formulation exactly") {
    val viaAgg = Sampling.bottomKStratified(spark, sfDir).collect().toSeq
    val viaWindow = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang").orderBy("h", "doc_id")
      Tables.documents(spark, sfDir)
        .select(col("lang"), col("doc_id").cast("string").as("doc_id"),
          expr("portable_hash60(concat('samp:', cast(doc_id as string)))").as("h"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= Sampling.K)
        .select(col("lang"), col("rn"), col("doc_id"), col("h"))
        .orderBy("lang", "rn")
        .collect().toSeq
    }
    assert(viaAgg == viaWindow)
  }

  test("bottom-k sample is mergeable: corpus sample = merge of split-half samples") {
    // The KMV-sampling property downstream caches rely on: bottom-k of a
    // union is the bottom-k of the parts' bottom-ks. Split the corpus by
    // doc parity, sample each half, merge, and compare to the full sample.
    val docs = Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id").cast("string").as("doc_id"),
        expr("portable_hash60(concat('samp:', cast(doc_id as string)))").as("h"),
        (col("doc_id") % 2).as("half"))
    val full = docs.groupBy("lang").agg(collect_list(struct("h", "doc_id")).as("hs"))
      .select(col("lang"), slice(array_sort(col("hs")), 1, Sampling.K).as("top"))
      .collect().map(r => r.getString(0) -> r.getSeq[Any](1)).toMap
    val halves = docs.groupBy("lang", "half")
      .agg(collect_list(struct("h", "doc_id")).as("hs"))
      .select(col("lang"), slice(array_sort(col("hs")), 1, Sampling.K).as("top"))
      .groupBy("lang").agg(flatten(collect_list(col("top"))).as("merged"))
      .select(col("lang"), slice(array_sort(col("merged")), 1, Sampling.K).as("top"))
      .collect().map(r => r.getString(0) -> r.getSeq[Any](1)).toMap
    assert(full == halves)
  }

  test("weighted priority: heavier docs are sampled above their uniform share") {
    // With weight = n_chars, the expected probability a doc enters the
    // sample grows with length; the deterministic gate corpus must show
    // the direction: the selected docs' mean length exceeds the corpus
    // mean (a uniform sample's expectation).
    val sampled = Sampling.weightedPriority(spark, sfDir)
    val meanSel = sampled.agg(avg("w")).head.getDouble(0)
    val meanAll = Tables.documents(spark, sfDir)
      .agg(avg(greatest(col("n_chars").cast("long"), lit(1L)))).head.getDouble(0)
    assert(meanSel > meanAll,
      s"weighted sample mean length $meanSel should exceed corpus mean $meanAll")
  }

  test("weighted priority selection is a strict total order (deterministic cutoff)") {
    val rows = Sampling.weightedPriority(spark, sfDir)
      .select("priority", "doc_id").collect().toSeq
    val keys = rows.map(r => (r.getLong(0), r.getString(1)))
    assert(keys == keys.sorted, "result must come back in (priority, doc_id) order")
    assert(keys.map(_._2).distinct.size == keys.size, "doc_id tie-break must be unique")
  }
}
