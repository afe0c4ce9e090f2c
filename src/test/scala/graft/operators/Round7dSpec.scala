package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-7 fourth wave: winsorized mean and cross-source vocabulary
  * Jaccard, each checked against a driver recompute. */
class Round7dSpec extends SparkSpec {

  import spark.implicits._

  // ---- winsorized mean ----

  test("winsorized mean matches a driver recompute of clamped sums") {
    val orders = graft.core.Tables.orders(spark, sfDir)
      .select(col("o_orderpriority"), col("o_orderkey"),
        (col("o_totalprice").cast("decimal(15,2)") * 100).cast("long"))
      .as[(String, Long, Long)].collect()
    val expected = orders.groupBy(_._1).map { case (p, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._2)).map(_._3)
      val n = sorted.length
      val k = n * 5 / 100
      val lo = sorted(k)
      val hi = sorted(n - k - 1)
      val sum = sorted.map(c => math.max(lo, math.min(hi, c))).sum
      (p, n.toLong, lo, hi, sum, Math.floorDiv(1000L * sum, n.toLong))
    }.toSeq.sortBy(_._1)
    val got = AdvancedAggs.winsorizedMean(spark, sfDir)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
  }

  // ---- vocab overlap ----

  test("vocab overlap matches a driver recompute of source-pair jaccard") {
    val st = graft.core.Tables.documents(spark, sfDir)
      .select("source", "text").as[(String, String)].collect()
      .flatMap { case (s, t) => t.split("\\s+").filter(_.nonEmpty).map(s -> _) }
      .toSet
    val vocab = st.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val bySrc = st.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val sources = vocab.keys.toSeq.sorted
    val expected = (for {
      a <- sources; b <- sources if a < b
    } yield {
      val common = (bySrc(a) & bySrc(b)).size.toLong
      (a, b, vocab(a), vocab(b), common,
        common * 1000000L / (vocab(a) + vocab(b) - common))
    }).filter(_._5 > 0).sortBy(t => (t._1, t._2))
    val got = TextAnalysis.vocabOverlap(spark, sfDir)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
  }
}
