package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Deterministic corpus sampling — the data-selection stage of a
  * training pipeline (subset for ablations, per-stratum audit samples,
  * importance-weighted mixes). Randomized reservoir sampling is the
  * classic tool, but a 100 TB pipeline wants REPRODUCIBLE samples: the
  * same corpus snapshot must select the same rows on every rerun, on any
  * cluster layout, or downstream dedup/eval caches are invalidated. Both
  * operators therefore derive their "randomness" from the engine's
  * portable md5 `portable_hash60` (the repo-wide oracle-mirrored hash),
  * making the sample a pure function of the data — and hash-gateable in
  * DuckDB like any exact query.
  *
  * - [[bottomKStratified]] is bottom-k-by-hash per stratum (the KMV
  *   sampling view: the k smallest hashes of a set are a uniform
  *   without-replacement sample of it — Bar-Yossef et al., RANDOM 2002),
  *   executed as a bounded-state typed Aggregator: each map task keeps at
  *   most k (hash, doc) pairs per stratum, so the shuffle moves O(k) rows
  *   per stratum per partition, never the corpus. That is the 100 TB
  *   shape — no per-stratum sort, no windows, state k·|strata|.
  * - [[weightedPriority]] is Efraimidis–Spirakis priority sampling
  *   ("Weighted random sampling with a reservoir", IPL 2006): item i gets
  *   key u_i^(1/w_i); the k largest keys are a weighted
  *   without-replacement sample. Equivalently the k SMALLEST of
  *   -log2(u_i)/w_i — computed here in exact integers: the half-bit log
  *   discipline (`length(bin(x·x))` = ⌊2·log₂x⌋+1, libm-free) quantizes
  *   -log2(u) from a 20-bit hash slice, and the priority is one
  *   floor-division of nonnegative BIGINTs (where Spark `div` and DuckDB
  *   `//` agree). Physical plan: sort+limit fuses to
  *   TakeOrderedAndProject — per-partition bounded heaps, a k-row merge
  *   on one reducer, no global sort at any scale.
  *
  * Not in the reference (no sampling surface); built for the
  * training-pipeline brief next to [[TrainingPipeline]]'s split/quota
  * operators (which stratify by hash REMAINDER — per-row Bernoulli-style
  * membership; these two select exact-size samples instead).
  */
object Sampling {

  /** Sample size per stratum (bottom-k) / overall (weighted). Tiny on
    * purpose: the gate checks the mechanism; real corpora raise k with
    * the identical plan and k·|strata| driver-free state. */
  val K = 5

  type DocRow = (String, String, Long) // (lang, doc_id, h)

  /** Bounded bottom-k buffer of (h, doc_id), ascending, capped at k —
    * the same insertion-buffer discipline as [[graft.agg.TopK]], keyed
    * ascending on the hash. doc_id breaks hash ties (md5 collisions are
    * astronomically unlikely but determinism must not depend on that). */
  class BottomKByHash(k: Int)
      extends Aggregator[DocRow, List[(Long, String)], Seq[(Long, String, Int)]] {
    private def lt(a: (Long, String), b: (Long, String)): Boolean =
      a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)
    private def insert(buf: List[(Long, String)], x: (Long, String)): List[(Long, String)] = {
      val (before, after) = buf.span(lt(_, x))
      (before ::: x :: after).take(k)
    }
    override def zero: List[(Long, String)] = Nil
    override def reduce(b: List[(Long, String)], r: DocRow): List[(Long, String)] =
      insert(b, (r._3, r._2))
    // Both buffers arrive sorted ascending, so merge is ONE linear
    // merge-and-truncate — O(k), not the O(k²) per-element insertion fold
    // (fine at K=5, a hot spot once a real corpus raises k).
    override def merge(a: List[(Long, String)], b: List[(Long, String)]): List[(Long, String)] = {
      val out = List.newBuilder[(Long, String)]
      var (x, y, n) = (a, b, 0)
      while (n < k && (x.nonEmpty || y.nonEmpty)) {
        if (y.isEmpty || (x.nonEmpty && lt(x.head, y.head))) {
          out += x.head; x = x.tail
        } else { out += y.head; y = y.tail }
        n += 1
      }
      out.result()
    }
    override def finish(b: List[(Long, String)]): Seq[(Long, String, Int)] =
      b.zipWithIndex.map { case ((h, doc), i) => (h, doc, i + 1) }
    override def bufferEncoder: Encoder[List[(Long, String)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[(Long, String)]]()
    override def outputEncoder: Encoder[Seq[(Long, String, Int)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, String, Int)]]()
  }

  /** Per-language uniform sample of K documents: the K smallest
    * `portable_hash60('samp:' || doc_id)` per lang, with their in-stratum
    * rank. Rerunning on the same corpus — or on the corpus plus new docs —
    * keeps every previously-sampled doc whose hash still ranks (the
    * mergeable-sample property downstream caches rely on). */
  def bottomKStratified(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id").cast("string").as("doc_id"),
        expr("portable_hash60(concat('samp:', cast(doc_id as string)))").as("h"))
      .as[DocRow]
      .groupByKey(_._1)
      .agg(new BottomKByHash(K).toColumn.name("bk"))
      .flatMap { case (lang, bk) =>
        bk.map { case (h, doc, rn) => (lang, rn, doc, h) }
      }
      .toDF("lang", "rn", "doc_id", "h")
      .orderBy("lang", "rn")
  }

  /** Efraimidis–Spirakis weighted sample of 2K documents, weight =
    * max(n_chars, 1) (longer docs proportionally more likely — the
    * doc-length importance mix a token-budgeted pretraining selection
    * uses; the floor keeps degenerate empty docs from dividing by zero).
    *
    * u is the 20-bit slice h mod 2^20 mapped to [1, 2^20] (zero excluded
    * so the log is defined); -2·log2(u/2^20) = 41 − length(bin(u²)) in
    * half-bits (u² ≤ 2^40 keeps bin() in BIGINT range); the priority
    * scales by 10^9 before the weight divide so the quantized log keeps
    * resolution against 4-digit weights. Smallest-priority-first with
    * (h, doc_id) tie-breaks makes the selection a total order → exact
    * hash gate. sort+limit → TakeOrderedAndProject (bounded heaps, no
    * global sort); the oracle is the same ORDER BY ... LIMIT.
    *
    * RESOLUTION LIMIT (explicit, by design): the half-bit log yields only
    * 41 distinct neg_log_halfbits values, and the exponential law of
    * -log2(u) concentrates mass in the low bands — band b carries
    * probability 2^(-(b-1)/2) − 2^(-b/2), so band 1 alone holds
    * 1 − 2^(-1/2) ≈ 29% of docs. Inside one band the divided priority
    * ties across equal weights and selection falls back to the
    * (priority, doc_id) total order — i.e. within-band selection is
    * weight-then-id, statistically coarser than continuous-key ES. That
    * is the price of the exact-integer discipline (a float u^(1/w) key
    * can never hash-gate across engines): finer quantization in exact
    * BIGINTs means quarter-bits via length(bin(u⁴)) on a ≤15-bit slice
    * (u⁴ ≤ 2^60), trading hash entropy for a 16% top band — same shape,
    * one band finer. The gate corpus keeps half-bits; the estimator is
    * deterministic and gate-consistent either way, and the coarseness
    * only softens WEIGHTING fidelity, never reproducibility. */
  def weightedPriority(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id").cast("string").as("doc_id"), col("lang"),
        greatest(col("n_chars").cast("long"), lit(1L)).as("w"),
        expr("portable_hash60(concat('wsamp:', cast(doc_id as string)))").as("h"))
      .withColumn("u", col("h") % 1048576L + 1L)
      .withColumn("neg_log_halfbits",
        lit(41L) - length(bin(col("u") * col("u"))).cast("long"))
      .withColumn("priority", expr("(neg_log_halfbits * 1000000000) div w"))
      .select(col("doc_id"), col("lang"), col("w"), col("priority"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(K * 2)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_bottomk_stratified" -> (bottomKStratified _),
    "sample_weighted_priority" -> (weightedPriority _)
  )

  /** DuckDB twin of portable_hash60 (the repo-wide md5 split). */
  private def h60Sql(x: String): String =
    s"list_reduce(list_transform(range(1,16), k -> CAST(strpos('0123456789abcdef', " +
      s"substr(md5($x), k, 1)) - 1 AS BIGINT)), (a,b) -> a*16+b)"

  val oracle: Map[String, String] = Map(
    "sample_bottomk_stratified" ->
      s"""WITH hashed AS (SELECT lang, CAST(doc_id AS VARCHAR) AS doc_id,
         |    ${h60Sql("'samp:' || CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents)
         |SELECT lang, rn, doc_id, h FROM (
         |  SELECT lang, doc_id, h,
         |    CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS INTEGER) AS rn
         |  FROM hashed)
         |WHERE rn <= $K ORDER BY lang, rn""".stripMargin,
    "sample_weighted_priority" ->
      s"""WITH hashed AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang,
         |    GREATEST(CAST(n_chars AS BIGINT), 1) AS w,
         |    ${h60Sql("'wsamp:' || CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents),
         |keyed AS (SELECT doc_id, lang, w, h, h % 1048576 + 1 AS u FROM hashed),
         |pri AS (SELECT doc_id, lang, w,
         |    (41 - length(bin(u * u))) * 1000000000 // w AS priority
         |  FROM keyed)
         |SELECT doc_id, lang, w, priority FROM pri
         |ORDER BY priority, doc_id LIMIT ${K * 2}""".stripMargin
  )
}
