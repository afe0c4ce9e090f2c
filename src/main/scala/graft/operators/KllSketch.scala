package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Artifacts, Tables}

/** KLL quantile sketch (Karnin–Lang–Liberty, FOCS 2016) with
  * DETERMINISTIC hash-driven compaction — the mergeable quantile sketch
  * the sketch family lacked (r12 verdict item 5): KMV/HLL/CMS/Bloom/AMS
  * cover distincts, frequencies and membership; KLL covers ranks.
  *
  * The compactor is KLL's verbatim: a level-ℓ buffer of capacity
  * [[K]] items (each carrying weight 2^ℓ) compacts when full by sorting
  * and keeping every other item — which half decided by a coin — and
  * promoting the survivors to level ℓ+1 with doubled weight; the partial
  * buffer left at each level IS the sketch. Weight is conserved exactly
  * (K·2^ℓ in → (K/2)·2^(ℓ+1) promoted), so the retained items' weights
  * always sum to n, and one compaction perturbs any rank by at most 2^ℓ
  * — the classic bound Σ_ℓ ⌊n_ℓ/K⌋·2^ℓ this module carries through both
  * engines as `err_bound`.
  *
  * TWO determinizations make the sketch CONTENT hash-gateable (the
  * sketch_cms_users discipline — the whole (level, value, weight) table
  * compares against DuckDB, not just an estimate):
  *
  *  1. The stream order is CANONICAL: items are processed in ascending
  *     (portable_hash60('kll:'||key), key) order — a deterministic
  *     pseudo-random permutation of the input, which is also exactly the
  *     randomized arrival KLL's analysis wants ((l_orderkey,
  *     l_linenumber) is NOT unique in this corpus, so v joins the rank
  *     key; rows still tied on (h, key, v) are fully fungible). Buffer boundaries are
  *     then pure POSITION arithmetic: level-ℓ chunk c holds positions
  *     [cK, (c+1)K), and a promoted item's level-(ℓ+1) position is
  *     c·(K/2) + ⌊idx/2⌋ — no sequential state anywhere, the whole
  *     build is a dataflow of PARTITIONED windows (per-chunk sort/rank;
  *     the level-0 global rank is the two-phase bucket-rank +
  *     triangular-offset-join shape, never a single-task window).
  *  2. The compaction coin for (level ℓ, chunk c) is
  *     portable_hash60('kllc:ℓ:c') % 2 — hash-driven as KLL's "random
  *     bit per compaction", reproducible in SQL.
  *
  * Scale shape: level ℓ holds n/2^ℓ rows, so the build is ~2n total
  * row-passes of per-chunk (K-row) local sorts — every window is
  * partitioned by chunk, level 0 dominates and parallelizes across
  * n/K chunks. Each level is localCheckpoint'ed (the repo's lineage
  * discipline: the next level AND the retained branch both read it).
  * The finished sketch is ≤ K·(#levels) rows — bounded model metadata —
  * memoized per lineitem listing ([[graft.core.Artifacts.model]]) and
  * served to both gated queries, the sim-family ground-truth-cache
  * pattern.
  *
  * `sketch_kll_content` gates the sketch itself; `sketch_kll_quantiles`
  * gates the estimate-vs-exact rank error: for each target φ the
  * selected value's TRUE rank must sit within err_bound + max retained
  * weight of ⌈φ·n⌉ (selection lands within one retained item of the
  * sketch rank, hence the max-weight slack) — both engines compute the
  * same booleans from their own independently-built sketches. */
object Kll {

  /** Uniform compactor capacity. 128 keeps the worst-case rank error
    * Σ⌊n_ℓ/K⌋·2^ℓ ≈ n·(#levels)/K under ~8% at gate scales while the
    * sketch stays ≤ K·#levels rows. (KLL's (2/3)^depth capacity decay is
    * an additional constant-factor economy; the uniform-K compactor is
    * the same operator with the same per-compaction error bound.) */
  val K = 128

  /** Level-unroll cap mirrored in the oracle SQL: 24 levels cover
    * n ≤ K·2^23 ≈ 10^9 rows; the final level retains everything
    * unconditionally so weight conservation holds at any n. */
  val MaxLevels = 24

  /** (level, slot, doc_key, v, weight, h) rows + the exact-integer
    * error budget of the build. */
  case class KllModel(
      rows: Seq[(Long, Long, String, Double, Long, Long)],
      n: Long, errBound: Long)

  private[operators] def build(spark: SparkSession, dir: String): KllModel =
    Artifacts.model(spark, dir, "kll", "lineitem") {
      val base = Tables.lineitem(spark, dir)
        .select(col("l_extendedprice").as("v"),
          concat(col("l_orderkey").cast("string"), lit("-"),
            col("l_linenumber").cast("string")).as("uk"))
        .withColumn("h", expr("portable_hash60(concat('kll:', uk))"))
      // dense global rank by (h, uk) without a single-task window:
      // per-hash-range-bucket row_number + a 32x32 triangular offset join
      val b = base.withColumn("bucket", expr(s"h div ${1L << 55}"))
      val counts = b.groupBy("bucket").agg(count(lit(1)).as("cnt"))
      val cR = counts.select(col("bucket").as("bucket2"), col("cnt").as("cnt2"))
      val offsets = counts.join(cR, col("bucket2") < col("bucket"), "left")
        .groupBy("bucket").agg(coalesce(sum(col("cnt2")), lit(0L)).as("off"))
      var cur = b
        .withColumn("r",
          row_number().over(Window.partitionBy("bucket").orderBy("h", "uk", "v")))
        .join(broadcast(offsets), "bucket")
        .select(col("v"), col("uk"), col("h"),
          (col("off") + col("r") - 1).as("pos"))
        .localCheckpoint()
      val retained =
        scala.collection.mutable.ArrayBuffer.empty[(Long, String, Double, Long, Long)]
      var errTerm = 0L
      var level = 0
      var nLevel = cur.count()
      val n = nLevel
      while (nLevel > 0 && level < MaxLevels) {
        val wChunk = Window.partitionBy("chunk").orderBy("v", "h", "uk")
        val c = cur.withColumn("chunk", expr(s"pos div $K"))
          .withColumn("idx", row_number().over(wChunk) - 1)
          .withColumn("csz", count(lit(1)).over(Window.partitionBy("chunk")))
        val last = level == MaxLevels - 1
        val keep = if (last) c else c.filter(col("csz") < K)
        retained ++= keep.select("uk", "v", "h").collect().map(r =>
          (level.toLong, r.getString(0), r.getDouble(1), 1L << level,
            r.getLong(2)))
        if (!last) {
          errTerm += (nLevel / K) * (1L << level)
          cur = c.filter(col("csz") === K &&
              col("idx") % 2 === expr(
                s"portable_hash60(concat('kllc:$level:', cast(chunk as string))) % 2"))
            .select(col("v"), col("uk"), col("h"),
              (col("chunk") * (K / 2) + expr("idx div 2")).as("pos"))
            .localCheckpoint()
          nLevel = cur.count()
        } else nLevel = 0
        level += 1
      }
      val maxW = if (retained.isEmpty) 0L else retained.map(_._4).max
      val slotted = retained.toSeq
        .sortBy(t => (t._1, t._3, t._5, t._2)) // (level, v, h, uk)
        .groupBy(_._1).toSeq.flatMap { case (lvl, rs) =>
          rs.zipWithIndex.map { case ((_, uk, v, w, h), i) =>
            (lvl, (i + 1).toLong, uk, v, w, h)
          }
        }
        .sortBy(t => (t._1, t._2))
      KllModel(slotted, n, errTerm + maxW)
    }

  /** The gated sketch content: one row per retained item. */
  def kllContent(spark: SparkSession, dir: String): DataFrame = {
    val m = build(spark, dir)
    val spark2 = spark
    import spark2.implicits._
    m.rows.toDF("level", "slot", "doc_key", "v", "weight", "h")
      .orderBy("level", "slot")
  }

  private val Targets = Seq(50L, 95L, 99L)

  /** The gated estimator: per target quantile, the sketch's selected
    * value, its TRUE rank (one conditional-count scan), and the
    * analytic error budget the deviation must respect. */
  def kllQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val m = build(spark, dir)
    // cumulative weights over the sketch's (v, h, uk) total order —
    // driver arithmetic over bounded sketch rows (model metadata)
    val sorted = m.rows.sortBy(t => (t._4, t._6, t._3))
    val cum = sorted.scanLeft(0L)(_ + _._5).tail
    val targets = Targets.map { q =>
      val tr = (q * m.n + 99) / 100
      val i = cum.indexWhere(_ >= tr)
      (q, tr, sorted(i)._4)
    }
    val spark2 = spark
    import spark2.implicits._
    val tdf = targets.toDF("q_pct", "target_rank", "est_value")
    Tables.lineitem(spark, dir).select(col("l_extendedprice").as("lv"))
      .crossJoin(broadcast(tdf))
      .groupBy("q_pct", "target_rank", "est_value")
      .agg(sum(when(col("lv") <= col("est_value"), 1L).otherwise(0L))
        .as("est_true_rank"))
      .select(col("q_pct"), lit(m.n).as("n_rows"), col("target_rank"),
        col("est_value"), col("est_true_rank"),
        lit(m.errBound).as("err_bound"),
        (abs(col("est_true_rank") - col("target_rank")) <= lit(m.errBound))
          .as("ok"))
      .orderBy("q_pct")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sketch_kll_content" -> (kllContent _),
    "sketch_kll_quantiles" -> (kllQuantiles _)
  )

  /** DuckDB twin of portable_hash60 (the repo-wide md5 split). */
  private def h60Sql(x: String): String =
    s"list_reduce(list_transform(range(1,16), k -> CAST(strpos('0123456789abcdef', " +
      s"substr(md5($x), k, 1)) - 1 AS BIGINT)), (a,b) -> a*16+b)"

  private val ukSql =
    "CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)"

  /** The whole level circuit, generated once and shared by both oracles.
    * Every c/l stage is MATERIALIZED: each is referenced twice (retained
    * + promoted), and DuckDB's default inlining would expand the 24-deep
    * chain exponentially. */
  private def chainSql: String = {
    val sb = new StringBuilder
    sb ++= s"""base AS MATERIALIZED (SELECT l_extendedprice AS v, $ukSql AS uk,
              |  ${h60Sql(s"'kll:' || $ukSql")} AS h FROM lineitem),
              |l0 AS MATERIALIZED (SELECT v, uk, h,
              |  CAST(row_number() OVER (ORDER BY h, uk, v) - 1 AS BIGINT) AS pos
              |  FROM base)""".stripMargin
    for (l <- 0 until MaxLevels) {
      val last = l == MaxLevels - 1
      sb ++= s""",
                |c$l AS MATERIALIZED (SELECT v, uk, h, pos // $K AS chunk,
                |  row_number() OVER (PARTITION BY pos // $K ORDER BY v, h, uk) - 1 AS idx,
                |  count(*) OVER (PARTITION BY pos // $K) AS csz FROM l$l),
                |r$l AS (SELECT CAST($l AS BIGINT) AS level, uk, v,
                |  CAST(${1L << l} AS BIGINT) AS weight, h FROM c$l${
                   if (last) "" else s" WHERE csz < $K"})""".stripMargin
      if (!last) sb ++= s""",
                |l${l + 1} AS MATERIALIZED (SELECT v, uk, h,
                |  chunk * ${K / 2} + idx // 2 AS pos FROM c$l
                |  WHERE csz = $K AND idx % 2 = ${h60Sql(s"'kllc:$l:' || chunk")} % 2)"""
        .stripMargin
    }
    sb ++= s""",
              |content AS MATERIALIZED (${(0 until MaxLevels)
                 .map(l => s"SELECT * FROM r$l").mkString(" UNION ALL ")})"""
      .stripMargin
    sb.toString
  }

  val oracle: Map[String, String] = Map(
    "sketch_kll_content" ->
      s"""WITH $chainSql
         |SELECT level,
         |  CAST(row_number() OVER (PARTITION BY level ORDER BY v, h, uk)
         |    AS BIGINT) AS slot,
         |  uk AS doc_key, v, weight, h
         |FROM content ORDER BY level, slot""".stripMargin,
    "sketch_kll_quantiles" ->
      s"""WITH $chainSql,
         |cum AS (SELECT v, uk, h, weight,
         |  CAST(SUM(weight) OVER (ORDER BY v, h, uk) AS BIGINT) AS cw
         |  FROM content),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
         |eb AS (SELECT CAST(${(0 until MaxLevels - 1)
            .map(l => s"((SELECT COUNT(*) FROM l$l) // $K) * ${1L << l}")
            .mkString(" + ")}
         |  + (SELECT MAX(weight) FROM content) AS BIGINT) AS err_bound),
         |t AS (SELECT CAST(50 AS BIGINT) AS q_pct UNION ALL
         |      SELECT 95 UNION ALL SELECT 99),
         |tt AS (SELECT q_pct, (q_pct * n + 99) // 100 AS target_rank FROM t, nn),
         |sel AS (SELECT q_pct, target_rank, MIN(c.v) AS est_value
         |  FROM tt JOIN cum c ON c.cw >= tt.target_rank GROUP BY 1, 2),
         |er AS (SELECT s.q_pct,
         |  CAST(COUNT(CASE WHEN li.l_extendedprice <= s.est_value THEN 1 END)
         |    AS BIGINT) AS est_true_rank
         |  FROM sel s CROSS JOIN lineitem li GROUP BY 1)
         |SELECT s.q_pct, nn.n AS n_rows, CAST(s.target_rank AS BIGINT) AS target_rank,
         |  s.est_value, er.est_true_rank, eb.err_bound,
         |  abs(er.est_true_rank - s.target_rank) <= eb.err_bound AS ok
         |FROM sel s JOIN er USING (q_pct), nn, eb
         |ORDER BY q_pct""".stripMargin
  )
}
