package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** The canonical training-data preparation pipeline composed end-to-end
  * from the engine's pillars, as one declarative plan:
  *
  *   documents
  *     → exact dedup             (keep min doc_id per sha2 content hash)
  *     → quality filter          (length band + stopword-ratio floor)
  *     → deterministic split     (portable_hash60(text) mod 100:
  *                                <90 train / <95 val / else test)
  *     → corpus report           (per lang × split: docs, tokens, chars)
  *
  * Everything stays in one Catalyst plan — dedup is a hash aggregation,
  * the filter is a scan predicate over codegen'd expressions, the split is
  * a pure hash of content (reproducible across runs, machines, and
  * engines — the oracle assigns identical splits), and the report is a
  * partial→final aggregation on a low-cardinality key. At 100 TB this is
  * two shuffles total: the dedup hash and the final report.
  */
object TrainingPipeline {

  def trainingSplitReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("toks", split(col("text"), "\\s+"))
    // exact dedup: keep the lowest doc_id per content hash
    val deduped = docs
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(sha2(col("text"), 256))
          .orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
    val filtered = deduped
      .withColumn("n_toks", size(col("toks")))
      .withColumn("stop_ratio",
        expr("size(filter(toks, t -> t in ('the', 'a', 'of', 'and', 'to')))")
          .cast("double") / col("n_toks"))
      .filter(col("n_toks") >= 10 && col("stop_ratio") >= 0.01)
    filtered
      .withColumn("bucket", expr("portable_hash60(text) % 100"))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val")
          .otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks").cast("long")).as("n_tokens"),
        sum(length(col("text")).cast("long")).as("n_chars"))
      .orderBy("lang", "split")
  }

  /** Deterministic stratified sampling report: within every (lang, source)
    * stratum keep the ~10% of docs whose portable content-independent hash
    * of doc_id lands in bucket 0 of 10. Hash-based sampling (vs rand()) is
    * reproducible across runs/engines/cluster sizes, composes with
    * incremental data (a doc's membership never changes as the corpus
    * grows), and stratifies for free — a uniform hash is uniform within
    * every stratum. One scan, one low-cardinality aggregation. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("keep",
        expr("portable_hash60(cast(doc_id as string)) % 10 = 0"))
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"),
        min(when(col("keep"), col("doc_id"))).as("first_sampled_doc"))
      .withColumn("sample_rate",
        col("n_sampled").cast("double") / col("n_total"))
      .orderBy("lang", "source")

  /** Benchmark decontamination — the step every serious training pipeline
    * runs before the split: find training documents that share a word
    * 4-gram with any held-out benchmark document (here, the deterministic
    * doc_id % 19 == 0 slice stands in for the benchmark suite). The
    * standard n-gram-overlap method of GPT-3 appendix C / PaLM §7
    * (public descriptions), expressed as one inverted-index equi-join.
    *
    * Scale shape: shingles become 8-byte portable hashes in one codegen
    * pass (no n-gram strings), so the join shuffles longs, never text;
    * the benchmark side is a tiny fraction of the corpus and AQE
    * broadcast-converts it at runtime, leaving ONE shuffle over the
    * training shingles. Output is per contaminated doc: how many
    * benchmark docs it collides with and on how many distinct shingles. */
  def decontamination(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .select(col("doc_id"), explode(expr("shingle_hashes(toks, '', 4)")).as("h"))
      .distinct()
    val bench = sh.filter(col("doc_id") % 19 === 0)
      .select(col("doc_id").as("bench_id"), col("h"))
    sh.filter(col("doc_id") % 19 =!= 0)
      .join(bench, "h")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("bench_id")).as("n_bench_docs"),
        countDistinct(col("h")).as("n_shared_shingles"))
      .orderBy("doc_id")
  }

  /** Context-window sequence packing: assign every document to a training
    * sequence of ≤ 1024 tokens, greedy in doc_id order within a hash
    * shard — the distributed form of the "pack documents into fixed-length
    * training sequences" step of every pretraining pipeline. A document
    * lands in the chunk where its running token total STARTS
    * (`(cum - n) div 1024`), which is deterministic, engine-independent,
    * and needs only a running sum — no sequential packer.
    *
    * Scale shape: shards are a uniform hash of doc_id, so each shard's
    * window pass is independent and balanced; shard count (8 here) scales
    * with the cluster, keeping every partition's cumsum bounded. Output is
    * the packing manifest per (shard, chunk). */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("n_toks"))
      .withColumn("shard",
        expr("portable_hash60(cast(doc_id as string)) % 8"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs
      .withColumn("cum", sum(col("n_toks")).over(w))
      .withColumn("chunk", expr("(cum - n_toks) div 1024"))
      .groupBy(col("shard"), col("chunk"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("shard", "chunk")
  }

  /** Token-budget apportionment across source languages — Hamilton's
    * largest-remainder method (the apportionment scheme with no
    * population paradox inside a single allocation): a fixed training
    * budget B = 10⁶ tokens splits across langs proportionally to token
    * mass, each lang gets ⌊B·t_l/T⌋ outright, and the B − Σ⌊·⌋ leftover
    * tokens go one each to the langs with the largest remainders
    * (remainder desc, lang asc — fully deterministic). This is the exact
    * integer form of the mixture-weights step every multi-source
    * training run performs; Σquota = B by construction, which the gate
    * verifies lang-by-lang.
    *
    * Scale shape: one corpus scan into a per-lang aggregate (≤ a few
    * dozen rows at any corpus size), then an ≤L×L aggregate self-join
    * for the remainder rank — never an unpartitioned window. Products
    * ride DECIMAL(38,0): B·t_l at 100 TB token masses (~10¹⁴) times 10⁶
    * overflows a BIGINT but not a 38-digit decimal. */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val budget = 1000000L
    val t = Tables.documents(spark, dir)
      .select(col("lang"), size(split(col("text"), "\\s+")).cast("long").as("n_toks"))
      .groupBy("lang").agg(sum(col("n_toks")).as("toks"))
    val tot = t.agg(sum(col("toks")).as("ttot"))
    val base = t.crossJoin(broadcast(tot))
      .select(col("lang"), col("toks"),
        expr(s"cast((cast(toks as decimal(38,0)) * $budget) div ttot as bigint)")
          .as("quota_base"),
        expr(s"cast((cast(toks as decimal(38,0)) * $budget) % ttot as bigint)")
          .as("rem"))
    val leftover = base.agg((lit(budget) - sum(col("quota_base"))).as("leftover"))
    val other = base.select(col("lang").as("l2"), col("rem").as("rem2"))
    base
      .join(other, col("rem2") > col("rem") ||
        (col("rem2") === col("rem") && col("l2") < col("lang")), "left")
      .groupBy(col("lang"), col("toks"), col("quota_base"), col("rem"))
      .agg((count(col("l2")) + 1L).as("rk"))
      .crossJoin(broadcast(leftover))
      .select(col("lang"), col("toks").as("n_tokens"), col("quota_base"),
        col("rem"), col("rk"),
        (col("quota_base") +
          when(col("rk") <= col("leftover"), 1L).otherwise(0L)).as("quota"))
      .orderBy("lang")
  }

  /** Epoch cap for [[unimax]]: no language may be repeated for more than
    * this many passes over its own corpus. */
  val UnimaxEpochCap = 1L

  /** UniMax language sampling (Chung et al., "UniMax: Fairer and More
    * Effective Language Sampling for Large-Scale Multilingual
    * Pretraining", ICLR 2023) — the budget allocator that replaced
    * temperature sampling for multilingual pretraining: hand the
    * training budget out as uniformly as possible, but never ask a
    * language for more than [[UnimaxEpochCap]] epochs of its own corpus.
    * The published algorithm is sequential water-filling over languages
    * in ascending corpus size: each turn offers the language
    * ⌊remaining/(languages left)⌋ and it takes min(cap, offer); whatever
    * a small language cannot absorb raises everyone else's share. The
    * budget here is 9/10 of the corpus token mass, which lands the gate
    * corpus in BOTH regimes (the four small languages cap out at one
    * epoch; the largest is budget-limited) — so the gate exercises the
    * cap branch, the share branch and the floor-division remainders.
    *
    * Scale shape: the distributed part is the corpus scan into per-lang
    * token masses; the fold itself runs over one row per LANGUAGE —
    * bounded metadata (a few hundred rows for any real corpus, the same
    * collect-the-model discipline as [[graft.operators.Bpe]]'s driver
    * finishing), and the sequential dependence between turns is
    * inherent to the published algorithm. Exact integers throughout. */
  def unimax(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perLang = Tables.documents(spark, dir)
      .select(col("lang"),
        size(split(col("text"), "\\s+")).cast("long").as("n_toks"))
      .groupBy("lang").agg(sum(col("n_toks")).as("toks"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val total = perLang.map(_._2).sum
    val budget = 9L * total / 10
    val order = perLang.sortBy { case (l, t) => (t, l) }
    var remaining = budget
    var m = order.length.toLong
    val rows = order.zipWithIndex.map { case ((l, t), i) =>
      val cap = UnimaxEpochCap * t
      val share = remaining / m
      val alloc = math.min(cap, share)
      remaining -= alloc
      m -= 1
      (l, t, cap, share, alloc, if (alloc == cap) 1L else 0L, i + 1L)
    }
    rows.toSeq
      .toDF("lang", "n_tokens", "cap", "share_at_turn", "alloc", "capped", "turn")
      .orderBy("lang")
  }

  /** Deterministic k-fold cross-validation assignment: fold =
    * portable_hash60("fold:" ++ doc_id) mod 5, reported as fold × lang
    * doc/char counts. Hashing a SALTED doc_id (rather than reusing the
    * stratified-sample hash) makes the fold split statistically
    * independent of every other hash-derived split in the pipeline —
    * the standard trick for composing reproducible splits. One scan,
    * one 25-key hash aggregation; at 100 TB the fold column is a pure
    * map-side expression, so folds can also feed a partitioned write. */
  def kfold(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("fold",
        expr("portable_hash60(concat('fold:', cast(doc_id as string))) % 5"))
      .groupBy("fold", "lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        min(col("doc_id")).as("first_doc"))
      .orderBy("fold", "lang")

  /** Data-mixing quota enforcement: a 50k-token training budget is split
    * across sources proportionally to their token mass (floor division —
    * exact integers), and each source contributes documents in doc_id
    * order until its quota is filled. "A document is selected iff its
    * running token total STARTS below the quota" is the same
    * deterministic cumsum rule [[packSequences]] uses, so the greedy
    * selection needs one per-source window pass — no sequential driver
    * loop, and each source's pass is independent and balanced.
    * Output is the per-source manifest: quota, selected docs/tokens,
    * and the realized fill fraction (one final double division). */
  def mixQuota(spark: SparkSession, dir: String): DataFrame = {
    val budget = 50000L
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), "\\s+")).cast("long").as("n_toks"))
    val srcTotals = docs.groupBy("source").agg(sum(col("n_toks")).as("src_toks"))
    val grand = srcTotals.agg(sum(col("src_toks")).as("all_toks"))
    val withQuota = srcTotals.crossJoin(broadcast(grand))
      .withColumn("quota", expr(s"($budget * src_toks) div all_toks"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs
      .withColumn("cum_end", sum(col("n_toks")).over(w))
      .withColumn("cum_start", col("cum_end") - col("n_toks"))
      .join(withQuota, "source")
      .withColumn("selected", (col("cum_start") < col("quota")).cast("long"))
      .groupBy("source", "src_toks", "quota")
      .agg(
        sum(col("selected")).as("n_sel_docs"),
        sum(col("selected") * col("n_toks")).as("n_sel_toks"))
      .select(col("source"), col("src_toks"), col("quota"),
        col("n_sel_docs"), col("n_sel_toks"),
        when(col("quota") > 0,
          col("n_sel_toks").cast("double") / col("quota")).as("fill_frac"))
      .orderBy("source")
  }

  /** Exact-k per-stratum subsample: each (lang, source) stratum contributes
    * its k=5 documents with the smallest salted portable hash — a uniform
    * without-replacement sample whose membership is a pure function of
    * doc_id (reproducible across runs/engines, and stable under corpus
    * growth *within* the kept set's hash prefix). This is the exact-count
    * complement of [[stratifiedSample]]'s fixed-RATE sampler: mixing
    * recipes quota domains by document COUNT, which a rate cannot hit
    * exactly on a skewed corpus.
    *
    * Scale shape: the rank-then-filter window is rewritten by
    * [[graft.plans.RewriteRankLimitToTopK]] into the native bounded-heap
    * top-k exec — each partition keeps at most k rows per stratum before
    * the shuffle, so a billion-doc stratum moves k rows, not its whole
    * membership, and no full per-stratum sort ever happens. */
  def groupSample(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("source"))
      .orderBy(expr("portable_hash60(concat('samp:', cast(doc_id as string)))"),
        col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .orderBy("lang", "source", "rn")
  }

  /** Equal-frequency (decile) binning of documents by length — the
    * quantile discretizer every feature pipeline ships, made EXACT and
    * cluster-safe. A global NTILE would need one unpartitioned window
    * (banned in this engine); instead the global rank decomposes into
    * per-BUCKET offset + within-bucket rank over a FIXED 10k-bucket
    * value-range partition (the [[AdvancedAggs.exactMedianTwoPass]]
    * histogram generalized to every rank at once): buckets are monotone in
    * n_chars, so global rank = bucket offset + rank within the bucket
    * ordered by (n_chars, doc_id). Driver metadata is O(10k) regardless of
    * how many DISTINCT lengths the corpus has — a billion-distinct-value
    * column costs the driver exactly what a 10-value one does (the earlier
    * per-distinct-value histogram collect was value-domain-proportional).
    * Within-bucket sorts touch ~n/10k rows each under any non-degenerate
    * distribution; a fully degenerate bucket just makes one partition's
    * sort bigger, never the answer wrong.
    * bin = (rank-1)·10 div n, identical to the oracle's ROW_NUMBER form. */
  def quantileBins(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val buckets = 10000
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    val Array(nL, loL, hiL) = docs
      .agg(count(lit(1)), min(col("n_chars")), max(col("n_chars")))
      .head().toSeq.map(_.toString.toLong).toArray
    val n = nL
    val rawWidth = (hiL - loL).toDouble / buckets
    val width = if (rawWidth == 0.0) 1.0 else rawWidth // constant column → bucket 0
    val bucketCol = least(
      floor((col("n_chars") - lit(loL)).cast("double") / lit(width)).cast("int"),
      lit(buckets - 1))
    val hist = docs.groupBy(bucketCol.as("b")).agg(count(lit(1)).as("c"))
      .orderBy("b").collect().map(r => (r.getInt(0), r.getLong(1))) // ≤10k rows: metadata
    var acc = 0L
    val offs = hist.toSeq.map { case (b, c) => val o = acc; acc += c; (b, o) }
    val offDf = spark.createDataFrame(offs).toDF("b", "off")
    val rnW = Window.partitionBy(col("b")).orderBy(col("n_chars"), col("doc_id"))
    docs.withColumn("b", bucketCol)
      .withColumn("rn", row_number().over(rnW))
      .join(broadcast(offDf), Seq("b"))
      .withColumn("bin", expr(s"((off + rn - 1) * 10) div ${n}L"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("bin")
  }

  /** Per-source dataset card — the corpus-composition rollup (docs,
    * tokens, chars, language spread, within-source duplicate mass, mean
    * doc length) that heads every training-data release. Counts are exact
    * integer sums; the single mean is one final double division. Two
    * partial-aggregated passes: the (source, content-hash) dedup agg and
    * the per-source stats agg, joined on the low-cardinality source key. */
  def corpusStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("toks", split(col("text"), "\\s+"))
    val dups = docs.groupBy(col("source"), md5(col("text")).as("h"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(sum(col("cnt") - 1).as("n_dup_docs"))
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("size(filter(toks, t -> t <> ''))").cast("long")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        countDistinct(col("lang")).as("n_langs"))
      .join(dups, Seq("source"))
      .withColumn("mean_doc_tokens",
        col("n_tokens").cast("double") / col("n_docs").cast("double"))
      .orderBy("source")
  }

  /** Leakage-safe train/val/test split: the standard hash split assigns
    * DOCUMENTS to splits independently, so two near-duplicate documents
    * can land in train and test — the classic evaluation-leakage bug a
    * dedup pipeline exists to prevent. This split hashes the near-dup
    * CLUSTER representative instead: connected components over the
    * Jaccard ≥ 0.8 pair graph ([[Dedup.ngramJaccard]] edges through
    * [[Dedup.connectedComponents]]), singletons labeled with themselves,
    * and every member inherits its cluster's split — near-duplicates
    * cannot straddle a split BY CONSTRUCTION (spec-asserted over every
    * pair). Reproducible across runs/engines: the split is a pure
    * function of cluster_id via the portable hash. */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    // r17 (guide §2.4): the near-dup CC labeling here is EXACTLY the
    // label table [[Dedup.ccLabels]] already maintains at ingest (same
    // ngramJaccard edge SQL, same min-label propagation) — this query
    // used to re-run the full candidate generation + CC loop per rep.
    // Reading the bucketed label table instead removes the whole
    // pair-join/propagation DAG from query time; labels are identical
    // by construction (lbl = min doc_id reachable), so the split
    // assignment — a pure function of cluster_id — is hash-unchanged.
    val labeled = Dedup.ccLabels(spark, dir).select("doc_id", "cluster_id")
      .withColumnRenamed("cluster_id", "lbl")
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(labeled, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("lbl"), col("doc_id")))
      .drop("lbl")
      .withColumn("bucket",
        expr("portable_hash60(concat('split:', cast(cluster_id as string))) % 100"))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val")
          .otherwise("test"))
      .select(col("doc_id"), col("cluster_id"), col("split"))
      .orderBy("doc_id")
  }

  /** Exact weighted sampling WITHOUT replacement, without a global sort
    * of random draws: sequential Poisson / priority sampling (Ohlsson,
    * "Sequential Poisson Sampling", J. Official Statistics 1998; the
    * integer-priority cousin of Efraimidis-Spirakis weighted reservoir
    * sampling). Each doc gets a deterministic pseudo-uniform draw
    * r = portable_hash60('ws:'||doc_id) mod 2^30 and priority
    * ⌊r·10⁶ / w⌋ with w = n_chars — larger docs draw stochastically
    * smaller priorities, so the k smallest priorities are a
    * size-biased sample (selection probability ≈ proportional to w).
    * All-integer: r·10⁶ < 2^50 never overflows and floor division is
    * identical in both engines, so the sample is bit-reproducible.
    *
    * Scale shape: ORDER BY + LIMIT k plans as TakeOrdered — each
    * partition ships at most k rows, no global sort, no RNG state. The
    * reservoir never lives on the driver. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        expr("portable_hash60(concat('ws:', cast(doc_id as string))) % 1073741824")
          .as("r30"))
      .withColumn("priority", expr("(r30 * 1000000) div greatest(n_chars, 1)"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(50)
      .select("doc_id", "n_chars", "priority")

  /** Context-window chunking: split each document's token stream into
    * training windows of [[ChunkWindow]] tokens with stride
    * [[ChunkStride]] (overlap = window − stride, the standard recipe for
    * long-document LM training so no span is seen only truncated). Emits
    * one row per (doc, chunk) with token offsets and an md5 content hash
    * of the chunk text — the chunk-level identity downstream exact dedup
    * runs on. Chunk count = 1 + ⌈max(n−W, 0)/S⌉, all integer arithmetic.
    *
    * Scale shape: one scan, per-doc `sequence` + `explode` (output rows
    * ∝ tokens/stride — linear in corpus size), no shuffle at all: the
    * chunk rows are produced where the doc row lives. */
  def chunkWindows(spark: SparkSession, dir: String): DataFrame = {
    val (w, s) = (ChunkWindow, ChunkStride)
    Tables.documents(spark, dir)
      .withColumn("toks", split(col("text"), "\\s+"))
      .withColumn("n", size(col("toks")))
      .withColumn("n_chunks", expr(s"1 + (greatest(n - $w, 0) + ${s - 1}) div $s"))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(expr("sequence(0, n_chunks - 1)")).as("chunk_id"))
      .withColumn("tok_start", col("chunk_id") * s)
      .withColumn("n_tok", least(lit(w), col("n") - col("tok_start")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        col("tok_start").cast("long").as("tok_start"),
        col("n_tok").cast("long").as("n_tok"),
        md5(concat_ws(" ", expr("slice(toks, tok_start + 1, n_tok)")))
          .as("chunk_hash"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Tokens per training window and per stride step for [[chunkWindows]].
    * Sized to the test corpus (docs run 10-99 tokens, so 32/24 exercises
    * the multi-chunk + overlap path at gate scale); a production LM run
    * uses e.g. 1024/768 with the identical plan. */
  val ChunkWindow = 32
  val ChunkStride = 24

  /** DSIR-style domain importance statistics (Xie et al., NeurIPS 2023
    * "Data Selection for Language Models via Importance Resampling"): the
    * per-hashed-feature likelihood ratio between the target domain
    * (lang = 'en') and the rest of the corpus, over the same 16-bucket
    * hashed unigram space as
    * [[graft.operators.Features.featureHashing]]. Ratios are add-one
    * smoothed and emitted BOTH as the exact integer 4-tuple
    * (cnt_t, cnt_s, n_t, n_s) and as the floored micro-unit ratio
    * ⌊(cnt_t+1)(n_s+16)·10⁶ / ((cnt_s+1)(n_t+16))⌋ in DECIMAL(38,0) —
    * a downstream sampler multiplies per-feature ratios in log space on
    * its own terms; the engine's job is the exact sufficient statistics.
    * One token scan, one 16-row aggregate, zero joins — the hashed
    * feature space is what makes DSIR corpus-scale. */
  def dsirRatios(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), "\\s+")).as("t"))
      .filter(col("t") =!= "")
      .select((col("lang") === "en").as("is_target"),
        expr("portable_hash60(t) % 16").as("dim"))
      .groupBy("dim").agg(
        sum(when(col("is_target"), 1L).otherwise(0L)).as("cnt_t"),
        sum(when(col("is_target"), 0L).otherwise(1L)).as("cnt_s"))
    val tot = cnt.agg(sum(col("cnt_t")).as("n_t"), sum(col("cnt_s")).as("n_s"))
    cnt.crossJoin(broadcast(tot))
      .select(col("dim"), col("cnt_t"), col("cnt_s"), col("n_t"), col("n_s"),
        expr("""cast(((cast(cnt_t as decimal(38,0)) + 1) * (n_s + 16) * 1000000)
               |  div ((cast(cnt_s as decimal(38,0)) + 1) * (n_t + 16))
               |  as bigint)""".stripMargin).as("ratio_micro"))
      .orderBy("dim")
  }

  /** Competence-based CURRICULUM ordering (Bengio et al., "Curriculum
    * Learning", ICML 2009; Platanios et al., NAACL 2019): the training
    * stream presents easy examples first, hard last — difficulty here is
    * the token count in fixed 12-token bands (clamped to 10 buckets) —
    * while docs WITHIN a band are shuffled by the portable hash so no
    * batch is a sorted length run. The global position is assembled the
    * scale-correct way: a per-bucket rank window (partitioned — each
    * bucket sorts independently) plus broadcast cumulative bucket
    * offsets (a ≤10-row aggregate self-join), NEVER a global
    * single-partition row_number — or even a bounded global window —
    * over the corpus. Fixed difficulty bands rather than
    * corpus deciles keep the bucketing one scan with no quantile pass
    * (the decile variant would reuse pipeline_quantile_bins' aggregated
    * histogram). */
  def curriculumOrder(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), "\\s+")).as("n_toks"))
      .select(col("doc_id"),
        least(lit(9L), expr("n_toks div 12")).as("bucket"),
        expr("portable_hash60(concat('cur:', cast(doc_id as string)))").as("h"))
    val r = b.withColumn("rk", row_number().over(
      Window.partitionBy("bucket").orderBy("h", "doc_id")))
    // Cumulative bucket offsets via a ≤10×10 self-join on the aggregated
    // bucket sizes — not a window: keeps the shipped-plan invariant that
    // NO query contains an unpartitioned Window node, bounded or not.
    val sz = b.groupBy("bucket").agg(count(lit(1)).as("n"))
    val prior = sz.select(col("bucket").as("b2"), col("n").as("n2"))
    val off = sz.join(prior, col("b2") < col("bucket"), "left")
      .groupBy(col("bucket"))
      .agg(coalesce(sum(col("n2")), lit(0L)).as("off"))
    r.join(broadcast(off.select("bucket", "off")), "bucket")
      .select(col("doc_id"), col("bucket"), (col("off") + col("rk")).as("position"))
      .orderBy("position")
  }

  /** ORDER-PRESERVING sequence packing in CURRICULUM order —
    * [[packSequences]] composed with [[curriculumOrder]]: documents pack
    * greedily into fixed 1024-token training sequences in exactly the
    * competence order the curriculum presents them (chunk = cumulative
    * tokens BEFORE the doc, integer-divided by 1024), so early chunks
    * hold easy (short-band) docs and difficulty rises monotonically
    * through the pack stream — the data-loader layout curriculum
    * training actually consumes.
    *
    * The global token prefix sum is assembled the same scale-correct way
    * as the curriculum position: a per-BUCKET partitioned window (each
    * difficulty band sums independently) plus broadcast cumulative
    * PER-BUCKET token offsets from a ≤10×10 aggregate self-join — never
    * a global window. Per packed chunk: doc count, token mass, and the
    * curriculum-position span [first_pos, last_pos] (which the gate
    * checks is contiguous across chunks by construction). */
  def packCurriculum(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), "\\s+")).cast("long").as("n_toks"))
      .select(col("doc_id"), col("n_toks"),
        least(lit(9L), expr("n_toks div 12")).as("bucket"),
        expr("portable_hash60(concat('cur:', cast(doc_id as string)))").as("h"))
    val w = Window.partitionBy("bucket").orderBy("h", "doc_id")
    val r = b
      .withColumn("rk", row_number().over(w))
      .withColumn("cumtok", sum(col("n_toks")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val sz = b.groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(col("n_toks")).as("t"))
    val prior = sz.select(col("bucket").as("b2"), col("n").as("n2"), col("t").as("t2"))
    val off = sz.join(prior, col("b2") < col("bucket"), "left")
      .groupBy(col("bucket"))
      .agg(coalesce(sum(col("n2")), lit(0L)).as("off"),
        coalesce(sum(col("t2")), lit(0L)).as("tok_off"))
    r.join(broadcast(off), "bucket")
      .select((col("off") + col("rk")).as("position"), col("n_toks"),
        (col("tok_off") + col("cumtok")).as("gcum"))
      .withColumn("chunk", expr("(gcum - n_toks) div 1024"))
      .groupBy("chunk")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
        min(col("position")).as("first_pos"), max(col("position")).as("last_pos"))
      .orderBy("chunk")
  }

  /** Length-bucketed batching report: documents grouped into
    * power-of-two token-length buckets (cap = next power of two ≥
    * n_toks, clamped to [16, 4096]) — the standard padding-efficiency
    * scheme for fixed-shape training batches. Per bucket: doc count,
    * real token mass, padded mass (cap · docs), and the padding waste in
    * exact micro units. The power-of-two cap is a 9-arm integer CASE
    * chain (16..4096), not a log2 — no floating point anywhere.
    *
    * Scale shape: one scan + one ≤9-key hash aggregation. */
  def lengthBuckets(spark: SparkSession, dir: String): DataFrame = {
    val caps = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L)
    val capCol = caps.foldRight(lit(4096L): Column) { (c, rest) =>
      when(col("n_toks") <= c, lit(c)).otherwise(rest)
    }
    Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), "\\s+"))
        .cast("long").as("n_toks"))
      // Docs longer than the top cap land in the clamped 4096 bucket and
      // are truncated to 4096 tokens for batching — without the clamp,
      // waste = cap·n − Σtoks goes negative and Spark's `div` (truncate
      // toward zero) diverges from DuckDB's `//` (floor) on the sign.
      .select(least(col("n_toks"), lit(4096L)).as("n_toks"), capCol.as("bucket_cap"))
      .groupBy("bucket_cap")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("sum_toks"))
      .select(col("bucket_cap"), col("n_docs"), col("sum_toks"),
        (col("bucket_cap") * col("n_docs")).as("padded_toks"),
        expr("((bucket_cap * n_docs - sum_toks) * 1000000) div (bucket_cap * n_docs)")
          .as("waste_micro"))
      .orderBy("bucket_cap")
  }

  /** Deterministic epoch shuffle positions: each training epoch orders
    * the corpus by a seeded portable hash (h = hash60("ep:epoch:doc")),
    * giving a reproducible, coordination-free global permutation per
    * epoch — the shuffling scheme a multi-epoch data loader needs
    * (re-runnable on any worker without an RNG handshake). Reported as
    * the exact global position of each PROBE document (doc_id < 100)
    * in epochs 0 and 1: position = #{docs with (h, doc_id) below the
    * probe's} + 1.
    *
    * Scale shape: probe side broadcasts (200 rows), corpus side is one
    * scan — O(probe·n) total, no global sort and no unpartitioned
    * window; the full-permutation materialization (a range-partitioned
    * sort by h at 100 TB) is deliberately NOT part of the query
    * contract, only the verifiable positions are. */
  def epochShuffle(spark: SparkSession, dir: String): DataFrame = {
    val epochs = Seq(0, 1)
    val hashed = Tables.documents(spark, dir)
      .select(col("doc_id"))
      .withColumn("epoch", explode(lit(epochs.toArray)))
      .withColumn("h", expr(
        "portable_hash60(concat('ep:', cast(epoch as string), ':', cast(doc_id as string)))"))
    val probe = hashed.filter(col("doc_id") < 100)
      .select(col("epoch"), col("doc_id").as("probe_id"), col("h").as("ph"))
    // The "below" test lives INSIDE the aggregate (conditional sum, not
    // a pre-filter): a first-position probe has zero below-rows, and a
    // pre-filter would drop its group entirely.
    broadcast(probe).join(hashed, Seq("epoch"))
      .groupBy(col("epoch"), col("probe_id"))
      .agg((sum(when(col("h") < col("ph") ||
        (col("h") === col("ph") && col("doc_id") < col("probe_id")), 1L)
        .otherwise(0L)) + 1L).as("position"))
      .select(col("epoch").cast("int").as("epoch"),
        col("probe_id").as("doc_id"), col("position"))
      .orderBy("epoch", "doc_id")
  }

  /** Soft-dedup sampling weights: every document gets training weight
    * 1/|cluster| from its near-dup cluster (the Jaccard-0.8 connected
    * components of [[Dedup.ccClusters]]; singletons weigh 1) — the
    * down-weighting alternative to keep-one-representative dedup, which
    * preserves corpus coverage while equalizing each near-dup GROUP's
    * total gradient contribution. Weight ships as exact floor micro
    * units so the whole assignment is hash-gateable.
    *
    * Scale shape: the near-dup CC labeling is the MinHash-banded +
    * O(log d) propagation path Dedup already pays; this adds one
    * left join of the label table against documents. */
  def clusterWeights(spark: SparkSession, dir: String): DataFrame = {
    val labeled = Dedup.ccLabels(spark, dir)
      .select("doc_id", "cluster_id", "cluster_size")
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(labeled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      .withColumn("weight_micro", expr("1000000 div cluster_size"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_cluster_weights" -> (clusterWeights _),
    "pipeline_length_buckets" -> (lengthBuckets _),
    "pipeline_epoch_shuffle" -> (epochShuffle _),
    "pipeline_curriculum" -> (curriculumOrder _),
    "pipeline_dsir_ratios" -> (dsirRatios _),
    "pipeline_weighted_sample" -> (weightedSample _),
    "pipeline_chunk_windows" -> (chunkWindows _),
    "pipeline_quantile_bins" -> (quantileBins _),
    "pipeline_corpus_stats" -> (corpusStats _),
    "pipeline_group_sample" -> (groupSample _),
    "pipeline_mix_quota" -> (mixQuota _),
    "pipeline_training_split" -> (trainingSplitReport _),
    "pipeline_leakage_safe_split" -> (leakageSafeSplit _),
    "pipeline_stratified_sample" -> (stratifiedSample _),
    "pipeline_decontamination" -> (decontamination _),
    "pipeline_pack_sequences" -> (packSequences _),
    "pipeline_pack_curriculum" -> (packCurriculum _),
    "pipeline_kfold" -> (kfold _),
    "pipeline_token_budget" -> (tokenBudget _),
    "pipeline_unimax" -> (unimax _)
  )

  private val dh60s: String =
    """list_reduce(list_transform(range(1,16), k ->
      |      CAST(strpos('0123456789abcdef', substr(md5(s), k, 1)) - 1 AS BIGINT)),
      |      (a,b) -> a*16+b)""".stripMargin

  val oracle: Map[String, String] = Map(
    "pipeline_cluster_weights" ->
      s"""WITH RECURSIVE ${Dedup.shCte},
         |sh AS (SELECT doc_id, ${Dedup.dh60("s")} AS h FROM shg),
         |rare AS (SELECT h FROM (SELECT h, COUNT(*) df FROM sh GROUP BY h) WHERE df <= 100000),
         |shr AS (SELECT sh.doc_id, sh.h FROM sh JOIN rare USING (h)),
         |card AS (SELECT doc_id, COUNT(*) c FROM shr GROUP BY 1),
         |common AS (SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) AS common
         |           FROM shr a JOIN shr b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |pairs AS (SELECT doc_a, doc_b
         |          FROM common JOIN card ca ON doc_a = ca.doc_id JOIN card cb ON doc_b = cb.doc_id
         |          WHERE CAST(common AS DOUBLE) / (ca.c + cb.c - common) >= 0.8),
         |sym AS (SELECT doc_a AS s, doc_b AS d FROM pairs
         |        UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(v, lbl) AS (
         |  SELECT DISTINCT s, s FROM sym
         |  UNION
         |  SELECT e.d, r.lbl FROM reach r JOIN sym e ON e.s = r.v),
         |lab AS (SELECT v AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY v),
         |sized AS (SELECT doc_id, cluster_id,
         |    CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
         |  FROM lab)
         |SELECT d.doc_id,
         |  COALESCE(s.cluster_id, d.doc_id) AS cluster_id,
         |  COALESCE(s.cluster_size, 1) AS cluster_size,
         |  CAST(1000000 // COALESCE(s.cluster_size, 1) AS BIGINT) AS weight_micro
         |FROM documents d LEFT JOIN sized s USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "pipeline_length_buckets" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_toks
        |  FROM documents),
        |b AS (SELECT LEAST(n_toks, 4096) AS n_toks,
        |    CASE WHEN n_toks <= 16 THEN 16 WHEN n_toks <= 32 THEN 32
        |         WHEN n_toks <= 64 THEN 64 WHEN n_toks <= 128 THEN 128
        |         WHEN n_toks <= 256 THEN 256 WHEN n_toks <= 512 THEN 512
        |         WHEN n_toks <= 1024 THEN 1024 WHEN n_toks <= 2048 THEN 2048
        |         ELSE 4096 END AS bucket_cap
        |  FROM d)
        |SELECT CAST(bucket_cap AS BIGINT) AS bucket_cap,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_toks) AS BIGINT) AS sum_toks,
        |  CAST(bucket_cap * COUNT(*) AS BIGINT) AS padded_toks,
        |  CAST(((bucket_cap * COUNT(*) - SUM(n_toks)) * 1000000)
        |    // (bucket_cap * COUNT(*)) AS BIGINT) AS waste_micro
        |FROM b GROUP BY bucket_cap ORDER BY bucket_cap""".stripMargin,
    "pipeline_epoch_shuffle" ->
      s"""WITH h AS (SELECT doc_id, e.epoch,
         |    ${Dedup.dh60("'ep:' || CAST(e.epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents, (SELECT unnest(range(0, 2)) AS epoch) e),
         |probe AS (SELECT epoch, doc_id AS probe_id, h AS ph FROM h WHERE doc_id < 100)
         |SELECT CAST(p.epoch AS INTEGER) AS epoch, p.probe_id AS doc_id,
         |  CAST(SUM(CASE WHEN c.h < p.ph
         |                  OR (c.h = p.ph AND c.doc_id < p.probe_id)
         |           THEN 1 ELSE 0 END) + 1 AS BIGINT) AS position
         |FROM probe p JOIN h c ON p.epoch = c.epoch
         |GROUP BY 1, 2 ORDER BY epoch, doc_id""".stripMargin,
    "pipeline_curriculum" ->
      s"""WITH d AS (SELECT doc_id,
         |    len(string_split_regex(text, '\\s+')) AS n_toks FROM documents),
         |b AS (SELECT doc_id, LEAST(9, n_toks // 12) AS bucket,
         |    ${Dedup.dh60("'cur:' || CAST(doc_id AS VARCHAR)")} AS h FROM d),
         |r AS (SELECT doc_id, bucket,
         |    ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY h, doc_id) AS rk
         |  FROM b),
         |sz AS (SELECT bucket, COUNT(*) AS n FROM b GROUP BY 1),
         |o AS (SELECT bucket, COALESCE(SUM(n) OVER (ORDER BY bucket
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
         |      FROM sz)
         |SELECT r.doc_id, CAST(r.bucket AS BIGINT) AS bucket,
         |  CAST(o.off + r.rk AS BIGINT) AS position
         |FROM r JOIN o USING (bucket) ORDER BY position""".stripMargin,
    "pipeline_unimax" ->
      s"""WITH RECURSIVE t AS (SELECT lang,
         |    CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT) AS toks
         |  FROM documents GROUP BY lang),
         |tot AS (SELECT CAST(SUM(toks) AS BIGINT) AS total,
         |    CAST(COUNT(*) AS BIGINT) AS m FROM t),
         |rk AS (SELECT lang, toks,
         |    ROW_NUMBER() OVER (ORDER BY toks, lang) AS i FROM t),
         |wf(i, remaining, alloc) AS (
         |  SELECT CAST(0 AS BIGINT), CAST(9 * total // 10 AS BIGINT),
         |    CAST(0 AS BIGINT) FROM tot
         |  UNION ALL
         |  SELECT r.i,
         |    wf.remaining - LEAST($UnimaxEpochCap * r.toks,
         |      wf.remaining // (tot.m - wf.i)),
         |    LEAST($UnimaxEpochCap * r.toks, wf.remaining // (tot.m - wf.i))
         |  FROM wf, tot, rk r WHERE r.i = wf.i + 1)
         |SELECT r.lang, r.toks AS n_tokens,
         |  CAST($UnimaxEpochCap * r.toks AS BIGINT) AS cap,
         |  CAST(prev.remaining // (tot.m - r.i + 1) AS BIGINT) AS share_at_turn,
         |  CAST(cur.alloc AS BIGINT) AS alloc,
         |  CAST(CASE WHEN cur.alloc = $UnimaxEpochCap * r.toks
         |    THEN 1 ELSE 0 END AS BIGINT) AS capped,
         |  CAST(r.i AS BIGINT) AS turn
         |FROM rk r JOIN wf cur ON cur.i = r.i
         |JOIN wf prev ON prev.i = r.i - 1, tot
         |ORDER BY r.lang""".stripMargin,
    "pipeline_token_budget" ->
      """WITH t AS (SELECT lang,
        |    CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS toks
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(SUM(toks) AS BIGINT) AS ttot FROM t),
        |base AS (SELECT lang, toks,
        |    CAST((CAST(toks AS HUGEINT) * 1000000) // ttot AS BIGINT) AS quota_base,
        |    CAST((CAST(toks AS HUGEINT) * 1000000) % ttot AS BIGINT) AS rem
        |  FROM t, tot),
        |lo AS (SELECT 1000000 - CAST(SUM(quota_base) AS BIGINT) AS leftover
        |       FROM base),
        |rk AS (SELECT b.lang, b.toks, b.quota_base, b.rem,
        |    CAST(COUNT(o.l2) + 1 AS BIGINT) AS rk
        |  FROM base b LEFT JOIN
        |    (SELECT lang AS l2, rem AS rem2 FROM base) o
        |    ON o.rem2 > b.rem OR (o.rem2 = b.rem AND o.l2 < b.lang)
        |  GROUP BY 1, 2, 3, 4)
        |SELECT lang, toks AS n_tokens, quota_base, rem, rk,
        |  CAST(quota_base + CASE WHEN rk <= lo.leftover THEN 1 ELSE 0 END
        |    AS BIGINT) AS quota
        |FROM rk, lo ORDER BY lang""".stripMargin,
    "pipeline_pack_curriculum" ->
      s"""WITH d AS (SELECT doc_id,
         |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_toks
         |  FROM documents),
         |b AS (SELECT doc_id, n_toks, LEAST(9, n_toks // 12) AS bucket,
         |    ${Dedup.dh60("'cur:' || CAST(doc_id AS VARCHAR)")} AS h FROM d),
         |r AS (SELECT doc_id, n_toks,
         |    ROW_NUMBER() OVER (ORDER BY bucket, h, doc_id) AS position,
         |    SUM(n_toks) OVER (ORDER BY bucket, h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gcum
         |  FROM b)
         |SELECT CAST((gcum - n_toks) // 1024 AS BIGINT) AS chunk,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
         |  CAST(MIN(position) AS BIGINT) AS first_pos,
         |  CAST(MAX(position) AS BIGINT) AS last_pos
         |FROM r GROUP BY 1 ORDER BY chunk""".stripMargin,
    "pipeline_dsir_ratios" ->
      s"""WITH toks AS (SELECT lang = 'en' AS is_target,
         |    ${Dedup.dh60("t")} % 16 AS dim
         |  FROM (SELECT lang, unnest(string_split_regex(text, '\\s+')) AS t
         |        FROM documents)
         |  WHERE t <> ''),
         |cnt AS (SELECT dim,
         |    CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS cnt_t,
         |    CAST(SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS BIGINT) AS cnt_s
         |  FROM toks GROUP BY 1),
         |tot AS (SELECT CAST(SUM(cnt_t) AS BIGINT) AS n_t,
         |    CAST(SUM(cnt_s) AS BIGINT) AS n_s FROM cnt)
         |SELECT dim, cnt_t, cnt_s, n_t, n_s,
         |  CAST(((CAST(cnt_t AS HUGEINT) + 1) * (n_s + 16) * 1000000)
         |    // ((CAST(cnt_s AS HUGEINT) + 1) * (n_t + 16)) AS BIGINT)
         |    AS ratio_micro
         |FROM cnt CROSS JOIN tot ORDER BY dim""".stripMargin,
    "pipeline_weighted_sample" ->
      s"""WITH d AS (SELECT doc_id, n_chars,
         |  ${Dedup.dh60("'ws:' || CAST(doc_id AS VARCHAR)")} % 1073741824 AS r30
         |FROM documents)
         |SELECT doc_id, n_chars,
         |  (r30 * 1000000) // greatest(n_chars, 1) AS priority
         |FROM d
         |ORDER BY priority, doc_id LIMIT 50""".stripMargin,
    "pipeline_chunk_windows" ->
      s"""WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks,
         |             len(string_split_regex(text, '\\s+')) AS n
         |           FROM documents),
         |c AS (SELECT doc_id, toks, n, u.ci AS chunk_id
         |      FROM t, UNNEST(range(1 + (greatest(n - $ChunkWindow, 0)
         |                                + ${ChunkStride - 1}) // $ChunkStride))
         |           AS u(ci))
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |  CAST(chunk_id * $ChunkStride AS BIGINT) AS tok_start,
         |  CAST(least($ChunkWindow, n - chunk_id * $ChunkStride) AS BIGINT)
         |    AS n_tok,
         |  md5(array_to_string(toks[chunk_id * $ChunkStride + 1 :
         |    chunk_id * $ChunkStride + least($ChunkWindow,
         |                                    n - chunk_id * $ChunkStride)], ' '))
         |    AS chunk_hash
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "pipeline_leakage_safe_split" ->
      s"""WITH RECURSIVE ${Dedup.shCte},
         |sh AS (SELECT doc_id, ${Dedup.dh60("s")} AS h FROM shg),
         |rare AS (SELECT h FROM (SELECT h, COUNT(*) df FROM sh GROUP BY h)
         |         WHERE df <= 100000),
         |shr AS (SELECT sh.doc_id, sh.h FROM sh JOIN rare USING (h)),
         |card AS (SELECT doc_id, COUNT(*) c FROM shr GROUP BY 1),
         |common AS (SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) AS common
         |           FROM shr a JOIN shr b ON a.h = b.h AND a.doc_id < b.doc_id
         |           GROUP BY 1, 2),
         |prs AS (SELECT doc_a, doc_b
         |        FROM common JOIN card ca ON doc_a = ca.doc_id
         |                    JOIN card cb ON doc_b = cb.doc_id
         |        WHERE CAST(common AS DOUBLE) / (ca.c + cb.c - common) >= 0.8),
         |sym AS (SELECT doc_a AS s, doc_b AS d FROM prs
         |        UNION ALL SELECT doc_b, doc_a FROM prs),
         |reach(v, lbl) AS (
         |  SELECT DISTINCT s, s FROM sym
         |  UNION
         |  SELECT e.d, r.lbl FROM reach r JOIN sym e ON e.s = r.v),
         |lab AS (SELECT v AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY v),
         |allv AS (SELECT d.doc_id, COALESCE(lab.cluster_id, d.doc_id) AS cluster_id
         |         FROM documents d LEFT JOIN lab USING (doc_id))
         |SELECT doc_id, cluster_id,
         |  CASE WHEN hm < 90 THEN 'train' WHEN hm < 95 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id, cluster_id,
         |        ${Dedup.dh60("'split:' || CAST(cluster_id AS VARCHAR)")} % 100 AS hm
         |      FROM allv)
         |ORDER BY doc_id""".stripMargin,
    "pipeline_quantile_bins" ->
      """WITH r AS (SELECT doc_id, n_chars,
        |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM documents)
        |SELECT ((rn - 1) * 10) // n AS bin, COUNT(*) AS n_docs,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "pipeline_corpus_stats" ->
      """WITH d AS (SELECT source, lang, n_chars,
        |    len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS n_toks
        |  FROM documents),
        |dd AS (SELECT source, CAST(SUM(cnt - 1) AS BIGINT) AS n_dup_docs
        |  FROM (SELECT source, md5(text) AS h, COUNT(*) AS cnt
        |        FROM documents GROUP BY 1, 2)
        |  GROUP BY 1),
        |s AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
        |    CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |    COUNT(DISTINCT lang) AS n_langs
        |  FROM d GROUP BY 1)
        |SELECT s.source, n_docs, n_tokens, n_chars, n_langs, n_dup_docs,
        |  CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_doc_tokens
        |FROM s JOIN dd ON s.source = dd.source
        |ORDER BY 1""".stripMargin,
    "pipeline_group_sample" ->
      """WITH h AS (
        |  SELECT doc_id, lang, source, n_chars,
        |    list_reduce(list_transform(range(1,16), k ->
        |      CAST(strpos('0123456789abcdef', substr(md5('samp:' || CAST(doc_id AS VARCHAR)), k, 1)) - 1 AS BIGINT)),
        |      (a,b) -> a*16+b) AS hv
        |  FROM documents)
        |SELECT doc_id, lang, source, n_chars, rn FROM (
        |  SELECT doc_id, lang, source, n_chars,
        |    CAST(row_number() OVER (PARTITION BY lang, source ORDER BY hv, doc_id) AS INTEGER) AS rn
        |  FROM h)
        |WHERE rn <= 5 ORDER BY lang, source, rn""".stripMargin,
    "pipeline_mix_quota" ->
      """WITH docs AS (SELECT doc_id, source,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_toks
        |  FROM documents),
        |st AS (SELECT source, CAST(SUM(n_toks) AS BIGINT) AS src_toks
        |       FROM docs GROUP BY source),
        |g AS (SELECT CAST(SUM(src_toks) AS BIGINT) AS all_toks FROM st),
        |q AS (SELECT source, src_toks, (50000 * src_toks) // all_toks AS quota
        |      FROM st CROSS JOIN g),
        |c AS (SELECT doc_id, source, n_toks,
        |    CAST(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      - n_toks AS cum_start
        |  FROM docs),
        |sel AS (SELECT c.source, n_toks,
        |    CASE WHEN cum_start < quota THEN 1 ELSE 0 END AS selected
        |  FROM c JOIN q ON c.source = q.source)
        |SELECT q.source, src_toks, quota,
        |  CAST(SUM(selected) AS BIGINT) AS n_sel_docs,
        |  CAST(SUM(selected * n_toks) AS BIGINT) AS n_sel_toks,
        |  CASE WHEN quota > 0
        |    THEN CAST(SUM(selected * n_toks) AS DOUBLE) / quota END AS fill_frac
        |FROM sel JOIN q ON sel.source = q.source
        |GROUP BY q.source, src_toks, quota
        |ORDER BY q.source""".stripMargin,
    "pipeline_pack_sequences" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_toks,
        |    list_reduce(list_transform(range(1,16), k ->
        |      CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), k, 1)) - 1 AS BIGINT)),
        |      (a,b) -> a*16+b) % 8 AS shard
        |  FROM documents),
        |c AS (
        |  SELECT shard, doc_id, n_toks,
        |    SUM(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d)
        |SELECT shard, CAST((cum - n_toks) // 1024 AS BIGINT) AS chunk,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2 ORDER BY shard, chunk""".stripMargin,
    "pipeline_decontamination" ->
      s"""WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
        |shg AS (SELECT DISTINCT doc_id,
        |          concat_ws(' ', t[i+1], t[i+2], t[i+3], t[i+4]) AS s
        |        FROM toks, UNNEST(range(len(t)-3)) AS u(i)),
        |sh AS (SELECT doc_id, $dh60s AS h FROM shg),
        |bench AS (SELECT doc_id AS bench_id, h FROM sh WHERE doc_id % 19 = 0),
        |train AS (SELECT doc_id, h FROM sh WHERE doc_id % 19 <> 0)
        |SELECT t.doc_id,
        |  COUNT(DISTINCT bench_id) AS n_bench_docs,
        |  COUNT(DISTINCT t.h) AS n_shared_shingles
        |FROM train t JOIN bench b ON t.h = b.h
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "pipeline_training_split" ->
      """WITH dedup AS (
        |  SELECT doc_id, text, lang,
        |    row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, text, lang, string_split_regex(text, '\s+') AS t
        |  FROM dedup WHERE rn = 1),
        |quality AS (
        |  SELECT doc_id, text, lang, len(t) AS n_toks
        |  FROM toks
        |  WHERE len(t) >= 10
        |    AND CAST(len(list_filter(t, x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE) / len(t) >= 0.01),
        |splits AS (
        |  SELECT lang, n_toks, length(text) AS n_chars,
        |    CASE WHEN h % 100 < 90 THEN 'train'
        |         WHEN h % 100 < 95 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT *, list_reduce(list_transform(range(1,16), k ->
        |          CAST(strpos('0123456789abcdef', substr(md5(text), k, 1)) - 1 AS BIGINT)),
        |          (a,b) -> a*16+b) AS h
        |        FROM quality))
        |SELECT lang, split, COUNT(*) AS n_docs,
        |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars
        |FROM splits GROUP BY lang, split ORDER BY lang, split""".stripMargin,
    "pipeline_kfold" ->
      """WITH f AS (
        |  SELECT lang, n_chars, doc_id,
        |    list_reduce(list_transform(range(1,16), k ->
        |      CAST(strpos('0123456789abcdef', substr(md5('fold:' || CAST(doc_id AS VARCHAR)), k, 1)) - 1 AS BIGINT)),
        |      (a,b) -> a*16+b) % 5 AS fold
        |  FROM documents)
        |SELECT fold, lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |  MIN(doc_id) AS first_doc
        |FROM f GROUP BY fold, lang ORDER BY fold, lang""".stripMargin,
    "pipeline_stratified_sample" ->
      """WITH d AS (
        |  SELECT lang, source, doc_id,
        |    list_reduce(list_transform(range(1,16), k ->
        |      CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), k, 1)) - 1 AS BIGINT)),
        |      (a,b) -> a*16+b) % 10 = 0 AS keep
        |  FROM documents),
        |agg AS (
        |  SELECT lang, source,
        |    COUNT(*) AS n_total,
        |    CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        |    MIN(CASE WHEN keep THEN doc_id END) AS first_sampled_doc
        |  FROM d GROUP BY lang, source)
        |SELECT lang, source, n_total, n_sampled, first_sampled_doc,
        |  CAST(n_sampled AS DOUBLE) / n_total AS sample_rate
        |FROM agg ORDER BY lang, source""".stripMargin
  )
}
