package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Artifacts, Tables}

/** Text-analysis operators for a training-data pipeline, over `documents`:
  * language identification (stopword-profile scoring), per-corpus quality
  * statistics, token counting (whitespace + a BPE-ish regex segmentation),
  * and Karp-Rabin document fingerprinting.
  *
  * Determinism discipline: every group-level ratio is computed as one
  * final double division of two exactly-summed integer counts — never an
  * average of per-doc doubles, whose accumulation order would differ
  * between Spark's partial aggregation and DuckDB. Tie-breaking in the
  * language argmax is a fixed alphabetical CASE chain on both sides.
  *
  * Scale notes: everything here is a single scan of `documents` with
  * per-doc expression work (codegen'd higher-order functions) followed by
  * either a hash aggregation on low-cardinality keys (quality stats) or no
  * aggregation at all — no joins, no windows except the fingerprint
  * cluster count (hash-partitioned by fingerprint).
  *
  * References: Karp/Rabin, "Efficient randomized pattern-matching
  * algorithms" (1987) — the rolling hash; Schleimer/Wilkerson/Aiken,
  * "Winnowing: local algorithms for document fingerprinting" (SIGMOD
  * 2003) — the fingerprinting family this belongs to.
  */
object TextAnalysis {

  private val profiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "los", "que"),
    "fr" -> Seq("le", "les", "et", "des", "un"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  private def tokenized(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", split(col("text"), "\\s+"))

  /** The (doc_id, token, tf) term-frequency postings relation — the
    * classic text-retrieval ingest index.
    *
    * r17: served from a PERSISTED BUCKETED TABLE keyed and sorted on
    * `token` (the graft_shidx discipline at the token granularity): the
    * tokenize + explode + (doc, token) aggregation ran per rep in THREE
    * queries — [[tfidf]], [[sparseCosineTopkAt]] and [[invertedIndex]] —
    * and every downstream token-keyed step (the df aggregation, the
    * postings tail join) now arrives pre-partitioned on the bucket key,
    * zero-exchange. [[tfidf]] keeps the inline derivation per rep as the
    * gated witness of the tokenize→tf semantics, and all three consumers
    * stay oracle-gated against raw text. */
  private[operators] def termFreqs(spark: SparkSession, dir: String): DataFrame =
    Artifacts.table(spark, dir, "documents", "graft_tfidx", "token") {
      tokenized(spark, dir)
        .select(col("doc_id"), explode(col("toks")).as("token"))
        .filter(col("token") =!= "")
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    }

  /** Stopword-profile language ID: score per language = fraction of tokens
    * in that language's profile; argmax with alphabetical tiebreak. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val scored = profiles.foldLeft(tokenized(spark, dir)) { case (df, (l, ws)) =>
      df.withColumn(s"s_$l",
        expr(s"size(filter(toks, t -> t in ${inList(ws)}))").cast("double")
          / size(col("toks")))
    }
    scored.select(
      col("doc_id"), col("lang"),
      expr(
        """case when s_de >= greatest(s_en, s_es, s_fr, s_zh) then 'de'
          |     when s_en >= greatest(s_es, s_fr, s_zh) then 'en'
          |     when s_es >= greatest(s_fr, s_zh) then 'es'
          |     when s_fr >= s_zh then 'fr'
          |     else 'zh' end""".stripMargin).as("pred_lang"),
      col("s_de"), col("s_en"), col("s_es"), col("s_fr"), col("s_zh"))
      .orderBy("doc_id")
  }

  /** Per-(lang, source) corpus quality statistics from exact integer sums. */
  def qualityStats(spark: SparkSession, dir: String): DataFrame =
    tokenized(spark, dir)
      .select(col("lang"), col("source"),
        length(col("text")).as("chars"),
        size(col("toks")).as("ntoks"),
        (length(col("text")) - length(regexp_replace(col("text"), "[.,;:!?]", "")))
          .as("punct"),
        (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", "")))
          .as("digits"),
        (length(col("text")) - length(regexp_replace(col("text"), " ", "")))
          .as("spaces"),
        expr(s"size(filter(toks, t -> t in ${inList(profiles.toMap.apply("en"))}))")
          .as("stops"))
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        (sum(col("chars")).cast("double") / count(lit(1))).as("avg_chars"),
        (sum(col("ntoks")).cast("double") / count(lit(1))).as("avg_tokens"),
        (sum(col("punct")).cast("double") / sum(col("chars"))).as("punct_ratio"),
        (sum(col("digits")).cast("double") / sum(col("chars"))).as("digit_ratio"),
        (sum(col("spaces")).cast("double") / sum(col("chars"))).as("space_ratio"),
        (sum(col("stops")).cast("double") / sum(col("ntoks"))).as("stopword_ratio"))
      .orderBy("lang", "source")

  /** Whitespace vs BPE-ish token counts per document. The segmentation
    * regex ([a-z]+ | digit runs | single other chars) is deliberately
    * simple enough to behave identically in Java and RE2 regex dialects. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    tokenized(spark, dir)
      .select(col("doc_id"),
        size(col("toks")).as("n_ws_tokens"),
        size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .as("n_bpe_tokens"),
        length(col("text")).as("n_chars_measured"))
      .withColumn("chars_per_bpe_token",
        col("n_chars_measured").cast("double") / greatest(col("n_bpe_tokens"), lit(1)))
      .orderBy("doc_id")

  /** CCNet-style SEGMENT-level keep-first dedup (Wenzek et al., "CCNet:
    * Extracting high quality monolingual datasets from web crawl data",
    * LREC 2020 — their paragraph/line dedup, the single highest-impact
    * cleaning step for web corpora): every document splits into
    * consecutive 3-token segments (the corpus has no sentence
    * punctuation, so fixed-width segments stand in for lines), each
    * segment hashes, and only the CORPUS-FIRST occurrence of each
    * distinct segment survives — first = minimum (doc_id, seg_idx) in
    * lexicographic order, the deterministic tie-break CCNet's
    * shard-order pass approximates. Reports per document how much of it
    * survives (n_segments / n_kept / n_dropped / drop_ratio), i.e. the
    * boilerplate mass later stages should not re-process.
    *
    * Scale shape: one scan exploding ~n_toks/3 segment hashes, one
    * h-keyed MIN aggregation (the keep-first rule is an associative min
    * — no ordering pass, no window), one join back on the 8-byte hash,
    * one per-doc aggregation. The occurrence order key rides
    * DECIMAL(38,0) (doc_id·10⁶ + seg_idx) so 100 TB doc-id ranges
    * cannot overflow the packing. */
  def sentenceDedup(spark: SparkSession, dir: String): DataFrame = {
    // r17: segment hashes come from the native segment_hashes expression
    // (one byte-level pass, digest fed the token slices) instead of an
    // interpreted transform∘sequence∘slice∘concat_ws chain materializing
    // every segment string before a separate per-row hash;
    // HashExpressionsSpec pins the equivalence including the n=0 and
    // short-tail edge cases.
    val segs = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(expr(
        "segment_hashes(split(text, '\\\\s+'), 'seg:', 3)")))
      .toDF("doc_id", "seg_idx", "h")
      .withColumn("ord", expr(
        "cast(doc_id as decimal(38,0)) * 1000000 + seg_idx"))
    val first = segs.groupBy("h").agg(min(col("ord")).as("ford"))
    segs.join(first, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("ord") === col("ford"), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("n_dropped", col("n_segments") - col("n_kept"))
      .withColumn("drop_ratio",
        col("n_dropped").cast("double") / col("n_segments").cast("double"))
      .orderBy("doc_id")
  }

  /** Per-document trigram coverage against the corpus: the fraction of a
    * doc's distinct word-trigrams that are CORPUS-COMMON (document
    * frequency ≥ 5) — a log-free n-gram language-model surprise proxy: a
    * low-coverage doc is built from trigrams the corpus has rarely seen
    * (noise, boilerplate-free novelty, or another register), a
    * high-coverage doc is "in-distribution". Integer-exact throughout —
    * the usual per-trigram log-probability is deliberately avoided
    * because libm log is not bit-reproducible across engines. Cost: one
    * codegen shingle-hash pass, one df aggregation, one join on longs. */
  def trigramCoverage(spark: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingleHashes(spark, dir)
    val docFreq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    sh.join(docFreq, "h")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_trigrams"),
        sum(when(col("df") >= 5, 1L).otherwise(0L)).as("n_common"))
      .withColumn("coverage",
        col("n_common").cast("double") / col("n_trigrams").cast("double"))
      .orderBy("doc_id")
  }

  /** Karp-Rabin rolling-hash fingerprint over the token stream (base 131,
    * mod 2^31-1, token hashes folded in order) + identical-fingerprint
    * cluster size. Sequential fold is mirrored in the oracle. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    tokenized(spark, dir)
      .select(col("doc_id"), expr(
        "aggregate(transform(toks, t -> portable_hash60(t) % 2147483647L), " +
          "0L, (acc, h) -> (acc * 131L + h) % 2147483647L)").as("fingerprint"))
      .withColumn("fp_group_size",
        count(lit(1)).over(Window.partitionBy(col("fingerprint"))))
      .orderBy("doc_id")

  /** Top-3 TF-IDF terms per document. The score is kept in exact-or-
    * correctly-rounded arithmetic — (tf·N)/df where tf, N, df are exact
    * integer counts, one double multiply (exact below 2^53) and one double
    * divide (IEEE correctly rounded) — so both engines rank identically;
    * idf's usual log() is deliberately avoided because libm log is NOT
    * bit-reproducible across engines and log is monotone, so the ranking
    * is unchanged. Ties break on the token string.
    *
    * Scale shape: explode → (doc, token) aggregation (shuffle on compact
    * keys), token df aggregation, a shuffle join back on token (df is
    * token-cardinality-sized, typically broadcastable after AQE), and a
    * per-doc window for the top-3 — all partitioned, no driver loops. */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    val tok = tokenized(spark, dir)
      .select(col("doc_id"), explode(col("toks")).as("token"))
      .filter(col("token") =!= "")
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    // r17: df derives from the tf relation (count of distinct (doc,
    // token) rows per token) — same value as countDistinct(doc_id) over
    // the raw token stream, minus one full explode scan and the
    // distinct-aggregate Expand; the tf exchange is reused by both
    // consumers.
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = Tables.documents(spark, dir).agg(count(lit(1)).as("nd"))
    val scored = tf.join(df, "token")
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf").cast("double") * col("nd") / col("df"))
    scored
      .withColumn("rnk", row_number().over(
          Window.partitionBy(col("doc_id"))
            .orderBy(col("score").desc, col("token"))).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("token"), col("tf"), col("score"))
      .orderBy("doc_id", "rnk")
  }

  /** Probe-sample size for [[sparseCosineTopk]] — the bounded-probe
    * discipline of Similarity's exact baselines: the probe side is fixed,
    * so the postings join stays one corpus scan at any corpus size. */
  private val SparseProbeDocs = 200

  /** Head-term df-cap denominator for [[sparseCosineTopk]]: a term is
    * HEAD (stop-word-like) when df > nd div [[SparseDfCapDenom]]. The
    * applied cap is gated as the `df_cap` output column. */
  val SparseDfCapDenom = 10

  /** Size bound of the DENSE head pivot (the head-term inventory itself
    * is analytically < [[SparseDfCapDenom]] · avg tokens per doc,
    * independent of corpus size — see [[sparseCosineTopk]]); 256 is ~8×
    * this corpus's 31 and, unlike the earlier 1024, stays comfortably
    * inside codegen practice (r14 advice): the head pivot emits |head|
    * conditional-sum aggregate columns plus a |head|-term multiply-add,
    * and at 1024 terms that expression mass sits near Janino's 64 KB
    * method ceiling — the documented headroom would have been headroom
    * into interpreted fallback. A corpus whose inventory exceeds the
    * limit does NOT abort (r15 advice — the earlier `require` turned
    * 257-head-term corpora into hard runtime errors): the pivot keeps
    * the top-limit terms by (df desc, token) — the hottest terms are
    * where the dense arm pays off — and the overflow routes back to the
    * postings tail arm, which is merely the lowest-df slice of the head
    * (fan-out just above df_cap), still exact term-for-term.
    * SparseCosineCapSpec pins limit-invariance of the full output. */
  val SparseHeadTermLimit = 256

  /** Sparse TF-IDF cosine top-k via an INVERTED-INDEX postings join — the
    * classic text-similarity scale shape (Bayardo, Ma & Srikant, "Scaling
    * up all pairs similarity search", WWW 2007): documents are compared
    * only through the terms they share, never pairwise over the corpus.
    * Weights are exact integers w = tf·(N div df) (the [[tfidf]] family's
    * division-free idf — integer idf keeps the dot products exactly
    * checkable; log-idf is monotone-equivalent for ranking within a
    * fixed df), dot products and squared norms are exact integer sums,
    * and the final cosine performs the only float ops — one multiply,
    * one sqrt, one divide, all IEEE correctly rounded, so both engines
    * rank bit-identically.
    *
    * THE DF CAP IS ENFORCED BY PLAN STRUCTURE, not prose (r13 verdict
    * item 3): postings split at df_cap = nd div [[SparseDfCapDenom]]
    * into a TAIL arm — the inverted-index join, where every join key now
    * carries df ≤ df_cap, so per-key fan-out is bounded and the join is
    * safe to SHUFFLE at any corpus size (the Σ_t df_t·probes_t bound the
    * r13 scaladoc promised) — and a DENSE HEAD arm: hot terms leave the
    * postings representation entirely. The head-term inventory is
    * BOUNDED model metadata — every head term has df > nd/denom and
    * Σ_t df_t ≤ total tokens, so |head| < denom · avg doc length,
    * corpus-SIZE-independent (the dense pivot additionally tops out at
    * [[SparseHeadTermLimit]] terms by df, overflow routing back to the
    * tail arm — the heavyHitters candidate discipline) — so per-doc head
    * weights pivot
    * into |head| dense columns and head dots are one fused multiply-add
    * expression per (corpus doc, probe) pair on a broadcast
    * nested-loop join: probes·nd rows ONCE, instead of the
    * Σ_head df_t·probes_t ≈ probes·|postings| row blow-up the naive
    * join paid (the r13 per-cell-explode lesson: row machinery is ~5×
    * the arithmetic; at sf0.1 this arm alone was ~5 s of the query's
    * 6.2 s). Weights are strictly positive, so dot_head > 0 ⟺ the pair
    * shares a head term — filtering dot_head > 0 reproduces the unsplit
    * pair universe exactly.
    *
    * The split is EXACT — dot = dot_tail + dot_head term-for-term in
    * integer arithmetic, norms keep every term — so the gate hash itself
    * (the oracle computes the UNSPLIT formulation) proves losslessness,
    * and SparseCosineCapSpec pins top-5 parity against the unsplit plan.
    * On Zipfian corpora production may also drop the head arm outright —
    * the [[heavyHitters]]-style ranking argument (head idf = nd div df
    * is 1..denom, the floor of the weight range) — but on THIS corpus
    * that is a measured 0/1000-rows-identical approximation (30 of 31
    * terms are head), so the gated query keeps the exact arm.
    *
    * Scale shape: explode → (doc, term) tf aggregation, a df join, the
    * weight table checkpointed ONCE (it fans into the norm pass, both
    * probe slices and both dot arms — r13's plan re-derived the whole
    * tokenize→tf→df pipeline per reference: 12 corpus scans; a
    * production deployment serves this table from the ingest-built
    * postings index), the two dot arms, a union-sum, and a per-probe
    * top-5 window. */
  def sparseCosineTopk(spark: SparkSession, dir: String): DataFrame =
    sparseCosineTopkAt(spark, dir, SparseHeadTermLimit)

  /** [[sparseCosineTopk]] at an explicit head-pivot size — the output is
    * limit-INVARIANT (the head/tail split is exact term-for-term), which
    * SparseCosineCapSpec pins by running a tiny limit against the
    * default. */
  private[operators] def sparseCosineTopkAt(
      spark: SparkSession, dir: String, headLimit: Int): DataFrame = {
    // r17: tf served from the graft_tfidx ingest table ([[termFreqs]]) —
    // the bucketed scan replaces the per-rep tokenize + explode + (doc,
    // token) aggregation, and the df aggregation below is zero-exchange
    // (pre-partitioned on the token bucket key). df is a plain count over
    // tf's already-distinct (doc, token) rows — the naive formulation
    // paid a countDistinct Expand over the full token stream.
    val tf = termFreqs(spark, dir)
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = Tables.documents(spark, dir).agg(count(lit(1)).as("nd"))
    val w = tf.join(dfreq, "token").crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"),
        (col("tf") * expr("nd div df")).as("w"), col("df"),
        expr(s"nd div $SparseDfCapDenom").as("df_cap"))
      .localCheckpoint()
    val norms = w.groupBy("doc_id").agg(sum(col("w") * col("w")).as("n2"))
    def probesOf(side: DataFrame): DataFrame =
      side.filter(col("doc_id") < SparseProbeDocs)
        .select(col("doc_id").as("doc_a"), col("token"), col("w").as("wa"))
    def dotsOf(probes: DataFrame, side: DataFrame): DataFrame = probes
      .join(side.select(col("doc_id").as("doc_b"), col("token"),
        col("w").as("wb")), "token")
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(col("wa") * col("wb")).as("dot"))
    val tailW0 = w.filter(col("df") <= col("df_cap"))
    val headW0 = w.filter(col("df") > col("df_cap"))
    // head inventory (bounded driver metadata: < denom · avg doc length
    // terms at any corpus size) ordered hottest-first; terms beyond the
    // pivot limit route BACK to the postings tail arm — they are the
    // lowest-df head slice, so tail fan-out stays near df_cap, and the
    // split is exact either way (r15 advice: no require() abort)
    val headInv = headW0.select(col("token"), col("df")).distinct()
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (t, d) => (-d, t) }
    val (keptInv, overflowInv) = headInv.splitAt(headLimit)
    val headTerms = keptInv.map(_._1).sorted
    val (tailW, headW) =
      if (overflowInv.isEmpty) (tailW0, headW0)
      else {
        val keep = keptInv.map(_._1).toSeq
        (tailW0.unionByName(headW0.filter(!col("token").isInCollection(keep))),
          headW0.filter(col("token").isInCollection(keep)))
      }
    // tail: plain postings join, every key df-bounded (shuffle-safe)
    val tailDots = dotsOf(probesOf(tailW), tailW)
    // head: bounded term inventory → dense per-doc vectors → one fused
    // multiply-add per (corpus doc, probe) pair; no postings blow-up
    val dots = if (headTerms.isEmpty) tailDots else {
      val hvAggs = headTerms.toSeq.zipWithIndex.map { case (t, i) =>
        sum(when(col("token") === t, col("w")).otherwise(0L)).as(s"h$i")
      }
      val headVecs = headW.groupBy("doc_id").agg(hvAggs.head, hvAggs.tail: _*)
      val probeVecs = headVecs.filter(col("doc_id") < SparseProbeDocs)
        .select(col("doc_id").as("doc_a") +:
          headTerms.indices.map(i => col(s"h$i").as(s"p$i")): _*)
      // balanced-tree sum, not a left fold: depth log2(|head|) instead of
      // |head|, so codegen and Catalyst's constraint propagation never see
      // a 256-deep Add chain (r14 advice)
      def balancedSum(cs: Seq[Column]): Column =
        if (cs.length == 1) cs.head
        else balancedSum(cs.grouped(2).map(_.reduce(_ + _)).toSeq)
      val fma = balancedSum(headTerms.indices
        .map(i => col(s"h$i") * col(s"p$i")))
      val headDots = headVecs.crossJoin(broadcast(probeVecs))
        .filter(col("doc_a") =!= col("doc_id"))
        .select(col("doc_a"), col("doc_id").as("doc_b"), fma.as("dot"))
        .filter(col("dot") > 0) // w > 0, so 0 ⟺ no shared head term
      tailDots.unionAll(headDots)
        .groupBy("doc_a", "doc_b").agg(sum(col("dot")).as("dot"))
    }
    dots
      .join(norms.select(col("doc_id").as("doc_a"), col("n2").as("n2a")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("n2").as("n2b")), "doc_b")
      .withColumn("sim", col("dot").cast("double") /
        sqrt(col("n2a").cast("double") * col("n2b").cast("double")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_a"))
          .orderBy(col("sim").desc, col("doc_b"))).cast("long"))
      .filter(col("rnk") <= 5)
      .crossJoin(broadcast(n))
      .select(col("doc_a"), col("rnk"), col("doc_b"), col("dot"), col("sim"),
        expr(s"nd div $SparseDfCapDenom").as("df_cap"))
      .orderBy("doc_a", "rnk")
  }

  /** Per-partition Misra-Gries candidate generation: with k counters, any
    * item whose partition frequency exceeds n_p/k survives, so the union
    * over partitions is a guaranteed SUPERSET of every item with global
    * frequency > N/k (pigeonhole: a globally heavy item is heavy in at
    * least one partition). Decrement step is O(k) amortized. */
  private[operators] def mgCandidates(iter: Iterator[String], k: Int): Iterator[String] = {
    val counters = scala.collection.mutable.HashMap.empty[String, Long]
    while (iter.hasNext) {
      val t = iter.next()
      counters.get(t) match {
        case Some(c) => counters.update(t, c + 1)
        case None if counters.size < k => counters.update(t, 1L)
        case None =>
          val dead = scala.collection.mutable.ArrayBuffer.empty[String]
          counters.foreach { case (key, c) =>
            if (c == 1L) dead += key else counters.update(key, c - 1)
          }
          dead.foreach(counters.remove)
      }
    }
    counters.keysIterator
  }

  /** EXACT heavy-hitter tokens (> 0.5% of all token occurrences) computed
    * the scale-safe way: per-partition Misra-Gries sketches (k=400 ≥ 1/s,
    * so no true heavy hitter can be missed) produce a small candidate set,
    * which is broadcast back for an exact recount — the full token→count
    * shuffle of a naive groupBy never happens; only candidate tokens are
    * counted. Results are identical to the naive aggregation (the oracle
    * computes exactly that), making the candidate phase provably lossless.
    *
    * Reference: Misra/Gries, "Finding repeated elements" (1982);
    * the per-partition merge argument is the standard MapReduce adaptation
    * (e.g. Berinde et al., "Space-optimal heavy hitters with strong error
    * bounds", PODS 2009). */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tok = tokenized(spark, dir)
      .select(explode(col("toks")).as("token"))
      .filter(col("token") =!= "")
    val cand = tok.as[String]
      .mapPartitions(it => mgCandidates(it, 400))
      .toDF("token").distinct()
    val n = tok.agg(count(lit(1)).as("n_total"))
    tok.join(broadcast(cand), "token")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(n))
      .filter(col("cnt").cast("double") > col("n_total").cast("double") / 200.0)
      .select(col("token"), col("cnt"), col("n_total"))
      .orderBy(col("cnt").desc, col("token"))
  }

  /** Gopher-style repetition quality signals per document (Rae et al.,
    * "Scaling Language Models: … Gopher", 2021 §A1.1: repetitious text is
    * a strong low-quality indicator): duplicate-word fraction, top-word
    * fraction, and duplicate-bigram fraction.
    *
    * Scale shape: bigram distinctness is computed per-row with
    * higher-order functions (no shuffle at all), and the ONE shuffle is a
    * doc_id repartition BEFORE the explode — it moves compact document
    * rows, never token rows, and both downstream aggregations reuse that
    * partitioning (HashPartitioning(doc_id) satisfies both grouping keys'
    * distributions, doc_id being a subset of each), so the exploded
    * (doc, word) stream aggregates fully partition-local. The per-doc
    * constants ride through the explode instead of joining back. */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("nbd",
        expr("""size(array_distinct(if(size(toks) < 2, array(),
               |transform(sequence(0, size(toks)-2),
               |          i -> concat(toks[i], ' ', toks[i+1])))))""".stripMargin)
          .cast("long"))
    base
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("n_words"), col("nbd"),
        explode(col("toks")).as("w"))
      .groupBy(col("doc_id"), col("n_words"), col("nbd"), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("n_words"), col("nbd"))
      .agg(count(lit(1)).as("nd"), max(col("c")).as("top"))
      .select(col("doc_id"), col("n_words"),
        (lit(1.0) - col("nd").cast("double") / col("n_words").cast("double"))
          .as("dup_word_frac"),
        (col("top").cast("double") / col("n_words").cast("double"))
          .as("top_word_frac"),
        when(col("n_words") > 1,
          lit(1.0) - col("nbd").cast("double") /
            (col("n_words") - 1).cast("double")).as("dup_bigram_frac"))
      .orderBy("doc_id")
  }

  /** Gopher/C4-style document quality GATE (Rae et al. 2021 §A1.1;
    * Raffel et al., "Exploring the Limits of Transfer Learning with a
    * Unified Text-to-Text Transformer", JMLR 2020 §2.2 — the C4 heuristic
    * family): per-document pass/fail on four fleet-standard filters —
    * word-count band, mean-word-length band, max-word-length cap, and a
    * stopword floor — rolled up per (lang, source) with per-filter fail
    * counts, so a pipeline owner sees WHICH rule rejects a corpus slice.
    *
    * Determinism: every rule is evaluated on exact integers (the
    * mean-length band is cross-multiplied — `2n ≤ Σlen ≤ 12n` — so no
    * division ever happens); the rollup sums 0/1 longs. One scan, one
    * low-cardinality hash aggregation — the same shape as qualityStats. */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val d = tokenized(spark, dir)
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("sum_tok_len",
        expr("cast(aggregate(toks, 0, (a, t) -> a + length(t)) as bigint)"))
      .withColumn("max_tok_len",
        expr("cast(array_max(transform(toks, t -> length(t))) as bigint)"))
      .withColumn("n_stop",
        expr(s"cast(size(filter(toks, t -> t in ${inList(profiles.toMap.apply("en"))})) as bigint)"))
      .withColumn("f_nwords",
        (col("n_toks") < 10 || col("n_toks") > 10000).cast("long"))
      .withColumn("f_meanlen",
        (col("sum_tok_len") < col("n_toks") * 2 ||
          col("sum_tok_len") > col("n_toks") * 12).cast("long"))
      .withColumn("f_maxword", (col("max_tok_len") > 25).cast("long"))
      .withColumn("f_stop", (col("n_stop") < 2).cast("long"))
      .withColumn("pass",
        (col("f_nwords") + col("f_meanlen") + col("f_maxword") + col("f_stop") === 0)
          .cast("long"))
    d.groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("pass")).as("n_pass"),
        sum(col("f_nwords")).as("f_nwords"),
        sum(col("f_meanlen")).as("f_meanlen"),
        sum(col("f_maxword")).as("f_maxword"),
        sum(col("f_stop")).as("f_stop"))
      .orderBy("lang", "source")
  }

  /** Language-ID confusion matrix — the evaluation half of [[langId]]:
    * actual label × predicted label counts, the standard classifier-eval
    * shape a corpus pipeline reports after any heuristic tagger. Reuses
    * the langId pipeline so predictions can never drift from the scored
    * query; the rollup is one low-cardinality hash aggregation. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame =
    langId(spark, dir)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "pred_lang")

  /** Lexical-diversity quality signals per document: type-token ratio,
    * Gini-Simpson diversity (1 - Σpᵢ²), and repeat rate (the birthday
    * collision probability Σcᵢ(cᵢ-1)/n(n-1)). These are the log-free
    * diversity measures — Shannon entropy is deliberately avoided because
    * libm log is not bit-reproducible across engines, while these are
    * exact integer sums with one final IEEE division each (same
    * rationale as the tfidf ranking).
    *
    * Scale shape: same as [[repetition]] — one doc_id repartition before
    * the explode (document rows, not token rows, cross the wire) and both
    * aggregations stay partition-local under that partitioning. */
  def diversity(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("n"), explode(col("toks")).as("w"))
      .groupBy(col("doc_id"), col("n"), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("n"))
      .agg(
        count(lit(1)).as("n_types"),
        sum(col("c") * col("c")).as("sum_c2"),
        sum(col("c") * (col("c") - 1)).as("sum_cc1"))
      .select(col("doc_id"), col("n").as("n_tokens"), col("n_types"),
        (col("n_types").cast("double") / col("n")).as("ttr"),
        (lit(1.0) - col("sum_c2").cast("double")
          / (col("n") * col("n")).cast("double")).as("simpson_diversity"),
        when(col("n") > 1, col("sum_cc1").cast("double")
          / (col("n") * (col("n") - 1)).cast("double")).as("repeat_rate"))
      .orderBy("doc_id")

  /** Inverted-index build — the retrieval primitive under every search /
    * RAG corpus: per token, collection frequency, document frequency, and
    * the head of the sorted posting list (first 5 doc_ids, shipped as a
    * CSV string because list-typed columns don't survive the
    * parquet→pandas compare). One explode + one hash aggregation on the
    * token key; posting lists aggregate as sets so within-doc repeats
    * cost nothing, and the head-slice caps per-token output regardless of
    * how hot the token is (a full posting list for a stopword would be
    * corpus-sized — the cap is the 100 TB guard, and df/cf still report
    * the true totals). */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame = {
    // r17 (guide §2.3 "aggregate before you shuffle"): two-level
    // aggregation — (token, doc_id) partials first (map-side partial
    // aggregation collapses within-doc repeats before the exchange),
    // then one plain codegen aggregate per token: df is a COUNT of the
    // distinct pairs (no countDistinct Expand machinery), cf a SUM, and
    // collect_list sees exactly the distinct posting rows collect_set
    // deduplicated before. Identical values, one fewer row-scale
    // distinct pass.
    // r17: the (token, doc) partials are exactly the graft_tfidx ingest
    // rows ([[termFreqs]]) — the per-token readout below arrives
    // pre-partitioned on the bucket key, zero-exchange.
    val td = termFreqs(spark, dir).select(col("token"), col("doc_id"),
      col("tf").as("k"))
    td.groupBy("token")
      .agg(
        sum(col("k")).as("cf"),
        count(lit(1)).as("df"),
        expr("array_join(transform(slice(sort_array(collect_list(doc_id)), 1, 5), " +
          "x -> cast(x as string)), ',')").as("postings_head"))
      .orderBy("token")
  }

  /** Corpus-level bigram collocation mining: for every adjacent token pair
    * occurring ≥ 5 times, its count and LIFT = P(xy)/(P(x)·P(y)) — the
    * log-free core of PMI (log is monotone, so the collocation RANKING is
    * the PMI ranking; libm log itself is not bit-reproducible across
    * engines, same rationale as the tfidf score). lift = (n_xy·N)/(n_x·n_y)
    * — exact integer products below 2⁵³, one IEEE division.
    *
    * Scale shape: bigrams explode per doc (no cross-doc work), aggregate
    * on the (x, y) pair key, then two shuffle joins against the unigram
    * count table on compact token keys (broadcastable under AQE when the
    * vocabulary is small) and a broadcast of the scalar N. */
  def collocations(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokenized(spark, dir)
    val uni = toks.select(explode(col("toks")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("n_w"))
    val n = uni.agg(sum(col("n_w")).as("n_total"))
    val bi = toks.select(explode(expr(
      """if(size(toks) < 2, array(),
        |  transform(sequence(0, size(toks)-2),
        |    i -> named_struct('x', toks[i], 'y', toks[i+1])))""".stripMargin))
        .as("b"))
      .select(col("b.x").as("x"), col("b.y").as("y"))
      .filter(col("x") =!= "" && col("y") =!= "")
      .groupBy("x", "y").agg(count(lit(1)).as("n_xy"))
      .filter(col("n_xy") >= 5)
    bi.join(uni.select(col("w").as("x"), col("n_w").as("n_x")), "x")
      .join(uni.select(col("w").as("y"), col("n_w").as("n_y")), "y")
      .crossJoin(broadcast(n))
      .select(col("x"), col("y"), col("n_xy"), col("n_x"), col("n_y"),
        ((col("n_xy") * col("n_total")).cast("double")
          / (col("n_x") * col("n_y")).cast("double")).as("lift"))
      .orderBy("x", "y")
  }

  /** RAKE keyword extraction (Rose et al., "Automatic keyword extraction
    * from individual documents", 2010): candidate phrases are the maximal
    * stopword-free token runs (the union of the five language profiles is
    * the stop set); word score = degree/frequency, where degree sums the
    * lengths of every phrase the word occurs in; a phrase scores the sum
    * of its words' scores; top 3 phrases per doc. The degree/frequency
    * ratio is quantized to fixed-point millionths — `(deg*1e6) div freq`,
    * exact integer — so phrase sums and the final ranking involve no
    * accumulation-order-dependent float anywhere.
    *
    * Scale: phrase runs come from the date-minus-rank constancy trick on
    * token positions (one doc_id window); word stats and phrase sums are
    * hash aggs / joins all keyed by doc_id — the whole operator
    * co-partitions on one key, no corpus-global state. */
  def rakeKeywords(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stop = profiles.flatMap(_._2)
    val runW = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = tokenized(spark, dir)
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tk")))
      .filter(col("tk") =!= "" && !col("tk").isin(stop: _*))
      .withColumn("run_id", col("pos") - row_number().over(runW))
    val withLen = runs.withColumn("plen",
      count(lit(1)).over(Window.partitionBy(col("doc_id"), col("run_id"))))
    val phrases = runs.groupBy(col("doc_id"), col("run_id"))
      .agg(array_join(
        expr("transform(sort_array(collect_list(struct(pos, tk))), x -> x.tk)"),
        " ").as("phrase"))
    val wordScores = withLen.groupBy(col("doc_id"), col("tk"))
      .agg(sum(col("plen")).as("deg"), count(lit(1)).as("freq"))
      .select(col("doc_id"), col("tk"),
        expr("(deg * 1000000) div freq").as("score_q6"))
    val phraseScores = runs.join(wordScores, Seq("doc_id", "tk"))
      .groupBy(col("doc_id"), col("run_id"))
      .agg(sum(col("score_q6")).as("phrase_score_q6"))
    val rankW = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_q6").desc, col("phrase"))
    phrases.join(phraseScores, Seq("doc_id", "run_id"))
      .groupBy(col("doc_id"), col("phrase"))
      .agg(max(col("phrase_score_q6")).as("score_q6"),
        count(lit(1)).as("n_occ"))
      .withColumn("rnk", row_number().over(rankW).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("phrase"), col("score_q6"),
        col("n_occ"))
      .orderBy("doc_id", "rnk")
  }

  private val piiEmail = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private val piiUrl = "https?://[^\\s]+"
  private val piiNum = "[0-9]{3,}"

  /** PII scrubbing report — the redaction pass every training-data
    * pipeline runs before release: per doc, counts of email-, URL- and
    * long-number-shaped spans, plus the md5 of the text with all three
    * replaced by a `<PII>` token (applied email → URL → number, so the
    * fingerprint is well-defined) and the character delta. Patterns stay
    * in the Java∩RE2 common dialect so both engines match identical
    * spans. Pure per-row expression work in one scan — codegen'd, no
    * shuffle at all. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), piiEmail, "<PII>"),
        piiUrl, "<PII>"),
      piiNum, "<PII>")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(piiEmail), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(piiUrl), lit(0)))
          .cast("long").as("n_urls"),
        size(regexp_extract_all(col("text"), lit(piiNum), lit(0)))
          .cast("long").as("n_longnums"),
        md5(redacted).as("redacted_hash"),
        (length(col("text")) - length(redacted)).cast("long").as("delta_chars"))
      .orderBy("doc_id")
  }

  /** Flesch reading-ease per document, from engine-exact counts: words =
    * non-empty tokens, sentences = `[.!?]+` runs (floored at 1), syllable
    * proxy = vowel-group runs (the standard cheap estimator — real
    * hyphenation needs a dictionary). The score 206.835 − 1.015·(W/S) −
    * 84.6·(Syl/W) is a fixed IEEE expression tree over two exact-integer
    * divisions, spelled identically in the oracle, so even the doubles
    * hash-match. Pure per-row scan work, no shuffle. */
  def readability(spark: SparkSession, dir: String): DataFrame =
    tokenized(spark, dir)
      .select(col("doc_id"),
        expr("size(filter(toks, t -> t <> ''))").cast("long").as("n_words"),
        greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
          .cast("long"), lit(1L)).as("n_sentences"),
        greatest(size(regexp_extract_all(col("text"), lit("[aeiouAEIOU]+"), lit(0)))
          .cast("long"), lit(1L)).as("n_syllables"))
      .filter(col("n_words") > 0)
      .withColumn("flesch",
        lit(206.835)
          - lit(1.015) * (col("n_words").cast("double")
            / col("n_sentences").cast("double"))
          - lit(84.6) * (col("n_syllables").cast("double")
            / col("n_words").cast("double")))
      .orderBy("doc_id")

  private val cjkClass = "[一-鿿]"
  private val latinClass = "[A-Za-z]"
  private val digitClass = "[0-9]"
  private val spaceClass = "[ \\t\\n\\r]"

  /** Unicode script-mix profile per document — CJK / Latin / digit /
    * whitespace / other character counts and the dominant script, the
    * router in front of per-script tokenizers and the mixed-script spam
    * signal. Counts are length deltas after removing each class (explicit
    * codepoint ranges, not \\p{...} script names, whose spellings differ
    * between Java regex and RE2); dominance uses a fixed CASE chain.
    * One codegen'd scan, no shuffle. */
  def scriptMix(spark: SparkSession, dir: String): DataFrame = {
    def cnt(cls: String): Column =
      (length(col("text")) - length(regexp_replace(col("text"), cls, "")))
        .cast("long")
    Tables.documents(spark, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_total"),
        cnt(cjkClass).as("n_cjk"), cnt(latinClass).as("n_latin"),
        cnt(digitClass).as("n_digit"), cnt(spaceClass).as("n_space"))
      .withColumn("n_other", col("n_total") - col("n_cjk") - col("n_latin")
        - col("n_digit") - col("n_space"))
      .withColumn("dominant",
        when(col("n_cjk") >= greatest(col("n_latin"), col("n_digit"),
          col("n_other")), "cjk")
          .when(col("n_latin") >= greatest(col("n_digit"), col("n_other")),
            "latin")
          .when(col("n_digit") >= col("n_other"), "digit")
          .otherwise("other"))
      .orderBy("doc_id")
  }

  /** BM25 query terms: fixed mid-frequency corpus tokens (retrieval over a
    * bounded query set — the bench/eval shape; a query STREAM would join
    * through [[invertedIndex]] instead of scanning). */
  private val bm25Terms = Seq("filter", "join", "stream")

  /** Okapi BM25 (k1 = 6/5, b = 3/4) document ranking for a fixed term
    * query, in the LOG-FREE rational form that keeps both engines exact:
    * with N docs, total token mass TL (so avgdl = TL/N), per-doc length
    * dl and per-(doc,term) frequency tf, clearing denominators gives
    *
    *   tf-part  = 22·TL·tf / (10·TL·tf + 3·TL + 9·dl·N)
    *   idf'     = (N − df + 1)/(df + 1)        (Robertson idf sans log —
    *              same ordering, rational instead of transcendental; `ln`
    *              is libm-dependent and can differ in the last ulp across
    *              engines, so it can never be hash-gated)
    *
    * so each term score is ONE double division of two exact BIGINT
    * products, and the doc score folds the per-term doubles in ascending
    * term order — the identical-IEEE-terms-in-identical-order contract
    * ([[graft.operators.Behavioral.survivalCurve]]'s pattern). Shape: one
    * corpus scan computes (dl, tf per query term) per doc; N/TL/df ride
    * in as two broadcast scalars + a 3-row broadcast join; ranking is
    * TakeOrdered top-15, never a global sort.
    *
    * Codegen note: the per-row `size(filter(toks, ...))` higher-order
    * functions are CodegenFallback — the same pattern bootstrapCi measured
    * 29.9 s → 4.1 s when replaced by plain comparisons on its 10M-row
    * exploded scan. Here the scan is |docs|·|terms| rows (3 per doc), two
    * orders of magnitude below that regime, and the query sits outside
    * the bench hot set; if either changes, the swap is a `tf`/`dl`
    * precompute in [[tokenized]] via one codegen'd `aggregate`-free pass
    * (or a dedicated Expression like sorted_intersect_count). */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame = {
    val termArr = array(bm25Terms.map(lit): _*)
    val docs = tokenized(spark, dir)
      .select(col("doc_id"),
        expr("size(filter(toks, t -> t <> ''))").as("dl"),
        explode(termArr).as("term"),
        col("toks"))
      .withColumn("tf", expr("size(filter(toks, t -> t = term))"))
      .drop("toks")
      .filter(col("tf") > 0)
    val corpus = tokenized(spark, dir).agg(
      count(lit(1)).as("n_docs"),
      sum(expr("size(filter(toks, t -> t <> ''))")).as("tl"))
    val dfs = docs.groupBy("term").agg(count(lit(1)).as("df"))
    docs
      .join(broadcast(dfs), "term")
      .crossJoin(broadcast(corpus))
      .withColumn("score_term",
        (lit(22L) * col("tl") * col("tf") * (col("n_docs") - col("df") + 1L))
          .cast("double") /
        ((lit(10L) * col("tl") * col("tf") + lit(3L) * col("tl")
          + lit(9L) * col("dl") * col("n_docs")) * (col("df") + 1L))
          .cast("double"))
      .groupBy(col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("n_terms"),
        expr("""aggregate(
               |  transform(array_sort(collect_list(struct(term, score_term))),
               |            x -> x.score_term),
               |  cast(0.0 as double), (acc, s) -> acc + s)""".stripMargin)
          .as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(15)
  }

  /** Count-based LANGUAGE-MODEL data selection, integer form: score each
    * held-out document by the fraction of its adjacent-token bigrams
    * unseen in a reference corpus — the count-only proxy for in-domain
    * cross-entropy selection (Moore & Lewis, "Intelligent Selection of
    * Language Model Training Data", ACL 2010): a real pipeline scores
    * perplexity under an in-domain LM; OOV-bigram rate is its exact-
    * arithmetic skeleton (unseen n-grams dominate the perplexity of
    * out-of-domain text). Reference = even doc_ids, scored = odd — the
    * same deterministic split the training-split family uses.
    *
    * Scale shape: bigrams ship as 8-byte hashes; the reference is a
    * DISTINCT hash set (linear in reference vocabulary, not corpus) and
    * membership is one hash left-join; per-doc counts are a hash agg.
    * The n-gram LM itself never materializes — exactly how count-based
    * selection runs over a 100 TB corpus. */
  def bigramOov(spark: SparkSession, dir: String): DataFrame = {
    // r17: native word_bigram_hashes — one byte-level codegen pass per
    // row (digest fed the token slices directly) instead of the
    // interpreted filter∘split + transform∘sequence HOF chain with a
    // concat per bigram. Docs with < 2 words yield an empty array, so
    // explode drops exactly the rows the old size(tk) >= 2 filter did;
    // values pinned identical in BigramExpressionsSpec.
    val bg = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(expr("word_bigram_hashes(text, 'bg:')")).as("h"))
    val ref = bg.filter(col("doc_id") % 2 === 0)
      .select("h").distinct().withColumn("known", lit(1L))
    bg.filter(col("doc_id") % 2 === 1)
      .join(ref, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("known").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_micro", expr("1000000 * n_oov div n_bigrams"))
      .orderBy("doc_id")
  }

  /** TextRank keyword scores (Mihalcea & Tarau, "TextRank: Bringing
    * Order into Texts", EMNLP 2004) over the corpus-level word
    * co-occurrence graph: an undirected edge between adjacent tokens
    * (window 2, the paper's default) weighted by corpus co-occurrence
    * count, thresholded at ≥ 5 like [[collocations]]; then 3 iterations
    * of weighted PageRank in exact SCALED-INTEGER arithmetic (the same
    * micro-unit scheme as `graph_pagerank_int`: rank₀ = 10⁶, contribution
    * = rank·w div wdeg, next = 0.15·10⁶ + 0.85·Σ with floor division —
    * float PageRank can never hash-gate across engines). Top 20 words.
    *
    * Scale shape: the graph is vocabulary-sized, not corpus-sized — one
    * token-pair hash agg reduces the corpus to (x, y, n) edges, and each
    * iteration is one join + one hash agg on the word key. The corpus is
    * scanned once; iterations touch only the vocabulary graph. */
  def textrank(spark: SparkSession, dir: String): DataFrame = {
    val bi = tokenized(spark, dir)
      .select(explode(expr(
        """if(size(toks) < 2, array(),
          |  transform(sequence(0, size(toks)-2),
          |    i -> named_struct('x', toks[i], 'y', toks[i+1])))""".stripMargin))
        .as("b"))
      .select(col("b.x").as("x"), col("b.y").as("y"))
      .filter(col("x") =!= "" && col("y") =!= "" && col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("x"), greatest(col("x"), col("y")).as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 5)
    val sym = bi.select(col("x").as("u"), col("y").as("v"), col("n"))
      .union(bi.select(col("y").as("u"), col("x").as("v"), col("n")))
    val wdeg = sym.groupBy(col("u")).agg(sum(col("n")).as("wdeg"))
    var pr = wdeg.select(col("u").as("w"), lit(1000000L).as("pr"))
    for (_ <- 1 to 3) {
      pr = sym
        .join(pr.select(col("w").as("u"), col("pr")), "u")
        .join(wdeg, "u")
        .select(col("v"), expr("pr * n div wdeg").as("c"))
        .groupBy(col("v"))
        .agg((lit(150000L) + expr("850 * sum(c) div 1000")).as("pr"))
        .select(col("v").as("w"), col("pr"))
    }
    pr.join(wdeg.select(col("u").as("w"), col("wdeg")), "w")
      .orderBy(col("pr").desc, col("w"))
      .limit(20)
      .select(col("w").as("word"), col("wdeg"), col("pr"))
  }

  /** Heaps'-law vocabulary growth curve (Heaps 1978): cumulative distinct
    * vocabulary vs cumulative token count at 10 corpus checkpoints (doc_id
    * deciles). The quantity every tokenizer-training and corpus-sizing
    * decision reads off — V(N) ≈ K·N^β flattening signals the corpus is
    * saturating its domain.
    *
    * Computed WITHOUT any cumulative window over the corpus: a token's
    * contribution to every checkpoint is determined by its FIRST
    * occurrence (min doc_id per token — one hash agg), so vocabulary at
    * checkpoint c is a count of first_doc ≤ c, evaluated for all 10
    * checkpoints via one broadcast cross join. Token totals come the same
    * way from per-doc counts. Two corpus-sized hash aggs + two
    * checkpoint-sized aggs — nothing scales worse than the token count. */
  def heapsLaw(spark: SparkSession, dir: String): DataFrame = {
    val docs = tokenized(spark, dir)
    val toks = docs
      .select(col("doc_id"), explode(col("toks")).as("t"))
      .filter(col("t") =!= "")
    val cps = Tables.documents(spark, dir).agg(max(col("doc_id")).as("max_id"))
      .select(explode(expr(
        "transform(sequence(1, 10), i -> (i * max_id) div 10)")).as("cp"))
    val vocab = toks.groupBy("t").agg(min(col("doc_id")).as("first_doc"))
      .crossJoin(broadcast(cps))
      .filter(col("first_doc") <= col("cp"))
      .groupBy("cp").agg(count(lit(1)).as("vocab_cum"))
    val total = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(cps))
      .filter(col("doc_id") <= col("cp"))
      .groupBy("cp").agg(sum(col("n")).as("n_tokens_cum"))
    total.join(vocab, "cp")
      .select(col("cp").as("checkpoint_doc"), col("n_tokens_cum"),
        col("vocab_cum"))
      .orderBy("checkpoint_doc")
  }

  /** Token burstiness (Church & Gale, "Poisson mixtures", 1995): the
    * variance-to-mean ratio of a token's per-document counts over the
    * documents that contain it. VMR ≈ 1 is Poisson scatter (function
    * words); VMR ≫ 1 is a bursty content word that concentrates in few
    * docs — the signal separating topical terms from glue, used by
    * df-weighting and stopword-list induction. Exact integers: for token
    * t with df docs, cf total occurrences and Σx² the per-doc square sum,
    * vmr_micro = 10⁶·(df·Σx² − cf²) div (df·cf) — the population-variance
    * cross-multiplication, one floor division at the end. Tokens with
    * df ≥ 10; top 20 by burstiness.
    *
    * Scale shape: one (doc_id, token) hash agg then one token hash agg —
    * the same two-stage reduction as TF-IDF; top-20 via TakeOrdered. */
  def burstiness(spark: SparkSession, dir: String): DataFrame =
    tokenized(spark, dir)
      .select(col("doc_id"), explode(col("toks")).as("t"))
      .filter(col("t") =!= "")
      .groupBy("doc_id", "t").agg(count(lit(1)).as("x"))
      .groupBy("t")
      .agg(count(lit(1)).as("df"), sum(col("x")).as("cf"),
        sum(col("x") * col("x")).as("sxx"))
      .filter(col("df") >= 10)
      .select(col("t").as("token"), col("df"), col("cf"),
        // DECIMAL(38,0): cf² · 10⁶ exceeds BIGINT once cf ≳ 3e6 (a common
        // token at a few hundred GB of text); decimals keep it exact
        expr("""cast((cast(1000000 as decimal(38,0))
               |      * (cast(df as decimal(38,0)) * sxx - cast(cf as decimal(38,0)) * cf))
               |  div (cast(df as decimal(38,0)) * cf) as bigint)""".stripMargin)
          .as("vmr_micro"))
      .orderBy(col("vmr_micro").desc, col("token"))
      .limit(20)

  /** Log-binned word frequency spectrum (the Zipf/Good-Turing
    * diagnostic): distinct-word and token-mass counts per power-of-two
    * corpus-frequency band [2ᵏ, 2ᵏ⁺¹), plus the vocabulary size and
    * singleton count as constants. N₁/vocab (the singleton share) is
    * Good-Turing's unseen-mass estimate — the standard smoothing input
    * for any n-gram LM over the corpus — and the band slope is the
    * in-practice Zipf check. Power-of-two bands keep the report
    * populated and bounded (≤63 rows) at EVERY corpus scale, where a
    * raw freq≤K cut goes empty once the corpus outgrows K.
    *
    * Exact integers throughout: the band is the max power of two ≤ freq
    * from a broadcast 63-row shift table — no log2, no doubles.
    *
    * Scale shape: token hash agg → vocabulary-sized band agg — the
    * second input is vocab-sized, not corpus-sized. */
  def freqSpectrum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = tokenized(spark, dir)
      .select(explode(col("toks")).as("t"))
      .filter(col("t") =!= "")
      .groupBy("t").agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(
      count(lit(1)).as("vocab_size"),
      sum(when(col("cnt") === 1L, 1L).otherwise(0L)).as("n_singletons"))
    val powers = (0 until 63).map(i => 1L << i).toDF("band")
    counts.join(broadcast(powers), col("band") <= col("cnt"))
      .groupBy("t", "cnt").agg(max(col("band")).as("band"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_words"), sum(col("cnt")).as("n_tokens"))
      .crossJoin(broadcast(totals))
      .select(col("band"), col("n_words"), col("n_tokens"),
        col("vocab_size"), col("n_singletons"))
      .orderBy("band")
  }

  /** Pairwise SOURCE vocabulary overlap (Jaccard over distinct token
    * sets) — the domain-shift diagnostic a mixture pipeline checks
    * before setting sampling quotas: sources with near-disjoint
    * vocabularies need separate quality models. Exact integers: one
    * distinct (source, token) set, a token-keyed self-join counting
    * co-occurring source pairs, broadcast per-source vocab sizes,
    * Jaccard in floor micro units.
    *
    * Scale shape: the shuffle is on tokens (vocabulary-sized after
    * distinct); output is O(sources²) — sources are a bounded domain
    * like nation/region. The self-join fans out per token by its
    * SOURCE-count, not its corpus frequency (distinct first!), so a
    * stopword costs sources², not df². */
  def vocabOverlap(spark: SparkSession, dir: String): DataFrame = {
    val st = tokenized(spark, dir)
      .select(col("source"), explode(col("toks")).as("t"))
      .filter(col("t") =!= "")
      .distinct()
    val sizes = st.groupBy("source").agg(count(lit(1)).as("vocab"))
    val right = st.select(col("source").as("source_b"), col("t"))
    val inter = st.join(right, Seq("t"))
      .filter(col("source") < col("source_b"))
      .groupBy(col("source").as("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.select(col("source").as("source_a"),
        col("vocab").as("vocab_a"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("vocab").as("vocab_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("vocab_a"), col("vocab_b"),
        col("n_common"),
        expr("n_common * 1000000 div (vocab_a + vocab_b - n_common)")
          .as("jaccard_micro"))
      .orderBy("source_a", "source_b")
  }

  /** Keep threshold for [[lmScore]], in half-bits of quantized surprisal
    * (≈ 4.9 bits/bigram): sits inside the corpus's observed spread so the
    * gate exercises both outcomes. */
  private val LmKeepHalfBits = 9.8

  /** LM-perplexity quality scoring — the CCNet discipline (Wenzek et
    * al., "CCNet: Extracting high quality monolingual datasets from web
    * crawl data", LREC 2020): score every document by a language model's
    * per-token surprisal and keep the low-perplexity (fluent) ones. The
    * model here is a corpus-trained add-one-smoothed bigram LM
    * (p(r|l) = (c(l,r)+1)/(c(l)+V)), and the per-bigram surprisal is
    * QUANTIZED to half-bits: s = ⌊2·log2(c(l)+V)⌋ − ⌊2·log2(c(l,r)+1)⌋
    * computed as `length(bin(x·x))` differences — pure integer
    * arithmetic, because libm log/exp are not bit-reproducible across
    * engines (the [[tfidf]] precedent); the only float op is the final
    * per-doc division, one correctly-rounded IEEE divide. The quantized
    * score is within 1 half-bit per term of true 2·log2 surprisal —
    * monotone enough for the filtering decision, which is gated
    * alongside the exact integer components.
    *
    * Scale shape: one corpus scan explodes bigrams; the model tables
    * (c(l,r), c(l)) are vocabulary-bounded aggregations that AQE
    * broadcasts back onto the per-doc bigram counts; V is a one-row
    * broadcast. No windows, no driver loops — at 100 TB this is the
    * standard "train n-gram counts, score corpus" two-aggregation
    * pipeline. */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    // r17 (guide §1.2 step 2, the r16 HOF campaign finished for the text
    // family): the bigram stream is generated by the native codegen
    // word_bigrams / word_tokens expressions instead of a 3-deep
    // CodegenFallback HOF chain (filter∘split + zip_with∘slice∘slice) —
    // this query scans the corpus 4× (per model aggregation), so the
    // per-scan lambda overhead was paid 4× per rep. Same tokens and
    // pairs by construction (BigramExpressionsSpec pins the
    // equivalence byte-for-byte); the measured rollup alternative (one
    // scan, models derived from db) LOST in r16 — map-side partial
    // aggregation makes the extra scans cheap once the per-row work is
    // codegen.
    val bg = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(expr("word_bigrams(text)")).as("p"))
      .select(col("doc_id"), col("p.l").as("l"), col("p.r").as("r"))
    val db = bg.groupBy("doc_id", "l", "r").agg(count(lit(1)).as("k"))
    val lm2 = bg.groupBy("l", "r").agg(count(lit(1)).as("c12"))
    val lm1 = bg.groupBy("l").agg(count(lit(1)).as("c1"))
    val vDf = Tables.documents(spark, dir)
      .select(explode(expr("word_tokens(text)")).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    db.join(lm2, Seq("l", "r")).join(lm1, Seq("l"))
      .crossJoin(broadcast(vDf))
      .withColumn("s", expr(
        "(length(bin((c1 + v) * (c1 + v))) - " +
          "length(bin((c12 + 1) * (c12 + 1)))) * k"))
      .groupBy("doc_id")
      .agg(sum(col("k")).as("n_bigrams"), sum(col("s")).as("surprise_hb"))
      .withColumn("avg_hbits",
        col("surprise_hb").cast("double") / col("n_bigrams"))
      .withColumn("kept", col("avg_hbits") < lit(LmKeepHalfBits))
      .orderBy("doc_id")
  }

  /** Interpolated Kneser-Ney bigram scoring (Kneser & Ney, ICASSP 1995;
    * the smoothing KenLM ships as default and CCNet's quality LM rides
    * on) — the principled upgrade over [[lmScore]]'s add-one baseline:
    * absolute discount d = 3/4 off every seen bigram, with the freed
    * mass re-spent through the CONTINUATION distribution (how many
    * distinct contexts a word follows — which is why "francisco" scores
    * low outside "san" even though it is frequent). With d = 3/4 the
    * probability is an exact rational:
    *
    *   P = [(4·c12 − 3)·N + 3·T1·cont2] / (4·c1·N)
    *
    * (c1 = Σ_r c12 predecessor mass, T1 = distinct followers of l,
    * cont2 = distinct predecessors of r, N = distinct bigram types), so
    * both engines score it in BIGINT arithmetic: the per-bigram
    * surprisal is the half-bit log of the INTEGER ratio den div num
    * (num ≤ den always — the ratio is the rounded-down perplexity
    * contribution), and the per-doc average ships as exact millis via
    * floor division. Same two-level model shape as lmScore: one corpus
    * bigram scan, vocab-bounded model aggregates broadcast back onto the
    * per-doc bigram table. */
  def kneserNey(spark: SparkSession, dir: String): DataFrame = {
    // Native bigram generator — same move as [[lmScore]] (r17).
    val bg = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(expr("word_bigrams(text)")).as("p"))
      .select(col("doc_id"), col("p.l").as("l"), col("p.r").as("r"))
    val db = bg.groupBy("doc_id", "l", "r").agg(count(lit(1)).as("k"))
    val lm2 = bg.groupBy("l", "r").agg(count(lit(1)).as("c12"))
    val lm1 = lm2.groupBy("l")
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("t1"))
    val cont = lm2.groupBy("r").agg(count(lit(1)).as("cont2"))
    val nbt = lm2.agg(count(lit(1)).as("nbt"))
    db.join(lm2, Seq("l", "r")).join(lm1, Seq("l")).join(cont, Seq("r"))
      .crossJoin(broadcast(nbt))
      .withColumn("num", expr("(4 * c12 - 3) * nbt + 3 * t1 * cont2"))
      .withColumn("den", expr("4 * c1 * nbt"))
      .withColumn("s", expr("length(bin((den div num) * (den div num))) * k"))
      .groupBy("doc_id")
      .agg(sum(col("k")).as("n_bigrams"), sum(col("s")).as("kn_hbits"))
      .withColumn("avg_millihb", expr("1000 * kn_hbits div n_bigrams"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ta_kneser_ney" -> (kneserNey _),
    "ta_lm_score" -> (lmScore _),
    "ta_vocab_overlap" -> (vocabOverlap _),
    "ta_freq_spectrum" -> (freqSpectrum _),
    "ta_burstiness" -> (burstiness _),
    "ta_heaps_law" -> (heapsLaw _),
    "ta_textrank" -> (textrank _),
    "ta_bigram_oov" -> (bigramOov _),
    "ta_bm25_topk" -> (bm25TopK _),
    "ta_script_mix" -> (scriptMix _),
    "ta_readability" -> (readability _),
    "ta_pii_scrub" -> (piiScrub _),
    "ta_rake_keywords" -> (rakeKeywords _),
    "ta_collocations" -> (collocations _),
    "ta_inverted_index" -> (invertedIndex _),
    "ta_diversity" -> (diversity _),
    "ta_lang_confusion" -> (langConfusion _),
    "ta_quality_filter" -> (qualityFilter _),
    "ta_repetition" -> (repetition _),
    "ta_lang_id" -> (langId _),
    "ta_quality_stats" -> (qualityStats _),
    "ta_token_stats" -> (tokenStats _),
    "ta_fingerprint" -> (fingerprint _),
    "ta_tfidf" -> (tfidf _),
    "ta_sparse_cosine_topk" -> (sparseCosineTopk _),
    "ta_heavy_hitters" -> (heavyHitters _),
    "ta_trigram_coverage" -> (trigramCoverage _),
    "ta_sentence_dedup" -> (sentenceDedup _)
  )

  private val dToks = """string_split_regex(text, '\s+')"""

  /** Shared scored/pred CTE for the lang-id oracles. */
  private def langPredSql: String = {
    val scores = profiles.map { case (l, ws) =>
      s"CAST(len(list_filter($dToks, t -> t IN ${inList(ws)})) AS DOUBLE) / len($dToks) AS s_$l"
    }.mkString(",\n  ")
    s"""scored AS (SELECT doc_id, lang,
       |  $scores
       |FROM documents),
       |pred AS (SELECT doc_id, lang,
       |  CASE WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
       |       WHEN s_en >= greatest(s_es, s_fr, s_zh) THEN 'en'
       |       WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
       |       WHEN s_fr >= s_zh THEN 'fr'
       |       ELSE 'zh' END AS pred_lang,
       |  s_de, s_en, s_es, s_fr, s_zh
       |FROM scored)""".stripMargin
  }

  private val piiChainSql: String =
    s"regexp_replace(regexp_replace(regexp_replace(text, '$piiEmail', '<PII>', 'g'), '$piiUrl', '<PII>', 'g'), '$piiNum', '<PII>', 'g')"

  val oracle: Map[String, String] = Map(
    "ta_kneser_ney" ->
      s"""WITH ws AS (SELECT doc_id,
         |    list_filter($dToks, x -> x <> '') AS w FROM documents),
         |bg AS (SELECT doc_id, w[i] AS l, w[i+1] AS r
         |  FROM ws, UNNEST(range(1, len(w))) AS u(i)),
         |db AS (SELECT doc_id, l, r, COUNT(*) AS k FROM bg GROUP BY 1, 2, 3),
         |lm2 AS MATERIALIZED (SELECT l, r, CAST(COUNT(*) AS BIGINT) AS c12
         |  FROM bg GROUP BY 1, 2),
         |lm1 AS (SELECT l, CAST(SUM(c12) AS BIGINT) AS c1,
         |    CAST(COUNT(*) AS BIGINT) AS t1 FROM lm2 GROUP BY 1),
         |cont AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS cont2
         |  FROM lm2 GROUP BY 1),
         |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nbt FROM lm2),
         |j AS (SELECT db.doc_id, db.k,
         |    length(bin(((4 * c1 * nbt) // ((4 * c12 - 3) * nbt + 3 * t1 * cont2))
         |      * ((4 * c1 * nbt) // ((4 * c12 - 3) * nbt + 3 * t1 * cont2)))) * k AS s
         |  FROM db JOIN lm2 USING (l, r) JOIN lm1 USING (l)
         |  JOIN cont USING (r) CROSS JOIN nb)
         |SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(s) AS BIGINT) AS kn_hbits,
         |  CAST(1000 * SUM(s) // SUM(k) AS BIGINT) AS avg_millihb
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "ta_lm_score" ->
      s"""WITH ws AS (SELECT doc_id,
         |    list_filter($dToks, x -> x <> '') AS w FROM documents),
         |bg AS (SELECT doc_id, w[i] AS l, w[i+1] AS r
         |  FROM ws, UNNEST(range(1, len(w))) AS u(i)),
         |db AS (SELECT doc_id, l, r, COUNT(*) AS k FROM bg GROUP BY 1, 2, 3),
         |lm2 AS (SELECT l, r, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
         |lm1 AS (SELECT l, COUNT(*) AS c1 FROM bg GROUP BY 1),
         |vv AS (SELECT COUNT(DISTINCT x.t) AS v
         |  FROM (SELECT UNNEST(w) AS t FROM ws) x),
         |j AS (SELECT db.doc_id, db.k,
         |    (length(bin((c1 + v) * (c1 + v)))
         |      - length(bin((c12 + 1) * (c12 + 1)))) * k AS s
         |  FROM db JOIN lm2 USING (l, r) JOIN lm1 USING (l) CROSS JOIN vv)
         |SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(s) AS BIGINT) AS surprise_hb,
         |  CAST(SUM(s) AS DOUBLE) / SUM(k) AS avg_hbits,
         |  CAST(SUM(s) AS DOUBLE) / SUM(k) < 9.8 AS kept
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "ta_vocab_overlap" ->
      s"""WITH st AS (SELECT DISTINCT source, u.tk AS t
         |  FROM (SELECT source, $dToks AS tk FROM documents), UNNEST(tk) AS u(tk)
         |  WHERE u.tk <> ''),
         |sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab
         |          FROM st GROUP BY 1),
         |inter AS (SELECT a.source AS source_a, b.source AS source_b,
         |    CAST(COUNT(*) AS BIGINT) AS n_common
         |  FROM st a JOIN st b ON a.t = b.t AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b,
         |  sa.vocab AS vocab_a, sb.vocab AS vocab_b, n_common,
         |  CAST(n_common * 1000000 // (sa.vocab + sb.vocab - n_common) AS BIGINT)
         |    AS jaccard_micro
         |FROM inter
         |JOIN sizes sa ON sa.source = source_a
         |JOIN sizes sb ON sb.source = source_b
         |ORDER BY source_a, source_b""".stripMargin,
    "ta_freq_spectrum" ->
      s"""WITH toks AS (SELECT u.tk AS t
         |  FROM (SELECT $dToks AS tk FROM documents), UNNEST(tk) AS u(tk)
         |  WHERE u.tk <> ''),
         |cnts AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY t),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
         |  CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons
         |  FROM cnts),
         |pw AS (SELECT CAST(1 AS BIGINT) << CAST(i AS INTEGER) AS band
         |       FROM (SELECT unnest(range(0, 63)) AS i)),
         |banded AS (SELECT t, cnt, MAX(band) AS band
         |  FROM cnts JOIN pw ON band <= cnt GROUP BY t, cnt)
         |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(cnt) AS BIGINT) AS n_tokens, vocab_size, n_singletons
         |FROM banded, tot GROUP BY 1, 4, 5 ORDER BY band""".stripMargin,
    "ta_burstiness" ->
      s"""WITH toks AS (SELECT doc_id, u.tk AS t
         |  FROM (SELECT doc_id, $dToks AS tk FROM documents), UNNEST(tk) AS u(tk)
         |  WHERE u.tk <> ''),
         |dx AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS x
         |       FROM toks GROUP BY 1, 2),
         |st AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df,
         |         CAST(SUM(x) AS BIGINT) AS cf,
         |         CAST(SUM(x * x) AS BIGINT) AS sxx
         |       FROM dx GROUP BY t)
         |SELECT t AS token, df, cf,
         |  CAST((CAST(1000000 AS HUGEINT)
         |        * (CAST(df AS HUGEINT) * sxx - CAST(cf AS HUGEINT) * cf))
         |    // (CAST(df AS HUGEINT) * cf) AS BIGINT) AS vmr_micro
         |FROM st WHERE df >= 10
         |ORDER BY vmr_micro DESC, token LIMIT 20""".stripMargin,
    "ta_heaps_law" ->
      s"""WITH toks AS (SELECT doc_id, u.tk AS t
         |  FROM (SELECT doc_id, $dToks AS tk FROM documents), UNNEST(tk) AS u(tk)
         |  WHERE u.tk <> ''),
         |cps AS (SELECT (i * (SELECT MAX(doc_id) FROM documents)) // 10 AS cp
         |        FROM UNNEST(range(1, 11)) AS r(i)),
         |fo AS (SELECT t, MIN(doc_id) AS first_doc FROM toks GROUP BY t),
         |vocab AS (SELECT cp, CAST(COUNT(*) AS BIGINT) AS vocab_cum
         |          FROM fo, cps WHERE first_doc <= cp GROUP BY cp),
         |dc AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
         |tot AS (SELECT cp, CAST(SUM(n) AS BIGINT) AS n_tokens_cum
         |        FROM dc, cps WHERE doc_id <= cp GROUP BY cp)
         |SELECT t.cp AS checkpoint_doc, t.n_tokens_cum, v.vocab_cum
         |FROM tot t JOIN vocab v ON v.cp = t.cp
         |ORDER BY checkpoint_doc""".stripMargin,
    "ta_textrank" ->
      s"""WITH toks AS (SELECT doc_id, $dToks AS t FROM documents),
         |bg AS (SELECT LEAST(t[i+1], t[i+2]) AS x, GREATEST(t[i+1], t[i+2]) AS y
         |       FROM toks, UNNEST(range(len(t)-1)) AS u(i)
         |       WHERE t[i+1] <> '' AND t[i+2] <> '' AND t[i+1] <> t[i+2]),
         |bi AS (SELECT x, y, COUNT(*) AS n FROM bg GROUP BY x, y
         |       HAVING COUNT(*) >= 5),
         |sym AS (SELECT x AS u, y AS v, n FROM bi
         |        UNION ALL SELECT y, x, n FROM bi),
         |wdeg AS (SELECT u, CAST(SUM(n) AS BIGINT) AS wdeg FROM sym GROUP BY u),
         |pr0 AS (SELECT u AS w, CAST(1000000 AS BIGINT) AS pr FROM wdeg),
         |pr1 AS (SELECT s.v AS w,
         |          150000 + (850 * SUM((p.pr * s.n) // d.wdeg)) // 1000 AS pr
         |        FROM sym s JOIN pr0 p ON p.w = s.u JOIN wdeg d ON d.u = s.u
         |        GROUP BY 1),
         |pr2 AS (SELECT s.v AS w,
         |          150000 + (850 * SUM((p.pr * s.n) // d.wdeg)) // 1000 AS pr
         |        FROM sym s JOIN pr1 p ON p.w = s.u JOIN wdeg d ON d.u = s.u
         |        GROUP BY 1),
         |pr3 AS (SELECT s.v AS w,
         |          150000 + (850 * SUM((p.pr * s.n) // d.wdeg)) // 1000 AS pr
         |        FROM sym s JOIN pr2 p ON p.w = s.u JOIN wdeg d ON d.u = s.u
         |        GROUP BY 1)
         |SELECT p.w AS word, d.wdeg, CAST(p.pr AS BIGINT) AS pr
         |FROM pr3 p JOIN wdeg d ON d.u = p.w
         |ORDER BY pr DESC, word LIMIT 20""".stripMargin,
    "ta_bigram_oov" ->
      s"""WITH toks AS (SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
         |  FROM documents),
         |bg AS (SELECT doc_id,
         |    ${Dedup.dh60("'bg:' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM toks, UNNEST(range(len(tk) - 1)) AS u(i)
         |  WHERE len(tk) >= 2),
         |ref AS (SELECT DISTINCT h FROM bg WHERE doc_id % 2 = 0),
         |sc AS (SELECT b.doc_id, CASE WHEN r.h IS NULL THEN 1 ELSE 0 END AS oov
         |       FROM bg b LEFT JOIN ref r USING (h) WHERE b.doc_id % 2 = 1)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(oov) AS BIGINT) AS n_oov,
         |  CAST(1000000 * SUM(oov) // COUNT(*) AS BIGINT) AS oov_micro
         |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,
    "ta_bm25_topk" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
        |  FROM documents),
        |corpus AS (SELECT COUNT(*) AS n_docs, CAST(SUM(len(tk)) AS BIGINT) AS tl
        |           FROM toks),
        |dt AS (SELECT doc_id, len(tk) AS dl, term,
        |    len(list_filter(tk, t -> t = term)) AS tf
        |  FROM toks, (SELECT unnest(['filter', 'join', 'stream']) AS term) q),
        |dtf AS (SELECT * FROM dt WHERE tf > 0),
        |dfs AS (SELECT term, COUNT(*) AS df FROM dtf GROUP BY 1),
        |scored AS (SELECT doc_id, dl, term,
        |    CAST(22 * tl * tf * (n_docs - df + 1) AS DOUBLE)
        |      / CAST((10 * tl * tf + 3 * tl + 9 * dl * n_docs) * (df + 1) AS DOUBLE)
        |      AS score_term
        |  FROM dtf JOIN dfs USING (term) CROSS JOIN corpus)
        |SELECT doc_id, CAST(dl AS INTEGER) AS dl, CAST(COUNT(*) AS BIGINT) AS n_terms,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(score_term ORDER BY term)),
        |              (a, b) -> a + b) AS score
        |FROM scored GROUP BY doc_id, dl
        |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin,
    "ta_script_mix" ->
      s"""WITH c AS (SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_total,
         |    CAST(length(text) - length(regexp_replace(text, '$cjkClass', '', 'g')) AS BIGINT) AS n_cjk,
         |    CAST(length(text) - length(regexp_replace(text, '$latinClass', '', 'g')) AS BIGINT) AS n_latin,
         |    CAST(length(text) - length(regexp_replace(text, '$digitClass', '', 'g')) AS BIGINT) AS n_digit,
         |    CAST(length(text) - length(regexp_replace(text, '$spaceClass', '', 'g')) AS BIGINT) AS n_space
         |  FROM documents)
         |SELECT doc_id, n_total, n_cjk, n_latin, n_digit, n_space,
         |  n_total - n_cjk - n_latin - n_digit - n_space AS n_other,
         |  CASE WHEN n_cjk >= greatest(n_latin, n_digit,
         |              n_total - n_cjk - n_latin - n_digit - n_space) THEN 'cjk'
         |       WHEN n_latin >= greatest(n_digit,
         |              n_total - n_cjk - n_latin - n_digit - n_space) THEN 'latin'
         |       WHEN n_digit >= n_total - n_cjk - n_latin - n_digit - n_space
         |            THEN 'digit'
         |       ELSE 'other' END AS dominant
         |FROM c ORDER BY doc_id""".stripMargin,
    "ta_readability" ->
      s"""WITH c AS (SELECT doc_id,
         |    CAST(len(list_filter($dToks, t -> t <> '')) AS BIGINT) AS n_words,
         |    greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1) AS n_sentences,
         |    greatest(CAST(len(regexp_extract_all(text, '[aeiouAEIOU]+')) AS BIGINT), 1) AS n_syllables
         |  FROM documents)
         |SELECT doc_id, n_words, n_sentences, n_syllables,
         |  2.06835e2
         |    - 1.015e0 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
         |    - 8.46e1 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) AS flesch
         |FROM c WHERE n_words > 0 ORDER BY doc_id""".stripMargin,
    "ta_pii_scrub" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$piiEmail')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$piiUrl')) AS BIGINT) AS n_urls,
         |  CAST(len(regexp_extract_all(text, '$piiNum')) AS BIGINT) AS n_longnums,
         |  md5($piiChainSql) AS redacted_hash,
         |  CAST(length(text) - length($piiChainSql) AS BIGINT) AS delta_chars
         |FROM documents ORDER BY doc_id""".stripMargin,
    "ta_rake_keywords" ->
      s"""WITH toks AS (SELECT doc_id, $dToks AS t FROM documents),
         |pos AS (SELECT doc_id, t[i+1] AS tk, CAST(i AS INTEGER) AS pos
         |        FROM toks, UNNEST(range(len(t))) AS u(i)
         |        WHERE t[i+1] <> ''
         |          AND t[i+1] NOT IN ${inList(profiles.flatMap(_._2))}),
         |runs AS (SELECT doc_id, tk, pos,
         |         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
         |         FROM pos),
         |rl AS (SELECT *, COUNT(*) OVER (PARTITION BY doc_id, run_id) AS plen FROM runs),
         |phr AS (SELECT doc_id, run_id, string_agg(tk, ' ' ORDER BY pos) AS phrase
         |        FROM runs GROUP BY 1, 2),
         |wst AS (SELECT doc_id, tk,
         |        (CAST(SUM(plen) AS BIGINT) * 1000000) // COUNT(*) AS score_q6
         |        FROM rl GROUP BY 1, 2),
         |ps AS (SELECT r.doc_id, r.run_id, CAST(SUM(w.score_q6) AS BIGINT) AS phrase_score_q6
         |       FROM runs r JOIN wst w ON r.doc_id = w.doc_id AND r.tk = w.tk
         |       GROUP BY 1, 2),
         |sc AS (SELECT p.doc_id, p.phrase, MAX(s.phrase_score_q6) AS score_q6,
         |         COUNT(*) AS n_occ
         |       FROM phr p JOIN ps s ON p.doc_id = s.doc_id AND p.run_id = s.run_id
         |       GROUP BY 1, 2),
         |rk AS (SELECT doc_id, phrase, score_q6, CAST(n_occ AS BIGINT) AS n_occ,
         |       ROW_NUMBER() OVER (PARTITION BY doc_id
         |         ORDER BY score_q6 DESC, phrase) AS rnk FROM sc)
         |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, phrase, score_q6, n_occ
         |FROM rk WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "ta_collocations" ->
      s"""WITH toks AS (SELECT doc_id, $dToks AS t FROM documents),
         |w AS (SELECT u.tk AS w FROM toks, UNNEST(t) AS u(tk) WHERE u.tk <> ''),
         |uni AS (SELECT w, COUNT(*) AS n_w FROM w GROUP BY w),
         |n AS (SELECT CAST(SUM(n_w) AS BIGINT) AS n_total FROM uni),
         |bg AS (SELECT t[i+1] AS x, t[i+2] AS y
         |       FROM toks, UNNEST(range(len(t)-1)) AS u(i)
         |       WHERE t[i+1] <> '' AND t[i+2] <> ''),
         |bi AS (SELECT x, y, COUNT(*) AS n_xy FROM bg GROUP BY x, y
         |       HAVING COUNT(*) >= 5)
         |SELECT x, y, n_xy, ux.n_w AS n_x, uy.n_w AS n_y,
         |  CAST(n_xy * n_total AS DOUBLE) / CAST(ux.n_w * uy.n_w AS DOUBLE) AS lift
         |FROM bi JOIN uni ux ON bi.x = ux.w
         |        JOIN uni uy ON bi.y = uy.w
         |        CROSS JOIN n
         |ORDER BY x, y""".stripMargin,
    "ta_inverted_index" ->
      s"""WITH w AS (SELECT doc_id, u.tk AS token
         |FROM (SELECT doc_id, $dToks AS t FROM documents), UNNEST(t) AS u(tk)
         |WHERE u.tk <> '')
         |SELECT token, COUNT(*) AS cf, COUNT(DISTINCT doc_id) AS df,
         |  array_to_string(list_slice(list_sort(list(DISTINCT doc_id)), 1, 5), ',')
         |    AS postings_head
         |FROM w GROUP BY token ORDER BY token""".stripMargin,
    "ta_diversity" ->
      s"""WITH toks AS (SELECT doc_id, $dToks AS t FROM documents),
         |w AS (SELECT doc_id, len(t) AS n, u.tk FROM toks, UNNEST(t) AS u(tk)),
         |wc AS (SELECT doc_id, n, tk, COUNT(*) AS c FROM w GROUP BY 1, 2, 3),
         |agg AS (SELECT doc_id, CAST(n AS BIGINT) AS n, COUNT(*) AS n_types,
         |  CAST(SUM(c*c) AS BIGINT) AS sum_c2,
         |  CAST(SUM(c*(c-1)) AS BIGINT) AS sum_cc1
         |FROM wc GROUP BY 1, 2)
         |SELECT doc_id, n AS n_tokens, n_types,
         |  CAST(n_types AS DOUBLE) / n AS ttr,
         |  1.0 - CAST(sum_c2 AS DOUBLE) / CAST(n*n AS DOUBLE) AS simpson_diversity,
         |  CASE WHEN n > 1
         |    THEN CAST(sum_cc1 AS DOUBLE) / CAST(n*(n-1) AS DOUBLE)
         |  END AS repeat_rate
         |FROM agg ORDER BY doc_id""".stripMargin,
    "ta_lang_confusion" ->
      s"""WITH $langPredSql
         |SELECT lang, pred_lang, COUNT(*) AS n_docs
         |FROM pred GROUP BY lang, pred_lang
         |ORDER BY lang, pred_lang""".stripMargin,
    "ta_quality_filter" ->
      s"""WITH d AS (SELECT lang, source,
         |  CAST(len($dToks) AS BIGINT) AS n_toks,
         |  CAST(list_sum(list_transform($dToks, t -> length(t))) AS BIGINT) AS sum_tok_len,
         |  CAST(list_max(list_transform($dToks, t -> length(t))) AS BIGINT) AS max_tok_len,
         |  CAST(len(list_filter($dToks, t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS BIGINT) AS n_stop
         |FROM documents),
         |flags AS (SELECT lang, source,
         |  CASE WHEN n_toks < 10 OR n_toks > 10000 THEN 1 ELSE 0 END AS f_nwords,
         |  CASE WHEN sum_tok_len < n_toks * 2 OR sum_tok_len > n_toks * 12 THEN 1 ELSE 0 END AS f_meanlen,
         |  CASE WHEN max_tok_len > 25 THEN 1 ELSE 0 END AS f_maxword,
         |  CASE WHEN n_stop < 2 THEN 1 ELSE 0 END AS f_stop
         |FROM d)
         |SELECT lang, source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN f_nwords + f_meanlen + f_maxword + f_stop = 0
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |  CAST(SUM(f_nwords) AS BIGINT) AS f_nwords,
         |  CAST(SUM(f_meanlen) AS BIGINT) AS f_meanlen,
         |  CAST(SUM(f_maxword) AS BIGINT) AS f_maxword,
         |  CAST(SUM(f_stop) AS BIGINT) AS f_stop
         |FROM flags GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "ta_repetition" ->
      s"""WITH toks AS (SELECT doc_id, $dToks AS t FROM documents),
         |base AS (SELECT doc_id, t, len(t) AS nw,
         |  len(list_distinct(list_transform(range(len(t)-1),
         |      i -> t[i+1] || ' ' || t[i+2]))) AS nbd
         |  FROM toks),
         |w AS (SELECT doc_id, u.tk FROM toks, UNNEST(t) AS u(tk)),
         |wc AS (SELECT doc_id, tk, COUNT(*) AS c FROM w GROUP BY 1, 2),
         |agg AS (SELECT doc_id, COUNT(*) AS nd, MAX(c) AS top FROM wc GROUP BY 1)
         |SELECT b.doc_id, CAST(nw AS BIGINT) AS n_words,
         |  1.0 - CAST(nd AS DOUBLE) / CAST(nw AS DOUBLE) AS dup_word_frac,
         |  CAST(top AS DOUBLE) / CAST(nw AS DOUBLE) AS top_word_frac,
         |  CASE WHEN nw > 1
         |    THEN 1.0 - CAST(nbd AS DOUBLE) / CAST(nw - 1 AS DOUBLE)
         |  END AS dup_bigram_frac
         |FROM base b JOIN agg USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "ta_lang_id" -> {
      val scores = profiles.map { case (l, ws) =>
        s"CAST(len(list_filter($dToks, t -> t IN ${inList(ws)})) AS DOUBLE) / len($dToks) AS s_$l"
      }.mkString(",\n  ")
      s"""WITH scored AS (SELECT doc_id, lang,
         |  $scores
         |FROM documents)
         |SELECT doc_id, lang,
         |  CASE WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
         |       WHEN s_en >= greatest(s_es, s_fr, s_zh) THEN 'en'
         |       WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
         |       WHEN s_fr >= s_zh THEN 'fr'
         |       ELSE 'zh' END AS pred_lang,
         |  s_de, s_en, s_es, s_fr, s_zh
         |FROM scored ORDER BY doc_id""".stripMargin
    },
    "ta_quality_stats" ->
      s"""WITH d AS (SELECT lang, source,
         |  CAST(length(text) AS INTEGER) AS chars,
         |  CAST(len($dToks) AS INTEGER) AS ntoks,
         |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS INTEGER) AS punct,
         |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS INTEGER) AS digits,
         |  CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS INTEGER) AS spaces,
         |  CAST(len(list_filter($dToks, t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS INTEGER) AS stops
         |FROM documents)
         |SELECT lang, source, COUNT(*) AS n_docs,
         |  CAST(SUM(chars) AS DOUBLE) / COUNT(*) AS avg_chars,
         |  CAST(SUM(ntoks) AS DOUBLE) / COUNT(*) AS avg_tokens,
         |  CAST(SUM(punct) AS DOUBLE) / SUM(chars) AS punct_ratio,
         |  CAST(SUM(digits) AS DOUBLE) / SUM(chars) AS digit_ratio,
         |  CAST(SUM(spaces) AS DOUBLE) / SUM(chars) AS space_ratio,
         |  CAST(SUM(stops) AS DOUBLE) / SUM(ntoks) AS stopword_ratio
         |FROM d GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "ta_token_stats" ->
      s"""SELECT doc_id,
         |  CAST(len($dToks) AS INTEGER) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_bpe_tokens,
         |  CAST(length(text) AS INTEGER) AS n_chars_measured,
         |  CAST(length(text) AS DOUBLE) /
         |    greatest(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')), 1) AS chars_per_bpe_token
         |FROM documents ORDER BY doc_id""".stripMargin,
    "ta_tfidf" ->
      s"""WITH toks AS (SELECT doc_id, $dToks AS t FROM documents),
         |tok AS (SELECT doc_id, u.tk FROM toks, UNNEST(t) AS u(tk) WHERE u.tk <> ''),
         |tf AS (SELECT doc_id, tk, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |dfreq AS (SELECT tk, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         |n AS (SELECT COUNT(*) AS nd FROM documents),
         |scored AS (
         |  SELECT doc_id, tk AS token, tf,
         |    CAST(tf AS DOUBLE) * nd / df AS score,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY CAST(tf AS DOUBLE) * nd / df DESC, tk) AS rnk
         |  FROM tf JOIN dfreq USING (tk), n)
         |SELECT doc_id, rnk, token, tf, score
         |FROM scored WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "ta_sparse_cosine_topk" ->
      s"""WITH toks AS (SELECT doc_id, $dToks AS t FROM documents),
         |tok AS (SELECT doc_id, u.tk AS token FROM toks, UNNEST(t) AS u(tk)
         |        WHERE u.tk <> ''),
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         |n AS (SELECT COUNT(*) AS nd FROM documents),
         |w AS (SELECT doc_id, token, CAST(tf * (nd // df) AS BIGINT) AS w
         |      FROM tf JOIN dfreq USING (token), n),
         |norms AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2
         |      FROM w GROUP BY 1),
         |dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        CAST(SUM(a.w * b.w) AS BIGINT) AS dot
         |      FROM w a JOIN w b USING (token)
         |      WHERE a.doc_id < $SparseProbeDocs AND a.doc_id <> b.doc_id
         |      GROUP BY 1, 2),
         |scored AS (SELECT doc_a, doc_b, dot,
         |        CAST(dot AS DOUBLE)
         |          / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS sim
         |      FROM dots JOIN norms na ON na.doc_id = doc_a
         |                JOIN norms nb ON nb.doc_id = doc_b),
         |rnkd AS (SELECT doc_a, doc_b, dot, sim,
         |        ROW_NUMBER() OVER (PARTITION BY doc_a
         |          ORDER BY sim DESC, doc_b) AS rnk FROM scored)
         |SELECT doc_a, CAST(rnk AS BIGINT) AS rnk, doc_b, dot, sim,
         |  (SELECT CAST(nd // $SparseDfCapDenom AS BIGINT) FROM n) AS df_cap
         |FROM rnkd WHERE rnk <= 5 ORDER BY doc_a, rnk""".stripMargin,
    "ta_heavy_hitters" ->
      s"""WITH toks AS (SELECT doc_id, $dToks AS t FROM documents),
         |tok AS (SELECT u.tk AS token FROM toks, UNNEST(t) AS u(tk) WHERE u.tk <> ''),
         |n AS (SELECT COUNT(*) AS n_total FROM tok),
         |cnts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token)
         |SELECT token, cnt, n_total FROM cnts, n
         |WHERE CAST(cnt AS DOUBLE) > CAST(n_total AS DOUBLE) / 200.0
         |ORDER BY cnt DESC, token""".stripMargin,
    "ta_sentence_dedup" ->
      s"""WITH toks AS (SELECT doc_id, $dToks AS t FROM documents),
         |segs AS (SELECT doc_id, u.i AS seg_idx,
         |    array_to_string(t[u.i*3 + 1 : u.i*3 + 3], ' ') AS seg
         |  FROM toks, UNNEST(range(0, (len(t) - 1) // 3 + 1)) AS u(i)),
         |hs AS (SELECT doc_id, seg_idx,
         |    ${Dedup.dh60("'seg:' || seg")} AS h,
         |    CAST(doc_id AS HUGEINT) * 1000000 + seg_idx AS ord
         |  FROM segs),
         |first AS (SELECT h, MIN(ord) AS ford FROM hs GROUP BY h)
         |SELECT hs.doc_id,
         |  COUNT(*) AS n_segments,
         |  CAST(SUM(CASE WHEN hs.ord = first.ford THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  CAST(COUNT(*) - SUM(CASE WHEN hs.ord = first.ford THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dropped,
         |  CAST(COUNT(*) - SUM(CASE WHEN hs.ord = first.ford THEN 1 ELSE 0 END)
         |    AS DOUBLE) / COUNT(*) AS drop_ratio
         |FROM hs JOIN first USING (h)
         |GROUP BY hs.doc_id ORDER BY hs.doc_id""".stripMargin,
    "ta_trigram_coverage" ->
      s"""WITH ${Dedup.shCte},
         |sh AS (SELECT doc_id, ${Dedup.dh60("s")} AS h FROM shg),
         |dfreq AS (SELECT h, COUNT(*) AS df FROM sh GROUP BY h)
         |SELECT sh.doc_id,
         |  COUNT(*) AS n_trigrams,
         |  CAST(SUM(CASE WHEN dfreq.df >= 5 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_common,
         |  CAST(SUM(CASE WHEN dfreq.df >= 5 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*) AS coverage
         |FROM sh JOIN dfreq USING (h)
         |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin,
    "ta_fingerprint" ->
      s"""WITH fp AS (SELECT doc_id,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform($dToks, t ->
         |      list_reduce(list_transform(range(1,16), k ->
         |        CAST(strpos('0123456789abcdef', substr(md5(t), k, 1)) - 1 AS BIGINT)),
         |        (a,b) -> a*16+b) % 2147483647)),
         |    (acc, h) -> (acc * 131 + h) % 2147483647) AS fingerprint
         |FROM documents)
         |SELECT doc_id, fingerprint,
         |  COUNT(*) OVER (PARTITION BY fingerprint) AS fp_group_size
         |FROM fp ORDER BY doc_id""".stripMargin
  )
}
