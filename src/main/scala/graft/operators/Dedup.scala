package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Artifacts, Fixpoint, Tables}

/** Training-data deduplication over the `documents` table: exact
  * (content-hash), near-dup via n-gram Jaccard (inverted shingle index),
  * MinHash-LSH (banded candidate generation + exact verification of
  * candidates only), and SimHash fingerprinting.
  *
  * Portability contract: every hash that reaches the output (or decides
  * which rows reach the output) is derived from md5 — `h60(x)` is the first
  * 15 hex chars of md5(x) read as a 60-bit integer — because both Spark
  * (`conv(substr(md5(x),1,15),16,10)`) and DuckDB (fold over hex digits)
  * can compute it bit-identically, making MinHash/SimHash results exactly
  * oracle-checkable rather than "trust me" randomized.
  *
  * Scale notes (100 TB discipline):
  *  - Exact dedup groups on a 256-bit content hash, never on the raw text —
  *    the shuffle carries 32-byte keys, not documents.
  *  - Jaccard uses the inverted-index join on 60-bit shingle hashes (8-byte
  *    shuffle keys): only docs sharing a shingle ever meet; there is no
  *    cross join anywhere. Ultra-frequent shingles are capped (maxDf) so a
  *    stopword shingle cannot produce a quadratic pair blowup; the cap is
  *    mirrored in the oracle and is far above any df in the test data.
  *  - MinHash-LSH computes exact Jaccard only for banded candidate pairs
  *    (set intersection of the two docs' shingle-hash arrays), which is the
  *    point of LSH: verification cost scales with candidates, not pairs.
  *  - SimHash is one pass over each doc's tokens (nested higher-order
  *    aggregates, fully codegen'd), no explode of token rows.
  *
  * References (public classics these operators implement): Broder,
  * "On the resemblance and containment of documents" (1997) — minhash;
  * Leskovec/Rajaraman/Ullman, Mining of Massive Datasets ch.3 — LSH
  * banding; Chaudhuri/Ganti/Kaushik, "A primitive operator for similarity
  * joins" (ICDE 2006) and Xiao et al., "Efficient similarity joins for
  * near duplicate detection" (WWW 2008) — prefix filtering; Charikar,
  * "Similarity estimation techniques from rounding algorithms" (STOC
  * 2002) — simhash.
  */
object Dedup {

  /** (doc_id, toks) with whitespace tokenization. */
  private[operators] def tokenized(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))

  /** Distinct (doc_id, h) rows where h = h60 of a word 3-gram shingle.
    * One codegen pass ([[graft.functions.ShingleHashes]]) — no 3-gram
    * strings are ever materialized; values are definitionally
    * hash60(concat_ws(' ', …)), which is what the oracles compute.
    *
    * r17: served from a PERSISTED BUCKETED TABLE keyed and sorted on `h`
    * (the graft_winidx discipline at the shingle granularity): the
    * explode + per-doc distinct + one shuffle into `h`-buckets are paid
    * once per corpus at ingest, and the df aggregation, the df-cap join
    * and the prefix-index joins of ngramJaccard / containmentPairs /
    * trigramCoverage all arrive pre-partitioned on `h`. */
  private[operators] def shingleHashes(spark: SparkSession, dir: String): DataFrame =
    Artifacts.table(spark, dir, "documents", "graft_shidx", "h") {
      tokenized(spark, dir)
        .select(col("doc_id"), explode(expr("shingle_hashes(toks)")).as("h"))
        .distinct()
    }

  /** df cap shared by the jaccard/containment family — a pure scale
    * guard; no shingle in the test data comes close. */
  private[operators] val ShingleMaxDf = 100000L

  /** (doc_id, h, df, pos, sz): the df-capped shingle index annotated with
    * each shingle's rank under the per-doc (df asc, h asc) order and the
    * doc's capped set size — the PPJoin prefix-filter state.
    *
    * r17: persisted as a BUCKETED TABLE on `h` (the graft_shidx
    * discipline one derivation later): the df aggregation, the df-cap
    * join and the per-doc (df, h) ORDERING WINDOW over the full index ran
    * per rep in BOTH [[ngramJaccard]] and [[containmentPairs]]; the
    * threshold-specific prefix LENGTH stays a per-query filter on
    * (pos, sz), so one threshold-free table serves any Jaccard or
    * containment cutoff, and the prefix self-joins arrive pre-partitioned
    * on the bucket key. */
  private[operators] def orderedShingles(spark: SparkSession, dir: String): DataFrame =
    Artifacts.table(spark, dir, "documents", "graft_shord", "h") {
      val sh = shingleHashes(spark, dir)
      val dfc = sh.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") <= ShingleMaxDf)
      val byDfOrder = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
      sh.join(dfc, "h")
        .withColumn("pos", row_number().over(byDfOrder))
        .withColumn("sz", count(lit(1)).over(
          byDfOrder.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    }

  /** (doc_id, hs): each document's df-capped shingle set, distinct and
    * ascending — the exact-verification side of the jaccard/containment
    * family, bucketed on doc_id so both per-pair hs joins read
    * pre-partitioned state instead of re-collecting the sets per rep. */
  private[operators] def shingleSets(spark: SparkSession, dir: String): DataFrame =
    Artifacts.table(spark, dir, "documents", "graft_shset", "doc_id") {
      orderedShingles(spark, dir).groupBy("doc_id")
        .agg(sort_array(collect_list(col("h"))).as("hs"))
    }

  /** Exact duplicate clusters keyed by sha2-256 of the text: the kept
    * representative (min doc_id) and the copy count. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))
      .orderBy("doc_id")

  /** Exact n-gram Jaccard near-dup pairs (threshold 0.8) with PREFIX
    * FILTERING (PPJoin-style): under a global shingle order (ascending
    * document frequency, ties by hash), any pair with Jaccard ≥ t must
    * share an element within each side's first `|S| - ceil(t·|S|) + 1`
    * shingles — so only those prefixes are indexed and self-joined,
    * shrinking the candidate space by ~(1-t)² while staying EXACT: every
    * candidate is verified by full set intersection, and the oracle
    * computes the naive full inverted-index join — identical results prove
    * the filter loses nothing.
    *
    * Because rare shingles sort first, the quadratic hot-shingle blowup of
    * a naive shingle join largely disappears on its own; the residual maxDf
    * cap stays as a hard guard. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(spark, dir).orderBy("doc_a", "doc_b")

  /** The unsorted (doc_a, doc_b, jaccard) relation of [[ngramJaccard]];
    * the graft_dupcc build reads it directly, since the CC union and
    * aggregation discard any order. */
  private def jaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    val t = 0.8
    // r17: prefix state from the graft_shord ingest table (df agg +
    // df-cap join + per-doc ordering window paid once per corpus), sets
    // from graft_shset — per rep this query is now the prefix self-join,
    // the candidate distinct and the verify joins, all pre-partitioned.
    // prefix length = sz - ceil(t*sz) + 1 with t = 0.8 = 4/5, computed in
    // EXACT integer arithmetic: double 0.8*30 = 24.000000000000004 and its
    // ceil would shorten the prefix and silently drop true pairs
    val prefix = orderedShingles(spark, dir)
      .filter(col("pos") <= col("sz") - expr("(4 * sz + 4) div 5") + 1)
      .select(col("doc_id"), col("h"))
    val cand = prefix.select(col("doc_id").as("doc_a"), col("h"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val sets = shingleSets(spark, dir)
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
      // sets are distinct + sort_array'ed, so the codegen linear merge
      // equals size(array_intersect(...)) — one pass, no allocations
      .select(col("doc_a"), col("doc_b"),
        expr("sorted_intersect_count(hs_a, hs_b)").as("common"),
        size(col("hs_a")).as("ca"), size(col("hs_b")).as("cb"))
      .select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") /
          (col("ca") + col("cb") - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= t)
  }

  /** The production dedup CASCADE as one attrition report: stage 1 exact
    * (md5 of the raw text), stage 2 word-order-insensitive (md5 of the
    * sorted token multiset), stage 3 near-dup (identical simhash32 — the
    * Hamming-0 slice of the banded pipeline), each keeping the min-doc_id
    * representative among the previous stage's SURVIVORS. Cheap hashes
    * run first so each stage sees a strictly smaller input — the ordering
    * every real pipeline uses. One row per stage with n_in/kept/dropped;
    * all window mins are hash-partitioned by the stage's own key. */
  def dedupCascade(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(col("text")).as("h_exact"),
        md5(concat_ws(" ", array_sort(split(col("text"), "\\s+")))).as("h_bow"),
        expr("simhash32(split(text, '\\\\s+'))").as("h_sim"))
    // r17 (guide §2.2/§2.3): the window formulation ran each stage as its
    // own documents scan + per-stage keep-min window chain — stage 3 paid
    // all three windows again, 6 window sorts and 4 scans total, and every
    // hash was recomputed per branch. The survivor SET of a keep-min stage
    // is one aggregation instead: all three hashes are functions of the
    // text, so an h_exact group is constant in h_bow/h_sim and grouping by
    // the triple ≡ grouping by h_exact alone (stage 1); stage 2's survivor
    // per h_bow group is the min-doc_id row CARRYING ITS OWN h_sim —
    // lex_min(doc_id, h_sim) on mutable long slots (doc_ids are unique, so
    // the tiebreak never fires); stage 3's kept count is the number of
    // distinct h_sim among stage-2 survivors. One scan, three shrinking
    // hash-aggregations, no window sort; counts — and therefore rows and
    // gate hash — are identical by construction.
    val s1 = base.groupBy("h_exact", "h_bow", "h_sim")
      .agg(min(col("doc_id")).as("doc_id"))
    val s2 = s1.groupBy("h_bow")
      .agg(expr("lex_min(doc_id, h_sim)").as("m"))
      .select(col("m.b").as("h_sim"))
    def cnt(df: DataFrame, as: String): DataFrame = df.agg(count(lit(1)).as(as))
    val counts = cnt(base, "n0")
      .crossJoin(cnt(s1, "n1"))
      .crossJoin(cnt(s2, "n2"))
      .crossJoin(s2.select(countDistinct(col("h_sim")).as("n3")))
    def stageRow(name: String, idx: Int, in: Column, out: Column): Column =
      struct(lit(idx).as("stage"), lit(name).as("stage_name"),
        in.as("n_in"), out.as("n_kept"), (in - out).as("n_dropped"))
    counts
      .select(explode(array(
        stageRow("exact", 1, col("n0"), col("n1")),
        stageRow("bag_of_words", 2, col("n1"), col("n2")),
        stageRow("simhash_identical", 3, col("n2"), col("n3")))).as("r"))
      .select("r.stage", "r.stage_name", "r.n_in", "r.n_kept", "r.n_dropped")
      .orderBy("stage")
  }

  /** DIRECTIONAL near-dup: shingle containment |S(A)∩S(B)| / |S(A)| ≥ 0.9
    * — the asymmetric cousin of [[ngramJaccard]] that catches quotes and
    * boilerplate (a small doc embedded in a large one scores near-zero
    * Jaccard but containment ≈ 1). Candidates use one-sided prefix
    * filtering: only the PROBE doc takes a prefix (|A| − ⌈0.9|A|⌉ + 1
    * rarest shingles — exact integer ceil), joined against the full
    * inverted index, which is the lossless pruning for an asymmetric
    * threshold (the indexed side can be arbitrarily large). The verify
    * threshold `common·10 ≥ |A|·9` is pure integers; the reported ratio
    * is one display division. */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame = {
    // r17: same graft_shord / graft_shset serving as [[ngramJaccard]] —
    // the one-sided 0.9 prefix is a filter on the threshold-free table
    val so = orderedShingles(spark, dir)
    val prefix = so
      .filter(col("pos") <= col("sz") - expr("(9 * sz + 9) div 10") + 1)
      .select(col("doc_id").as("doc_a"), col("h"))
    val cand = prefix
      .join(so.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val sets = shingleSets(spark, dir)
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr("sorted_intersect_count(hs_a, hs_b)").as("common"),
        size(col("hs_a")).as("ca"))
      .filter(col("common") * 10 >= col("ca") * 9)
      .select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") / col("ca").cast("double")).as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash-LSH near-dedup: 16 portable minhashes per doc, banded 4×4;
    * pairs sharing a band become candidates; exact Jaccard is computed for
    * candidates only (array intersection of shingle-hash sets).
    *
    * The 16 hash functions use the standard double-hashing family
    * h_j = h1 + j·h2 (mod P): only two md5s per shingle instead of 16, with
    * h2 reduced below 2^56 so j·h2 + h1 < 2^61 never overflows int64 —
    * DuckDB errors on BIGINT overflow, so the oracle needs this bound too.
    */
  /** Per-doc MinHash state: `hs` = the sorted distinct shingle-hash set
    * (for exact-Jaccard verification) plus the 16 minhash signature
    * components `mh0..mh15` (long columns). One aggregation computes
    * both — no seed explosion, the shuffle carries each shingle once,
    * not 16×; every downstream use shares this subtree, so Spark's
    * exchange reuse executes the shingle scan + shuffle once. */
  private[operators] def minhashPerDoc(spark: SparkSession, dir: String): DataFrame =
    // r17: served from a PERSISTED BUCKETED TABLE keyed on doc_id (the
    // graft_sh64 discipline at signature granularity). The plan of the
    // old inline shape derived the corpus pipeline TWICE per rep — once
    // for the band build and once for the hs-carrying verify side (the
    // collect_list aggregation cannot share the band subtree), each a
    // full tokenize + shingle-hash + distinct; both lsh and calibration
    // now read (doc_id, hs, mh0..mh15) pre-partitioned on doc_id, so the
    // verify joins arrive bucket-aligned. dedup_incremental keeps the
    // whole signature computation inline per rep as the gated witness,
    // and every consumer stays oracle-gated against raw text.
    Artifacts.table(spark, dir, "documents", "graft_mhsig", "doc_id") {
      minhashPerDocFresh(spark, dir)
    }

  /** The inline signature computation [[minhashPerDoc]] persists (and
    * dedup_incremental re-runs per rep as the witness). */
  private[operators] def minhashPerDocFresh(spark: SparkSession, dir: String): DataFrame = {
    val P = "2305843009213693951L" // 2^61 - 1 (Mersenne prime)
    // both hash families in one pass each (no shingle strings); the
    // distinct moves AFTER hashing — the set of distinct (h1, h2m) pairs
    // equals the hashes of distinct shingles, so results are unchanged
    // r17: both hash-family components in ONE codegen token pass
    // (shingle_hash_pairs — cloned digest absorbs the '~' suffix) instead
    // of an interpreted zip_with over two full shingle_hashes passes;
    // HashExpressionsSpec pins the value equivalence
    val shh = tokenized(spark, dir)
      .select(col("doc_id"), explode(expr("shingle_hash_pairs(toks, '~')")).as("z"))
      .select(col("doc_id"), col("z.h1").as("h1"),
        (col("z.h2") % lit(72057594037927936L)).as("h2m"))
      .distinct()
    val minCols = (0 until 16).map(j =>
      min(expr(s"(h1 + $j * h2m) % $P")).as(s"mh$j"))
    shh.groupBy("doc_id")
      .agg(sort_array(collect_list(col("h1"))).as("hs"), minCols: _*)
  }

  /** Banded (band, bkey, doc_id) rows and distinct candidate pairs from
    * the 4×4 banding of [[minhashPerDoc]]'s signature. */
  private def minhashCandidates(perDoc: DataFrame): DataFrame = {
    val bands = perDoc.selectExpr("doc_id",
      """stack(4,
        |  0, concat_ws(',', mh0, mh1, mh2, mh3),
        |  1, concat_ws(',', mh4, mh5, mh6, mh7),
        |  2, concat_ws(',', mh8, mh9, mh10, mh11),
        |  3, concat_ws(',', mh12, mh13, mh14, mh15)) as (band, bkey)""".stripMargin)
    bands.select(col("band"), col("bkey"), col("doc_id").as("doc_a"))
      .join(bands.select(col("band"), col("bkey"), col("doc_id").as("doc_b")),
        Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Candidate pairs with exact-Jaccard evidence: shingle-set overlap
    * `common` and the two set cardinalities, for candidates sharing at
    * least one shingle. */
  private def minhashVerified(perDoc: DataFrame): DataFrame =
    minhashCandidates(perDoc)
      .join(perDoc.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(perDoc.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
      // hs is distinct + sorted (see minhashPerDoc) → merge-count ≡ intersect size
      .select(col("doc_a"), col("doc_b"),
        expr("sorted_intersect_count(hs_a, hs_b)").as("common"),
        size(col("hs_a")).cast("long").as("ca"), size(col("hs_b")).cast("long").as("cb"))
      .filter(col("common") > 0)

  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashVerified(minhashPerDoc(spark, dir))
      .select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") /
          (col("ca") + col("cb") - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .orderBy("doc_a", "doc_b")

  /** MinHash ACCURACY CALIBRATION — the evaluation harness for the LSH
    * estimator itself: for every banded candidate pair, the signature
    * estimate ĵ = (matching components)/16 is compared against the exact
    * shingle-set Jaccard, pooled per estimate decile. Per bin it reports
    * the pair count, the estimate mass (Σ matches, so mean_est is ONE
    * double division of exact integers) and the POOLED exact Jaccard
    * (Σ|A∩B| / Σ|A∪B| — a ratio of exact integer sums, not a float mean
    * of per-pair ratios, so both engines agree bit-for-bit). A
    * well-calibrated sketch puts pooled_jaccard inside each bin's
    * estimate range; this is the table that justifies a production
    * banding threshold (Broder 1997's E[ĵ] = j made measurable).
    *
    * Scale shape: identical to [[minhashLsh]] (banded candidates only,
    * never all pairs) plus one ≤11-row aggregation. */
  def minhashCalibration(spark: SparkSession, dir: String): DataFrame = {
    // r17 (guide §2.3/§1.2 step 2): the per-doc state (exact shingle set
    // AND the 16-component signature) attaches in ONE join per pair side
    // — the old shape ran minhashVerified's two hs joins and then TWO
    // MORE sig joins against the same perDoc relation. The per-pair
    // component-match count is the native codegen `array_eq_count`
    // instead of an interpreted size∘filter∘zip_with HOF chain
    // (CodegenFallback, boxed per component per candidate pair);
    // SetExpressionsSpec pins the equivalence, so values are unchanged.
    val perDoc = minhashPerDoc(spark, dir)
    val docState = perDoc.select(col("doc_id"), col("hs"),
      array((0 until 16).map(j => col(s"mh$j")): _*).as("sig"))
    minhashCandidates(perDoc)
      .join(docState.select(col("doc_id").as("doc_a"),
        col("hs").as("hs_a"), col("sig").as("sig_a")), "doc_a")
      .join(docState.select(col("doc_id").as("doc_b"),
        col("hs").as("hs_b"), col("sig").as("sig_b")), "doc_b")
      .select(
        expr("sorted_intersect_count(hs_a, hs_b)").as("common"),
        size(col("hs_a")).cast("long").as("ca"),
        size(col("hs_b")).cast("long").as("cb"),
        expr("array_eq_count(sig_a, sig_b)").as("matches"))
      .filter(col("common") > 0)
      .groupBy(expr("(matches * 10) div 16").as("est_bin"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("matches")).as("sum_matches"),
        sum(col("common")).as("sum_common"),
        (sum(col("ca")) + sum(col("cb")) - sum(col("common"))).as("sum_union"))
      .withColumn("mean_est",
        col("sum_matches").cast("double") / (col("n_pairs") * 16))
      .withColumn("pooled_jaccard",
        col("sum_common").cast("double") / col("sum_union"))
      .orderBy("est_bin")
  }

  /** 32-bit SimHash fingerprint per document (term-frequency weighted,
    * portable h60 token hashes) + the size of each identical-fingerprint
    * cluster. One pass per doc via nested higher-order aggregates. */
  /** SimHash near-dup PAIRS at Hamming distance ≤ 3, by banded candidate
    * generation (Manku/Jain/Sarma, "Detecting near-duplicates for web
    * crawling", WWW 2007): split the 32-bit fingerprint into 4 bands of 8
    * bits — any pair within Hamming 3 differs in at most 3 bands, so by
    * pigeonhole it agrees EXACTLY on at least one band, and only pairs
    * sharing a (band, key) bucket are ever compared. Lossless: the oracle
    * computes the naive all-pairs join; identical results prove the
    * banding drops nothing. Verification is one xor + popcount per
    * candidate.
    *
    * Scale note: band width must track corpus size — at web scale the
    * public recipe is a 64-bit simhash with 16-bit bands (expected bucket
    * size n/2^16), keeping candidate counts near-linear; 8-bit bands are
    * right for the test corpus. The shuffle key is (band, key) — 2 longs —
    * never text.
    *
    * STATUS (r12): DECLARED EXHAUSTIVE BASELINE of [[simhash64Pairs]].
    * The n²/256 cross-bucket candidate term is inherent to the 8-bit band
    * width, so this query is superlinear BY DESIGN (16.1× on 10× data,
    * SCALE.md declared-baselines section); the production path at any
    * larger corpus is the 64-bit/16-bit-band twin (measured 8.8× on the
    * same probe), and this query stays gated at both scales as the
    * narrow-band witness that the banding recipe itself is lossless —
    * the same round-7 discipline as the other exhaustive twins. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sim = tokenized(spark, dir)
      .select(col("doc_id"), expr("simhash32(toks)").as("sh"))
    val banded = sim.select(col("doc_id"), col("sh"),
        explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("bkey", expr("shiftright(sh, band * 8) & 255"))
    val a = banded.select(col("band"), col("bkey"),
      col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = banded.select(col("band"), col("bkey"),
      col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sh_a", "sh_b").distinct()
      .filter(expr("bit_count(sh_a ^ sh_b) <= 3"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sh_a ^ sh_b)").cast("long").as("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** The web-scale production twin of [[simhashPairs]]: 64-bit fingerprint
    * ([[graft.functions.Simhash64]] — Manku WWW'07's deployed width) banded
    * into 4×16-bit keys. Pigeonhole still covers Hamming ≤ 3 (4 bands, at
    * most 3 differing), but the expected band-bucket size drops from n/256
    * to n/65536, so the cross-bucket candidate term — the one genuinely
    * quadratic component of the 32-bit path, measured 17.3× on 10× data —
    * becomes near-linear: at n = 10⁹ docs a 16-bit band bucket holds ~15k
    * docs vs the 8-bit path's ~4M. Same lossless contract: the oracle runs
    * the naive all-pairs join over the SAME 64-bit fingerprint, so equal
    * results prove the banding drops nothing at the new width. */
  def simhash64Pairs(spark: SparkSession, dir: String): DataFrame = {
    // r17: the 64-bit fingerprints persist as a bucketed table (the
    // graft_imgfp discipline on the text modality) — the two md5s per
    // token ran per rep before, for a table of (doc_id, sh) longs. The
    // 32-bit declared-baseline twin and the dedup_simhash group query
    // keep fingerprinting inline as the decode witnesses.
    val sim = Artifacts.table(spark, dir, "documents", "graft_sh64", "doc_id") {
      tokenized(spark, dir)
        .select(col("doc_id"), expr("simhash64(toks)").as("sh"))
    }
    val banded = sim.select(col("doc_id"), col("sh"),
        explode(expr("sequence(0, 3)")).as("band"))
      // arithmetic shiftright sign-extends for band 3; the & 65535 mask
      // keeps exactly the 16 band bits either way
      .withColumn("bkey", expr("shiftright(sh, band * 16) & 65535"))
    val a = banded.select(col("band"), col("bkey"),
      col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = banded.select(col("band"), col("bkey"),
      col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      // r16 (guide §2.3): the Hamming verify is a pure function of the
      // pair, so it commutes with the cross-band DISTINCT — filtering
      // first drops non-near-dup candidates before the dedup shuffle
      // (−16% at sf1 here, where 16-bit bands make the filter selective;
      // the 32-bit declared-baseline twin keeps distinct-first — its
      // 8-bit bands on this dense corpus leave the filter non-selective
      // and the A/B measured a wash there). Same pairs, same hash.
      .filter(expr("bit_count(sh_a ^ sh_b) <= 3"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sh_a ^ sh_b)").cast("long").as("hamming"))
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  def simhash(spark: SparkSession, dir: String): DataFrame = {
    // one-pass codegen expression: per token one md5, 32 stack counters —
    // equal by definition to the bit-plane HOF fold the oracle SQL uses
    val sim = tokenized(spark, dir)
      .select(col("doc_id"), expr("simhash32(toks)").as("simhash"))
    sim
      .withColumn("dup_group_size",
        count(lit(1)).over(Window.partitionBy(col("simhash"))))
      .orderBy("doc_id")
  }

  /** Connected components over the near-dup graph: docs are vertices,
    * Jaccard ≥ 0.8 pairs (from [[ngramJaccard]]) are edges, and each doc is
    * labeled with the minimum doc_id reachable in its component — the
    * canonical "keep one representative per duplicate CLUSTER" step that
    * pairwise dedup alone can't express (a~b, b~c must collapse to one
    * cluster even when a~c is below threshold).
    *
    * Implemented as distributed min-label propagation: each iteration is
    * one shuffle join (labels ⋈ edges) + one aggregation, the classic
    * MapReduce CC formulation (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC 2014). Iteration count is bounded by the
    * component diameter — near-dup clusters are dense and shallow, so this
    * converges in 2-3 rounds in practice; a hard cap of 20 guards
    * pathological chains. The edge set is persisted so the expensive
    * candidate-pair computation runs once, not once per round; each round's
    * convergence tally is observed inside the round's own checkpoint job
    * ([[graft.core.Fixpoint]]), with no separate count and no collect. */
  def ccClusters(spark: SparkSession, dir: String): DataFrame =
    ccLabels(spark, dir).orderBy("doc_id")

  /** The near-dup cluster label table (doc_id, cluster_id, cluster_size;
    * only edge-participating docs — consumers add singletons), served
    * from a persisted bucketed table ([[graft.core.Artifacts]]): the
    * MinHash candidate generation + O(log d) propagation run once per
    * corpus; [[ccClusters]]' own gate, pipeline_cluster_weights AND
    * pipeline_leakage_safe_split (plus every bench rep) start from the
    * label table — the duplicate-cluster index a deployment maintains at
    * ingest. */
  private[operators] def ccLabels(spark: SparkSession, dir: String): DataFrame = {
    Artifacts.table(spark, dir, "documents", "graft_dupcc", "doc_id") {
      connectedComponents(
        jaccardPairs(spark, dir).select(col("doc_a"), col("doc_b")))
        .select(col("v").as("doc_id"), col("lbl").as("cluster_id"))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
    }
  }

  /** Min-label propagation over an undirected edge list (doc_a, doc_b) →
    * (v, lbl) labels, lbl = min vertex reachable. Only vertices that
    * appear in at least one edge are labeled — callers add singletons.
    * See [[ccClusters]] for the algorithmic/lineage contract. The rounds
    * run through [[graft.core.Fixpoint]] until one lowers no label. */
  private[operators] def connectedComponents(edges: DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val sym = edges.union(
        edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    sym.count() // materialize the candidate-pair computation exactly once
    val labels = Fixpoint.converge(ccInit(sym), 20)(ccRound(sym))
    sym.unpersist()
    labels
  }

  /** Initial labels of [[connectedComponents]], lbl = min(v, min neighbor):
    * one aggregation that IS the first propagation round (near-dup
    * clusters usually converge on the next round). */
  private[operators] def ccInit(sym: DataFrame): DataFrame =
    sym.groupBy(col("doc_a").as("v"))
      .agg(least(col("v"), min(col("doc_b"))).as("lbl"))

  /** One [[connectedComponents]] round over the symmetric edges `sym`,
    * tallying the vertices whose label fell. The round reads `labels`
    * three times (own label, neighbor propagation, shortcut), so without
    * the per-round cut the plan is a 3^k-traversal DAG — plan analysis
    * alone OOMs after ~15 rounds. */
  private[operators] def ccRound(sym: DataFrame)(labels: DataFrame,
      tally: Fixpoint.Tally): DataFrame = {
    val prop = sym.join(labels.withColumnRenamed("v", "doc_a"), "doc_a")
      .select(col("doc_b").as("v"), col("lbl"), lit(false).as("own"))
    // Pointer-doubling shortcut: besides the one-hop neighbor
    // propagation, each vertex also adopts its label vertex's own
    // current label (lbl(v) → lbl(lbl(v))). Neighbor propagation alone
    // moves the component min one hop per round — O(diameter) rounds,
    // and per-round job latency is the whole cost on a high-diameter
    // graph; composing with the label map doubles the covered distance
    // every round, so convergence is O(log diameter). Labels stay
    // component-member vertex ids, so the fixpoint argument (no change
    // ⇒ labels constant across every edge ⇒ per-component min) is
    // untouched — only the round count changes.
    val hop = labels.as("x")
      .join(labels.select(col("v").as("lv"), col("lbl").as("llbl")),
        col("lbl") === col("lv"))
      .select(col("v"), col("llbl").as("lbl"), lit(false).as("own"))
    // one aggregation yields both the new label and the old one, so the
    // change tally rides the round's own checkpoint job
    val merged = labels.select(col("v"), col("lbl"), lit(true).as("own"))
      .union(prop).union(hop)
      .groupBy("v")
      .agg(min(col("lbl")).as("lbl"),
        min(when(col("own"), col("lbl"))).as("old_lbl"))
    tally(merged, col("lbl") < col("old_lbl")).select(col("v"), col("lbl"))
  }

  /** Word-order-insensitive exact dedup: the fingerprint is md5 of the
    * SORTED token multiset, so shuffled copies of the same bag of words
    * collapse into one group — the cheap middle ground between byte-exact
    * dedup (misses reorderings) and MinHash (pays a near-dup machine for
    * what is really an exact-match problem). Per-row expression work plus
    * one window over the fingerprint; `keep` marks the min-doc_id
    * representative, mirroring [[exactDedup]]'s keep rule. */
  def bowFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byFp = Window.partitionBy(col("bow_fp"))
    Tables.documents(spark, dir)
      .withColumn("bow_fp",
        md5(concat_ws(" ", array_sort(split(col("text"), "\\s+")))))
      .withColumn("bow_group_size", count(lit(1)).over(byFp))
      .withColumn("keep",
        (col("doc_id") === min(col("doc_id")).over(byFp)).cast("long"))
      .select(col("doc_id"), col("bow_fp"), col("bow_group_size"), col("keep"))
      .orderBy("doc_id")
  }

  /** Sub-document (span-level) dedup accounting — the scalable form of
    * exact-substring training-data dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022, which uses a
    * suffix array; fixed-width non-overlapping token windows are the
    * shuffle-friendly approximation): every document is cut into 8-token
    * spans, span multiplicity is counted corpus-wide on 60-bit span
    * hashes, and each document reports how much of it is duplicated text.
    *
    * Scale shape: the explode emits |tokens|/8 hashes per doc (8-byte
    * shuffle keys), multiplicity is one hash aggregation, and the
    * join back to spans is on the same key — no pair join, no suffix
    * array, nothing driver-side. The left join keeps sub-8-token docs
    * with n_spans = 0, so the output is a total accounting. */
  def spanDedup(spark: SparkSession, dir: String): DataFrame = {
    val spans = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .select(col("doc_id"), explode(expr(
        """if(size(toks) < 8, array(),
          |  transform(sequence(0, size(toks) div 8 - 1),
          |    i -> portable_hash60(concat_ws(' ', slice(toks, i*8+1, 8)))))"""
          .stripMargin)).as("h"))
    val mult = spans.groupBy("h").agg(count(lit(1)).as("m"))
    val perDoc = spans.join(mult, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("m") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        when(col("n_spans") > 0,
          col("n_dup_spans").cast("double") / col("n_spans")).as("dup_span_frac"))
      .orderBy("doc_id")
  }

  /** Edit-distance-1 entity linkage over supplier names via FastSS
    * deletion-neighborhood blocking (Bocek et al., "Fast Similarity
    * Search in Large Dictionaries", 2007): two strings within one edit
    * (insert/delete/substitute) necessarily share a member of each
    * other's {self} ∪ {one-char-deletions} set, so an equi-join on those
    * variants finds every candidate pair without an O(n²) cross join —
    * the string-world analogue of MinHash banding. Candidates are then
    * verified with exact Levenshtein (identical DP on both engines); the
    * deletion block over-generates distance-2 pairs, the verify kills
    * them.
    *
    * Scale shape: |name|+1 short variant keys per name, one shuffle on
    * the variant, pair verification only inside blocks. A hot block (two
    * names sharing a variant with k others) costs k², which is the
    * inherent output size of the linkage, not an artifact. */
  def edit1Names(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.supplier(spark, dir)
      .select(col("s_name").as("name")).distinct()
    val variants = names.select(col("name"), explode(expr(
      """array_union(
        |  transform(sequence(0, length(name) - 1),
        |    i -> concat(substring(name, 1, i), substring(name, i + 2, length(name)))),
        |  array(name))""".stripMargin)).as("v"))
    val a = variants.select(col("name").as("name_a"), col("v"))
    val b = variants.select(col("name").as("name_b"), col("v"))
    a.join(b, "v")
      .filter(col("name_a") < col("name_b"))
      .select("name_a", "name_b").distinct()
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 1)
      .orderBy("name_a", "name_b")
  }

  /** Average CDC chunk length in tokens (boundary probability 1/8). */
  val CdcDivisor = 8

  /** CONTENT-DEFINED CHUNKING dedup — the storage-dedup classic (LBFS,
    * Muthitacharoen et al. SOSP 2001; FastCDC, Xia et al. ATC 2016)
    * applied at token granularity: a chunk boundary falls AFTER any token
    * whose portable hash ≡ 0 (mod [[CdcDivisor]]), so boundaries depend
    * only on local content — inserting or deleting text re-chunks only
    * the edited neighborhood, never the whole document (the property
    * fixed-size blocks lack, and the reason CDC is the sub-document
    * dedup scheme that survives edits; CdcSpec pins it). Each doc's
    * chunks are hashed and counted corpus-wide; the per-doc report gives
    * chunk counts, duplicated-chunk counts, and the dup ratio in exact
    * micro-units.
    *
    * Scale shape: the per-doc window is doc-length bounded; after
    * chunking, everything shuffles as 8-byte chunk hashes (one count
    * aggregation + one hash-partitioned join back) — never chunk text,
    * never doc pairs. This is exactly how sub-document dedup runs at
    * corpus scale: dedup_substring_* find shared substrings pairwise,
    * CDC instead buckets globally at O(corpus) cost. */
  /** (doc_id, chunk, chunk_text) CDC chunking of ANY (doc_id, text)
    * relation — factored out so CdcSpec can pin the edit-locality
    * property on synthetic edits. */
  private[operators] def cdcChunkTexts(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), posexplode(split(col("text"), "\\s+")).as(Seq("pos", "t")))
      .filter(col("t") =!= "")
    val wPrev = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    tok
      .withColumn("b",
        when(expr(s"portable_hash60(concat('cdc:', t)) % $CdcDivisor") === 0, 1L)
          .otherwise(0L))
      .withColumn("chunk", coalesce(sum(col("b")).over(wPrev), lit(0L)))
      .groupBy("doc_id", "chunk")
      .agg(expr("concat_ws(' ', transform(array_sort(collect_list(struct(pos, t))), x -> x.t))")
        .as("chunk_text"))
  }

  def cdcChunks(spark: SparkSession, dir: String): DataFrame = {
    val chunks = cdcChunkTexts(Tables.documents(spark, dir).select("doc_id", "text"))
    val hashed = chunks.select(col("doc_id"),
      expr("portable_hash60(concat('chunk:', chunk_text))").as("h"))
    val freq = hashed.groupBy("h").agg(count(lit(1)).as("n_occ"))
    hashed.join(freq, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_ratio_micro", expr("1000000 * n_dup_chunks div n_chunks"))
      .orderBy("doc_id")
  }

  /** Normalization-then-exact dedup — the "fuzzy-exact" pass real
    * pretraining pipelines run between byte-exact and near-dup stages
    * (CCNet/Dolma style): lowercase, collapse every non-alphanumeric run
    * to a single space, trim, then group by the md5 of the normalized
    * form. Catches whitespace/punctuation/case variants that byte-exact
    * [[exactDedup]] misses at a fraction of MinHash's cost. Reports the
    * kept representative (min doc_id), the group size, and how many
    * DISTINCT raw texts the normalization collapsed (n_raw_variants > 1
    * is exactly the set this pass wins over the byte-exact one).
    *
    * Scale shape: one scan; only 16-byte digests enter the shuffle (the
    * normalized text never leaves the map side). */
  def normalizedDedup(spark: SparkSession, dir: String): DataFrame =
    normalizedDedupOf(Tables.documents(spark, dir))

  /** [[normalizedDedup]] over any (doc_id, text) frame — spec entry. */
  private[operators] def normalizedDedupOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))
          .as("norm_hash"),
        md5(col("text")).as("raw_hash"))
      .groupBy(col("norm_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"),
        countDistinct(col("raw_hash")).as("n_raw_variants"))
      .select(col("doc_id"), col("n_copies"), col("n_raw_variants"))
      .orderBy("doc_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_norm_exact" -> (normalizedDedup _),
    "dedup_cdc_chunks" -> (cdcChunks _),
    "dedup_edit1_names" -> (edit1Names _),
    "dedup_spans" -> (spanDedup _),
    "dedup_bow" -> (bowFingerprint _),
    "dedup_exact" -> (exactDedup _),
    "dedup_containment" -> (containmentPairs _),
    "dedup_cascade" -> (dedupCascade _),
    "dedup_ngram_jaccard" -> (ngramJaccard _),
    "dedup_minhash_lsh" -> (minhashLsh _),
    "dedup_minhash_calibration" -> (minhashCalibration _),
    "dedup_simhash" -> (simhash _),
    "dedup_simhash_pairs" -> (simhashPairs _),
    "dedup_simhash64_pairs" -> (simhash64Pairs _),
    "dedup_cc_clusters" -> (ccClusters _)
  )

  // DuckDB equivalents. h60(x) =
  //   list_reduce(list_transform(range(1,16), k ->
  //     CAST(strpos('0123456789abcdef', substr(md5(x), k, 1)) - 1 AS BIGINT)),
  //     (a,b) -> a*16+b)
  private[graft] def dh60(x: String): String =
    s"list_reduce(list_transform(range(1,16), k -> CAST(strpos('0123456789abcdef', substr(md5($x), k, 1)) - 1 AS BIGINT)), (a,b) -> a*16+b)"

  private[operators] val shCte: String =
    """toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
      |shg AS (SELECT DISTINCT doc_id, concat_ws(' ', t[i+1], t[i+2], t[i+3]) AS s
      |        FROM toks, UNNEST(range(len(t)-2)) AS u(i))""".stripMargin

  val oracle: Map[String, String] = Map(
    "dedup_cdc_chunks" ->
      s"""WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t
         |             FROM documents),
         |tok AS (SELECT doc_id, CAST(i AS INTEGER) AS pos, t[i+1] AS tk
         |        FROM toks, UNNEST(range(len(t))) AS u(i)
         |        WHERE t[i+1] <> ''),
         |b AS (SELECT doc_id, pos, tk,
         |        CASE WHEN ${dh60("'cdc:' || tk")} % $CdcDivisor = 0
         |             THEN 1 ELSE 0 END AS b
         |      FROM tok),
         |ch AS (SELECT doc_id, pos, tk,
         |        COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
         |       FROM b),
         |ctext AS (SELECT doc_id, chunk,
         |            string_agg(tk, ' ' ORDER BY pos) AS chunk_text
         |          FROM ch GROUP BY 1, 2),
         |hashed AS (SELECT doc_id, ${dh60("'chunk:' || chunk_text")} AS h
         |           FROM ctext),
         |freq AS (SELECT h, COUNT(*) AS n_occ FROM hashed GROUP BY 1)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |  CAST(SUM(CASE WHEN f.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_chunks,
         |  CAST(1000000 * SUM(CASE WHEN f.n_occ > 1 THEN 1 ELSE 0 END)
         |       // COUNT(*) AS BIGINT) AS dup_ratio_micro
         |FROM hashed hd JOIN freq f USING (h)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dedup_cascade" ->
      s"""WITH base AS (SELECT doc_id, md5(text) AS h_exact,
         |    md5(array_to_string(list_sort(string_split_regex(text, '\\s+')), ' ')) AS h_bow,
         |    CAST(list_sum(list_transform(range(0, 32), j ->
         |      CASE WHEN list_sum(list_transform(string_split_regex(text, '\\s+'), tk ->
         |             ((${dh60("tk")} >> j) & 1) * 2 - 1)) > 0
         |           THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS h_sim
         |  FROM documents),
         |s1 AS (SELECT * FROM base QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY h_exact)),
         |s2 AS (SELECT * FROM s1 QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY h_bow)),
         |s3 AS (SELECT * FROM s2 QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY h_sim))
         |SELECT * FROM (
         |  SELECT 1 AS stage, 'exact' AS stage_name,
         |    (SELECT COUNT(*) FROM base) AS n_in, (SELECT COUNT(*) FROM s1) AS n_kept,
         |    (SELECT COUNT(*) FROM base) - (SELECT COUNT(*) FROM s1) AS n_dropped
         |  UNION ALL
         |  SELECT 2, 'bag_of_words',
         |    (SELECT COUNT(*) FROM s1), (SELECT COUNT(*) FROM s2),
         |    (SELECT COUNT(*) FROM s1) - (SELECT COUNT(*) FROM s2)
         |  UNION ALL
         |  SELECT 3, 'simhash_identical',
         |    (SELECT COUNT(*) FROM s2), (SELECT COUNT(*) FROM s3),
         |    (SELECT COUNT(*) FROM s2) - (SELECT COUNT(*) FROM s3))
         |ORDER BY stage""".stripMargin,
    "dedup_edit1_names" ->
      """WITH names AS (SELECT DISTINCT s_name AS name FROM supplier),
        |vars AS (
        |  SELECT name, unnest(list_append(
        |    list_transform(range(0, length(name)),
        |      i -> substr(name, 1, i) || substr(name, i + 2, length(name))),
        |    name)) AS v
        |  FROM names),
        |cand AS (
        |  SELECT DISTINCT a.name AS name_a, b.name AS name_b
        |  FROM vars a JOIN vars b ON a.v = b.v
        |  WHERE a.name < b.name)
        |SELECT name_a, name_b,
        |  CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
        |FROM cand WHERE levenshtein(name_a, name_b) <= 1
        |ORDER BY name_a, name_b""".stripMargin,
    "dedup_spans" ->
      s"""WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
         |spn AS (SELECT doc_id,
         |          array_to_string(list_slice(t, i*8+1, i*8+8), ' ') AS s
         |        FROM toks, UNNEST(range(len(t)//8)) AS u(i)),
         |sh AS (SELECT doc_id, ${dh60("s")} AS h FROM spn),
         |mult AS (SELECT h, COUNT(*) AS m FROM sh GROUP BY h),
         |per AS (SELECT doc_id, COUNT(*) AS n_spans,
         |          CAST(SUM(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
         |        FROM sh JOIN mult USING (h) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  COALESCE(n_spans, 0) AS n_spans,
         |  COALESCE(n_dup_spans, 0) AS n_dup_spans,
         |  CASE WHEN n_spans > 0
         |    THEN CAST(n_dup_spans AS DOUBLE) / n_spans END AS dup_span_frac
         |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "dedup_bow" ->
      """WITH f AS (SELECT doc_id,
        |  md5(array_to_string(list_sort(string_split_regex(text, '\s+')), ' ')) AS bow_fp
        |FROM documents)
        |SELECT doc_id, bow_fp,
        |  COUNT(*) OVER (PARTITION BY bow_fp) AS bow_group_size,
        |  CAST(CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY bow_fp)
        |    THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM f ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,
    "dedup_norm_exact" ->
      """WITH n AS (SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
        |      AS norm_hash,
        |    md5(text) AS raw_hash
        |  FROM documents)
        |SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies,
        |  COUNT(DISTINCT raw_hash) AS n_raw_variants
        |FROM n GROUP BY norm_hash ORDER BY doc_id""".stripMargin,
    "dedup_containment" ->
      s"""WITH $shCte,
         |sh AS (SELECT doc_id, ${dh60("s")} AS h FROM shg),
         |rare AS (SELECT h FROM (SELECT h, COUNT(*) df FROM sh GROUP BY h) WHERE df <= 100000),
         |shr AS (SELECT sh.doc_id, sh.h FROM sh JOIN rare USING (h)),
         |card AS (SELECT doc_id, COUNT(*) c FROM shr GROUP BY 1),
         |common AS (SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) AS common
         |           FROM shr a JOIN shr b ON a.h = b.h AND a.doc_id <> b.doc_id
         |           GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  CAST(common AS DOUBLE) / CAST(ca.c AS DOUBLE) AS containment
         |FROM common JOIN card ca ON doc_a = ca.doc_id
         |WHERE common * 10 >= ca.c * 9
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $shCte,
         |sh AS (SELECT doc_id, ${dh60("s")} AS h FROM shg),
         |rare AS (SELECT h FROM (SELECT h, COUNT(*) df FROM sh GROUP BY h) WHERE df <= 100000),
         |shr AS (SELECT sh.doc_id, sh.h FROM sh JOIN rare USING (h)),
         |card AS (SELECT doc_id, COUNT(*) c FROM shr GROUP BY 1),
         |common AS (SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) AS common
         |           FROM shr a JOIN shr b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  CAST(common AS DOUBLE) / (ca.c + cb.c - common) AS jaccard
         |FROM common JOIN card ca ON doc_a = ca.doc_id JOIN card cb ON doc_b = cb.doc_id
         |WHERE CAST(common AS DOUBLE) / (ca.c + cb.c - common) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""WITH $shCte,
         |shh AS (SELECT doc_id, ${dh60("s")} AS h1,
         |          ${dh60("s || '~'")} % 72057594037927936 AS h2m FROM shg),
         |hs AS (SELECT doc_id, seed, (h1 + seed * h2m) % 2305843009213693951 AS h
         |       FROM shh, UNNEST(range(16)) AS se(seed)),
         |sig AS (SELECT doc_id, seed, MIN(h) AS mh FROM hs GROUP BY 1, 2),
         |bands AS (SELECT doc_id, seed // 4 AS band,
         |            string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS bkey
         |          FROM sig GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |hsh AS (SELECT doc_id, h1 AS h FROM shh),
         |card AS (SELECT doc_id, COUNT(*) c FROM hsh GROUP BY 1),
         |common AS (SELECT doc_a, doc_b, COUNT(*) AS common
         |           FROM cand JOIN hsh x ON x.doc_id = doc_a
         |                     JOIN hsh y ON y.doc_id = doc_b AND x.h = y.h
         |           GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  CAST(common AS DOUBLE) / (ca.c + cb.c - common) AS jaccard
         |FROM common JOIN card ca ON doc_a = ca.doc_id JOIN card cb ON doc_b = cb.doc_id
         |WHERE CAST(common AS DOUBLE) / (ca.c + cb.c - common) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_minhash_calibration" ->
      s"""WITH $shCte,
         |shh AS (SELECT doc_id, ${dh60("s")} AS h1,
         |          ${dh60("s || '~'")} % 72057594037927936 AS h2m FROM shg),
         |hs AS (SELECT doc_id, seed, (h1 + seed * h2m) % 2305843009213693951 AS h
         |       FROM shh, UNNEST(range(16)) AS se(seed)),
         |sig AS (SELECT doc_id, seed, MIN(h) AS mh FROM hs GROUP BY 1, 2),
         |bands AS (SELECT doc_id, seed // 4 AS band,
         |            string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS bkey
         |          FROM sig GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |hsh AS (SELECT doc_id, h1 AS h FROM shh),
         |card AS (SELECT doc_id, COUNT(*) c FROM hsh GROUP BY 1),
         |common AS (SELECT doc_a, doc_b, COUNT(*) AS common
         |           FROM cand JOIN hsh x ON x.doc_id = doc_a
         |                     JOIN hsh y ON y.doc_id = doc_b AND x.h = y.h
         |           GROUP BY 1, 2),
         |mtch AS (SELECT doc_a, doc_b,
         |           CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END)
         |                AS BIGINT) AS matches
         |         FROM cand JOIN sig sa ON sa.doc_id = doc_a
         |                   JOIN sig sb ON sb.doc_id = doc_b AND sb.seed = sa.seed
         |         GROUP BY 1, 2),
         |verified AS (SELECT m.matches, c.common, ca.c AS ca, cb.c AS cb
         |             FROM mtch m JOIN common c USING (doc_a, doc_b)
         |                  JOIN card ca ON m.doc_a = ca.doc_id
         |                  JOIN card cb ON m.doc_b = cb.doc_id)
         |SELECT CAST((matches * 10) // 16 AS BIGINT) AS est_bin,
         |  COUNT(*) AS n_pairs,
         |  CAST(SUM(matches) AS BIGINT) AS sum_matches,
         |  CAST(SUM(common) AS BIGINT) AS sum_common,
         |  CAST(SUM(ca) + SUM(cb) - SUM(common) AS BIGINT) AS sum_union,
         |  CAST(SUM(matches) AS DOUBLE) / (COUNT(*) * 16) AS mean_est,
         |  CAST(SUM(common) AS DOUBLE) / (SUM(ca) + SUM(cb) - SUM(common))
         |    AS pooled_jaccard
         |FROM verified GROUP BY 1 ORDER BY est_bin""".stripMargin,
    "dedup_cc_clusters" ->
      s"""WITH RECURSIVE $shCte,
         |sh AS (SELECT doc_id, ${dh60("s")} AS h FROM shg),
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
         |lab AS (SELECT v AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY v)
         |SELECT doc_id, cluster_id,
         |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |FROM lab ORDER BY doc_id""".stripMargin,
    "dedup_simhash" ->
      s"""WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
         |sim AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 32), j ->
         |    CASE WHEN list_sum(list_transform(t, tk ->
         |           ((${dh60("tk")} >> j) & 1) * 2 - 1)) > 0
         |         THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
         |  FROM toks)
         |SELECT doc_id, simhash,
         |  COUNT(*) OVER (PARTITION BY simhash) AS dup_group_size
         |FROM sim ORDER BY doc_id""".stripMargin,
    // the naive ALL-PAIRS join: identical results prove the Spark side's
    // banded candidate generation loses no pair within Hamming 3
    "dedup_simhash_pairs" ->
      s"""WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
         |sim AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 32), j ->
         |    CASE WHEN list_sum(list_transform(t, tk ->
         |           ((${dh60("tk")} >> j) & 1) * 2 - 1)) > 0
         |         THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
         |  FROM toks)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    // naive all-pairs over the 64-bit fingerprint — proves the 16-bit
    // banding lossless at the production width. The fingerprint is two
    // independent 32-bit halves (dh60(tk) / dh60(tk || '#hi')); planes are
    // accumulated UNSIGNED in HUGEINT (1::BIGINT << 63 overflows DuckDB's
    // checked shift) then wrapped to the signed BIGINT Spark emits. The
    // token hashes compute ONCE over DISTINCT tokens (the `h` table) and
    // join back with multiplicity — definitionally identical to hashing
    // per occurrence per plane, 70x faster (the naive spelling re-ran two
    // md5 folds per (occurrence, plane): 64M digests at sf0.1).
    "dedup_simhash64_pairs" ->
      s"""WITH tok AS (SELECT doc_id,
         |    unnest(string_split_regex(text, '\\s+')) AS tk FROM documents),
         |h AS MATERIALIZED (SELECT tk, ${dh60("tk")} AS h1,
         |    ${dh60("tk || '#hi'")} AS h2
         |  FROM (SELECT DISTINCT tk FROM tok)),
         |planes AS (SELECT t.doc_id, r.j,
         |    SUM((((CASE WHEN r.j < 32 THEN h.h1 ELSE h.h2 END)
         |          >> (r.j % 32)) & 1) * 2 - 1) AS s
         |  FROM tok t JOIN h USING (tk), range(0, 64) r(j) GROUP BY 1, 2),
         |simu AS (SELECT doc_id,
         |    SUM(CASE WHEN s > 0 THEN CAST(1 AS HUGEINT) << j
         |             ELSE CAST(0 AS HUGEINT) END) AS v
         |  FROM planes GROUP BY doc_id),
         |sim AS (SELECT doc_id, CAST(v - CASE WHEN v >= CAST(1 AS HUGEINT) << 63
         |    THEN CAST(1 AS HUGEINT) << 64 ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS simhash
         |  FROM simu)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin
  )
}
