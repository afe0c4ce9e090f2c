package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Artifacts, Tables}

/** Character-level duplicate-substring detection and incremental
  * (new-vs-corpus) dedup — the two corpus-hygiene shapes the document-level
  * dedup family doesn't cover.
  *
  * Duplicate-substring detection follows Lee et al., "Deduplicating
  * Training Data Makes Language Models Better" (ACL 2022): a document can
  * be globally unique while sharing long verbatim spans (boilerplate,
  * licenses, quoted text) with thousands of others, and those spans — not
  * whole-doc duplicates — dominate memorization. The scalable shape here is
  * the inverted-index form of their suffix-array scan: every L-char window
  * gets a ROLLING Rabin-Karp hash (O(n) per doc via the
  * `char_window_hashes` codegen expression, not O(n·L)), windows are
  * deduplicated per doc, and only 8-byte hashes ever enter the shuffle —
  * never substrings. A document-frequency cap bounds the hot-window
  * blowup exactly as the shingle dedups do.
  *
  * Incremental dedup is the production ingestion shape: a new batch is
  * deduplicated AGAINST an existing corpus (exact content hash + MinHash
  * band candidates restricted to new×corpus pairs), never corpus×corpus —
  * at 100 TB the corpus side's signatures are precomputed once and only
  * the (small) incoming batch is hashed per run, so per-batch cost scales
  * with the batch, not the corpus.
  */
object SubstringDedup {

  /** Window length: 40 chars ≈ the 50-token span of the Lee et al. setup
    * scaled to this corpus's short synthetic docs. */
  private val L = 40

  /** Hot-window guard, mirrored in the oracles: windows appearing in more
    * than this many documents are dropped from pairing (a 100 TB corpus
    * has degenerate boilerplate windows that would otherwise emit
    * quadratic candidate pairs). No window in the test corpus comes close,
    * so the cap is semantically invisible at gate scale. */
  private val MaxDf = 100000

  /** Distinct (doc_id, h) rows, h = rolling double-hash of each L-char
    * window. Docs shorter than L contribute nothing (explode of the empty
    * array), matching the oracles' `length(text) >= L` prefilter.
    *
    * Served from a PERSISTED BUCKETED TABLE keyed (and sorted) on `h`:
    * the inverted-index build — explode + distinct + one shuffle into
    * `h`-buckets — is paid ONCE PER CORPUS (keyed on the documents file
    * listing, so a regenerated or rewritten corpus rebuilds), and every downstream join or aggregation on `h`
    * (the df counts, [[substringProfile]]'s semi join, and both sides of
    * [[substringPairs]]'s pair join) then arrives pre-partitioned —
    * ZERO-EXCHANGE at query time. This replaced a per-query
    * localCheckpoint: the checkpoint fixed recomputation within one
    * query, but every query still re-shuffled the full window table on
    * `h` for the pair join (the dominant cost the 10× probe measured at
    * 13× slope); with the bucketed layout that shuffle exists only at
    * ingest, exactly how a 100 TB corpus would maintain its window index.
    * The pre-write `repartition` on `h` aligns writer tasks with bucket
    * ids so each bucket is one file, not one-per-task fragments. */
  private def windowHashes(spark: SparkSession, dir: String): DataFrame =
    Artifacts.table(spark, dir, "documents", "graft_winidx", "h") {
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          explode(expr(s"char_window_hashes(text, $L)")).as("h"))
        .distinct()
    }

  /** Per-document duplication profile: how much of each document's window
    * set is shared with at least one other document. `dup_ratio` is the
    * corpus-cleaning signal — a high ratio marks boilerplate-heavy docs
    * even when no whole-doc duplicate exists.
    *
    * Shape: `n_windows` is a plain per-doc count; `n_dup_windows` counts
    * each doc's windows against ONLY the df ≥ 2 hash set via a LEFT SEMI
    * join. The earlier formulation joined the FULL per-hash df table
    * back onto every window row — an h-keyed shuffle of the entire
    * window table against an equally large build side, which the 10×
    * probe measured at 22.5× (50 s at sf1, spill-bound). Duplicated
    * hashes are a small fraction of distinct windows in any real corpus
    * (most 40-char windows are unique), so the semi join's build side
    * shrinks by orders of magnitude and AQE can broadcast it outright;
    * the probe re-measured the rewrite at ~3× on 10× data. Identical
    * output, both gates stay hash-green. */
  def substringProfile(spark: SparkSession, dir: String): DataFrame = {
    val wd = windowHashes(spark, dir)
    val dup = wd.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select("h")
    val nw = wd.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
    val nd = wd.join(dup, Seq("h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_windows"))
    nw.join(nd, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
      .withColumn("dup_ratio",
        col("n_dup_windows").cast("double") / col("n_windows").cast("double"))
      .orderBy("doc_id")
  }

  /** Probe-sample bound for the all-windows pair baseline: the query
    * contract is "probe documents (doc_id < ProbeDocs) vs the FULL
    * corpus" through the inverted index, so per window hash the join
    * emits (probe docs holding h) × df(h) candidates — linear in corpus
    * size at a fixed probe — instead of the df² the unbounded
    * upper-triangle pays. ProbeDocs equals the sf0.1 corpus size, so at
    * both gate scales the bound is semantically invisible; the winnowed
    * twin [[substringWinnow]] remains the corpus×corpus scale path.
    * BoundedBaselineSpec proves bounded ≡ unbounded-restricted at a
    * non-vacuous bound. */
  private[graft] val ProbeDocs = 5000L

  /** Document pairs sharing at least 3 distinct L-char windows, with the
    * shared-window count — the pair-level view of [[substringProfile]],
    * evaluated for a fixed probe sample of documents against the full
    * corpus (see [[ProbeDocs]]). Inverted-index join on window hashes
    * under the df cap; the threshold keeps the output at real spans
    * rather than single-window coincidences. */
  def substringPairs(spark: SparkSession, dir: String): DataFrame =
    substringPairsBounded(spark, dir, ProbeDocs)

  private[graft] def substringPairsBounded(
      spark: SparkSession, dir: String, probeDocs: Long): DataFrame = {
    val wd = windowHashes(spark, dir)
    val rare = wd.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxDf).select("h")
    val wr = wd.join(rare, "h")
    wr.filter(col("doc_id") < probeDocs)
      .select(col("doc_id").as("doc_a"), col("h"))
      .join(wr.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared_windows"))
      .filter(col("shared_windows") >= 3)
      .orderBy("doc_a", "doc_b")
  }

  /** Winnowing window: every run of `WinW` consecutive window hashes
    * contributes its (rightmost) minimum — fingerprints are ~2/(WinW+1)
    * of all positions, guaranteeing detection of any shared substring of
    * length ≥ L + WinW − 1 chars. */
  private val WinW = 8

  /** Winnowed-fingerprint near-dup pairs (Schleimer et al., SIGMOD 2003 —
    * the MOSS scheme): the SAMPLED scale path for [[substringPairs]].
    * Where the all-windows join shuffles every position's hash, winnowing
    * selects ~2/(WinW+1) of positions per doc inside one O(n) codegen
    * expression (monotonic deque) BEFORE anything reaches the shuffle —
    * a ~4.5× reduction in shuffle volume at WinW = 8 with a hard
    * guarantee: any shared span of ≥ L+WinW−1 chars still produces at
    * least one shared fingerprint. The oracle recomputes the selection
    * non-rolling via a window-min/argmax SQL formulation, so the gate
    * proves the deque and the declarative definition agree position by
    * position. */
  def substringWinnow(spark: SparkSession, dir: String): DataFrame =
    winnowPairs(spark, dir).orderBy("doc_a", "doc_b")

  /** The unsorted (doc_a, doc_b, shared_fp) relation of
    * [[substringWinnow]]; the graft_subcc build reads it directly, since
    * the CC union and aggregation discard any order. */
  private def winnowPairs(spark: SparkSession, dir: String): DataFrame = {
    val fp = winnowFps(spark, dir)
    val rare = fp.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxDf).select("h")
    val fr = fp.join(rare, "h")
    fr.select(col("doc_id").as("doc_a"), col("h"))
      .join(fr.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared_fp"))
      .filter(col("shared_fp") >= 2)
  }

  /** Distinct (doc_id, h) winnowed fingerprints, served — like the
    * all-windows index [[windowHashes]] — from a PERSISTED BUCKETED
    * TABLE keyed and sorted on `h` (r16 residual 1, guide §2.4): the
    * O(n) deque selection + explode + distinct + the one shuffle into
    * `h`-buckets are paid once per corpus at ingest, and the df count,
    * the df-cap join and BOTH sides of the pair self-join in
    * [[substringWinnow]] then arrive pre-partitioned on `h` —
    * zero-exchange at query time, exactly how the winnow index of a
    * 100 TB corpus is maintained. Same documents-listing key as
    * the window index; rows are identical to the inline explode by
    * construction, so both gates stay hash-green. */
  private def winnowFps(spark: SparkSession, dir: String): DataFrame =
    Artifacts.table(spark, dir, "documents", "graft_wfpidx", "h") {
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          explode(expr(s"winnow_hashes(text, $L, $WinW)")).as("h"))
        .distinct()
    }

  /** Substring-level near-dup CLUSTERS: connected components over the
    * winnowed-fingerprint pair graph ([[substringWinnow]] edges), each doc
    * labeled with the min doc_id reachable and singletons labeled with
    * themselves — the boilerplate-family view (a~b, b~c collapse into one
    * cluster even when a and c share no span directly). Reuses the
    * min-label-propagation loop of [[Dedup.ccClusters]] (bounded lineage,
    * persist hygiene); the oracle replays the same reachability with a
    * recursive CTE over the identical pair SQL. */
  def substringClusters(spark: SparkSession, dir: String): DataFrame = {
    // r17 (the graft_dupcc precedent, guide §2.4): the winnow-pair CC
    // labeling is served from a persisted bucketed label table — the
    // pair join + O(log d) propagation run once per corpus at ingest,
    // and every rep of this query is one left join against the labels.
    // cluster_size is stored for LABELED docs only; a labeled
    // component's label is the min member doc_id (itself labeled), so
    // no singleton's doc_id can collide with a stored cluster_id and
    // coalesce(stored, 1) equals the old post-join window count.
    val labeled = Artifacts.table(spark, dir, "documents", "graft_subcc", "doc_id") {
      import org.apache.spark.sql.expressions.Window
      val edges = winnowPairs(spark, dir).select(col("doc_a"), col("doc_b"))
      Dedup.connectedComponents(edges)
        .select(col("v").as("doc_id"), col("lbl").as("cluster_id"))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
    }
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(labeled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      .orderBy("doc_id")
  }

  /** Incremental dedup of an incoming batch (odd doc_ids) against an
    * existing corpus (even doc_ids): per incoming doc, an exact content
    * match flag, the smallest near-duplicate corpus doc (MinHash band
    * candidates × exact Jaccard ≥ 0.8 verify, identical family to
    * `dedup_minhash_lsh`), and the keep/drop decision.
    *
    * Only new×corpus band pairs are ever generated — the corpus is never
    * self-joined. The signature subtree is shared between the band build
    * and the verify step, so Spark's exchange reuse hashes each shingle
    * once. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val P = "2305843009213693951L" // 2^61 - 1, as in minhashLsh
    val docs = Tables.documents(spark, dir)
    val incoming = docs.filter(col("doc_id") % 2 === 1)
    val corpusHashes = docs.filter(col("doc_id") % 2 === 0)
      .select(sha2(col("text"), 256).as("chash")).distinct()
    val exact = incoming
      .select(col("doc_id"), sha2(col("text"), 256).as("chash"))
      .join(corpusHashes.withColumn("hit", lit(true)), Seq("chash"), "left")
      .select(col("doc_id"), coalesce(col("hit"), lit(false)).as("exact_dup"))

    // r17: one-pass shingle_hash_pairs, as in Dedup.minhashPerDoc
    val shh = Dedup.tokenized(spark, dir)
      .select(col("doc_id"), explode(expr("shingle_hash_pairs(toks, '~')")).as("z"))
      .select(col("doc_id"), col("z.h1").as("h1"),
        (col("z.h2") % lit(72057594037927936L)).as("h2m"))
      .distinct()
    val minCols = (0 until 16).map(j =>
      min(expr(s"(h1 + $j * h2m) % $P")).cast("string").as(s"mh$j"))
    val perDoc = shh.groupBy("doc_id")
      .agg(sort_array(collect_list(col("h1"))).as("hs"), minCols: _*)
    val bands = perDoc.selectExpr("doc_id",
      """stack(4,
        |  0, concat_ws(',', mh0, mh1, mh2, mh3),
        |  1, concat_ws(',', mh4, mh5, mh6, mh7),
        |  2, concat_ws(',', mh8, mh9, mh10, mh11),
        |  3, concat_ws(',', mh12, mh13, mh14, mh15)) as (band, bkey)""".stripMargin)
    val cand = bands.filter(col("doc_id") % 2 === 1)
      .select(col("band"), col("bkey"), col("doc_id").as("doc_a"))
      .join(bands.filter(col("doc_id") % 2 === 0)
        .select(col("band"), col("bkey"), col("doc_id").as("doc_b")),
        Seq("band", "bkey"))
      .select("doc_a", "doc_b").distinct()
    val near = cand
      .join(perDoc.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(perDoc.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr("sorted_intersect_count(hs_a, hs_b)").as("common"),
        size(col("hs_a")).cast("long").as("ca"), size(col("hs_b")).cast("long").as("cb"))
      .filter(col("common") > 0)
      .select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") /
          (col("ca") + col("cb") - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      // deterministic representative: the SMALLEST matching corpus doc;
      // lex_min orders by doc_b first, carrying its jaccard along in a
      // mutable (long, double) buffer — min(struct(doc_b, jaccard))
      // computed the same values but its immutable struct buffer forced
      // the aggregation onto interpreted SortAggregate (r15 item 2;
      // 4.6x on the 10x probe rode exactly this row-scale pass)
      .groupBy(col("doc_a"))
      .agg(expr("lex_min(doc_b, jaccard)").as("m"))
      .select(col("doc_a").as("doc_id"),
        col("m.a").as("near_dup_of"), col("m.b").as("near_jaccard"))

    exact.join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("exact_dup"),
        col("near_dup_of"), col("near_jaccard"),
        when(col("exact_dup"), "drop_exact")
          .when(col("near_dup_of").isNotNull, "drop_near")
          .otherwise("keep").as("decision"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_substring_profile" -> (substringProfile _),
    "dedup_substring_pairs" -> (substringPairs _),
    "dedup_substring_winnow" -> (substringWinnow _),
    "dedup_substring_clusters" -> (substringClusters _),
    "dedup_incremental" -> (incrementalDedup _)
  )

  /** The window double-hash mirrored non-rolling in SQL: each window's
    * hash is the char-wise fold the rolling form maintains incrementally
    * (exact same mod arithmetic, ASCII corpus). */
  private val hSql: String =
    s"""list_reduce(list_transform(range(0, $L),
       |        k -> CAST(ord(substr(text, i + k, 1)) AS BIGINT)),
       |      (a, b) -> (a * 131 + b) % 1000000007) * 2147483648
       |    + list_reduce(list_transform(range(0, $L),
       |        k -> CAST(ord(substr(text, i + k, 1)) AS BIGINT)),
       |      (a, b) -> (a * 137 + b) % 998244353)""".stripMargin

  private val wndCte: String =
    s"""wd AS (
       |  SELECT DISTINCT doc_id, $hSql AS h
       |  FROM documents, UNNEST(range(1, length(text) - $L + 2)) AS u(i)
       |  WHERE length(text) >= $L)""".stripMargin

  /** Position-indexed variant for the winnow oracle (p = window start). */
  private val posCte: String =
    s"""pos AS MATERIALIZED (
       |  SELECT doc_id, i AS p, $hSql AS h
       |  FROM documents, UNNEST(range(1, length(text) - $L + 2)) AS u(i)
       |  WHERE length(text) >= $L)""".stripMargin

  /** The winnowing selection + df cap as a CTE chain ending in `fr`
    * (doc_id, h) — shared by the winnow-pair and cluster oracles. */
  private val winnowCtes: String =
    s"""$posCte,
       |nn AS (SELECT doc_id, COUNT(*) AS c FROM pos GROUP BY 1),
       |wins AS (SELECT doc_id, s
       |         FROM nn, UNNEST(range(1, GREATEST(c - $WinW + 2, 2))) AS u(s)),
       |wmin AS (SELECT w.doc_id, w.s, MIN(p.h) AS mn
       |         FROM wins w JOIN pos p ON p.doc_id = w.doc_id
       |          AND p.p BETWEEN w.s AND w.s + ${WinW - 1} GROUP BY 1, 2),
       |sel AS (SELECT m.doc_id, m.s, MAX(p.p) AS sp
       |        FROM wmin m JOIN pos p ON p.doc_id = m.doc_id
       |         AND p.p BETWEEN m.s AND m.s + ${WinW - 1} AND p.h = m.mn
       |        GROUP BY 1, 2),
       |fp AS (SELECT DISTINCT s.doc_id, p.h
       |       FROM sel s JOIN pos p ON p.doc_id = s.doc_id AND p.p = s.sp),
       |rare AS (SELECT h FROM (SELECT h, COUNT(*) df FROM fp GROUP BY h)
       |         WHERE df <= $MaxDf),
       |fr AS MATERIALIZED (SELECT fp.doc_id, fp.h FROM fp JOIN rare USING (h))""".stripMargin

  val oracle: Map[String, String] = Map(
    "dedup_substring_profile" ->
      s"""WITH $wndCte,
         |df AS (SELECT h, COUNT(*) AS df FROM wd GROUP BY h)
         |SELECT wd.doc_id,
         |  COUNT(*) AS n_windows,
         |  CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
         |  CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*) AS dup_ratio
         |FROM wd JOIN df USING (h)
         |GROUP BY wd.doc_id ORDER BY wd.doc_id""".stripMargin,
    "dedup_substring_pairs" ->
      s"""WITH $wndCte,
         |rare AS (SELECT h FROM (SELECT h, COUNT(*) df FROM wd GROUP BY h)
         |         WHERE df <= $MaxDf),
         |wr AS (SELECT wd.doc_id, wd.h FROM wd JOIN rare USING (h))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  COUNT(*) AS shared_windows
         |FROM wr a JOIN wr b ON a.h = b.h AND a.doc_id < b.doc_id
         |WHERE a.doc_id < $ProbeDocs
         |GROUP BY 1, 2 HAVING COUNT(*) >= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_substring_winnow" ->
      s"""WITH $winnowCtes
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_fp
         |FROM fr a JOIN fr b ON a.h = b.h AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 2
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_substring_clusters" ->
      s"""WITH RECURSIVE $winnowCtes,
         |prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |        FROM fr a JOIN fr b ON a.h = b.h AND a.doc_id < b.doc_id
         |        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
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
         |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |FROM allv ORDER BY doc_id""".stripMargin,
    "dedup_incremental" ->
      s"""WITH ${Dedup.shCte},
         |shh AS (SELECT doc_id, ${Dedup.dh60("s")} AS h1,
         |          ${Dedup.dh60("s || '~'")} % 72057594037927936 AS h2m FROM shg),
         |hs AS (SELECT doc_id, seed, (h1 + seed * h2m) % 2305843009213693951 AS h
         |       FROM shh, UNNEST(range(16)) AS se(seed)),
         |sig AS (SELECT doc_id, seed, MIN(h) AS mh FROM hs GROUP BY 1, 2),
         |bands AS (SELECT doc_id, seed // 4 AS band,
         |            string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS bkey
         |          FROM sig GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bkey = b.bkey
         |          AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0),
         |hsh AS (SELECT doc_id, h1 AS h FROM shh),
         |card AS (SELECT doc_id, COUNT(*) c FROM hsh GROUP BY 1),
         |common AS (SELECT doc_a, doc_b, COUNT(*) AS common
         |           FROM cand JOIN hsh x ON x.doc_id = doc_a
         |                     JOIN hsh y ON y.doc_id = doc_b AND x.h = y.h
         |           GROUP BY 1, 2),
         |jp AS (SELECT doc_a, doc_b,
         |         CAST(common AS DOUBLE) / (ca.c + cb.c - common) AS jaccard
         |       FROM common JOIN card ca ON doc_a = ca.doc_id
         |                   JOIN card cb ON doc_b = cb.doc_id
         |       WHERE CAST(common AS DOUBLE) / (ca.c + cb.c - common) >= 0.8),
         |near AS (SELECT doc_a, MIN(doc_b) AS near_dup_of FROM jp GROUP BY 1),
         |nearj AS (SELECT n.doc_a, n.near_dup_of, j.jaccard AS near_jaccard
         |          FROM near n JOIN jp j
         |            ON j.doc_a = n.doc_a AND j.doc_b = n.near_dup_of),
         |ex AS (SELECT d.doc_id,
         |         EXISTS (SELECT 1 FROM documents c
         |                 WHERE c.doc_id % 2 = 0 AND c.text = d.text) AS exact_dup
         |       FROM documents d WHERE d.doc_id % 2 = 1)
         |SELECT e.doc_id, e.exact_dup, n.near_dup_of, n.near_jaccard,
         |  CASE WHEN e.exact_dup THEN 'drop_exact'
         |       WHEN n.near_dup_of IS NOT NULL THEN 'drop_near'
         |       ELSE 'keep' END AS decision
         |FROM ex e LEFT JOIN nearj n ON n.doc_a = e.doc_id
         |ORDER BY e.doc_id""".stripMargin
  )
}
