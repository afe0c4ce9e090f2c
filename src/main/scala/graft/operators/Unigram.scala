package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Unigram-LM subword segmentation (Kudo, "Subword Regularization:
  * Improving Neural Network Translation Models with Multiple Subword
  * Candidates", ACL 2018) — the SentencePiece-family tokenizer that
  * complements [[Bpe]]: instead of learning merges bottom-up, it scores a
  * piece inventory and segments each word by VITERBI — the maximal
  * total-likelihood decomposition — then refines the inventory by one
  * hard-EM round ([[unigramEm]]). This is the third tokenizer family in
  * the pillar (char BPE, phrase BPE, unigram), and it exercises the one
  * shape BPE never does: per-word dynamic programming under a broadcast
  * model.
  *
  * ARCHITECTURE (the 100 TB story, mirroring [[Bpe]]'s driver-finishing
  * design): the distributed part is the corpus — one scan builds the
  * word vocabulary (word → corpus count) and one bounded explode of that
  * vocabulary (≤ L·[[Unigram.MaxPieceLen]] pieces per DISTINCT word, never
  * per occurrence) aggregates the piece counts. The scored piece
  * inventory is model metadata — bounded by the corpus alphabet to the
  * ≤[[Unigram.MaxPieceLen]]-gram space actually present, the same
  * ≪-driver-memory regime as BPE's word vocab — so it collects and
  * broadcasts, and segmentation runs embarrassingly parallel over the
  * distinct-word table: O(L·MaxPieceLen) map lookups per word, no
  * shuffle, no iteration. Applying the segmentation to the full corpus
  * is then a broadcast join of the segmented vocab against the token
  * stream — the standard train-on-vocab / apply-to-corpus split of every
  * production tokenizer.
  *
  * OBJECTIVE & DETERMINISM: Kudo's model maximizes Σ log p(piece), and
  * log-probabilities are NEGATIVE — so the integer formulation MINIMIZES
  * a per-piece COST, the half-bit quantized negative log-likelihood:
  * cost(piece) = c2l(T) − c2l(cnt), where c2l(c) = length(bin(c²)) =
  * ⌊2·log₂ c⌋ + 1 (libm-free, the ta_lm_score discipline) and T is the
  * kept inventory's total count mass, so cost ≈ 2·log₂(T/cnt) ≥ 0 in
  * half-bit units. Minimization is what makes the tokenizer non-trivial:
  * every extra piece pays its own normalization term, so frequent long
  * pieces beat char-spray — a maximized positive score would
  * degenerately prefer single characters on every word. The DP objective
  * is exact BIGINT arithmetic; ties on total cost break to the LONGER
  * final piece, which makes the argmin unique (same cost + same length ⇒
  * same piece). Every single-character piece is kept unconditionally
  * (segmentability guarantee — exactly SentencePiece's required-char
  * rule); multi-char pieces need corpus support ≥
  * [[Unigram.MinPieceCount]].
  *
  * The DuckDB oracle re-derives the identical model and runs the same DP
  * as a [[Unigram.OracleMaxLen]]-stage chained-CTE forward pass (stage i
  * joins stages i−1…i−MaxPieceLen against the piece table and takes the
  * per-word (cost, piece-length) argmin) — a deliberately different
  * formulation from the Scala array-walk, so the gate cross-checks the
  * recurrence itself, not one implementation.
  */
object Unigram {

  /** Longest piece considered (SentencePiece's default max piece length
    * is 16; 4 matches this corpus's 8-char words — two pieces cover any
    * word even in the worst case). */
  val MaxPieceLen = 4

  /** Corpus support needed for a multi-char piece to enter the
    * inventory; single chars are always kept (segmentability). */
  val MinPieceCount = 3L

  /** DP stages unrolled in the oracle SQL — a safe bound above the
    * corpus's max word length (8 at both gate scales); stages beyond the
    * longest word are empty and cost nothing. */
  val OracleMaxLen = 16

  /** Half-bit log quantization: ⌊2·log₂ c⌋ + 1 for c ≥ 1, and 1 for
    * c = 0 (length of "0") — identical to `length(bin(c*c))` in both
    * engines over the gated domain. Computed via BigInteger because the
    * TOTAL mass T (Σ kept counts — squared for cT/cT2) passes 2^31.5 on
    * a large corpus, where a bare Long c·c would wrap silently; the
    * oracle's checked BIGINT multiply only ever sees gate-scale counts. */
  private[operators] def c2l(c: Long): Long =
    if (c == 0L) 1L
    else java.math.BigInteger.valueOf(c).pow(2).bitLength().toLong

  /** UDF result row; public because the generated encoder code must be
    * able to reference the class and its accessors. */
  case class SegResult(seg: String, n_pieces: Long, total_cost: Long)

  /** Viterbi over one word under the broadcast cost map: best(i) =
    * min over k ≤ min(i, MaxPieceLen), piece = w[i−k, i) ∈ V of
    * best(i−k) + cost(piece); ties prefer larger k. */
  private[operators] def viterbi(w: String, cost: collection.Map[String, Long]): SegResult = {
    val L = w.length
    val best = Array.fill(L + 1)(Long.MaxValue)
    val backK = new Array[Int](L + 1)
    best(0) = 0L
    var i = 1
    while (i <= L) {
      var k = 1
      while (k <= MaxPieceLen && k <= i) {
        if (best(i - k) != Long.MaxValue) {
          cost.get(w.substring(i - k, i)) match {
            case Some(s) =>
              val cand = best(i - k) + s
              if (cand < best(i) || (cand == best(i) && k > backK(i))) {
                best(i) = cand
                backK(i) = k
              }
            case None => ()
          }
        }
        k += 1
      }
      i += 1
    }
    val pieces = List.newBuilder[String]
    var j = L
    var n = 0L
    while (j > 0) {
      pieces += w.substring(j - backK(j), j)
      n += 1
      j -= backK(j)
    }
    SegResult(pieces.result().reverse.mkString(" "), n, best(L))
  }

  /** Distinct-word vocabulary with corpus counts (the distributed scan). */
  private def wordVocab(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(col("text"), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Half-bit costs from a kept-count inventory: cost(p) = c2l(T) −
    * c2l(cnt) against the inventory's own total mass. */
  private[operators] def costsOf(kept: collection.Map[String, Long]): Map[String, Long] = {
    val cT = c2l(kept.valuesIterator.sum)
    kept.iterator.map { case (p, c) => p -> (cT - c2l(c)) }.toMap
  }

  /** Seed (round-1) inventory kept counts: every ≤[[MaxPieceLen]]-gram of
    * the vocabulary weighted by word frequency, single chars kept
    * unconditionally, multi-char pieces needing ≥ [[MinPieceCount]]
    * support. The kept counts collect to the driver (alphabet-bounded
    * model metadata — the train-model / apply-distributed split), where
    * the total mass T and the per-piece costs are finished in memory. */
  private[operators] def seedKept(spark: SparkSession, vocab: DataFrame)
      : Map[String, Long] = {
    import spark.implicits._
    vocab
      .select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, length(word)), s ->
           |  transform(sequence(1, least($MaxPieceLen, length(word) - s + 1)),
           |    k -> substring(word, s, k))))""".stripMargin)).as("piece"))
      .groupBy("piece").agg(sum(col("freq")).as("cnt"))
      .filter(length(col("piece")) === 1 || col("cnt") >= MinPieceCount)
      .as[(String, Long)]
      .collect()
      .toMap
  }

  private[operators] def seedCosts(spark: SparkSession, vocab: DataFrame)
      : collection.Map[String, Long] = costsOf(seedKept(spark, vocab))

  /** Segment every vocab word under `costs`: (word, freq, n_pieces,
    * total_cost, seg). */
  private def segment(spark: SparkSession, vocab: DataFrame,
      costs: collection.Map[String, Long]): DataFrame = {
    val bc = spark.sparkContext.broadcast(costs)
    val seg = udf((w: String) => viterbi(w, bc.value))
    vocab
      .select(col("word"), col("freq"), seg(col("word")).as("r"))
      .select(col("word"), col("freq"), col("r.n_pieces"),
        col("r.total_cost"), col("r.seg"))
      .orderBy("word")
  }

  /** Round-1 segmentation of an arbitrary vocab — factored out so
    * UnigramEmSpec can drive synthetic vocabularies. */
  private[operators] def viterbiSegment(spark: SparkSession, vocab: DataFrame): DataFrame =
    segment(spark, vocab, seedCosts(spark, vocab))

  /** Per-word Viterbi segmentation under the corpus-trained unigram
    * inventory: (word, freq, n_pieces, total_cost, seg). */
  def unigramViterbi(spark: SparkSession, dir: String): DataFrame =
    viterbiSegment(spark, wordVocab(spark, dir).localCheckpoint())

  /** The corpus alphabet (every single character of every vocab word) —
    * invariant across EM rounds, computed once per trainer run. */
  private def alphabetOf(spark: SparkSession, vocab: DataFrame): Array[String] = {
    import spark.implicits._
    vocab.select(explode(expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
        .as("piece"))
      .distinct()
      .as[String]
      .collect()
  }

  /** One E+M: usage counts under `costs` (E — one explode of the
    * segmented distinct-word table, freq-weighted, with multiplicity),
    * then the inventory rebuild (M — prune never-chosen multi-char
    * pieces, keep the alphabet unconditionally). */
  private def refineKept(spark: SparkSession, vocab: DataFrame,
      costs: collection.Map[String, Long], alphabet: Array[String])
      : Map[String, Long] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(costs)
    val seg = udf((w: String) => viterbi(w, bc.value))
    val usage = vocab
      .select(col("freq"),
        explode(split(seg(col("word")).getField("seg"), " ")).as("piece"))
      .groupBy("piece").agg(sum(col("freq")).as("cnt"))
      .as[(String, Long)]
      .collect()
      .toMap
    alphabet.iterator.map(a => a -> usage.getOrElse(a, 0L)).toMap ++
      usage.iterator.filter { case (p, c) => p.length > 1 && c >= MinPieceCount }
  }

  /** One hard-EM refinement round (Viterbi training — the hard-count
    * variant of Kudo's E/M alternation, which uses forward–backward
    * expected counts; hard counts keep every quantity an exact BIGINT so
    * the round stays cross-engine gateable):
    *
    *   E — segment the vocabulary under the SEED inventory (round 1's
    *       Viterbi) and count each piece's usage, weighted by word
    *       frequency, with multiplicity;
    *   M — rebuild the inventory from usage: multi-char pieces below
    *       [[MinPieceCount]] usage drop out (Kudo's inventory pruning —
    *       pieces that merely OCCUR but are never CHOSEN disappear),
    *       single chars stay unconditionally (segmentability; zero usage
    *       costs c2l(T₂) − 1, the maximal finite penalty), and costs are
    *       re-quantized against the new total mass T₂;
    *   then re-segment under the refined inventory.
    *
    * The re-estimated model concentrates probability on pieces the DP
    * actually uses rather than all substrings that occur — the defining
    * difference between a trainer and a scorer — and CAN change
    * segmentations (UnigramEmSpec pins a vocab where a round-1 choice
    * flips). Distribution shape is round 1's exactly: the E-step usage
    * count is one explode of the segmented DISTINCT-word table (never
    * per occurrence), both models are alphabet-bounded broadcast maps,
    * segmentation is map-side DP — no shuffle beyond the vocab-sized
    * usage aggregation, no iteration driver round-trips beyond the two
    * model collects. */
  private[operators] def emSegment(spark: SparkSession, vocab: DataFrame): DataFrame = {
    val kept2 = refineKept(spark, vocab, seedCosts(spark, vocab),
      alphabetOf(spark, vocab))
    segment(spark, vocab, costsOf(kept2))
  }

  /** Posterior truncation window of the SOFT E-step, in half-bit cost
    * units: segmentations costing more than [[SoftWindow]] above a
    * word's best path carry relative probability < 2^-20 under the
    * tempered posterior and are dropped EXACTLY (the cutoff tests an
    * integer, so both engines truncate identically) — what keeps every
    * weight a ≤ 2^40 integer and the whole E-step cross-engine exact. */
  val SoftWindow = 40L

  /** All segmentations of `w` into inventory pieces, with total half-bit
    * cost and piece multiset. Bounded by composition count (≤ tetranacci
    * of the word length — 56 paths for an 8-char word, O(1) per DISTINCT
    * word at any corpus scale), so enumeration is the per-word map-side
    * work the corpus never shuffles. */
  private[operators] def softPaths(w: String,
      cost: collection.Map[String, Long]): IndexedSeq[(Long, List[String])] = {
    val L = w.length
    val memo = Array.fill[List[(Long, List[String])]](L + 1)(null)
    def rec(i: Int): List[(Long, List[String])] = {
      if (i == 0) List((0L, Nil))
      else if (memo(i) != null) memo(i)
      else {
        val acc = List.newBuilder[(Long, List[String])]
        var k = 1
        while (k <= MaxPieceLen && k <= i) {
          val p = w.substring(i - k, i)
          if (cost.contains(p)) {
            val s = cost(p)
            rec(i - k).foreach { case (c, ps) => acc += ((c + s, p :: ps)) }
          }
          k += 1
        }
        memo(i) = acc.result()
        memo(i)
      }
    }
    rec(L).toIndexedSeq
  }

  /** SOFT expected usage of one word (Kudo's E-step with expected counts
    * instead of [[refineKept]]'s hard argmin counts), kept EXACT: the
    * posterior is the TEMPERED distribution Q(seg) ∝ 2^(−cost(seg)) —
    * the square of the model probability, since cost is the half-bit
    * −2·log₂ p — whose weights are exact dyadic integers 2^(SoftWindow−δ)
    * after per-word min-cost normalization and window truncation. The
    * expected count freq·Σw·mult / Σw is rounded half-up in exact integer
    * arithmetic (BigInt guards the freq·num product; the oracle's HUGEINT
    * mirrors it), so soft counts are cross-engine gateable the same way
    * hard counts are. */
  private[operators] def softUsageOne(w: String, freq: Long,
      cost: collection.Map[String, Long]): Seq[(String, Long)] = {
    val paths = softPaths(w, cost)
    if (paths.isEmpty) return Nil
    var cmin = Long.MaxValue
    paths.foreach { case (c, _) => if (c < cmin) cmin = c }
    var den = 0L
    val num = scala.collection.mutable.Map.empty[String, Long]
    paths.foreach { case (c, ps) =>
      val d = c - cmin
      if (d <= SoftWindow) {
        val wt = 1L << (SoftWindow - d)
        den += wt
        ps.foreach(p => num(p) = num.getOrElse(p, 0L) + wt)
      }
    }
    num.iterator.map { case (p, n) =>
      p -> ((BigInt(2) * freq * n + den) / (BigInt(2) * den)).toLong
    }.filter(_._2 > 0L).toSeq.sortBy(_._1)
  }

  /** One SOFT E+M: expected usage over the whole vocab (map-side path
    * enumeration per distinct word, one vocab-sized aggregation — the
    * same distribution shape as the hard E-step), then the identical
    * inventory rebuild rule (alphabet unconditional, multi-char needs
    * ≥ [[MinPieceCount]] expected usage). */
  private[operators] def softRefineKept(spark: SparkSession, vocab: DataFrame,
      costs: collection.Map[String, Long], alphabet: Array[String])
      : Map[String, Long] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(costs)
    val usage = vocab.select(col("word"), col("freq")).as[(String, Long)]
      .flatMap { case (w, f) => softUsageOne(w, f, bc.value) }
      .toDF("piece", "cnt")
      .groupBy("piece").agg(sum(col("cnt")).as("cnt"))
      .as[(String, Long)]
      .collect()
      .toMap
    alphabet.iterator.map(a => a -> usage.getOrElse(a, 0L)).toMap ++
      usage.iterator.filter { case (p, c) => p.length > 1 && c >= MinPieceCount }
  }

  private[operators] def emSoftSegment(spark: SparkSession, vocab: DataFrame): DataFrame = {
    val kept2 = softRefineKept(spark, vocab, seedCosts(spark, vocab),
      alphabetOf(spark, vocab))
    segment(spark, vocab, costsOf(kept2))
  }

  /** Round-2 per-word segmentation under the SOFT-EM-refined inventory
    * (forward posterior over ALL segmentations instead of the argmin
    * path — Kudo ACL'18's actual E-step, where [[unigramEm]] is the
    * Viterbi-training approximation; UnigramSoftSpec pins a vocab where
    * the two refinements disagree). Decoding stays Viterbi — training
    * soft, inference hard, as SentencePiece ships. */
  def unigramEmSoft(spark: SparkSession, dir: String): DataFrame =
    emSoftSegment(spark, wordVocab(spark, dir).localCheckpoint())

  /** Round-2 (post-EM) per-word segmentation over the corpus vocab. */
  def unigramEm(spark: SparkSession, dir: String): DataFrame =
    emSegment(spark, wordVocab(spark, dir).localCheckpoint())

  /** EM rounds the trainer gate runs (Kudo's trainer iterates E/M until
    * the likelihood settles; 4 hard-EM rounds converge on every corpus
    * and synthetic vocab exercised — the trajectory output SHOWS the
    * settling, n_seg_changed → 0). */
  val EmRounds = 4

  /** The full trainer trajectory — the unigram counterpart of BPE's gated
    * 512-merge sequence: run [[EmRounds]] E/M rounds and emit ONE ROW PER
    * ROUND of exact-integer training telemetry
    * (round, inv_size, total_mass, corpus_cost, corpus_pieces,
    * n_seg_changed), where round 1 is the seed (substring-count) model and
    * round r ≥ 2 segments under the (r−1)-times-refined inventory.
    * `corpus_cost`/`corpus_pieces` are freq-weighted over the corpus;
    * `n_seg_changed` counts vocab words whose segmentation differs from
    * the previous round (0 for round 1 by definition) — a monotone-ish
    * decay to 0 IS the convergence evidence, and a flip at round ≥ 3
    * (UnigramEmTrainSpec pins one) proves rounds beyond the first E/M do
    * real training work.
    *
    * Distribution shape per round is [[emSegment]]'s exactly: broadcast
    * model, map-side DP over the DISTINCT-word table, one vocab-sized
    * usage aggregation; the only additions are a vocab-sized self-join
    * per round for `n_seg_changed` and a 6-long driver row per round —
    * the whole trajectory is model-metadata-sized. `refine` is the E+M
    * step between rounds: [[refineKept]]'s hard counts by default. */
  private[operators] def emTrajectory(spark: SparkSession, vocab: DataFrame,
      rounds: Int,
      refine: (SparkSession, DataFrame, collection.Map[String, Long], Array[String])
        => Map[String, Long] = refineKept): DataFrame = {
    import spark.implicits._
    val alphabet = alphabetOf(spark, vocab)
    var kept = seedKept(spark, vocab)
    var prevSeg: DataFrame = null
    val rows = (1 to rounds).map { r =>
      val costs = costsOf(kept)
      val seg = segment(spark, vocab, costs).localCheckpoint()
      val st = seg.agg(
        sum(col("freq") * col("total_cost")).as("cc"),
        sum(col("freq") * col("n_pieces")).as("cp")).head()
      val changed =
        if (prevSeg == null) 0L
        else seg.as("a").join(prevSeg.as("b"), "word")
          .filter(col("a.seg") =!= col("b.seg")).count()
      prevSeg = seg
      val row = (r.toLong, kept.size.toLong, kept.valuesIterator.sum,
        st.getLong(0), st.getLong(1), changed)
      if (r < rounds) kept = refine(spark, vocab, costs, alphabet)
      row
    }
    rows.toDF("round", "inv_size", "total_mass", "corpus_cost",
        "corpus_pieces", "n_seg_changed")
      .orderBy("round")
  }

  /** [[EmRounds]]-round trainer trajectory over the corpus vocab. */
  def unigramEmTrain(spark: SparkSession, dir: String): DataFrame =
    emTrajectory(spark, wordVocab(spark, dir).localCheckpoint(), EmRounds)

  /** [[EmRounds]]-round SOFT trainer trajectory over the corpus vocab:
    * [[emTrajectory]] with the E-step swapped for [[softRefineKept]]'s
    * expected counts (decoding and all telemetry stay argmin, so the two
    * trajectories are row-comparable: same schema, same convergence
    * semantics, different training signal). */
  def unigramEmSoftTrain(spark: SparkSession, dir: String): DataFrame =
    emTrajectory(spark, wordVocab(spark, dir).localCheckpoint(), EmRounds,
      softRefineKept)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_unigram_viterbi" -> (unigramViterbi _),
    "text_unigram_em" -> (unigramEm _),
    "text_unigram_em_soft" -> (unigramEmSoft _),
    "text_unigram_em_train" -> (unigramEmTrain _),
    "text_unigram_em_soft_train" -> (unigramEmSoftTrain _)
  )

  /** One forward-DP stage of the oracle: rows ending at position i via a
    * final piece of length k come from stage i−k; the per-word argmin is
    * (total cost ASC, k DESC). MATERIALIZED is load-bearing — each
    * stage is referenced by up to [[MaxPieceLen]] later stages.
    * Parameterized by stage prefix and piece-table name so the EM oracle
    * can run a SECOND full DP pass under the re-estimated inventory. */
  private def dpStageSql(i: Int, pfx: String, vName: String): String = {
    val members = (1 to math.min(MaxPieceLen, i)).map { k =>
      s"""SELECT word, freq, best, np, seg, $k AS k,
         |      substr(word, ${i - k + 1}, $k) AS p
         |    FROM $pfx${i - k} WHERE length(word) >= $i""".stripMargin
    }.mkString("\n    UNION ALL ")
    s"""$pfx$i AS MATERIALIZED (SELECT word, freq, best, np, seg FROM (
       |  SELECT c.word, c.freq, c.best + v.sc AS best, c.np + 1 AS np,
       |    CASE WHEN c.seg = '' THEN c.p ELSE c.seg || ' ' || c.p END AS seg,
       |    ROW_NUMBER() OVER (PARTITION BY c.word
       |      ORDER BY c.best + v.sc ASC, c.k DESC) AS rn
       |  FROM ($members) c JOIN $vName v ON v.piece = c.p) WHERE rn = 1)""".stripMargin
  }

  private def finalSelectSql(pfx: String): String =
    s"""SELECT word, freq, np AS n_pieces, best AS total_cost, seg
       |FROM (${(1 to OracleMaxLen)
             .map(i => s"SELECT * FROM $pfx$i WHERE length(word) = $i")
             .mkString("\n  UNION ALL ")})
       |ORDER BY word""".stripMargin

  /** Seed-model WITH body (no DP stages): word vocab, kept seed counts,
    * total-mass quantization, seed cost table `v`. */
  private def modelSql: String =
    s"""WITH w AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
       |                                  x -> x <> '')) AS word
       |        FROM documents) GROUP BY 1),
       |pos AS (SELECT word, freq, s, k
       |  FROM w, (SELECT unnest(range(1, ${OracleMaxLen + 1})) AS s) ss,
       |          (SELECT unnest(range(1, ${MaxPieceLen + 1})) AS k) ks
       |  WHERE s + k - 1 <= length(word)),
       |pc AS (SELECT substr(word, CAST(s AS INTEGER), CAST(k AS INTEGER)) AS piece,
       |    CAST(SUM(freq) AS BIGINT) AS cnt FROM pos GROUP BY 1),
       |kv AS MATERIALIZED (SELECT piece, cnt FROM pc
       |  WHERE length(piece) = 1 OR cnt >= $MinPieceCount),
       |tot AS (SELECT CAST(length(bin(s * s)) AS BIGINT) AS ct
       |  FROM (SELECT CAST(SUM(cnt) AS BIGINT) AS s FROM kv)),
       |v AS MATERIALIZED (SELECT piece,
       |    (SELECT ct FROM tot) - CAST(length(bin(cnt * cnt)) AS BIGINT) AS sc
       |  FROM kv)""".stripMargin

  /** Shared WITH prelude: [[modelSql]] plus the round-1 DP stages
    * d1..d[[OracleMaxLen]]. */
  private def preludeSql: String =
    s"""$modelSql,
       |d0 AS (SELECT word, freq, CAST(0 AS BIGINT) AS best,
       |       CAST(0 AS BIGINT) AS np, '' AS seg FROM w),
       |${(1 to OracleMaxLen).map(dpStageSql(_, "d", "v")).mkString(",\n")}"""
      .stripMargin

  /** One ALL-PATHS forward stage (the soft oracle's enumerator): like
    * [[dpStageSql]] but WITHOUT the per-word argmin, so stage i holds
    * every segmentation of each word's first i characters with its
    * accumulated cost — composition-bounded, tiny at gate scale. */
  private def allPathsStageSql(i: Int, pfx: String, vName: String): String = {
    val members = (1 to math.min(MaxPieceLen, i)).map { k =>
      s"""SELECT word, freq, best, seg,
         |      substr(word, ${i - k + 1}, $k) AS p
         |    FROM $pfx${i - k} WHERE length(word) >= $i""".stripMargin
    }.mkString("\n    UNION ALL ")
    s"""$pfx$i AS MATERIALIZED (
       |  SELECT c.word, c.freq, c.best + v.sc AS best,
       |    CASE WHEN c.seg = '' THEN c.p ELSE c.seg || ' ' || c.p END AS seg
       |  FROM ($members) c JOIN $vName v ON v.piece = c.p)""".stripMargin
  }

  /** Materialized final-segmentation table for one round's DP stages. */
  private def segfinSql(name: String, pfx: String): String =
    s"""$name AS MATERIALIZED (SELECT word, freq, best, np, seg FROM (
       |  ${(1 to OracleMaxLen)
             .map(i => s"SELECT * FROM $pfx$i WHERE length(word) = $i")
             .mkString("\n  UNION ALL ")}))""".stripMargin

  /** One oracle E+M round r (≥ 2): usage counts from the previous round's
    * segmentation, inventory rebuild, recost, and a fresh DP chain under
    * stage prefix `pfx`. */
  private def emRoundSql(r: Int, prevSeg: String, pfx: String): String =
    s"""usage$r AS MATERIALIZED (SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(string_split(seg, ' ')) AS piece, freq FROM $prevSeg)
       |  GROUP BY 1),
       |kept$r AS MATERIALIZED (
       |  SELECT a.piece, CAST(COALESCE(u.cnt, 0) AS BIGINT) AS cnt
       |    FROM alpha a LEFT JOIN usage$r u ON u.piece = a.piece
       |  UNION ALL
       |  SELECT piece, cnt FROM usage$r
       |    WHERE length(piece) > 1 AND cnt >= $MinPieceCount),
       |tot$r AS (SELECT CAST(length(bin(s * s)) AS BIGINT) AS ct
       |  FROM (SELECT CAST(SUM(cnt) AS BIGINT) AS s FROM kept$r)),
       |v$r AS MATERIALIZED (SELECT piece,
       |    (SELECT ct FROM tot$r) - CAST(length(bin(cnt * cnt)) AS BIGINT) AS sc
       |  FROM kept$r),
       |${pfx}0 AS (SELECT word, freq, CAST(0 AS BIGINT) AS best,
       |       CAST(0 AS BIGINT) AS np, '' AS seg FROM w),
       |${(1 to OracleMaxLen).map(dpStageSql(_, pfx, s"v$r")).mkString(",\n")}"""
      .stripMargin

  private def trajPfx(r: Int): String = ('d' + r - 1).toChar.toString

  /** One SOFT oracle round r ≥ 2: all-paths enumeration under round
    * r−1's cost table, the exact-integer expected-usage pipeline,
    * inventory rebuild + recost, and round r's argmin DP chain (prefix
    * [[trajPfx]](r)) ending in the materialized sf$r. */
  private def softRoundSql(r: Int): String = {
    val vPrev = if (r == 2) "v" else s"v${r - 1}"
    val ap = s"ap${r - 1}x"
    s"""${ap}0 AS (SELECT word, freq, CAST(0 AS BIGINT) AS best, '' AS seg FROM w),
       |${(1 to OracleMaxLen).map(allPathsStageSql(_, ap, vPrev)).mkString(",\n")},
       |pf$r AS MATERIALIZED (SELECT word, freq, best, seg FROM (
       |  ${(1 to OracleMaxLen)
             .map(i => s"SELECT * FROM $ap$i WHERE length(word) = $i")
             .mkString("\n  UNION ALL ")})),
       |wmin$r AS (SELECT word, MIN(best) AS cmin FROM pf$r GROUP BY 1),
       |wp$r AS MATERIALIZED (SELECT p.word, p.freq, p.seg,
       |    (1::BIGINT << CAST($SoftWindow - (p.best - m.cmin) AS INTEGER)) AS wt
       |  FROM pf$r p JOIN wmin$r m USING (word)
       |  WHERE p.best - m.cmin <= $SoftWindow),
       |wden$r AS (SELECT word, CAST(SUM(wt) AS BIGINT) AS den
       |  FROM wp$r GROUP BY 1),
       |wnum$r AS (SELECT word, piece, CAST(SUM(wt) AS BIGINT) AS num
       |  FROM (SELECT word, wt, unnest(string_split(seg, ' ')) AS piece
       |        FROM wp$r)
       |  GROUP BY 1, 2),
       |ex$r AS (SELECT n.word, n.piece,
       |    CAST((2::HUGEINT * f.freq * n.num + d.den)
       |         // (2::HUGEINT * d.den) AS BIGINT) AS e
       |  FROM wnum$r n JOIN wden$r d USING (word) JOIN w f USING (word)),
       |usage$r AS MATERIALIZED (SELECT piece, CAST(SUM(e) AS BIGINT) AS cnt
       |  FROM ex$r WHERE e > 0 GROUP BY 1),
       |kept$r AS MATERIALIZED (
       |  SELECT a.piece, CAST(COALESCE(u.cnt, 0) AS BIGINT) AS cnt
       |    FROM alpha a LEFT JOIN usage$r u ON u.piece = a.piece
       |  UNION ALL
       |  SELECT piece, cnt FROM usage$r
       |    WHERE length(piece) > 1 AND cnt >= $MinPieceCount),
       |tot$r AS (SELECT CAST(length(bin(s * s)) AS BIGINT) AS ct
       |  FROM (SELECT CAST(SUM(cnt) AS BIGINT) AS s FROM kept$r)),
       |v$r AS MATERIALIZED (SELECT piece,
       |    (SELECT ct FROM tot$r) - CAST(length(bin(cnt * cnt)) AS BIGINT) AS sc
       |  FROM kept$r),
       |${trajPfx(r)}0 AS (SELECT word, freq, CAST(0 AS BIGINT) AS best,
       |       CAST(0 AS BIGINT) AS np, '' AS seg FROM w),
       |${(1 to OracleMaxLen).map(dpStageSql(_, trajPfx(r), s"v$r")).mkString(",\n")},
       |${segfinSql(s"sf$r", trajPfx(r))}""".stripMargin
  }

  /** One trajectory output row: round r's inventory + corpus stats. */
  private def trajRowSql(r: Int): String = {
    val kept = if (r == 1) "kv" else s"kept$r"
    val changed =
      if (r == 1) "CAST(0 AS BIGINT)"
      else s"""(SELECT CAST(COUNT(*) AS BIGINT) FROM sf$r a
              |     JOIN sf${r - 1} b USING (word) WHERE a.seg <> b.seg)"""
        .stripMargin
    s"""SELECT CAST($r AS BIGINT) AS round,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $kept) AS inv_size,
       |  (SELECT CAST(SUM(cnt) AS BIGINT) FROM $kept) AS total_mass,
       |  (SELECT CAST(SUM(freq * best) AS BIGINT) FROM sf$r) AS corpus_cost,
       |  (SELECT CAST(SUM(freq * np) AS BIGINT) FROM sf$r) AS corpus_pieces,
       |  $changed AS n_seg_changed""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "text_unigram_viterbi" ->
      s"""$preludeSql
         |${finalSelectSql("d")}""".stripMargin,
    // The full trainer trajectory: EmRounds chained E/M rounds, each a
    // complete 16-stage DP pass (prefixes d, e, f, g), emitting one
    // telemetry row per round — the same recurrence cross-check as the
    // single-round gates, times EmRounds.
    "text_unigram_em_train" ->
      s"""SET max_expression_depth TO 20000;
         |$preludeSql,
         |alpha AS (SELECT DISTINCT substr(word, CAST(s AS INTEGER), 1) AS piece
         |  FROM pos WHERE k = 1),
         |${segfinSql("sf1", "d")},
         |${(2 to EmRounds).map(r =>
               emRoundSql(r, s"sf${r - 1}", trajPfx(r)) + ",\n" +
                 segfinSql(s"sf$r", trajPfx(r))).mkString(",\n")}
         |SELECT * FROM (
         |${(1 to EmRounds).map(trajRowSql).mkString("\nUNION ALL\n")})
         |ORDER BY round""".stripMargin,
    // The SOFT trainer trajectory: EmRounds chained soft-E/M rounds,
    // each an all-paths enumeration + expected-usage pipeline + a full
    // argmin DP pass, emitting the same telemetry row per round as the
    // hard trajectory (trajRowSql is shared verbatim).
    "text_unigram_em_soft_train" ->
      s"""SET max_expression_depth TO 20000;
         |$preludeSql,
         |alpha AS (SELECT DISTINCT substr(word, CAST(s AS INTEGER), 1) AS piece
         |  FROM pos WHERE k = 1),
         |${segfinSql("sf1", "d")},
         |${(2 to EmRounds).map(softRoundSql).mkString(",\n")}
         |SELECT * FROM (
         |${(1 to EmRounds).map(trajRowSql).mkString("\nUNION ALL\n")})
         |ORDER BY round""".stripMargin,
    // Hard-EM round: E = usage counts (with multiplicity, freq-weighted)
    // from the round-1 segmentation; M = inventory rebuild + half-bit
    // recost against the new total mass (single chars unconditional via
    // the alphabet LEFT JOIN — zero usage costs cT2 - 1 — multi-char
    // needs MinPieceCount usage); then the SECOND 16-stage DP pass
    // e1..e16 under v2. The SET raises the expression-depth budget for
    // the doubled chain.
    // SOFT-EM round: E = EXPECTED usage from the tempered posterior over
    // ALL segmentations (the a1..a16 all-paths chain — no argmin — then
    // per-word min-cost normalization, 2^(40−δ) integer weights, and the
    // exact HUGEINT round-half-up of freq·num/den); M = the identical
    // inventory rebuild; then the second argmin DP chain s1..s16 under
    // the soft-refined cost table. A deliberately different formulation
    // from the Scala path-enumeration UDF, so the gate cross-checks the
    // posterior arithmetic itself.
    "text_unigram_em_soft" ->
      s"""SET max_expression_depth TO 20000;
         |$modelSql,
         |alpha AS (SELECT DISTINCT substr(word, CAST(s AS INTEGER), 1) AS piece
         |  FROM pos WHERE k = 1),
         |a0 AS (SELECT word, freq, CAST(0 AS BIGINT) AS best, '' AS seg FROM w),
         |${(1 to OracleMaxLen).map(allPathsStageSql(_, "a", "v")).mkString(",\n")},
         |pathsf AS MATERIALIZED (SELECT word, freq, best, seg FROM (
         |  ${(1 to OracleMaxLen)
               .map(i => s"SELECT * FROM a$i WHERE length(word) = $i")
               .mkString("\n  UNION ALL ")})),
         |wmin AS (SELECT word, MIN(best) AS cmin FROM pathsf GROUP BY 1),
         |wp AS MATERIALIZED (SELECT p.word, p.freq, p.seg,
         |    (1::BIGINT << CAST($SoftWindow - (p.best - m.cmin) AS INTEGER)) AS wt
         |  FROM pathsf p JOIN wmin m USING (word)
         |  WHERE p.best - m.cmin <= $SoftWindow),
         |wden AS (SELECT word, CAST(SUM(wt) AS BIGINT) AS den FROM wp GROUP BY 1),
         |wnum AS (SELECT word, piece, CAST(SUM(wt) AS BIGINT) AS num
         |  FROM (SELECT word, wt, unnest(string_split(seg, ' ')) AS piece FROM wp)
         |  GROUP BY 1, 2),
         |ex AS (SELECT n.word, n.piece,
         |    CAST((2::HUGEINT * f.freq * n.num + d.den)
         |         // (2::HUGEINT * d.den) AS BIGINT) AS e
         |  FROM wnum n JOIN wden d USING (word) JOIN w f USING (word)),
         |usg AS MATERIALIZED (SELECT piece, CAST(SUM(e) AS BIGINT) AS cnt
         |  FROM ex WHERE e > 0 GROUP BY 1),
         |kept2 AS MATERIALIZED (
         |  SELECT a.piece, CAST(COALESCE(u.cnt, 0) AS BIGINT) AS cnt
         |    FROM alpha a LEFT JOIN usg u ON u.piece = a.piece
         |  UNION ALL
         |  SELECT piece, cnt FROM usg
         |    WHERE length(piece) > 1 AND cnt >= $MinPieceCount),
         |tot2 AS (SELECT CAST(length(bin(s * s)) AS BIGINT) AS ct
         |  FROM (SELECT CAST(SUM(cnt) AS BIGINT) AS s FROM kept2)),
         |v2 AS MATERIALIZED (SELECT piece,
         |    (SELECT ct FROM tot2) - CAST(length(bin(cnt * cnt)) AS BIGINT) AS sc
         |  FROM kept2),
         |s0 AS (SELECT word, freq, CAST(0 AS BIGINT) AS best,
         |       CAST(0 AS BIGINT) AS np, '' AS seg FROM w),
         |${(1 to OracleMaxLen).map(dpStageSql(_, "s", "v2")).mkString(",\n")}
         |${finalSelectSql("s")}""".stripMargin,
    "text_unigram_em" ->
      s"""SET max_expression_depth TO 20000;
         |$preludeSql,
         |seg1 AS MATERIALIZED (SELECT word, freq, seg FROM (
         |  ${(1 to OracleMaxLen)
               .map(i => s"SELECT * FROM d$i WHERE length(word) = $i")
               .mkString("\n  UNION ALL ")})),
         |usage AS MATERIALIZED (SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM (SELECT unnest(string_split(seg, ' ')) AS piece, freq FROM seg1)
         |  GROUP BY 1),
         |alpha AS (SELECT DISTINCT substr(word, CAST(s AS INTEGER), 1) AS piece
         |  FROM pos WHERE k = 1),
         |kept2 AS MATERIALIZED (
         |  SELECT a.piece, CAST(COALESCE(u.cnt, 0) AS BIGINT) AS cnt
         |    FROM alpha a LEFT JOIN usage u ON u.piece = a.piece
         |  UNION ALL
         |  SELECT piece, cnt FROM usage
         |    WHERE length(piece) > 1 AND cnt >= $MinPieceCount),
         |tot2 AS (SELECT CAST(length(bin(s * s)) AS BIGINT) AS ct
         |  FROM (SELECT CAST(SUM(cnt) AS BIGINT) AS s FROM kept2)),
         |v2 AS MATERIALIZED (SELECT piece,
         |    (SELECT ct FROM tot2) - CAST(length(bin(cnt * cnt)) AS BIGINT) AS sc
         |  FROM kept2),
         |e0 AS (SELECT word, freq, CAST(0 AS BIGINT) AS best,
         |       CAST(0 AS BIGINT) AS np, '' AS seg FROM w),
         |${(1 to OracleMaxLen).map(dpStageSql(_, "e", "v2")).mkString(",\n")}
         |${finalSelectSql("e")}""".stripMargin
  )
}
