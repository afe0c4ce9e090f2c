package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line
  * {"metric":...,"value":total_sec,"unit":"sec","queries":{...},"sf":...}.
  *
  * Each query is fully materialized through the `noop` sink (not just
  * counted) so sorts, projections and sinks are paid, matching what a real
  * consumer of the result would observe.
  *
  * The artifact is SELF-ADJUDICATING against host CPU-steal (the recurring
  * failure mode of driver bench runs on this host: rounds 4-9 all produced
  * episodic 3-10x inflations on identical code). Three layers:
  *
  *  1. `per_query_reps` emits EVERY rep's wall time, so a consumer can see
  *     when the post-warmup reps of one query disagree wildly — intra-query
  *     rep spread is itself a burst detector (round 9's artifact kept only
  *     first + converged min, hiding exactly this signal).
  *  2. The calibration spin runs on ALL worker threads and reports the
  *     WORST per-thread time ([[calibSpin]]): the round-9 single-thread
  *     probe read max/min = 1.05 ("clean") while six queries inflated
  *     3.6-9.6x, because a burst can steal the 32-way parallel pool while
  *     leaving one core mostly free.
  *  3. Two machine-computed suspect lists ([[repSpreadSuspects]],
  *     [[calibSuspectQueries]]) print in full on the `suspects` line and
  *     ride the headline as bounded count+top-N views, so a polluted
  *     artifact flags ITSELF — the consumer no longer needs a converged
  *     rerun to discover that a top-20 entry is steal noise — while the
  *     headline line stays under [[HeadlineMaxChars]] no matter how many
  *     queries flag (BENCH_r15's unbounded lists overflowed the driver's
  *     2000-char tail capture and cost the round its official total).
  */
object Bench {
  /** One query's measured reps (rep 1 = cold/JIT warmup). `builds` names
    * the one-time cache/model builds that ran INSIDE this query's reps
    * (almost always rep 1) with their seconds — the attribution that lets
    * a consumer subtract ingest cost from a first-run row instead of
    * misreading it as a regression (r11's 12.1 s graph_label_propagation
    * rep 1 was the graft_coedges build + codegen). */
  private[graft] final case class QRes(name: String, reps: Vector[Double], ok: Boolean,
      builds: Map[String, Double] = Map.empty) {
    def first: Double = reps.head
    /** Min over post-warmup reps — the headline number. */
    def converged: Double = if (reps.length > 1) reps.tail.min else reps.head
  }

  /** Multi-thread steal calibration: `threads` concurrent xorshift spins
    * (2^27 sequentially-dependent steps each — the data dependence defeats
    * closed-form folding and vectorization; a test of the result keeps
    * it live), reporting the WORST per-thread wall time. Saturating every
    * slot for ~0.2-0.4 s makes pool-level steal visible in the slowest
    * thread, which is the view a 32-way Spark stage actually has: a stage
    * is as slow as its most-stolen task. On an unloaded host the worst
    * thread matches the best within ~20%; under steal it inflates
    * proportionally to the stolen fraction of the pool. */
  private[graft] def calibSpin(threads: Int): Double = {
    val worst = new java.util.concurrent.atomic.AtomicLong(0L)
    val ts = (0 until math.max(threads, 1)).map { _ =>
      val t = new Thread(() => {
        val t0 = System.nanoTime()
        var x = 0x9E3779B97F4A7C15L
        var i = 0
        while (i < (1 << 27)) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          i += 1
        }
        // xorshift never reaches 0 from a non-zero seed; testing for it
        // keeps the spin's result live
        if (x == 0L) throw new IllegalStateException("xorshift reached 0")
        val dt = System.nanoTime() - t0
        var cur = worst.get()
        while (dt > cur && !worst.compareAndSet(cur, dt)) cur = worst.get()
      })
      t.setDaemon(true)
      t.start()
      t
    }
    ts.foreach(_.join())
    worst.get() / 1e9
  }

  /** Queries whose post-warmup reps disagree >= 3x (with the slow rep at
    * least 0.5 s, so sub-100ms jitter never flags): the converged min of
    * such a query is NOT corroborated by a second clean measurement, which
    * is exactly the shape of round 9's six phantom regressions. */
  private[graft] def repSpreadSuspects(rs: Seq[QRes]): Seq[String] =
    rs.collect {
      case r if {
        val post = r.reps.drop(1)
        post.length >= 2 && post.min > 0 &&
          post.max / post.min >= 3.0 && post.max >= 0.5
      } => r.name
    }

  /** A calibration checkpoint at or above this multiple of the run's
    * MEDIAN checkpoint marks the WHOLE artifact steal-polluted (r12
    * verdict item 8): the headline then carries `"steal_polluted":true`
    * and downstream tools (tools/scale_slopes.py) refuse to treat the
    * run as clean without the stamp — validity is machine-carried, not
    * prose provenance. Median-anchored like [[calibSuspectQueries]]
    * (worst-of-N-threads sampling reads max/min ≈ 1.6 on a CLEAN host,
    * so the historical max/min ratio cannot be the stamp); 2.0x is
    * comfortably above the measured clean spread (max/median ≈ 1.4)
    * and below the r9 burst (2.79). */
  private[graft] val StealPollutedRatio = 2.0

  private[graft] def stealPolluted(calibs: IndexedSeq[Double]): Boolean = {
    if (calibs.isEmpty || calibs.min <= 0) return false
    val median = calibs.sorted.apply(calibs.length / 2)
    calibs.exists(_ >= StealPollutedRatio * median)
  }

  /** Queries bracketed by a polluted calibration window: query index qi
    * runs between checkpoint qi/calibEvery and the next one (checkpoint 0
    * precedes the first query; one is emitted after every `calibEvery`
    * queries and after the last). If EITHER bracketing checkpoint read
    * >= 1.5x the run's MEDIAN checkpoint, every timing in that window is
    * untrustworthy — including the case the rep-spread detector cannot
    * see, a burst long enough to inflate ALL reps of a query equally.
    * The baseline is the median, not the min: worst-of-N-threads sampling
    * has a long scheduling tail even on an idle host (a measured clean
    * run spanned 0.30-0.49 s across 12 checkpoints), so min-anchoring
    * flagged half of a clean run; a genuine steal burst still reads
    * multiples of the median. */
  private[graft] def calibSuspectQueries(
      names: Seq[String], calibEvery: Int, calibs: IndexedSeq[Double]): Seq[String] = {
    if (calibs.isEmpty || calibs.min <= 0) return Seq.empty
    val sorted = calibs.sorted
    val floor = sorted(sorted.length / 2)
    def polluted(ci: Int): Boolean =
      calibs(math.min(ci, calibs.length - 1)) >= 1.5 * floor
    names.zipWithIndex.collect {
      case (n, qi) if polluted(qi / calibEvery) || polluted(qi / calibEvery + 1) => n
    }
  }

  /** Cross-round anomaly gate (r14 verdict item 2). Every existing stamp
    * is WITHIN-run: steal calibration brackets the window, rep-spread
    * compares a query's own reps — so a query that is *uniformly* slow
    * across all its reps (state accumulated earlier in the suite
    * ordering, an allocation hiccup spanning the whole window) sails
    * through every stamp, which is exactly how r14's official headline
    * carried agg_spearman at 22.5 s (9× its r13 converged; an isolated
    * rerun read 3.16 s). The missing signal is LONGITUDINAL: this
    * round's converged vs last round's converged for the same query at
    * the same sf. A query whose converged is ≥ [[CrossRoundFactor]]× the
    * prior round's AND ≥ [[CrossRoundFloorSec]] (sub-2s jitter never
    * flags) is an anomaly: the bench then re-runs it in fresh min-of-3
    * at the END of the suite — the adjudication reps JOIN the query's
    * rep vector (converged = min over post-warmup reps, so a run
    * artifact self-heals while a genuine regression stays slow) — and
    * the headline records {prior, suite reps, adjudication reps} under
    * `cross_round_anomalies` the way SCALE.md records slope
    * adjudications. */
  private[graft] val CrossRoundFactor = 3.0
  private[graft] val CrossRoundFloorSec = 2.0

  private[graft] def crossRoundAnomalies(
      rs: Seq[QRes], prior: Map[String, Double]): Seq[String] =
    rs.collect {
      case r if r.ok && prior.get(r.name).exists(p =>
        p > 0 && r.converged >= CrossRoundFloorSec &&
          r.converged >= CrossRoundFactor * p) => r.name
    }

  /** Prior-round per-query converged map: BENCH_DETAIL.json (the
    * builder's round-stamped full-map artifact) or whatever
    * SPARK_GRAFT_BENCH_PRIOR points at (`none` disables). The prior is
    * used ONLY when its headline sf matches this run's — a scale-probe
    * run at sf1 must not adjudicate itself against sf0.1 numbers. A
    * missing/garbled file disables the gate (empty map) rather than
    * failing the bench. */
  private[graft] def priorConverged(path: String, sfDir: String): Map[String, Double] = {
    import org.json4s._
    try {
      val f = new java.io.File(path)
      if (!f.isFile) return Map.empty
      val j = org.json4s.jackson.JsonMethods.parse(f)
      val priorSf = j \ "headline" \ "sf" match {
        case JString(s) => s
        case _ => ""
      }
      if (priorSf != sfDir) return Map.empty
      j \ "per_query_converged" match {
        case JObject(fields) => fields.collect {
          case (k, JDouble(v)) => k -> v
          case (k, JInt(v)) => k -> v.toDouble
          case (k, JDecimal(v)) => k -> v.toDouble
        }.toMap
        case _ => Map.empty
      }
    } catch { case _: Throwable => Map.empty }
  }

  /** Render the output lines from measured results — pure, so the
    * JSON shape and both suspect detectors are spec-pinnable without a
    * bench run (BenchJsonSpec replays round 9's pollution pattern). */
  /** One adjudicated cross-round anomaly: the prior-round converged, the
    * suite-measured reps, and the fresh end-of-run min-of-3 — the record
    * a consumer needs to tell "run artifact" (adjudicated min ≈ prior)
    * from "genuine regression" (adjudicated min ≈ suite). */
  private[graft] final case class Anomaly(
      name: String, prior: Double, suiteReps: Vector[Double],
      adjudicationReps: Vector[Double])

  /** Headline bound on each variable-length name list: the full lists
    * live on the `suspects` / `cross_round_anomalies` lines; the
    * headline carries a COUNT plus this many example names. See
    * [[HeadlineMaxChars]] for why the bound is load-bearing. */
  private[graft] val HeadlineTopN = 5

  /** Hard ceiling on the headline line's length, spec-asserted against a
    * worst case (every inventory query failed + suspect in both
    * detectors + a full anomaly batch). The driver keeps only the LAST
    * ~2000 chars of bench output and parses the final line; BENCH_r15's
    * headline ballooned past that window (unbounded
    * calib_suspect_queries + inline anomaly rep vectors) and the
    * round's official total came back `parsed: null` — the third
    * recurrence of the tail-size lesson (r7 item 8, r8 item 4). Every
    * variable-length field is therefore bounded (count + top-N names;
    * full lists on their own earlier lines) and this ceiling keeps any
    * future field honest. */
  private[graft] val HeadlineMaxChars = 1800

  private[graft] def renderLines(
      rs: Seq[QRes], calibs: IndexedSeq[Double], calibEvery: Int,
      sfDir: String, builds: Map[String, Double] = Map.empty,
      anomalies: Seq[Anomaly] = Nil): Seq[String] = {
    val qs = rs.map { r => "\"" + r.name + f"""\":${r.converged}%.3f""" }
      .mkString("{", ",", "}")
    val qsFirst = rs.map { r => "\"" + r.name + f"""\":${r.first}%.3f""" }
      .mkString("{", ",", "}")
    val qsReps = rs.map { r =>
      "\"" + r.name + "\":" + r.reps.map(t => f"$t%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // A failing query's near-zero "timing" must not masquerade as a healthy
    // fast run: list failures explicitly so the JSON is self-reporting.
    val failedNames = rs.collect { case r if !r.ok => r.name }
    val total = rs.map(_.converged).sum
    val totalFirst = rs.map(_.first).sum
    // The complete per-query converged timings print FIRST on their own
    // line: a consumer that truncates or tails the output still gets every
    // query's number from one parseable line (the round-6 bench artifact
    // lost ~2/3 of per-query timings to tail truncation of the single
    // giant headline line). Rep arrays and first-run timings follow on
    // their own lines. The HEADLINE (final line, what a 2000-char tail
    // keeps) stays small by embedding only the top-20 slowest converged
    // queries — under the key "top20_queries", NOT "queries", so a stale
    // full-map parser can never silently read 20 entries as the set.
    val top20 = rs.sortBy(-_.converged).take(20)
      .map { r => "\"" + r.name + f"""\":${r.converged}%.3f""" }
      .mkString("{", ",", "}")
    val calibJson = calibs.map(c => f"$c%.3f").mkString("[", ",", "]")
    // calib_max_over_min predates the multi-thread spin; worst-of-N
    // sampling has a scheduling tail that reads ~1.6 on a clean host, so
    // the historical ">1.3 = polluted" rule no longer applies to it. The
    // median rides along as the stable baseline, and the machine-read
    // signal is the suspect lists, not the ratio.
    val calibRatio =
      if (calibs.nonEmpty && calibs.min > 0) calibs.max / calibs.min else 1.0
    val calibMedian =
      if (calibs.nonEmpty) calibs.sorted.apply(calibs.length / 2) else 0.0
    // Rep-spread runs over the PRE-MERGE suite reps: merging an
    // adjudication's fresh fast reps next to the slow suite reps creates
    // a >= 3x spread BY CONSTRUCTION, so every self-healed anomaly would
    // also land in rep_spread_suspects and dilute that list's meaning
    // (r15 advice). For adjudicated queries the spread basis is their
    // suite reps alone; the anomaly record already carries both vectors.
    val suiteRepsOf = anomalies.filter(_.adjudicationReps.nonEmpty)
      .map(a => a.name -> a.suiteReps).toMap
    val spreadBasis = rs.map(r => suiteRepsOf.get(r.name)
      .filter(_.nonEmpty).map(sr => r.copy(reps = sr)).getOrElse(r))
    val spreadNames = repSpreadSuspects(spreadBasis)
    val calibSuspNames = calibSuspectQueries(rs.map(_.name), calibEvery, calibs)
    def jsonArr(names: Seq[String]): String =
      names.map("\"" + _ + "\"").mkString("[", ",", "]")
    // One-time cache builds (bucketed tables, trained models, WARC packs)
    // are paid in rep 1 and EXCLUDED from converged timings — this line
    // itemizes that ingest-amortized cost so converged totals are honestly
    // comparable across rounds (pre-round-10 numbers paid these per query).
    val buildsJson = builds.toSeq.sortBy(_._1)
      .map { case (n, s) => "\"" + n + f"""\":$s%.3f""" }
      .mkString("{", ",", "}")
    val buildsTotal = builds.values.sum
    // Per-query attribution of the same ledger: WHICH build ran inside
    // WHICH query's reps, so a consumer reading an inflated first-run row
    // can see the one-time ingest share without cross-referencing the
    // global cache_builds line by hand (r11 verdict item 8).
    val perQueryBuild = rs.filter(_.builds.nonEmpty).map { r =>
      val bs = r.builds.toSeq.sortBy(_._1)
        .map { case (n, s) => "\"" + n + f"""\":$s%.3f""" }
        .mkString("{", ",", "}")
      "\"" + r.name + "\":" +
        f"""{"build_s":${r.builds.values.sum}%.3f,"builds":$bs}"""
    }.mkString("{", ",", "}")
    val anomJson = anomalies.map { a =>
      "\"" + a.name + "\":" + f"""{"prior":${a.prior}%.3f,""" +
        "\"suite_reps\":" + a.suiteReps.map(t => f"$t%.3f")
          .mkString("[", ",", "]") +
        ",\"adjudication_reps\":" + a.adjudicationReps.map(t => f"$t%.3f")
          .mkString("[", ",", "]") + "}"
    }.mkString("{", ",", "}")
    // Bounded headline views of every variable-length list (count +
    // first-HeadlineTopN names); the FULL lists print on the two lines
    // just above, which bench_detail.py folds into BENCH_DETAIL.json.
    def topN(names: Seq[String]): String = jsonArr(names.take(HeadlineTopN))
    val anomalyNames = anomalies.map(_.name)
    Seq(
      s"""{"metric":"per_query_converged","queries":$qs}""",
      s"""{"metric":"per_query_reps","reps":$qsReps}""",
      s"""{"metric":"per_query_first","queries":$qsFirst}""",
      s"""{"metric":"per_query_build","queries":$perQueryBuild}""",
      f"""{"metric":"cache_builds","total_build_s":$buildsTotal%.3f,"builds":$buildsJson}""",
      s"""{"metric":"suspects","failed":${jsonArr(failedNames)},"rep_spread_suspects":${jsonArr(spreadNames)},"calib_suspect_queries":${jsonArr(calibSuspNames)},"calib_s":$calibJson}""",
      s"""{"metric":"cross_round_anomalies","anomalies":$anomJson}""",
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","first_run_total":$totalFirst%.3f,"n_queries":${rs.length},"ingest_build_s":$buildsTotal%.3f,"top20_queries":$top20,"n_failed":${failedNames.length},"failed_top":${topN(failedNames)},"n_calibs":${calibs.length},"calib_max_over_min":$calibRatio%.2f,"calib_median_s":$calibMedian%.3f,"steal_polluted":${stealPolluted(calibs)},"n_rep_spread_suspects":${spreadNames.length},"rep_spread_top":${topN(spreadNames)},"n_calib_suspects":${calibSuspNames.length},"calib_suspects_top":${topN(calibSuspNames)},"n_anomalies":${anomalyNames.length},"anomalies_top":${topN(anomalyNames)},"sf":"$sfDir"}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.core.Session.cpus
    val spark = graft.core.Session.local(cpus)
    warmIcu(spark)
    // Per-query CONVERGED time = min over the reps AFTER the first: rep 1
    // pays per-query JIT compilation and is also exposed to the host's
    // episodic CPU-steal bursts (observed 3-10x swings on identical code
    // between consecutive runs; round 5's three "regressions" were all
    // first-rep artifacts that converged re-runs dismissed). The first-run
    // time is still reported alongside ("per_query_first") so cold-path
    // cost stays visible; the headline total is quoted on converged reps.
    // Default 3 reps (1 warmup + min-of-2); override via SPARK_GRAFT_BENCH_REPS.
    val reps = math.max(sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt, 1)
    val nCalibThreads = cpus
    // Optional name filter (comma-separated) — lets a driver shard the
    // suite across processes; per-query semantics (reps, caches built in
    // rep 1) are identical to an unsharded run.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val qseq = {
      val all = SparkEntry.queries.toSeq.sortBy(_._1)
      only match {
        case Some(o) =>
          // Fail fast on names that match nothing: a typo in a shard list
          // must abort the run, not silently shrink the shard (the gap
          // would only surface later as an InventorySyncSpec failure).
          val unknown = o -- all.iterator.map(_._1).toSet
          require(unknown.isEmpty, "SPARK_GRAFT_BENCH_ONLY names unknown " +
            s"queries: ${unknown.toSeq.sorted.mkString(", ")}")
          all.filter(kv => o(kv._1))
        case None => all
      }
    }
    // Steal-calibration checkpoints: one spin before the first query, one
    // after every ~10% of the list, one after the last — an 11-point
    // time-series over the whole run (~5 s total overhead).
    val calibEvery = math.max(1, qseq.length / 10)
    val calibs =
      scala.collection.mutable.ArrayBuffer[Double](calibSpin(nCalibThreads))
    val results = qseq.zipWithIndex.map { case ((name, fn), qi) =>
      val buildsBefore = graft.core.BuildLog.snapshot()
      val times = (1 to reps).toVector.map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // Sweep checkpoint/persist blocks OUTSIDE the timed window so the
        // next rep starts with an empty block manager — without this, rep
        // N of a checkpoint-heavy query runs under rep 1..N-1's blocks
        // and the suite's late queries under the whole run's (r13:
        // louvain reps anti-converged 2.8→6.6 s and the TPC-H family
        // drifted a uniform ~1.5× from exactly this accumulation).
        graft.core.BlockHygiene.free(spark, blocking = true)
        (dt, ok)
      }
      if ((qi + 1) % calibEvery == 0 || qi == qseq.length - 1)
        calibs += calibSpin(nCalibThreads)
      // builds this query triggered = ledger delta across its reps
      val buildsDelta = graft.core.BuildLog.snapshot().flatMap { case (k, v) =>
        val d = v - buildsBefore.getOrElse(k, 0.0)
        if (d > 1e-9 || (d >= 0.0 && !buildsBefore.contains(k)))
          Some(k -> d) else None
      }
      QRes(name, times.map(_._1), times.forall(_._2), buildsDelta)
    }
    // Cross-round anomaly gate (r14 verdict item 2): a uniformly-slow
    // query (ALL reps inflated by the same suite-ordering/allocation
    // artifact) passes every within-run stamp — compare converged against
    // the prior round's map and adjudicate each flag with a fresh
    // end-of-run min-of-3. The adjudication reps JOIN the rep vector, so
    // a run artifact self-heals in the headline while a genuine
    // regression keeps its slow number; both readings stay auditable
    // under `cross_round_anomalies`.
    val priorPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PRIOR", "BENCH_DETAIL.json")
    val prior =
      if (priorPath == "none") Map.empty[String, Double]
      else priorConverged(priorPath, sfDir)
    val flagged = crossRoundAnomalies(results, prior)
    // Bound the adjudication pass: a flood of flags is a whole-suite
    // shift (testdata regen, config change), not per-query artifacts —
    // rerunning every query would double the bench for no signal. The
    // overflow is still RECORDED (empty adjudication reps).
    val (toAdjudicate, overflow) = flagged.splitAt(12)
    val byName = qseq.toMap
    val anomalies = toAdjudicate.map { name =>
      graft.core.BlockHygiene.free(spark, blocking = true)
      // Only SUCCESSFUL reps may join the rep vector: a rep that throws
      // records near-zero wall time, and merging it would falsely "heal"
      // the headline via converged=min — the exact masquerade the suite
      // loop's failed-list guard exists to prevent (r15 advice). A rerun
      // where every rep errors leaves adjudication_reps empty, so the
      // suite reps stand and the anomaly record shows the failed rerun.
      val adjReps = (1 to 3).toVector.flatMap { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fnRun(byName(name), spark, sfDir); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] adjudication rep of $name failed: " +
              e.getMessage)
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        graft.core.BlockHygiene.free(spark, blocking = true)
        if (ok) Some(dt) else None
      }
      val suiteReps = results.find(_.name == name).map(_.reps)
        .getOrElse(Vector.empty)
      Anomaly(name, prior(name), suiteReps, adjReps)
    } ++ overflow.map { name =>
      Anomaly(name, prior(name),
        results.find(_.name == name).map(_.reps).getOrElse(Vector.empty),
        Vector.empty)
    }
    val healed = mergeAdjudications(results, anomalies)
    renderLines(healed, calibs.toIndexedSeq, calibEvery, sfDir,
        graft.core.BuildLog.snapshot(), anomalies)
      .foreach(println)
    spark.stop()
  }

  /** Untimed warm-up of one-time JVM statics. The first executed upper()/
    * lower() triggers CollationAwareUTF8String.<clinit> — Spark 4's ICU
    * collation-table load — which costs 5-15 s once per JVM (per executor
    * on a real cluster, amortized over the job). Paying it inside whichever
    * query happens to run first skewed that query's number by >10x
    * (observed via jstack: ICU UCharacter.toTitleCase under
    * CollationSupport.Upper.execBinaryICU on the first fn_string task).
    * Timing mains call it; a session that never runs upper/lower should
    * not pay for it, so `Session` leaves it out. */
  def warmIcu(spark: SparkSession): Unit =
    spark.range(1)
      .selectExpr("upper('a') u", "lower('A') l", "initcap('a b') i",
        "regexp_replace('a','a','b') r", "split('a,b', ',') s")
      .write.format("noop").mode("overwrite").save()

  private def fnRun(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      spark: SparkSession, sfDir: String): Unit =
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()

  /** Adjudication reps join the query's rep vector (pure — spec replays
    * the r14 agg_spearman shape through it): converged = min over
    * post-warmup reps, so the headline heals iff the fresh isolated reps
    * are actually faster. Queries with no (or empty) adjudication keep
    * their suite reps untouched. */
  private[graft] def mergeAdjudications(
      rs: Seq[QRes], anomalies: Seq[Anomaly]): Seq[QRes] = {
    val byName = anomalies.filter(_.adjudicationReps.nonEmpty)
      .map(a => a.name -> a).toMap
    rs.map(r => byName.get(r.name) match {
      case Some(a) => r.copy(reps = r.reps ++ a.adjudicationReps)
      case None => r
    })
  }
}
