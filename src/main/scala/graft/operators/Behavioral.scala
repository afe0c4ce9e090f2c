package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Behavioral / product-analytics operators over the `events` stream:
  * funnel conversion and weekly cohort retention — the two queries every
  * event-analytics engine is asked for first.
  *
  * Determinism: all stage membership is defined by MIN(timestamp)
  * comparisons (exact), counts are exact integers, and week arithmetic is
  * integer epoch division on UTC-truncated weeks — no floating point
  * anywhere until final ratios (none here).
  *
  * Scale notes: every aggregation and join keys on `user_id`, so the plan
  * is a chain of co-partitioned shuffles (Spark reuses the exchange across
  * the funnel stages); nothing materializes per-user event lists, and the
  * stage outputs shrink monotonically (signup ⊇ signup→click ⊇ full
  * funnel), so later joins are cheaper, not costlier.
  */
object Behavioral {

  /** Ordered funnel signup → click → purchase: a user advances a stage
    * only with an event at-or-after their entry into the previous stage
    * (min-timestamp semantics). One row: distinct users, then the three
    * shrinking stage counts. */
  def funnelConversion(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("user_id", "event_type", "ts")
    val s = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("s_ts"))
    val c = ev.filter(col("event_type") === "click")
      .join(s, "user_id").filter(col("ts") >= col("s_ts"))
      .groupBy("user_id").agg(min(col("ts")).as("c_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") >= col("c_ts"))
      .groupBy("user_id").agg(min(col("ts")).as("p_ts"))
    ev.agg(countDistinct(col("user_id")).as("n_users"))
      .crossJoin(broadcast(s.agg(count(lit(1)).as("n_signup"))))
      .crossJoin(broadcast(c.agg(count(lit(1)).as("n_signup_click"))))
      .crossJoin(broadcast(p.agg(count(lit(1)).as("n_full_funnel"))))
  }

  /** Weekly cohort retention: users grouped by the UTC week of their first
    * event; n_active = distinct users of that cohort seen in week
    * cohort+offset. Offsets are exact integer divisions of epoch-second
    * differences between Monday-truncated weeks. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("user_id", "ts")
    val first = ev.groupBy("user_id").agg(min(col("ts")).as("first_ts"))
    ev.join(first, "user_id")
      .select(
        col("user_id"),
        date_trunc("week", col("first_ts")).as("cohort_week"),
        date_trunc("week", col("ts")).cast("long").as("wk"),
        date_trunc("week", col("first_ts")).cast("long").as("wk0"))
      // `div`, not `/`: Spark's / on longs is fractional (double)
      .select(col("user_id"), col("cohort_week"),
        expr("(wk - wk0) div 604800").as("week_offset"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy("cohort_week", "week_offset")
  }

  /** DAU / WAU / stickiness per day — the rolling-distinct-user metric,
    * expressed scale-safely: the event stream first collapses to DISTINCT
    * (day, user) pairs (the only pass over raw events), and the trailing
    * 7-day WAU membership comes from expanding each compact pair to the
    * ≤7 target days it can serve — a 7× blowup of the DEDUPED pairs, not
    * of the raw stream — followed by a second distinct + count. No
    * per-day window over raw events, no COUNT(DISTINCT … RANGE) state.
    * Stickiness is one final double division of exact counts; day ships
    * as an ISO string (DATE columns compare shakily through
    * parquet/pandas). */
  def dauWau(spark: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val dau = du.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = du
      .select(explode(expr("sequence(day, date_add(day, 6))")).as("day"),
        col("user_id"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .select(
        date_format(col("day"), "yyyy-MM-dd").as("day_s"),
        col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau")).as("stickiness"))
      .orderBy("day_s")
  }

  /** First-order Markov transition matrix over each user's event stream:
    * for every (from_type, to_type) adjacent pair under the total order
    * (ts, event_id), the transition count and conditional probability
    * P(to | from). The probability is ONE final double division of two
    * exactly-counted longs.
    *
    * Scale shape: a per-user sequence window (shuffle keyed on user_id —
    * state per task is one row of lookback, not the user's history),
    * then a hash aggregation on the tiny (from, to) key space; the
    * per-from denominator is a window over the aggregated matrix
    * (|types|² rows), never over raw events. */
  def markovTransitions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seqW = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val counts = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(seqW))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_trans"))
    counts
      .withColumn("from_total",
        sum(col("n_trans")).over(Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"), col("n_trans"),
        col("from_total"),
        (col("n_trans").cast("double") / col("from_total")).as("p_trans"))
      .orderBy("from_type", "to_type")
  }

  /** RFM (recency / frequency / monetary) customer segmentation with FIXED
    * business thresholds — deliberately not quantile-based: quantile RFM
    * needs three global sorts (see [[Windows.ntileCustomers]] for that
    * machinery), while threshold RFM is one user_id aggregation plus a
    * broadcast of the corpus max timestamp, with every score decided on
    * exact integers/decimals — the shape that survives a billion users.
    * Recency is integer days behind the newest event corpus-wide;
    * monetary sums purchase values as DECIMAL (exact) and becomes double
    * only at the comparison boundary. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val ev = Tables.events(spark, dir)
    val ref = ev.agg(max(col("ts")).as("max_ts"))
    val perUser = ev.groupBy("user_id")
      .agg(
        max(col("ts")).as("last_ts"),
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"),
        coalesce(
          sum(when(col("event_type") === "purchase",
            col("value").cast(DecimalType(15, 2)))).cast("double"),
          lit(0.0)).as("monetary"))
    perUser.crossJoin(broadcast(ref))
      .withColumn("recency_d",
        expr("(cast(max_ts as bigint) - cast(last_ts as bigint)) div 86400"))
      .withColumn("r_score",
        when(col("recency_d") <= 2, 4).when(col("recency_d") <= 7, 3)
          .when(col("recency_d") <= 14, 2).otherwise(1))
      .withColumn("f_score",
        when(col("n_events") >= 50, 4).when(col("n_events") >= 20, 3)
          .when(col("n_events") >= 10, 2).otherwise(1))
      .withColumn("m_score",
        when(col("monetary") >= 500.0, 4).when(col("monetary") >= 100.0, 3)
          .when(col("monetary") > 0.0, 2).otherwise(1))
      .withColumn("segment",
        when(col("r_score") >= 3 && col("f_score") >= 3 && col("m_score") >= 3,
          "champion")
          .when(col("r_score") >= 3 && col("f_score") <= 2, "new")
          .when(col("r_score") <= 2 && col("f_score") >= 3, "at_risk")
          .otherwise("hibernating"))
      .select(col("user_id"), col("recency_d"), col("n_events"),
        col("n_purchases"), col("monetary"),
        col("r_score"), col("f_score"), col("m_score"), col("segment"))
      .orderBy("user_id")
  }

  /** Per-user 3σ outlier flagging with the comparison done ENTIRELY in
    * exact integer arithmetic: |x-μ| > 3σ cross-multiplies to
    * (n·x - Σx)² > 9·(n·Σx² - (Σx)²), every term an exact DECIMAL(38,0)
    * of integer cents — so outlier membership is decided with zero
    * floating point and hash-matches any engine (a float z-score would
    * flip membership on boundary events). σ itself ships as one final
    * sqrt/division for reporting. One user_id window + one rollup; no
    * second scan, no join. */
  def outliers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    val w = Window.partitionBy(col("user_id"))
    Tables.events(spark, dir)
      .select(col("user_id"),
        (col("value").cast(DecimalType(15, 2)) * 100).cast("long").as("cents"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("cents").cast(d38)).over(w))
      .withColumn("sxx", sum((col("cents") * col("cents")).cast(d38)).over(w))
      .withColumn("dev", col("n").cast(d38) * col("cents").cast(d38) - col("sx"))
      .withColumn("varn2", col("n").cast(d38) * col("sxx") - col("sx") * col("sx"))
      .withColumn("is_out",
        (col("dev") * col("dev") > lit(9).cast(d38) * col("varn2")).cast("long"))
      .groupBy(col("user_id"), col("n"), col("varn2"))
      .agg(sum(col("is_out")).as("n_outliers"))
      .select(col("user_id"), col("n"), col("n_outliers"),
        (sqrt(col("varn2").cast("double")) / col("n")).as("sigma_cents"))
      .orderBy("user_id")
  }

  /** Gaps-and-islands: longest streak of CONSECUTIVE active days per user.
    * The classic trick — day minus row_number is constant exactly within a
    * consecutive run — needs one per-user window over the DEDUPED
    * (user, day) pairs (the only pass over raw events is the distinct),
    * then two tiny aggregations. All arithmetic is integer date math;
    * the longest streak's start date breaks ties toward the earliest run
    * and ships as an ISO string. */
  def streaks(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val du = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val runs = du
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("day"))))
      .withColumn("island", expr("date_sub(day, rn)"))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"), min(col("day")).as("run_start"))
    runs
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("len").desc, col("run_start"))))
      .groupBy(col("user_id"))
      .agg(
        sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"),
        // min over the DATE (a mutable int buffer), formatted AFTER the
        // aggregate: min over the formatted STRING gave the same value
        // (rk = 1 selects exactly one row per user) but its immutable
        // buffer forced this whole aggregation onto interpreted
        // SortAggregate — 8.2x on the 10x probe (r15 verdict item 2)
        min(when(col("rk") === 1, col("run_start"))).as("ls_date"))
      .select(col("user_id"), col("n_active_days"), col("n_streaks"),
        col("longest_streak"),
        date_format(col("ls_date"), "yyyy-MM-dd").as("longest_start"))
      .orderBy("user_id")
  }

  /** Entity-correlated sampling: keep the ~10% of USERS whose salted
    * portable hash lands in residue 0, and with them ALL of their events —
    * the sampling unit is the user, not the row. Row-level sampling of an
    * event stream destroys every within-user structure (sessions, funnels,
    * retention curves); entity-level sampling preserves them exactly on
    * the kept users, which is why it is the standard downsampling mode for
    * behavioral data. Membership is a pure hash of user_id: reproducible
    * across engines and stable as history grows (a kept user stays kept).
    *
    * Scale shape: the hash predicate is a scan-level filter (no shuffle,
    * no membership table, no join against a user list), then one
    * low-cardinality hash aggregation over the surviving ~10%. */
  def sampleUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(expr("portable_hash60(concat('usamp:', cast(user_id as string))) % 10 = 0"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(15,2)")).cast("double").as("sum_value"),
        min(col("event_id")).as("first_event"))
      .orderBy("event_type")

  /** Seasonal (hour-of-day) anomaly detection over the error stream: a
    * (day, hour) cell is anomalous when its error count exceeds that
    * hour-of-day's cross-day baseline by 3σ. The σ test is spelled with
    * EXACT integers only — dev = c·n − Σc > 0 AND dev² > 9·(n·Σc² − (Σc)²)
    * is literally c > mean + 3σ with both sides cross-multiplied by n² —
    * so the flag decision never touches a float (the reported
    * baseline_mean is one final display-only division). Baselines are per
    * OBSERVED cell (hours with zero errors contribute no cell).
    *
    * Scale: events collapse to day×hour cells in one partial-aggregated
    * pass; the baseline is a ≤24-row broadcast. */
  def seasonalAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .filter(col("event_type") === "error")
      .groupBy(to_date(col("ts")).as("day"), hour(col("ts")).as("hod"))
      .agg(count(lit(1)).as("c"))
    val base = cells.groupBy(col("hod"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
        sum(col("c") * col("c")).as("s2"))
    cells.join(broadcast(base), Seq("hod"))
      .withColumn("dev", col("c") * col("n") - col("s1"))
      .filter(col("dev") > 0 &&
        col("dev") * col("dev") > lit(9L) * (col("n") * col("s2") - col("s1") * col("s1")))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("hod").as("hour_of_day"), col("c").as("n_errors"),
        col("n").as("n_days"),
        (col("s1").cast("double") / col("n").cast("double")).as("baseline_mean"))
      .orderBy("day", "hour_of_day")
  }

  /** Value-concentration (Pareto / Lorenz) report: per event type, users
    * are ranked by exact value mass and cut into rank deciles; each decile
    * row carries its user count, value mass, and the cumulative share —
    * "the top 10% of users carry X% of value". Money is integer cents end
    * to end; the share is one final division. Every window partitions by
    * event_type (rank, count, running sum — never a global window), and
    * the windows run over the per-user AGGREGATE, not raw events. */
  def paretoValue(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val users = Tables.events(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum((col("value").cast(DecimalType(15, 2)) * 100).cast("long"))
        .as("cents"))
    val rnW = Window.partitionBy(col("event_type"))
      .orderBy(col("cents").desc, col("user_id"))
    val nW = Window.partitionBy(col("event_type"))
    val cumW = Window.partitionBy(col("event_type")).orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    users
      .withColumn("rn", row_number().over(rnW).cast("long"))
      .withColumn("nu", count(lit(1)).over(nW))
      .withColumn("decile", expr("((rn - 1) * 10) div nu"))
      .groupBy(col("event_type"), col("decile"))
      .agg(count(lit(1)).as("n_users"), sum(col("cents")).as("bin_cents"))
      .withColumn("cum_cents", sum(col("bin_cents")).over(cumW))
      .withColumn("cum_share", col("cum_cents").cast("double")
        / sum(col("bin_cents")).over(nW).cast("double"))
      .select(col("event_type"), col("decile"), col("n_users"),
        col("bin_cents"), col("cum_cents"), col("cum_share"))
      .orderBy("event_type", "decile")
  }

  /** Bot/abuse screening per user: the burst metric is the max event count
    * in any trailing 60 s window — a RANGE frame over epoch seconds (ties
    * share a frame, so no tiebreak column is needed there) — plus the
    * minimum inter-event gap from one lag pass; `is_bot` flags ≥5 events
    * in some minute. All integers; windows partition by user_id and feed
    * a per-user hash agg on the same key, so the whole operator is one
    * shuffle of the stream. */
  def botDetection(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val es = col("ts").cast("long")
    val burstW = Window.partitionBy(col("user_id")).orderBy(es)
      .rangeBetween(-59, Window.currentRow)
    val lagW = Window.partitionBy(col("user_id")).orderBy(es, col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("burst", count(lit(1)).over(burstW))
      .withColumn("gap", es - lag(es, 1).over(lagW))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(col("burst")).as("max_burst_60s"),
        min(col("gap")).as("min_gap_s"))
      .withColumn("is_bot", col("max_burst_60s") >= 5)
      .orderBy("user_id")
  }

  /** Gini coefficient of per-user value mass per event type — the
    * inequality summary behind the [[paretoValue]] curve, from the
    * closed form G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) over ascending-sorted
    * exact cents (deterministic user_id tiebreak). Numerator and
    * denominator are exact BIGINTs; ONE division per event type. The
    * rank window runs over the per-user aggregate, partitioned by type. */
  def giniValue(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val users = Tables.events(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum((col("value").cast(DecimalType(15, 2)) * 100).cast("long"))
        .as("cents"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("cents"), col("user_id"))
    users
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"), sum(col("cents")).as("total_cents"),
        sum(col("i") * col("cents")).as("six"))
      .select(col("event_type"), col("n_users"), col("total_cents"),
        ((lit(2L) * col("six") - (col("n_users") + 1) * col("total_cents"))
          .cast("double")
          / (col("n_users") * col("total_cents")).cast("double")).as("gini"))
      .orderBy("event_type")
  }

  /** Weekly activity heatmap: ISO day-of-week × hour-of-day event counts,
    * distinct users, and cell share of total — the seasonality matrix
    * behind the [[seasonalAnomaly]] baseline. Spark's `dayofweek` is
    * Sunday=1, so ISO Monday=1 is `((dow+5) % 7) + 1` (DuckDB has native
    * `isodow`). One partial-aggregated scan into ≤168 cells; total joins
    * back as a broadcast. */
  def activityHeatmap(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .groupBy(((dayofweek(col("ts")) + 5) % 7 + 1).as("iso_dow"),
        hour(col("ts")).as("hod"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
    cells.crossJoin(broadcast(cells.agg(sum(col("n_events")).as("total"))))
      .select(col("iso_dow"), col("hod"), col("n_events"), col("n_users"),
        (col("n_events").cast("double") / col("total").cast("double"))
          .as("share"))
      .orderBy("iso_dow", "hod")
  }

  /** Weekly growth accounting — the new / retained / resurrected /
    * churned user decomposition every growth dashboard leads with.
    * Source of truth is the DISTINCT (user, week) activity grid (one pass
    * over raw events); per-user lag classifies each active week (first
    * ever = new, previous week = retained, gap = resurrected) and lead
    * marks where activity stops (churned into the FOLLOWING week). All
    * windows partition by user_id; the weekly rollup is a hash agg on the
    * week key and churn joins back on the same key. Identity (spec'd):
    * n_active = n_new + n_retained + n_resurrected, and
    * n_churned(w) = n_active(w−7d) − n_retained(w). Weeks ship as ISO
    * dates. */
  def growthAccounting(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val uw = Tables.events(spark, dir)
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast("long").as("wk")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("wk"))
    val marked = uw
      .withColumn("prev_wk", lag(col("wk"), 1).over(w))
      .withColumn("next_wk", lead(col("wk"), 1).over(w))
    val weekly = marked.groupBy(col("wk"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("prev_wk").isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("wk") - col("prev_wk") === 604800L, 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("prev_wk").isNotNull &&
          col("wk") - col("prev_wk") > 604800L, 1L).otherwise(0L))
          .as("n_resurrected"))
    val churn = marked
      .filter(col("next_wk").isNull || col("next_wk") - col("wk") > 604800L)
      .select((col("wk") + 604800L).as("wk"))
      .groupBy(col("wk")).agg(count(lit(1)).as("n_churned"))
    weekly.join(churn, Seq("wk"), "left")
      .select(
        date_format(col("wk").cast("timestamp"), "yyyy-MM-dd").as("week"),
        col("n_active"), col("n_new"), col("n_retained"),
        col("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy("week")
  }

  /** Kaplan-Meier survival curve for signup → first purchase, by signup
    * cohort week over day offsets 0..13 — actual survival analysis with
    * right-censoring at the observation horizon (the stream's max event
    * time), not a naive conversion rate. n_risk and n_conv are exact
    * integers from a 14× expansion of the per-user summary (days are
    * bounded; the expansion never touches raw events); the survival
    * product Π(1 − dᵢ/nᵢ) is an IN-ORDER fold over the day-sorted array,
    * mirrored term-for-term by the oracle's list_reduce, so the doubles
    * hash-match bit-for-bit (the EWMA/k-means fold discipline). */
  def survivalCurve(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts").cast("long")).as("s_es"))
    val fp = ev.filter(col("event_type") === "purchase")
      .join(su, "user_id").filter(col("ts").cast("long") >= col("s_es"))
      .groupBy(col("user_id")).agg(min(col("ts").cast("long")).as("p_es"))
    val tmax = ev.agg(max(col("ts").cast("long")).as("t_max"))
    val users = su.join(fp, Seq("user_id"), "left")
      .crossJoin(broadcast(tmax))
      .select(
        date_format(date_trunc("week", col("s_es").cast("timestamp")),
          "yyyy-MM-dd").as("cohort_week"),
        expr("(p_es - s_es) div 86400").as("d_u"),
        expr("(t_max - s_es) div 86400").as("c_u"))
    val stats = users
      .select(col("cohort_week"), col("d_u"), col("c_u"),
        explode(expr("sequence(0, 13)")).as("j"))
      .groupBy(col("cohort_week"), col("j"))
      .agg(
        sum(when(col("c_u") >= col("j") &&
          (col("d_u").isNull || col("d_u") >= col("j")), 1L).otherwise(0L))
          .as("n_risk"),
        sum(when(col("d_u") === col("j"), 1L).otherwise(0L)).as("n_conv"))
    stats.groupBy(col("cohort_week"))
      .agg(sort_array(collect_list(struct(col("j"), col("n_risk"),
        col("n_conv")))).as("arr"))
      .select(col("cohort_week"), explode(expr(
        """transform(arr, a -> named_struct(
          |  'j', a.j, 'n_risk', a.n_risk, 'n_conv', a.n_conv,
          |  'survival', aggregate(slice(arr, 1, a.j + 1), 1.0d,
          |    (acc, x) -> acc * (case when x.n_risk > 0
          |      then 1.0d - cast(x.n_conv as double) / cast(x.n_risk as double)
          |      else 1.0d end))))""".stripMargin)).as("s"))
      .select(col("cohort_week"), col("s.j").as("day"), col("s.n_risk"),
        col("s.n_conv"), col("s.survival"))
      .orderBy("cohort_week", "day")
  }

  /** Robust (median/MAD) anomaly flags over per-type daily event counts —
    * the resistant alternative to [[seasonalAnomaly]]'s mean/σ rule: a day
    * is anomalous when |c − median| > 3·MAD. Both medians are EXACT in
    * doubled/quadrupled integer units (med2 = the two middle values
    * summed, mad4 likewise over |2c − med2|), so the flag rule
    * `2·dev2 > 3·mad4` is pure integer arithmetic — no float ever. The
    * day series per type is time-bounded, so the per-type sorted arrays
    * are small aggregation state (the rolling-median discipline), and
    * both median passes group by event_type. */
  def madAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    def med2Of(df: DataFrame, valueCol: String, out: String): DataFrame =
      df.groupBy(col("event_type"))
        .agg(sort_array(collect_list(col(valueCol))).as("arr"))
        .select(col("event_type"),
          expr(s"""arr[(size(arr) + 1) div 2 - 1] + arr[size(arr) div 2]""")
            .as(out))
    val med = med2Of(cells, "c", "med2")
    val withDev = cells.join(broadcast(med), Seq("event_type"))
      .withColumn("dev2", abs(col("c") * 2 - col("med2")))
    val mad = med2Of(withDev, "dev2", "mad4")
    withDev.join(broadcast(mad), Seq("event_type"))
      .filter(col("dev2") * 2 > col("mad4") * 3)
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("c").as("n_events"), col("med2"), col("mad4"))
      .orderBy("event_type", "day")
  }

  /** Point-in-time feature snapshot per user — the feature-store query
    * behind churn/LTV models: event counts and exact cents in trailing
    * 1 / 7 / 28-day windows measured back from the stream horizon, plus
    * recency. One conditional-sum hash aggregation per user (the windows
    * are CASE arms of the same scan, not three scans); the horizon is a
    * one-row broadcast. Everything integer until nothing — there are no
    * ratios here at all. */
  def userFeatures(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val tmax = ev.agg(max(col("ts").cast("long")).as("t_max"))
    ev.select(col("user_id"), col("ts").cast("long").as("es"),
      col("event_type"),
      (col("value").cast(org.apache.spark.sql.types.DecimalType(15, 2)) * 100)
        .cast("long").as("cents"))
      .crossJoin(broadcast(tmax))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("es") > col("t_max") - 86400L, 1L).otherwise(0L))
          .as("n_1d"),
        sum(when(col("es") > col("t_max") - 7L * 86400, 1L).otherwise(0L))
          .as("n_7d"),
        sum(when(col("es") > col("t_max") - 28L * 86400, 1L).otherwise(0L))
          .as("n_28d"),
        sum(when(col("es") > col("t_max") - 7L * 86400 &&
          col("event_type") === "purchase", col("cents")).otherwise(0L))
          .as("cents_7d"),
        max(col("t_max") - col("es")).as("oldest_s"),
        min(col("t_max") - col("es")).as("recency_s"))
      .orderBy("user_id")
  }

  /** Gini impurity 1 − Σp² of each day's event-type mix — the
    * diversity-of-activity signal, exact where entropy cannot be (no
    * logs): impurity = (n² − Σc²)/n² is one division of exact integers.
    * One (day, type) partial agg, one day rollup. */
  def giniImpurity(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n"),
        sum(col("c") * col("c")).as("ssq"))
      .select(col("day"), col("n_types"), col("n"),
        ((col("n") * col("n") - col("ssq")).cast("double")
          / (col("n") * col("n")).cast("double")).as("impurity"))
      .orderBy("day")

  /** Two-proportion A/B test with an EXACT significance decision: users
    * hash-split into arms (portable hash — the assignment is reproducible
    * across engines and runs, the property rand() splits lack), per-arm
    * conversion = "ever purchased", and the two-proportion z-test
    * z² > 3.84 (95%) is evaluated as one cross-multiplied integer
    * inequality — (c₁n₂−c₂n₁)²·N·100 > 384·n₁n₂·C·(N−C) — carried in
    * DECIMAL(38,0) so it never rounds and never overflows. The only
    * doubles are the two displayed rates. One per-user agg, one 2-group
    * rollup, one single-row report. */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    val users = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("converted"))
      .withColumn("arm",
        expr("portable_hash60(concat('ab:', cast(user_id as string))) % 2"))
    val arms = users.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("c"))
    val row = arms.select(
      sum(when(col("arm") === 0, col("n"))).as("n_a"),
      sum(when(col("arm") === 0, col("c"))).as("c_a"),
      sum(when(col("arm") === 1, col("n"))).as("n_b"),
      sum(when(col("arm") === 1, col("c"))).as("c_b"))
    def d(c: Column) = c.cast(d38)
    val diff = d(col("c_a")) * d(col("n_b")) - d(col("c_b")) * d(col("n_a"))
    val bigN = d(col("n_a")) + d(col("n_b"))
    val bigC = d(col("c_a")) + d(col("c_b"))
    row.select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
      (col("c_a").cast("double") / col("n_a").cast("double")).as("rate_a"),
      (col("c_b").cast("double") / col("n_b").cast("double")).as("rate_b"),
      (diff * diff * bigN * lit(100) >
        lit(384) * d(col("n_a")) * d(col("n_b")) * bigC * (bigN - bigC))
        .as("significant_95"))
  }

  /** Top session paths — the first three event types of every session
    * (the [[graft.operators.Events.sessionize]] gap rule), ranked by
    * frequency: the product-analytics "what do users do first" query.
    * Path assembly sorts in-plan (struct sort by (ts, event_id)); the
    * global top-20 is a TakeOrdered with a path tiebreak, never a full
    * sort. */
  def topPaths(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_break",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > 1800L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("is_break")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(array_join(expr(
        "transform(slice(sort_array(collect_list(struct(ts, event_id, event_type))), 1, 3), x -> x.event_type)"),
        ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)
  }

  /** Seasonal-naive forecast BACKTEST over the daily value series: the
    * forecast for day d is the actual of day d−7 (same weekday — the
    * strongest zero-parameter baseline for weekly-seasonal product
    * metrics), evaluated per event type with WAPE = Σ|actual−forecast| /
    * Σactual. WAPE, not MAPE, on purpose: MAPE sums per-day ratios
    * (float accumulation, undefined on zero-actual days) while WAPE is
    * ONE double division of two exactly-summed BIGINT cent totals —
    * cross-engine bit-exact, and the metric production forecast evals
    * actually use (Hyndman & Koehler, "Another look at measures of
    * forecast accuracy", IJF 2006). Only days with both an actual and a
    * d−7 actual score (an inner join on exact date arithmetic — no lag
    * over a possibly-gapped row series).
    *
    * Scale shape: the raw stream collapses to a (type, day) aggregate
    * first (sub-linear rows), then a self-join on compact keys and a
    * per-type rollup. */
  def forecastBacktest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(sum((col("value").cast(DecimalType(15, 2)) * 100).cast("long"))
        .as("cents"))
    val pred = daily.select(col("event_type"),
      date_add(col("day"), 7).as("day"), col("cents").as("pred_cents"))
    daily.join(pred, Seq("event_type", "day"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_days"),
        sum(abs(col("cents") - col("pred_cents"))).as("sum_abs_err"),
        sum(col("cents")).as("sum_actual"))
      .withColumn("wape",
        col("sum_abs_err").cast("double") / col("sum_actual"))
      .orderBy("event_type")
  }

  /** Funnel stage TIMING for full-funnel completers: how long users who
    * finish signup → click → purchase spend in each stage (the question
    * "WHERE does the funnel stall", complementing
    * [[funnelConversion]]'s "where does it leak"). Per stage: completer
    * count, exact milli-second mean, and the lo/hi median of the gap
    * seconds selected by rank-count over the aggregated gap-value
    * histogram. Cumulative counts come from a PARTITIONED window over
    * the histogram (stage partitions, the histPercentiles shape) — the
    * window input is value-domain-sized (distinct gap seconds, bounded
    * by the observation window span), NOT a fresh-alias self-join,
    * whose O(distinct²) would bite here: unlike the month/day domains
    * of theilSen/hodgesLehmann, the seconds domain can reach ~3e7. */
  def funnelTiming(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("user_id", "event_type", "ts")
    val s = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("s_ts"))
    val c = ev.filter(col("event_type") === "click")
      .join(s, "user_id").filter(col("ts") >= col("s_ts"))
      .groupBy("user_id").agg(min(col("ts")).as("c_ts"), min(col("s_ts")).as("s_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") >= col("c_ts"))
      .groupBy("user_id").agg(min(col("ts")).as("p_ts"),
        min(col("c_ts")).as("c_ts"), min(col("s_ts")).as("s_ts"))
    val gaps = p.select(lit("signup_to_click").as("stage"),
        (col("c_ts").cast("long") - col("s_ts").cast("long")).as("secs"))
      .unionByName(p.select(lit("click_to_purchase").as("stage"),
        (col("p_ts").cast("long") - col("c_ts").cast("long")).as("secs")))
    val dc = gaps.groupBy("stage", "secs").agg(count(lit(1)).as("cnt"))
    val tot = dc.groupBy("stage").agg(sum(col("cnt")).as("n_users"),
      sum(col("secs") * col("cnt")).as("sum_secs"))
    val byStage = org.apache.spark.sql.expressions.Window
      .partitionBy("stage").orderBy("secs")
    dc.withColumn("n_le", sum(col("cnt")).over(byStage))
      .join(tot, "stage")
      .groupBy(col("stage"), col("n_users"), col("sum_secs"))
      .agg(
        min(when(col("n_le") >= expr("(n_users + 1) div 2"), col("secs")))
          .as("med_lo_secs"),
        min(when(col("n_le") >= expr("(n_users + 2) div 2"), col("secs")))
          .as("med_hi_secs"))
      .select(col("stage"), col("n_users"),
        expr("1000 * sum_secs div n_users").as("mean_milli_secs"),
        col("med_lo_secs"), col("med_hi_secs"))
      .orderBy("stage")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_funnel_timing" -> (funnelTiming _),
    "evt_forecast_backtest" -> (forecastBacktest _),
    "evt_ab_test" -> (abTest _),
    "evt_top_paths" -> (topPaths _),
    "evt_user_features" -> (userFeatures _),
    "agg_gini_impurity" -> (giniImpurity _),
    "evt_anomaly_mad" -> (madAnomaly _),
    "evt_survival" -> (survivalCurve _),
    "evt_growth_accounting" -> (growthAccounting _),
    "evt_heatmap" -> (activityHeatmap _),
    "evt_bot_detection" -> (botDetection _),
    "evt_gini" -> (giniValue _),
    "evt_seasonal_anomaly" -> (seasonalAnomaly _),
    "evt_pareto" -> (paretoValue _),
    "evt_sample_users" -> (sampleUsers _),
    "evt_outliers" -> (outliers _),
    "evt_streaks" -> (streaks _),
    "evt_funnel_conversion" -> (funnelConversion _),
    "evt_cohort_retention" -> (cohortRetention _),
    "evt_dau_wau" -> (dauWau _),
    "evt_markov_transitions" -> (markovTransitions _),
    "evt_rfm" -> (rfmSegments _)
  )

  private def abH60(x: String): String =
    s"list_reduce(list_transform(range(1,16), k -> CAST(strpos('0123456789abcdef', substr(md5($x), k, 1)) - 1 AS BIGINT)), (a,b) -> a*16+b)"

  val oracle: Map[String, String] = Map(
    "evt_funnel_timing" ->
      """WITH s AS (SELECT user_id, MIN(ts) AS s_ts FROM events
        |           WHERE event_type = 'signup' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(e.ts) AS c_ts, MIN(s.s_ts) AS s_ts
        |      FROM events e JOIN s ON e.user_id = s.user_id
        |      WHERE e.event_type = 'click' AND e.ts >= s.s_ts
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(e.ts) AS p_ts, MIN(c.c_ts) AS c_ts,
        |             MIN(c.s_ts) AS s_ts
        |      FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts
        |      GROUP BY e.user_id),
        |gaps AS (
        |  SELECT 'signup_to_click' AS stage,
        |    CAST(floor(epoch(c_ts)) AS BIGINT)
        |      - CAST(floor(epoch(s_ts)) AS BIGINT) AS secs FROM p
        |  UNION ALL
        |  SELECT 'click_to_purchase' AS stage,
        |    CAST(floor(epoch(p_ts)) AS BIGINT)
        |      - CAST(floor(epoch(c_ts)) AS BIGINT) AS secs FROM p),
        |dc AS (SELECT stage, secs, CAST(COUNT(*) AS BIGINT) AS cnt
        |       FROM gaps GROUP BY 1, 2),
        |tot AS (SELECT stage, CAST(SUM(cnt) AS BIGINT) AS n_users,
        |               CAST(SUM(secs * cnt) AS BIGINT) AS sum_secs
        |        FROM dc GROUP BY 1),
        |cum AS (SELECT stage, secs, CAST(SUM(cnt) OVER (
        |          PARTITION BY stage ORDER BY secs) AS BIGINT) AS n_le
        |        FROM dc),
        |med AS (SELECT cum.stage,
        |    MIN(CASE WHEN n_le >= (n_users + 1) // 2 THEN secs END) AS med_lo_secs,
        |    MIN(CASE WHEN n_le >= (n_users + 2) // 2 THEN secs END) AS med_hi_secs
        |  FROM cum JOIN tot ON cum.stage = tot.stage GROUP BY 1)
        |SELECT tot.stage, n_users,
        |  CAST(1000 * sum_secs // n_users AS BIGINT) AS mean_milli_secs,
        |  med_lo_secs, med_hi_secs
        |FROM tot JOIN med ON tot.stage = med.stage
        |ORDER BY tot.stage""".stripMargin,
    "evt_forecast_backtest" ->
      s"""WITH daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         |    CAST(SUM(CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT)) AS BIGINT)
         |      AS cents
         |  FROM events GROUP BY 1, 2),
         |joined AS (SELECT a.event_type, a.cents, p.cents AS pred_cents
         |           FROM daily a JOIN daily p
         |             ON p.event_type = a.event_type AND p.day + 7 = a.day)
         |SELECT event_type,
         |  COUNT(*) AS n_days,
         |  CAST(SUM(abs(cents - pred_cents)) AS BIGINT) AS sum_abs_err,
         |  CAST(SUM(cents) AS BIGINT) AS sum_actual,
         |  CAST(SUM(abs(cents - pred_cents)) AS DOUBLE) / SUM(cents) AS wape
         |FROM joined GROUP BY event_type ORDER BY event_type""".stripMargin,
    "evt_ab_test" ->
      s"""WITH u AS (SELECT user_id,
         |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted,
         |    ${abH60("'ab:' || CAST(user_id AS VARCHAR)")} % 2 AS arm
         |  FROM events GROUP BY user_id),
         |a AS (SELECT
         |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS c_a,
         |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |    CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS c_b
         |  FROM u)
         |SELECT n_a, c_a, n_b, c_b,
         |  CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
         |  CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
         |  (CAST(c_a AS HUGEINT)*n_b - CAST(c_b AS HUGEINT)*n_a)
         |    * (CAST(c_a AS HUGEINT)*n_b - CAST(c_b AS HUGEINT)*n_a)
         |    * (CAST(n_a AS HUGEINT) + n_b) * 100
         |  > 384 * CAST(n_a AS HUGEINT) * n_b * (CAST(c_a AS HUGEINT) + c_b)
         |        * ((CAST(n_a AS HUGEINT) + n_b) - (CAST(c_a AS HUGEINT) + c_b))
         |    AS significant_95
         |FROM a""".stripMargin,
    "evt_top_paths" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR CAST(floor(epoch(ts)) AS BIGINT)
        |              - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
        |         THEN 1 ELSE 0 END AS is_break
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CAST(SUM(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM marked),
        |s AS (SELECT user_id, session_id,
        |    array_to_string(list_transform(
        |      (list(struct_pack(ts := ts, event_id := event_id, et := event_type)
        |            ORDER BY ts, event_id))[1:3], x -> x.et), '>') AS path
        |  FROM sess GROUP BY 1, 2),
        |p AS (SELECT path, COUNT(*) AS n_sessions FROM s GROUP BY 1)
        |SELECT path, n_sessions FROM p
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,
    "evt_user_features" ->
      """WITH e AS (SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS es, event_type,
        |    CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |tm AS (SELECT MAX(es) AS t_max FROM e)
        |SELECT user_id, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN es > t_max - 86400 THEN 1 ELSE 0 END) AS BIGINT) AS n_1d,
        |  CAST(SUM(CASE WHEN es > t_max - 7*86400 THEN 1 ELSE 0 END) AS BIGINT) AS n_7d,
        |  CAST(SUM(CASE WHEN es > t_max - 28*86400 THEN 1 ELSE 0 END) AS BIGINT) AS n_28d,
        |  CAST(SUM(CASE WHEN es > t_max - 7*86400 AND event_type = 'purchase'
        |           THEN cents ELSE 0 END) AS BIGINT) AS cents_7d,
        |  CAST(MAX(t_max - es) AS BIGINT) AS oldest_s,
        |  CAST(MIN(t_max - es) AS BIGINT) AS recency_s
        |FROM e CROSS JOIN tm GROUP BY user_id ORDER BY user_id""".stripMargin,
    "agg_gini_impurity" ->
      """WITH c AS (SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |    event_type, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT day, COUNT(*) AS n_types, CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(SUM(c*c) AS BIGINT) AS ssq
        |  FROM c GROUP BY 1)
        |SELECT day, n_types, n,
        |  CAST(n * n - ssq AS DOUBLE) / CAST(n * n AS DOUBLE) AS impurity
        |FROM d ORDER BY day""".stripMargin,
    "evt_anomaly_mad" ->
      """WITH cells AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, list(c ORDER BY c) AS arr FROM cells GROUP BY 1),
        |med AS (SELECT event_type,
        |    CAST(arr[(len(arr) + 1) // 2] + arr[len(arr) // 2 + 1] AS BIGINT) AS med2
        |  FROM m),
        |dev AS (SELECT cells.event_type, day, c, med2,
        |    abs(c * 2 - med2) AS dev2
        |  FROM cells JOIN med ON cells.event_type = med.event_type),
        |m2 AS (SELECT event_type, list(dev2 ORDER BY dev2) AS arr FROM dev GROUP BY 1),
        |mad AS (SELECT event_type,
        |    CAST(arr[(len(arr) + 1) // 2] + arr[len(arr) // 2 + 1] AS BIGINT) AS mad4
        |  FROM m2)
        |SELECT dev.event_type, strftime(day, '%Y-%m-%d') AS day,
        |  c AS n_events, med2, mad4
        |FROM dev JOIN mad ON dev.event_type = mad.event_type
        |WHERE dev2 * 2 > mad4 * 3
        |ORDER BY 1, 2""".stripMargin,
    "evt_survival" ->
      """WITH su AS (SELECT user_id, MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS s_es
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |fp AS (SELECT e.user_id, MIN(CAST(floor(epoch(e.ts)) AS BIGINT)) AS p_es
        |  FROM events e JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'purchase'
        |    AND CAST(floor(epoch(e.ts)) AS BIGINT) >= su.s_es
        |  GROUP BY 1),
        |tm AS (SELECT MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS t_max FROM events),
        |u AS (SELECT
        |    strftime(date_trunc('week',
        |      TIMESTAMP '1970-01-01 00:00:00' + to_seconds(s_es)), '%Y-%m-%d') AS cohort_week,
        |    (p_es - s_es) // 86400 AS d_u,
        |    (t_max - s_es) // 86400 AS c_u
        |  FROM su LEFT JOIN fp ON su.user_id = fp.user_id CROSS JOIN tm),
        |st AS (SELECT cohort_week, g.j,
        |    CAST(SUM(CASE WHEN c_u >= j AND (d_u IS NULL OR d_u >= j)
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_risk,
        |    CAST(SUM(CASE WHEN d_u = j THEN 1 ELSE 0 END) AS BIGINT) AS n_conv
        |  FROM u CROSS JOIN (SELECT unnest(range(14)) AS j) g
        |  GROUP BY 1, 2),
        |cur AS (SELECT cohort_week,
        |    list(struct_pack(j := j, n_risk := n_risk, n_conv := n_conv)
        |         ORDER BY j) AS arr
        |  FROM st GROUP BY 1)
        |SELECT cohort_week, CAST(x.j AS INTEGER) AS day, x.n_risk, x.n_conv,
        |  list_reduce(list_prepend(1.0e0,
        |    list_transform(arr[1:CAST(x.j AS INTEGER) + 1], t ->
        |      CASE WHEN t.n_risk > 0
        |           THEN 1.0e0 - CAST(t.n_conv AS DOUBLE) / CAST(t.n_risk AS DOUBLE)
        |           ELSE 1.0e0 END)),
        |    (a, b) -> a * b) AS survival
        |FROM cur, UNNEST(arr) AS u2(x)
        |ORDER BY cohort_week, day""".stripMargin,
    "evt_growth_accounting" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |    CAST(floor(epoch(date_trunc('week', ts))) AS BIGINT) AS wk FROM events),
        |m AS (SELECT user_id, wk,
        |    lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
        |    lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk
        |  FROM uw),
        |weekly AS (SELECT wk, COUNT(*) AS n_active,
        |    CAST(SUM(CASE WHEN prev_wk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |    CAST(SUM(CASE WHEN wk - prev_wk = 604800 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |    CAST(SUM(CASE WHEN prev_wk IS NOT NULL AND wk - prev_wk > 604800
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        |  FROM m GROUP BY 1),
        |churn AS (SELECT wk + 604800 AS wk, COUNT(*) AS n_churned
        |  FROM m WHERE next_wk IS NULL OR next_wk - wk > 604800 GROUP BY 1)
        |SELECT strftime(TIMESTAMP '1970-01-01 00:00:00' + to_seconds(weekly.wk),
        |         '%Y-%m-%d') AS week,
        |  n_active, n_new, n_retained, n_resurrected,
        |  CAST(COALESCE(n_churned, 0) AS BIGINT) AS n_churned
        |FROM weekly LEFT JOIN churn ON weekly.wk = churn.wk
        |ORDER BY week""".stripMargin,
    "evt_heatmap" ->
      """WITH c AS (SELECT CAST(isodow(ts) AS INTEGER) AS iso_dow,
        |    CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hod,
        |    COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM c)
        |SELECT iso_dow, hod, n_events, n_users,
        |  CAST(n_events AS DOUBLE) / CAST(total AS DOUBLE) AS share
        |FROM c, t ORDER BY iso_dow, hod""".stripMargin,
    "evt_bot_detection" ->
      """WITH e AS (SELECT user_id, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
        |b AS (SELECT user_id, es,
        |    COUNT(*) OVER (PARTITION BY user_id ORDER BY es
        |      RANGE BETWEEN 59 PRECEDING AND CURRENT ROW) AS burst,
        |    es - lag(es) OVER (PARTITION BY user_id ORDER BY es, event_id) AS gap
        |  FROM e)
        |SELECT user_id, COUNT(*) AS n_events,
        |  CAST(MAX(burst) AS BIGINT) AS max_burst_60s,
        |  CAST(MIN(gap) AS BIGINT) AS min_gap_s,
        |  CAST(MAX(burst) AS BIGINT) >= 5 AS is_bot
        |FROM b GROUP BY user_id ORDER BY user_id""".stripMargin,
    "evt_gini" ->
      """WITH u AS (SELECT event_type, user_id,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, cents,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY cents, user_id) AS i
        |  FROM u),
        |s AS (SELECT event_type, COUNT(*) AS n_users,
        |    CAST(SUM(cents) AS BIGINT) AS total_cents,
        |    CAST(SUM(i * cents) AS BIGINT) AS six
        |  FROM r GROUP BY 1)
        |SELECT event_type, n_users, total_cents,
        |  CAST(2 * six - (n_users + 1) * total_cents AS DOUBLE)
        |    / CAST(n_users * total_cents AS DOUBLE) AS gini
        |FROM s ORDER BY event_type""".stripMargin,
    "evt_seasonal_anomaly" ->
      """WITH cells AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hod, COUNT(*) AS c
        |  FROM events WHERE event_type = 'error' GROUP BY 1, 2),
        |base AS (SELECT hod, COUNT(*) AS n, CAST(SUM(c) AS BIGINT) AS s1,
        |    CAST(SUM(c*c) AS BIGINT) AS s2
        |  FROM cells GROUP BY 1)
        |SELECT strftime(day, '%Y-%m-%d') AS day, hod AS hour_of_day,
        |  c AS n_errors, n AS n_days,
        |  CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS baseline_mean
        |FROM cells JOIN base USING (hod)
        |WHERE c*n - s1 > 0
        |  AND (c*n - s1)*(c*n - s1) > 9*(n*s2 - s1*s1)
        |ORDER BY 1, 2""".stripMargin,
    "evt_pareto" ->
      """WITH u AS (SELECT event_type, user_id,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, cents,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY cents DESC, user_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS nu
        |  FROM u),
        |b AS (SELECT event_type, ((rn - 1) * 10) // nu AS decile,
        |    COUNT(*) AS n_users, CAST(SUM(cents) AS BIGINT) AS bin_cents
        |  FROM r GROUP BY 1, 2)
        |SELECT event_type, decile, n_users, bin_cents,
        |  CAST(SUM(bin_cents) OVER (PARTITION BY event_type ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents,
        |  CAST(SUM(bin_cents) OVER (PARTITION BY event_type ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / CAST(SUM(bin_cents) OVER (PARTITION BY event_type) AS DOUBLE) AS cum_share
        |FROM b ORDER BY event_type, decile""".stripMargin,
    "evt_sample_users" ->
      """WITH kept AS (
        |  SELECT * FROM events
        |  WHERE list_reduce(list_transform(range(1,16), k ->
        |      CAST(strpos('0123456789abcdef', substr(md5('usamp:' || CAST(user_id AS VARCHAR)), k, 1)) - 1 AS BIGINT)),
        |      (a,b) -> a*16+b) % 10 = 0)
        |SELECT event_type,
        |  COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(15,2))) AS DOUBLE) AS sum_value,
        |  MIN(event_id) AS first_event
        |FROM kept GROUP BY event_type ORDER BY event_type""".stripMargin,
    "evt_funnel_conversion" ->
      """WITH s AS (SELECT user_id, MIN(ts) AS s_ts FROM events
        |           WHERE event_type = 'signup' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(e.ts) AS c_ts
        |      FROM events e JOIN s ON e.user_id = s.user_id
        |      WHERE e.event_type = 'click' AND e.ts >= s.s_ts
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(e.ts) AS p_ts
        |      FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts
        |      GROUP BY e.user_id)
        |SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
        |  (SELECT COUNT(*) FROM s) AS n_signup,
        |  (SELECT COUNT(*) FROM c) AS n_signup_click,
        |  (SELECT COUNT(*) FROM p) AS n_full_funnel""".stripMargin,
    "evt_dau_wau" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY day),
        |expanded AS (
        |  SELECT DISTINCT day + CAST(i AS INTEGER) AS day, user_id
        |  FROM du, UNNEST(range(7)) AS u(i)),
        |wau AS (SELECT day, COUNT(*) AS wau FROM expanded GROUP BY day)
        |SELECT strftime(d.day, '%Y-%m-%d') AS day_s, dau, wau,
        |  CAST(dau AS DOUBLE) / wau AS stickiness
        |FROM dau d JOIN wau w ON d.day = w.day
        |ORDER BY day_s""".stripMargin,
    "evt_cohort_retention" ->
      """WITH first AS (SELECT user_id, MIN(ts) AS first_ts
        |               FROM events GROUP BY user_id)
        |SELECT CAST(date_trunc('week', first_ts) AS TIMESTAMP) AS cohort_week,
        |  (CAST(floor(epoch(date_trunc('week', e.ts))) AS BIGINT) -
        |   CAST(floor(epoch(date_trunc('week', first_ts))) AS BIGINT))
        |    // 604800 AS week_offset,
        |  COUNT(DISTINCT e.user_id) AS n_active
        |FROM events e JOIN first ON e.user_id = first.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "evt_outliers" ->
      """WITH b AS (SELECT user_id,
        |    CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |s AS (SELECT user_id, cents,
        |    COUNT(*) OVER w AS n,
        |    SUM(cents) OVER w AS sx,
        |    SUM(cents * cents) OVER w AS sxx
        |  FROM b WINDOW w AS (PARTITION BY user_id)),
        |f AS (SELECT user_id, n, n * sxx - sx * sx AS varn2,
        |    CASE WHEN (n * cents - sx) * (n * cents - sx) > 9 * (n * sxx - sx * sx)
        |      THEN 1 ELSE 0 END AS is_out
        |  FROM s)
        |SELECT user_id, CAST(n AS BIGINT) AS n,
        |  CAST(SUM(is_out) AS BIGINT) AS n_outliers,
        |  sqrt(CAST(varn2 AS DOUBLE)) / n AS sigma_cents
        |FROM f GROUP BY user_id, n, varn2
        |ORDER BY user_id""".stripMargin,
    "evt_streaks" ->
      """WITH du AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |r AS (SELECT user_id, day,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
        |      AS INTEGER) AS rn
        |  FROM du),
        |runs AS (SELECT user_id, day - rn AS island,
        |    COUNT(*) AS len, MIN(day) AS run_start
        |  FROM r GROUP BY user_id, day - rn),
        |rk AS (SELECT user_id, len, run_start,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY len DESC, run_start) AS rk
        |  FROM runs)
        |SELECT user_id,
        |  CAST(SUM(len) AS BIGINT) AS n_active_days,
        |  COUNT(*) AS n_streaks,
        |  CAST(MAX(len) AS BIGINT) AS longest_streak,
        |  MIN(CASE WHEN rk = 1 THEN strftime(run_start, '%Y-%m-%d') END)
        |    AS longest_start
        |FROM rk GROUP BY user_id ORDER BY user_id""".stripMargin,
    "evt_rfm" ->
      """WITH ref AS (SELECT MAX(ts) AS max_ts FROM events),
        |pu AS (SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS n_events,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_purchases,
        |    COALESCE(CAST(SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(value AS DECIMAL(15,2)) END) AS DOUBLE), 0.0) AS monetary
        |  FROM events GROUP BY user_id),
        |r AS (SELECT user_id, n_events, n_purchases, monetary,
        |    (CAST(floor(epoch(max_ts)) AS BIGINT)
        |     - CAST(floor(epoch(last_ts)) AS BIGINT)) // 86400 AS recency_d
        |  FROM pu CROSS JOIN ref),
        |s AS (SELECT user_id, recency_d, n_events, n_purchases, monetary,
        |    CASE WHEN recency_d <= 2 THEN 4 WHEN recency_d <= 7 THEN 3
        |         WHEN recency_d <= 14 THEN 2 ELSE 1 END AS r_score,
        |    CASE WHEN n_events >= 50 THEN 4 WHEN n_events >= 20 THEN 3
        |         WHEN n_events >= 10 THEN 2 ELSE 1 END AS f_score,
        |    CASE WHEN monetary >= 500.0 THEN 4 WHEN monetary >= 100.0 THEN 3
        |         WHEN monetary > 0.0 THEN 2 ELSE 1 END AS m_score
        |  FROM r)
        |SELECT user_id, recency_d, n_events, n_purchases, monetary,
        |  r_score, f_score, m_score,
        |  CASE WHEN r_score >= 3 AND f_score >= 3 AND m_score >= 3 THEN 'champion'
        |       WHEN r_score >= 3 AND f_score <= 2 THEN 'new'
        |       WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
        |       ELSE 'hibernating' END AS segment
        |FROM s ORDER BY user_id""".stripMargin,
    "evt_markov_transitions" ->
      """WITH pairs AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |m AS (SELECT from_type, to_type, COUNT(*) AS n_trans
        |      FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n_trans,
        |  CAST(SUM(n_trans) OVER (PARTITION BY from_type) AS BIGINT) AS from_total,
        |  CAST(n_trans AS DOUBLE) /
        |    CAST(SUM(n_trans) OVER (PARTITION BY from_type) AS BIGINT) AS p_trans
        |FROM m ORDER BY from_type, to_type""".stripMargin
  )
}
