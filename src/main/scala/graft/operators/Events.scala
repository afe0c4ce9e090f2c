package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.{Artifacts, Tables}

/** Event-stream (time-series) analytics over the `events` table: tumbling
  * windows and gap-based sessionization — the batch formulations of the
  * streaming pipelines in [[graft.streaming]].
  *
  * Scale notes: tumbling windows are a plain hash aggregation on the bucket
  * key (partial → shuffle → final; no global sort until the final small
  * ORDER BY); sessionization shuffles once on `user_id` and then computes
  * both window passes over the same partitioning (Spark reuses the single
  * Exchange for the lag and the running sum), so at 100 TB it is one shuffle
  * of the events table, not three.
  */
object Events {

  /** Exact hundredths in codegen longs — equals
    * (cast(x as decimal(15,2))·100)::BIGINT on 2-dp data without the
    * per-row BigDecimal detour; see the equivalence note in
    * AdvancedAggs.cents (r16). */
  private def cents(c: Column): Column =
    floor(c * 100 + lit(0.5d)).cast("long")

  /** Exact decimal sum of a 2-dp money column as double: BIGINT cents
    * accumulation reassembled once per group — same value, same final
    * IEEE cast as sum(dec(c)).cast("double") (r16). */
  private def sumValue(c: Column): Column =
    (sum(cents(c)).cast(DecimalType(38, 0)) / 100).cast("double")


  /** Hourly tumbling-window aggregate per event type, via Spark's `window()`
    * bucketing (epoch-aligned 1h tumble ≡ date_trunc('hour')). */
  def tumblingHourly(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sumValue(col("value")).as("sum_value"))
      .select(
        col("window.start").as("bucket"),
        col("event_type"), col("n_events"), col("n_users"), col("sum_value"))
      .orderBy("bucket", "event_type")

  /** Gap-based sessionization: a session breaks after 30 minutes of user
    * inactivity. session_id is the running count of breaks per user; one
    * output row per session with span and value totals. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_break",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > 1800L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("is_break")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        sumValue(col("value")).as("session_value"))
      .orderBy("user_id", "session_id")
  }

  /** As-of join, expressed scalably: for every click event, the most
    * recent error event at-or-before it for the same user. Instead of a
    * join (which Spark lacks native as-of support for), the two event
    * streams ride one partitioned window pass: a running `max(ts) where
    * type = 'error'` over the (user, time)-ordered stream gives each click
    * its as-of match — one shuffle on user_id, no range join, no
    * broadcast. Tie order at equal ts is event_id, identically on both
    * sides. */
  def asofLastError(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "error"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("last_error_ts",
        max(when(col("event_type") === "error", col("ts"))).over(w))
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"), col("last_error_ts"),
        (col("ts").cast("long") - col("last_error_ts").cast("long")).as("gap_s"))
      .orderBy("user_id", "ts", "event_id")
  }

  /** FORWARD as-of join (click → next purchase), the mirror of
    * [[asofLastError]]: for every click, the user's earliest strictly-later
    * purchase and the wait in whole seconds. Same single-window-pass shape —
    * one shuffle on user_id, a running MIN over the following frame, no
    * range join, no re-sort (both window and output share the (ts,
    * event_id) order). NULL next_purchase_ts = the user never purchased
    * after that click. */
  def nextPurchase(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("next_purchase_ts",
        min(when(col("event_type") === "purchase", col("ts"))).over(w))
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"), col("next_purchase_ts"),
        (col("next_purchase_ts").cast("long") - col("ts").cast("long")).as("wait_s"))
      .orderBy("user_id", "ts", "event_id")
  }

  /** Time-series gap filling with forward fill: per user, a dense hourly
    * grid spanning [first event hour, last event hour], hours with no
    * events carrying n_events = 0 and the LAST OBSERVED hourly value
    * (`last(_, ignoreNulls)` over the time order — the standard LOCF
    * imputation). The grid is generated per user with `sequence()` (one
    * row per user explodes to its span — no cross join against a global
    * calendar), joined co-partitioned on (user, bucket), and filled in the
    * same per-user window pass; first grid hour always has data (it IS the
    * user's first event hour) so the fill never reads before the frame. */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("user_id") <= 5)
      .select(col("user_id"), date_trunc("hour", col("ts")).as("bucket"),
        col("value"))
    val hourly = ev.groupBy(col("user_id"), col("bucket"))
      .agg(sumValue(col("value")).as("hour_value"),
        count(lit(1)).as("n_events"))
    val grid = ev.groupBy(col("user_id"))
      .agg(min(col("bucket")).as("h0"), max(col("bucket")).as("h1"))
      .select(col("user_id"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("bucket"))
    grid.join(hourly, Seq("user_id", "bucket"), "left_outer")
      .select(col("user_id"), col("bucket"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("hour_value"),
        last(col("hour_value"), ignoreNulls = true).over(
          Window.partitionBy(col("user_id")).orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("filled_value"))
      .orderBy("user_id", "bucket")
  }

  /** Sequence-pattern detection (MATCH_RECOGNIZE-lite): occurrences of the
    * behavioral pattern click → click → purchase, adjacent within the
    * user's click/purchase stream and completing within 24 h. Expressed as
    * two LEADs over one (user, time)-ordered window — the same single
    * shuffle + sort as every other per-user pass; no self-joins, no
    * per-pattern re-scan, and longer patterns are just more LEAD columns
    * over the SAME window (Catalyst computes them in one Window operator).
    */
  def patternMatch(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("t1", lead(col("event_type"), 1).over(w))
      .withColumn("t2", lead(col("event_type"), 2).over(w))
      .withColumn("ts2", lead(col("ts"), 2).over(w))
      .filter(col("event_type") === "click" && col("t1") === "click" &&
        col("t2") === "purchase" &&
        col("ts2").cast("long") - col("ts").cast("long") <= 86400L)
      .select(col("user_id"), col("event_id").as("start_event_id"),
        col("ts").as("start_ts"), col("ts2").as("purchase_ts"),
        (col("ts2").cast("long") - col("ts").cast("long")).as("span_s"))
      .orderBy("user_id", "start_ts", "start_event_id")
  }

  /** Range (interval) join, expressed scalably: count how many OTHER
    * users' events fall inside each session's time span. A naive
    * `ts BETWEEN start AND end` join is a nested-loop/cartesian in Spark;
    * instead both sides are bucketized to fixed 1-hour epochs — intervals
    * explode to the buckets they cover, points map to one bucket — turning
    * the range join into an equi-join on the bucket key plus an exact
    * residual filter. Shuffle cost is linear in (events + interval-hours),
    * never quadratic. A point matches an interval through exactly one
    * bucket (its own), so no post-join dedup is needed. */
  /** Inter-arrival time histogram per event type: consecutive same-user
    * same-type gaps at minute resolution, capped at 60 (the diagnostic
    * behind every session-gap / rate-limit / bot-cadence threshold —
    * the 30-minute sessionization rule IS a valley in this histogram).
    * One (user_id, event_type)-partitioned window pass for the lag, one
    * hash agg on the ≤ types×61-row key space; gaps are exact epoch-
    * second integers, buckets exact integer division. */
  def interarrival(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), col("ts").cast("long").as("es"))
      .withColumn("gap", col("es") - lag(col("es"), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy(col("event_type"),
        least(expr("gap div 60"), lit(60L)).as("bucket_min"))
      .agg(count(lit(1)).as("n_gaps"))
      .orderBy("event_type", "bucket_min")
  }

  /** Peak session concurrency per day — the capacity-planning sweep-line:
    * each session contributes +1 at its start and −1 one second after its
    * end (closed interval at second granularity, matching the gap rule's
    * epoch-second arithmetic); deltas are NETTED per timestamp first (so
    * simultaneous starts/ends have no ordering ambiguity), and the
    * running concurrency is a DAY-PARTITIONED prefix sum plus per-day
    * carry-in offsets. The carry (total net delta of all prior days) is
    * a calendar-bounded aggregate self-join, not a global window — the
    * same two-level scan the curriculum ordering uses, so the plan has
    * no single-task stage at any scale: events shuffle once on user_id
    * (sessionization), once on timestamp (netting), once on day. */
  def peakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val s = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_break",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > 1800L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("is_break")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
    val deltas = s.select(col("st").as("t"), lit(1L).as("d"))
      .union(s.select((col("en") + expr("interval 1 second")).as("t"),
        lit(-1L).as("d")))
    val net = deltas.groupBy("t").agg(sum(col("d")).as("nd"))
      .withColumn("day", to_date(col("t")))
    val wDay = Window.partitionBy(col("day")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run = net.withColumn("intraday", sum(col("nd")).over(wDay))
    val dayTot = net.groupBy("day").agg(sum(col("nd")).as("day_net"))
    val prior = dayTot.select(col("day").as("day2"), col("day_net").as("net2"))
    val carry = dayTot.join(prior, col("day2") < col("day"), "left")
      .groupBy(col("day"))
      .agg(coalesce(sum(col("net2")), lit(0L)).as("carry"))
    run.join(broadcast(carry), "day")
      .groupBy(date_format(col("day"), "yyyy-MM-dd").as("day"))
      .agg(max(col("intraday") + col("carry")).as("peak_concurrency"))
      .orderBy("day")
  }

  def rangeJoinSessions(spark: SparkSession, dir: String): DataFrame = {
    val sessions = sessionize(spark, dir)
      .filter(col("n_events") >= 2)
      .select(col("user_id").as("s_user"), col("session_id"),
        col("session_start"), col("session_end"))
    val intervalsB = sessions
      .withColumn("bucket", explode(sequence(
        floor(col("session_start").cast("long") / 3600).cast("long"),
        floor(col("session_end").cast("long") / 3600).cast("long"))))
    val points = Tables.events(spark, dir)
      .select(col("user_id").as("e_user"), col("ts"))
      .withColumn("bucket", floor(col("ts").cast("long") / 3600).cast("long"))
    points.join(intervalsB, Seq("bucket"))
      .filter(col("ts") >= col("session_start") && col("ts") <= col("session_end") &&
        col("e_user") =!= col("s_user"))
      .groupBy(col("s_user").as("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_other_events"))
      .orderBy("user_id", "session_id")
  }

  /** Sessionization via Spark's NATIVE session_window operator (gap 30
    * minutes). Unlike [[sessionize]] (whole-second gap comparison, merge on
    * ties), session_window compares at micros precision and breaks when the
    * gap is >= the window (an event extends a session only while
    * `ts < lastTs + gap`) — the oracle mirrors exactly those semantics with
    * native timestamp-interval arithmetic, so this query also pins down the
    * operator's boundary behavior. */
  def sessionWindowNative(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        sumValue(col("value")).as("session_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("session_value"))
      .orderBy("user_id", "session_start")

  /** SLIDING (hopping) window aggregate — 1 h windows every 15 min — the
    * one time-window shape tumbling/session don't cover. Spark's `window()`
    * with a slide expands each event into size/slide = 4 window rows
    * before the hash aggregation (partial agg still applies), exactly the
    * cost model a streaming hopping window has; the oracle reproduces the
    * same epoch-grid starts with pure timestamp arithmetic. */
  def slidingQuarterHour(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sumValue(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy("win_start", "event_type")

  /** Debounce / burst-dedup: drop any event that repeats its (user, type)
    * key within 5 minutes of the previous kept-or-dropped occurrence — the
    * standard instrumentation-noise cleaner (double-clicks, retry storms,
    * at-least-once delivery) run before any behavioral analytics. The
    * lag-based rule ("previous same-key event ≤ 300 s ago") needs one
    * window pass over the (user, type) partition; no self-join, no state
    * beyond the sort. Report per event type: total, kept, dropped, and
    * the kept events' value mass.
    *
    * Note the rule is lag-vs-PREVIOUS-EVENT (any previous), not
    * lag-vs-previous-KEPT: the recursive "kept" variant is sequential by
    * nature; the previous-event form is the one every SQL engine ships,
    * and is identical on streams whose bursts are shorter than the gap. */
  def debounce(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), col("value"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("kept",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > 300L, 1L)
          .otherwise(0L))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(col("kept")).as("n_kept"),
        (count(lit(1)) - sum(col("kept"))).as("n_dropped"),
        (sum(when(col("kept") === 1L, cents(col("value"))))
          .cast(DecimalType(38, 0)) / 100).cast("double")
          .as("kept_value"))
      .orderBy("event_type")
  }

  /** Last-touch attribution: each purchase is credited to the campaign
    * (`props.k`) of the user's most recent click no older than 24 h;
    * purchases with no qualifying click land in the NULL-campaign bucket,
    * so the report accounts for every purchase. The "most recent click"
    * is `last(..., ignoreNulls)` over the (ts, event_id)-ordered user
    * partition — ONE window pass over one shuffle of the stream, never a
    * purchases×clicks self-join (which at 100 TB is a skew bomb on hot
    * users). The carried struct holds the click ts so the 24 h recency
    * rule is applied to the attributed click itself. */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        col("value"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .withColumn("last_click",
        last(when(col("event_type") === "click",
          struct(col("ts").as("cts"), col("k").as("ck"))), ignoreNulls = true)
          .over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("campaign",
        when(col("last_click").isNotNull &&
          col("ts").cast("long") - col("last_click.cts").cast("long") <= 86400L,
          col("last_click.ck")))
      .groupBy(col("campaign"))
      .agg(count(lit(1)).as("n_purchases"),
        sumValue(col("value")).as("attributed_value"))
      .orderBy(col("campaign").asc_nulls_first)
  }

  /** Hourly VWAP (volume-weighted average value) of purchases, with
    * quantity = `props.k + 1`: the canonical market-data aggregate, exact
    * to the last bit — value quantized to integer cents at the row, the
    * Σ(price·qty) numerator and Σqty denominator accumulate as BIGINTs,
    * and VWAP is ONE final double division. Plain partial-aggregated hash
    * agg on the hour bucket; nothing here changes shape at 100 TB. */
  def vwapHourly(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(date_trunc("hour", col("ts")).as("bucket"),
        cents(col("value")).as("cents"),
        (get_json_object(col("props"), "$.k").cast("long") + 1L).as("qty"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_trades"),
        sum(col("qty")).as("total_qty"),
        sum(col("cents") * col("qty")).as("notional_cents"))
      .withColumn("vwap",
        col("notional_cents").cast("double")
          / (col("total_qty").cast("double") * lit(100.0)))
      .orderBy("bucket")

  /** LINEAR multi-touch attribution — every click in the 24 h before a
    * purchase shares its value equally (the multi-touch counterpart of
    * [[attribution]]'s last-touch rule). Each purchase's touch list is a
    * `collect_list` over a RANGE frame on epoch seconds (clicks tied at
    * the purchase's second all participate — range-frame semantics,
    * identical in both engines); shares are exact fixed-point
    * `(cents·10⁴) div n` so the campaign totals are BIGINT sums (the ≤n
    * micro-units of flooring remainder per purchase stay unattributed —
    * deterministic, documented). Purchases with no touch fall to the NULL
    * bucket at full value via `explode_outer`. One shuffle of the stream
    * (the user window), then a hash agg on campaign. */
  def attributionLinear(spark: SparkSession, dir: String): DataFrame = {
    val es = col("ts").cast("long")
    val w = Window.partitionBy(col("user_id")).orderBy(es)
      .rangeBetween(-86400, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        col("value"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      // Collect a STRUCT per click (always non-null), not the bare k:
      // collect_list skips NULL elements, so a click whose props.k is NULL
      // would otherwise vanish from both the divisor n and the NULL-campaign
      // bucket — the oracle's click join keeps such clicks, and so does
      // attributionUShaped. The struct wrapper makes every click count.
      .withColumn("touches",
        collect_list(when(col("event_type") === "click",
          struct(col("k").as("ck")))).over(w))
      .filter(col("event_type") === "purchase")
      .select(cents(col("value")).as("cents"),
        size(col("touches")).as("n"), explode_outer(col("touches")).as("t"))
      .select(col("t.ck").as("campaign"),
        when(col("n") > 0, expr("(cents * 10000) div n"))
          .otherwise(col("cents") * 10000L).as("share_q6"))
      .groupBy(col("campaign"))
      .agg(count(lit(1)).as("n_touches"),
        (sum(col("share_q6")).cast("double") / lit(1.0e6)).as("attributed_value"))
      .orderBy(col("campaign").asc_nulls_first)
  }

  /** U-SHAPED (position-based) attribution — 40% to the first touch, 40%
    * to the last, 20% split across the middles (50/50 at two touches,
    * 100% at one), completing the attribution family next to
    * [[attribution]] (last-touch) and [[attributionLinear]]. The RANGE
    * touch window is sorted in-plan (`array_sort` of (es, event_id, k)
    * structs — event_id is unique, so ordering is total) and positions
    * come from `posexplode_outer`; all shares are exact fixed-point
    * micro-units with `div` flooring, unattributed purchases keep full
    * value in the NULL bucket. */
  def attributionUShaped(spark: SparkSession, dir: String): DataFrame = {
    val es = col("ts").cast("long")
    val w = Window.partitionBy(col("user_id")).orderBy(es)
      .rangeBetween(-86400, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        col("value"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .withColumn("touches", array_sort(
        collect_list(when(col("event_type") === "click",
          struct(es.as("ces"), col("event_id").as("cid"), col("k").as("ck"))))
          .over(w)))
      .filter(col("event_type") === "purchase")
      .select(cents(col("value")).as("cents"),
        size(col("touches")).as("n"),
        posexplode_outer(col("touches")).as(Seq("pos", "t")))
      .select(col("t.ck").as("campaign"),
        when(col("n") <= 1, col("cents") * 10000L)
          .when(col("n") === 2, col("cents") * 5000L)
          .when(col("pos") === 0 || col("pos") === col("n") - 1,
            col("cents") * 4000L)
          .otherwise(expr("(cents * 2000) div (n - 2)")).as("share_q6"))
      .groupBy(col("campaign"))
      .agg(count(lit(1)).as("n_touches"),
        (sum(col("share_q6")).cast("double") / lit(1.0e6)).as("attributed_value"))
      .orderBy(col("campaign").asc_nulls_first)
  }

  /** Daily bounce rate — the share of sessions that contain exactly one
    * event, keyed by the session's start day: the standard engagement
    * metric on top of [[sessionize]]'s gap rule (same 30-minute break,
    * same single user_id shuffle; the daily rollup is a tiny second
    * aggregation). Bounce rate is one final division of exact counts. */
  def bounceRate(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_break",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > 1800L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("is_break")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"), min(col("ts")).as("start_ts"))
      .groupBy(date_format(to_date(col("start_ts")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1L, 1L).otherwise(0L)).as("n_bounces"))
      .withColumn("bounce_rate",
        col("n_bounces").cast("double") / col("n_sessions").cast("double"))
      .orderBy("day")
  }

  /** Two-sample Kolmogorov-Smirnov drift test per event type — first half
    * of the stream (ts < 2024-01-16) vs the second — in EXACT integer
    * arithmetic: with per-sample sizes n1/n2 and cumulative counts
    * cum1/cum2 at each distinct value, the KS statistic's numerator is
    * d_num = max|cum1·n2 − cum2·n1| (D = d_num/(n1·n2)), so the sup runs
    * over pure BIGINTs and the α=0.05 decision is the cross-multiplied
    * inequality 10⁶·d_num² > 1844164·(n1+n2)·n1·n2 (1844164/10⁶ is
    * EXACTLY 1.358², the two-sided critical coefficient) in DECIMAL(38,0)
    * — no sqrt, no float, hash-gateable. Shape: the window runs over the
    * aggregated (type, value) distinct-count rows, not raw events; for a
    * 100 TB value domain the same statistic runs on fixed equi-width bins
    * (the [[graft.operators.AdvancedAggs.exactMedianTwoPass]] histogram
    * pattern), where binning makes the sup a lower bound evaluated at bin
    * edges. */
  def driftKs(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.events(spark, dir)
      .select(col("event_type"), col("value"),
        when(col("ts") < lit("2024-01-16 00:00:00").cast("timestamp"), 1L)
          .otherwise(0L).as("in1"))
      .groupBy("event_type", "value")
      .agg(sum(col("in1")).as("c1"), sum(lit(1L) - col("in1")).as("c2"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = pts.groupBy("event_type")
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    pts
      .withColumn("cum1", sum(col("c1")).over(w))
      .withColumn("cum2", sum(col("c2")).over(w))
      .join(broadcast(tot), "event_type")
      .withColumn("dev", abs(col("cum1") * col("n2") - col("cum2") * col("n1")))
      .groupBy(col("event_type"), col("n1"), col("n2"))
      .agg(max(col("dev")).as("d_num"))
      .select(col("event_type"), col("n1"), col("n2"), col("d_num"),
        // DECIMAL(38,0) keeps d_num·10⁶ exact (d_num can reach n1·n2, so a
        // BIGINT multiply overflows once n1·n2 > ~9.2e12 — a few million
        // events per half); n1·n2 = 0 (an event type entirely in one half)
        // must yield NULL in BOTH engines — plain BIGINT div gives NULL in
        // Spark but raises a division-by-zero error in DuckDB.
        expr("""case when n1 = 0 or n2 = 0 then cast(null as bigint)
               |  else cast(cast(d_num as decimal(38,0)) * 1000000
               |    div (cast(n1 as decimal(38,0)) * n2) as bigint) end"""
          .stripMargin).as("ks_micro"),
        expr("""cast(1000000 as decimal(38,0)) * d_num * d_num
               |  > cast(1844164 as decimal(38,0)) * (n1 + n2) * n1 * n2"""
          .stripMargin).as("drifted"))
      .orderBy("event_type")
  }

  /** Ladder of candidate bucket widths (seconds) for the session-overlap
    * join, and the linear candidate budget the width is chosen under —
    * the [[graft.operators.Graph]] adaptiveCap discipline applied to this
    * query's quadratic valve. */
  val OverlapBucketLadder: Seq[Long] = Seq(900L, 1800L, 3600L, 7200L, 14400L)
  val OverlapPairBudgetPerSession = 8L

  /** DENSITY-ADAPTIVE bucket width (r12 verdict item 2): for each ladder
    * width, the candidate-pair mass is Σ_buckets n_b·(n_b−1)/2 where n_b
    * counts the (≥2-event) sessions overlapping bucket b — the exact
    * number of per-bucket join candidates [[sessionOverlap]] would
    * generate at that width. The chosen width is the LARGEST whose mass
    * fits the linear budget [[OverlapPairBudgetPerSession]]·n_sessions
    * (widest = least bucket replication, and the budget caps the
    * quadratic term), falling back to the narrowest ladder width when
    * concurrency is so dense nothing fits (the narrowest is then also
    * the least-work width). Sessions are aggregated metadata (≪ events),
    * the per-width histogram collapses to ≤|ladder| rows, and the driver
    * reads one tiny map — the adaptiveCap bounded-collect discipline,
    * memoized per corpus dir. The oracle re-derives the same choice in
    * SQL, so the knob is a hash-gated artifact, not driver prose. */
  private[operators] def adaptiveOverlapBucket(
      spark: SparkSession, dir: String): Long =
    Artifacts.model(spark, dir, "ovbw", "events") {
      val s = sessionize(spark, dir)
        .filter(col("n_events") >= 2)
        .select(col("session_start").cast("long").as("st"),
          col("session_end").cast("long").as("en"))
      val nSessions = s.count()
      val mass = s
        .withColumn("w", explode(array(OverlapBucketLadder.map(lit): _*)))
        .withColumn("bucket", explode(expr("sequence(st div w, en div w)")))
        .groupBy("w", "bucket").agg(count(lit(1)).as("n"))
        .groupBy("w").agg(sum(expr("n * (n - 1) div 2")).as("pairs"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val budget = OverlapPairBudgetPerSession * nSessions
      val fitting = OverlapBucketLadder
        .filter(w => mass.getOrElse(w, 0L) <= budget)
      java.lang.Long.valueOf(
        if (fitting.nonEmpty) fitting.max else OverlapBucketLadder.min)
    }.longValue()

  /** Session co-activity pairs — the interval-INTERVAL overlap join that
    * completes [[rangeJoinSessions]]'s point-in-interval shape: pairs of
    * users whose (≥2-event) sessions overlap in wall-clock time, with the
    * overlap count and total overlapping seconds. Scale shape: sessions
    * explode to the time buckets they span, candidates join per bucket
    * (equi-join on one long — never a full interval cross product), and
    * each qualifying pair is emitted EXACTLY once, in the bucket holding
    * the later session start (the standard dedup-free emit rule for
    * bucketed interval joins — no global distinct pass). The bucket
    * width is CHOSEN FROM MEASURED CONCURRENCY under a linear pair
    * budget ([[adaptiveOverlapBucket]]) — the knob SCALE.md named as
    * "the production knob", now turned in code like the graph hub cap —
    * and the applied width is emitted (and oracle-re-derived) as
    * `bucket_s`. The RESULT is width-invariant (OverlapAdaptiveSpec
    * proves it across the whole ladder); only the candidate fanout
    * changes.
    *
    * OUTPUT is bounded by contract, because unbounded co-activity pairs
    * themselves grow quadratically as concurrency densifies (the per-pair
    * WORK is fine — SCALE.md measured 0.05×/output-pair — but a result a
    * consumer can't hold isn't a query, it's a hazard): pairs must share
    * at least [[MinOverlapS]] total overlapping seconds, and each lead
    * user reports only its [[TopPartners]] strongest partners (by total
    * overlap, then lead-order user id) — so output is ≤ TopPartners rows
    * per user, linear in users, whatever the concurrency. Both bounds are
    * mirrored verbatim in the oracle. */
  def sessionOverlap(spark: SparkSession, dir: String): DataFrame =
    sessionOverlapAt(spark, dir, adaptiveOverlapBucket(spark, dir))

  private[operators] def sessionOverlapAt(
      spark: SparkSession, dir: String, bucketS: Long): DataFrame = {
    val s = sessionize(spark, dir)
      .filter(col("n_events") >= 2)
      .select(col("user_id"), col("session_id"),
        col("session_start").cast("long").as("st"),
        col("session_end").cast("long").as("en"))
    def side(p: String): DataFrame = s.select(
      col("user_id").as(s"u$p"), col("st").as(s"st$p"), col("en").as(s"en$p"))
      .withColumn("bucket",
        explode(sequence(expr(s"st$p div $bucketS"), expr(s"en$p div $bucketS"))))
    side("1").join(side("2"), Seq("bucket"))
      .filter(col("u1") < col("u2") &&
        col("st1") <= col("en2") && col("st2") <= col("en1") &&
        expr(s"greatest(st1, st2) div $bucketS") === col("bucket"))
      .groupBy("u1", "u2")
      .agg(count(lit(1)).as("n_overlaps"),
        sum(least(col("en1"), col("en2")) - greatest(col("st1"), col("st2")))
          .as("overlap_s"))
      .filter(col("overlap_s") >= MinOverlapS)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("u1")).orderBy(col("overlap_s").desc, col("u2"))))
      .filter(col("rk") <= TopPartners)
      .drop("rk")
      .withColumn("bucket_s", lit(bucketS))
      .orderBy("u1", "u2")
  }

  /** Minimum total overlapping seconds for a co-activity pair to count —
    * sub-minute coincidences are join noise, and the floor keeps dense
    * concurrency from emitting every grazing pair. */
  val MinOverlapS = 60L

  /** Per-lead-user partner cap: with it the result is ≤ cap rows per
    * user — the knob that turns a quadratically-growing pair relation
    * into a linearly-growing report. */
  val TopPartners = 20

  /** Recency-weighted popularity with EXACT exponential decay: weight
    * 2^(−age_weeks) against a fixed horizon, where age buckets to whole
    * weeks — so every weight is a dyadic rational and the decayed score
    * is one exact BIGINT Σ c_k·2^(5−k) in 1/32nds (ages clamp to [0,5]
    * weeks over the one-month stream; widen the clamp with the data
    * horizon). The continuous e^(−λt) form can never hash-gate — each
    * engine's exp() differs in ulps and the sum is order-dependent —
    * while the dyadic form is bit-identical everywhere and keeps the
    * half-life semantics (1 week here). One scan, one G×6 aggregate. */
  def decayPopularity(spark: SparkSession, dir: String): DataFrame = {
    val ageW = least(lit(5), greatest(lit(0),
      expr("datediff(to_date('2024-02-01'), to_date(ts)) div 7").cast("int")))
    Tables.events(spark, dir)
      .select(col("event_type"), ageW.as("age_w"))
      .groupBy("event_type", "age_w").agg(count(lit(1)).as("c"))
      .withColumn("part", expr("c * shiftleft(cast(1 as bigint), 5 - age_w)"))
      .groupBy("event_type")
      .agg(sum(col("c")).as("n_events"),
        sum(col("part")).as("decayed_x32"))
      .withColumn("decayed", col("decayed_x32").cast("double") / 32.0)
      .orderBy("event_type")
  }

  /** CUSUM changepoint detection over each event type's daily volume —
    * the classic Page (Biometrika 1954) cumulative-sum statistic in
    * EXACT integer form. With n observed days and total count T, the
    * mean-removed partial sum after day t is S_t = Σ_{i≤t} (n·c_i − T)
    * (each term is the day's deviation from the mean scaled by n, so no
    * rational mean ever appears and S_n = 0 identically). The estimated
    * changepoint is the day maximizing |S_t| (earliest day on ties) —
    * the standard CUSUM location estimator for a single level shift.
    * Shape: one daily pre-aggregation (the only shuffle that sees event
    * rows), then windows over ≤ n_days rows per type — at 100 TB the
    * windowed relation is days×types, not events. */
  def changepointCusum(spark: SparkSession, dir: String): DataFrame =
    cusumOverDaily(Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c")))

  /** The CUSUM statistic + argmax over ANY (event_type, day, c) daily
    * series — factored out so CusumSpec can drive a synthetic level
    * shift with a known change date. */
  private[operators] def cusumOverDaily(daily: DataFrame): DataFrame = {
    val wTot = Window.partitionBy("event_type")
    val wCum = Window.partitionBy("event_type").orderBy("day")
    daily
      .withColumn("n_days", count(lit(1)).over(wTot))
      .withColumn("total", sum(col("c")).over(wTot))
      .withColumn("s", sum(col("n_days") * col("c") - col("total")).over(wCum))
      .withColumn("rk", row_number().over(
        Window.partitionBy("event_type").orderBy(abs(col("s")).desc, col("day"))))
      .filter(col("rk") === 1)
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("cp_day"),
        abs(col("s")).as("s_abs_max"), col("n_days"))
      .orderBy("event_type")
  }

  /** Zipf power-law fit of the user-activity rank-frequency curve — the
    * standard heavy-tail diagnostic (Zipf 1949; Newman, "Power laws,
    * Pareto distributions and Zipf's law", Contemporary Physics 2005)
    * a pipeline runs before choosing skew mitigations: a slope near −1
    * on log rank vs log frequency says a handful of users dominate the
    * event volume (salting/hot-key handling needed); a flat slope says
    * traffic is uniform. One point per DISTINCT activity level — the
    * tie-collapsed Zipf plot, where a tier's rank is 1 + the number of
    * strictly-more-active users — which kills the global ROW_NUMBER a
    * naive rank needs: the tier table is ≤ |distinct frequencies| rows
    * (hundreds at any corpus size), so the rank self-join is a broadcast
    * of aggregated metadata, never a single-task sort of |users| rows.
    * Logs are the engine's half-bit integer quantization
    * (`length(bin(x·x))` = ⌊2·log₂x⌋+1 — libm-free, the ta_lm_score
    * discipline), so every OLS moment is an exact BIGINT; slope and
    * intercept are two fixed-shape double divisions at the end. */
  def zipfActivity(spark: SparkSession, dir: String): DataFrame = {
    val freq = Tables.events(spark, dir)
      .groupBy("user_id").agg(count(lit(1)).as("f"))
    val grp = freq.groupBy("f").agg(count(lit(1)).as("nf"))
    val ranked = grp.as("a")
      .join(broadcast(grp.select(col("f").as("f2"), col("nf").as("nf2"))),
        col("f2") > col("f"), "left")
      .groupBy(col("f"), col("nf"))
      .agg((lit(1L) + coalesce(sum(col("nf2")), lit(0L))).as("rnk"))
    ranked
      .select(
        length(bin(col("rnk") * col("rnk"))).cast("long").as("x"),
        length(bin(col("f") * col("f"))).cast("long").as("y"))
      .agg(count(lit(1)).as("n_points"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("n_points"), col("sx"), col("sy"), col("sxx"), col("sxy"),
        ((col("n_points") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n_points") * col("sxx") - col("sx") * col("sx")))
          .as("slope"))
      .withColumn("intercept",
        (col("sy").cast("double") - col("slope") * col("sx")) / col("n_points"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_zipf_activity" -> (zipfActivity _),
    "evt_changepoint_cusum" -> (changepointCusum _),
    "evt_decay_popularity" -> (decayPopularity _),
    "evt_drift_ks" -> (driftKs _),
    "evt_session_overlap" -> (sessionOverlap _),
    "evt_bounce_rate" -> (bounceRate _),
    "evt_attribution_ushaped" -> (attributionUShaped _),
    "evt_attribution_linear" -> (attributionLinear _),
    "evt_attribution" -> (attribution _),
    "evt_vwap" -> (vwapHourly _),
    "evt_debounce" -> (debounce _),
    "evt_sliding_15m" -> (slidingQuarterHour _),
    "evt_tumbling_hourly" -> (tumblingHourly _),
    "evt_interarrival" -> (interarrival _),
    "evt_peak_concurrency" -> (peakConcurrency _),
    "evt_sessionize" -> (sessionize _),
    "evt_session_window_native" -> (sessionWindowNative _),
    "evt_asof_last_error" -> (asofLastError _),
    "evt_next_purchase" -> (nextPurchase _),
    "evt_pattern_match" -> (patternMatch _),
    "evt_gap_fill" -> (gapFill _),
    "evt_range_join_sessions" -> (rangeJoinSessions _)
  )

  val oracle: Map[String, String] = Map(
    "evt_zipf_activity" ->
      """WITH freq AS (SELECT user_id, COUNT(*) AS f FROM events GROUP BY 1),
        |grp AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS nf FROM freq GROUP BY 1),
        |ranked AS (SELECT a.f, a.nf,
        |    CAST(1 + COALESCE(SUM(b.nf), 0) AS BIGINT) AS rnk
        |  FROM grp a LEFT JOIN grp b ON b.f > a.f GROUP BY 1, 2),
        |pts AS (SELECT CAST(length(bin(rnk * rnk)) AS BIGINT) AS x,
        |               CAST(length(bin(f * f)) AS BIGINT) AS y FROM ranked),
        |mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy FROM pts)
        |SELECT n_points, sx, sy, sxx, sxy,
        |  CAST(n_points * sxy - sx * sy AS DOUBLE) /
        |    (n_points * sxx - sx * sx) AS slope,
        |  (CAST(sy AS DOUBLE) - (CAST(n_points * sxy - sx * sy AS DOUBLE) /
        |    (n_points * sxx - sx * sx)) * sx) / n_points AS intercept
        |FROM mom""".stripMargin,
    "evt_changepoint_cusum" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(c) AS BIGINT) AS total
        |  FROM daily GROUP BY 1),
        |s AS (SELECT d.event_type, d.day, t.n_days,
        |    CAST(SUM(t.n_days * d.c - t.total)
        |      OVER (PARTITION BY d.event_type ORDER BY d.day) AS BIGINT) AS s
        |  FROM daily d JOIN tot t USING (event_type)),
        |r AS (SELECT event_type, day, n_days, ABS(s) AS sa,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |                       ORDER BY ABS(s) DESC, day) AS rk
        |  FROM s)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS cp_day,
        |  CAST(sa AS BIGINT) AS s_abs_max, n_days
        |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin,
    "evt_decay_popularity" ->
      """WITH ages AS (SELECT event_type,
        |    LEAST(5, GREATEST(0,
        |      date_diff('day', CAST(ts AS DATE), DATE '2024-02-01') // 7))
        |      AS age_w
        |  FROM events),
        |bkt AS (SELECT event_type, age_w, COUNT(*) AS c FROM ages GROUP BY 1, 2)
        |SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_events,
        |  CAST(SUM(c * (CAST(1 AS BIGINT) << (5 - age_w))) AS BIGINT)
        |    AS decayed_x32,
        |  CAST(SUM(c * (CAST(1 AS BIGINT) << (5 - age_w))) AS DOUBLE) / 32.0
        |    AS decayed
        |FROM bkt GROUP BY 1 ORDER BY 1""".stripMargin,
    "evt_drift_ks" ->
      """WITH pts AS (SELECT event_type, value,
        |    CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |                  THEN 0 ELSE 1 END) AS BIGINT) AS c2
        |  FROM events GROUP BY 1, 2),
        |cum AS (SELECT event_type,
        |    CAST(SUM(c1) OVER w AS BIGINT) AS cum1,
        |    CAST(SUM(c2) OVER w AS BIGINT) AS cum2
        |  FROM pts
        |  WINDOW w AS (PARTITION BY event_type ORDER BY value
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |tot AS (SELECT event_type, CAST(SUM(c1) AS BIGINT) AS n1,
        |    CAST(SUM(c2) AS BIGINT) AS n2
        |  FROM pts GROUP BY 1)
        |SELECT event_type, n1, n2,
        |  CAST(MAX(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num,
        |  CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
        |       ELSE CAST(CAST(MAX(abs(cum1 * n2 - cum2 * n1)) AS HUGEINT)
        |         * 1000000 // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) END
        |    AS ks_micro,
        |  1000000 * CAST(MAX(abs(cum1 * n2 - cum2 * n1)) AS HUGEINT)
        |      * MAX(abs(cum1 * n2 - cum2 * n1))
        |    > 1844164 * CAST(n1 + n2 AS HUGEINT) * n1 * n2 AS drifted
        |FROM cum JOIN tot USING (event_type)
        |GROUP BY event_type, n1, n2 ORDER BY event_type""".stripMargin,
    "evt_session_overlap" ->
      s"""WITH marked AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR CAST(floor(epoch(ts)) AS BIGINT)
        |              - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
        |         THEN 1 ELSE 0 END AS is_break
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM marked),
        |iv AS (
        |  SELECT user_id,
        |    CAST(floor(epoch(MIN(ts))) AS BIGINT) AS st,
        |    CAST(floor(epoch(MAX(ts))) AS BIGINT) AS en
        |  FROM sess GROUP BY user_id, session_id HAVING COUNT(*) >= 2),
        |bm AS (
        |  SELECT ws.w, COALESCE(SUM(n * (n - 1) // 2), 0) AS pairs_mass
        |  FROM (VALUES ${OverlapBucketLadder.map(w => s"($w)").mkString(",")}) ws(w)
        |  LEFT JOIN (
        |    SELECT w, bucket, COUNT(*) AS n FROM (
        |      SELECT ws2.w AS w,
        |        unnest(generate_series(st // ws2.w, en // ws2.w)) AS bucket
        |      FROM iv CROSS JOIN
        |        (VALUES ${OverlapBucketLadder.map(w => s"($w)").mkString(",")}) ws2(w))
        |    GROUP BY 1, 2) h ON h.w = ws.w
        |  GROUP BY 1),
        |chosen AS (
        |  SELECT CAST(COALESCE(
        |    (SELECT MAX(w) FROM bm WHERE pairs_mass
        |       <= $OverlapPairBudgetPerSession * (SELECT COUNT(*) FROM iv)),
        |    ${OverlapBucketLadder.min}) AS BIGINT) AS bucket_s),
        |pairs AS (
        |  SELECT a.user_id AS u1, b.user_id AS u2,
        |    CAST(COUNT(*) AS BIGINT) AS n_overlaps,
        |    CAST(SUM(least(a.en, b.en) - greatest(a.st, b.st)) AS BIGINT)
        |      AS overlap_s
        |  FROM iv a JOIN iv b
        |    ON a.user_id < b.user_id AND a.st <= b.en AND b.st <= a.en
        |  GROUP BY 1, 2 HAVING overlap_s >= 60)
        |SELECT u1, u2, n_overlaps, overlap_s,
        |  (SELECT bucket_s FROM chosen) AS bucket_s FROM (
        |  SELECT *, row_number() OVER (PARTITION BY u1
        |    ORDER BY overlap_s DESC, u2) AS rk FROM pairs)
        |WHERE rk <= 20 ORDER BY u1, u2""".stripMargin,
    "evt_bounce_rate" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR CAST(floor(epoch(ts)) AS BIGINT)
        |              - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
        |         THEN 1 ELSE 0 END AS is_break
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id,
        |    CAST(SUM(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id,
        |    ts FROM marked),
        |s AS (SELECT user_id, session_id, COUNT(*) AS n_events,
        |    MIN(ts) AS start_ts
        |  FROM sess GROUP BY 1, 2),
        |d AS (SELECT strftime(CAST(start_ts AS DATE), '%Y-%m-%d') AS day,
        |    COUNT(*) AS n_sessions,
        |    CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces
        |  FROM s GROUP BY 1)
        |SELECT day, n_sessions, n_bounces,
        |  CAST(n_bounces AS DOUBLE) / CAST(n_sessions AS DOUBLE) AS bounce_rate
        |FROM d ORDER BY day""".stripMargin,
    "evt_attribution_ushaped" ->
      """WITH ev AS (SELECT user_id, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS es, event_type,
        |    CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents,
        |    CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events),
        |p AS (SELECT user_id, event_id, es, cents FROM ev WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, es, event_id, k FROM ev WHERE event_type = 'click'),
        |t AS (SELECT p.event_id, p.cents, c.k,
        |    ROW_NUMBER() OVER (PARTITION BY p.event_id
        |      ORDER BY c.es, c.event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY p.event_id) AS n
        |  FROM p JOIN c ON p.user_id = c.user_id
        |               AND c.es BETWEEN p.es - 86400 AND p.es),
        |shares AS (
        |  SELECT k AS campaign,
        |    CASE WHEN n = 1 THEN cents * 10000
        |         WHEN n = 2 THEN cents * 5000
        |         WHEN rn = 1 OR rn = n THEN cents * 4000
        |         ELSE (cents * 2000) // (n - 2) END AS share_q6
        |  FROM t
        |  UNION ALL
        |  SELECT NULL AS campaign, p.cents * 10000 AS share_q6
        |  FROM p WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.event_id = p.event_id))
        |SELECT campaign, COUNT(*) AS n_touches,
        |  CAST(SUM(share_q6) AS DOUBLE) / 1.0e6 AS attributed_value
        |FROM shares GROUP BY campaign ORDER BY campaign ASC NULLS FIRST""".stripMargin,
    "evt_attribution_linear" ->
      """WITH ev AS (SELECT user_id, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS es, event_type,
        |    CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents,
        |    CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events),
        |p AS (SELECT user_id, event_id, es, cents FROM ev WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, es, k FROM ev WHERE event_type = 'click'),
        |t AS (SELECT p.event_id, p.cents, c.k
        |      FROM p JOIN c ON p.user_id = c.user_id
        |                   AND c.es BETWEEN p.es - 86400 AND p.es),
        |n AS (SELECT event_id, COUNT(*) AS n FROM t GROUP BY 1),
        |shares AS (
        |  SELECT t.k AS campaign, (t.cents * 10000) // n.n AS share_q6
        |  FROM t JOIN n ON t.event_id = n.event_id
        |  UNION ALL
        |  SELECT NULL AS campaign, p.cents * 10000 AS share_q6
        |  FROM p WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.event_id = p.event_id))
        |SELECT campaign, COUNT(*) AS n_touches,
        |  CAST(SUM(share_q6) AS DOUBLE) / 1.0e6 AS attributed_value
        |FROM shares GROUP BY campaign ORDER BY campaign ASC NULLS FIRST""".stripMargin,
    "evt_attribution" ->
      """WITH ev AS (SELECT user_id, event_id, ts, event_type, value,
        |    CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events),
        |lc AS (SELECT *,
        |    last_value(CASE WHEN event_type = 'click'
        |                    THEN struct_pack(cts := ts, ck := k) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click
        |  FROM ev),
        |p AS (SELECT value,
        |    CASE WHEN last_click IS NOT NULL
        |          AND CAST(floor(epoch(ts)) AS BIGINT)
        |              - CAST(floor(epoch((last_click).cts)) AS BIGINT) <= 86400
        |         THEN (last_click).ck END AS campaign
        |  FROM lc WHERE event_type = 'purchase')
        |SELECT campaign, COUNT(*) AS n_purchases,
        |  CAST(SUM(CAST(value AS DECIMAL(15,2))) AS DOUBLE) AS attributed_value
        |FROM p GROUP BY campaign ORDER BY campaign ASC NULLS FIRST""".stripMargin,
    "evt_vwap" ->
      """WITH p AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
        |    CAST(CAST(value AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) + 1 AS qty
        |  FROM events WHERE event_type = 'purchase')
        |SELECT bucket, COUNT(*) AS n_trades,
        |  CAST(SUM(qty) AS BIGINT) AS total_qty,
        |  CAST(SUM(cents * qty) AS BIGINT) AS notional_cents,
        |  CAST(SUM(cents * qty) AS DOUBLE) / (CAST(SUM(qty) AS DOUBLE) * 1.0e2) AS vwap
        |FROM p GROUP BY bucket ORDER BY bucket""".stripMargin,
    "evt_debounce" ->
      """WITH k AS (
        |  SELECT event_type, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id, event_type
        |                            ORDER BY ts, event_id) IS NULL
        |           OR CAST(floor(epoch(ts)) AS BIGINT)
        |              - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id, event_type
        |                                               ORDER BY ts, event_id))) AS BIGINT) > 300
        |         THEN 1 ELSE 0 END AS kept
        |  FROM events)
        |SELECT event_type,
        |  COUNT(*) AS n_total,
        |  CAST(SUM(kept) AS BIGINT) AS n_kept,
        |  COUNT(*) - CAST(SUM(kept) AS BIGINT) AS n_dropped,
        |  CAST(SUM(CASE WHEN kept = 1 THEN CAST(value AS DECIMAL(15,2)) END) AS DOUBLE) AS kept_value
        |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin,
    "evt_sliding_15m" ->
      """WITH e AS (SELECT ts, event_type, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
        |w AS (SELECT
        |    TIMESTAMP '1970-01-01 00:00:00'
        |      + to_seconds((es - es % 900) - 900 * g.i) AS win_start,
        |    event_type, value
        |  FROM e CROSS JOIN (SELECT unnest(range(4)) AS i) g)
        |SELECT win_start, event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(15,2))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "evt_tumbling_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket, event_type,
        |  COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(15,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "evt_interarrival" ->
      """WITH g AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT)
        |      - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) AS gap
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id))
        |SELECT event_type, LEAST(gap // 60, 60) AS bucket_min,
        |  CAST(COUNT(*) AS BIGINT) AS n_gaps
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY 1, 2 ORDER BY event_type, bucket_min""".stripMargin,
    "evt_peak_concurrency" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
        |         THEN 1 ELSE 0 END AS is_break
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, event_id, ts,
        |    CAST(SUM(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM marked),
        |s AS (SELECT user_id, session_id, MIN(ts) AS st, MAX(ts) AS en
        |      FROM sessions GROUP BY 1, 2),
        |d AS (SELECT st AS t, 1 AS d FROM s
        |      UNION ALL SELECT en + INTERVAL 1 SECOND, -1 FROM s),
        |net AS (SELECT t, CAST(SUM(d) AS BIGINT) AS nd FROM d GROUP BY 1),
        |run AS (SELECT strftime(CAST(t AS DATE), '%Y-%m-%d') AS day,
        |    SUM(nd) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |                  AND CURRENT ROW) AS conc
        |  FROM net)
        |SELECT day, CAST(MAX(conc) AS BIGINT) AS peak_concurrency
        |FROM run GROUP BY day ORDER BY day""".stripMargin,
    "evt_sessionize" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
        |         THEN 1 ELSE 0 END AS is_break
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, event_id, ts, value,
        |    CAST(SUM(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM marked)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  CAST(SUM(CAST(value AS DECIMAL(15,2))) AS DOUBLE) AS session_value
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "evt_session_window_native" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS is_break
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    SUM(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(15,2))) AS DOUBLE) AS session_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "evt_asof_last_error" ->
      """WITH ce AS (SELECT user_id, event_id, event_type, ts FROM events
        |            WHERE event_type IN ('click', 'error')),
        |marked AS (SELECT user_id, event_id, event_type, ts,
        |    MAX(CASE WHEN event_type = 'error' THEN ts END) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_error_ts
        |  FROM ce)
        |SELECT user_id, event_id, ts, last_error_ts,
        |  CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(last_error_ts)) AS BIGINT) AS gap_s
        |FROM marked WHERE event_type = 'click'
        |ORDER BY user_id, ts, event_id""".stripMargin,
    "evt_next_purchase" ->
      """WITH cp AS (SELECT user_id, event_id, event_type, ts FROM events
        |            WHERE event_type IN ('click', 'purchase')),
        |marked AS (SELECT user_id, event_id, event_type, ts,
        |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_purchase_ts
        |  FROM cp)
        |SELECT user_id, event_id, ts, next_purchase_ts,
        |  CAST(floor(epoch(next_purchase_ts)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) AS wait_s
        |FROM marked WHERE event_type = 'click'
        |ORDER BY user_id, ts, event_id""".stripMargin,
    "evt_pattern_match" ->
      """WITH cp AS (SELECT user_id, event_id, event_type, ts FROM events
        |            WHERE event_type IN ('click', 'purchase')),
        |m AS (SELECT user_id, event_id, event_type, ts,
        |    lead(event_type, 1) OVER w AS t1,
        |    lead(event_type, 2) OVER w AS t2,
        |    lead(ts, 2) OVER w AS ts2
        |  FROM cp WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id AS start_event_id, ts AS start_ts,
        |  ts2 AS purchase_ts,
        |  CAST(floor(epoch(ts2)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) AS span_s
        |FROM m
        |WHERE event_type = 'click' AND t1 = 'click' AND t2 = 'purchase'
        |  AND CAST(floor(epoch(ts2)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) <= 86400
        |ORDER BY user_id, start_ts, start_event_id""".stripMargin,
    "evt_gap_fill" ->
      """WITH ev AS (SELECT user_id, date_trunc('hour', ts) AS bucket, value
        |            FROM events WHERE user_id <= 5),
        |hourly AS (SELECT user_id, bucket,
        |    CAST(SUM(CAST(value AS DECIMAL(15,2))) AS DOUBLE) AS hour_value,
        |    COUNT(*) AS n_events
        |  FROM ev GROUP BY 1, 2),
        |spans AS (SELECT user_id, MIN(bucket) AS h0, MAX(bucket) AS h1
        |          FROM ev GROUP BY 1),
        |grid AS (SELECT user_id,
        |           unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS bucket
        |         FROM spans)
        |SELECT g.user_id, g.bucket,
        |  CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
        |  hour_value,
        |  last_value(hour_value IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
        |FROM grid g LEFT JOIN hourly h
        |  ON g.user_id = h.user_id AND g.bucket = h.bucket
        |ORDER BY g.user_id, g.bucket""".stripMargin,
    "evt_range_join_sessions" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
        |         THEN 1 ELSE 0 END AS is_break
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, event_id, ts,
        |    CAST(SUM(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM marked),
        |sessions AS (
        |  SELECT user_id AS s_user, session_id,
        |    MIN(ts) AS session_start, MAX(ts) AS session_end
        |  FROM sess GROUP BY user_id, session_id
        |  HAVING COUNT(*) >= 2)
        |SELECT s.s_user AS user_id, s.session_id, COUNT(*) AS n_other_events
        |FROM sessions s JOIN events e
        |  ON e.ts >= s.session_start AND e.ts <= s.session_end
        |  AND e.user_id <> s.s_user
        |GROUP BY s.s_user, s.session_id
        |ORDER BY user_id, session_id""".stripMargin
  )
}
