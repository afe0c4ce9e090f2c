package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** Invariants and differential checks for the round-5 extension batch:
  * rolling median, Markov transitions, lexical diversity, and
  * skewness/kurtosis from exact power sums. */
class Round5bSpec extends SparkSpec {

  test("rolling median stays inside the frame's min/max and matches a " +
    "brute-force window recompute") {
    val med = Windows.rollingMedianOrders(spark, sfDir)
    val base = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-4, 0)
    val mm = base
      .withColumn("lo", min(col("o_totalprice")).over(w))
      .withColumn("hi", max(col("o_totalprice")).over(w))
      .select(col("o_orderkey"), col("lo"), col("hi"))
    val joined = med.join(mm, "o_orderkey")
    val viol = joined.filter(
      col("rolling_median") < col("lo") - 1e-9 ||
        col("rolling_median") > col("hi") + 1e-9).count()
    assert(viol == 0, s"$viol rolling medians escape their frame bounds")
    assert(med.count() == base.count())
  }

  test("markov transition counts: per-from totals are consistent and the " +
    "grand total is n_events - n_users(with events)") {
    val m = Behavioral.markovTransitions(spark, sfDir).collect()
    val byFrom = m.groupBy(_.getAs[String]("from_type"))
    byFrom.foreach { case (_, rows) =>
      val tot = rows.map(_.getAs[Long]("n_trans")).sum
      rows.foreach(r => assert(r.getAs[Long]("from_total") == tot))
    }
    val grand = m.map(_.getAs[Long]("n_trans")).sum
    val ev = Tables.events(spark, sfDir)
    val expected = ev.count() - ev.select(col("user_id")).distinct().count()
    assert(grand == expected, s"grand=$grand expected=$expected")
  }

  test("diversity invariants: ttr in (0,1], simpson in [0,1), and the " +
    "three measures agree through the sum-of-squares identity") {
    val d = TextAnalysis.diversity(spark, sfDir).collect()
    d.foreach { r =>
      val n = r.getAs[Long]("n_tokens").toDouble
      val ttr = r.getAs[Double]("ttr")
      val simp = r.getAs[Double]("simpson_diversity")
      assert(ttr > 0 && ttr <= 1.0)
      assert(simp >= 0 && simp < 1.0)
      if (n > 1) {
        // sum_c2 = n^2 (1 - simpson); repeat = (sum_c2 - n) / (n (n-1))
        val sumC2 = n * n * (1.0 - simp)
        val expect = (sumC2 - n) / (n * (n - 1))
        assert(math.abs(r.getAs[Double]("repeat_rate") - expect) < 1e-9)
      }
    }
  }

  test("span dedup equals a naive string-span grouping and accounts for " +
    "every 8-token window") {
    val d = Dedup.spanDedup(spark, sfDir)
    // Naive recompute on raw span STRINGS (no hashing): same multiplicity.
    val spans = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .select(col("doc_id"), explode(expr(
        """if(size(toks) < 8, array(),
          |  transform(sequence(0, size(toks) div 8 - 1),
          |    i -> concat_ws(' ', slice(toks, i*8+1, 8))))""".stripMargin)).as("s"))
    val mult = spans.groupBy("s").agg(count(lit(1)).as("m"))
    val naive = spans.join(mult, "s").groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("m") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
    val mismatches = d.filter(col("n_spans") > 0)
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"))
      .exceptAll(naive).count()
    assert(mismatches == 0, s"$mismatches docs disagree with naive span grouping")
    // Total spans = sum over docs of len div 8.
    val totalSpans = d.agg(sum(col("n_spans"))).head.getLong(0)
    val expected = Tables.documents(spark, sfDir)
      .select(expr("size(split(text, '\\\\s+')) div 8").cast("long").as("k"))
      .agg(sum(col("k"))).head.getLong(0)
    assert(totalSpans == expected)
  }

  test("inverted index: df <= cf, cf sums to the token stream size, and " +
    "the postings head is a sorted prefix of df") {
    val idx = TextAnalysis.invertedIndex(spark, sfDir).collect()
    idx.foreach { r =>
      val cf = r.getAs[Long]("cf"); val df = r.getAs[Long]("df")
      assert(df <= cf && df >= 1)
      val head = r.getAs[String]("postings_head").split(",").map(_.toLong)
      assert(head.length == math.min(df, 5L))
      assert(head.sorted.sameElements(head), "postings head not sorted")
    }
    val totalCf = idx.map(_.getAs[Long]("cf")).sum
    val expected = Tables.documents(spark, sfDir)
      .select(expr("size(filter(split(text, '\\\\s+'), t -> t <> ''))")
        .cast("long").as("k"))
      .agg(sum(col("k"))).head.getLong(0)
    assert(totalCf == expected)
  }

  test("RFM: scores in 1..4, segment rules hold, purchases bounded by events") {
    val rfm = Behavioral.rfmSegments(spark, sfDir).collect()
    assert(rfm.length == Tables.events(spark, sfDir)
      .select(col("user_id")).distinct().count())
    rfm.foreach { r =>
      val (rs, fs, ms) = (r.getAs[Int]("r_score"), r.getAs[Int]("f_score"),
        r.getAs[Int]("m_score"))
      assert(Seq(rs, fs, ms).forall(s => s >= 1 && s <= 4))
      assert(r.getAs[Long]("n_purchases") <= r.getAs[Long]("n_events"))
      assert(r.getAs[Long]("recency_d") >= 0)
      assert(r.getAs[Double]("monetary") >= 0.0)
      val seg = r.getAs[String]("segment")
      val expect =
        if (rs >= 3 && fs >= 3 && ms >= 3) "champion"
        else if (rs >= 3 && fs <= 2) "new"
        else if (rs <= 2 && fs >= 3) "at_risk"
        else "hibernating"
      assert(seg == expect)
    }
  }

  test("collocations: counts >= 5, unigram counts dominate bigram counts, " +
    "lift agrees with the count identity") {
    val c = TextAnalysis.collocations(spark, sfDir).collect()
    val nTotal = Tables.documents(spark, sfDir)
      .select(expr("size(filter(split(text, '\\\\s+'), t -> t <> ''))")
        .cast("long").as("k"))
      .agg(sum(col("k"))).head.getLong(0)
    c.foreach { r =>
      val (nxy, nx, ny) = (r.getAs[Long]("n_xy"), r.getAs[Long]("n_x"),
        r.getAs[Long]("n_y"))
      assert(nxy >= 5 && nx >= nxy && ny >= nxy)
      val lift = r.getAs[Double]("lift")
      assert(math.abs(lift - (nxy * nTotal).toDouble / (nx * ny).toDouble) < 1e-12)
    }
  }

  test("EWMA: first event equals its value, later values stay inside the " +
    "frame's min/max hull") {
    val e = Windows.ewmaValueByUser(spark, sfDir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val withBounds = e
      .withColumn("rn", row_number().over(w))
      .withColumn("lo", min(col("value")).over(w.rowsBetween(-15, 0)))
      .withColumn("hi", max(col("value")).over(w.rowsBetween(-15, 0)))
    assert(withBounds.filter(col("rn") === 1 && col("ewma") =!= col("value"))
      .count() == 0, "first event's ewma should equal its value")
    assert(withBounds.filter(
      col("ewma") < col("lo") - 1e-9 || col("ewma") > col("hi") + 1e-9)
      .count() == 0, "ewma escaped the frame hull")
  }

  test("mix quota: quotas sum to at most the budget and the greedy fill " +
    "overshoots by less than one document") {
    val m = TrainingPipeline.mixQuota(spark, sfDir).collect()
    assert(m.map(_.getAs[Long]("quota")).sum <= 50000L)
    val maxDoc = Tables.documents(spark, sfDir)
      .select(expr("cast(size(split(text, '\\\\s+')) as bigint)").as("k"))
      .agg(max(col("k"))).head.getLong(0)
    m.foreach { r =>
      val (quota, selToks) = (r.getAs[Long]("quota"), r.getAs[Long]("n_sel_toks"))
      if (quota > 0) {
        assert(r.getAs[Long]("n_sel_docs") >= 1)
        // greedy rule: last selected doc STARTS below quota
        assert(selToks < quota + maxDoc, "overshoot exceeds one document")
        assert(selToks >= math.min(quota, r.getAs[Long]("src_toks")) ||
          selToks >= quota, "quota underfilled despite available tokens")
      }
    }
  }

  test("exact-integer outlier flags match a BigInt recompute of the " +
    "cross-multiplied 3-sigma rule") {
    val got = Behavioral.outliers(spark, sfDir).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n"), r.getAs[Long]("n_outliers"))).toMap
    val events = Tables.events(spark, sfDir)
      .selectExpr("user_id", "cast(cast(value as decimal(15,2)) * 100 as long) as cents")
      .collect().map(r => (r.getLong(0), BigInt(r.getLong(1))))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    events.foreach { case (u, xs) =>
      val n = BigInt(xs.length); val sx = xs.sum; val sxx = xs.map(x => x * x).sum
      val varn2 = n * sxx - sx * sx
      val nOut = xs.count(x => { val d = n * x - sx; d * d > 9 * varn2 })
      assert(got(u) == (xs.length.toLong, nOut.toLong), s"user $u mismatch")
    }
  }

  test("streaks: islands recompute matches, and totals are consistent") {
    val got = Behavioral.streaks(spark, sfDir).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_active_days"), r.getAs[Long]("n_streaks"),
          r.getAs[Long]("longest_streak"), r.getAs[String]("longest_start"))).toMap
    val days = Tables.events(spark, sfDir)
      .selectExpr("user_id", "cast(cast(ts as date) as string) as day").distinct()
      .collect().map(r => (r.getLong(0), java.time.LocalDate.parse(r.getString(1))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_.toEpochDay)).toMap
    days.foreach { case (u, ds) =>
      val runs = scala.collection.mutable.ArrayBuffer.empty[(java.time.LocalDate, Long)]
      var start = ds.head; var len = 1L
      ds.sliding(2).filter(_.length == 2).foreach { pair =>
        val (a, b) = (pair(0), pair(1))
        if (b.toEpochDay == a.toEpochDay + 1) len += 1
        else { runs += ((start, len)); start = b; len = 1 }
      }
      runs += ((start, len))
      val longest = runs.map(_._2).max
      val firstLongest = runs.filter(_._2 == longest).map(_._1).minBy(_.toEpochDay)
      assert(got(u) == (ds.length.toLong, runs.length.toLong, longest,
        firstLongest.toString), s"user $u streak mismatch")
    }
  }

  test("exact-power-sum OLS trend matches Spark's built-in regr_slope / " +
    "regr_intercept within float tolerance") {
    val ours = AdvancedAggs.olsTrend(spark, sfDir).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (Option(r.getAs[java.lang.Double]("slope_cents_per_s")),
          Option(r.getAs[java.lang.Double]("intercept_cents")))).toMap
    val ref = Tables.events(spark, sfDir)
      .selectExpr("user_id", "cast(ts as long) as es",
        "cast(cast(value as decimal(15,2)) * 100 as long) as cents")
      .withColumn("x", col("es") - min(col("es")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))))
      .groupBy("user_id")
      .agg(expr("regr_slope(cents, x)").as("s"),
        expr("regr_intercept(cents, x)").as("i"))
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        (Option(r.getAs[java.lang.Double]("s")),
          Option(r.getAs[java.lang.Double]("i")))).toMap
    assert(ours.keySet == ref.keySet)
    ours.foreach { case (u, (s, i)) =>
      (s, ref(u)._1) match {
        case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-6,
          s"slope mismatch for user $u: $a vs $b")
        case _ => // degenerate x-variance users: both engines may emit null
      }
      (i, ref(u)._2) match {
        case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-4,
          s"intercept mismatch for user $u: $a vs $b")
        case _ =>
      }
    }
  }

  test("exact-power-sum skewness/kurtosis matches Spark's built-in " +
    "population moments within float tolerance") {
    val ours = AdvancedAggs.skewKurtQty(spark, sfDir).collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Double]("skew_qty"), r.getAs[Double]("kurt_qty"))).toMap
    // Spark's skewness/kurtosis are the same population definitions
    // (g1 = m3/m2^1.5, excess g2 = m4/m2^2 - 3) computed with streaming
    // float partials — equal up to accumulation noise.
    val ref = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(skewness(col("l_quantity")).as("s"), kurtosis(col("l_quantity")).as("k"))
      .collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Double]("s"), r.getAs[Double]("k"))).toMap
    assert(ours.keySet == ref.keySet)
    ours.foreach { case (flag, (s, k)) =>
      assert(math.abs(s - ref(flag)._1) < 1e-6, s"skew mismatch for $flag")
      assert(math.abs(k - ref(flag)._2) < 1e-6, s"kurt mismatch for $flag")
    }
  }
}
