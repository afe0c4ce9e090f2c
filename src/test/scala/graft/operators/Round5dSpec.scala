package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** Invariants and differential checks for the round-5d batch: exact HLL,
  * Mann-Kendall, attribution, drawdown, Gini, Benford, bot screening,
  * RAKE, readability, CMS probe, heatmap, and column profiling. */
class Round5dSpec extends SparkSpec {

  test("exact HLL: harmonic numerator consistent with the register table, " +
    "registers in range, and the small-range linear-counting estimate " +
    "(which applies at sf0.001's tiny cardinality) lands within 30%") {
    val regs = AdvancedAggs.hllRegisters(spark, sfDir).collect()
    assert(regs.length == 64)
    assert(regs.forall { r =>
      val m = r.getAs[Int]("max_rank"); m >= 0 && m <= 55
    })
    val est = AdvancedAggs.hllEstimate(spark, sfDir).head()
    val fromRegs = regs.map(r => 1L << (55 - r.getAs[Int]("max_rank"))).sum
    assert(est.getAs[Long]("harmonic_num") == fromRegs)
    val exact = est.getAs[Long]("exact_distinct").toDouble
    assert(est.getAs[Double]("estimate_raw") > 0.0)
    // sf0.001 has ~15 users — deep in HLL's small-range regime, where the
    // published algorithm switches to linear counting over the zero
    // registers; check THAT estimator against truth (the raw estimate is
    // only accurate above ~2.5·m and is oracle-gated for equality anyway)
    val nZero = est.getAs[Long]("n_zero").toDouble
    assert(nZero > 0)
    val linear = 64.0 * math.log(64.0 / nZero)
    assert(math.abs(linear - exact) / exact < 0.30,
      s"linear-counting $linear vs exact $exact drifts > 30%")
  }

  test("Mann-Kendall S is bounded by the pair count and matches a direct " +
    "recompute on one flag") {
    val mk = AdvancedAggs.mannKendall(spark, sfDir).collect()
    mk.foreach { r =>
      val n = r.getAs[Long]("n_months")
      val s = r.getAs[Long]("s_stat")
      assert(math.abs(s) <= n * (n - 1) / 2)
      assert(r.getAs[Long]("var_s_x18") >= 0)
    }
    // direct recompute for the lexicographically first flag
    val series = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"), date_trunc("month", col("l_shipdate")).as("mon"))
      .agg(sum((col("l_extendedprice").cast("decimal(15,2)") * 100)
        .cast("long")).as("rev"))
      .filter(col("l_returnflag") === mk.head.getString(0))
      .orderBy("mon").collect().map(_.getAs[Long]("rev"))
    val sDirect = (for {
      i <- series.indices; j <- (i + 1) until series.length
    } yield java.lang.Long.signum(series(j) - series(i)).toLong).sum
    assert(sDirect == mk.head.getAs[Long]("s_stat"))
  }

  test("attribution: purchase buckets sum to the purchase count, and every " +
    "attributed campaign is a real click campaign") {
    val a = Events.attribution(spark, sfDir).collect()
    val nPurch = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase").count()
    assert(a.map(_.getAs[Long]("n_purchases")).sum == nPurch)
    val ks = Tables.events(spark, sfDir).filter(col("event_type") === "click")
      .select(get_json_object(col("props"), "$.k").cast("int")).distinct()
      .collect().map(_.getInt(0)).toSet
    a.filter(!_.isNullAt(0)).foreach(r => assert(ks.contains(r.getInt(0))))
  }

  test("drawdown: non-negative, zero exactly when at a fresh peak, and the " +
    "peak is the running max of cum") {
    val rows = Windows.drawdownByUser(spark, sfDir).collect()
    rows.foreach { r =>
      val dd = r.getAs[Long]("drawdown_cents")
      assert(dd >= 0)
      assert((dd == 0) == (r.getAs[Long]("cum_cents") == r.getAs[Long]("peak_cents")))
    }
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    byUser.values.foreach { rs =>
      var peak = Long.MinValue
      rs.foreach { r => // collect() preserves the query's ORDER BY
        peak = math.max(peak, r.getAs[Long]("cum_cents"))
        assert(r.getAs[Long]("peak_cents") == peak)
      }
    }
  }

  test("Gini matches a direct closed-form recompute and sits in [0, 1)") {
    val g = Behavioral.giniValue(spark, sfDir).collect()
    g.foreach { r =>
      val gini = r.getAs[Double]("gini")
      assert(gini >= 0.0 && gini < 1.0)
    }
    val byType = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum((col("value").cast("decimal(15,2)") * 100).cast("long")).as("c"))
      .collect().groupBy(_.getString(0))
    g.foreach { r =>
      val xs = byType(r.getString(0))
        .map(x => (x.getAs[Long]("c"), x.getAs[Long]("user_id")))
        .sortBy(identity).map(_._1)
      val n = xs.length.toLong
      val sx = xs.sum
      val six = xs.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
      val direct = (2L * six - (n + 1) * sx).toDouble / (n * sx).toDouble
      assert(direct == r.getAs[Double]("gini"))
    }
  }

  test("Benford: digits are 1-9, shares sum to 1 within 1e-9, counts " +
    "cover every lineitem") {
    val b = AdvancedAggs.benfordPrices(spark, sfDir).collect()
    assert(b.forall(r => "123456789".contains(r.getAs[String]("digit"))))
    assert(b.map(_.getAs[Long]("n")).sum ==
      Tables.lineitem(spark, sfDir).count())
    assert(math.abs(b.map(_.getAs[Double]("share")).sum - 1.0) < 1e-9)
  }

  test("bot screening: bursts are between 1 and n_events, and is_bot " +
    "matches the threshold rule") {
    Behavioral.botDetection(spark, sfDir).collect().foreach { r =>
      val burst = r.getAs[Long]("max_burst_60s")
      assert(burst >= 1 && burst <= r.getAs[Long]("n_events"))
      assert(r.getAs[Boolean]("is_bot") == (burst >= 5))
    }
  }

  test("RAKE: at most 3 keywords per doc with rank exactly 1..k, every " +
    "phrase is stopword-free and non-empty") {
    val stop = Set("der", "die", "das", "und", "ist", "the", "a", "of",
      "and", "to", "el", "la", "de", "los", "que", "le", "les", "et",
      "des", "un", "的", "是", "了", "在", "我")
    val rows = TextAnalysis.rakeKeywords(spark, sfDir).collect()
    rows.groupBy(_.getAs[Long]("doc_id")).values.foreach { rs =>
      val rnks = rs.map(_.getAs[Long]("rnk")).sorted
      assert(rnks.length <= 3 && rnks.sameElements(1L to rnks.length))
    }
    rows.foreach { r =>
      val ws = r.getAs[String]("phrase").split(" ")
      assert(ws.nonEmpty && ws.forall(w => w.nonEmpty && !stop(w)))
      assert(r.getAs[Long]("score_q6") >= 1000000L,
        "every word scores deg/freq >= 1")
    }
  }

  test("readability: flesch recomputes from the row's own counts with the " +
    "same IEEE expression") {
    TextAnalysis.readability(spark, sfDir).collect().foreach { r =>
      val w = r.getAs[Long]("n_words").toDouble
      val s = r.getAs[Long]("n_sentences").toDouble
      val sy = r.getAs[Long]("n_syllables").toDouble
      assert(r.getAs[Double]("flesch") == 206.835 - 1.015 * (w / s) - 84.6 * (sy / w))
    }
  }

  test("CMS probe: estimates never undercount, and the top-10 candidates " +
    "are the true top-10 by exact count") {
    val p = AdvancedAggs.cmsTopkProbe(spark, sfDir).collect()
    assert(p.length == 10)
    p.foreach(r => assert(r.getAs[Long]("overestimate") >= 0))
    val trueTop = Tables.events(spark, sfDir).groupBy("user_id").count()
      .orderBy(col("count").desc, col("user_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    assert(p.map(_.getAs[Long]("user_id")).toSet == trueTop)
  }

  test("heatmap: cells cover all events exactly once and shares sum to 1") {
    val h = Behavioral.activityHeatmap(spark, sfDir).collect()
    assert(h.map(_.getAs[Long]("n_events")).sum ==
      Tables.events(spark, sfDir).count())
    assert(h.forall { r =>
      val d = r.getAs[Int]("iso_dow"); d >= 1 && d <= 7
    })
    assert(math.abs(h.map(_.getAs[Double]("share")).sum - 1.0) < 1e-9)
  }

  test("growth accounting: active = new + retained + resurrected, and " +
    "churned(w) = active(w-1wk) - retained(w) on interior weeks") {
    val g = Behavioral.growthAccounting(spark, sfDir).collect()
    g.foreach { r =>
      assert(r.getAs[Long]("n_active") == r.getAs[Long]("n_new") +
        r.getAs[Long]("n_retained") + r.getAs[Long]("n_resurrected"))
    }
    val byWeek = g.map(r => r.getAs[String]("week") -> r).toMap
    val fmt = java.time.LocalDate.parse(_: String)
    g.foreach { r =>
      val prev = fmt(r.getAs[String]("week")).minusDays(7).toString
      byWeek.get(prev).foreach { p =>
        assert(r.getAs[Long]("n_churned") ==
          p.getAs[Long]("n_active") - r.getAs[Long]("n_retained"))
      }
    }
  }

  test("month-over-month change: delta telescopes (prev matches the " +
    "previous row's rev) and pct is null exactly on first months") {
    val rows = Windows.momChange(spark, sfDir).collect()
    rows.groupBy(_.getString(0)).values.foreach { rs =>
      rs.sliding(2).foreach {
        case Array(a, b) => // collect() preserves the query's ORDER BY
          assert(b.getAs[Long]("prev_cents") == a.getAs[Long]("rev_cents"))
        case _ =>
      }
      assert(rs.head.isNullAt(rs.head.fieldIndex("pct_change")))
      assert(rs.tail.forall(!_.isNullAt(rs.head.fieldIndex("pct_change"))))
    }
  }

  test("linear attribution conserves value up to flooring: attributed " +
    "total within n micro-units below the purchase total, never above") {
    val rows = Events.attributionLinear(spark, sfDir).collect()
    val attributed = rows.map(_.getAs[Double]("attributed_value")).sum
    val nTouches = rows.map(_.getAs[Long]("n_touches")).sum
    val total = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .agg(sum(col("value").cast("decimal(15,2)"))).head()
      .getDecimal(0).doubleValue()
    assert(attributed <= total + 1e-9)
    assert(total - attributed <= nTouches * 1e-6 + 1e-9,
      s"lost more than flooring can explain: $total vs $attributed")
  }

  test("equi-depth deciles: boundaries non-decreasing in d, and each cut " +
    "covers at least d/10 of the rows") {
    val d = AdvancedAggs.equidepthDeciles(spark, sfDir).collect()
    d.groupBy(_.getString(0)).values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("d"))
      assert(sorted.map(_.getAs[Double]("boundary")).sliding(2).forall {
        case Array(a, b) => a <= b
        case _ => true
      })
      sorted.foreach { r =>
        val below = Tables.lineitem(spark, sfDir)
          .filter(col("l_returnflag") === r.getString(0) &&
            col("l_extendedprice") <= r.getAs[Double]("boundary")).count()
        assert(below * 10 >= r.getAs[Int]("d") * r.getAs[Long]("n_rows"))
      }
    }
  }

  test("survival curve: starts at or below 1, non-increasing in day, " +
    "risk set shrinks, and survival recomputes from its own counts") {
    val s = Behavioral.survivalCurve(spark, sfDir).collect()
    s.groupBy(_.getString(0)).values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("day"))
      var prevSurv = 1.0
      var prevRisk = Long.MaxValue
      var prod = 1.0
      sorted.foreach { r =>
        val surv = r.getAs[Double]("survival")
        val risk = r.getAs[Long]("n_risk")
        assert(surv <= prevSurv + 1e-12, "survival must be non-increasing")
        assert(risk <= prevRisk, "risk set must shrink")
        prod *= (if (risk > 0)
          1.0 - r.getAs[Long]("n_conv").toDouble / risk else 1.0)
        assert(prod == surv, "fold must equal sequential recompute")
        prevSurv = surv; prevRisk = risk
      }
    }
  }

  test("containment: prefix-filtered pairs equal a brute-force all-pairs " +
    "recompute, and every pair is directional with ratio >= 0.9") {
    val out = Dedup.containmentPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    out.values.foreach(c => assert(c >= 0.9 && c <= 1.0))
    // brute force over the same shingle sets
    val sets = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        expr("shingle_hashes(split(text, '\\\\s+'))").as("hs"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet)
    val naive = (for {
      (a, sa) <- sets; (b, sb) <- sets if a != b
      common = (sa & sb).size
      if common * 10 >= sa.size * 9
    } yield (a, b) -> common.toDouble / sa.size).toMap
    assert(out == naive,
      s"only-query=${out.keySet -- naive.keySet} only-naive=${naive.keySet -- out.keySet}")
  }

  test("U-shaped attribution conserves value up to flooring, like linear") {
    val rows = Events.attributionUShaped(spark, sfDir).collect()
    val attributed = rows.map(_.getAs[Double]("attributed_value")).sum
    val nTouches = rows.map(_.getAs[Long]("n_touches")).sum
    val total = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .agg(sum(col("value").cast("decimal(15,2)"))).head()
      .getDecimal(0).doubleValue()
    assert(attributed <= total + 1e-9)
    assert(total - attributed <= nTouches * 1e-6 + 1e-9)
  }

  test("autocorrelation sits in [-1, 1]; Tukey fences are ordered and " +
    "outliers are a strict minority") {
    AdvancedAggs.autocorrRevenue(spark, sfDir).collect().foreach { r =>
      if (!r.isNullAt(r.fieldIndex("autocorr_r1"))) {
        val a = r.getAs[Double]("autocorr_r1")
        assert(a >= -1.0 - 1e-12 && a <= 1.0 + 1e-12)
      }
    }
    AdvancedAggs.tukeyOutliers(spark, sfDir).collect().foreach { r =>
      assert(r.getAs[Double]("p25") <= r.getAs[Double]("p75"))
      assert(r.getAs[Long]("n_low") + r.getAs[Long]("n_high") <
        r.getAs[Long]("n_rows") / 2)
    }
  }

  test("MAD anomaly flags equal a direct Scala median recompute") {
    val flagged = Behavioral.madAnomaly(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val cells = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
      // format in-plan: collecting DateType goes through the JVM default
      // timezone and can shift the rendered day off the UTC grouping day
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"), col("c"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    def med2(xs: Seq[Long]): Long = {
      val s = xs.sorted
      s((s.length + 1) / 2 - 1) + s(s.length / 2)
    }
    // groupBy(...).flatMap over pair elements would rebuild a Map keyed by
    // event_type and silently drop all but one flagged day — toSeq first
    val naive = cells.groupBy(_._1).toSeq.flatMap { case (tpe, rs) =>
      val m2 = med2(rs.map(_._3).toSeq)
      val devs = rs.map(r => (r._2, (r._3 * 2 - m2).abs))
      val m4 = med2(devs.map(_._2).toSeq)
      devs.filter(d => d._2 * 2 > m4 * 3).map(d => (tpe, d._1)).toSeq
    }.toSet
    assert(flagged == naive)
  }

  test("script mix: classes partition the text and dominance follows the " +
    "declared CASE chain") {
    TextAnalysis.scriptMix(spark, sfDir).collect().foreach { r =>
      val Seq(total, cjk, latin, digit, space, other) =
        Seq("n_total", "n_cjk", "n_latin", "n_digit", "n_space", "n_other")
          .map(r.getAs[Long])
      assert(cjk + latin + digit + space + other == total)
      assert(other >= 0)
      val expect =
        if (cjk >= Seq(latin, digit, other).max) "cjk"
        else if (latin >= Seq(digit, other).max) "latin"
        else if (digit >= other) "digit" else "other"
      assert(r.getAs[String]("dominant") == expect)
    }
  }

  test("user features: trailing windows nest, recency bounds hold, and " +
    "totals cover every event") {
    val rows = Behavioral.userFeatures(spark, sfDir).collect()
    rows.foreach { r =>
      val Seq(total, d1, d7, d28) =
        Seq("n_total", "n_1d", "n_7d", "n_28d").map(r.getAs[Long])
      assert(d1 <= d7 && d7 <= d28 && d28 <= total)
      assert(r.getAs[Long]("recency_s") <= r.getAs[Long]("oldest_s"))
    }
    assert(rows.map(_.getAs[Long]("n_total")).sum ==
      Tables.events(spark, sfDir).count())
  }

  test("Gini impurity sits in [0, 1-1/k] and recomputes from its counts") {
    Behavioral.giniImpurity(spark, sfDir).collect().foreach { r =>
      val k = r.getAs[Long]("n_types").toDouble
      val imp = r.getAs[Double]("impurity")
      assert(imp >= 0.0 && imp <= 1.0 - 1.0 / k + 1e-12)
    }
  }

  test("market basket: support bounded by item counts, confidences in " +
    "(0,1], and lift recomputes from the row") {
    AdvancedAggs.marketBasket(spark, sfDir).collect().foreach { r =>
      val s = r.getAs[Long]("support")
      val (ca, cb) = (r.getAs[Long]("cnt_a"), r.getAs[Long]("cnt_b"))
      assert(s <= math.min(ca, cb))
      val (c1, c2) = (r.getAs[Double]("conf_a_to_b"), r.getAs[Double]("conf_b_to_a"))
      assert(c1 > 0.0 && c1 <= 1.0 && c2 > 0.0 && c2 <= 1.0)
      assert(c1 == s.toDouble / ca && c2 == s.toDouble / cb)
    }
  }

  test("dedup cascade: stages chain (kept(s) = in(s+1)), stage 1 sees the " +
    "whole corpus, attrition is non-negative") {
    val st = Dedup.dedupCascade(spark, sfDir).collect().sortBy(_.getAs[Int]("stage"))
    assert(st.length == 3)
    assert(st.head.getAs[Long]("n_in") ==
      Tables.documents(spark, sfDir).count())
    st.foreach { r =>
      assert(r.getAs[Long]("n_dropped") >= 0)
      assert(r.getAs[Long]("n_in") - r.getAs[Long]("n_dropped") ==
        r.getAs[Long]("n_kept"))
    }
    st.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("n_kept") == b.getAs[Long]("n_in"))
      case _ =>
    }
  }

  test("bounce rate: bounces never exceed sessions, sessions cover the " +
    "sessionize output, rate recomputes") {
    val b = Events.bounceRate(spark, sfDir).collect()
    val nSessions = Events.sessionize(spark, sfDir).count()
    assert(b.map(_.getAs[Long]("n_sessions")).sum == nSessions)
    b.foreach { r =>
      val (s, bo) = (r.getAs[Long]("n_sessions"), r.getAs[Long]("n_bounces"))
      assert(bo <= s)
      assert(r.getAs[Double]("bounce_rate") == bo.toDouble / s)
    }
  }

  test("argmax/argmin: the reported orders actually carry the group " +
    "extremes with min-key tiebreaks") {
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
      .collect()
      .groupBy(_.getString(0))
    AdvancedAggs.argExtremes(spark, sfDir).collect().foreach { r =>
      val rows = orders(r.getString(0))
        .map(x => (x.getDouble(1), x.getLong(2)))
      val mx = rows.filter(_._1 == rows.map(_._1).max).map(_._2).min
      val mn = rows.filter(_._1 == rows.map(_._1).min).map(_._2).min
      assert(r.getAs[Double]("max_price") == rows.map(_._1).max)
      assert(r.getAs[Long]("max_price_orderkey") == mx)
      assert(r.getAs[Double]("min_price") == rows.map(_._1).min)
      assert(r.getAs[Long]("min_price_orderkey") == mn)
    }
  }

  test("A/B test: arms partition the users and significance matches a " +
    "BigInt recompute of the cross-multiplied z-square rule") {
    val r = Behavioral.abTest(spark, sfDir).head()
    val Seq(na, ca, nb, cb) =
      Seq("n_a", "c_a", "n_b", "c_b").map(x => BigInt(r.getAs[Long](x)))
    assert((na + nb).toLong ==
      Tables.events(spark, sfDir).select("user_id").distinct().count())
    assert(r.getAs[Double]("rate_a") == ca.toDouble / na.toDouble)
    val diff = ca * nb - cb * na
    val expect = diff * diff * (na + nb) * 100 >
      BigInt(384) * na * nb * (ca + cb) * (na + nb - ca - cb)
    assert(r.getAs[Boolean]("significant_95") == expect)
  }

  test("top paths: counts descend, paths have at most 3 hops, and the " +
    "total never exceeds the session count") {
    val p = Behavioral.topPaths(spark, sfDir).collect()
    assert(p.length <= 20)
    assert(p.map(_.getAs[Long]("n_sessions")).sliding(2).forall {
      case Array(a, b) => a >= b
      case _ => true
    })
    p.foreach(r =>
      assert(r.getAs[String]("path").split(">").length <= 3))
    assert(p.map(_.getAs[Long]("n_sessions")).sum <=
      Events.sessionize(spark, sfDir).count())
  }

  test("column profile: n_distinct <= n_rows - n_nulls, and known " +
    "cardinalities hold") {
    val p = Diagnostics.columnProfile(spark, sfDir).collect()
    assert(p.length == 6)
    p.foreach { r =>
      assert(r.getAs[Long]("n_distinct") <=
        r.getAs[Long]("n_rows") - r.getAs[Long]("n_nulls"))
    }
    val langs = p.find(r => r.getAs[String]("column_name") == "lang").get
    assert(langs.getAs[Long]("n_distinct") == 5)
  }
}
