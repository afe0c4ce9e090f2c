package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-7 second wave: TextRank keywords,
  * Theil-Sen robust trend, normalized-exact dedup, salted skew join
  * parity, and peak session concurrency. Each test recomputes the
  * operator's result independently on the driver (or proves a declared
  * algebraic equivalence), never by re-running the same Spark plan. */
class Round7bSpec extends SparkSpec {

  import spark.implicits._

  // ---- TextRank ----

  test("textrank matches an independent driver recompute of weighted " +
    "integer PageRank over the co-occurrence graph") {
    // independent graph build: pure Scala over the raw documents
    val texts = graft.core.Tables.documents(spark, sfDir)
      .select("text").as[String].collect()
    val edgeCount = scala.collection.mutable.Map.empty[(String, String), Long]
    texts.foreach { t =>
      val toks = t.split("\\s+")
      toks.sliding(2).foreach {
        case Array(a, b) if a.nonEmpty && b.nonEmpty && a != b =>
          val k = if (a < b) (a, b) else (b, a)
          edgeCount(k) = edgeCount.getOrElse(k, 0L) + 1L
        case _ =>
      }
    }
    val edges = edgeCount.filter(_._2 >= 5).toSeq
    val sym = edges.flatMap { case ((a, b), n) => Seq((a, b, n), (b, a, n)) }
    val wdeg = sym.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var pr: Map[String, Long] = wdeg.map { case (w, _) => w -> 1000000L }
    for (_ <- 1 to 3) {
      val contrib = sym.groupBy(_._2).view.mapValues(_.map {
        case (u, _, n) => pr(u) * n / wdeg(u)
      }.sum).toMap
      pr = contrib.map { case (v, s) => v -> (150000L + 850L * s / 1000L) }
    }
    val expected = pr.toSeq.map { case (w, r) => (w, wdeg(w), r) }
      .sortBy { case (w, _, r) => (-r, w) }.take(20)
    val got = TextAnalysis.textrank(spark, sfDir)
      .select("word", "wdeg", "pr").as[(String, Long, Long)].collect().toSeq
    assert(got == expected)
  }

  // ---- Theil-Sen ----

  test("theil-sen median slope matches a driver recompute over monthly " +
    "counts") {
    val monthly = graft.core.Tables.orders(spark, sfDir)
      .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("m"))
      .groupBy("m").agg(count(lit(1)).as("c"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val slopes = for {
      i <- monthly.indices
      j <- (i + 1) until monthly.length
    } yield {
      val num = (monthly(j)._2 - monthly(i)._2) * 1000000L
      val den = monthly(j)._1 - monthly(i)._1
      if (num >= 0) num / den else -((-num) / den)
    }
    val sorted = slopes.sorted
    val n = sorted.length
    val expLo = sorted((n + 1) / 2 - 1)
    val expHi = sorted((n + 2) / 2 - 1)
    val row = AdvancedAggs.theilSen(spark, sfDir).collect().head
    assert(row.getAs[Long]("n_months") == monthly.length)
    assert(row.getAs[Long]("n_pairs") == n.toLong)
    assert(row.getAs[Long]("med_lo_micro") == expLo)
    assert(row.getAs[Long]("med_hi_micro") == expHi)
  }

  // ---- normalized-exact dedup ----

  test("normalization collapses case/punctuation/whitespace variants " +
    "that byte-exact dedup keeps apart") {
    val docs = Seq(
      (1L, "Hello, World!"),
      (2L, "hello   world"),
      (3L, "HELLO-world"),
      (4L, "a different doc"),
      (5L, "a different doc")).toDF("doc_id", "text")
    val rows = Dedup.normalizedDedupOf(docs)
      .select("doc_id", "n_copies", "n_raw_variants")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // group 1: three raw-distinct variants of "hello world" collapse
    assert(rows.head == ((1L, 3L, 3L)))
    // group 2: byte-exact duplicates — one raw variant
    assert(rows(1) == ((4L, 2L, 1L)))
    assert(rows.length == 2)
  }

  // ---- salted skew join ----

  test("salted join equals the plain join per segment") {
    val plain = graft.core.Tables.orders(spark, sfDir)
      .join(graft.core.Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(15,2)")).cast("double")
          .as("revenue"))
      .orderBy("c_mktsegment")
      .as[(String, Long, Double)].collect().toSeq
    // drop the advisor-reported salt_factor column (r13): the semantic
    // payload must still equal the plain join exactly
    val salted = RelationalX.saltedSkewJoin(spark, sfDir)
      .select("c_mktsegment", "n_orders", "revenue")
      .as[(String, Long, Double)].collect().toSeq
    assert(salted == plain)
  }

  // ---- Heaps' law ----

  test("heaps law checkpoints match a driver recompute and vocabulary " +
    "growth is monotone") {
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val maxId = docs.map(_._1).max
    val cps = (1 to 10).map(i => i * maxId / 10)
    val expected = cps.map { cp =>
      val in = docs.filter(_._1 <= cp)
      val toks = in.flatMap(_._2.split("\\s+").filter(_.nonEmpty))
      (cp, toks.length.toLong, toks.distinct.length.toLong)
    }
    val got = TextAnalysis.heapsLaw(spark, sfDir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.map(_._3) == got.map(_._3).sorted,
      "vocabulary must be nondecreasing across checkpoints")
  }

  // ---- inter-arrival histogram ----

  test("inter-arrival histogram matches a driver recompute") {
    val ev = graft.core.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts").cast("double").as("tsd"), col("ts").cast("long").as("es"))
      .as[(Long, String, Long, Double, Long)].collect()
    val hist = scala.collection.mutable.Map.empty[(String, Long), Long]
    ev.groupBy(r => (r._1, r._2)).foreach { case ((_, typ), rows) =>
      val sorted = rows.sortBy(r => (r._4, r._3))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val bucket = math.min((b._5 - a._5) / 60L, 60L)
          hist((typ, bucket)) = hist.getOrElse((typ, bucket), 0L) + 1L
        case _ =>
      }
    }
    val got = Events.interarrival(spark, sfDir)
      .as[(String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got == hist.toMap)
  }

  // ---- trimmed mean ----

  test("trimmed mean drops exactly the top and bottom 5% per priority") {
    val base = graft.core.Tables.orders(spark, sfDir)
      .select(col("o_orderpriority"),
        (col("o_totalprice").cast("decimal(15,2)") * 100).cast("long"))
      .as[(String, Long)].collect()
    val got = AdvancedAggs.trimmedMean(spark, sfDir)
      .select("o_orderpriority", "n_kept", "sum_cents", "mean_cents_milli")
      .as[(String, Long, Long, Long)].collect()
    got.foreach { case (p, nKept, sumCents, meanMilli) =>
      val vals = base.filter(_._1 == p).map(_._2).sorted
      val k = vals.length * 5 / 100
      val kept = vals.slice(k, vals.length - k)
      assert(nKept == kept.length.toLong)
      assert(sumCents == kept.sum)
      assert(meanMilli == 1000L * kept.sum / kept.length)
    }
    assert(got.nonEmpty)
  }

  // ---- BFS layers ----

  test("bfs layer counts match a driver BFS over the collected edges") {
    val edges = Graph.copresenceEdges(spark, sfDir, 1L)
      .select("u1", "u2").as[(Long, Long)].collect()
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val src = edges.flatMap(e => Seq(e._1, e._2)).min
    var dist = Map(src -> 0L)
    for (d <- 1 to 3) {
      val frontier = dist.filter(_._2 == d - 1).keySet
      val next = frontier.flatMap(adj.getOrElse(_, Set.empty))
      dist = dist ++ next.filterNot(dist.contains).map(_ -> d.toLong)
    }
    val expected = dist.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val got = Graph.bfsLayers(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
    assert(got(0L) == 1L)
  }

  // ---- Hodges-Lehmann ----

  test("hodges-lehmann pair-sum median matches a driver recompute of " +
    "walsh averages") {
    val daily = graft.core.Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("c"))
      .select("c").as[Long].collect().toSeq
    val walsh = (for {
      i <- daily.indices; j <- i until daily.length
    } yield daily(i) + daily(j)).sorted
    val n = walsh.length
    val row = AdvancedAggs.hodgesLehmann(spark, sfDir).collect().head
    assert(row.getAs[Long]("n_days") == daily.length.toLong)
    assert(row.getAs[Long]("n_walsh") == n.toLong)
    assert(row.getAs[Long]("hl2_lo") == walsh((n + 1) / 2 - 1))
    assert(row.getAs[Long]("hl2_hi") == walsh((n + 2) / 2 - 1))
  }

  // ---- burstiness ----

  test("burstiness VMR matches a driver recompute and function words " +
    "rank below content words") {
    val perDoc = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect()
      .flatMap { case (d, t) =>
        t.split("\\s+").filter(_.nonEmpty).groupBy(identity)
          .map { case (tok, xs) => (tok, xs.length.toLong) }
      }
    val stats = perDoc.groupBy(_._1).view.mapValues { xs =>
      val counts = xs.map(_._2)
      (counts.length.toLong, counts.sum, counts.map(x => x * x).sum)
    }.toMap
    val expected = stats.collect { case (tok, (df, cf, sxx)) if df >= 10 =>
      (tok, df, cf, 1000000L * (df * sxx - cf * cf) / (df * cf))
    }.toSeq.sortBy { case (tok, _, _, v) => (-v, tok) }.take(20)
    val got = TextAnalysis.burstiness(spark, sfDir)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == expected)
  }

  // ---- assortativity ----

  test("assortativity equals the Pearson correlation of endpoint " +
    "degrees computed on the driver") {
    val edges = Graph.copresenceEdges(spark, sfDir, 1L)
      .select("u1", "u2").as[(Long, Long)].collect()
    val sym = edges ++ edges.map(e => (e._2, e._1))
    val deg = sym.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val xs = sym.map(e => deg(e._1))
    val ys = sym.map(e => deg(e._2))
    val n = sym.length.toLong
    val (sx, sy) = (xs.sum, ys.sum)
    val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
    val (sxx, syy) = (xs.map(a => a * a).sum, ys.map(b => b * b).sum)
    val r = (n.toDouble * sxy - sx.toDouble * sy) /
      (math.sqrt(n.toDouble * sxx - sx.toDouble * sx) *
        math.sqrt(n.toDouble * syy - sy.toDouble * sy))
    val row = Graph.assortativity(spark, sfDir).collect().head
    assert(row.getAs[Long]("n") == n)
    assert(row.getAs[Double]("assortativity") == r)
    // symmetric edge list => x and y moments coincide
    assert(row.getAs[Long]("sx") == row.getAs[Long]("sy"))
  }

  // ---- peak concurrency ----

  test("peak concurrency matches a driver sweep-line over sessions") {
    val ev = graft.core.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        col("ts").cast("long").as("es"))
      .as[(Long, Long, Long)].collect()
    // sessions per user under the 30-minute gap rule
    val deltas = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    ev.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._2))
      var st = sorted.head._3
      var en = st
      sorted.tail.foreach { case (_, _, es) =>
        if (es - en > 1800L) {
          deltas += ((st, 1L)); deltas += ((en + 1L, -1L))
          st = es
        }
        en = es
      }
      deltas += ((st, 1L)); deltas += ((en + 1L, -1L))
    }
    val net = deltas.groupBy(_._1).view.mapValues(_.map(_._2).sum)
      .toSeq.sortBy(_._1)
    var conc = 0L
    val peak = scala.collection.mutable.Map.empty[String, Long]
    val fmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
    net.foreach { case (t, nd) =>
      conc += nd
      val day = java.time.Instant.ofEpochSecond(t)
        .atZone(java.time.ZoneOffset.UTC).toLocalDate.format(fmt)
      peak(day) = math.max(peak.getOrElse(day, Long.MinValue), conc)
    }
    val got = Events.peakConcurrency(spark, sfDir)
      .as[(String, Long)].collect().toMap
    // days where only a session *ends* (no net rows that day) may be
    // absent from the driver map; every day the query reports must match
    got.foreach { case (day, p) =>
      assert(peak.contains(day) && peak(day) == p,
        s"$day: got $p, expected ${peak.get(day)}")
    }
    assert(got.nonEmpty)
  }
}
