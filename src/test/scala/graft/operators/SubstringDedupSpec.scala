package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SubstringDedupSpec extends SparkSpec {
  import spark.implicits._

  /** Non-rolling reference: hash every window from scratch. */
  private def refWindowHashes(s: String, w: Int): Seq[Long] = {
    val b = s.getBytes("UTF-8")
    if (b.length < w) Seq.empty
    else (0 to b.length - w).map { i =>
      var h1 = 0L
      var h2 = 0L
      var k = i
      while (k < i + w) {
        val c = (b(k) & 0xff).toLong
        h1 = (h1 * 131 + c) % 1000000007L
        h2 = (h2 * 137 + c) % 998244353L
        k += 1
      }
      h1 * 2147483648L + h2
    }
  }

  test("rolling char_window_hashes equals per-window recomputation") {
    val samples = Seq(
      "", "a", "short", "exactly4", "abcabcabcabc",
      "the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaaaaaaaaaa", "ab" * 40)
    for (w <- Seq(1, 4, 8, 40)) {
      val got = samples.toDF("text")
        .select(expr(s"char_window_hashes(text, $w)").as("hs"))
        .collect().map(_.getSeq[Long](0))
      samples.zip(got).foreach { case (s, g) =>
        assert(g == refWindowHashes(s, w), s"w=$w text='$s'")
      }
    }
  }

  test("substring profile equals a brute-force window-set computation") {
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val sets = docs.view.mapValues(t => refWindowHashes(t, 40).toSet).toMap
      .filter(_._2.nonEmpty)
    val df = (h: Long) => sets.count(_._2.contains(h))
    val expected = sets.map { case (id, hs) =>
      val dup = hs.count(h => df(h) >= 2)
      (id, hs.size.toLong, dup.toLong, dup.toDouble / hs.size)
    }.toSeq.sortBy(_._1)
    val got = SubstringDedup.substringProfile(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == expected)
  }

  test("substring pairs equal the brute-force shared-window counts") {
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val sets = docs.map { case (id, t) => id -> refWindowHashes(t, 40).toSet }
      .filter(_._2.nonEmpty)
    val expected = (for {
      (a, sa) <- sets
      (b, sb) <- sets
      if a < b
      shared = (sa & sb).size
      if shared >= 3
    } yield (a, b, shared.toLong)).toSeq.sortBy(p => (p._1, p._2))
    val got = SubstringDedup.substringPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
  }

  /** Brute-force winnowing: rightmost min of every window of `win`
    * consecutive hashes; sequences shorter than one window winnow whole. */
  private def refWinnow(hs: Seq[Long], win: Int): Set[Long] = {
    val n = hs.length
    if (n == 0) Set.empty
    else if (n < win) {
      val m = hs.min
      Set(hs(hs.lastIndexOf(m)))
    } else {
      (0 to n - win).map { s =>
        val w = hs.slice(s, s + win)
        val m = w.min
        hs(s + w.lastIndexOf(m))
      }.toSet
    }
  }

  test("winnow_hashes equals brute-force rightmost-min selection") {
    // periodic strings force hash ties; short strings hit the n<win path
    val samples = Seq("", "abc", "ab" * 30, "a" * 50, "abcabcabc" * 6,
      "the quick brown fox jumps over the lazy dog again and again")
    val got = samples.toDF("text")
      .select(expr("winnow_hashes(text, 4, 5)").as("f"))
      .collect().map(_.getSeq[Long](0).toSet)
    samples.zip(got).foreach { case (s, g) =>
      assert(g == refWinnow(refWindowHashes(s, 4), 5), s"text='$s'")
    }
  }

  test("winnowed pairs equal brute force and fingerprints subset all windows") {
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val fps = docs.map { case (id, t) =>
      id -> refWinnow(refWindowHashes(t, 40), 8)
    }.filter(_._2.nonEmpty)
    // winnowed fingerprints are a sample of the full window set
    docs.foreach { case (id, t) =>
      val all = refWindowHashes(t, 40).toSet
      fps.toMap.get(id).foreach(fp => assert(fp.subsetOf(all)))
    }
    val expected = (for {
      (a, sa) <- fps
      (b, sb) <- fps
      if a < b
      shared = (sa & sb).size
      if shared >= 2
    } yield (a, b, shared.toLong)).toSeq.sortBy(p => (p._1, p._2))
    val got = SubstringDedup.substringWinnow(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
  }

  test("incremental dedup: exact flags match brute force, near dups verified sound") {
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val corpusTexts = docs.collect { case (id, t) if id % 2 == 0 => t }.toSet
    def shingles(t: String): Set[String] =
      t.trim.split("\\s+").toSeq.sliding(3).filter(_.size == 3)
        .map(_.mkString(" ")).toSet
    val rows = SubstringDedup.incrementalDedup(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSet == docs.keySet.filter(_ % 2 == 1))
    rows.foreach { r =>
      val id = r.getLong(0)
      val exactDup = r.getBoolean(1)
      assert(exactDup == corpusTexts.contains(docs(id)), s"doc $id exact flag")
      if (!r.isNullAt(2)) {
        val other = r.getLong(2)
        assert(other % 2 == 0, s"doc $id near_dup_of $other not in corpus")
        val (sa, sb) = (shingles(docs(id)), shingles(docs(other)))
        val j = (sa & sb).size.toDouble / (sa | sb).size
        assert(math.abs(j - r.getDouble(3)) < 1e-9, s"doc $id jaccard")
        assert(j >= 0.8, s"doc $id near dup below threshold")
        assert(r.getString(4) == (if (exactDup) "drop_exact" else "drop_near"))
      } else {
        assert(r.getString(4) == (if (exactDup) "drop_exact" else "keep"))
      }
    }
  }
}
