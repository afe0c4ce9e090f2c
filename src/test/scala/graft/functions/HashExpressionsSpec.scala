package graft.functions

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** The codegen hash expressions must equal their SQL definitions (which the
  * DuckDB oracles also compute) on arbitrary input — this is the
  * equivalence that keeps the dedup/text queries oracle-exact. */
class HashExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private def strings(n: Int): Seq[String] = {
    val gen = Gen.frequency(
      3 -> Gen.asciiPrintableStr,
      1 -> Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', 'é', '中', '\n')))
        .map(_.mkString),
      1 -> Gen.const(""))
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(7L + i)))
  }

  test("portable_hash60 == cast(conv(substr(md5(x),1,15),16,10) as bigint)") {
    val rows = strings(200).toDF("s")
      .selectExpr("portable_hash60(s) as fast",
        "cast(conv(substr(md5(s), 1, 15), 16, 10) as bigint) as ref")
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("shingle_hashes == hash60 over concat_ws 3-grams, with and without suffix") {
    // token arrays of varying length (incl. < 3 → empty), multi-byte chars
    val tokGen = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(
        4 -> Gen.alphaNumStr.map(_.take(6)),
        1 -> Gen.const("é中"),
        1 -> Gen.const(""))))
    val arrays = (0 until 60).flatMap(i =>
      tokGen.apply(Gen.Parameters.default, Seed(31L + i)))
    val df = arrays.toDF("toks")
    val rows = df.selectExpr(
      "shingle_hashes(toks) as fast",
      "shingle_hashes(toks, '~') as fast_sfx",
      """case when size(toks) >= 3 then transform(sequence(0, size(toks)-3),
        |  i -> portable_hash60(concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
        |else array() end""".stripMargin.replace("\n", " ") + " as ref",
      """case when size(toks) >= 3 then transform(sequence(0, size(toks)-3),
        |  i -> portable_hash60(concat(concat_ws(' ', toks[i], toks[i+1], toks[i+2]), '~')))
        |else array() end""".stripMargin.replace("\n", " ") + " as ref_sfx")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](2), "unsuffixed mismatch")
      assert(r.getSeq[Long](1) == r.getSeq[Long](3), "suffixed mismatch")
    }
  }

  test("shingle_hash_pairs == zip_with of the two shingle_hashes passes") {
    val tokGen = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(
        4 -> Gen.alphaNumStr.map(_.take(6)),
        1 -> Gen.const("é中"),
        1 -> Gen.const(""))))
    val arrays = (0 until 60).flatMap(i =>
      tokGen.apply(Gen.Parameters.default, Seed(57L + i)))
    val rows = arrays.toDF("toks").selectExpr(
      "shingle_hash_pairs(toks, '~') as fast",
      """zip_with(shingle_hashes(toks), shingle_hashes(toks, '~'),
        |  (a, b) -> named_struct('h1', a, 'h2', b))"""
        .stripMargin.replace("\n", " ") + " as ref")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val fast = r.getSeq[org.apache.spark.sql.Row](0)
        .map(x => (x.getLong(0), x.getLong(1)))
      val ref = r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getLong(0), x.getLong(1)))
      assert(fast == ref, r.toString)
    }
  }

  test("segment_hashes == transform(sequence((n-1) div w)) of prefixed " +
      "concat_ws segments, incl. n=0 and short tails") {
    val tokGen = Gen.chooseNum(0, 13).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(
        4 -> Gen.alphaNumStr.map(_.take(6)),
        1 -> Gen.const("é中"),
        1 -> Gen.const(""))))
    val arrays = Seq(Seq.empty[String]) ++ (0 until 50).flatMap(i =>
      tokGen.apply(Gen.Parameters.default, Seed(73L + i)))
    val rows = arrays.toDF("t").selectExpr(
      "segment_hashes(t, 'seg:', 3) as fast",
      """transform(sequence(0, (size(t) - 1) div 3),
        |  i -> portable_hash60(concat('seg:', concat_ws(' ', slice(t, i*3 + 1, 3)))))"""
        .stripMargin.replace("\n", " ") + " as ref")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString))
  }

  test("shingle_hashes width arg == hash60 over concat_ws k-grams (k=1,2,4,5)") {
    val tokGen = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(
        4 -> Gen.alphaNumStr.map(_.take(6)),
        1 -> Gen.const("é中"),
        1 -> Gen.const(""))))
    val arrays = (0 until 40).flatMap(i =>
      tokGen.apply(Gen.Parameters.default, Seed(97L + i)))
    val df = arrays.toDF("toks")
    for (k <- Seq(1, 2, 4, 5)) {
      val slice = (0 until k).map(j => s"toks[i+$j]").mkString(", ")
      val rows = df.selectExpr(
        s"shingle_hashes(toks, '', $k) as fast",
        s"""case when size(toks) >= $k then transform(sequence(0, size(toks)-$k),
           |  i -> portable_hash60(concat_ws(' ', $slice)))
           |else array() end""".stripMargin.replace("\n", " ") + " as ref")
        .collect()
      rows.foreach(r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"width-$k mismatch"))
    }
  }

  test("simhash32(toks) == the bit-plane HOF fold") {
    val docs = strings(50).filter(_.nonEmpty).toDF("text")
      .selectExpr("split(text, '\\\\s+') as toks")
    val rows = docs.selectExpr(
      "simhash32(toks) as fast",
      """aggregate(sequence(0, 31), 0L, (acc, j) -> acc + if(
        |  aggregate(transform(toks, t -> portable_hash60(t)), 0L,
        |    (a, h) -> a + (cast(shiftright(h, j) as bigint) & 1L) * 2L - 1L) > 0,
        |  shiftleft(1L, j), 0L))""".stripMargin + " as ref")
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("simhash64(toks) == two independent 32-bit HOF halves, bit 63 signed") {
    val docs = strings(50).filter(_.nonEmpty).toDF("text")
      .selectExpr("split(text, '\\\\s+') as toks")
    // plane j < 32 from h60(t), plane j >= 32 from h60(t || '#hi'); the
    // shiftleft(1L, 63) term wraps to Long.MinValue in Spark exactly as
    // the signed fingerprint demands
    val rows = docs.selectExpr(
      "simhash64(toks) as fast",
      """aggregate(sequence(0, 63), 0L, (acc, j) -> acc + if(
        |  aggregate(transform(toks,
        |      t -> portable_hash60(if(j < 32, t, concat(t, '#hi')))), 0L,
        |    (a, h) -> a + (cast(shiftright(h, j % 32) as bigint) & 1L) * 2L - 1L) > 0,
        |  shiftleft(1L, j), 0L))""".stripMargin + " as ref")
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // the 64-bit planes must actually disagree with a 32-bit extension
    // (i.e. the high half is an independent hash, not zero/copied)
    val fp = docs.selectExpr("simhash64(toks) as h64", "simhash32(toks) as h32")
      .collect()
    assert(fp.exists(r => (r.getLong(0) >>> 32) != 0L),
      "high 32 planes never set — the '#hi' half is not being hashed")
    assert(fp.forall(r => (r.getLong(0) & 0xffffffffL) == r.getLong(1)),
      "low 32 planes must equal simhash32 (same token hash, same fold)")
  }
}
