package graft.operators

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.agg.ReferenceTasks
import graft.core.Doc

/** SURVEY §5.3 property suite. The pure-function reference tasks carry the
  * per-document invariants (hundreds of cases); one Spark round-trip
  * property pins the optimized pipelines to the reference fold on random
  * corpora. Sampling uses scalacheck generators with a fixed seed
  * (deterministic CI) — the scalatest/scalacheck bridge artifact is not in
  * the offline cache, so cases are drawn manually.
  */
class MapTaskPropertiesSpec extends SparkSpec {

  private val docGen: Gen[String] = Gen.frequency(
    3 -> Gen.asciiPrintableStr,
    1 -> Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', '\n', '\t', 'é', 'Ä')))
      .map(_.mkString),
    1 -> Gen.const(""))

  private def samples[T](gen: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))

  test("map1: letters + numbers + others == total chars (100 cases)") {
    for (s <- samples(docGen, 100)) {
      val m = ReferenceTasks.map1(Doc(0, s)).map(kv => kv.key -> kv.value).toMap
      assert(m.values.sum == s.length, s"on ${s.take(40)}")
      assert(m.keySet == Set("letters", "numbers", "others"))
    }
  }

  test("map2: dense a..z keys, total == ascii letter count (100 cases)") {
    for (s <- samples(docGen, 100)) {
      val out = ReferenceTasks.map2(Doc(0, s))
      assert(out.map(_.key) == ('a' to 'z').map(_.toString))
      val letters = s.count(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z'))
      assert(out.map(_.value).sum == letters)
    }
  }

  test("map3: 4*(len%49) rows, all value 1, keys from the cycle (100 cases)") {
    for (s <- samples(docGen, 100)) {
      val out = ReferenceTasks.map3(Doc(0, s))
      assert(out.length == 4 * (s.length % 49))
      assert(out.forall(_.value == 1))
      assert(out.map(_.key).toSet.subsetOf(Set("we", "love", "cs", "3210")))
    }
  }

  private val NUL = "\u0000"

  test("cStringParity truncates at the first NUL exactly as strlen would (100 cases)") {
    import graft.agg.GenericMapTask
    // NUL-bearing generator: printable chunks glued with embedded NULs
    val nulGen: Gen[String] = for {
      a <- Gen.asciiPrintableStr
      b <- Gen.asciiPrintableStr
      n <- Gen.chooseNum(0, 2)
    } yield a + (NUL * n) + b
    for (s <- samples(nulGen, 100)) {
      val visible = GenericMapTask.cVisible(s)
      val cut = s.indexOf(NUL.charAt(0).toInt)
      assert(visible == (if (cut < 0) s else s.take(cut)))
      // the parity contract: a task under cStringParity sees what C sees
      val viaFlag = ReferenceTasks.map1(Doc(0, visible))
      assert(ReferenceTasks.map1(Doc(0, s)).map(_.value).sum >= viaFlag.map(_.value).sum)
      assert(viaFlag.map(_.value).sum == visible.length)
    }
  }

  test("GenericMapTask(cStringParity) over a NUL-bearing corpus equals the task on pre-NUL prefixes") {
    import spark.implicits._
    import graft.agg.{GenericMapTask, ReduceOps}
    val texts = Seq(s"abc${NUL}def", "no nul here", s"${NUL}hidden", s"x1${NUL}${NUL}2")
    val docs = texts.zipWithIndex.map { case (t, i) => Doc(i.toLong, t) }.toDS()
    val gated = ReduceOps.sumReduce(
      GenericMapTask(ReferenceTasks.map1, cStringParity = true)(docs))
      .collect().map(kv => kv.key -> kv.value).toMap
    val expected = texts.map(t => GenericMapTask.cVisible(t))
      .flatMap(t => ReferenceTasks.map1(Doc(0, t)))
      .groupBy(_.key).view.mapValues(_.map(_.value).sum).toMap
    assert(gated == expected)
    // and the default path still sees the full content
    val ungated = ReduceOps.sumReduce(
      GenericMapTask(ReferenceTasks.map1)(docs))
      .collect().map(kv => kv.key -> kv.value).toMap
    assert(ungated("others") > gated("others")) // NULs and post-NUL chars count
  }

  test("optimized Spark pipelines equal the reference fold on random corpora") {
    import spark.implicits._
    for (texts <- samples(Gen.listOfN(5, docGen), 5)) {
      val docs = texts.toDF("content")
      val typedDocs = texts.zipWithIndex.map { case (t, i) => Doc(i.toLong, t) }

      def reduceRef(f: Doc => Seq[graft.core.KeyValue]): Map[String, Long] =
        typedDocs.flatMap(f).groupBy(_.key)
          .map { case (k, kvs) => k -> kvs.map(_.value.toLong).sum }

      val spark1 = MapReduceTasks.task1(docs).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(spark1 == reduceRef(ReferenceTasks.map1))

      val spark2 = MapReduceTasks.task2(docs).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(spark2 == reduceRef(ReferenceTasks.map2))

      val spark3 = MapReduceTasks.task3(docs).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // task3 of an all-empty corpus legitimately returns 4 zero rows
      // (explode of the key array with value 0); the reference emits none —
      // compare on nonzero keys
      assert(spark3.filter(_._2 != 0) == reduceRef(ReferenceTasks.map3))
    }
  }
}
