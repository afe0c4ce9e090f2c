package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** sorted_intersect_count must equal size(array_intersect(..)) on every
  * sorted-distinct input — the precondition the dedup pipelines satisfy.
  * The random pairs come from a local Seq, which the optimizer folds into
  * a LocalRelation, so these checks run the interpreted path only;
  * ExecutionModeSpec holds the codegen path to the interpreted one. */
class SetExpressionsSpec extends SparkSpec {

  private val arrGen: Gen[Seq[Long]] = for {
    n <- Gen.chooseNum(0, 40)
    xs <- Gen.listOfN(n, Gen.chooseNum(-50L, 50L))
  } yield xs.distinct.sorted

  private def sample(n: Int, seed: Long): Seq[(Seq[Long], Seq[Long])] =
    (0 until n).flatMap { i =>
      for {
        a <- arrGen.apply(Gen.Parameters.default, Seed(seed + 2 * i))
        b <- arrGen.apply(Gen.Parameters.default, Seed(seed + 2 * i + 1))
      } yield (a, b)
    }

  test("merge count equals size(array_intersect) on 200 random sorted pairs") {
    import spark.implicits._
    val df = sample(200, 7L).toDF("a", "b")
    val rows = df.select(
      expr("sorted_intersect_count(a, b)").as("fast"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  private val raggedGen: Gen[Seq[Option[Long]]] = for {
    n <- Gen.chooseNum(0, 20)
    xs <- Gen.listOfN(n, Gen.oneOf(
      Gen.const(Option.empty[Long]), Gen.chooseNum(-5L, 5L).map(Some(_))))
  } yield xs

  test("array_eq_count equals size(filter(zip_with(a,b,eq))) on 200 random " +
      "pairs incl. nulls and ragged lengths") {
    import spark.implicits._
    val pairs = (0 until 200).flatMap { i =>
      for {
        a <- raggedGen.apply(Gen.Parameters.default, Seed(91L + 2 * i))
        b <- raggedGen.apply(Gen.Parameters.default, Seed(91L + 2 * i + 1))
      } yield (a, b)
    }
    val df = pairs.toDF("a", "b")
    val rows = df.select(
      expr("array_eq_count(a, b)").as("fast"),
      expr("size(filter(zip_with(a, b, (x, y) -> x = y), p -> p))")
        .cast("long").as("ref")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("array_eq_count interpreted eval path agrees") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def lit(xs: Seq[Long]) =
      Literal(ArrayData.toArrayData(xs.toArray), ArrayType(LongType))
    def cnt(a: Seq[Long], b: Seq[Long]): Long =
      ArrayEqCount(lit(a), lit(b)).eval(null).asInstanceOf[Long]
    assert(cnt(Nil, Nil) == 0L)
    assert(cnt(Seq(1L, 2L), Nil) == 0L)
    assert(cnt(Seq(1L, 2L, 3L), Seq(1L, 9L, 3L)) == 2L)
    assert(cnt(Seq(1L, 2L, 3L, 4L), Seq(1L, 2L)) == 2L)
  }

  test("interpreted eval path agrees (empty, disjoint, identical, nested)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def lit(xs: Seq[Long]) =
      Literal(ArrayData.toArrayData(xs.toArray), ArrayType(LongType))
    def cnt(a: Seq[Long], b: Seq[Long]): Long =
      SortedIntersectCount(lit(a), lit(b)).eval(null).asInstanceOf[Long]
    assert(cnt(Nil, Nil) == 0L)
    assert(cnt(Seq(1L, 2L, 3L), Nil) == 0L)
    assert(cnt(Seq(1L, 3L, 5L), Seq(2L, 4L, 6L)) == 0L)
    assert(cnt(Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)) == 3L)
    assert(cnt(Seq(-5L, 0L, 7L, 9L), Seq(-5L, 7L, 8L)) == 2L)
  }
}
