package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.LayoutUtil

/** Morton-curve layout: expression correctness and the span contrast the
  * locality query's documentation claims. */
class ZOrderLocalitySpec extends SparkSpec {

  private def referenceZ(x: Long, y: Long): Long =
    (0 until 31).foldLeft(0L) { (acc, b) =>
      acc | (((x >> b) & 1L) << (2 * b)) | (((y >> b) & 1L) << (2 * b + 1))
    }

  test("zvalue2 mask ladder == per-bit reference on the full 8-bit grid and random 31-bit points") {
    for (x <- 0L to 255L; y <- 0L to 255L by 17)
      assert(LayoutUtil.zValue2(x, y) == referenceZ(x, y), s"($x, $y)")
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 1000) {
      val x = rnd.nextLong() & 0x7fffffffL
      val y = rnd.nextLong() & 0x7fffffffL
      assert(LayoutUtil.zValue2(x, y) == referenceZ(x, y), s"($x, $y)")
      // inputs beyond 31 bits are masked, not wrapped into the partner lane
      assert(LayoutUtil.zValue2(x | (1L << 40), y) == LayoutUtil.zValue2(x, y))
      // agrees with the write path's per-bit Column-fold curve by definition
    }
  }

  test("native zvalue2 == the write path's Column-fold curve (sources.Layout.zValue)") {
    val bad = graft.core.Tables.events(spark, sfDir)
      .select((col("user_id") % 2097152).as("a"), (col("event_id") % 2097152).as("b"))
      .withColumn("z1", expr("zvalue2(a, b)"))
      .withColumn("z2", graft.sources.Layout.zValue(col("a"), col("b"), 21))
      .filter(col("z1") =!= col("z2")).count()
    assert(bad == 0L)
  }

  test("zvalue2 SQL expression (codegen) == LayoutUtil over a corpus column") {
    val rows = graft.core.Tables.events(spark, sfDir)
      .select((col("user_id") % 256).as("x"), (col("event_id") % 256).as("y"))
      .withColumn("zv", expr("zvalue2(x, y)"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(2) == LayoutUtil.zValue2(r.getLong(0), r.getLong(1)))
    }
    assert(rows.nonEmpty)
  }

  test("z-buckets bound BOTH dimension spans at 32; linear buckets span the full day") {
    val out = LayoutPlanning.zorderLocality(spark, sfDir).collect()
    val (z, lin) = out.partition(_.getString(0) == "zorder")
    assert(z.nonEmpty && lin.nonEmpty)
    z.foreach { r =>
      val xs = r.getLong(4) - r.getLong(3) + 1
      val ys = r.getLong(6) - r.getLong(5) + 1
      // a 2^10 z-range tiles a 32x32 block of the (x, y) grid
      assert(xs <= 32 && ys <= 32, s"z-bucket ${r.getLong(1)} spans ($xs, $ys)")
    }
    assert(lin.forall(r => r.getLong(4) - r.getLong(3) + 1 <= LayoutPlanning.XBucketWidth),
      "linear buckets must bound the x span")
    // ...but at least one busy linear bucket spans (nearly) the whole day:
    // the y-predicate prunes nothing there, which is the case for z-order.
    val worstLinY = lin.map(r => r.getLong(6) - r.getLong(5) + 1).max
    assert(worstLinY > 32, s"expected a day-wide linear bucket, worst y-span $worstLinY")
  }
}
