package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[SqDist]]: bit-exact parity with the declarative higher-order fold it
  * replaced in the IVF/ADC exact ground-truth passes (same
  * ascending-component IEEE accumulation from a 0.0 seed — the contract
  * that keeps the recall rankings and gate hashes unchanged). */
class SqDistSpec extends SparkSpec {

  test("native sq_dist equals the HOF fold bit-for-bit on real embedding pairs") {
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val a = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("ida"), col("embedding").as("qv"))
    val pairs = a.crossJoin(
      emb.filter(col("vec_id").between(20, 39))
        .select(col("vec_id").as("idb"), col("embedding")))
    val rows = pairs.select(
      expr("sq_dist(qv, embedding)").as("got"),
      expr(
        """aggregate(sequence(0, 63), cast(0.0 as double),
          |  (acc, i) -> acc + (cast(qv[i] as double) - cast(embedding[i] as double))
          |                * (cast(qv[i] as double) - cast(embedding[i] as double)))"""
          .stripMargin).as("want")).collect()
    assert(rows.length == 400)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        s"sq_dist != fold: ${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
  }

  test("mixed float/double operands and null propagation") {
    val r = spark.sql(
      "SELECT sq_dist(array(cast(0.5 as float), cast(3.0 as float)), " +
        "array(cast(1.5 as double), cast(-2.25 as double))) AS d").head()
    // (0.5-1.5)^2 + (3.0+2.25)^2 = 1 + 27.5625
    assert(r.getDouble(0) == 28.5625)
    val n = spark.sql(
      "SELECT sq_dist(CAST(NULL AS ARRAY<FLOAT>), array(cast(1.0 as float))) AS d")
      .head()
    assert(n.isNullAt(0))
  }

  test("degenerate inputs null-propagate: ragged lengths and null elements " +
      "(r16 advice — no silent truncation)") {
    val ragged = spark.sql(
      "SELECT sq_dist(array(cast(1.0 as double), cast(2.0 as double)), " +
        "array(cast(1.0 as double))) AS d").head()
    assert(ragged.isNullAt(0), "length mismatch must yield NULL")
    val nullElem = spark.sql(
      "SELECT sq_dist(array(cast(1.0 as double), CAST(NULL AS DOUBLE)), " +
        "array(cast(1.0 as double), cast(2.0 as double))) AS d").head()
    assert(nullElem.isNullAt(0), "null element must yield NULL")
  }
}
