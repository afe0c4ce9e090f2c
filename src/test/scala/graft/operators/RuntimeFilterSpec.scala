package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** At 100 TB the big fact⋈fact joins run as shuffle joins, and the lever
  * that keeps them affordable is Spark's runtime filtering: a bloom filter
  * built from the selective side's join keys is pushed into the other
  * side's scan, dropping non-matching rows before the shuffle. This suite
  * proves the engine's plans are ELIGIBLE for that injection — shapes that
  * defeat it (expressions over the join key, pre-shuffle aggregations on
  * the application side) would silently lose the benefit at scale while
  * still passing every correctness test.
  */
class RuntimeFilterSpec extends SparkSpec {

  test("a selective orders filter injects a bloom runtime filter into the lineitem scan") {
    withConf(
      // force the shuffle-join regime of a real cluster (no broadcast),
      // and drop the application-side size floor (10 GB by default) so the
      // sf0.001 tables qualify
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB") {
      val ord = Tables.orders(spark, sfDir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val li = Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_quantity")
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("bloom_filter") ||
        optimized.contains("BloomFilter"),
        s"no bloom runtime filter injected; optimized plan:\n$optimized")
      // the filtered result must equal the unfiltered-join result
      val expected = Tables.lineitem(spark, sfDir)
        .join(Tables.orders(spark, sfDir)
            .filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .count()
      assert(joined.count() == expected)
    }
  }

  test("shipped fact-to-fact queries stay runtime-filter-eligible (join keys are raw columns)") {
    // Injection requires the application-side join key to be a bare
    // attribute reachable from the scan. Assert the big joins in the
    // flagship queries join on raw columns, not computed expressions.
    val probes = Seq("q3_shipping_priority", "q4_order_priority",
      "q18_large_volume_customers", "q21_waiting_suppliers")
    probes.foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.optimizedPlan
      import org.apache.spark.sql.catalyst.plans.logical.Join
      import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo}
      plan.foreach {
        case j: Join =>
          j.condition.foreach(_.foreach {
            case EqualTo(l, r)
                if l.dataType.typeName == "long" && r.dataType.typeName == "long" =>
              assert(l.isInstanceOf[AttributeReference] &&
                r.isInstanceOf[AttributeReference],
                s"$name joins on a computed long key: $l = $r")
            case _ =>
          })
        case _ =>
      }
    }
  }
}
