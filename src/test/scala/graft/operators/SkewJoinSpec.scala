package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The engine ships a MANUAL salted join (`join_salted_skew`) for known
  * hot keys; for unknown skew the 100 TB answer is AQE's runtime skew
  * split (OptimizeSkewedJoin). This suite proves the session configuration
  * actually triggers it: a join with one pathological hot key executes as
  * a sort-merge join whose skewed partition is split at runtime — and the
  * result is still exact. If a future config change silenced the
  * optimization, every query would stay correct while silently
  * re-acquiring the straggler problem; this test pins the behavior. */
class SkewJoinSpec extends SparkSpec {
  import spark.implicits._

  test("AQE splits the skewed partition of a hot-key sort-merge join at runtime") {
    val dir = Files.createTempDirectory("graft-skew").toString
    // key 0 carries 150k rows; 50 other keys carry 200 each
    spark.range(150000).select(lit(0L).as("k"), col("id").as("v"))
      .union(spark.range(10000)
        .select((col("id") % 50 + 1).as("k"), col("id").as("v")))
      .write.mode("overwrite").parquet(s"$dir/fact")
    spark.range(51).select(col("id").as("k"), (col("id") * 10).as("w"))
      .union(spark.range(20000).select((col("id") + 100).as("k"), col("id").as("w")))
      .write.mode("overwrite").parquet(s"$dir/dim")

    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // shrink the skew thresholds to test scale: a partition is "skewed"
      // over 64 KB and 2x the median, split into ~32 KB chunks
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim")
      val joined = fact.join(dim, "k")
      // collect() executes joined's OWN QueryExecution — count() would plan
      // a separate query and leave this one's adaptive plan unexecuted
      val n = joined.collect().length
      assert(n == 150000 + 10000, s"wrong join cardinality: $n")

      val plan = joined.queryExecution.executedPlan
      val finalPlan = plan.collectFirst {
        case a: AdaptiveSparkPlanExec => a.executedPlan
      }.getOrElse(plan)
      // query-stage nodes hide their plans from collect(), so assert on
      // the rendered final plan: the SMJ must carry the skew marker and
      // the hot side must read through a skew-splitting shuffle read
      val rendered = finalPlan.toString
      assert(rendered.contains("SortMergeJoin(skew=true)"),
        s"no skew-split SMJ in the final adaptive plan:\n$rendered")
      assert(rendered.contains("AQEShuffleRead skewed"),
        s"no skewed AQEShuffleRead in the final adaptive plan:\n$rendered")
    }
  }
}
