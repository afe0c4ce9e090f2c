package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** Invariants and differential checks for the earlier deterministic
  * samplers — exact-k per-stratum document sampling
  * ([[TrainingPipeline.groupSample]]) and entity-correlated user-level
  * event sampling ([[Behavioral.sampleUsers]]). These lived in
  * SamplingSpec before the round-12 rewrite repointed that spec at the
  * bottom-k/weighted-priority operators; the properties here (aggregator
  * vs full-sort differential, stream-intact membership) are ones the
  * hash gate alone can't show, so they keep their own spec. */
class GroupSampleSpec extends SparkSpec {

  test("group sample: each stratum contributes exactly min(k, |stratum|) " +
    "docs and they are the k hash-smallest (differential vs full sort)") {
    val s = TrainingPipeline.groupSample(spark, sfDir)
    val perStratum = s.groupBy("lang", "source").agg(count(lit(1)).as("n"))
    val sizes = Tables.documents(spark, sfDir)
      .groupBy("lang", "source").agg(count(lit(1)).as("total"))
    val joined = perStratum.join(sizes, Seq("lang", "source"))
    assert(joined.filter(col("n") =!= least(lit(5L), col("total"))).count() == 0)

    // differential: naive full-sort ranking picks the same doc set
    val naive = Tables.documents(spark, sfDir)
      .withColumn("hv",
        expr("portable_hash60(concat('samp:', cast(doc_id as string)))"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"), col("source"))
          .orderBy(col("hv"), col("doc_id"))))
      .filter(col("rk") <= 5)
      .select("doc_id")
    assert(s.select("doc_id").except(naive).count() == 0)
    assert(naive.except(s.select("doc_id")).count() == 0)
  }

  test("user sample preserves kept users' event streams intact: per-user " +
    "counts in the sample equal full-table counts for every kept user") {
    val ev = Tables.events(spark, sfDir)
    val keptPred = expr(
      "portable_hash60(concat('usamp:', cast(user_id as string))) % 10 = 0")
    val fullCounts = ev.filter(keptPred)
      .groupBy("user_id").agg(count(lit(1)).as("n_full"))
    // report totals must equal the direct filtered totals (no row lost)
    val rep = Behavioral.sampleUsers(spark, sfDir)
      .agg(coalesce(sum(col("n_events")), lit(0L))).collect()(0).getLong(0)
    val direct = ev.filter(keptPred).count()
    assert(rep == direct, s"report=$rep direct=$direct")
    // and no partially-sampled user can exist by construction: membership
    // is a pure function of user_id, so the kept set's per-user counts are
    // exactly the full per-user counts
    val mixed = ev.filter(!keptPred)
      .select("user_id").distinct()
      .join(fullCounts, "user_id").count()
    assert(mixed == 0, "a user is both kept and dropped")
  }
}
