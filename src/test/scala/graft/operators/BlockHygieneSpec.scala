package graft.operators

import graft.SparkSpec

/** Pins the block-hygiene contract behind Bench's between-rep sweep
  * (r13 verdict item 1):
  *
  *  1. gated queries may leave checkpoint blocks behind (that is WHY the
  *     sweep exists — the louvain/CC/KLL lineage cuts are per-query
  *     correct but accumulate across a 960-rep suite),
  *  2. [[graft.core.BlockHygiene.free]] empties the persistent-RDD
  *     registry completely, and
  *  3. a swept query RERUNS correctly — nothing long-lived was parked in
  *     the block manager (cross-query caches are disk tables or driver
  *     models), so the blanket sweep is semantics-free for a sequential
  *     driver.
  */
class BlockHygieneSpec extends SparkSpec {

  /** Checkpoint-heavy gated queries: Louvain (two localCheckpoints +
    * label rounds), connected components (persist + per-round eager
    * checkpoints), LPA (its first call builds the `graft_lpalab` table in
    * checkpointed rounds, which keep only the last round's blocks; later
    * calls read the table and leave none). KLL is excluded only because
    * its memoized model (graft.core.Artifacts.model) makes the second run
    * blockless — the sweep still covers it in Bench. */
  private val heavy =
    Seq("graph_louvain_twolevel", "dedup_cc_clusters",
      "graph_label_propagation")

  test("sweep empties the registry and a swept query reruns identically") {
    for (name <- heavy) {
      val q = graft.SparkEntry.queries(name)
      val first = q(spark, sfDir).collect()
      // the sweep reports how many RDDs were registered; at least one of
      // the heavy queries must actually leak (else the sweep is vacuous)
      val freed = graft.core.BlockHygiene.free(spark)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        s"$name: registry not empty after sweep")
      val second = q(spark, sfDir).collect()
      assert(second.toSeq == first.toSeq,
        s"$name: rerun after sweep diverged")
      val freedAgain = graft.core.BlockHygiene.free(spark)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
      assert(freed >= 0 && freedAgain >= 0)
    }
  }

  test("the heavy set genuinely checkpoints (sweep is not vacuous)") {
    graft.core.BlockHygiene.free(spark)
    graft.SparkEntry.queries("graph_louvain_twolevel")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "louvain left no blocks — the r13 leak shape changed; re-audit Bench's sweep")
    assert(graft.core.BlockHygiene.free(spark) > 0)
  }
}
