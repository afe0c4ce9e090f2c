package graft.core

import org.apache.spark.sql.SparkSession

/** Block-manager hygiene for sequential drivers (r13 verdict item 1).
  *
  * Iterative operators cut lineage with `localCheckpoint` (Louvain's
  * degree/label tables, KLL's per-level buffers, CC's label rounds) and
  * a checkpointed RDD's blocks live in the block manager until someone
  * unpersists them. Inside ONE query that is correct — the checkpoint
  * is re-read by later stages — but a long sequential run (Bench: 320
  * queries × 3 reps) that never frees them runs every rep under ALL
  * prior reps' blocks: r13's `graph_louvain_twolevel` reps went
  * [2.8, 6.6, 5.4] (anti-converging — rep N pays rep 1..N-1's memory
  * pressure), and the TPC-H family drifted a uniform ~1.5× late in the
  * suite. The ContextCleaner does reclaim blocks on GC of the RDD
  * handle, but GC of a few driver-side `Dataset` objects is far too lazy
  * a trigger to bound 960 query-reps of accumulation.
  *
  * [[free]] unpersists EVERY persistent RDD registered with the context.
  * That blanket sweep is safe exactly when nothing long-lived parks
  * state in the block manager, which is this repo's standing discipline:
  * cross-query caches ([[Artifacts]]) are managed DISK tables or
  * driver-side model objects — never cached RDDs — and
  * BlockHygieneSpec pins that contract by sweeping after checkpoint-heavy
  * gated queries and asserting the registry empties without breaking a
  * following rerun. Callers must be SEQUENTIAL (Bench's rep loop, a spec):
  * Verify runs queries from a thread pool, where a sweep would yank a
  * concurrent query's live checkpoint, so it deliberately does not sweep.
  *
  * On a real cluster the same call frees executor block memory between
  * pipeline stages. Blocking choice (r14 advice): the BENCH harnesses
  * call `free(spark, blocking = true)` — their sweep sits OUTSIDE the
  * timed window, and an async removal could bleed into the NEXT rep's
  * timed window or the calibration spin, partially reintroducing the
  * cross-rep interference the sweep exists to remove. Pipeline callers
  * that sweep between stages keep the non-blocking default (removal
  * cost overlaps the next stage's work). */
object BlockHygiene {

  /** Unpersist all persistent RDDs; returns how many were registered —
    * 0 means the preceding query was already clean. `blocking = true`
    * waits for block removal to complete before returning (bench
    * harnesses: each rep must start from a quiesced block manager). */
  def free(spark: SparkSession, blocking: Boolean = false): Int = {
    val rdds = spark.sparkContext.getPersistentRDDs
    rdds.valuesIterator.foreach(_.unpersist(blocking = blocking))
    rdds.size
  }
}
