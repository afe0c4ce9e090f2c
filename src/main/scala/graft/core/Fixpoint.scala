package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{coalesce, lit, sum, when}

/** The one round loop of graft's iterative label computations (connected
  * components, k-core peeling, label propagation, personalized PageRank).
  *
  * Every round is ONE eager `localCheckpoint` of the round's relation: it
  * cuts the lineage (a round that reads the previous state k times would
  * otherwise grow a k^rounds plan) and is the only job set the round
  * starts. A converging round also counts its changed rows inside that
  * same job, through `Dataset.observe`, so no separate `count()` or
  * `isEmpty` probe runs. Once a round is checkpointed the previous
  * round's checkpoint blocks are released; the caller owns `init` and the
  * returned state.
  *
  * Round semantics: "MapReduce Algorithms for Big Data Analysis" (VLDB
  * 2012) counts rounds as a first-order cost, and on a driver-bound host
  * each round's fixed cost is the time — hence one job set per round.
  */
object Fixpoint {

  /** Marks the relation whose rows a converging round counts: `apply`
    * returns `rows` unchanged, observing how many satisfy `changed`. It
    * must sit below any filter whose dropped rows it counts. */
  trait Tally {
    def apply(rows: DataFrame, changed: Column): DataFrame
  }

  private val Metric = "fixpoint_changed"

  /** Rounds of `step` from `init` until a round tallies no changed row, or
    * `maxRounds` rounds have run. */
  def converge(init: DataFrame, maxRounds: Int)(
      step: (DataFrame, Tally) => DataFrame): DataFrame =
    trace(init, maxRounds)(step)._1

  /** Exactly `n` rounds of `step` from `init`. */
  def rounds(init: DataFrame, n: Int)(step: DataFrame => DataFrame): DataFrame =
    run(init, n, converging = false)((s, _) => step(s))._1

  /** [[converge]], also returning the count each round observed. */
  private[graft] def trace(init: DataFrame, maxRounds: Int)(
      step: (DataFrame, Tally) => DataFrame): (DataFrame, Vector[Long]) =
    run(init, maxRounds, converging = true)(step)

  private def run(init: DataFrame, maxRounds: Int, converging: Boolean)(
      step: (DataFrame, Tally) => DataFrame): (DataFrame, Vector[Long]) = {
    var state = init
    var held: Option[RDD[_]] = None
    var counts = Vector.empty[Long]
    var round = 0
    while (round < maxRounds && !counts.lastOption.contains(0L)) {
      var tallied = false
      val next = step(state, (rows, changed) => {
        tallied = true
        rows.observe(Metric, coalesce(sum(when(changed, 1L).otherwise(0L)), lit(0L)))
      })
      require(tallied || !converging, "a converging round must tally its changes")
      val cp = next.localCheckpoint(true)
      // Filled by the checkpoint's own execution. A plan the optimizer
      // reduced to an empty relation may run without the observer; it
      // changed nothing.
      if (converging)
        counts :+= next.queryExecution.observedMetrics.get(Metric).fold(0L)(_.getLong(0))
      held.foreach(_.unpersist(blocking = false))
      held = cp.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
      state = cp
      round += 1
    }
    (state, counts)
  }
}
