package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dev tool: regenerate PLANS.md — a static audit of every query's physical
  * plan shape (scan pushdown, exchange count, codegen spans, join
  * strategies). Run: `sbt "runMain graft.PlanAudit"`.
  */
object PlanAudit {

  /** A window sort is distributed by its PARTITION key: a row-scale
    * window partitioned on a key with fewer distinct values than the
    * executor core count serializes the whole sort into that many tasks
    * (the r15 agg_spearman A/B: a 3-value flag key read 15.9 s at sf1
    * where the 32-way hash-partitioned join-back plan read ~7 s).
    * [[lowNdvWindows]] measures each window's input rows and
    * partition-key NDV at audit scale and flags the combination
    * rows ≥ minRows AND ndv < [[LowNdvCores]] — PLANS.md carries the
    * per-query count and OperatorsSpec holds the invariant at zero. */
  val LowNdvCores = 32L

  /** Flag descriptions ("ndv=.. rows=.. keys=..") for every row-scale
    * window in `df`'s optimized plan whose partition-key NDV is below
    * the core count AND whose average partition carries ≥
    * `minPerPartition` rows. The second condition separates the two
    * key classes a single audit scale cannot otherwise tell apart:
    * ENTITY keys (user_id — NDV grows with the corpus, per-partition
    * mass stays O(1); a tiny audit sf reads their NDV as "low" but the
    * sort parallelizes at any real scale) from STRUCTURAL dimensions
    * (a 3-value return flag — NDV is fixed forever, per-partition mass
    * grows linearly, and the sort serializes into 3 tasks at 100 TB
    * exactly as it does at the audit sf). `minRows` additionally
    * exempts aggregated-metadata windows over dozens of groups. */
  def lowNdvWindows(spark: SparkSession, df: org.apache.spark.sql.DataFrame,
      minRows: Long, minPerPartition: Long = 1000L): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.{Project, Window => LW}
    df.queryExecution.optimizedPlan.collect {
      case w: LW if w.partitionSpec.nonEmpty =>
        val child = org.apache.spark.sql.GraftPlanShim.ofRows(spark, w.child)
        val rows = child.count()
        if (rows >= minRows) {
          val keys = Project(w.partitionSpec.zipWithIndex.map {
            case (e, i) => Alias(e, s"k$i")()
          }, w.child)
          val ndv = org.apache.spark.sql.GraftPlanShim.ofRows(spark, keys)
            .distinct().count()
          if (ndv < LowNdvCores && ndv > 0 && rows / ndv >= minPerPartition)
            Some(s"ndv=$ndv rows=$rows " +
              s"keys=${w.partitionSpec.map(_.sql).mkString(",")}")
          else None
        } else None
    }.flatten
  }
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.core.Session.local()
    // static plans: AQE's wrapper hides codegen annotation pre-execution
    // (the bench/verify paths keep AQE on; this is audit-only)
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    val sb = new StringBuilder
    sb.append(
      """# PLANS — physical-plan audit
        |
        |Generated by `graft.PlanAudit` over every `SparkEntry` query (pre-AQE
        |static plans at sf0.01; AQE may further improve joins at runtime, e.g.
        |converting sort-merge to broadcast when a side turns out small).
        |Columns: parquet scans / scans with pushed filters, shuffle exchanges,
        |whole-stage-codegen spans, interpreted SortAggregates (r15: a string
        |min/max buffer silently drags a whole global aggregation off codegen
        |HashAggregate — 5x on the profile stats pass; the count keeps any
        |new fallback visible. r16 cleared the last three non-profile cases
        |via the mutable-buffer lex_max/lex_min aggregates — nonzero now
        |means the profile family's deliberate split-off string arm), low-NDV
        |row-scale windows (r16: a window partitioned on a key with fewer
        |distinct values than the 32 executor cores serializes its sort into
        |that many tasks — the agg_spearman sf1 lesson; measured at audit
        |scale over each window's input: rows ≥ 5000 AND ndv < 32 AND ≥ 1000
        |rows per partition flags — the per-partition floor separates fixed
        |STRUCTURAL dimensions from entity keys whose NDV grows with data.
        |Nonzero entries are the documented fixed-dimension exact-rank family
        |(saturating value-histogram window inputs, measured 1.4-3.3x on the
        |10x probe — far sub-linear; OperatorsSpec pins the sf0.001 subset,
        |and trimmed/winsorized mean + the KS drift test join here at sf0.01
        |where their per-dimension mass crosses the 1000-row floor)),
        |join strategies chosen.
        |
        || query | scans | pushed | exchanges | codegen spans | sort-aggs | low-ndv wins | joins |
        ||---|---|---|---|---|---|---|---|
        |""".stripMargin)

    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      val lowNdv = lowNdvWindows(spark, df, minRows = 5000L)
      def count(p: String): Int = p.r.findAllIn(plan).length
      val scans = count("Scan parquet")
      val pushed = count("PushedFilters: \\[[A-Z]")
      val exchanges = count("Exchange (hash|range|SinglePartition)")
      val joins = Seq(
        "BroadcastHashJoin" -> count("BroadcastHashJoin"),
        "SortMergeJoin" -> count("SortMergeJoin"),
        "ShuffledHashJoin" -> count("ShuffledHashJoin"),
        "BroadcastNestedLoopJoin" -> count("BroadcastNestedLoopJoin"))
        .filter(_._2 > 0).map { case (k, v) => s"$k x$v" }.mkString(", ")
      val codegenSpans = plan.linesIterator
        .flatMap("\\*\\((\\d+)\\)".r.findFirstMatchIn(_)).map(_.group(1).toInt)
        .toSet.size
      val sortAggs = count("SortAggregate")
      val lowNdvCell =
        if (lowNdv.isEmpty) "0" else s"${lowNdv.length} (${lowNdv.mkString("; ")})"
      sb.append(s"| $name | $scans | $pushed | $exchanges | $codegenSpans " +
        s"| $sortAggs | $lowNdvCell | ${if (joins.isEmpty) "—" else joins} |\n")
    }
    sb.append(
      """
        |Invariants enforced by `OperatorsSpec`: no unpartitioned Window in any
        |plan; no row-scale Window partitioned on a key with NDV below the
        |core count (the low-ndv column above); no broadcast hint on
        |sf-proportional tables; filters/projections verified pushed into
        |scans for representative queries. Bucketed joins (BucketingSpec)
        |additionally run with zero exchanges.
        |""".stripMargin)
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("wrote PLANS.md")
    spark.stop()
  }
}
