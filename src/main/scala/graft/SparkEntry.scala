package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Session
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator module contributes a `queries` map (name → runnable
  * DataFrame pipeline) and, where the semantics are ANSI-SQL-expressible, an
  * `oracle` map with the equivalent DuckDB SQL over the same parquet tables.
  * The driver runs each query at sf0.01 and hash-compares against DuckDB.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Any session may come in here, so it is prepared like every query of
    * [[queries]]. */
  def entry(spark: SparkSession): DataFrame = {
    Session.prepare(spark)
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")
  }

  private val modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (MapReduceTasks.queries, MapReduceTasks.oracle),
      (Relational.queries, Relational.oracle),
      (RelationalX.queries, RelationalX.oracle),
      (Windows.queries, Windows.oracle),
      (ScalarFunctions.queries, ScalarFunctions.oracle),
      (Events.queries, Events.oracle),
      (Behavioral.queries, Behavioral.oracle),
      (Dedup.queries, Dedup.oracle),
      (Graph.queries, Graph.oracle),
      (SubstringDedup.queries, SubstringDedup.oracle),
      (Bpe.queries, Bpe.oracle),
      (WordPiece.queries, WordPiece.oracle),
      (Unigram.queries, Unigram.oracle),
      (Similarity.queries, Similarity.oracle),
      (TextAnalysis.queries, TextAnalysis.oracle),
      (Html.queries, Html.oracle),
      (Features.queries, Features.oracle),
      (graft.multimodal.Multimodal.queries, graft.multimodal.Multimodal.oracle),
      (AdvancedAggs.queries, AdvancedAggs.oracle),
      (Kll.queries, Kll.oracle),
      (graft.agg.TopK.queries, graft.agg.TopK.oracle),
      (graft.plans.NativeTopK.queries, graft.plans.NativeTopK.oracle),
      (TrainingPipeline.queries, TrainingPipeline.oracle),
      (Profile.queries, Profile.oracle),
      (Diagnostics.queries, Diagnostics.oracle),
      (Sampling.queries, Sampling.oracle),
      (LayoutPlanning.queries, LayoutPlanning.oracle),
      (Warc.queries, Warc.oracle)
    )

  /** One entry per implemented operator from SURVEY.md §2, built once.
    * Each query first applies [[graft.core.Session.prepare]] to the session
    * it is given, so any session (one graft did not build included) runs
    * it: operators never register functions or set confs themselves. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val merged = modules.iterator.map(_._1).reduce(_ ++ _)
    // A name reused across modules would silently drop one pipeline while
    // the independently-merged oracle map might keep the other's SQL.
    require(modules.map(_._1.size).sum == merged.size,
      "duplicate query name across operator modules")
    merged.map { case (name, q) =>
      name -> { (spark: SparkSession, dir: String) =>
        Session.prepare(spark)
        q(spark, dir)
      }
    }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (driver records a weaker rows-only check for those). */
  def oracleSql: Map[String, String] =
    modules.iterator.map(_._2).reduce(_ ++ _)
}
