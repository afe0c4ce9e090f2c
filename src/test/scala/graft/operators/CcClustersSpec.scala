package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.{JobProbe, SparkSpec}

/** The transitivity case that motivates connected-components dedup: a
  * chain A~B~C where A~B and B~C clear the 0.8 Jaccard threshold but A~C
  * does NOT — pairwise dedup sees two separate pairs, the cluster
  * operator must still collapse all three under min(doc_id). Built on a
  * crafted corpus written through the real parquet path so the whole
  * pipeline (shingling, prefix filter, pair join, label propagation)
  * runs end-to-end. */
class CcClustersSpec extends SparkSpec {

  test("A~B~C chain with sub-threshold A~C collapses into one cluster") {
    import spark.implicits._
    val w = (1 to 40).map(i => s"w$i")
    // A = w1..w40; B replaces the last 3 tokens; C additionally replaces
    // the first 3. Shingle-set Jaccards: A~B = B~C = 35/41 ≈ 0.854 (edge),
    // A~C = 32/44 ≈ 0.727 (no edge) — verified by the assertions below.
    val a = w.mkString(" ")
    val b = (w.take(37) ++ Seq("x38", "x39", "x40")).mkString(" ")
    val c = (Seq("y1", "y2", "y3") ++ w.slice(3, 37) ++ Seq("x38", "x39", "x40")).mkString(" ")
    val unrelated1 = (1 to 40).map(i => s"u$i").mkString(" ")
    val unrelated2 = (1 to 40).map(i => s"v$i").mkString(" ")
    val docs = Seq(
      (0L, a, "en", "src0", a.length.toLong),
      (1L, b, "en", "src0", b.length.toLong),
      (2L, c, "en", "src0", c.length.toLong),
      (3L, unrelated1, "en", "src1", unrelated1.length.toLong),
      (4L, unrelated2, "en", "src1", unrelated2.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = Files.createTempDirectory("graft_cc_chain").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // precondition: the pair graph really is a chain (A-B, B-C, no A-C)
    val pairs = Dedup.ngramJaccard(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L), (1L, 2L)), s"unexpected pair graph: $pairs")

    // the operator under test: one cluster of size 3 labeled min doc_id
    val clusters = Dedup.ccClusters(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(clusters.toSeq == Seq((0L, 0L, 3L), (1L, 0L, 3L), (2L, 0L, 3L)),
      s"wrong clustering: ${clusters.toSeq}")
  }

  test("graft_subcc and graft_dupcc builds persist no range-sorted pair relation") {
    // a private corpus copy: fresh keys, so both builds run inside the probe
    val dir = Files.createTempDirectory("graft_cc_plans").toString
    Files.copy(Paths.get(s"$sfDir/documents.parquet"), Paths.get(s"$dir/documents.parquet"))
    val probed = JobProbe(spark) {
      SubstringDedup.substringClusters(spark, dir).collect()
      Dedup.ccClusters(spark, dir).collect()
    }
    val cached = probed.nodes.collect { case s: InMemoryTableScanExec => s.relation.cachedPlan }
    assert(cached.nonEmpty, "the CC builds persist their symmetric edge lists")
    val rangeKeys = (probed.plans ++ cached).flatMap(JobProbe.collectAll).collect {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.collect { case r: RangePartitioning =>
      r.ordering.flatMap(_.child.collect { case a: AttributeReference => a.name })
    }
    assert(rangeKeys.forall(_ == Seq("doc_id")), s"range partitionings on $rangeKeys")
  }
}
