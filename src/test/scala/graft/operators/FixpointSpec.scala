package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit}

import graft.{JobProbe, SparkSpec}
import graft.core.{Artifacts, BuildLog, Fixpoint}

/** The round loop behind connected components, k-core peeling, label
  * propagation and personalized PageRank: a converging round observes
  * what the separate `count()` (CC) or the degree probe (k-core) used to
  * return, costs fewer jobs than the loop it replaced, and keeps only its
  * latest checkpoint; LPA's labels are an artifact keyed on `events`. */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  private def sym(pairs: Seq[(Long, Long)]): DataFrame = {
    val e = pairs.toDF("doc_a", "doc_b")
    e.union(e.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
  }

  private def jobs(body: => Unit): Int = JobProbe(spark)(body).jobs

  private def rows(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** The CC loop as it ran before [[Fixpoint]]: per round, the merged
    * relation is persisted, a `count()` returns its lowered labels and a
    * checkpoint follows unless nothing changed. */
  private def countedCc(s: DataFrame, maxRounds: Int): (DataFrame, Vector[Long]) = {
    var labels = Dedup.ccInit(s)
    var counts = Vector.empty[Long]
    while (counts.length < maxRounds && !counts.lastOption.contains(0L)) {
      val next = Dedup.ccRound(s)(labels, (merged, changed) => {
        val kept = merged.persist()
        counts :+= kept.filter(changed).count()
        kept
      })
      labels = if (counts.last > 0) next.localCheckpoint(true) else next
    }
    (labels, counts)
  }

  /** The k-core loop as it ran before [[Fixpoint]]: a degree checkpoint,
    * an `isEmpty` probe for nodes below k, then two semi-joins and an edge
    * checkpoint. Returns every round's edges, `e0` first, and whether the
    * probe found the fixpoint. */
  private def probedKcore(e0: DataFrame, k: Int, rounds: Int): (Vector[DataFrame], Boolean) = {
    var peels = Vector(e0)
    var fixpoint = false
    for (_ <- 1 to rounds if !fixpoint) {
      val e = peels.last
      val deg = e.select(col("u1").as("v")).union(e.select(col("u2").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg")).localCheckpoint(true)
      if (deg.filter(col("deg") < k).isEmpty) fixpoint = true
      else {
        val keep = deg.filter(col("deg") >= k)
        peels :+= e
          .join(keep.select(col("v").as("u1")), Seq("u1"), "left_semi")
          .join(keep.select(col("v").as("u2")), Seq("u2"), "left_semi")
          .select("u1", "u2")
          .localCheckpoint(true)
      }
    }
    (peels, fixpoint)
  }

  // A K4 on 1..4 with a tail: 5 hangs off 1, 2 and 8, and 8 off 5 alone.
  // Round 1 drops 5-8, round 2 drops 1-5 and 2-5, round 3 drops nothing.
  private val k4Tail = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
    (3L, 4L), (1L, 5L), (2L, 5L), (5L, 8L)).toDF("u1", "u2")

  test("a CC round observes what the count() returned, on the A~B~C chain") {
    val s = sym(Seq((0L, 1L), (1L, 2L)))
    val (labels, observed) = Fixpoint.trace(Dedup.ccInit(s), 20)(Dedup.ccRound(s))
    val (want, counted) = countedCc(s, 20)
    assert(observed == Vector(1L, 0L))
    assert(observed == counted)
    assert(rows(labels) == rows(want))
    assert(rows(labels) == Set((0L, 0L), (1L, 0L), (2L, 0L)))
  }

  // Jobs per round are measured on round 2, whose state is a checkpoint
  // (round 1 reads a local relation, which plans differently).
  test("a CC round that lowers labels runs 4 jobs, 3 fewer than count() + localCheckpoint") {
    val s = sym((0L until 15L).map(i => (i, i + 1)))
    val (_, counted) = countedCc(s, 20)
    assert(counted.take(2).forall(_ > 0), s"the path must change in rounds 1 and 2: $counted")
    val fix = Seq(1, 2).map(r => jobs(Fixpoint.converge(Dedup.ccInit(s), r)(Dedup.ccRound(s))))
    val old = Seq(1, 2).map(r => jobs(countedCc(s, r)))
    assert((fix(1) - fix(0), old(1) - old(0)) == ((4, 7)), s"fixpoint $fix, count() $old")
  }

  test("a k-core round observes the edges it drops and converges early") {
    val (core, observed) = Fixpoint.trace(k4Tail, Graph.KCoreRounds)(Graph.kcoreRound(3))
    val (peels, fixpoint) = probedKcore(k4Tail, 3, Graph.KCoreRounds)
    val sizes = peels.map(_.count())
    val dropped = sizes.zip(sizes.tail).map { case (a, b) => a - b } ++
      (if (fixpoint) Seq(0L) else Nil)
    assert(observed == Vector(1L, 2L, 0L))
    assert(observed == dropped)
    assert(rows(core) == rows(peels.last))
    assert(rows(Graph.kcoreEdges(k4Tail, 3, Graph.KCoreRounds)) ==
      Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
  }

  test("a k-core peel round runs 4 jobs, 1 fewer than probe + two checkpoints") {
    val fix = Seq(1, 2).map(r => jobs(Graph.kcoreEdges(k4Tail, 3, r)))
    val old = Seq(1, 2).map(r => jobs(probedKcore(k4Tail, 3, r)))
    assert((fix(1) - fix(0), old(1) - old(0)) == ((4, 5)), s"fixpoint $fix, probe $old")
  }

  test("an empty relation converges in one round") {
    val (labels, observed) =
      Fixpoint.trace(Dedup.ccInit(sym(Nil)), 20)(Dedup.ccRound(sym(Nil)))
    assert(observed == Vector(0L))
    assert(labels.isEmpty)
  }

  test("only the last round's checkpoint stays registered") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Fixpoint.rounds(spark.range(10).toDF("v"), 4)(_.select((col("v") + 1).as("v")))
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size == 1, s"checkpoints left registered: $added")
    assert(out.as[Long].collect().sorted.toSeq == (4L until 14L))
  }

  test("graph_label_propagation reads graft_lpalab, keyed on the events listing") {
    val dir = Files.createTempDirectory("graft_lpalab_spec").toString
    Files.copy(Paths.get(s"$sfDir/events.parquet"), Paths.get(s"$dir/events.parquet"))
    val got = Graph.labelPropagation(spark, dir).collect().toSeq
    val e = Graph.copresenceEdges(spark, dir, 1L).select("u1", "u2")
    val inline = Graph.lpaLabels(
        e.union(e.select(col("u2").as("u1"), col("u1").as("u2"))), Graph.LpaRounds)
      .groupBy("lbl").agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("community_size")).agg(count(lit(1)).as("n_communities"))
      .orderBy("community_size").collect().toSeq
    assert(got.nonEmpty)
    assert(got == inline)

    val builds = BuildLog.snapshot()
    assert(Graph.labelPropagation(spark, dir).collect().toSeq == got)
    assert(BuildLog.snapshot() == builds, "a second call must build nothing")

    val first = Artifacts.tableName("graft_lpalab", Artifacts.key(spark, dir, "events"))
    val ev = spark.read.parquet(s"$dir/events.parquet").collect()
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    Artifacts.deleteRec(Paths.get(s"$dir/events.parquet"))
    spark.createDataFrame(java.util.Arrays.asList(ev: _*), schema)
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val second = Artifacts.tableName("graft_lpalab", Artifacts.key(spark, dir, "events"))
    assert(second != first)
    assert(Graph.labelPropagation(spark, dir).collect().toSeq == got)
    assert(spark.catalog.tableExists(second), "an events rewrite must rebuild graft_lpalab")
    assert(BuildLog.snapshot()("table:graft_lpalab") > builds("table:graft_lpalab"))
  }
}
