package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

/** Stream-batch parity for the KLL quantile sketch (r13 verdict item 7):
  * replaying the real lineitem corpus in canonical (h, uk, v) order
  * through [[StreamingPipelines.kllQuantileStream]]'s sequential
  * compactor reproduces the batch dataflow build's retained sketch
  * CONTENT item for item — same levels, same slots, same weights, same
  * hashes — because chunk membership and the per-(level, chunk) coin
  * are pure position arithmetic shared by both forms. Chunked feeding
  * proves the state machine is checkpoint-boundary-invariant (state
  * round-trips the encoder between micro-batches). */
class KllStreamSpec extends SparkSpec {

  test("canonical replay of lineitem equals the batch sketch content") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = sfDir
    val batch = graft.operators.Kll.kllContent(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        r.getLong(4), r.getLong(5))).toSeq

    def h60(s: String): Long = graft.functions.HashUtil.hash60(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))
    val rows = graft.core.Tables.lineitem(spark, dir)
      .selectExpr(
        "concat(cast(l_orderkey as string), '-', cast(l_linenumber as string)) as uk",
        "l_extendedprice as v")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .sortBy { case (uk, v) => (h60("kll:" + uk), uk, v) }.toSeq

    val in = MemoryStream[(String, Double)]
    val q = StreamingPipelines.kllQuantileStream(in.toDS())
      .writeStream.format("memory").queryName("kllstream")
      .outputMode(OutputMode.Update).start()
    try {
      rows.grouped(math.max(1, rows.length / 4 + 1)).foreach { chunk =>
        in.addData(chunk)
        q.processAllAvailable()
      }
      val all = spark.table("kllstream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
          r.getLong(4), r.getLong(5), r.getLong(6)))
      val maxSeen = all.map(_._7).max
      assert(maxSeen == rows.length.toLong)
      val latest = all.filter(_._7 == maxSeen)
        .map(t => (t._1, t._2, t._3, t._4, t._5, t._6))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(latest.nonEmpty && latest == batch.sortBy(t => (t._1, t._2)),
        s"stream sketch (${latest.length} rows) != batch (${batch.length})")
    } finally q.stop()
  }

  test("arbitrary (reversed) arrival still yields a VALID KLL: weights " +
    "conserve n exactly, buffers bounded, estimator within its bound") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val K = graft.operators.Kll.K
    val rows = graft.core.Tables.lineitem(spark, sfDir)
      .selectExpr(
        "concat(cast(l_orderkey as string), '-', cast(l_linenumber as string)) as uk",
        "l_extendedprice as v")
      .collect().map(r => (r.getString(0), r.getDouble(1))).reverse.toSeq
    val in = MemoryStream[(String, Double)]
    val q = StreamingPipelines.kllQuantileStream(in.toDS())
      .writeStream.format("memory").queryName("kllstream_rev")
      .outputMode(OutputMode.Update).start()
    try {
      // NOTE: the update fn sorts each chunk canonically, so a reversed
      // TWO-chunk feed is a genuinely non-canonical global order
      rows.grouped(rows.length / 2 + 1).foreach { chunk =>
        in.addData(chunk)
        q.processAllAvailable()
      }
      val all = spark.table("kllstream_rev").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
          r.getLong(4), r.getLong(5), r.getLong(6)))
      val maxSeen = all.map(_._7).max
      assert(maxSeen == rows.length.toLong)
      val sketch = all.filter(_._7 == maxSeen)
      // weight conservation: every compaction promotes exactly half the
      // mass at doubled weight, so retained weights always sum to n
      assert(sketch.map(_._5).sum == rows.length.toLong,
        "retained weights do not sum to n")
      // buffer bound: every non-final level retains < K items
      sketch.groupBy(_._1).foreach { case (lvl, rs) =>
        if (lvl < graft.operators.Kll.MaxLevels - 1)
          assert(rs.length < K, s"level $lvl holds ${rs.length} >= K items")
      }
      // rank-error bound: median estimate's true rank within the
      // analytic budget sum(chunks_l * 2^l) + max retained weight
      val n = rows.length.toLong
      val sorted = sketch.sortBy(t => (t._4, t._6, t._3))
      val cum = sorted.scanLeft(0L)(_ + _._5).tail
      val target = (50L * n + 99) / 100
      val est = sorted(cum.indexWhere(_ >= target))._4
      val trueRank = rows.count(_._2 <= est).toLong
      // chunks per level from the retained-buffer deficit: level l saw
      // n/2^l items, completed floor(n_l/K) chunks
      var errBound = sketch.map(_._5).max
      var nl = n
      var l = 0
      while (nl > 0 && l < graft.operators.Kll.MaxLevels - 1) {
        errBound += (nl / K) * (1L << l); nl = (nl / K) * (K / 2); l += 1
      }
      assert(math.abs(trueRank - target) <= errBound,
        s"median rank error ${math.abs(trueRank - target)} > $errBound")
    } finally q.stop()
  }
}
