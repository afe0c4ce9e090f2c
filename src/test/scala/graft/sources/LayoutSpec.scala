package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import graft.SparkSpec
import graft.core.Tables

/** The range-sorted layout must yield tight, pairwise-disjoint per-file
  * key ranges in the parquet footers (so pushed filters can skip files),
  * while the hash-scattered baseline overlaps everywhere — measured from
  * the actual footer statistics, not inferred from plans. */
class LayoutSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def fileRanges(dir: String, column: String): Seq[(Long, Long)] = {
    val conf = new Configuration()
    new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).toSeq
      .map { f =>
        val in = HadoopInputFile.fromPath(new Path(f.getAbsolutePath), conf)
        val reader = ParquetFileReader.open(in)
        try {
          val stats = reader.getFooter.getBlocks.asScala
            .flatMap(_.getColumns.asScala)
            .filter(_.getPath.toDotString == column)
            .map(_.getStatistics)
          (stats.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue).min,
            stats.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue).max)
        } finally reader.close()
      }
  }

  private def overlaps(rs: Seq[(Long, Long)]): Int =
    rs.combinations(2).count { case Seq((a1, b1), (a2, b2)) =>
      math.max(a1, a2) <= math.min(b1, b2)
    }

  test("range-sorted files have disjoint key ranges; scattered files overlap") {
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
    val sortedDir = tmp("graft_layout_sorted")
    val scatterDir = tmp("graft_layout_scattered")
    Layout.writeSorted(li, "l_orderkey", sortedDir, 8)
    Layout.writeScattered(li, "l_orderkey", scatterDir, 8)

    val sortedRanges = fileRanges(sortedDir, "l_orderkey")
    val scatterRanges = fileRanges(scatterDir, "l_orderkey")
    assert(sortedRanges.size == 8 && scatterRanges.size == 8)
    assert(overlaps(sortedRanges) == 0,
      s"sorted layout has overlapping file ranges: $sortedRanges")
    assert(overlaps(scatterRanges) > 20, // 8C2=28 pairs: nearly all overlap
      s"scattered baseline unexpectedly well-clustered: $scatterRanges")

    // consequence: a point predicate can only match ONE sorted file.
    // Probe with a MID-DOMAIN key (5th range's lower bound): listFiles()
    // order is arbitrary, and a probe at the global max would sit inside
    // only one scattered file too (its max IS the global max), flaking
    // the contrast assertion.
    val probe = sortedRanges.map(_._1).sorted.apply(4)
    assert(sortedRanges.count { case (lo, hi) => lo <= probe && probe <= hi } == 1)
    assert(scatterRanges.count { case (lo, hi) => lo <= probe && probe <= hi } >= 7)

    // and the data itself round-trips identically under both layouts
    val a = spark.read.parquet(sortedDir).orderBy("l_orderkey", "l_quantity").collect()
    val b = spark.read.parquet(scatterDir).orderBy("l_orderkey", "l_quantity").collect()
    assert(a.length == b.length && a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("z-order layout bounds BOTH dimensions' footer spans; single-sort only one") {
    val base = Tables.lineitem(spark, sfDir)
      .selectExpr("cast(l_orderkey % 256 as long) as x",
        "cast(l_partkey % 256 as long) as y")
    val zDir = tmp("graft_layout_zorder")
    val xDir = tmp("graft_layout_xsorted")
    Layout.writeZOrdered(base, "x", "y", zDir, 16, bits = 8)
    Layout.writeSorted(base, "x", xDir, 16)

    val zx = fileRanges(zDir, "x"); val zy = fileRanges(zDir, "y")
    val sx = fileRanges(xDir, "x"); val sy = fileRanges(xDir, "y")
    def avgSpan(rs: Seq[(Long, Long)]): Double =
      rs.map { case (lo, hi) => hi - lo }.sum.toDouble / rs.size

    // x-sorted: tight on x, but every file spans the whole y domain
    assert(avgSpan(sx) < 64.0, s"sx=$sx")
    // (y = l_partkey % 256 tops out just under 200 at this sf, so the
    // "full domain" span is ~199, not 255)
    assert(avgSpan(sy) > 190.0, s"sy=$sy")
    // z-order: both dimensions bounded well under the 256 domain (ideal
    // quadrant span is 64; range-boundary straddle can widen some files)
    assert(avgSpan(zx) < 160.0, s"zx=$zx")
    assert(avgSpan(zy) < 160.0, s"zy=$zy")

    // pruning consequence: a filter on y ALONE (y in [128, 159]) must
    // skip most z-ordered files but can skip no x-sorted file
    val (q0, q1) = (128L, 159L)
    val zHits = zy.count { case (lo, hi) => lo <= q1 && q0 <= hi }
    val sHits = sy.count { case (lo, hi) => lo <= q1 && q0 <= hi }
    assert(sHits == sy.size, s"x-sorted layout unexpectedly pruned y: $sy")
    assert(zHits * 2 <= zy.size,
      s"z-order pruned too little on y: $zHits of ${zy.size} files match")

    // and the z-layout round-trips the data exactly
    val a = spark.read.parquet(zDir).orderBy("x", "y").collect()
    val b = base.orderBy("x", "y").collect()
    assert(a.length == b.length && a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("zValue is an exact bit interleave: deinterleave recovers both keys (200 cases)") {
    import org.apache.spark.sql.functions.{col, lit}
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(200)((rnd.nextInt(1 << 21).toLong, rnd.nextInt(1 << 21).toLong))
    val df = spark.createDataFrame(pairs).toDF("a", "b")
      .withColumn("z", Layout.zValue(col("a"), col("b")))
      .collect()
    df.foreach { r =>
      val (a, b, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      var (ra, rb) = (0L, 0L)
      (0 until 21).foreach { i =>
        ra |= ((z >> (2 * i)) & 1L) << i
        rb |= ((z >> (2 * i + 1)) & 1L) << i
      }
      assert(ra == a && rb == b, s"z=$z deinterleaved to ($ra,$rb), expected ($a,$b)")
    }
    // monotone in the box sense: z of (0,0) is the global minimum
    val zmin = spark.range(1).select(Layout.zValue(lit(0L), lit(0L))).head.getLong(0)
    assert(zmin == 0L)
  }
}
