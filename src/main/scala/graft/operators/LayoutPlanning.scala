package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Multi-dimensional data layout planning — the Z-order (Morton curve)
  * clustering decision a 100 TB table owner makes so parquet min/max
  * file statistics prune scans on EVERY hot dimension, not only the
  * leading sort column (the technique behind Delta Lake's OPTIMIZE
  * ZORDER BY and Iceberg's z-order sort orders; Morton 1966).
  *
  * The operator quantifies the decision BEFORE the rewrite: bucket the
  * events table the two candidate ways — by Morton code of
  * (user bucket, minute-of-day bucket) and by the linear user prefix —
  * and report each bucket's exact 2-D bounding box. A file-skipping
  * reader prunes a file when the predicate misses its bbox. The win is
  * NOT smaller areas (equal-size buckets tile equal area either way);
  * it is BALANCED per-dimension spans: linear buckets span 4 users ×
  * the full 240-cell day (a time-of-day predicate prunes nothing),
  * while a 2^10 z-range covers a 32×32 block — the worst-dimension
  * span drops 240 → 32, so selective predicates on EITHER dimension
  * prune ~7/8 of the files (LayoutSpec pins both span profiles). The
  * gated output is the per-bucket evidence table; the rewrite itself is
  * one `repartitionByRange(zv).sortWithinPartitions(zv)` write with the
  * same codegen'd [[graft.functions.ZValue2]] key.
  *
  * Exactness: bucket ids, row counts, bbox corners, and areas are all
  * BIGINT arithmetic on masked integer dimensions; the Morton code is
  * bit-identical between the codegen mask-ladder expression and the
  * oracle's unrolled 32-term shift-and-add.
  *
  * Scale shape: one scan, the two bucket keys computed per row and
  * unpivoted via stack(2, ...) (no second scan), one hash aggregation
  * on ≤ 2·64 grouped buckets. No window, no join, no driver state.
  */
object LayoutPlanning {

  /** Grid resolution: 8-bit dimension buckets (the curve takes up to 16;
    * 8 keeps every cell populated at gate scale — the locality CONTRAST
    * between the two layouts, not the grid size, is what's measured, and
    * it is resolution-independent). */
  val DimMask = 255L

  /** Z-space range per z-bucket: 16-bit Morton domain / 64 buckets. */
  val ZBucketWidth = 1024L // 2^10

  /** x-domain range per linear bucket: 8-bit user domain / 64. */
  val XBucketWidth = 4L

  def zorderLocality(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        (col("user_id") % (DimMask + 1)).as("x"),
        // minute-of-day folded onto the 8-bit grid (1440/6 = 240 cells)
        expr("((unix_timestamp(ts) div 60) % 1440) div 6").as("y"))
      .withColumn("zv", expr("zvalue2(x, y)"))
      .select(col("x"), col("y"),
        expr(s"stack(2, 'zorder', zv div $ZBucketWidth, 'linear', x div $XBucketWidth)")
          .as(Seq("layout", "bucket")))
      .groupBy("layout", "bucket")
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
      .withColumn("bbox_area",
        (col("x_max") - col("x_min") + 1L) * (col("y_max") - col("y_min") + 1L))
      .orderBy("layout", "bucket")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "layout_zorder_locality" -> (zorderLocality _)
  )

  /** Unrolled Morton interleave: Σ_b ((x>>b)&1)·4^b + ((y>>b)&1)·2·4^b —
    * definitionally the codegen expression's mask ladder. */
  private val zSql: String =
    (0 until 16).map { b =>
      s"((x >> $b) & 1) * ${1L << (2 * b)} + ((y >> $b) & 1) * ${2L << (2 * b)}"
    }.mkString(" + ")

  val oracle: Map[String, String] = Map(
    "layout_zorder_locality" ->
      s"""WITH pts AS (SELECT user_id % ${DimMask + 1} AS x,
         |    ((CAST(floor(epoch(ts)) AS BIGINT) // 60) % 1440) // 6 AS y
         |  FROM events),
         |z AS (SELECT x, y, $zSql AS zv FROM pts),
         |both_layouts AS (
         |  SELECT 'zorder' AS layout, zv // $ZBucketWidth AS bucket, x, y FROM z
         |  UNION ALL
         |  SELECT 'linear', x // $XBucketWidth, x, y FROM z)
         |SELECT layout, CAST(bucket AS BIGINT) AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(MIN(x) AS BIGINT) AS x_min, CAST(MAX(x) AS BIGINT) AS x_max,
         |  CAST(MIN(y) AS BIGINT) AS y_min, CAST(MAX(y) AS BIGINT) AS y_max,
         |  CAST((MAX(x) - MIN(x) + 1) * (MAX(y) - MIN(y) + 1) AS BIGINT) AS bbox_area
         |FROM both_layouts GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
