package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Loaders for the analytic tables (TPC-H-ish star schema + events /
  * documents / embeddings), one parquet file per table under a scale-factor
  * directory.
  *
  * All reads go through `spark.read.parquet` so Catalyst's vectorized
  * reader, predicate pushdown, and column pruning apply. Never cache here:
  * at 100 TB the tables don't fit, and pushdown into the scan is the win.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet-reader session conf that [[Session.prepare]] applies to every
    * session a query runs in (the graft sessions of [[Session.local]] and
    * any session `SparkEntry.queries` is handed) — load() itself is
    * side-effect free so a table read never silently reconfigures the
    * caller's session for unrelated parquet reads.
    *
    *  - `inferTimestampNTZ.enabled=false`: parquet timestamps written
    *    WITHOUT the isAdjustedToUTC flag surface as TIMESTAMP_NTZ in
    *    Spark 4, which rejects casts to numeric epoch types
    *    ([DATATYPE_MISMATCH]) that every time-arithmetic query here relies
    *    on. Disabling NTZ inference makes the scan emit TimestampType
    *    NATIVELY, so date/ts predicates still push into the parquet reader
    *    (a cast-on-top projection would block PushedFilters on every TPC-H
    *    date filter). All graft sessions run with
    *    spark.sql.session.timeZone=UTC, so the micros values are exactly
    *    what DuckDB's TIMESTAMP gives the oracle for the same file.
    *  - `nanosAsLong=true`: generator vintages that stamp the events `ts`
    *    as physical INT64 TIMESTAMP(NANOS) would otherwise fail outright
    *    ([PARQUET_TYPE_ILLEGAL]); see [[events]] for the truncation.
    *
    * The cast fallback in [[load]] covers pre-inferred schemas from
    * sessions configured elsewhere. */
  def configure(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.filter(_.dataType == TimestampNTZType) match {
      case Array() => df
      case ntz =>
        df.withColumns(ntz.map(f => f.name -> col(f.name).cast(TimestampType)).toMap)
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  /** When the events table's `ts` is physical parquet INT64
    * TIMESTAMP(NANOS), the nanosAsLong conf (see [[configure]]) reads it
    * as a long; truncate nanos → micros with integer division — the same
    * truncation DuckDB applies when it coerces TIMESTAMP_NS parquet to its
    * micro-precision TIMESTAMP, so oracle comparisons stay bit-identical.
    * `div` (integer division) is load-bearing: `/` would go through DOUBLE
    * and lose precision above 2^53 ns. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        // derived datasets (graft.ScaleUp) are written with ts already
        // truncated to micro-precision TIMESTAMP — identical values, no
        // second truncation needed
        df
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
