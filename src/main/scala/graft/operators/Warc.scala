package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.v2.WarcContainer

/** Oracle gates for the WARC-shaped container ingestion path
  * ([[graft.sources.v2.WarcV2Source]]): each query PACKS the `documents`
  * table into multi-record container files (cached per listing of
  * the table), reads them back through the `graft-warc` DataSource V2
  * connector, and aggregates — while the DuckDB oracle computes the same
  * aggregate straight from the parquet table. A green gate therefore
  * proves the whole loop: record synthesis, container layout, header
  * grammar, length-prefixed payload framing, and the connector's parse —
  * one wrong byte offset anywhere flips a hash and fails the gate
  * (the ingestion-side mirror of the graft-kv sink's byte-parity gate).
  *
  * The per-lang BIT_XOR of `portable_hash60(payload)` is the integrity
  * core: XOR is order-insensitive (container order ≠ parquet order) and
  * never overflows, and any single corrupted payload byte changes it. */
object Warc {

  private def containers(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft-warc").load(WarcContainer.ensureWritten(spark, dir))

  /** Full round-trip: payloads AND reconstructed headers hash-verified
    * per language. `sum_len` gates the UNCOMPRESSED byte totals — the
    * quantity DuckDB can recompute from the parquet text (it has no gzip;
    * the compressed-span invariants are spec-gated in WarcV2SourceSpec
    * instead) — so a wrong inflate anywhere flips both the hash AND the
    * length column. */
  def roundtrip(spark: SparkSession, dir: String): DataFrame =
    containers(spark, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_records"),
        sum(col("uncompressed_length")).as("sum_len"),
        expr("bit_xor(portable_hash60(payload))").as("xor_payload_hash"),
        expr("bit_xor(portable_hash60(target_uri))").as("xor_uri_hash"),
        min(col("record_id")).as("min_id"),
        max(col("record_id")).as("max_id"))
      .orderBy("lang")

  /** Header-only scan: the pruned-schema path — the connector parses
    * record headers and SKIPS every payload via Content-Length, which
    * counts the STORED (gzip'd) octets, so skipped payloads are never
    * inflated either (the streamability property container formats exist
    * for; WarcV2SourceSpec asserts the payload column never reaches the
    * scan schema). */
  def headerStats(spark: SparkSession, dir: String): DataFrame =
    containers(spark, dir)
      .select("record_id", "lang", "uncompressed_length")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_records"),
        sum(col("uncompressed_length")).as("sum_len"),
        min(col("record_id")).as("min_id"),
        max(col("record_id")).as("max_id"))
      .orderBy("lang")

  /** Range-pruned scan: a record_id predicate prunes whole container
    * files at plan time (the id range rides in the file name) and skips
    * non-matching records' payloads inside surviving files. */
  def prunedScan(spark: SparkSession, dir: String): DataFrame =
    containers(spark, dir)
      .filter(col("record_id") < 1000)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_records"),
        sum(col("uncompressed_length")).as("sum_len"),
        expr("bit_xor(portable_hash60(payload))").as("xor_payload_hash"))
      .orderBy("lang")

  /** Record-level POINT LOOKUP through the CDX side index: an `In`
    * predicate on record_id resolves — per surviving container — to
    * (offset, span) entries in the `.cdx` file, and the reader seeks and
    * fetches EXACTLY those spans (bytes touched = index + requested
    * records, independent of container size; WarcV2SourceSpec asserts
    * the bound via [[graft.sources.v2.WarcReadStats]]). The ids are
    * fixed (< 500, present at every gate scale) and land in different
    * containers, so file pruning AND the CDX seek both run. */
  def pointLookup(spark: SparkSession, dir: String): DataFrame =
    containers(spark, dir)
      .filter(col("record_id").isin(137L, 301L, 449L))
      .select(col("record_id"), col("target_uri"), col("lang"),
        col("uncompressed_length"),
        expr("portable_hash60(payload)").as("payload_hash"))
      .orderBy("record_id")

  /** Bounds of [[rangeLookup]]'s record_id interval — inside the corpus
    * at every gate scale (documents max id ≥ 499). */
  val RangeLo = 120L
  val RangeHi = 180L

  /** Record-level RANGE LOOKUP through the CDX side index (r11 verdict
    * item 7): an interval predicate on record_id prunes container files
    * at plan time, then — because CDX entries are id-ascending and the
    * pack wrote records id-ascending — resolves inside each surviving
    * container to a CONTIGUOUS CDX run that the reader coalesces into a
    * single seek+read ([[graft.sources.v2.WarcReadStats]].rangeRuns;
    * WarcV2SourceSpec pins bytes-read == index + selected spans and one
    * run per container). The aggregate output keeps the gate row count
    * scale-independent while hashing every selected payload. */
  def rangeLookup(spark: SparkSession, dir: String): DataFrame =
    containers(spark, dir)
      .filter(col("record_id") >= RangeLo && col("record_id") <= RangeHi)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_records"),
        sum(col("uncompressed_length")).as("sum_len"),
        expr("bit_xor(portable_hash60(payload))").as("xor_payload_hash"),
        min(col("record_id")).as("min_id"),
        max(col("record_id")).as("max_id"))
      .orderBy("lang")

  private def h60(x: String): String =
    s"list_reduce(list_transform(range(1,16), k -> CAST(strpos('0123456789abcdef', substr(md5($x), k, 1)) - 1 AS BIGINT)), (a,b) -> a*16+b)"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "warc_roundtrip" -> (roundtrip _),
    "warc_header_stats" -> (headerStats _),
    "warc_pruned_scan" -> (prunedScan _),
    "warc_point_lookup" -> (pointLookup _),
    "warc_range_lookup" -> (rangeLookup _)
  )

  val oracle: Map[String, String] = Map(
    "warc_roundtrip" ->
      s"""WITH h AS (SELECT doc_id, lang,
         |    CAST(strlen(text) AS BIGINT) AS len,
         |    ${h60("text")} AS ph,
         |    ${h60("'http://example.invalid/' || source || '/' || doc_id")} AS uh
         |  FROM documents)
         |SELECT lang, COUNT(*) AS n_records,
         |  CAST(SUM(len) AS BIGINT) AS sum_len,
         |  bit_xor(ph) AS xor_payload_hash,
         |  bit_xor(uh) AS xor_uri_hash,
         |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
         |FROM h GROUP BY lang ORDER BY lang""".stripMargin,
    "warc_header_stats" ->
      """SELECT lang, COUNT(*) AS n_records,
        |  CAST(SUM(strlen(text)) AS BIGINT) AS sum_len,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "warc_pruned_scan" ->
      s"""WITH h AS (SELECT doc_id, lang,
         |    CAST(strlen(text) AS BIGINT) AS len,
         |    ${h60("text")} AS ph
         |  FROM documents WHERE doc_id < 1000)
         |SELECT lang, COUNT(*) AS n_records,
         |  CAST(SUM(len) AS BIGINT) AS sum_len,
         |  bit_xor(ph) AS xor_payload_hash
         |FROM h GROUP BY lang ORDER BY lang""".stripMargin,
    "warc_point_lookup" ->
      s"""SELECT doc_id AS record_id,
         |  'http://example.invalid/' || source || '/' || doc_id AS target_uri,
         |  lang, CAST(strlen(text) AS BIGINT) AS uncompressed_length,
         |  ${h60("text")} AS payload_hash
         |FROM documents WHERE doc_id IN (137, 301, 449)
         |ORDER BY record_id""".stripMargin,
    "warc_range_lookup" ->
      s"""WITH h AS (SELECT doc_id, lang,
         |    CAST(strlen(text) AS BIGINT) AS len,
         |    ${h60("text")} AS ph
         |  FROM documents WHERE doc_id BETWEEN $RangeLo AND $RangeHi)
         |SELECT lang, COUNT(*) AS n_records,
         |  CAST(SUM(len) AS BIGINT) AS sum_len,
         |  bit_xor(ph) AS xor_payload_hash,
         |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
         |FROM h GROUP BY lang ORDER BY lang""".stripMargin
  )
}
