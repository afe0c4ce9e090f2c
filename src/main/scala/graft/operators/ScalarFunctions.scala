package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables

/** Scalar-function coverage: string / date-time / math / JSON / array
  * functions, each exercised row-wise over a bounded key range so outputs
  * stay small and totally ordered.
  *
  * Cross-engine parity notes (Spark vs DuckDB), encoded in the oracles:
  *  - DuckDB `year()`/`row_number()` etc. return BIGINT; Spark INT → the
  *    oracle casts to INTEGER.
  *  - DuckDB `date_trunc('day', ts)` returns DATE; Spark returns TIMESTAMP
  *    → oracle casts back to TIMESTAMP.
  *  - Spark `unix_timestamp` floors to seconds; DuckDB `epoch()` keeps
  *    micros as DOUBLE → oracle uses floor(epoch())::BIGINT.
  *  - `round()` on raw DOUBLE diverges between engines (Spark rounds the
  *    shortest decimal representation, DuckDB the binary value) → any
  *    rounding here goes through DECIMAL first.
  *  - Transcendentals (ln/exp/pow) are libm-dependent → only IEEE-exact
  *    math (abs/ceil/floor/sqrt/mod/sign) is oracle-checked.
  */
object ScalarFunctions {

  def stringFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .filter(col("c_custkey") <= 200)
      .select(
        col("c_custkey"),
        upper(col("c_name")).as("up"),
        lower(col("c_mktsegment")).as("lo"),
        substring(col("c_name"), 1, 8).as("sub"),
        length(col("c_name")).as("len"),
        concat(col("c_name"), lit("-"), col("c_mktsegment")).as("cat"),
        regexp_replace(col("c_name"), "0", "").as("nozeros"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("padded"),
        split(col("c_name"), "#").getItem(1).as("name_num"),
        when(col("c_name").contains("5"), 1).otherwise(0).as("has5"))
      .orderBy("c_custkey")

  def dateFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_id") <= 500)
      .select(
        col("event_id"), col("ts"),
        year(col("ts")).as("y"),
        month(col("ts")).as("mo"),
        dayofmonth(col("ts")).as("d"),
        hour(col("ts")).as("h"),
        minute(col("ts")).as("mi"),
        date_trunc("day", col("ts")).as("day_start"),
        date_trunc("hour", col("ts")).as("hour_start"),
        (col("ts") + expr("INTERVAL 7 DAYS")).as("week_later"),
        unix_timestamp(col("ts")).as("epoch_s"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("days_since"))
      .orderBy("event_id")

  def mathFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") <= 100)
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        abs(col("l_extendedprice") - 50000.0).as("abs_dev"),
        ceil(col("l_extendedprice")).as("ceil_p"),
        floor(col("l_extendedprice")).as("floor_p"),
        sqrt(col("l_extendedprice")).as("sqrt_p"),
        round(col("l_extendedprice").cast(DecimalType(15, 2)), 1)
          .cast("double").as("round1_p"),
        (col("l_orderkey") % 7).as("mod7"),
        signum(col("l_extendedprice") - 50000.0).as("sign_dev"))
      .orderBy("l_orderkey", "l_linenumber")

  def jsonFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  def arrayFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") <= 100)
      .select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        element_at(col("embedding"), 1).as("first_elem"),
        array_min(col("embedding")).as("min_elem"),
        array_max(col("embedding")).as("max_elem"),
        aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double")).as("sumsq"))
      .orderBy("vec_id")

  /** Second string batch: edit distance, character mapping, trimming,
    * positional extraction — all functions verified value-identical across
    * Spark and DuckDB. */
  def stringFuncs2(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .filter(col("c_custkey") <= 150)
      .select(
        col("c_custkey"),
        levenshtein(col("c_name"), col("c_mktsegment")).as("lev"),
        translate(col("c_name"), "0123456789", "ABCDEFGHIJ").as("tr"),
        reverse(col("c_name")).as("rev"),
        repeat(substring(col("c_name"), 1, 2), 3).as("rep"),
        ascii(col("c_name")).as("first_code"),
        instr(col("c_name"), "1").as("pos1"),
        expr("left(c_name, 3)").as("l3"),
        expr("right(c_name, 3)").as("r3"),
        expr("btrim(c_name, 'C')").as("trimmed"))
      .orderBy("c_custkey")

  /** Second date batch: quarter/day-of-year/ISO weekday arithmetic,
    * month-end, day offsets. Weekday is normalized to ISO (1 = Monday) on
    * both sides — Spark's weekday() is 0-based Monday, DuckDB's isodow is
    * 1-based — so the oracle and query meet at the same definition. */
  def dateFuncs2(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_id") <= 500)
      .select(
        col("event_id"),
        quarter(col("ts")).as("q"),
        dayofyear(col("ts")).as("doy"),
        (weekday(col("ts")) + 1).as("isodow"),
        // DATE columns round-trip differently through parquet/pandas than
        // TIMESTAMPs, so date-valued results ship as ISO strings
        last_day(to_date(col("ts"))).cast("string").as("month_end"),
        date_add(to_date(col("ts")), 30).cast("string").as("plus30d"),
        to_date(col("ts")).cast("string").as("d"))
      .orderBy("event_id")

  /** Bitwise function batch over integer keys — identical two's-complement
    * semantics in both engines. */
  def bitwiseFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderkey") <= 500)
      .select(
        col("o_orderkey"),
        expr("o_orderkey & 255").as("band"),
        expr("o_orderkey | 4096").as("bor"),
        expr("o_orderkey ^ o_custkey").as("bxor"),
        expr("shiftleft(o_orderkey, 3)").as("shl"),
        expr("shiftright(o_orderkey, 2)").as("shr"),
        expr("bit_count(o_orderkey)").as("popcount"))
      .orderBy("o_orderkey")

  /** Struct and map construction/field-access round trips. The nested
    * values are carried through named_struct / map / map_from_entries and
    * extracted back to flat scalars, so the oracle — which computes the
    * same scalars directly — proves the round trip is lossless. (Nested
    * columns themselves are never output: struct/map columns don't hash
    * portably across engines.) */
  def structMapFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderkey") <= 500)
      .select(col("o_orderkey"),
        expr("named_struct('pri', o_orderpriority, 'price', o_totalprice)").as("s"),
        expr("map('pri', o_orderpriority, 'status', o_orderstatus)").as("m"),
        expr("map_from_entries(array(named_struct('key', 'k1', 'value', o_custkey), " +
          "named_struct('key', 'k2', 'value', o_orderkey)))").as("me"))
      .select(
        col("o_orderkey"),
        col("s.pri").as("pri"),
        col("s.price").as("price"),
        expr("element_at(m, 'status')").as("status"),
        expr("cast(size(m) as int)").as("m_size"),
        expr("element_at(me, 'k1')").as("custkey_via_map"),
        expr("cast(size(map_keys(me)) as int)").as("me_keys"))
      .orderBy("o_orderkey")

  /** Regex surface: count / extract / replace / match over document text.
    * Patterns stay in the character-class + quantifier subset where Java
    * regex (Spark) and RE2 (DuckDB) agree; both engines count
    * NON-overlapping matches and return '' for a no-match extract. */
  def regexFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") <= 200)
      .select(
        col("doc_id"),
        expr("cast(regexp_count(text, 'ta') as bigint)").as("n_ta"),
        regexp_extract(substring(col("text"), 1, 60), "[a-z]+a[a-z]+", 0)
          .as("first_a_word"),
        regexp_replace(substring(col("text"), 1, 60), "[aeiou]", "")
          .as("devoweled"),
        col("text").rlike("spark").as("has_spark"),
        expr("cast(regexp_count(text, '[a-z]+') as bigint)").as("n_words_re"))
      .orderBy("doc_id")

  /** Encoding surface: base64/hex/digest round trips. Spark and DuckDB
    * agree on standard base64 (RFC 4648 with padding), uppercase hex, and
    * lowercase md5/sha256 hex digests. */
  def encodeFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .filter(col("c_custkey") <= 300)
      .select(
        col("c_custkey"),
        base64(col("c_name").cast("binary")).as("b64"),
        unbase64(base64(col("c_name").cast("binary"))).cast("string")
          .as("b64_roundtrip"),
        hex(col("c_mktsegment").cast("binary")).as("hexed"),
        ascii(col("c_name")).as("first_code"),
        expr("char(65 + cast(c_custkey % 26 as int))").as("letter"),
        md5(col("c_name").cast("binary")).as("md5_hex"),
        sha2(col("c_name").cast("binary"), 256).as("sha256_hex"))
      .orderBy("c_custkey")

  /** URL parsing surface: Spark's native `parse_url` (HOST / PATH / QUERY
    * / keyed QUERY / PROTOCOL) over URLs built from document columns.
    * DuckDB has no parse_url, so the oracle extracts the same components
    * with anchored regexes — safe because the generated URLs are
    * well-formed by construction (no fragments, no escapes). */
  def urlFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") <= 200)
      .withColumn("url", concat(
        lit("https://"), col("source"), lit(".example.com/docs/"),
        col("doc_id").cast("string"),
        lit("?lang="), col("lang"), lit("&n="), col("n_chars").cast("string")))
      .select(col("doc_id"), col("url"),
        expr("parse_url(url, 'PROTOCOL')").as("scheme"),
        expr("parse_url(url, 'HOST')").as("host"),
        expr("parse_url(url, 'PATH')").as("path"),
        expr("parse_url(url, 'QUERY')").as("query"),
        expr("parse_url(url, 'QUERY', 'lang')").as("lang_param"))
      .orderBy("doc_id")

  /** Conditional / null-handling surface: COALESCE, NULLIF, IF, LEAST,
    * GREATEST, and a searched CASE — ANSI forms only, so both engines
    * parse the identical expression text. NULLIF deliberately feeds
    * COALESCE to exercise null propagation through a chain. */
  def conditionalFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.supplier(spark, dir)
      .filter(col("s_suppkey") <= 200)
      .select(
        col("s_suppkey"),
        expr("coalesce(nullif(s_nationkey, 0), -1)").as("nation_or_neg1"),
        expr("nullif(s_suppkey % 5, 0)").as("mod5_nulled"),
        expr("if(s_acctbal >= 0, 'credit', 'debit')").as("balance_side"),
        expr("least(s_suppkey, s_nationkey * 10)").as("least_v"),
        expr("greatest(s_suppkey, s_nationkey * 10)").as("greatest_v"),
        expr("""case when s_suppkey % 15 = 0 then 'fizzbuzz'
               |     when s_suppkey % 3 = 0 then 'fizz'
               |     when s_suppkey % 5 = 0 then 'buzz'
               |     else cast(s_suppkey as string) end""".stripMargin)
          .as("fizzbuzz"),
        expr("coalesce(nullif(substr(s_name, 1, 8), 'Supplier'), 'XX')")
          .as("name_prefix"))
      .orderBy("s_suppkey")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fn_url" -> (urlFuncs _),
    "fn_regex" -> (regexFuncs _),
    "fn_encode" -> (encodeFuncs _),
    "fn_struct_map" -> (structMapFuncs _),
    "fn_bitwise" -> (bitwiseFuncs _),
    "fn_string" -> (stringFuncs _),
    "fn_string2" -> (stringFuncs2 _),
    "fn_date" -> (dateFuncs _),
    "fn_date2" -> (dateFuncs2 _),
    "fn_math" -> (mathFuncs _),
    "fn_conditional" -> (conditionalFuncs _),
    "fn_json" -> (jsonFuncs _),
    "fn_array" -> (arrayFuncs _)
  )

  val oracle: Map[String, String] = Map(
    "fn_url" ->
      """WITH u AS (SELECT doc_id,
        |  'https://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR)
        |    || '?lang=' || lang || '&n=' || CAST(n_chars AS VARCHAR) AS url
        |FROM documents WHERE doc_id <= 200)
        |SELECT doc_id, url,
        |  regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
        |  regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
        |  regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
        |  regexp_extract(url, '\?([^#]*)', 1) AS query,
        |  regexp_extract(url, '[?&]lang=([^&#]*)', 1) AS lang_param
        |FROM u ORDER BY doc_id""".stripMargin,
    "fn_regex" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, 'ta')) AS BIGINT) AS n_ta,
        |  regexp_extract(substr(text, 1, 60), '[a-z]+a[a-z]+') AS first_a_word,
        |  regexp_replace(substr(text, 1, 60), '[aeiou]', '', 'g') AS devoweled,
        |  regexp_matches(text, 'spark') AS has_spark,
        |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_words_re
        |FROM documents WHERE doc_id <= 200
        |ORDER BY doc_id""".stripMargin,
    "fn_encode" ->
      """SELECT c_custkey,
        |  base64(encode(c_name)) AS b64,
        |  decode(from_base64(base64(encode(c_name)))) AS b64_roundtrip,
        |  hex(c_mktsegment) AS hexed,
        |  ascii(c_name) AS first_code,
        |  chr(CAST(65 + c_custkey % 26 AS INTEGER)) AS letter,
        |  md5(c_name) AS md5_hex,
        |  sha256(c_name) AS sha256_hex
        |FROM customer WHERE c_custkey <= 300
        |ORDER BY c_custkey""".stripMargin,
    "fn_struct_map" ->
      """SELECT o_orderkey,
        |  o_orderpriority AS pri,
        |  o_totalprice AS price,
        |  o_orderstatus AS status,
        |  CAST(2 AS INTEGER) AS m_size,
        |  o_custkey AS custkey_via_map,
        |  CAST(2 AS INTEGER) AS me_keys
        |FROM orders WHERE o_orderkey <= 500
        |ORDER BY o_orderkey""".stripMargin,
    "fn_bitwise" ->
      """SELECT o_orderkey,
        |  o_orderkey & 255 AS band,
        |  o_orderkey | 4096 AS bor,
        |  xor(o_orderkey, o_custkey) AS bxor,
        |  o_orderkey << 3 AS shl,
        |  o_orderkey >> 2 AS shr,
        |  CAST(bit_count(o_orderkey) AS INTEGER) AS popcount
        |FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey""".stripMargin,
    "fn_string2" ->
      """SELECT c_custkey,
        |  CAST(levenshtein(c_name, c_mktsegment) AS INTEGER) AS lev,
        |  translate(c_name, '0123456789', 'ABCDEFGHIJ') AS tr,
        |  reverse(c_name) AS rev,
        |  repeat(substr(c_name, 1, 2), 3) AS rep,
        |  CAST(ascii(c_name) AS INTEGER) AS first_code,
        |  CAST(instr(c_name, '1') AS INTEGER) AS pos1,
        |  left(c_name, 3) AS l3,
        |  right(c_name, 3) AS r3,
        |  trim(c_name, 'C') AS trimmed
        |FROM customer WHERE c_custkey <= 150 ORDER BY c_custkey""".stripMargin,
    "fn_date2" ->
      """SELECT event_id,
        |  CAST(quarter(ts) AS INTEGER) AS q,
        |  CAST(dayofyear(ts) AS INTEGER) AS doy,
        |  CAST(isodow(ts) AS INTEGER) AS isodow,
        |  CAST(last_day(CAST(ts AS DATE)) AS VARCHAR) AS month_end,
        |  CAST(CAST(ts AS DATE) + 30 AS VARCHAR) AS plus30d,
        |  CAST(CAST(ts AS DATE) AS VARCHAR) AS d
        |FROM events WHERE event_id <= 500 ORDER BY event_id""".stripMargin,
    "fn_string" ->
      """SELECT c_custkey,
        |  upper(c_name) AS up,
        |  lower(c_mktsegment) AS lo,
        |  substr(c_name, 1, 8) AS sub,
        |  CAST(length(c_name) AS INTEGER) AS len,
        |  c_name || '-' || c_mktsegment AS cat,
        |  regexp_replace(c_name, '0', '', 'g') AS nozeros,
        |  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
        |  split_part(c_name, '#', 2) AS name_num,
        |  CASE WHEN c_name LIKE '%5%' THEN 1 ELSE 0 END AS has5
        |FROM customer WHERE c_custkey <= 200 ORDER BY c_custkey""".stripMargin,
    "fn_date" ->
      """SELECT event_id, ts,
        |  CAST(year(ts) AS INTEGER) AS y,
        |  CAST(month(ts) AS INTEGER) AS mo,
        |  CAST(day(ts) AS INTEGER) AS d,
        |  CAST(hour(ts) AS INTEGER) AS h,
        |  CAST(minute(ts) AS INTEGER) AS mi,
        |  CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
        |  CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
        |  ts + INTERVAL 7 DAY AS week_later,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
        |  CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INTEGER) AS days_since
        |FROM events WHERE event_id <= 500 ORDER BY event_id""".stripMargin,
    "fn_conditional" ->
      """SELECT s_suppkey,
        |  COALESCE(NULLIF(s_nationkey, 0), -1) AS nation_or_neg1,
        |  NULLIF(s_suppkey % 5, 0) AS mod5_nulled,
        |  IF(s_acctbal >= 0, 'credit', 'debit') AS balance_side,
        |  LEAST(s_suppkey, s_nationkey * 10) AS least_v,
        |  GREATEST(s_suppkey, s_nationkey * 10) AS greatest_v,
        |  CASE WHEN s_suppkey % 15 = 0 THEN 'fizzbuzz'
        |       WHEN s_suppkey % 3 = 0 THEN 'fizz'
        |       WHEN s_suppkey % 5 = 0 THEN 'buzz'
        |       ELSE CAST(s_suppkey AS VARCHAR) END AS fizzbuzz,
        |  COALESCE(NULLIF(substr(s_name, 1, 8), 'Supplier'), 'XX') AS name_prefix
        |FROM supplier WHERE s_suppkey <= 200
        |ORDER BY s_suppkey""".stripMargin,
    "fn_math" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice,
        |  abs(l_extendedprice - 50000.0) AS abs_dev,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_p,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS floor_p,
        |  sqrt(l_extendedprice) AS sqrt_p,
        |  CAST(round(CAST(l_extendedprice AS DECIMAL(15,2)), 1) AS DOUBLE) AS round1_p,
        |  l_orderkey % 7 AS mod7,
        |  CAST(sign(l_extendedprice - 50000.0) AS DOUBLE) AS sign_dev
        |FROM lineitem WHERE l_orderkey <= 100 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "fn_json" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |  CAST(MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS min_k,
        |  CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "fn_array" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS INTEGER) AS dim,
        |  embedding[1] AS first_elem,
        |  list_min(embedding) AS min_elem,
        |  list_max(embedding) AS max_elem,
        |  list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS sumsq
        |FROM embeddings WHERE vec_id <= 100 ORDER BY vec_id""".stripMargin
  )
}
