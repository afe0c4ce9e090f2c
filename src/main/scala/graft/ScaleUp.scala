package graft

import org.apache.spark.sql.functions._

/** Derives a larger scale factor from an existing testdata directory by
  * union-replicating every table `copies`× with key remapping — the 10×
  * scale probe the engine uses to check that per-query runtime follows the
  * sf0.01→sf0.1 slope instead of exploding super-linearly.
  *
  * Remapping rules keep the scaled corpus REALISTIC rather than trivially
  * self-similar:
  *   - every key column is offset by `replica · (max_key + 1)`, so
  *     referential integrity holds within each replica and cardinalities
  *     scale ~linearly (regions/nations keep their fixed domain);
  *   - document text is token-tagged per replica (replica 0 verbatim), so
  *     the near-dup cluster STRUCTURE of the source corpus is preserved in
  *     every replica but no cross-replica near-dups exist — verbatim copies
  *     would grow pair-emitting dedup outputs quadratically by construction
  *     and poison the slope measurement;
  *   - embeddings are cyclically rotated by the replica index (norms and
  *     intra-replica geometry preserved, cross-replica cosine decorrelated)
  *     for the same reason.
  *
  * Usage: runMain graft.ScaleUp [srcDir] [dstDir] [copies]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("target/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.core.Session.local()

    val keyCols: Map[String, Seq[String]] = Map(
      "region" -> Seq(),
      "nation" -> Seq(),
      "customer" -> Seq("c_custkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "part" -> Seq("p_partkey"),
      "supplier" -> Seq("s_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))

    for ((t, keys) <- keyCols.toSeq.sortBy(_._1)) {
      // events: the driver's file is physical TIMESTAMP(NANOS), which Spark
      // can read (nanosAsLong) but never write — go through Tables.events,
      // which lands ts on micro-precision TIMESTAMP exactly as the DuckDB
      // oracle coerces it, so the derived file is equivalent for both engines
      val df =
        if (t == "events") graft.core.Tables.events(spark, src)
        else spark.read.parquet(s"$src/$t.parquet")
      val out =
        if (keys.isEmpty) df // fixed dimension domain: pass through
        else {
          val strides = keys
            .map(k => k -> (df.agg(max(col(k))).head().getLong(0) + 1L)).toMap
          var r = df.withColumn("_rep",
            explode(expr(s"sequence(0, ${copies - 1})")))
          for (k <- keys)
            r = r.withColumn(k, col(k) + col("_rep").cast("long") * strides(k))
          val r2 = t match {
            case "documents" =>
              r.withColumn("text",
                  when(col("_rep") === 0, col("text"))
                    .otherwise(concat_ws(" ", expr(
                      "transform(split(text, '\\\\s+'), x -> concat(x, '~', cast(_rep as string)))"))))
                .withColumn("n_chars", length(col("text")).cast("long"))
            case "embeddings" =>
              r.withColumn("embedding", expr(
                "concat(slice(embedding, _rep + 1, size(embedding) - _rep), " +
                  "slice(embedding, 1, _rep))"))
            case _ => r
          }
          r2.drop("_rep")
        }
      // single-file layout, matching the driver's testdata (the DuckDB
      // oracle reads literal `<dir>/<table>.parquet` paths): stage a
      // coalesce(1) write, then move the lone part file into place.
      // Parquet row groups keep the single file splittable for Spark reads.
      val stage = s"$dst/_stage_$t"
      out.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file in $stage"))
      val dest = new java.io.File(s"$dst/$t.parquet")
      if (dest.exists()) dest.delete()
      java.nio.file.Files.move(part.toPath, dest.toPath)
      new java.io.File(stage).listFiles().foreach(_.delete())
      new java.io.File(stage).delete()
      println(s"[scaleup] $t: ${spark.read.parquet(dest.getPath).count()} rows")
    }
    spark.stop()
  }
}
