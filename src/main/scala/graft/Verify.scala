package graft
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — the optional tail restricts
    // the dump to named queries (dev iteration); the driver passes two.
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = graft.core.Session.local()
    new java.io.File(outDir).mkdirs()
    // Run queries a few at a time: Spark's scheduler handles concurrent
    // jobs from multiple threads, and most of these queries are small
    // multi-stage plans that underuse the local cores individually.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val selected = if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter(kv => only(kv._1))
    val futures = selected.toSeq.map { case (name, fn) =>
      scala.concurrent.Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    DumpOracle.main(Array(outDir))
    spark.stop()
  }
}
