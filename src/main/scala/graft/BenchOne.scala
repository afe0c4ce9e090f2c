package graft

/** Dev harness: time specific queries in order, repeating each `reps` times.
  * Usage: runMain graft.BenchOne q1 q2 ... (env: SPARK_GRAFT_SF_DIR, _REPS) */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "1").toInt
    val spark = graft.core.Session.local()
    Bench.warmIcu(spark)
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    for (name <- names; r <- 1 to reps) {
      val before = graft.core.BuildLog.snapshot()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      // name the one-time builds this rep paid, so an inflated rep 1 is
      // self-explaining (same attribution as Bench's per_query_build line)
      val delta = graft.core.BuildLog.snapshot().flatMap { case (k, v) =>
        val d = v - before.getOrElse(k, 0.0)
        if (d > 1e-9) Some(f"$k=$d%.2f") else None
      }
      val suffix =
        if (delta.isEmpty) "" else delta.toSeq.sorted.mkString(" (builds: ", ", ", ")")
      println(f"[benchone] $name rep$r $dt%.2f s$suffix")
      // Same between-rep block sweep as Bench: reps must not accumulate
      // prior reps' checkpoint blocks (outside the timed window).
      graft.core.BlockHygiene.free(spark, blocking = true)
    }
    spark.stop()
  }
}
