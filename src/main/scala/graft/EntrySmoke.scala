package graft

/** Smoke CLI mirroring the driver's t1 check: run SparkEntry.entry and
  * print its row count (must be > 0). */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Session.local()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"entry rows=$n")
    spark.stop()
  }
}
