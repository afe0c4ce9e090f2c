package graft.core

import org.apache.spark.sql.SparkSession

import graft.functions.Registry

/** The one place that knows what a graft session needs.
  *
  * Every main (`Verify`, `Bench`, `BenchOne`, `PlanAudit`, `ScaleUp`,
  * `EntrySmoke`, `cli.Main`) and the specs take their session from
  * [[local]], so they all run one configuration: as many shuffle
  * partitions as local cores (artifact tables are bucketed to that count,
  * see [[Artifacts]]), UTC, AQE on and ANSI arithmetic pinned, so an
  * integer overflow fails loudly instead of wrapping.
  *
  * [[prepare]] is what a query needs of ANY session, including one graft
  * did not build: `SparkEntry.queries` applies it to every query it hands
  * out, so operators never register functions or set confs themselves.
  */
object Session {

  /** Local cores of a graft main: `SPARK_GRAFT_CPUS`, else every core of
    * the host. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The graft session over `cores` local cores, prepared. The master is
    * `local[cores]` unless the JVM already names one (`spark-submit`, or
    * `-Dspark.master=...`), Spark's own way to name a cluster. */
  def local(cores: Int = cpus): SparkSession = {
    val builder = SparkSession.builder().appName("graft")
    if (!sys.props.contains("spark.master")) builder.master(s"local[$cores]")
    val spark = builder
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", value = true)
      .config("spark.sql.ansi.enabled", value = true)
      .config("spark.ui.enabled", value = false)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    prepare(spark)
    spark
  }

  /** Makes any session ready for graft's queries: the parquet-reader confs
    * ([[Tables.configure]]) and graft's native functions
    * ([[Registry.register]]). Idempotent. */
  def prepare(spark: SparkSession): Unit = {
    Tables.configure(spark)
    Registry.register(spark)
  }
}
