package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.agg.{GenericMapTask, ReduceOps, ReferenceTasks}
import graft.core.{BlockHygiene, BuildLog, Doc, Tables}
import graft.operators.MapReduceTasks
import graft.sources.{DocSource, TextSink}

/** One benchmark operation. `build` is the call into graft that returns the
  * result (it may run eager jobs and artifact builds); `write` materializes
  * the result under the given output path. */
final case class Op(build: () => DataFrame, write: (DataFrame, String) => Unit)

/** The benchmark's JVM. It builds the session, prints `READY`, runs the
  * passes of the plan file (one line per pass, comma-separated operation
  * names, the first pass cold), and writes one JSON line per operation and
  * per pass to the records file. With `--trace 1` it also records spans.
  *
  * Usage: Harness --workload W --data DIR --out DIR --plan FILE
  *   --records FILE --nproc N --trace 0|1 --spans FILE --docs N --sink-rows N
  */
object Harness {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The session every workload runs in: the config of graft.Bench (all
    * cores, one shuffle partition per core, AQE on), graft's functions
    * registered, and the ICU collation tables loaded as graft.Bench does. */
  def session(nproc: Int, warehouse: String, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.local.dir", localDir)
      .getOrCreate()
    Tables.configure(spark)
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.Registry.register(spark)
    spark.range(1)
      .selectExpr("upper('a') u", "lower('A') l", "initcap('a b') i",
        "regexp_replace('a','a','b') r", "split('a,b', ',') s")
      .write.format("noop").mode("overwrite").save()
    spark
  }

  private def noop(df: DataFrame, path: String): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def golden(df: DataFrame, path: String): Unit =
    TextSink.writeGoldenFile(df, path + ".txt")

  /** The operations of the mapreduce workload over `{data}/{i}.txt`. */
  def mapreduceOps(spark: SparkSession, data: String, docs: Int): Map[String, Op] = {
    import spark.implicits._
    def read() = DocSource.read(spark, data, docs)
    Map(
      "scan" -> Op(() => read(), noop),
      "task1" -> Op(() => MapReduceTasks.task1(read()), golden),
      "task2" -> Op(() => MapReduceTasks.task2(read()), golden),
      "task3" -> Op(() => MapReduceTasks.task3(read()), golden),
      "wordcount" -> Op(() => MapReduceTasks.wordCount(read()), golden),
      "generic_map1" -> Op(() => ReduceOps.sumReduce(GenericMapTask(ReferenceTasks.map1)(
        read().select($"doc_id".as("docId"), $"content").as[Doc])).toDF(), golden))
  }

  /** Named graft queries over a table directory, each written to parquet. */
  def queryOps(spark: SparkSession, data: String): Map[String, Op] =
    SparkEntry.queries.map { case (name, q) =>
      name -> Op(() => q(spark, data), (df, path) => df.write.mode("overwrite").parquet(path))
    }

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val nproc = opt("nproc").toInt
    val out = opt("out")
    val spark = session(nproc, s"$out/warehouse", s"$out/tmp")
    println("READY")
    System.out.flush()
    val trace: Trace = if (opt("trace") == "1") new Tracer(spark) else NoTrace
    val data = opt("data")
    val ops = opt("workload") match {
      case "mapreduce" => mapreduceOps(spark, data, opt("docs").toInt)
      case _ => queryOps(spark, data)
    }
    val plan = Files.readAllLines(Paths.get(opt("plan"))).asScala.toSeq.map(_.split(",").toSeq)
    val records = Files.newBufferedWriter(Paths.get(opt("records")), StandardCharsets.UTF_8)
    def record(fields: (String, Any)*): Unit = {
      records.write(json.writeValueAsString(fields.toMap))
      records.newLine()
    }

    trace.span("run", -1) { run =>
      for ((order, pass) <- plan.zipWithIndex) trace.span("pass", run, Map("pass" -> pass)) { passSpan =>
        val wall0 = System.nanoTime()
        val cpu0 = processCpuNs()
        for (name <- order) trace.op(pass, name, passSpan) { opSpan =>
          val op = ops(name)
          val t0 = System.nanoTime()
          val error = try {
            val builds0 = BuildLog.snapshot()
            val df = trace.span("operators.build", opSpan) { b =>
              val df = op.build()
              val builds = BuildLog.snapshot().map { case (k, v) => k -> (v - builds0.getOrElse(k, 0.0)) }
                .filter(_._2 > 0)
              // The result's own analysis ran in this call; its later phases
              // belong to the write, which the listener reports.
              val phases = df.queryExecution.tracker.phases.map { case (k, v) => s"${k}_ms" -> v.durationMs }
              trace.note(b, Seq("artifact_builds" -> builds.size,
                "artifact_build_s" -> builds.values.sum, "artifacts" -> builds) ++ phases: _*)
              df
            }
            trace.span("write", opSpan)(_ => op.write(df, s"$out/p$pass/$name"))
            ""
          } catch {
            case e: Exception => s"${e.getClass.getName}: ${e.getMessage}".take(500)
          }
          val t1 = System.nanoTime()
          val freed = trace.span("core.free", opSpan)(_ => BlockHygiene.free(spark, blocking = true))
          val t2 = System.nanoTime()
          record("kind" -> "op", "pass" -> pass, "op" -> name, "s" -> (t1 - t0) / 1e9,
            "free_s" -> (t2 - t1) / 1e9, "rdds_freed" -> freed, "error" -> error)
        }
        record("kind" -> "pass", "pass" -> pass, "wall_s" -> (System.nanoTime() - wall0) / 1e9,
          "cpu_s" -> (processCpuNs() - cpu0) / 1e9)
      }
      if (opt("trace") == "1") sinkProbe(spark, trace, run, opt("sink-rows").toInt, s"$out/sinkprobe")
    }
    record("kind" -> "run", "peak_rss_kb" -> peakRssKb(),
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "java" -> System.getProperty("java.version"), "spark" -> spark.version)
    records.close()
    trace.write(opt("spans"))
    spark.stop()
    println("DONE")
  }

  /** Times `TextSink.writeGoldenFile` alone: an in-memory result shaped like
    * the wordcount output (`rows` string keys with long counts) is written
    * five times, each a `sources.sink` span. */
  private def sinkProbe(spark: SparkSession, trace: Trace, parent: Int, rows: Int, path: String): Unit = {
    val df = spark.range(rows)
      .selectExpr("concat('w', cast(id * 7919 % 1000003 as string)) key", "id % 977 + 1 value")
      .localCheckpoint()
    for (_ <- 1 to 5) trace.span("sources.sink", parent)(_ => golden(df, path))
    BlockHygiene.free(spark, blocking = true)
  }
}
