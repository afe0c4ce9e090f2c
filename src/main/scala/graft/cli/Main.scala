package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Session
import graft.operators.MapReduceTasks
import graft.sources.{DocSource, TextSink}

/** Task-dispatch CLI with the reference driver's argument semantics
  * (main.cpp:68-95) minus the MPI worker counts, which Spark owns:
  *
  *   Main <inputDir> <numFiles> <outputPath> <taskNum>
  *
  * Reads `{inputDir}/{i}.txt` for i < numFiles, runs map task 1/2/3, and
  * writes the key-sorted `"key value"` single-file output — the exact
  * shape graded by the reference's golden files.
  *
  * Second form — the full analytics inventory from the same entry point:
  *
  *   Main query <name> <sfDir> <outDir>
  *
  * runs any of the named `SparkEntry.queries` pipelines against a
  * scale-factor directory and writes the result as parquet, making every
  * operator in the library reachable without writing Scala.
  */
object Main {
  private val usage =
    "usage: graft.cli.Main <inputDir> <numFiles> <outputPath> <taskNum>\n" +
      "   or: graft.cli.Main query <name> <sfDir> <outDir>"

  def main(args: Array[String]): Unit = {
    // the arguments are checked before a session starts
    val run: SparkSession => Unit = args match {
      case Array("query", name, sfDir, outDir) =>
        val fn = graft.SparkEntry.queries.getOrElse(name,
          throw new IllegalArgumentException(s"unknown query '$name'; available:\n  " +
            graft.SparkEntry.queries.keys.toSeq.sorted.mkString("\n  ")))
        spark => fn(spark, sfDir).write.mode("overwrite").parquet(s"$outDir/$name")
      case Array(inputDir, numFiles, outputPath, taskNum) =>
        val task: DataFrame => DataFrame = taskNum.toInt match {
          case 1 => MapReduceTasks.task1
          case 2 => MapReduceTasks.task2
          case 3 => MapReduceTasks.task3
          case n => throw new IllegalArgumentException(s"unknown task $n (1|2|3)")
        }
        spark => TextSink.writeGoldenFile(
          task(DocSource.read(spark, inputDir, numFiles.toInt)), outputPath)
      case _ => throw new IllegalArgumentException(usage)
    }
    val spark = Session.local()
    try run(spark) finally spark.stop()
  }
}
