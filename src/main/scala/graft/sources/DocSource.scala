package graft.sources

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.v2.DocV2Source

/** Whole-file text source with the reference engine's input contract:
  * documents are `{dir}/{i}.txt` for `i ∈ [0, numFiles)` (path convention
  * main.cpp:28-34, scan loop main.cpp:141-155). The reference's
  * `num_files` argument selects a strict prefix of the corpus (the golden
  * outputs 1.output and 2.output are computed over 1 and 5 of the 6 sample
  * files); other entries of `dir` are ignored.
  *
  * Each file becomes one row (doc_id, content), an empty file included.
  * `doc_id` is the file's index `i`, so it is stable under any split or
  * scheduling.
  *
  * Scale note: [[read]] is the `graft-docs` DataSource V2 scan
  * ([[graft.sources.v2.DocV2Source]]): one driver-side directory listing
  * at `read` time (no Spark job; a missing `dir` or `{i}.txt` fails here),
  * documents bin-packed by size into about `defaultParallelism` input
  * partitions, and executor reads through Hadoop `FileSystem`. A document
  * is still materialized as a single row, so the largest file bounds one
  * task's memory — as in the reference, which buffers whole files
  * (main.cpp:36-47). For multi-GB single documents a chunked reader would
  * replace this source.
  */
object DocSource {

  def read(spark: SparkSession, dir: String, numFiles: Int): DataFrame = {
    require(numFiles > 0, s"numFiles must be positive, got $numFiles")
    // The bare format lets content-free scans run without the directory;
    // the reference reader needs its input, so a missing one fails here.
    val root = new Path(dir)
    if (!root.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(root))
      throw new FileNotFoundException(s"input directory $dir does not exist")
    spark.read.format(classOf[DocV2Source].getName)
      .option("numFiles", numFiles.toString)
      .load(dir)
  }

  /** binaryFile-based variant of [[read]] — same (doc_id, content) output,
    * different scan machinery: the binary source streams file content as a
    * `binary` column (with path/length/modTime metadata), which makes it an
    * independent cross-check of [[read]] and the base to build a chunked
    * reader on when single documents outgrow task memory. Decoding to
    * string here assumes UTF-8, like [[read]]. */
  def readBinary(spark: SparkSession, dir: String, numFiles: Int): DataFrame = {
    require(numFiles > 0, s"numFiles must be positive, got $numFiles")
    val paths = (0 until numFiles).map(i => s"$dir/$i.txt")
    spark.read.format("binaryFile").load(paths: _*)
      .select(
        regexp_extract(col("path"), "(\\d+)\\.txt$", 1).cast("long").as("doc_id"),
        decode(col("content"), "UTF-8").as("content"))
  }
}
