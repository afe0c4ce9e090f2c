package graft.sources.v2

import java.io.FileNotFoundException
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.{JobProbe, SparkSpec}
import graft.sources.DocSource

/** How the `graft-docs` scan behind DocSource.read plans and fails: one
  * driver-side listing (no Spark job), LPT size packing, Hadoop reads that
  * fill the input metrics, and read-time errors for missing paths. */
class DocScanSpec extends SparkSpec {

  /** 40 documents, 1–5 KB each plus one 20 KB outlier, in a temp dir. */
  private lazy val dir: Path = {
    val d = Files.createTempDirectory("graft-docscan")
    val rnd = new scala.util.Random(11)
    for (i <- 0 until 40) {
      val n = if (i == 17) 20000 else 1000 + rnd.nextInt(4000)
      Files.write(d.resolve(s"$i.txt"), Array.fill(n)(('a' + rnd.nextInt(26)).toByte))
    }
    d
  }
  private def sizes(n: Int): Seq[Long] = (0 until n).map(i => Files.size(dir.resolve(s"$i.txt")))

  private def scanOf(df: DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst { case s: BatchScanExec => s }
      .getOrElse(fail(s"no BatchScanExec in:\n${df.queryExecution.executedPlan}"))

  private def partitionBytes(df: DataFrame): Seq[Long] =
    df.select(spark_partition_id().as("p"), octet_length(col("content")).as("n"))
      .groupBy("p").agg(sum("n")).collect().map(_.getLong(1)).toSeq

  test("DocSource.read over more than 32 files starts no Spark job") {
    assert(JobProbe(spark) { DocSource.read(spark, dir.toString, 40) }.jobs == 0)
  }

  test("plans min(defaultParallelism, numFiles) partitions within the LPT bound") {
    val dp = spark.sparkContext.defaultParallelism
    for (n <- Seq(2, 40)) {
      val df = DocSource.read(spark, dir.toString, n)
      val bins = math.min(dp, n)
      assert(scanOf(df).inputRDD.getNumPartitions == bins)
      val loads = partitionBytes(df)
      assert(loads.size == bins && loads.sum == sizes(n).sum)
      val bound = sizes(n).sum.toDouble / bins + sizes(n).max
      assert(loads.max <= bound, s"partition bytes $loads exceed the LPT bound $bound")
    }
  }

  test("spark.sql.files.maxPartitionBytes raises the bin count, capped at the documents") {
    val key = "spark.sql.files.maxPartitionBytes"
    val total = sizes(40).sum
    withConf(key -> ((total + 9) / 10).toString) {
      assert(scanOf(DocSource.read(spark, dir.toString, 40)).inputRDD.getNumPartitions == 10)
    }
    withConf(key -> "1") {
      assert(scanOf(DocSource.read(spark, dir.toString, 40)).inputRDD.getNumPartitions == 40)
    }
  }

  test("summed task bytesRead equals the selected files' bytes") {
    val df = DocSource.read(spark, dir.toString, 40)
    val probed = JobProbe(spark) { df.write.format("noop").mode("overwrite").save() }
    assert(probed.bytesRead == sizes(40).sum)
  }

  test("pack is LPT: largest first into the least-loaded bin, no bin empty") {
    val docs = Seq(7L, 5L, 4L, 4L, 3L, 0L, 0L).zipWithIndex
      .map { case (len, i) => DocFile(i.toLong, s"$i.txt", len) }
    val bins = DocV2Source.pack(docs, 3)
    assert(bins.map(_.map(_.docId)) == Seq(Seq(0L, 5L, 6L), Seq(1L, 4L), Seq(2L, 3L)))
    assert(DocV2Source.pack(docs.take(2), 2).map(_.size) == Seq(1, 1))
  }

  test("a missing document fails at read time, naming its path") {
    val d = Files.createTempDirectory("graft-docscan-missing")
    Files.write(d.resolve("0.txt"), "a".getBytes)
    Files.write(d.resolve("2.txt"), "c".getBytes)
    val e = intercept[FileNotFoundException] { DocSource.read(spark, d.toString, 3) }
    assert(e.getMessage.contains(d.resolve("1.txt").toString), e.getMessage)
    // a directory named like a document is not a document
    Files.createDirectory(d.resolve("1.txt"))
    intercept[FileNotFoundException] {
      spark.read.format("graft-docs").option("numFiles", "3").load(d.toString)
    }
  }

  test("a missing directory fails DocSource.read, naming it") {
    val d = Files.createTempDirectory("graft-docscan-gone").resolve("absent")
    val e = intercept[FileNotFoundException] { DocSource.read(spark, d.toString, 1) }
    assert(e.getMessage.contains(d.toString), e.getMessage)
  }

  test("the bare format without its directory serves doc ids; content fails with the path") {
    val d = Files.createTempDirectory("graft-docscan-gone").resolve("absent")
    val df = spark.read.format("graft-docs").option("numFiles", "3").load(d.toString)
    assert(df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
    assert(df.count() == 3)
    assert(scanOf(df).inputRDD.getNumPartitions == 3)
    val e = intercept[Exception] { df.collect() }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains(d.resolve("0.txt").toString)), e.toString)
  }
}
