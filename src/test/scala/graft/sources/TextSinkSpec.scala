package graft.sources

import java.io.IOException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{RawLocalFileSystem, Path => HPath}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.{JobProbe, SparkSpec}

/** A local file system under the `norename:` scheme whose rename refuses
  * (returns false for) every target whose name starts with the conf value
  * `norename.refuse`. */
class RefusingRenameFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("norename:///")
  override def rename(src: HPath, dst: HPath): Boolean =
    !dst.getName.startsWith(getConf.get("norename.refuse")) && super.rename(src, dst)
}

/** TextSink's two modes through `graft-kv`: the job count and plan shape
  * of a golden file, byte order, empty results, replacement, schema and
  * null handling, output metrics and move failures. */
class TextSinkSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): Path = Files.createTempDirectory("graft-textsink").resolve(name)

  private def byteOrder(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8)) < 0

  private def mentions(e: Throwable, text: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(c => c.getMessage != null && c.getMessage.contains(text))

  private def lines(rows: Seq[(String, Long)]): String =
    rows.sortWith((a, b) => byteOrder(a._1, b._1)).map { case (k, v) => s"$k $v\n" }.mkString

  test("a golden file of groupBy.agg.orderBy runs two jobs and no range shuffle") {
    val df = spark.range(0, 20000, 1, 8)
      .select((col("id") % 26).cast("string").as("key"), col("id"))
      .groupBy("key").agg(sum("id").as("value"))
      .orderBy("key")
    val out = tmp("agg.txt")
    val probed = JobProbe(spark) { TextSink.writeGoldenFile(df, out.toString) }
    assert(probed.jobs == 2)
    val exchanges = probed.nodes.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
    assert(exchanges.nonEmpty, probed.plans.mkString("\n"))
    assert(!exchanges.exists(_.isInstanceOf[RangePartitioning]), probed.plans.mkString("\n"))
    val expected = (0L until 20000L).groupBy(i => (i % 26).toString).view.mapValues(_.sum).toSeq
    assert(new String(Files.readAllBytes(out), UTF_8) == lines(expected))
  }

  test("shuffled multi-byte keys come out in UTF-8 byte order, byte for byte") {
    val prefixes = Seq("k", "é", "中", "😀", "Z", "")
    val rows = new scala.util.Random(5).shuffle(
      (0 until 10000).map(i => (prefixes(i % prefixes.size) + i, i.toLong)))
    val out = tmp("keys.txt")
    TextSink.writeGoldenFile(rows.toDF("key", "value").repartition(6), out.toString)
    assert(Files.readAllBytes(out).sameElements(lines(rows).getBytes(UTF_8)))
  }

  test("summed task bytesWritten equals the bytes of the written files") {
    val df = (0 until 3000).map(i => (s"w$i", i.toLong)).toDF("key", "value").repartition(4)
    val out = tmp("metrics.txt")
    val golden = JobProbe(spark) { TextSink.writeGoldenFile(df, out.toString) }
    assert(golden.bytesWritten == Files.size(out) && golden.recordsWritten == 3000)
    val dir = tmp("metrics")
    val parted = withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      JobProbe(spark) { TextSink.write(df, dir.toString) }
    }
    val parts = Files.list(dir).iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(parts.size > 1)
    assert(parted.bytesWritten == parts.map(Files.size).sum && parted.recordsWritten == 3000)
  }

  test("an empty aggregate and a zero-partition local relation give a 0-byte file") {
    val emptyAgg = spark.range(0, 100, 1, 4).filter("id < 0")
      .groupBy((col("id") % 3).cast("string").as("key")).agg(count(lit(1)).as("value"))
    val local = Seq.empty[(String, Long)].toDF("key", "value")
    assert(local.queryExecution.toRdd.getNumPartitions == 0)
    for ((df, name) <- Seq(emptyAgg -> "agg", local -> "local")) {
      val out = tmp(s"$name.txt")
      TextSink.writeGoldenFile(df, out.toString)
      assert(Files.size(out) == 0, name)
    }
  }

  test("an existing target is replaced and no staging directory is left") {
    val out = tmp("replace.txt")
    Files.write(out, "stale content\n".getBytes(UTF_8))
    TextSink.writeGoldenFile(Seq(("b", 2L), ("a", 1L)).toDF("key", "value"), out.toString)
    assert(new String(Files.readAllBytes(out), UTF_8) == "a 1\nb 2\n")
    assert(!Files.exists(out.resolveSibling("replace.txt.staging")))
  }

  test("a (string, double) input fails before any job starts") {
    val df = spark.range(0, 100, 1, 4).selectExpr("cast(id as string) key", "id * 0.5 value")
    val out = tmp("double.txt")
    var error: Exception = null
    val probed = JobProbe(spark) {
      error = intercept[Exception] { TextSink.writeGoldenFile(df, out.toString) }
    }
    assert(probed.jobs == 0)
    assert(mentions(error, "graft-kv"), error.toString)
    assert(!Files.exists(out))
  }

  test("a null key renders as the empty string and a null value as 0") {
    val df = Seq[(String, java.lang.Long)](("b", 3L), ("a", null), (null, 2L)).toDF("key", "value")
    val out = tmp("nulls.txt")
    TextSink.writeGoldenFile(df, out.toString)
    assert(new String(Files.readAllBytes(out), UTF_8) == " 2\na 0\nb 3\n")
  }

  /** Runs `body` with the `norename:` scheme set in the session only: the
    * writers on the executors and the moves on the driver both need the
    * session's Hadoop conf to find it. */
  private def refusing[T](prefix: String)(body: => T): T =
    withConf("fs.norename.impl" -> classOf[RefusingRenameFileSystem].getName,
      "fs.norename.impl.disable.cache" -> "true", "norename.refuse" -> prefix)(body)

  test("the file system comes from the path and the session conf; a refused move fails loudly") {
    val out = tmp("refused.txt")
    val e = refusing("refused") {
      intercept[IOException] {
        TextSink.writeGoldenFile(Seq(("a", 1L)).toDF("key", "value"), s"norename://$out")
      }
    }
    assert(e.getMessage.contains(out.toString), e.getMessage)
    assert(!Files.exists(out))
  }

  test("a refused move of a graft-kv part file fails the write") {
    val dir = tmp("refused")
    val e = refusing("part-") {
      intercept[Exception] { TextSink.write(Seq(("a", 1L)).toDF("key", "value"), s"norename://$dir") }
    }
    assert(mentions(e, "could not move"), e.toString)
    assert(!Files.list(dir).iterator().asScala.exists(_.getFileName.toString.startsWith("part-")))
  }
}
