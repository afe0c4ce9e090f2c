package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.agg.{GenericMapTask, ReduceOps, ReferenceTasks}
import graft.core.Doc
import graft.operators.MapReduceTasks

/** The document scan, the three map tasks (native and generic), the word
  * count and both sinks over the in-repo fixture corpus
  * (`src/test/resources/fixture`, derivation in its `corpus/notes.md`):
  * multi-byte UTF-8, CRLF, an empty document, and entries the scan must
  * ignore. Runs on any host. */
class FixtureCorpusSpec extends SparkSpec {
  import spark.implicits._

  private val root = Paths.get(getClass.getResource("/fixture").toURI)
  private val corpus = root.resolve("corpus")
  private val numFiles = 5

  private def docs(n: Int = numFiles) = DocSource.read(spark, corpus.toString, n)

  private def bytes(p: Path): Array[Byte] = Files.readAllBytes(p)

  test("DocSource.read returns every selected document's exact bytes") {
    val rows = docs().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.keySet == (0L until numFiles).toSet)
    for ((id, content) <- rows)
      assert(content.getBytes("UTF-8").sameElements(bytes(corpus.resolve(s"$id.txt"))),
        s"doc $id differs from its file")
  }

  test("numFiles selects a prefix; later files, other names and subdirectories are ignored") {
    assert(docs().count() == numFiles)
    assert(docs(2).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L))
    assert(docs(6).filter("doc_id = 5").head().getString(1) ==
      new String(bytes(corpus.resolve("5.txt")), "UTF-8"))
  }

  test("an empty document yields one row with empty content") {
    assert(Files.size(corpus.resolve("2.txt")) == 0)
    val empty = docs().filter("doc_id = 2").collect()
    assert(empty.length == 1)
    assert(empty.head.getString(1) == "")
  }

  private def expected(name: String): String =
    new String(bytes(root.resolve(s"expected/$name.output")), "UTF-8")

  private def golden(df: DataFrame): String = {
    val out = Files.createTempDirectory("graft-fixture").resolve("golden.output")
    TextSink.writeGoldenFile(df, out.toString)
    new String(bytes(out), "UTF-8")
  }

  private def parts(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
      .toSeq.sortBy(_.getFileName.toString)

  for ((task, fn) <- Seq(
      1 -> MapReduceTasks.task1 _, 2 -> MapReduceTasks.task2 _, 3 -> MapReduceTasks.task3 _))
    test(s"task $task through TextSink.writeGoldenFile byte-matches expected/$task.output") {
      assert(golden(fn(docs())) == expected(task.toString))
    }

  for ((task, fn) <- Seq(
      1 -> ReferenceTasks.map1 _, 2 -> ReferenceTasks.map2 _, 3 -> ReferenceTasks.map3 _))
    test(s"generic map$task + sumReduce through writeGoldenFile byte-matches expected/$task.output") {
      val typed = docs().select($"doc_id".as("docId"), $"content").as[Doc]
      assert(golden(ReduceOps.sumReduce(GenericMapTask(fn)(typed)).toDF()) == expected(task.toString))
    }

  test("task 1 through coalesce(1) + graft-kv byte-matches expected/1.output") {
    val dir = Files.createTempDirectory("graft-fixture-kv")
    MapReduceTasks.task1(docs()).coalesce(1)
      .write.format("graft-kv").mode("overwrite").save(dir.toString)
    val written = parts(dir)
    assert(written.size == 1, written)
    assert(new String(bytes(written.head), "UTF-8") == expected("1"))
  }

  test("wordCount through TextSink.writeGoldenFile byte-matches expected/wordcount.output") {
    assert(golden(MapReduceTasks.wordCount(docs())) == expected("wordcount"))
  }

  test("TextSink.write part files concatenate in name order to the sorted stream") {
    val dir = Files.createTempDirectory("graft-fixture-parts").resolve("out")
    withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      TextSink.write(MapReduceTasks.task2(docs()), dir.toString)
    }
    val written = parts(dir)
    assert(written.size > 1, written)
    assert(written.map(p => new String(bytes(p), "UTF-8")).mkString == expected("2"))
  }
}
