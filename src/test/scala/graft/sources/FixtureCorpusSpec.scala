package graft.sources

import java.nio.file.{Files, Path, Paths}

import graft.SparkSpec
import graft.functions.Registry
import graft.operators.MapReduceTasks

/** The document scan, the three map tasks and the golden-file sink over the
  * in-repo fixture corpus (`src/test/resources/fixture`, derivation in its
  * `corpus/notes.md`): multi-byte UTF-8, CRLF, an empty document, and
  * entries the scan must ignore. Runs on any host. */
class FixtureCorpusSpec extends SparkSpec {

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

  for ((task, fn) <- Seq(
      1 -> MapReduceTasks.task1 _, 2 -> MapReduceTasks.task2 _, 3 -> MapReduceTasks.task3 _))
    test(s"task $task through TextSink.writeGoldenFile byte-matches expected/$task.output") {
      Registry.register(spark)
      val out = Files.createTempDirectory("graft-fixture").resolve(s"$task.output")
      TextSink.writeGoldenFile(fn(docs()), out.toString)
      assert(new String(bytes(out), "UTF-8") ==
        new String(bytes(root.resolve(s"expected/$task.output")), "UTF-8"))
    }
}
