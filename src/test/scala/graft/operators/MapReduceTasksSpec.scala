package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.SparkSpec

class MapReduceTasksSpec extends SparkSpec {
  import spark.implicits._

  private def docs(contents: String*) = {
    contents.toSeq.toDF("content")
  }

  private def asMap(rows: Array[Row]): Map[String, Long] =
    rows.map(r => r.getString(0) -> r.getLong(1)).toMap

  test("task1 classifies ASCII letters / digits / others") {
    val out = asMap(MapReduceTasks.task1(docs("ab1! x", "Z9")).collect())
    assert(out == Map("letters" -> 4L, "numbers" -> 2L, "others" -> 2L))
  }

  test("task1 on empty and digit-only docs") {
    val out = asMap(MapReduceTasks.task1(docs("", "12345")).collect())
    assert(out == Map("letters" -> 0L, "numbers" -> 5L, "others" -> 0L))
  }

  test("task1 invariant: letters+numbers+others == total chars") {
    val texts = Seq("hello world 42!", "", "ÄÖÜ é 123", "a\nb\tc")
    val out = asMap(MapReduceTasks.task1(docs(texts: _*)).collect())
    assert(out.values.sum == texts.map(_.length).sum)
  }

  test("task2 emits a dense 26-row case-folded histogram") {
    val rows = MapReduceTasks.task2(docs("AbBa!", "zz")).collect()
    assert(rows.length == 26)
    val m = asMap(rows)
    assert(m("a") == 2 && m("b") == 2 && m("z") == 2 && m("q") == 0)
    assert(rows.map(_.getString(0)).toSeq == ('a' to 'z').map(_.toString))
  }

  test("task3 emits the 4 keys, each valued sum(len % 49)") {
    val a = "x" * 50  // 50 % 49 = 1
    val b = "y" * 49  // 49 % 49 = 0
    val c = "z" * 12  // 12
    val m = asMap(MapReduceTasks.task3(docs(a, b, c)).collect())
    assert(m == Map("3210" -> 13L, "cs" -> 13L, "love" -> 13L, "we" -> 13L))
  }

  test("wordcount over whitespace tokens") {
    val m = asMap(MapReduceTasks.wordCount(docs("a b  a\n\tb a", "c")).collect())
    assert(m == Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
  }

  test("queries run against sf0.001 and return rows") {
    MapReduceTasks.queries.foreach { case (name, fn) =>
      assert(fn(spark, sfDir).count() > 0, s"query $name returned no rows")
    }
  }

  test("shuffle-insensitivity: repartitioned corpus yields identical results") {
    val d = graft.core.Tables.documents(spark, sfDir)
      .select(col("text").as("content"))
    val base = MapReduceTasks.task2(d).collect().toSeq
    val repart = MapReduceTasks.task2(d.repartition(7)).collect().toSeq
    assert(base == repart)
  }
}
