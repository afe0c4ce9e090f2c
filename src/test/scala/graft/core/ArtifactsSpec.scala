package graft.core

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.{col, expr, sum}

import graft.{JobProbe, SparkSpec}
import graft.sources.v2.WarcContainer

/** The artifact cache's contract: a table has as many buckets as the
  * session has shuffle partitions, so joins on the bucket key run at the
  * session's parallelism; a key names one build; leftovers of an aborted
  * build never block a retry; keys follow the source files, so a
  * rewritten input rebuilds its tables, retrains its models and repacks
  * the WARC containers; and models may nest. */
class ArtifactsSpec extends SparkSpec {

  /** A fresh directory holding the one-column table `src.parquet`. */
  private def freshDir(values: Seq[Long] = Seq(1L)): String = {
    val dir = Files.createTempDirectory("graft_artifacts_spec").toString
    writeSrc(dir, values)
    dir
  }

  private def writeSrc(dir: String, values: Seq[Long]): Unit = {
    import spark.implicits._
    values.toDF("x").coalesce(1).write.mode("overwrite").parquet(s"$dir/src.parquet")
  }

  private def ids(n: Int): DataFrame =
    spark.range(n).select(col("id"), (col("id") % 7).as("v"))

  private def numBuckets(prefix: String, dir: String): Int =
    spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(
        Artifacts.tableName(prefix, Artifacts.key(spark, dir, "src"))))
      .bucketSpec.get.numBuckets

  private def exchanges(body: => Unit): Seq[ShuffleExchangeExec] =
    JobProbe(spark)(body).nodes.collect { case e: ShuffleExchangeExec => e }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** A temp directory holding copies of sf0.001's `tables`. */
  private def sfCopy(tables: String*): String = {
    val dir = Files.createTempDirectory("graft_key_spec").toString
    tables.foreach(t =>
      Files.copy(Paths.get(s"$sfDir/$t.parquet"), Paths.get(s"$dir/$t.parquet")))
    dir
  }

  /** Rewrite `$dir/<table>.parquet` with `f` applied to its rows. */
  private def rewrite(dir: String, table: String)(f: Seq[Row] => Seq[Row]): Unit = {
    val path = s"$dir/$table.parquet"
    val df = spark.read.parquet(path)
    val rows = f(df.collect().toSeq)
    Artifacts.deleteRec(Paths.get(path))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      .coalesce(1).write.parquet(path)
  }

  /** Rewrite document `id` in `$dir` to repeat `word`, at its own
    * `n_chars`; returns the new text. */
  private def rewriteDoc(dir: String, id: Long, word: String): String = {
    val target = Tables.documents(spark, dir).filter(col("doc_id") === id).head()
    val n = target.getAs[Long]("n_chars").toInt
    val text = (s"$word " * n).take(n)
    assert(text.length == target.getAs[String]("text").length)
    rewrite(dir, "documents")(_.map { r =>
      if (r.getAs[Long]("doc_id") == id) Row.fromSeq(r.toSeq.updated(r.fieldIndex("text"), text))
      else r
    })
    text
  }

  test("bucket count is the session's shuffle-partition count at build time") {
    val dir = freshDir()
    withConf("spark.sql.shuffle.partitions" -> "3") {
      Artifacts.table(spark, dir, "src", "graft_spec_nb", "id")(ids(100))
    }
    assert(numBuckets("graft_spec_nb", dir) == 3)
  }

  test("artifact joins: one 3-way exchange on the unbucketed side; none between artifacts") {
    import spark.implicits._
    val dir = freshDir()
    withConf("spark.sql.shuffle.partitions" -> "3",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val a = Artifacts.table(spark, dir, "src", "graft_spec_ja", "id")(ids(100))
      val b = Artifacts.table(spark, dir, "src", "graft_spec_jb", "id")(
        ids(100).select(col("id"), (col("v") * 2).as("w")))
      val other = (0L until 50L).map(i => (i, i * 3)).toDF("id", "z")

      val oneSided = exchanges(noop(a.join(other, "id")))
      assert(oneSided.size == 1, oneSided.mkString("\n"))
      assert(oneSided.head.outputPartitioning.numPartitions == 3)
      assert(oneSided.head.collect { case s: FileSourceScanExec => s }.isEmpty,
        "the artifact side must not be shuffled")

      val joined = a.join(b, "id")
      assert(exchanges(noop(joined)).isEmpty)
      assert(joined.count() == 100)
    }
  }

  test("a second table call with the same key serves the table without rebuilding") {
    val dir = freshDir()
    Artifacts.table(spark, dir, "src", "graft_spec_hit", "id")(ids(10))
    val logged = BuildLog.snapshot()("table:graft_spec_hit")
    var rebuilt = false
    val again = Artifacts.table(spark, dir, "src", "graft_spec_hit", "id") {
      rebuilt = true
      ids(10)
    }
    assert(!rebuilt)
    assert(BuildLog.snapshot()("table:graft_spec_hit") == logged)
    assert(again.count() == 10)
  }

  test("a non-empty leftover location of an aborted build is cleared and the retry succeeds") {
    val dir = freshDir()
    intercept[Exception] {
      Artifacts.table(spark, dir, "src", "graft_spec_retry", "id")(
        ids(10).withColumn("v", expr("if(id > 5, raise_error('aborted build'), v)")))
    }
    val loc = Paths.get(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
      .resolve(Artifacts.tableName("graft_spec_retry", Artifacts.key(spark, dir, "src")))
    Files.createDirectories(loc)
    Files.write(loc.resolve("part-00000-leftover.parquet"), Array[Byte](1, 2, 3))
    val t = Artifacts.table(spark, dir, "src", "graft_spec_retry", "id")(ids(10))
    assert(t.count() == 10)
    assert(!Files.exists(loc.resolve("part-00000-leftover.parquet")))
  }

  test("a document rewritten at equal n_chars changes the key and rebuilds graft_tfidx") {
    import spark.implicits._
    val dir = sfCopy("documents")
    def builds = BuildLog.snapshot().getOrElse("table:graft_tfidx", 0.0)
    def index = graft.operators.TextAnalysis.invertedIndex(spark, dir)
      .select("token").as[String].collect().toSet

    val keyBefore = Artifacts.key(spark, dir, "documents")
    assert(Artifacts.key(spark, dir, "documents") == keyBefore)
    val unbuilt = builds
    val before = index
    val firstBuilds = builds
    assert(firstBuilds > unbuilt, "a fresh corpus copy must build graft_tfidx")
    assert(!before.contains("zqxword"))
    assert(index == before && builds == firstBuilds, "a cache hit must not rebuild")

    val n = Tables.documents(spark, dir).filter(col("doc_id") === 0L)
      .select("n_chars").as[Long].head()
    rewriteDoc(dir, 0L, "zqxword")
    assert(Tables.documents(spark, dir).filter(col("doc_id") === 0L)
      .select("n_chars").as[Long].head() == n)

    assert(Artifacts.key(spark, dir, "documents") != keyBefore)
    val after = index
    assert(builds > firstBuilds, "the rewritten corpus must rebuild graft_tfidx")
    assert(after.contains("zqxword"))
  }

  test("a key is a 64-bit hash that fails on a missing table") {
    val key = Artifacts.key(spark, sfDir, "documents", "events")
    assert(key.matches("[0-9a-f]{16}"))
    assert(key != Artifacts.key(spark, sfDir, "documents"))
    val e = intercept[java.io.FileNotFoundException] {
      Artifacts.key(spark, sfDir, "no_such_table")
    }
    assert(e.getMessage.contains("no_such_table.parquet"))
  }

  test("a rewritten source retrains its model; an unchanged one is served from the memo") {
    val dir = freshDir(Seq(1L, 2L, 3L))
    var trained = 0
    def total: java.lang.Long = Artifacts.model(spark, dir, "spec_total", "src") {
      trained += 1
      java.lang.Long.valueOf(spark.read.parquet(s"$dir/src.parquet")
        .agg(sum(col("x"))).head().getLong(0))
    }
    def logged = BuildLog.snapshot()("model:spec_total")

    assert(total == 6L && trained == 1)
    val firstLog = logged
    var hit: java.lang.Long = null
    assert(JobProbe(spark) { hit = total }.jobs == 0, "a model hit must run no Spark job")
    assert(hit == 6L && trained == 1)
    assert(logged == firstLog, "a model hit must not touch its build log entry")

    writeSrc(dir, Seq(10L, 20L))
    assert(total == 30L && trained == 2)
    assert(logged > firstLog)
    assert(total == 30L && trained == 2)
  }

  test("a model whose training reads nested models returns all their values") {
    // 256 nested models make the memo grow while the outer model trains,
    // which a recursive ConcurrentHashMap.computeIfAbsent rejects
    val dir = freshDir()
    def inner(i: Int): java.lang.Long =
      Artifacts.model(spark, dir, s"spec_inner:$i", "src")(java.lang.Long.valueOf(i.toLong))
    val (outer, inners) = Artifacts.model(spark, dir, "spec_outer", "src") {
      val in = (0 until 256).map(inner(_).longValue)
      (java.lang.Long.valueOf(in.sum), in)
    }
    assert(outer == 255L * 256 / 2 && inners == (0L until 256L))
    assert(inner(7) == 7L)
  }

  test("sketch_kll_quantiles follows a lineitem rewrite") {
    val dir = sfCopy("lineitem")
    def nRows = graft.SparkEntry.queries("sketch_kll_quantiles")(spark, dir)
      .select("n_rows").distinct().collect().map(_.getLong(0)).toSeq
    val n = Tables.lineitem(spark, dir).count()
    assert(nRows == Seq(n))
    rewrite(dir, "lineitem")(_.take((n / 2).toInt))
    assert(nRows == Seq(n / 2), "the KLL sketch must retrain on the rewritten lineitem")
  }

  test("a document rewritten at equal n_chars repacks the WARC containers") {
    val dir = sfCopy("documents")
    def payloadHash = graft.SparkEntry.queries("warc_point_lookup")(spark, dir)
      .filter(col("record_id") === 137L).select("payload_hash").head().getLong(0)
    def textHash = Tables.documents(spark, dir).filter(col("doc_id") === 137L)
      .select(expr("portable_hash60(text)")).head().getLong(0)

    val root = WarcContainer.ensureWritten(spark, dir)
    assert(payloadHash == textHash)
    assert(JobProbe(spark)(WarcContainer.ensureWritten(spark, dir)).jobs == 0,
      "a pack hit must run no Spark job")
    val before = payloadHash

    rewriteDoc(dir, 137L, "zqxword")
    assert(payloadHash != before, "the WARC query must read the rewritten text")
    assert(payloadHash == textHash)
    val repacked = WarcContainer.ensureWritten(spark, dir)
    assert(repacked != root, "the rewritten corpus must get a new pack root")
    Seq(root, repacked).foreach(r => Artifacts.deleteRec(Paths.get(r)))
  }
}
