package graft.core

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.{col, expr}

import graft.{JobProbe, SparkSpec}

/** The artifact cache's contract: a table has as many buckets as the
  * session has shuffle partitions, so joins on the bucket key run at the
  * session's parallelism; a key names one build; leftovers of an aborted
  * build never block a retry; and keys follow the source files. */
class BucketedCacheSpec extends SparkSpec {

  private def freshKey(): String = java.lang.Long.toHexString(System.nanoTime())

  private def ids(n: Int): DataFrame =
    spark.range(n).select(col("id"), (col("id") % 7).as("v"))

  private def numBuckets(prefix: String, key: String): Int =
    spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(BucketedCache.tableName(prefix, key)))
      .bucketSpec.get.numBuckets

  private def exchanges(body: => Unit): Seq[ShuffleExchangeExec] =
    JobProbe(spark)(body).nodes.collect { case e: ShuffleExchangeExec => e }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  test("bucket count is the session's shuffle-partition count at build time") {
    val key = freshKey()
    withConf("spark.sql.shuffle.partitions" -> "3") {
      BucketedCache.getOrBuild(spark, "graft_spec_nb", key, "id", "id")(ids(100))
    }
    assert(numBuckets("graft_spec_nb", key) == 3)
  }

  test("artifact joins: one 3-way exchange on the unbucketed side; none between artifacts") {
    import spark.implicits._
    val key = freshKey()
    withConf("spark.sql.shuffle.partitions" -> "3",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val a = BucketedCache.getOrBuild(spark, "graft_spec_ja", key, "id", "id")(ids(100))
      val b = BucketedCache.getOrBuild(spark, "graft_spec_jb", key, "id", "id")(
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

  test("a second getOrBuild with the same key serves the table without rebuilding") {
    val key = freshKey()
    BucketedCache.getOrBuild(spark, "graft_spec_hit", key, "id", "id")(ids(10))
    val logged = BuildLog.snapshot()("table:graft_spec_hit")
    var rebuilt = false
    val again = BucketedCache.getOrBuild(spark, "graft_spec_hit", key, "id", "id") {
      rebuilt = true
      ids(10)
    }
    assert(!rebuilt)
    assert(BuildLog.snapshot()("table:graft_spec_hit") == logged)
    assert(again.count() == 10)
  }

  test("a non-empty leftover location of an aborted build is cleared and the retry succeeds") {
    val key = freshKey()
    intercept[Exception] {
      BucketedCache.getOrBuild(spark, "graft_spec_retry", key, "id", "id")(
        ids(10).withColumn("v", expr("if(id > 5, raise_error('aborted build'), v)")))
    }
    val loc = Paths.get(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
      .resolve(BucketedCache.tableName("graft_spec_retry", key))
    Files.createDirectories(loc)
    Files.write(loc.resolve("part-00000-leftover.parquet"), Array[Byte](1, 2, 3))
    val t = BucketedCache.getOrBuild(spark, "graft_spec_retry", key, "id", "id")(ids(10))
    assert(t.count() == 10)
    assert(!Files.exists(loc.resolve("part-00000-leftover.parquet")))
  }

  test("a document rewritten at equal n_chars changes the key and rebuilds graft_tfidx") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_key_spec").toString
    val docsPath = s"$dir/documents.parquet"
    Files.copy(Paths.get(s"$sfDir/documents.parquet"), Paths.get(docsPath))
    def builds = BuildLog.snapshot().getOrElse("table:graft_tfidx", 0.0)
    def index = graft.operators.TextAnalysis.invertedIndex(spark, dir)
      .select("token").as[String].collect().toSet

    val keyBefore = BucketedCache.key(spark, dir, "documents")
    assert(BucketedCache.key(spark, dir, "documents") == keyBefore)
    val unbuilt = builds
    val before = index
    val firstBuilds = builds
    assert(firstBuilds > unbuilt, "a fresh corpus copy must build graft_tfidx")
    assert(!before.contains("zqxword"))
    assert(index == before && builds == firstBuilds, "a cache hit must not rebuild")

    val docs = Tables.documents(spark, dir)
    val rows = docs.collect()
    val target = rows.find(_.getAs[Long]("doc_id") == 0L).get
    val n = target.getAs[Long]("n_chars").toInt
    val text = ("zqxword " * n).take(n)
    assert(text.length == target.getAs[String]("text").length)
    val rewritten = rows.map { r =>
      if (r.getAs[Long]("doc_id") == 0L)
        org.apache.spark.sql.Row.fromSeq(r.toSeq.updated(r.fieldIndex("text"), text))
      else r
    }
    Files.delete(Paths.get(docsPath))
    spark.createDataFrame(java.util.Arrays.asList(rewritten: _*), docs.schema)
      .coalesce(1).write.parquet(docsPath)
    assert(Tables.documents(spark, dir).filter(col("doc_id") === 0L)
      .select("n_chars").as[Long].head() == n)

    assert(BucketedCache.key(spark, dir, "documents") != keyBefore)
    val after = index
    assert(builds > firstBuilds, "the rewritten corpus must rebuild graft_tfidx")
    assert(after.contains("zqxword"))
  }

  test("a key is a 64-bit hash that fails on a missing table") {
    val key = BucketedCache.key(spark, sfDir, "documents", "events")
    assert(key.matches("[0-9a-f]{16}"))
    assert(key != BucketedCache.key(spark, sfDir, "documents"))
    val e = intercept[java.io.FileNotFoundException] {
      BucketedCache.key(spark, sfDir, "no_such_table")
    }
    assert(e.getMessage.contains("no_such_table.parquet"))
  }
}
