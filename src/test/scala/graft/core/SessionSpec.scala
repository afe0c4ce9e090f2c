package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.{col, lit, sum}

import graft.{SparkEntry, SparkSpec}

/** The one session setup: what a `Session.local` session is configured
  * with, that its arithmetic is ANSI, and that `SparkEntry.queries`
  * prepares whatever session it is handed. */
class SessionSpec extends SparkSpec {

  test("Session.local(3): 3 shuffle partitions, UTC, ANSI, parquet reader confs") {
    // a second session on the running context, as the other builder specs
    // do; the shared spec session is restored afterwards
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val conf = Session.local(3).conf
      assert(conf.get("spark.sql.shuffle.partitions") == "3")
      assert(conf.get("spark.sql.session.timeZone") == "UTC")
      assert(conf.get("spark.sql.ansi.enabled") == "true")
      assert(conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
      assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("a BIGINT sum past Long.MaxValue fails with ARITHMETIC_OVERFLOW") {
    val past = spark.range(2).select(lit(Long.MaxValue).as("v")).agg(sum(col("v")))
    val e = intercept[Exception](past.collect())
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("ARITHMETIC_OVERFLOW")),
      s"expected ARITHMETIC_OVERFLOW, got: $e")
  }

  test("prepare leaves a prepared session's functions as they are") {
    val reg = spark.sessionState.functionRegistry
    def infos = graft.functions.Registry.functions.map { case (name, _) =>
      reg.lookupFunction(FunctionIdentifier(name)).get
    }
    val before = infos
    Session.prepare(spark)
    assert(infos.zip(before).forall { case (a, b) => a eq b })
  }

  test("SparkEntry.queries prepares a session graft did not build") {
    val fresh = spark.newSession()
    assert(!fresh.catalog.functionExists("word_tokens"))
    val q = SparkEntry.queries("mr_wordcount")
    val got = q(fresh, sfDir).collect().toSeq
    assert(fresh.catalog.functionExists("word_tokens"))
    assert(got.nonEmpty)
    assert(got == q(spark, sfDir).collect().toSeq)
  }
}
