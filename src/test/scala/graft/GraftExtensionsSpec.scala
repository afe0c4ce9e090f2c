package graft

import org.apache.spark.sql.SparkSession

/** The extensions entry point must make every custom function available to
  * a session built with spark.sql.extensions — no Registry call. */
class GraftExtensionsSpec extends SparkSpec {

  test("GraftExtensions injection registers all functions in a new session") {
    // a static conf (spark.sql.extensions) cannot be applied to the already
    // -running test SparkContext, so exercise the same injection through
    // the public withExtensions builder API
    spark.sparkContext
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .withExtensions(new GraftExtensions())
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val row = s2.sql(
        """select
          |  element_at(char_class_counts('ab1!'), 1) as letters,
          |  element_at(letter_histogram('aa'), 1) as a_count,
          |  cosine_sim(array(cast(1.0 as float)), array(cast(2.0 as float))) as cs,
          |  portable_hash60('x') as h,
          |  simhash32(array('x', 'y')) as sh,
          |  sorted_intersect_count(array(1L, 3L, 5L), array(3L, 5L, 9L)) as sic,
          |  size(shingle_hashes(array('a', 'b', 'c', 'd'))) as nsh
          |""".stripMargin).head()
      assert(row.getLong(0) == 2L)
      assert(row.getLong(1) == 2L)
      assert(row.getDouble(2) == 1.0)
      assert(!row.isNullAt(3) && !row.isNullAt(4))
      assert(row.getLong(5) == 2L)
      assert(row.getInt(6) == 2)
      // every native function on the one list resolves in the session
      val missing = graft.functions.Registry.functions.map(_._1)
        .filterNot(s2.catalog.functionExists)
      assert(missing.isEmpty, s"not injected: ${missing.mkString(", ")}")
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
