package graft

import graft.core.Tables

/** The pure-SQL user surface: tables registered as temp views plus the
  * custom functions make the whole engine drivable from `spark.sql`. */
class SqlInterfaceSpec extends SparkSpec {

  test("spark.sql can run analytics with custom functions over temp views") {
    Tables.names.foreach { t =>
      Tables.load(spark, sfDir, t).createOrReplaceTempView(t)
    }
    val stats = spark.sql(
      """SELECT lang, COUNT(*) AS n,
        |  SUM(element_at(char_class_counts(text), 1)) AS letters
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin).collect()
    assert(stats.length == 5 && stats.map(_.getLong(2)).forall(_ > 0))

    val sim = spark.sql(
      """SELECT a.vec_id, cosine_sim(a.embedding, a.embedding) AS self_sim
        |FROM embeddings a WHERE a.vec_id < 3 ORDER BY a.vec_id""".stripMargin).collect()
    assert(sim.forall(r => math.abs(r.getDouble(1) - 1.0) < 1e-12))

    val joined = spark.sql(
      """SELECT n_name, COUNT(*) AS n_cust FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_cust DESC, n_name LIMIT 3""".stripMargin)
    assert(joined.count() == 3)
  }
}
