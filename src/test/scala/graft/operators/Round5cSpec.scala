package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** Invariants and differential checks for the round-5c batch: debounce,
  * exact weighted median, count-min sketch, and edit-distance-1 linkage. */
class Round5cSpec extends SparkSpec {

  test("debounce accounting: kept + dropped = total, and totals match " +
    "the raw event counts per type") {
    val d = Events.debounce(spark, sfDir).collect()
    d.foreach { r =>
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped") ==
        r.getAs[Long]("n_total"))
    }
    val raw = Tables.events(spark, sfDir).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    d.foreach(r => assert(r.getAs[Long]("n_total") ==
      raw(r.getAs[String]("event_type"))))
  }

  test("weighted median: at least half the quantity mass sits at or " +
    "below it, and strictly less than half sits strictly below") {
    val wm = AdvancedAggs.weightedMedian(spark, sfDir).collect()
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_quantity").cast("bigint").as("w"))
    wm.foreach { r =>
      val flag = r.getAs[String]("l_returnflag")
      val m = r.getAs[Double]("weighted_median")
      val tw = r.getAs[Long]("total_weight")
      val atOrBelow = li.filter(col("l_returnflag") === flag &&
        col("l_extendedprice") <= m).agg(sum("w")).head().getLong(0)
      val below = li.filter(col("l_returnflag") === flag &&
        col("l_extendedprice") < m).agg(coalesce(sum("w"), lit(0L)))
        .head().getLong(0)
      assert(atOrBelow * 2 >= tw, s"$flag: $atOrBelow*2 < $tw")
      assert(below * 2 < tw, s"$flag: below=$below*2 >= $tw")
    }
  }

  test("count-min sketch: per-row cell sums equal the event count, and " +
    "min-over-rows estimate >= every user's true frequency") {
    val cms = AdvancedAggs.cmsUsers(spark, sfDir).collect()
    val total = Tables.events(spark, sfDir).count()
    (0 until 4).foreach { r =>
      val rowSum = cms.filter(_.getAs[Int]("sketch_row") == r)
        .map(_.getAs[Long]("cell_count")).sum
      assert(rowSum == total, s"row $r sums to $rowSum, want $total")
    }
    val cells = cms.map(c => (c.getAs[Int]("sketch_row"),
      c.getAs[Long]("sketch_col")) -> c.getAs[Long]("cell_count")).toMap
    val truth = Tables.events(spark, sfDir)
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    truth.take(50).foreach { case (uid, n) =>
      val est = (0 until 4).map { r =>
        val colIdx = Tables.events(spark, sfDir).sparkSession
          .sql(s"SELECT portable_hash60('cms$r:' || '$uid') % 256")
          .head().getLong(0)
        cells.getOrElse((r, colIdx), 0L)
      }.min
      assert(est >= n, s"user $uid: CMS est $est < true $n")
    }
  }

  test("bloom filter admits every true member (no false negatives) and " +
    "the report's accounting is internally consistent") {
    val r = AdvancedAggs.bloomProbe(spark, sfDir).head()
    val nCust = r.getAs[Long]("n_customers")
    val nMem = r.getAs[Long]("n_members")
    val nMaybe = r.getAs[Long]("n_maybe")
    val nFp = r.getAs[Long]("n_false_pos")
    // no false negatives: maybe ⊇ members, and maybe = members + fp
    assert(nMaybe == nMem + nFp, s"maybe=$nMaybe members=$nMem fp=$nFp")
    assert(nMem <= nMaybe && nMaybe <= nCust)
    assert(nCust == Tables.customer(spark, sfDir).count())
  }

  test("key-skew diagnostics: per-table row totals match the raw tables " +
    "and top_share is bounded by (1/n_keys, 1]") {
    val d = Diagnostics.keySkew(spark, sfDir).collect()
    val expected = Map(
      "orders" -> Tables.orders(spark, sfDir).count(),
      "lineitem" -> Tables.lineitem(spark, sfDir).count(),
      "events" -> Tables.events(spark, sfDir).count())
    assert(d.length == 3)
    d.foreach { r =>
      assert(r.getAs[Long]("n_rows") == expected(r.getAs[String]("table_name")))
      val share = r.getAs[Double]("top_share")
      assert(share > 0 && share <= 1.0)
      assert(share >= 1.0 / r.getAs[Long]("n_keys"))
    }
  }

  test("edit-1 linkage equals the brute-force all-pairs join on the " +
    "supplier name dictionary") {
    val fast = Dedup.edit1Names(spark, sfDir)
    val names = Tables.supplier(spark, sfDir)
      .select(col("s_name").as("name")).distinct()
    val brute = names.crossJoin(names.select(col("name").as("nb")))
      .filter(col("name") < col("nb"))
      .filter(levenshtein(col("name"), col("nb")) <= 1)
      .select(col("name").as("name_a"), col("nb").as("name_b"))
    assert(fast.select("name_a", "name_b").except(brute).count() == 0)
    assert(brute.except(fast.select("name_a", "name_b")).count() == 0)
  }
}
