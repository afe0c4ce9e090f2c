package graft.agg

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.col

import graft.core.Tables

/** Grouped top-k as a bounded typed Aggregator — the scale-path alternative
  * to `row_number().over(Window.partitionBy(...))`.
  *
  * The window formulation shuffles EVERY row of the group to one reducer
  * and sorts it, so a hot key with 10^8 rows costs a 10^8-row sort to keep
  * 3. This Aggregator keeps at most k rows per key inside the PARTIAL
  * (map-side) aggregation buffer, so the shuffle carries ≤ k rows per key
  * per input partition and the final merge is a k-way list merge — cost
  * O(rows·k) map-side, O(partitions·k) per key through the wire, no group
  * sort anywhere. Results are bit-identical to the window query (same
  * (value desc, id asc) total order), verified against the same oracle SQL.
  *
  * Measured honestly: at sf0.1 with tiny uniform groups the window variant
  * is slightly faster (typed-encoder overhead dominates); the Aggregator is
  * the right physics when groups are large or skewed — its shuffle volume
  * is independent of group size, the window's is linear in it.
  */
object TopK {

  type OrderRow = (Long, Long, Double) // (o_custkey, o_orderkey, o_totalprice)

  /** Buffer: up to k (totalprice, orderkey) pairs, sorted by
    * (price desc, orderkey asc). */
  class TopKOrders(k: Int)
      extends Aggregator[OrderRow, List[(Double, Long)], Seq[(Long, Double, Int)]] {

    private def lt(a: (Double, Long), b: (Double, Long)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

    private def insert(buf: List[(Double, Long)], x: (Double, Long)): List[(Double, Long)] = {
      val (before, after) = buf.span(lt(_, x))
      (before ::: x :: after).take(k)
    }

    override def zero: List[(Double, Long)] = Nil
    override def reduce(b: List[(Double, Long)], r: OrderRow): List[(Double, Long)] =
      insert(b, (r._3, r._2))
    override def merge(a: List[(Double, Long)], b: List[(Double, Long)]): List[(Double, Long)] =
      b.foldLeft(a)(insert)
    override def finish(b: List[(Double, Long)]): Seq[(Long, Double, Int)] =
      b.zipWithIndex.map { case ((price, key), i) => (key, price, i + 1) }
    override def bufferEncoder: Encoder[List[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[(Double, Long)]]()
    override def outputEncoder: Encoder[Seq[(Long, Double, Int)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Double, Int)]]()
  }

  /** Top-3 orders per customer — identical semantics (and oracle) to the
    * window-based `win_rank_top3_orders_per_cust`, different physics. */
  def top3OrdersPerCustViaAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .as[OrderRow]
      .groupByKey(_._1)
      .agg(new TopKOrders(3).toColumn.name("topk"))
      .flatMap { case (custkey, topk) =>
        topk.map { case (orderkey, price, rn) => (custkey, orderkey, price, rn) }
      }
      .toDF("o_custkey", "o_orderkey", "o_totalprice", "rn")
      .orderBy("o_custkey", "rn")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "topk_grouped_via_agg" -> (top3OrdersPerCustViaAgg _)
  )

  /** Same oracle as the window variant — the two must agree exactly. */
  val oracle: Map[String, String] = Map(
    "topk_grouped_via_agg" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin
  )
}
