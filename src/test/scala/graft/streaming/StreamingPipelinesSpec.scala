package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.streaming.StreamingPipelines.{Event, SessionOut}

class StreamingPipelinesSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minutes: Long): Timestamp = new Timestamp(minutes * 60 * 1000)

  test("streaming wordCount accumulates counts across batches (Complete mode)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val q = StreamingPipelines.wordCount(in.toDF().withColumnRenamed("value", "content"))
      .writeStream.format("memory").queryName("wc").outputMode(OutputMode.Complete).start()
    try {
      in.addData("a b a", "c")
      q.processAllAvailable()
      val m1 = spark.table("wc").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(m1 == Map("a" -> 2L, "b" -> 1L, "c" -> 1L))
      in.addData("a c")
      q.processAllAvailable()
      val m2 = spark.table("wc").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(m2 == Map("a" -> 3L, "b" -> 1L, "c" -> 2L))
    } finally q.stop()
  }

  test("stream-batch parity: incremental tumbling windows equal the batch aggregation on real events") {
    // the strongest streaming correctness statement available without a
    // second engine: replaying the REAL sf0.001 events table through the
    // streaming pipeline in chronological micro-batches must finalize
    // exactly the windows the batch groupBy computes on the same rows
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, window => fwindow}
    val rows = graft.core.Tables.events(spark, sfDir)
      .select(col("ts"), col("event_type"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)))
      .sortBy(_._1.getTime)
    val batch = graft.core.Tables.events(spark, sfDir)
      .groupBy(fwindow(col("ts"), "1 hour").getField("start").as("bucket"),
        col("event_type"))
      .count()
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2))
      .toMap

    val in = MemoryStream[(Timestamp, String)]
    val q = StreamingPipelines.tumblingHourly(
        in.toDF().toDF("ts", "event_type"))
      .writeStream.format("memory").queryName("parity")
      .outputMode(OutputMode.Append).start()
    try {
      val chunks = rows.grouped(math.max(1, rows.length / 3)).toSeq
      chunks.foreach { chunk => in.addData(chunk.toSeq); q.processAllAvailable() }
      // push the watermark far past the last real window so it finalizes
      val flushTs = new Timestamp(rows.last._1.getTime + 12L * 3600 * 1000)
      in.addData((flushTs, "flush")); q.processAllAvailable()
      val streamed = spark.table("parity").collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2))
        .toMap
        .filter { case ((_, tpe), _) => tpe != "flush" }
      assert(streamed == batch,
        s"stream/batch divergence: only-stream=${streamed.toSet -- batch.toSet} " +
          s"only-batch=${batch.toSet -- streamed.toSet}")
    } finally q.stop()
  }

  test("stream-batch parity: sliding 15m windows equal the batch hopping aggregation") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, window => fwindow}
    val rows = graft.core.Tables.events(spark, sfDir)
      .select(col("ts"), col("event_type"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)))
      .sortBy(_._1.getTime)
    val batch = graft.core.Tables.events(spark, sfDir)
      .groupBy(fwindow(col("ts"), "1 hour", "15 minutes").getField("start").as("win_start"),
        col("event_type"))
      .count()
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2))
      .toMap

    val in = MemoryStream[(Timestamp, String)]
    val q = StreamingPipelines.slidingQuarterHour(
        in.toDF().toDF("ts", "event_type"))
      .writeStream.format("memory").queryName("slide_parity")
      .outputMode(OutputMode.Append).start()
    try {
      val chunks = rows.grouped(math.max(1, rows.length / 3)).toSeq
      chunks.foreach { chunk => in.addData(chunk.toSeq); q.processAllAvailable() }
      val flushTs = new Timestamp(rows.last._1.getTime + 12L * 3600 * 1000)
      in.addData((flushTs, "flush")); q.processAllAvailable()
      val streamed = spark.table("slide_parity").collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2))
        .toMap
        .filter { case ((_, tpe), _) => tpe != "flush" }
      assert(streamed == batch,
        s"stream/batch sliding divergence: only-stream=${streamed.toSet -- batch.toSet} " +
          s"only-batch=${batch.toSet -- streamed.toSet}")
    } finally q.stop()
  }

  test("tumbling window finalizes only after the watermark passes (Append mode)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamingPipelines.tumblingHourly(
      in.toDF().toDF("ts", "event_type"))
      .writeStream.format("memory").queryName("tw").outputMode(OutputMode.Append).start()
    try {
      in.addData((ts(10), "click"), (ts(20), "click"), (ts(70), "view"))
      q.processAllAvailable()
      // watermark = max(70min) - 2h < 0: nothing finalized yet
      assert(spark.table("tw").count() == 0)
      // push the watermark past hour-0 and hour-1 ends (requires
      // max ts - 2h >= 120min, and one more batch for the new watermark to
      // take effect — watermarks advance at batch boundaries)
      in.addData((ts(300), "view"))
      q.processAllAvailable()
      in.addData((ts(301), "view"))
      q.processAllAvailable()
      val rows = spark.table("tw").collect()
        .map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1), r.getLong(2))).toSet
      assert(rows == Set((0L, "click", 2L), (60L, "view", 1L)))
    } finally q.stop()
  }

  test("stream-stream join pairs clicks with errors in the 10-minute window") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val errors = MemoryStream[(Long, Long, Timestamp)]
    val q = StreamingPipelines.clickErrorJoin(
      clicks.toDF().toDF("user_id", "event_id", "ts"),
      errors.toDF().toDF("user_id", "event_id", "ts"))
      .writeStream.format("memory").queryName("ssj").outputMode(OutputMode.Append).start()
    try {
      errors.addData((1L, 100L, ts(25)), (1L, 101L, ts(5)), (2L, 102L, ts(28)))
      clicks.addData((1L, 1L, ts(30)))
      q.processAllAvailable()
      val rows = spark.table("ssj").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      // error 100 (5 min before, same user) joins; 101 is 25 min stale;
      // 102 belongs to another user
      assert(rows == Set((1L, 1L, 100L)))
    } finally q.stop()
  }

  test("streaming attribution honors the 24h horizon and click replacement") {
    import StreamingPipelines.{AttrEvent, AttributedPurchase}
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[AttrEvent]
    val q = StreamingPipelines.attribute(in.toDS())
      .writeStream.format("memory").queryName("attr").outputMode(OutputMode.Append).start()
    try {
      val h = 60L * 60 * 1000 // work in hours via raw millis timestamps
      def at(hours: Long) = new Timestamp(hours * h)
      in.addData(
        AttrEvent(1, 1, at(0), "click", 0.0, Some(7)),
        AttrEvent(1, 2, at(1), "purchase", 10.0, None), // ← click k=7
        AttrEvent(1, 3, at(2), "click", 0.0, Some(9)))
      q.processAllAvailable()
      in.addData( // state carries the k=9 click into the next batch
        AttrEvent(1, 4, at(3), "purchase", 20.0, None), // ← click k=9
        AttrEvent(1, 5, at(40), "purchase", 30.0, None)) // 38h later → None
      q.processAllAvailable()
      val rows = spark.table("attr").as[AttributedPurchase].collect()
        .sortBy(_.purchase_id)
      assert(rows.map(_.campaign).toSeq == Seq(Some(7), Some(9), None))
    } finally q.stop()
  }

  test("stream-batch parity: streaming attribution aggregates to the batch " +
    "attribution report on real events") {
    import StreamingPipelines.{AttrEvent, AttributedPurchase}
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, get_json_object}
    val rows = graft.core.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        col("value"), get_json_object(col("props"), "$.k").cast("int").as("k"))
      .collect()
      .map(r => AttrEvent(r.getLong(0), r.getLong(1), r.getTimestamp(2),
        r.getString(3), r.getDouble(4),
        if (r.isNullAt(5)) None else Some(r.getInt(5))))
      .sortBy(e => (e.ts.getTime, e.event_id))
    val batch = graft.operators.Events.attribution(spark, sfDir).collect()
      .map { r =>
        val camp = if (r.isNullAt(0)) None else Some(r.getInt(0))
        camp -> ((r.getAs[Long]("n_purchases"), r.getAs[Double]("attributed_value")))
      }.toMap

    val in = MemoryStream[AttrEvent]
    val q = StreamingPipelines.attribute(in.toDS())
      .writeStream.format("memory").queryName("attr_parity")
      .outputMode(OutputMode.Append).start()
    try {
      rows.grouped(math.max(1, rows.length / 3))
        .foreach { chunk => in.addData(chunk.toSeq); q.processAllAvailable() }
      val streamed = spark.table("attr_parity").as[AttributedPurchase].collect()
        .groupBy(_.campaign)
        .map { case (camp, ps) =>
          val value = ps.map(p => BigDecimal(p.value).setScale(2, BigDecimal.RoundingMode.HALF_UP))
            .sum.toDouble
          camp -> ((ps.length.toLong, value))
        }
      assert(streamed == batch,
        s"stream/batch divergence: stream=$streamed batch=$batch")
    } finally q.stop()
  }

  test("sessionize emits a session when the gap is exceeded in-stream") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamingPipelines.sessionize(in.toDS())
      .writeStream.format("memory").queryName("sess").outputMode(OutputMode.Append).start()
    try {
      // three events inside one session, then one 40 min later → closes it.
      // (timestamps start past 0 — a row at the current watermark is late)
      in.addData(
        Event(7, 1, ts(10), 1.0), Event(7, 2, ts(20), 2.0), Event(7, 3, ts(30), 3.0))
      q.processAllAvailable()
      in.addData(Event(7, 4, ts(70), 4.0))
      q.processAllAvailable()
      val sessions = spark.table("sess").as[SessionOut].collect()
      assert(sessions.length == 1)
      val s = sessions.head
      assert(s.user_id == 7 && s.n_events == 3 && s.session_value == 6.0)
      assert(s.session_start == ts(10) && s.session_end == ts(30))
    } finally q.stop()
  }

  test("wordCount runs from a real file source, picking up late-arriving files") {
    import java.nio.file.Files
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val dir = Files.createTempDirectory("graft-stream-src").toString
    val schema = StructType(Seq(StructField("content", StringType)))
    Seq("a b a").toDF("content").write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = StreamingPipelines.wordCount(stream)
      .writeStream.format("memory").queryName("fwc").outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      assert(spark.table("fwc").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("a" -> 2L, "b" -> 1L))
      Seq("b c").toDF("content").write.mode("append").parquet(dir)
      q.processAllAvailable()
      assert(spark.table("fwc").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap ==
        Map("a" -> 2L, "b" -> 2L, "c" -> 1L))
    } finally q.stop()
  }

  test("checkpointed file sink restarts exactly-once: no loss, no duplicates") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft-ckpt").toString
    val (ckpt, out) = (s"$base/ckpt", s"$base/out")
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]

    def start() = StreamingPipelines.tumblingHourly(in.toDF().toDF("ts", "event_type"))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode(OutputMode.Append).start()

    val q1 = start()
    try {
      in.addData((ts(10), "click"), (ts(20), "click"))
      q1.processAllAvailable()
      in.addData((ts(300), "view"))
      q1.processAllAvailable()
      in.addData((ts(301), "view")) // watermark 180min finalizes hour 0
      q1.processAllAvailable()
    } finally q1.stop()
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst == 1, s"hour-0 window should be finalized once, got $afterFirst")

    // restart from the checkpoint; feed enough to finalize hour 5 (300-360)
    val q2 = start()
    try {
      in.addData((ts(600), "view"))
      q2.processAllAvailable()
      in.addData((ts(601), "view")) // watermark 480min finalizes hour 5
      q2.processAllAvailable()
      val rows = spark.read.parquet(out).collect()
        .map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1), r.getLong(2)))
      // exactly-once: hour 0 appears once (not re-emitted after restart),
      // hour 5 exactly once with both view events counted
      assert(rows.count(_._1 == 0L) == 1)
      assert(rows.filter(_._1 == 300L) sameElements Array((300L, "view", 2L)))
    } finally q2.stop()
  }

  test("streaming dedup drops repeated content within the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val q = StreamingPipelines.streamingDedup(in.toDF().toDF("ts", "content"))
      .writeStream.format("memory").queryName("sdedup").outputMode(OutputMode.Append).start()
    try {
      in.addData((ts(10), "doc one"), (ts(11), "doc two"), (ts(12), "doc one"))
      q.processAllAvailable()
      in.addData((ts(20), "doc one"), (ts(21), "doc three"))
      q.processAllAvailable()
      val contents = spark.table("sdedup").collect().map(_.getString(1)).sorted
      // "doc one" survives exactly once despite three arrivals across batches
      assert(contents.toSeq == Seq("doc one", "doc three", "doc two"))
    } finally q.stop()
  }

  test("funnel tracker advances stages in event-time order across batches") {
    import StreamingPipelines.{FunnelAdvance, TypedEvent}
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TypedEvent]
    val q = StreamingPipelines.funnelTrack(in.toDS())
      .writeStream.format("memory").queryName("funnel")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: click arrives with an EARLIER ts than signup — in-batch
      // event-time ordering means click(ts=1) runs first (no advance),
      // then signup(ts=2) advances to stage 1; the later click advances to 2
      in.addData(
        TypedEvent(1L, "click", ts(1)), TypedEvent(1L, "signup", ts(2)),
        TypedEvent(1L, "click", ts(3)),
        TypedEvent(2L, "click", ts(1))) // user 2 never signs up
      q.processAllAvailable()
      val b1 = spark.table("funnel").as[FunnelAdvance].collect()
      assert(b1.filter(_.user_id == 1L).map(_.stage).sorted.toSeq == Seq(1, 2))
      assert(!b1.exists(_.user_id == 2L))
      // state persists across batches: purchase completes user 1's funnel
      in.addData(TypedEvent(1L, "purchase", ts(9)), TypedEvent(2L, "purchase", ts(9)))
      q.processAllAvailable()
      val b2 = spark.table("funnel").as[FunnelAdvance].collect()
      assert(b2.filter(_.user_id == 1L).map(_.stage).sorted.toSeq == Seq(1, 2, 3))
      assert(!b2.exists(_.user_id == 2L)) // purchase without click: no advance
    } finally q.stop()
  }

  test("stream-batch parity: streaming MinHash near-dedup finds exactly the " +
      "batch LSH pairs on the real documents table") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val batch = graft.operators.Dedup.queries("dedup_minhash_lsh")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(batch.nonEmpty, "batch LSH found no pairs — parity test is vacuous")
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // all docs inside one TTL horizon (batch compares every pair, so the
    // replay must too); 1 ms apart keeps in-bucket processing deterministic
    val rows = docs.zipWithIndex.map { case ((id, text), i) =>
      (id, new Timestamp(1000L * 3600 * 24 + i), text)
    }
    val in = MemoryStream[(Long, Timestamp, String)]
    val q = StreamingPipelines.minhashNearDup(
        in.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("mhdedup")
      .outputMode(OutputMode.Append).start()
    try {
      rows.grouped(math.max(1, rows.length / 3)).foreach { chunk =>
        in.addData(chunk.toSeq); q.processAllAvailable()
      }
      // toMap collapses the per-shared-band duplicate emissions (documented)
      val streamed = spark.table("mhdedup").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      assert(streamed == batch,
        s"stream/batch divergence: only-stream=${streamed.keySet -- batch.keySet} " +
          s"only-batch=${batch.keySet -- streamed.keySet}")
    } finally q.stop()
  }

  test("stream-batch parity: streaming simhash64 near-dedup finds exactly the " +
      "batch banded pairs on the real documents table") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val batch = graft.operators.Dedup.queries("dedup_simhash64_pairs")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(batch.nonEmpty, "batch simhash64 found no pairs — parity test is vacuous")
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // all docs inside one TTL horizon (batch compares every pair, so the
    // replay must too); 1 ms apart keeps in-bucket processing deterministic
    val rows = docs.zipWithIndex.map { case ((id, text), i) =>
      (id, new Timestamp(1000L * 3600 * 24 + i), text)
    }
    val in = MemoryStream[(Long, Timestamp, String)]
    val q = StreamingPipelines.simhash64NearDup(
        in.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("sh64dedup")
      .outputMode(OutputMode.Append).start()
    try {
      rows.grouped(math.max(1, rows.length / 3)).foreach { chunk =>
        in.addData(chunk.toSeq); q.processAllAvailable()
      }
      // toMap collapses the per-shared-band duplicate emissions (documented)
      val streamed = spark.table("sh64dedup").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      assert(streamed == batch,
        s"stream/batch divergence: only-stream=${streamed.keySet -- batch.keySet} " +
          s"only-batch=${batch.keySet -- streamed.keySet}")
    } finally q.stop()
  }

  test("sessionize closes an idle session via event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamingPipelines.sessionize(in.toDS())
      .writeStream.format("memory").queryName("sess2").outputMode(OutputMode.Append).start()
    try {
      in.addData(Event(1, 1, ts(10), 5.0))
      q.processAllAvailable()
      // another user's much-later events advance the watermark past
      // user 1's session end + gap → timeout fires, session emitted.
      // Two batches: the watermark computed from batch N applies in N+1.
      in.addData(Event(2, 2, ts(300), 1.0))
      q.processAllAvailable()
      in.addData(Event(2, 3, ts(301), 1.0))
      q.processAllAvailable()
      val sessions = spark.table("sess2").as[SessionOut].collect().filter(_.user_id == 1)
      assert(sessions.length == 1 && sessions.head.n_events == 1)
    } finally q.stop()
  }

  test("stream-batch parity: streaming incremental dedup equals the batch decisions") {
    // replay the incoming half (odd doc_ids) of the REAL documents table
    // against the even-id corpus as the static side: every per-doc
    // decision row (exact flag, near-dup representative, jaccard,
    // decision) must equal graft.operators.SubstringDedup.incrementalDedup
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val incoming = docs.filter(col("doc_id") % 2 === 1)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), ts(r.getLong(0)), r.getString(1)))
    val batch = graft.operators.SubstringDedup.incrementalDedup(spark, sfDir)
      .collect().map { r =>
        r.getLong(0) -> ((r.getBoolean(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          r.getString(4)))
      }.toMap

    val in = MemoryStream[(Long, Timestamp, String)]
    val q = StreamingPipelines.incrementalDedup(
        in.toDF().toDF("doc_id", "ts", "text"), corpus)
      .writeStream.format("memory").queryName("incdedup")
      .outputMode(OutputMode.Append).start()
    try {
      val chunks = incoming.grouped(math.max(1, incoming.length / 3)).toSeq
      chunks.foreach { chunk => in.addData(chunk.toSeq); q.processAllAvailable() }
      val got = spark.table("incdedup").collect().map { r =>
        r.getLong(0) -> ((r.getBoolean(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          r.getString(5)))
      }.toMap
      assert(got.keySet == batch.keySet, "one decision row per incoming doc")
      val diffs = batch.keys.filter(k => got(k) != batch(k))
      assert(diffs.isEmpty,
        s"stream/batch divergence for docs ${diffs.take(5).toList}: " +
          diffs.take(2).map(k => s"$k got=${got(k)} want=${batch(k)}").mkString("; "))
    } finally q.stop()
  }

  test("streaming Misra-Gries keeps every true heavy hitter with bounded undercount") {
    implicit val sqlCtx = spark.sqlContext
    val capacity = 64
    val shards = 8
    val allToks = graft.core.Tables.documents(spark, sfDir)
      .selectExpr("explode(split(text, '\\\\s+')) as token")
      .where("token <> ''").collect().map(_.getString(0))
    val in = MemoryStream[String]
    val q = StreamingPipelines
      .heavyHitterSummaries(in.toDF().withColumnRenamed("value", "token"),
        capacity, shards)
      .writeStream.format("memory").queryName("mg")
      .outputMode(OutputMode.Update).start()
    try {
      allToks.grouped(math.max(1, allToks.length / 3 + 1)).foreach { chunk =>
        in.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      val rows = spark.table("mg").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
      // current state of each shard = the rows of its latest emission
      val latest = rows.groupBy(_._1).map { case (s, rs) =>
        val maxN = rs.map(_._4).max
        (s, (maxN, rs.filter(_._4 == maxN).map(r => r._2 -> r._3).toMap))
      }
      val truth = allToks.groupBy(identity).map { case (t, xs) =>
        (t, xs.length.toLong)
      }
      val shardOf = (t: String) => math.floorMod(t.hashCode, shards)
      val shardN = truth.toSeq.groupBy(x => shardOf(x._1))
        .map { case (s, xs) => (s, xs.map(_._2).sum) }
      latest.foreach { case (s, (n, summary)) =>
        assert(n == shardN(s), s"shard $s processed count")
        assert(summary.size <= capacity, s"shard $s summary bounded")
        summary.foreach { case (t, c) =>
          assert(c <= truth(t), s"MG never overcounts ($t)")
          assert(c >= truth(t) - n / capacity, s"undercount bound ($t)")
        }
      }
      truth.foreach { case (t, cnt) =>
        val s = shardOf(t)
        if (cnt > shardN(s) / capacity)
          assert(latest(s)._2.contains(t), s"true heavy hitter $t survives")
      }
    } finally q.stop()
  }

  test("minhash near-dedup TTL eviction: duplicates beyond the horizon are NOT paired") {
    // the documented state contract: a bucket's signatures expire `ttl`
    // after its last arrival, so an exact duplicate arriving past the
    // horizon must not pair with the evicted original — memory (and the
    // dedup window) is bounded by the TTL, not stream length
    implicit val sqlCtx = spark.sqlContext
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val other = "one two three four five six seven eight nine"
    val other2 = "red green blue cyan magenta yellow black white grey"
    val ttlMs = 60L * 60 * 1000 // 1 hour
    val t0 = 1000L * 3600 * 24
    val in = MemoryStream[(Long, Timestamp, String)]
    val q = StreamingPipelines.minhashNearDup(
        in.toDF().toDF("doc_id", "ts", "text"), ttlMs = ttlMs)
      .writeStream.format("memory").queryName("mhttl")
      .outputMode(OutputMode.Append).start()
    try {
      // doc 1 arrives; doc 2 (same text) arrives INSIDE the horizon → pair
      in.addData((1L, new Timestamp(t0), text))
      q.processAllAvailable()
      in.addData((2L, new Timestamp(t0 + ttlMs / 2), text))
      q.processAllAvailable()
      // unrelated traffic advances the watermark far past doc 2 + ttl
      // (watermark from batch N applies in N+1 → two pushes)
      in.addData((50L, new Timestamp(t0 + 4 * ttlMs), other))
      q.processAllAvailable()
      in.addData((51L, new Timestamp(t0 + 4 * ttlMs + 1), other2))
      q.processAllAvailable()
      // doc 3 (same text again) arrives after eviction → NO pair with 1/2
      in.addData((3L, new Timestamp(t0 + 4 * ttlMs + 2), text))
      q.processAllAvailable()
      val pairs = spark.table("mhttl").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 2L)),
        s"expected only the in-horizon pair, got $pairs")
    } finally q.stop()
  }

  test("stream-batch parity: streaming KMV sketch equals the batch KMV " +
    "estimate after replaying real events") {
    implicit val sqlCtx = spark.sqlContext
    // sf0.01 exercises the estimator regime (150 users/type > K=64);
    // arrival order differs from any batch scan order, which is the point:
    // bottom-K maintenance is order-independent
    val dir = "/root/testdata/sf0.01"
    val rows = graft.core.Tables.events(spark, dir)
      .select("event_type", "user_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val batch = graft.operators.AdvancedAggs.kmvDistinct(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("exact_users"), r.getAs[Long]("kmv_est")))
      .toMap
    val in = MemoryStream[(String, Long)]
    val q = StreamingPipelines.kmvDistinctStream(
        in.toDF().toDF("event_type", "user_id"))
      .writeStream.format("memory").queryName("kmv")
      .outputMode(OutputMode.Update).start()
    try {
      rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { chunk =>
        in.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      val latest = spark.table("kmv").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
        .groupBy(_._1).map { case (t, rs) => t -> rs.maxBy(_._2) }
      assert(latest.keySet == batch.keySet)
      latest.foreach { case (t, (_, seen, nSketch, est)) =>
        assert(seen == rows.count(_._1 == t), s"$t processed count")
        assert(nSketch == 64, s"$t sketch is full in the estimator regime")
        assert(est == batch(t)._2, s"$t: stream est=$est batch=${batch(t)._2}")
      }
    } finally q.stop()
  }

  test("streaming KMV reports exact distinct counts below K") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val q = StreamingPipelines.kmvDistinctStream(
        in.toDF().toDF("event_type", "user_id"))
      .writeStream.format("memory").queryName("kmvex")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(Seq(("a", 1L), ("a", 2L), ("a", 1L), ("b", 7L)))
      q.processAllAvailable()
      in.addData(Seq(("a", 3L), ("a", 2L)))
      q.processAllAvailable()
      val latest = spark.table("kmvex").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
        .groupBy(_._1).map { case (t, rs) => t -> rs.maxBy(_._2) }
      assert(latest("a")._3 == 3L, "3 distinct users under K → exact count")
      assert(latest("b")._3 == 1L)
    } finally q.stop()
  }

  test("streaming debounce implements the sequential previous-KEPT rule " +
    "on a replay of the real events table") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingPipelines.{DebEvent, KeptEvent}
    import org.apache.spark.sql.functions.col
    val rows = graft.core.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), col("value"))
      .collect()
      .map(r => DebEvent(r.getLong(0), r.getString(1), r.getLong(2),
        r.getTimestamp(3), r.getDouble(4)))
      .sortBy(e => (e.ts.getTime, e.event_id))
    // driver recompute of the sequential kept-rule; 6 h gap so the
    // sparse sf0.001 stream actually has in-gap events to drop
    val gapMs = 6L * 3600 * 1000
    val expected = scala.collection.mutable.Set.empty[Long]
    val lastKept = scala.collection.mutable.Map.empty[(Long, String), Long]
    rows.foreach { e =>
      val k = (e.user_id, e.event_type)
      val t = e.ts.getTime
      if (lastKept.get(k).forall(l => t - l > gapMs)) {
        lastKept(k) = t
        expected += e.event_id
      }
    }
    val in = MemoryStream[DebEvent]
    val q = StreamingPipelines.debounce(in.toDS(), minGapMs = gapMs,
        ttlMs = 365L * 24 * 3600 * 1000)
      .writeStream.format("memory").queryName("deb")
      .outputMode(OutputMode.Append).start()
    try {
      rows.grouped(math.max(1, rows.length / 3))
        .foreach { chunk => in.addData(chunk.toSeq); q.processAllAvailable() }
      val got = spark.table("deb").as[KeptEvent].collect().map(_.event_id).toSet
      assert(got == expected.toSet)
      assert(got.size < rows.length, "debounce must drop something")
    } finally q.stop()
  }

  test("kept-rule resamples a long steady burst where the batch " +
    "previous-event rule keeps only the head") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingPipelines.{DebEvent, KeptEvent}
    // one event every 200 s for 40 min: consecutive gaps are all < 300 s,
    // so the previous-EVENT rule keeps only the first event; the
    // previous-KEPT rule re-keeps every 2nd event (400 s > 300 s)
    val events = (0 until 12).map(i =>
      DebEvent(1L, "click", i.toLong,
        new Timestamp(600000L + i * 200000L), 1.0))
    val in = MemoryStream[DebEvent]
    val q = StreamingPipelines.debounce(in.toDS())
      .writeStream.format("memory").queryName("debburst")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(events)
      q.processAllAvailable()
      val keptIds = spark.table("debburst").as[KeptEvent].collect()
        .map(_.event_id).sorted.toSeq
      // kept at t=0, then first t with t-last > 300s: ids 0,2,4,6,8,10
      assert(keptIds == Seq(0L, 2L, 4L, 6L, 8L, 10L))
    } finally q.stop()
  }

  test("debounce state is TTL-evicted: a key quiet past the horizon " +
    "forgets its last-kept time") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingPipelines.{DebEvent, KeptEvent}
    val in = MemoryStream[DebEvent]
    // ttl (10 min) SHORTER than the gap (1 day): the once-per-day rate
    // limit is only enforceable while the key's state lives — the
    // configuration where eviction is observable (with ttl ≥ gap, any
    // watermark-admissible event is past the gap anyway, and late rows
    // below the watermark are filtered before the operator)
    val q = StreamingPipelines.debounce(in.toDS(),
        minGapMs = 24L * 3600 * 1000, ttlMs = 600000L)
      .writeStream.format("memory").queryName("debttl")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(DebEvent(5L, "click", 1L, ts(10), 1.0))
      q.processAllAvailable()
      // unrelated key advances the watermark (1h delay) far past the
      // key-5 timeout at lastKept + ttl = 20 min; two pushes because a
      // batch's watermark applies from the NEXT batch
      in.addData(DebEvent(6L, "click", 2L, ts(200), 1.0))
      q.processAllAvailable()
      in.addData(DebEvent(6L, "click", 4L, ts(201), 1.0))
      q.processAllAvailable()
      // 200 min after the (now-evicted) kept event — far inside the
      // 1-day gap, so live state would drop it; after eviction it is
      // kept — the documented trade of bounding state by the TTL
      in.addData(DebEvent(5L, "click", 3L, ts(210), 1.0))
      q.processAllAvailable()
      val kept = spark.table("debttl").as[KeptEvent].collect().map(_.event_id).toSet
      assert(kept == Set(1L, 2L, 3L),
        s"expected eviction to forget key 5's last-kept time, got $kept")
    } finally q.stop()
  }

  test("stream-batch parity: streaming bottom-k sample equals the batch " +
    "per-stratum sample after replaying real documents in reversed order") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val batch = graft.operators.Sampling.bottomKStratified(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .groupBy(_._1).map { case (l, rs) => l -> rs.sortBy(_._2).toSeq }
    // reversed arrival order ≠ any batch scan order — bottom-k
    // maintenance must not care
    val rows = graft.core.Tables.documents(spark, dir)
      .selectExpr("lang", "cast(doc_id as string) as doc_id").collect()
      .map(r => (r.getString(0), r.getString(1))).reverse
    val in = MemoryStream[(String, String)]
    val q = StreamingPipelines.bottomKSample(
        in.toDF().toDF("lang", "doc_id"))
      .writeStream.format("memory").queryName("bksample")
      .outputMode(OutputMode.Update).start()
    try {
      rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { chunk =>
        in.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      val latest = spark.table("bksample").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3),
          r.getLong(4)))
        .groupBy(_._1).map { case (l, rs) =>
          val maxSeen = rs.map(_._5).max
          l -> rs.filter(_._5 == maxSeen).sortBy(_._2)
            .map(t => (t._1, t._2, t._3, t._4)).toSeq
        }
      assert(latest.keySet == batch.keySet)
      latest.foreach { case (l, sample) =>
        assert(sample == batch(l),
          s"$l: stream sample $sample != batch ${batch(l)}")
      }
    } finally q.stop()
  }

  test("stream-batch parity: streaming audio catalog matcher emits exactly " +
    "the batch lookup's rows after replaying the corpus clips in reversed " +
    "order") {
    implicit val sqlCtx = spark.sqlContext
    // sf0.01 is the smallest scale with clips long enough for the 15-bit
    // index (see AudioFpSpec)
    val dir = "/root/testdata/sf0.01"
    val batch = graft.multimodal.Multimodal.audioFpLookup(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val clips = graft.multimodal.Multimodal.audioMedia(spark, dir)
      .collect().map(m => (m.doc_id, m.media)).reverse
    val in = MemoryStream[(Long, Array[Byte])]
    val q = StreamingPipelines.audioFpMatch(
        in.toDF().toDF("doc_id", "media"), dir)
      .writeStream.format("memory").queryName("fpmatch")
      .outputMode(OutputMode.Append).start()
    try {
      clips.grouped(math.max(1, clips.length / 3 + 1)).foreach { chunk =>
        in.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      val got = spark.table("fpmatch").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      assert(got.nonEmpty && got == batch)
    } finally q.stop()
  }
}
