package graft

import java.nio.file.Files

import graft.sources.{GraftQueueBroker, GraftQueueSource}
import graft.streaming.Pipelines
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** End-to-end streaming behavior of the queue source: delivery,
  * per-queue partitioning, ack-on-commit, admission control,
  * redelivery flags, bounded reads, and the windowed wordcount
  * pipeline (stream ≡ batch).
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def publishText(brokerDir: String, queue: String, ids: Range, text: Long => String): Unit =
    GraftQueueBroker.publish(brokerDir, queue, ids.map { i =>
      GraftQueueBroker.textMsg(i.toLong, 1700000000000000L + i * 1000000L,
        s"t/$queue/${i % 3}", text(i.toLong))
    })

  test("delivers all messages from all queues exactly once") {
    val broker = tmpDir("graft-broker")
    publishText(broker, "qa", 0 until 40, i => s"hello msg $i")
    publishText(broker, "qb", 0 until 25, i => s"world msg $i")

    val q = Pipelines.readQueues(spark, broker, Seq("qa", "qb"))
      .writeStream.format("memory").queryName("deliver_all")
      .option("checkpointLocation", tmpDir("graft-ckpt")).start()
    try {
      q.processAllAvailable()
      val got = spark.table("deliver_all")
      assert(got.count() === 65)
      assert(got.filter(col("queue") === "qa").count() === 40)
      assert(got.filter(col("queue") === "qb").count() === 25)
      assert(got.select("queue", "message_id").distinct().count() === 65)
      // destination + payload survive the mapping
      val r = got.filter(col("queue") === "qa" && col("message_id") === 7).collect()(0)
      assert(r.getAs[String]("destination") === "t/qa/1")
      assert(new String(r.getAs[Array[Byte]]("payload")) === "hello msg 7")
    } finally q.stop()
  }

  test("commit writes per-queue ack high-water marks (client-ack)") {
    val broker = tmpDir("graft-broker")
    publishText(broker, "q1", 0 until 12, i => s"m$i")
    val q = Pipelines.readQueues(spark, broker, Seq("q1"))
      .writeStream.format("memory").queryName("acks")
      .option("checkpointLocation", tmpDir("graft-ckpt")).start()
    try {
      q.processAllAvailable()
      // the engine calls stream.commit(end) when the NEXT batch starts
      // (same as Beam finalizing a checkpoint later) — force one more
      // micro-batch so the first batch's client-ack lands
      publishText(broker, "q1", 12 until 15, i => s"m$i")
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 15000
      while (GraftQueueSource.ackedCount(broker, "q1") < 12L &&
             System.currentTimeMillis() < deadline) Thread.sleep(100)
    } finally q.stop()
    assert(GraftQueueSource.ackedCount(broker, "q1") >= 12L)
  }

  test("maxRecordsPerTrigger bounds each micro-batch") {
    val broker = tmpDir("graft-broker")
    publishText(broker, "q1", 0 until 50, i => s"m$i")
    val listener = new Pipelines.QueueStatsListener
    spark.streams.addListener(listener)
    val q = Pipelines.readQueues(spark, broker, Seq("q1"), maxRecordsPerTrigger = Some(10))
      .writeStream.format("memory").queryName("throttled")
      .option("checkpointLocation", tmpDir("graft-ckpt")).start()
    try {
      q.processAllAvailable()
      assert(spark.table("throttled").count() === 50)
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
    assert(listener.maxBatchRows <= 10, s"batch exceeded limit: ${listener.maxBatchRows}")
    assert(listener.batches >= 5, s"expected >=5 batches, got ${listener.batches}")
    assert(listener.totalRows === 50)
  }

  test("waterFill: equal shares, a short queue's leftover goes to the others, no budget takes all") {
    import GraftQueueSource.waterFill
    assert(waterFill(Seq(500L, 500L), 151L) === Seq(75L, 76L))
    assert(waterFill(Seq(10L, 500L, 500L), 151L) === Seq(10L, 70L, 71L))
    assert(waterFill(Seq(500L, 3L), 100L) === Seq(97L, 3L))
    assert(waterFill(Seq(40L, 30L), 100L) === Seq(40L, 30L))
    assert(waterFill(Seq(7L, 0L, 1L << 40), Long.MaxValue) === Seq(7L, 0L, 1L << 40))
    assert(waterFill(Seq.empty, 10L) === Seq.empty)
  }

  test("maxRecordsPerTrigger splits the budget evenly: interleaved queues lose no rows to the watermark") {
    val broker = tmpDir("graft-broker")
    // two queues filled side by side: qa holds the even seconds, qb the
    // odd ones, over 20 minutes of event time
    val t0 = 1700000000000000L
    Seq("qa" -> 0, "qb" -> 1).foreach { case (qn, off) =>
      GraftQueueBroker.publish(broker, qn, (0 until 600).map { i =>
        GraftQueueBroker.textMsg(i.toLong, t0 + (2L * i + off) * 1000000L, s"t/$qn",
          s"w${i % 7} v${i % 3}")
      })
    }
    val q = Pipelines.windowedWordCount(
        Pipelines.readQueues(spark, broker, Seq("qa", "qb"), maxRecordsPerTrigger = Some(151)))
      .writeStream.format("memory").queryName("fair_split")
      .option("checkpointLocation", tmpDir("graft-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination(120000) finally q.stop()
    val ps = q.recentProgress.toSeq
    val data = ps.filter(_.numInputRows > 0)
    assert(data.map(_.numInputRows).sum === 1200)
    data.foreach { p =>
      val s = p.sources.head
      val from = Option(s.startOffset).map(GraftQueueSource.offsetsFromJson).getOrElse(Map.empty)
      val to = GraftQueueSource.offsetsFromJson(s.endOffset)
      val takes = Seq("qa", "qb").map(qn => to.getOrElse(qn, 0L) - from.getOrElse(qn, 0L))
      assert(takes.sum <= 151 && (takes(0) - takes(1)).abs <= 1, s"uneven trigger: $takes")
    }
    // the stream equals the batch twin over every window the final
    // watermark closed: no row was dropped as late
    val wm = ps.reverse.flatMap(p => Option(p.eventTime.get("watermark"))).head
    val closedBefore = java.sql.Timestamp.from(java.time.Instant.parse(wm).minusSeconds(60))
    val twin = Pipelines.windowedWordCount(Pipelines.readQueuesBounded(spark, broker, Seq("qa", "qb")))
      .filter(col("ws") <= lit(closedBefore))
    val got = spark.table("fair_split")
    assert(got.select("ws").distinct().count() >= 15)
    assert(twin.exceptAll(got).count() === 0)
    assert(got.exceptAll(twin).count() === 0)
    assert(ps.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum === 0)
  }

  test("restart from checkpoint is exactly-once across runs") {
    val broker = tmpDir("graft-broker")
    val ckpt = tmpDir("graft-ckpt")
    val out = tmpDir("graft-sink")
    def run(): Unit = {
      // memory sink can't recover from a checkpoint; use the
      // fault-tolerant file sink for the restart contract
      val q = Pipelines.readQueues(spark, broker, Seq("q1"))
        .selectExpr("message_id", "CAST(payload AS STRING) AS text")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    publishText(broker, "q1", 0 until 20, i => s"m$i")
    run()
    publishText(broker, "q1", 20 until 30, i => s"m$i")
    run()
    val got = spark.read.parquet(out).select("message_id")
      .collect().map(_.getLong(0)).toSeq
    assert(got.size === 30, "each message delivered exactly once across restarts")
    assert(got.toSet === (0L until 30L).toSet)
  }

  test("bounded read honors maxNumRecords (SolaceIO bounded mode)") {
    val broker = tmpDir("graft-broker")
    publishText(broker, "qa", 0 until 30, i => s"m$i")
    publishText(broker, "qb", 0 until 30, i => s"m$i")
    val all = Pipelines.readQueuesBounded(spark, broker, Seq("qa", "qb"))
    assert(all.count() === 60)
    // the reference's StringMessageMapper and SolaceByteBuffRecord views
    assert(Pipelines.mapToText(all).collect().sorted.toSeq ===
      (0 until 30).flatMap(i => Seq(s"m$i", s"m$i")).sorted)
    val bytes = Pipelines.mapToBytes(all).collect()
    assert(bytes.map(_.queue).sorted.toSeq === Seq.fill(30)("qa") ++ Seq.fill(30)("qb"))
    assert(bytes.forall(r => new String(r.payload, "UTF-8") == s"m${r.message_id}"))
    val capped = Pipelines.readQueuesBounded(spark, broker, Seq("qa", "qb"), Some(45))
    assert(capped.count() === 45)
    // the budget splits across the queues as the stream's does, not in
    // queue-name order
    val perQueue = capped.groupBy("queue").count().collect().map(_.getLong(1))
    assert(perQueue.length === 2 && (perQueue.max - perQueue.min) <= 1,
      s"per-queue counts ${perQueue.mkString(", ")}")
  }

  test("windowed wordcount: stream result equals batch result") {
    val broker = tmpDir("graft-broker")
    // two 1-minute windows of text
    GraftQueueBroker.publish(broker, "q1", (0 until 30).map { i =>
      val ts = 1700000000000000L + (if (i < 15) 0L else 60L * 1000000L) + i * 1000L
      GraftQueueBroker.textMsg(i.toLong, ts, "t/q1", s"alpha beta w$i")
    })
    val stream = Pipelines.windowedWordCount(
      Pipelines.readQueues(spark, broker, Seq("q1")))
    val q = stream.writeStream.format("memory").queryName("wwc")
      .outputMode("complete")
      .option("checkpointLocation", tmpDir("graft-ckpt")).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("wwc").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    val batch = Pipelines.windowedWordCount(
      Pipelines.readQueuesBounded(spark, broker, Seq("q1"))).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === batch)
    assert(streamed.exists { case (_, w, c) => w == "alpha" && c == 15 })
  }

  test("redelivered flag set for rows under the ack high-water mark") {
    val broker = tmpDir("graft-broker")
    publishText(broker, "q1", 0 until 10, i => s"m$i")
    GraftQueueSource.writeAck(broker, "q1", 4) // pretend 4 were acked by a dead consumer
    val df = Pipelines.readQueuesBounded(spark, broker, Seq("q1"))
    assert(df.filter(col("redelivered")).count() === 4)
    assert(df.filter(!col("redelivered")).count() === 6)
  }

  test("stream-stream interval join correlates two queues by key and time") {
    val broker = tmpDir("graft-broker")
    val t0 = 1700000000000000L
    // clicks: users u0..u9 at t0+i s; purchases: even users 5s later,
    // user u0 again far outside the 30s tolerance
    GraftQueueBroker.publish(broker, "clicks", (0 until 10).map { i =>
      GraftQueueBroker.textMsg(i.toLong, t0 + i * 1000000L, "t/click", s"u$i")
    })
    GraftQueueBroker.publish(broker, "purchases",
      (0 until 10 by 2).map { i =>
        GraftQueueBroker.textMsg(100L + i, t0 + i * 1000000L + 5000000L, "t/buy", s"u$i")
      } :+ GraftQueueBroker.textMsg(999L, t0 + 3600L * 1000000L, "t/buy", "u0"))
    val joined = Pipelines.streamStreamJoin(
      Pipelines.readQueues(spark, broker, Seq("clicks")),
      Pipelines.readQueues(spark, broker, Seq("purchases")))
    val q = joined.writeStream.format("memory").queryName("ssj").outputMode("append")
      .option("checkpointLocation", tmpDir("graft-ckpt")).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("ssj").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = (0 until 10 by 2).map(i => (s"u$i", i.toLong, 100L + i)).toSet
    assert(got === want, "each even user joins exactly once; the late u0 purchase is outside tolerance")
  }

  test("stream-stream LEFT OUTER join emits never-matched rows once the watermark closes") {
    val broker = tmpDir("graft-broker")
    val t0 = 1700000000000000L
    // clicks u0..u4; purchases only for even users. Flusher rows far in
    // the future on BOTH queues advance both watermarks past
    // t0 + tolerance, proving the odd users can never match — only then
    // may the engine emit them with a null right side.
    GraftQueueBroker.publish(broker, "clicks", (0 until 5).map { i =>
      GraftQueueBroker.textMsg(i.toLong, t0 + i * 1000000L, "t/click", s"u$i")
    } :+ GraftQueueBroker.textMsg(50L, t0 + 3600L * 1000000L, "t/click", "uflush"))
    GraftQueueBroker.publish(broker, "purchases",
      (0 until 5 by 2).map { i =>
        GraftQueueBroker.textMsg(100L + i, t0 + i * 1000000L + 5000000L, "t/buy", s"u$i")
      } :+ GraftQueueBroker.textMsg(999L, t0 + 3600L * 1000000L, "t/buy", "uflush2"))
    val joined = Pipelines.streamStreamJoin(
      Pipelines.readQueues(spark, broker, Seq("clicks")),
      Pipelines.readQueues(spark, broker, Seq("purchases")),
      joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("ssj_outer").outputMode("append")
      .option("checkpointLocation", tmpDir("graft-ckpt")).start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("ssj_outer").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    val matched = (0 until 5 by 2).map(i => (s"u$i", i.toLong, Some(100L + i))).toSet
    val unmatched: Set[(String, Long, Option[Long])] =
      Seq(1, 3).map(i => (s"u$i", i.toLong, Option.empty[Long])).toSet
    assert(rows.filter(_._3.isDefined) === matched)
    assert((unmatched -- rows).isEmpty,
      s"watermark-closed unmatched clicks must emit with null purchase: got $rows")
  }

  test("stream-stream RIGHT OUTER join emits never-matched purchases once the watermark closes") {
    val broker = tmpDir("graft-broker")
    val t0 = 1700000000000000L
    // clicks only for even users; purchases for u0..u4 — the odd-user
    // purchases can never match and must emit with a null left side
    // once both watermarks pass t0 + tolerance (flusher rows prove it).
    GraftQueueBroker.publish(broker, "clicks", (0 until 5 by 2).map { i =>
      GraftQueueBroker.textMsg(i.toLong, t0 + i * 1000000L, "t/click", s"u$i")
    } :+ GraftQueueBroker.textMsg(50L, t0 + 3600L * 1000000L, "t/click", "uflush"))
    GraftQueueBroker.publish(broker, "purchases", (0 until 5).map { i =>
      GraftQueueBroker.textMsg(100L + i, t0 + i * 1000000L + 5000000L, "t/buy", s"u$i")
    } :+ GraftQueueBroker.textMsg(999L, t0 + 3600L * 1000000L, "t/buy", "uflush2"))
    val joined = Pipelines.streamStreamJoin(
      Pipelines.readQueues(spark, broker, Seq("clicks")),
      Pipelines.readQueues(spark, broker, Seq("purchases")),
      joinType = "right_outer")
    val q = joined.writeStream.format("memory").queryName("ssj_right").outputMode("append")
      .option("checkpointLocation", tmpDir("graft-ckpt")).start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("ssj_right").collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2))).toSet
    val matched = (0 until 5 by 2).map(i => (s"u$i", Some(i.toLong), 100L + i)).toSet
    val unmatched: Set[(String, Option[Long], Long)] =
      Seq(1, 3).map(i => (s"u$i", Option.empty[Long], 100L + i)).toSet
    assert(rows.filter(_._2.isDefined) === matched)
    assert((unmatched -- rows).isEmpty,
      s"watermark-closed unmatched purchases must emit with null click: got $rows")
  }

  test("stream-stream FULL OUTER join emits both sides' never-matched rows") {
    val broker = tmpDir("graft-broker")
    val t0 = 1700000000000000L
    // clicks u0,u1,u2; purchases u1 (matches) and u9 (no click ever):
    // u0/u2 must emit with null right, u9 with null left.
    GraftQueueBroker.publish(broker, "clicks", (0 until 3).map { i =>
      GraftQueueBroker.textMsg(i.toLong, t0 + i * 1000000L, "t/click", s"u$i")
    } :+ GraftQueueBroker.textMsg(50L, t0 + 3600L * 1000000L, "t/click", "uflush"))
    GraftQueueBroker.publish(broker, "purchases", Seq(
      GraftQueueBroker.textMsg(101L, t0 + 1 * 1000000L + 5000000L, "t/buy", "u1"),
      GraftQueueBroker.textMsg(109L, t0 + 2 * 1000000L, "t/buy", "u9"),
      GraftQueueBroker.textMsg(999L, t0 + 3600L * 1000000L, "t/buy", "uflush2")))
    val joined = Pipelines.streamStreamJoin(
      Pipelines.readQueues(spark, broker, Seq("clicks")),
      Pipelines.readQueues(spark, broker, Seq("purchases")),
      joinType = "full_outer")
    val q = joined.writeStream.format("memory").queryName("ssj_full").outputMode("append")
      .option("checkpointLocation", tmpDir("graft-ckpt")).start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("ssj_full").collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    val matched = rows.filter(r => r._2.isDefined && r._3.isDefined)
    assert(matched === Set(("u1", Some(1L), Some(101L))))
    val mustEmit: Set[(String, Option[Long], Option[Long])] = Set(
      ("u0", Some(0L), None), ("u2", Some(2L), None),
      ("u9", None, Some(109L)))
    assert((mustEmit -- rows).isEmpty,
      s"full outer must emit unmatched rows from BOTH sides: got $rows")
  }

  test("file-per-window sink writes one partition directory per window") {
    val broker = tmpDir("graft-broker")
    val out = tmpDir("graft-out")
    GraftQueueBroker.publish(broker, "q1", (0 until 20).map { i =>
      val ts = 1700000000000000L + (if (i < 10) 0L else 60L * 1000000L) + i * 1000L
      GraftQueueBroker.textMsg(i.toLong, ts, "t", s"tok$i common")
    })
    val counts = Pipelines.windowedWordCount(
      Pipelines.readQueues(spark, broker, Seq("q1")), watermark = "0 seconds")
    val q = Pipelines.fileSinkPerWindow(counts, out).start()
    // the checkpoint, the state store and the sink's metadata log start
    // no process (the sink's own data files are written by Spark's file
    // sink with the session's filesystem, which forks)
    val (_, started) = SparkSpec.processStarts { try q.processAllAvailable() finally q.stop() }
    val outside = started.map(_._2).filterNot(_.contains("/window_part="))
    assert(outside.isEmpty, s"processes started: ${outside.mkString("; ")}")
    val parts = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("window_part="))
    // append-mode watermark closes only the first window before EOS;
    // at least one window directory must exist with parquet inside
    assert(parts.nonEmpty)
    assert(parts.forall(_.listFiles().exists(_.getName.endsWith(".parquet"))))
  }

  test("wildcard topic routing on the stream matches the batch filter") {
    val broker = tmpDir("graft-broker")
    // destinations are t/<queue>/<i%3>
    publishText(broker, "q1", 0 until 12, i => s"m$i")
    publishText(broker, "q2", 0 until 9, i => s"m$i")
    val subs = Seq("t/q1/>", "t/*/1")
    val q = Pipelines.routeByTopic(
        Pipelines.readQueues(spark, broker, Seq("q1", "q2")), subs)
      .writeStream.format("memory").queryName("routed")
      .option("checkpointLocation", tmpDir("graft-ckpt")).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("routed").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val batch = Pipelines.routeByTopic(
        Pipelines.readQueuesBounded(spark, broker, Seq("q1", "q2")), subs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === batch)
    // t/q1/> matches all 12 q1 messages; t/*/1 matches i%3==1 in both queues
    assert(streamed.count(_._1 == "t/q1/>") === 12)
    assert(streamed.count(_._1 == "t/*/1") === 4 + 3)
  }

  test("session windows: stream result equals batch result") {
    val broker = tmpDir("graft-broker")
    val t0 = 1700000000000000L
    // q1: two bursts separated by 5 min of silence → two sessions;
    // q2: one burst → one session
    GraftQueueBroker.publish(broker, "q1", (0 until 6).map { i =>
      GraftQueueBroker.textMsg(i.toLong, t0 + i * 10L * 1000000L, "t", s"m$i")
    } ++ (0 until 4).map { i =>
      GraftQueueBroker.textMsg(100L + i, t0 + 300L * 1000000L + i * 5L * 1000000L, "t", s"n$i")
    })
    GraftQueueBroker.publish(broker, "q2", (0 until 3).map { i =>
      GraftQueueBroker.textMsg(200L + i, t0 + i * 20L * 1000000L, "t", s"p$i")
    })
    val q = Pipelines.sessionCounts(Pipelines.readQueues(spark, broker, Seq("q1", "q2")))
      .writeStream.format("memory").queryName("sessions")
      .outputMode("complete")
      .option("checkpointLocation", tmpDir("graft-ckpt")).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("sessions").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    val batch = Pipelines.sessionCounts(
      Pipelines.readQueuesBounded(spark, broker, Seq("q1", "q2"))).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    assert(streamed === batch)
    // q1 splits into two sessions (6 + 4 msgs), q2 is one session of 3
    assert(streamed.count(_._1 == "q1") === 2)
    assert(streamed.filter(_._1 == "q1").map(_._4) === Set(6L, 4L))
    assert(streamed.filter(_._1 == "q2").map(_._4) === Set(3L))
  }

  test("table sink is exactly-once under redelivery and batch replay") {
    val broker = tmpDir("graft-broker")
    val table = tmpDir("graft-table")
    def run(ckpt: String): Unit = {
      val recs = Pipelines.mapToTextRecord(Pipelines.readQueues(spark, broker, Seq("q1")))
      val q = Pipelines.tableSink(recs, table)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    publishText(broker, "q1", 0 until 10, i => s"row$i")
    // redelivered copies in the SAME first micro-batch: intra-batch
    // dedup must collapse them, not just the cross-run anti-join
    publishText(broker, "q1", 0 until 10, i => s"row$i")
    run(tmpDir("graft-ckpt"))
    assert(Pipelines.readTable(spark, table).count() === 10)
    // Simulate a consumer losing its offsets (crash without checkpoint):
    // a FRESH checkpoint re-reads the whole spool — full redelivery.
    // The idempotent merge must drop all 10 redelivered rows and append
    // only the 5 new ones.
    publishText(broker, "q1", 10 until 15, i => s"row$i")
    run(tmpDir("graft-ckpt"))
    val got = Pipelines.readTable(spark, table)
    assert(got.count() === 15, "redelivered rows must not duplicate in the table")
    assert(got.select("message_id").distinct().count() === 15)
    assert(got.select("text").collect().map(_.getString(0)).toSet ===
      (0 until 15).map(i => s"row$i").toSet)
  }

  test("pre-kb table layout: sink fails fast before writing; migrateTableToKb unwedges") {
    val broker = tmpDir("graft-broker")
    val modern = tmpDir("graft-table-modern")
    val table = tmpDir("graft-table-prekb")
    def run(tbl: String, ckpt: String): Unit = {
      val recs = Pipelines.mapToTextRecord(Pipelines.readQueues(spark, broker, Seq("q1")))
      val q = Pipelines.tableSink(recs, tbl)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    publishText(broker, "q1", 0 until 6, i => s"row$i")
    run(modern, tmpDir("graft-ckpt"))
    // forge the legacy layout: same rows, queue-only partitioning, no kb
    spark.read.parquet(modern + "/data").drop("kb")
      .write.partitionBy("queue").parquet(table + "/data")

    // resuming over the legacy tree must fail BEFORE anything lands —
    // a degraded append here would mix partition depths and wedge the
    // NEXT trigger with this one already committed
    publishText(broker, "q1", 6 until 10, i => s"row$i")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(table, tmpDir("graft-ckpt"))
    }
    def rootMessages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ rootMessages(t.getCause)
    assert(rootMessages(e).exists(_.contains("pre-kb")), s"unexpected failure: $e")
    val untouched = spark.read.parquet(table + "/data")
    assert(untouched.count() === 6, "failed trigger must not append rows")
    assert(!untouched.columns.contains("kb"), "failed trigger must not mix layouts")

    // the documented one-time rewrite, stream stopped
    Pipelines.migrateTableToKb(spark, table)
    val migrated = spark.read.parquet(table + "/data")
    assert(migrated.columns.contains("kb") && migrated.count() === 6)
    // re-running the migration is a no-op, not corruption
    Pipelines.migrateTableToKb(spark, table)

    // the stream now resumes; full-spool redelivery (fresh checkpoint)
    // must still be exactly-once against the migrated history
    run(table, tmpDir("graft-ckpt"))
    val got = Pipelines.readTable(spark, table)
    assert(got.count() === 10)
    assert(got.select("message_id").distinct().count() === 10)
  }

  test("table sink writes one file per touched (queue, kb) leaf under broadcast and sort-merge anti-joins") {
    // parquet files per leaf directory (queue=…/kb=…) of the table
    def filesPerLeaf(data: java.io.File): Map[String, Int] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(data).filter(_.getName.endsWith(".parquet"))
        .groupBy(f => s"${f.getParentFile.getParentFile.getName}/${f.getParentFile.getName}")
        .map { case (leaf, fs) => leaf -> fs.size }
    }
    def leavesOf(ids: Range): Set[String] =
      spark.range(ids.start, ids.end).crossJoin(spark.range(2).select(
          when(col("id") === 0, "qa").otherwise("qb").as("queue")))
        .select(col("queue"), operators.DedupOps.keyBucket(col("queue"), col("id")).as("kb"))
        .distinct().collect().map(r => s"queue=${r.getString(0)}/kb=${r.getInt(1)}").toSet

    def scenario(): Unit = {
      val broker = tmpDir("graft-broker")
      val table = tmpDir("graft-table")
      val data = new java.io.File(table, "data")
      // each run drains everything available in ONE trigger
      def run(): Unit = {
        val recs = Pipelines.mapToTextRecord(Pipelines.readQueues(spark, broker, Seq("qa", "qb")))
        val q = Pipelines.tableSink(recs, table)
          .option("checkpointLocation", tmpDir("graft-ckpt")).start()
        try q.processAllAvailable() finally q.stop()
        assert(q.recentProgress.count(_.numInputRows > 0) === 1)
      }
      def publish(ids: Range): Unit = Seq("qa", "qb").foreach(qn =>
        publishText(broker, qn, ids, i => s"$qn row $i"))
      def assertOneFilePerTouchedLeaf(before: Map[String, Int], ids: Range): Unit = {
        val after = filesPerLeaf(data)
        val added = after.map { case (leaf, n) => leaf -> (n - before.getOrElse(leaf, 0)) }
          .filter(_._2 > 0)
        assert(added.values.forall(_ == 1), s"leaves written by more than one task: $added")
        assert(added.keySet === leavesOf(ids))
      }

      // first trigger: no history, so the anti-join is against nothing
      publish(0 until 300)
      run()
      assertOneFilePerTouchedLeaf(Map.empty, 0 until 300)
      // fresh checkpoint = full redelivery of the old rows plus 300 new
      // ones per queue: the anti-join now reads real history
      publish(300 until 600)
      val before = filesPerLeaf(data)
      run()
      assertOneFilePerTouchedLeaf(before, 300 until 600)
      // and a full replay from a fresh checkpoint lands nothing
      val settled = filesPerLeaf(data)
      run()
      assert(filesPerLeaf(data) === settled)
      val got = Pipelines.readTable(spark, table)
      assert(got.count() === 1200)
      assert(got.select("queue", "message_id").distinct().count() === 1200)
    }

    scenario()
    // no broadcast: the history side of the anti-join plans a
    // sort-merge join that shuffles by (queue, kb, message_id); with
    // coalescing off that shuffle keeps all its partitions, as it does
    // for a batch too large for AQE to fold into one task
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try scenario()
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("table sink runs a fixed number of Spark jobs per trigger over existing history") {
    val broker = tmpDir("graft-broker")
    val table = tmpDir("graft-table")
    val ckpt = tmpDir("graft-ckpt")
    def publish(ids: Range): Unit = Seq("qa", "qb").foreach(qn =>
      publishText(broker, qn, ids, i => s"$qn row $i"))
    // per (streaming query id, batch id): job starts, and whether a job
    // scans files (a FileScanRDD — the source is not one); the listener
    // bus is asynchronous, so a marker job in its own group fences the count
    val jobsOf = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val scansOf = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          Option(p.getProperty("spark.jobGroup.id")).foreach(jobsOf.merge(_, 1, _ + _))
          Option(p.getProperty("sql.streaming.queryId")).foreach { q =>
            val trigger = s"$q/${p.getProperty("streaming.sql.batchId")}"
            jobsOf.merge(trigger, 1, _ + _)
            if (e.stageInfos.exists(_.rddInfos.exists(_.name == "FileScanRDD")))
              scansOf.merge(trigger, 1, _ + _)
            Option(p.getProperty("spark.job.description")).foreach(descriptions.add)
          }
        }
    }
    def query(): org.apache.spark.sql.streaming.StreamingQuery = {
      val recs = Pipelines.mapToTextRecord(Pipelines.readQueues(spark, broker, Seq("qa", "qb")))
      Pipelines.tableSink(recs, table).option("checkpointLocation", ckpt).start()
    }
    // the (queue, kb) leaves a range of ids touches on both queues
    def leavesOf(ids: Range): Set[(String, Int)] = Seq("qa", "qb").flatMap(qn =>
      spark.range(ids.start, ids.end)
        .select(operators.DedupOps.keyBucket(lit(qn), col("id"))).distinct()
        .collect().map(r => qn -> r.getInt(0))).toSet
    publish(0 until 300)
    val first = query()
    try first.processAllAvailable() finally first.stop()
    // the second trigger touches only leaves the first one held, so it
    // has nothing unseen to read
    assert(leavesOf(1000 until 1100).subsetOf(leavesOf(300 until 1000)))
    publish(300 until 1000)
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = query()
      try {
        q.processAllAvailable()
        publish(1000 until 1100)
        q.processAllAvailable()
      } finally q.stop()
      val triggers = q.recentProgress.filter(_.numInputRows > 0).map(p => s"${q.id}/${p.batchId}")
      assert(triggers.length === 2)
      val marker = s"graft-job-fence-${java.util.UUID.randomUUID()}"
      spark.sparkContext.setJobGroup(marker, "listener fence")
      try spark.range(1).collect() finally spark.sparkContext.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!jobsOf.containsKey(marker) && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(jobsOf.containsKey(marker), "listener fence never arrived")
      // the (queue, kb)-partitioned pass as measured; more jobs means a
      // trigger reads, shuffles or lists the batch or the table again.
      // A new query's first trigger reads the touched history once ...
      assert(jobsOf.getOrDefault(triggers(0), 0) === 5)
      assert(scansOf.getOrDefault(triggers(0), 0) === 1)
      // ... and a later trigger of the same query reads no file it has
      // already seen (here: no file at all), one job fewer
      assert(jobsOf.getOrDefault(triggers(1), 0) === 4)
      assert(scansOf.getOrDefault(triggers(1), 0) === 0, "a later trigger re-read the table")
      // the touched leaves are listed on the driver, never in a job
      assert(SparkSpec.listingJobs(descriptions.asScala).isEmpty,
        s"a trigger ran a listing job: ${descriptions.asScala.mkString("; ")}")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(Pipelines.readTable(spark, table).count() === 2200)
  }

  test("streaming vector-index ingestion: appended lists equal the builder's, replay is a no-op") {
    val broker = tmpDir("graft-broker")
    val sf = SparkSpec.sf
    // fresh full build = the ground truth assignment
    val idxFull = tmpDir("graft-vecidx-full")
    operators.VectorOps.ivfBuildIndex(spark, sf, idxFull)
    val fullInv = spark.read.parquet(idxFull + "/invlist")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // same quantizer with a third of the corpus missing — the slice
    // arrives as embedding messages instead
    val idxPart = tmpDir("graft-vecidx-part")
    SinkBench.carveIndex(spark, idxFull, idxPart, id => pmod(id, lit(3)) =!= 0)
    val slice = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") >= operators.VectorOps.nQueries &&
        pmod(col("vec_id"), lit(3)) === 0)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    // publish twice: redelivered copies must not double-index
    (1 to 2).foreach { _ =>
      GraftQueueBroker.publish(broker, "vecs", slice.map { case (id, emb) =>
        GraftQueueBroker.textMsg(id, 1700000000000000L + id * 1000000L,
          "t/vecs/0", emb.mkString(","))
      })
    }
    // corrupt messages interleaved with the real slice: an unparseable
    // token (cast → null element) and a wrong-width vector — the
    // sink's codec guard must drop both without wedging the stream
    // (the appended ≡ fullInv assertion below proves neither indexed)
    GraftQueueBroker.publish(broker, "vecs", Seq(
      GraftQueueBroker.textMsg(900000001L, 1700000000000000L, "t/vecs/0",
        "1.0,not-a-float,3.0"),
      GraftQueueBroker.textMsg(900000002L, 1700000000000000L, "t/vecs/0",
        "0.25,0.75")))
    def run(ckpt: String): Unit = {
      val msgs = Pipelines.readQueues(spark, broker, Seq("vecs"),
        maxRecordsPerTrigger = Some(40))
      val q = Pipelines.vectorIndexSink(msgs, idxPart)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    run(tmpDir("graft-ckpt"))
    val appended = operators.Snapshot.read(spark, idxPart + "/invlist")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(appended === fullInv,
      "streamed appends must reproduce the builder's assignment under the frozen quantizer")
    assert(operators.Snapshot.read(spark, idxPart + "/invlist").count() === fullInv.size,
      "redelivered copies must not double-index")
    // full-spool replay from a fresh checkpoint: membership guard holds
    run(tmpDir("graft-ckpt"))
    assert(operators.Snapshot.read(spark, idxPart + "/invlist").count() === fullInv.size)
    // and the streamed index SERVES identically to the fresh build
    val qFull = operators.VectorOps.annIvfQuery(spark, sf, idxFull)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val qPart = operators.VectorOps.annIvfQuery(spark, sf, idxPart)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(qPart === qFull)
  }

  test("streaming IVF-PQ ingestion (codebooks = true): appended codes equal " +
    "the builder's, replay is a no-op, serving identical") {
    val broker = tmpDir("graft-broker")
    val sf = SparkSpec.sf
    // fresh full IVF-PQ build = ground-truth coarse assignment + codes
    val idxFull = tmpDir("graft-pqidx-full")
    operators.VectorOps.ivfpqBuildIndex(spark, sf, idxFull)
    val fullCodes = operators.Snapshot.read(spark, idxFull + "/codes")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet

    // same frozen quantizer AND codebooks with a third of the corpus
    // missing — the slice arrives as embedding messages instead
    val idxPart = tmpDir("graft-pqidx-part")
    SinkBench.carveIndex(spark, idxFull, idxPart, id => pmod(id, lit(3)) =!= 0)
    val slice = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") >= operators.VectorOps.nQueries &&
        pmod(col("vec_id"), lit(3)) === 0)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    // publish twice: redelivered copies must not double-encode
    (1 to 2).foreach { _ =>
      GraftQueueBroker.publish(broker, "vecs", slice.map { case (id, emb) =>
        GraftQueueBroker.textMsg(id, 1700000000000000L + id * 1000000L,
          "t/vecs/0", emb.mkString(","))
      })
    }
    def run(ckpt: String): Unit = {
      val msgs = Pipelines.readQueues(spark, broker, Seq("vecs"),
        maxRecordsPerTrigger = Some(40))
      val q = Pipelines.vectorIndexSink(msgs, idxPart, codebooks = true)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    run(tmpDir("graft-ckpt"))
    val appended = operators.Snapshot.read(spark, idxPart + "/codes")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(appended === fullCodes,
      "streamed appends must reproduce the builder's codes under the frozen books")
    assert(operators.Snapshot.read(spark, idxPart + "/codes").count() === fullCodes.size,
      "redelivered copies must not double-encode")
    // full-spool replay from a fresh checkpoint: membership guard holds
    run(tmpDir("graft-ckpt"))
    assert(operators.Snapshot.read(spark, idxPart + "/codes").count() === fullCodes.size)
    // and the streamed IVF-PQ index SERVES identically to the build
    val qFull = operators.VectorOps.annIvfPqQuery(spark, sf, idxFull)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val qPart = operators.VectorOps.annIvfPqQuery(spark, sf, idxPart)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(qPart === qFull)
  }

  test("a vector index missing its ids or diststats store fails naming it: " +
    "ivfAppend, ivfDriftReport and the drift-logging sink neither derive nor skip") {
    val sf = SparkSpec.sf
    val built = tmpDir("graft-vecidx-missing")
    operators.VectorOps.ivfBuildIndex(spark, sf, built)
    val batch = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") >= operators.VectorOps.nQueries &&
        pmod(col("vec_id"), lit(7)) === 0)
      .select("vec_id", "embedding")
    val broker = tmpDir("graft-broker")
    GraftQueueBroker.publish(broker, "vecs", batch.collect().map { r =>
      GraftQueueBroker.textMsg(r.getLong(0), 1700000000000000L + r.getLong(0) * 1000000L,
        "t/vecs/0", r.getSeq[Float](1).mkString(","))
    })
    def sink(idx: String): Unit = {
      val q = Pipelines.vectorIndexSink(Pipelines.readQueues(spark, broker, Seq("vecs")),
        idx, driftEvery = 1).option("checkpointLocation", tmpDir("graft-ckpt")).start()
      try q.processAllAvailable() finally q.stop()
    }
    Seq("ids", "diststats").foreach { store =>
      val idx = tmpDir("graft-vecidx-missing")
      val root = java.nio.file.Paths.get(built)
      java.nio.file.Files.walk(root).forEach { p =>
        val dst = java.nio.file.Paths.get(idx).resolve(root.relativize(p))
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
        else java.nio.file.Files.copy(p, dst)
      }
      val missing = s"$idx/$store"
      SparkSpec.deleteDir(missing)
      if (store == "ids")
        SparkSpec.assertFailsNaming(missing)(operators.VectorOps.ivfAppend(spark, batch, idx))
      SparkSpec.assertFailsNaming(missing) {
        operators.VectorOps.ivfDriftReport(spark, idx, batch).collect()
      }
      SparkSpec.assertFailsNaming(missing)(sink(idx))
      assert(!new java.io.File(missing).exists, s"$store must not be derived")
    }
  }

  test("vector-index sink drift log: clean arrivals record clean reports, shifted ones flag") {
    val broker = tmpDir("graft-broker")
    val sf = SparkSpec.sf
    val idx = tmpDir("graft-vecidx-drift")
    operators.VectorOps.ivfBuildIndex(spark, sf, idx)

    val slice = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") >= operators.VectorOps.nQueries &&
        pmod(col("vec_id"), lit(5)) === 1)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    // clean publish, then an affine-shifted publish under fresh ids
    GraftQueueBroker.publish(broker, "vecs", slice.map { case (id, emb) =>
      GraftQueueBroker.textMsg(id, 1700000000000000L + id * 1000000L,
        "t/vecs/0", emb.mkString(","))
    })
    GraftQueueBroker.publish(broker, "vecs", slice.map { case (id, emb) =>
      GraftQueueBroker.textMsg(10000000L + id, 1700000000000000L + id * 1000000L,
        "t/vecs/0", emb.map(x => x * 5.0f + 3.0f).mkString(","))
    })

    val msgs = Pipelines.readQueues(spark, broker, Seq("vecs"),
      maxRecordsPerTrigger = Some(slice.length))
    val q = Pipelines.vectorIndexSink(msgs, idx, driftEvery = 1)
      .option("checkpointLocation", tmpDir("graft-ckpt")).start()
    try q.processAllAvailable() finally q.stop()

    val log = Pipelines.driftLog(spark, idx).collect()
    assert(log.length >= 2, "every trigger must log a report at driftEvery=1")
    assert(log.map(_.getAs[Long]("batch_id")).distinct.length === log.length,
      "driftLog must collapse replayed batch_ids to one row")
    val clean = log.filter(!_.getAs[Boolean]("drifted"))
    val flagged = log.filter(_.getAs[Boolean]("drifted"))
    assert(clean.nonEmpty, "the in-distribution trigger must pass")
    assert(flagged.nonEmpty, "the shifted trigger must flag a rebuild")
    assert(flagged.forall(_.getAs[Double]("frac_beyond_p95") > 0.5))
  }

  /** The full drift→rebuild lifecycle through [[Pipelines
    * .vectorIndexSink]], ONE checkpoint end to end — the vector
    * symmetry of the minhash drift-rebuild cycle spec: (1)
    * out-of-distribution arrivals append against the frozen quantizer
    * and the drift log FLAGS; (2) the operator answers with the
    * snapshot-isolated rebuild over corpus + accepted arrivals
    * ([[graft.operators.VectorOps.ivfBuildIndexFrom]] /
    * `ivfpqBuildIndexFrom`); (3) subsequent triggers on the SAME
    * checkpoint append against the NEW quantizer, their drift report
    * goes clean, and the streamed store is bit-identical to a batch
    * build+append over the same data. */
  private def vectorDriftRebuildCycle(codebooks: Boolean): Unit = {
    val broker = tmpDir("graft-broker")
    val sf = SparkSpec.sf
    val idx = tmpDir(s"graft-vecidx-cycle$codebooks")
    val ckpt = tmpDir("graft-ckpt")
    if (codebooks) operators.VectorOps.ivfpqBuildIndex(spark, sf, idx)
    else operators.VectorOps.ivfBuildIndex(spark, sf, idx)

    // OOD arrivals: a TIGHT planted cluster far from the corpus (one
    // base point + deterministic per-id jitter). Tightness is load-
    // bearing: a diverse shifted COPY of the corpus keeps a 5x-scaled
    // residual spread, so ~1/3 of it sits beyond the pooled p95 even
    // after its own rebuild (measured — the first cut of this spec
    // never went clean); a tight cluster is far from every OLD
    // centroid (flags) and earns its own centroid on rebuild with
    // jitter-sized residuals (clean).
    val dim = Tables(spark, sf, "embeddings")
      .select(size(col("embedding"))).head.getInt(0)
    val nArr = 38
    def planted(id: Long): Array[Float] =
      Array.tabulate(dim)(i => 2.0f + 0.01f * (((id * 31 + i) % 7) - 3))
    def publish(base: Long): Unit =
      GraftQueueBroker.publish(broker, "vecs", (1 to nArr).map { j =>
        val id = base + j
        GraftQueueBroker.textMsg(id, 1700000000000000L + id, "t/vecs/0",
          planted(id).mkString(",")) })
    def drain(): Unit = {
      val msgs = Pipelines.readQueues(spark, broker, Seq("vecs"),
        maxRecordsPerTrigger = Some(nArr))
      val q = Pipelines
        .vectorIndexSink(msgs, idx, driftEvery = 1, codebooks = codebooks)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }

    // phase 1: OOD arrivals fold in under the frozen quantizer; FLAG
    publish(20000000L)
    drain()
    assert(Pipelines.driftLog(spark, idx).collect()
      .exists(_.getAs[Boolean]("drifted")),
      "out-of-distribution trigger must flag the rebuild")

    // phase 2: the scheduled rebuild — corpus + accepted arrivals —
    // and the SAME deterministic build into a reference dir (the
    // streamed lifecycle must stay bit-identical to the batch one)
    import spark.implicits._
    def arrivalsDf(base: Long) = (1 to nArr)
      .map { j => (base + j, planted(base + j)) }
      .toDF("vec_id", "embedding")
    val arrivals1 = arrivalsDf(20000000L)
    val union = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") >= operators.VectorOps.nQueries)
      .select("vec_id", "embedding")
      .unionAll(arrivals1)
    val idxRef = tmpDir(s"graft-vecidx-cycleref$codebooks")
    for (d <- Seq(idx, idxRef)) {
      if (codebooks) operators.VectorOps.ivfpqBuildIndexFrom(spark, union, d)
      else operators.VectorOps.ivfBuildIndexFrom(spark, union, d)
    }

    // phase 3: post-rebuild arrivals (the now-in-baseline shifted
    // distribution, fresh ids) on the SAME checkpoint
    publish(40000000L)
    drain()
    val log = Pipelines.driftLog(spark, idx).collect()
      .sortBy(_.getAs[Long]("batch_id"))
    assert(!log.last.getAs[Boolean]("drifted"),
      "post-rebuild in-distribution trigger must record clean — drift cleared")
    assert(log.exists(_.getAs[Boolean]("drifted")),
      "the flagged pre-rebuild report remains in the log history")
    if (codebooks)
      assert(log.forall(r => !r.isNullAt(r.fieldIndex("frac_beyond_p95_recon"))),
        "codebooks-mode driftlog rows must carry the ADC-residual signal")

    // the streamed appends against the NEW quantizer equal the batch
    // append API on the reference index, row for row
    val arrivals2 = arrivalsDf(40000000L)
    if (codebooks) operators.VectorOps.ivfpqAppend(spark, arrivals2, idxRef)
    else operators.VectorOps.ivfAppend(spark, arrivals2, idxRef)
    val listTable = if (codebooks) "codes" else "invlist"
    def rows(d: String): Set[String] = {
      val df = operators.Snapshot.read(spark, s"$d/$listTable")
      df.select(df.columns.sorted.map(col).toSeq: _*)
        .collect().map(_.mkString("|")).toSet
    }
    assert(rows(idx) === rows(idxRef),
      "streamed lifecycle must equal the batch build+append bit-for-bit")

    // and the rebuilt index serves
    val served =
      if (codebooks) operators.VectorOps.annIvfPqQuery(spark, sf, idx)
      else operators.VectorOps.annIvfQuery(spark, sf, idx)
    assert(served.count() > 0)
  }

  test("vector-index sink drift-rebuild cycle: flag -> rebuild -> new " +
    "quantizer appends -> drift clears (IVF)") {
    vectorDriftRebuildCycle(codebooks = false)
  }

  test("vector-index sink drift-rebuild cycle: flag -> rebuild -> new " +
    "quantizer appends -> drift clears (IVF-PQ codebooks mode)") {
    vectorDriftRebuildCycle(codebooks = true)
  }

  test("streaming incremental dedup: per-trigger index probe equals the batch probe") {
    val broker = tmpDir("graft-broker")
    val table = tmpDir("graft-dedup-table")
    val idx = tmpDir("graft-mhidx-stream")
    val sf = SparkSpec.sf
    operators.DedupOps.incrementalIndexBuild(spark, sf, idx)

    // the "incoming" slice streams in as messages (message_id = doc_id)
    val incoming = Tables(spark, sf, "documents")
      .filter(pmod(col("doc_id"), lit(10)) === 7)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    GraftQueueBroker.publish(broker, "docs", incoming.map { case (id, text) =>
      GraftQueueBroker.textMsg(id, 1700000000000000L + id * 1000000L, "t/docs/0", text)
    })

    def run(ckpt: String): Unit = {
      // small trigger cap: the slice must span several micro-batches so
      // cross-trigger pairs prove the index probe (not batch locality)
      val msgs = Pipelines.readQueues(spark, broker, Seq("docs"),
        maxRecordsPerTrigger = Some(2))
      val q = Pipelines.incrementalDedupSink(msgs, idx, table)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    run(tmpDir("graft-ckpt"))

    def tablePairs() = spark.read.parquet(table + "/data")
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard"))).toSet
    val batch = operators.DedupOps
      .dedupIncremental(spark, sf, idx, exactRecallUnion = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val streamed = tablePairs()
    assert(streamed === batch,
      "stream-probed pairs must equal the batch pure-LSH probe")
    assert(spark.read.parquet(table + "/data").count() === streamed.size,
      "cross-trigger duplicate pairs must be merged away")

    // full replay from a fresh checkpoint (lost offsets): every pair is
    // re-derived and must anti-join away — the table stays fixed
    run(tmpDir("graft-ckpt"))
    assert(tablePairs() === batch)
    assert(spark.read.parquet(table + "/data").count() === streamed.size)
  }

  /** The signature-sink ingestion contract on one family: an index
    * prebuilt over the docs below `cut`, the rest (of container tag
    * `tag` mod 8 only, when given) streamed in small triggers, so
    * cross-trigger pairs must go through the INDEX, not batch
    * locality. Stream-probed pairs must equal the batch operator's
    * pairs touching the stream (prebuilt-prebuilt pairs are never
    * probed), at least one prebuilt×streamed pair must exist, and a
    * full replay from a fresh checkpoint must re-derive pairs that
    * anti-join away without re-folding already-indexed docs. */
  private def sigSinkIngestion(family: operators.MultimodalOps.PhashFamily, sf: String,
                               cut: Long, tag: Option[Long], perTrigger: Long,
                               batchPairs: => org.apache.spark.sql.DataFrame,
                               members: String): Unit = {
    val broker = tmpDir("graft-broker")
    val table = tmpDir("graft-sig-table")
    val idx = tmpDir("graft-sigidx-stream")
    operators.MultimodalOps.phashIndexBuild(spark, family, sf, idx, col("doc_id") < cut)
    val incoming = Tables(spark, sf, "documents")
      .filter(col("doc_id") >= cut &&
        tag.fold(lit(true))(t => pmod(col("doc_id"), lit(8L)) === t))
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    GraftQueueBroker.publish(broker, "docs", incoming.map { case (id, text) =>
      GraftQueueBroker.textMsg(id, 1700000000000000L + id * 1000000L, "t/docs/0", text)
    })
    def run(ckpt: String): Unit = {
      val msgs = Pipelines.readQueues(spark, broker, Seq("docs"),
        maxRecordsPerTrigger = Some(perTrigger))
      val q = Pipelines.phashIndexSink(msgs, family, idx, table)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    run(tmpDir("graft-ckpt"))
    // every pair column is a long: (doc_a, doc_b, hamming) or (doc_a,
    // doc_b, frames_matched, min_hamming)
    val batchDf = batchPairs
    def longs(df: org.apache.spark.sql.DataFrame) =
      df.select(batchDf.columns.map(col).toSeq: _*).collect()
        .map(r => r.toSeq.map(_.asInstanceOf[Long])).toSet
    def tablePairs() = longs(spark.read.parquet(table + "/data"))
    // the ingestion contract: every batch pair TOUCHING the streamed
    // slice (prebuilt-prebuilt pairs were never probed)
    val batch = longs(batchDf).filter(p => p(0) >= cut || p(1) >= cut)
    val streamed = tablePairs()
    assert(batch.nonEmpty && streamed === batch,
      "stream-probed pairs must equal the batch operator's touching pairs")
    assert(spark.read.parquet(table + "/data").count() === streamed.size,
      "duplicate pairs must be merged away")
    assert(streamed.exists(p => p(0) < cut && p(1) >= cut),
      "expected a pair between a prebuilt and a streamed doc (index path)")
    val idsBefore = operators.Snapshot.read(spark, idx + "/ids").count()
    // full replay from a fresh checkpoint: pairs re-derive and anti-join
    // away; already-indexed docs must not re-fold
    run(tmpDir("graft-ckpt"))
    assert(tablePairs() === batch)
    assert(spark.read.parquet(table + "/data").count() === streamed.size)
    assert(operators.Snapshot.read(spark, idx + "/ids").count() === idsBefore,
      s"replay must not re-fold already-indexed $members")
  }

  test("streaming phash ingestion: stream-probed image pairs equal the " +
    "batch operator on pairs touching the stream, replay is a no-op") {
    // every tag streams; planted pairs like (98 prebuilt, 138 streamed)
    // cross the cut
    sigSinkIngestion(operators.MultimodalOps.imagePhashFamily, SparkSpec.sf,
      cut = 100L, tag = None, perTrigger = 100,
      operators.MultimodalOps.imagePhash(spark, SparkSpec.sf), "docs")
  }

  test("pre-kb pair table: an index sink fails fast before appending a pair") {
    val broker = tmpDir("graft-broker")
    val table = tmpDir("graft-phash-prekb")
    val idx = tmpDir("graft-phidx-prekb")
    val sf = SparkSpec.sf
    val cut = 100L
    operators.MultimodalOps.phashIndexBuild(spark,
      operators.MultimodalOps.imagePhashFamily, sf, idx, col("doc_id") < cut)
    val incoming = Tables(spark, sf, "documents")
      .filter(col("doc_id") >= cut).select("doc_id", "text").collect()
    GraftQueueBroker.publish(broker, "docs", incoming.map { r =>
      GraftQueueBroker.textMsg(r.getLong(0), 1700000000000000L + r.getLong(0) * 1000000L,
        "t/docs/0", r.getString(1))
    })
    // forge a pair table written before the kb layout: no partitioning
    import spark.implicits._
    Seq((1L, 2L, 3L), (4L, 5L, 6L)).toDF("doc_a", "doc_b", "hamming")
      .write.parquet(table + "/data")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = Pipelines.phashIndexSink(Pipelines.readQueues(spark, broker, Seq("docs")),
        operators.MultimodalOps.imagePhashFamily, idx, table)
        .option("checkpointLocation", tmpDir("graft-ckpt")).start()
      try q.processAllAvailable() finally q.stop()
    }
    def rootMessages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ rootMessages(t.getCause)
    assert(rootMessages(e).exists(_.contains("pre-kb")), s"unexpected failure: $e")
    val untouched = spark.read.parquet(table + "/data")
    assert(untouched.count() === 2, "failed trigger must not append pairs")
    assert(!untouched.columns.contains("kb"), "failed trigger must not mix layouts")
  }

  test("streaming audio-phash ingestion: stream-probed audio pairs equal " +
    "the batch operator on pairs touching the stream, replay is a no-op") {
    // group (19,59) pre-builds whole; (99,139) crosses the cut. Only the
    // WAV tag streams — other tags never sign
    sigSinkIngestion(operators.MultimodalOps.audioPhashFamily, SparkSpec.sf,
      cut = 100L, tag = Some(3L), perTrigger = 10,
      operators.MultimodalOps.audioPhash(spark, SparkSpec.sf), "audios")
  }

  test("signature-index population markers: a stale or missing marker fails " +
    "loud with a rebuild message, and families never cross-probe") {
    import operators.MultimodalOps.{audioPhashFamily, imagePhashFamily, phashIndexBuild,
      phashProbeIndex, phashRebuildIndex, videoPhashFamily}
    val sf = SparkSpec.sf
    val idx = tmpDir("graft-phidx-marker")
    phashIndexBuild(spark, imagePhashFamily, sf, idx)
    // healthy: the probe accepts the index it just built
    val sigs = operators.MultimodalOps.imagePhashSigs(spark, sf).limit(1)
    phashProbeIndex(spark, imagePhashFamily, sigs, idx).count()
    // an image index is NOT an audio index: the same layout under the
    // wrong population marker must fail loud, not silently miss pairs
    val crossEx = intercept[IllegalArgumentException] {
      phashProbeIndex(spark, audioPhashFamily, sigs, idx).count()
    }
    assert(crossEx.getMessage.contains("re-run"), crossEx.getMessage)
    // nor is a video index an image index, and the reverse: a constructed
    // (doc_id, slot, sig) frame builds a healthy video index
    import spark.implicits._
    val vidx = tmpDir("graft-vphidx-marker")
    val vsigs = Seq((1L, 0, 5L), (2L, 0, 7L), (2L, 1, 9L)).toDF("doc_id", "slot", "sig")
    phashRebuildIndex(spark, videoPhashFamily, vsigs, vidx)
    phashProbeIndex(spark, videoPhashFamily, vsigs, vidx).count()
    val videoAsImage = intercept[IllegalArgumentException] {
      phashProbeIndex(spark, imagePhashFamily, sigs, vidx).count()
    }
    assert(videoAsImage.getMessage.contains("re-run"), videoAsImage.getMessage)
    val imageAsVideo = intercept[IllegalArgumentException] {
      phashProbeIndex(spark, videoPhashFamily, vsigs, idx).count()
    }
    assert(imageAsVideo.getMessage.contains("re-run"), imageAsVideo.getMessage)
    // a marker-less index (pre-r17 build: predates the GIF widening's
    // gate) must fail loud with the rebuild hint — for every family
    def dropMarker(i: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(s"$i/_POPULATION")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
    }
    dropMarker(idx)
    val staleEx = intercept[IllegalArgumentException] {
      phashProbeIndex(spark, imagePhashFamily, sigs, idx).count()
    }
    assert(staleEx.getMessage.contains("pre-marker") &&
      staleEx.getMessage.contains("re-run phashRebuildIndex"), staleEx.getMessage)
    dropMarker(vidx)
    val videoStale = intercept[IllegalArgumentException] {
      phashProbeIndex(spark, videoPhashFamily, vsigs, vidx).count()
    }
    assert(videoStale.getMessage.contains("pre-marker") &&
      videoStale.getMessage.contains("re-run phashRebuildIndex"), videoStale.getMessage)
    // a rebuild under the current signer heals it
    phashIndexBuild(spark, imagePhashFamily, sf, idx)
    phashProbeIndex(spark, imagePhashFamily, sigs, idx).count()
  }

  test("streaming video-phash ingestion: stream-probed video pairs equal " +
    "the batch operator on pairs touching the stream, replay is a no-op") {
    // sf0.01: the planted video classes (mod 320) need ≥ 199 docs
    assume(SparkSpec.sf01Available, s"${SparkSpec.sf01} absent — skipping")
    // group 0's planted pair (70, 198) crosses the cut. Only the video
    // tag streams: other tags never sign, and the full sf0.01 backlog
    // would stretch the trigger count for nothing. Pairs must match
    // with IDENTICAL frames_matched/min_hamming (a video's slots all
    // travel with its payload, so pair aggregates are complete in the
    // trigger that sees the second member)
    sigSinkIngestion(operators.MultimodalOps.videoPhashFamily, SparkSpec.sf01,
      cut = 100L, tag = Some(6L), perTrigger = 20,
      operators.MultimodalOps.videoPhash(spark, SparkSpec.sf01), "videos")
  }

  test("dedup sink drift log: in-vocabulary triggers record clean, novel-vocabulary ones flag") {
    val broker = tmpDir("graft-broker")
    val table = tmpDir("graft-dedup-drift-table")
    val idx = tmpDir("graft-mhidx-drift-sink")
    val sf = SparkSpec.sf
    operators.DedupOps.incrementalIndexBuild(spark, sf, idx)

    // one in-distribution publish (docs from the corpus), then one of
    // pure novel vocabulary — the rebuildIndex fixture's shape
    val inVocab = Tables(spark, sf, "documents")
      .filter(pmod(col("doc_id"), lit(10)) === 4)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    GraftQueueBroker.publish(broker, "docs", inVocab.map { case (id, text) =>
      GraftQueueBroker.textMsg(id, 1700000000000000L + id * 1000000L, "t/docs/0", text)
    })
    GraftQueueBroker.publish(broker, "docs", inVocab.map { case (id, _) =>
      GraftQueueBroker.textMsg(40000000L + id, 1700000000000000L + id * 1000000L,
        "t/docs/0", (1 to 40).map(j => s"wqzv${id}x$j").mkString(" "))
    })

    val msgs = Pipelines.readQueues(spark, broker, Seq("docs"),
      maxRecordsPerTrigger = Some(inVocab.length))
    val q = Pipelines.incrementalDedupSink(msgs, idx, table, driftEvery = 1)
      .option("checkpointLocation", tmpDir("graft-ckpt")).start()
    try q.processAllAvailable() finally q.stop()

    // shared driftlog row shape with the vector sink: batch_id-tagged
    // 1-row reports, read deduped through the same accessor
    val log = Pipelines.driftLog(spark, idx).collect()
    assert(log.length >= 2, "every trigger must log a report at driftEvery=1")
    assert(log.map(_.getAs[Long]("batch_id")).distinct.length === log.length)
    val clean = log.filter(!_.getAs[Boolean]("drifted"))
    val flagged = log.filter(_.getAs[Boolean]("drifted"))
    assert(clean.nonEmpty, "the in-vocabulary trigger must pass")
    assert(flagged.nonEmpty, "the novel-vocabulary trigger must flag a rebuild")
    assert(flagged.forall(_.getAs[Double]("frac_beyond_univ") > 0.5))
  }

  test("drift-rebuild cycle through the live sink: flag -> rebuild -> " +
    "new vocabulary pairs -> drift clears") {
    // the full lifecycle loop, driven end to end through the streaming
    // sink: novel-vocabulary arrivals are BLIND to the frozen universe
    // (they fold in with empty shingle sets — near-dups among them
    // cannot pair), the drift log flags it, the operator runs the
    // scheduled rebuild over corpus + arrivals, and the NEXT batches
    // pair against the new vocabulary while the drift log goes clean.
    val broker = tmpDir("graft-broker")
    val table = tmpDir("graft-drift-cycle-table")
    val idx = tmpDir("graft-mhidx-drift-cycle")
    val ckpt = tmpDir("graft-ckpt")
    val sf = SparkSpec.sf
    operators.DedupOps.incrementalIndexBuild(spark, sf, idx)

    def novelDoc(last: String) =
      ((1 to 39).map(j => s"qzvnovel$j") :+ last).mkString(" ")
    // A and B share 35 of 41 word-3-grams (one word differs): Jaccard
    // 0.85 — a true near-dup pair, invisible to the frozen universe
    val (idA, idB, idC) = (50000001L, 50000002L, 50000003L)
    val textA = novelDoc("qzvnovel40")
    val textB = novelDoc("qzvnovel40x")
    val textC = novelDoc("qzvnovel40y")

    def publish(id: Long, text: String): Unit =
      GraftQueueBroker.publish(broker, "docs", Seq(
        GraftQueueBroker.textMsg(id, 1700000000000000L + id, "t/docs/0", text)))
    def drain(): Unit = {
      val msgs = Pipelines.readQueues(spark, broker, Seq("docs"),
        maxRecordsPerTrigger = Some(2))
      val q = Pipelines.incrementalDedupSink(msgs, idx, table, driftEvery = 1)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    def tablePairs(): Set[(Long, Long)] =
      // phase 1 legitimately writes ZERO pairs — the table dir then has
      // no readable footer yet
      try spark.read.parquet(table + "/data")
        .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      catch { case _: org.apache.spark.sql.AnalysisException => Set.empty }

    // phase 1: the novel near-dup pair arrives — folded but NOT paired
    // (the measured blind spot), and the drift report flags it
    publish(idA, textA); publish(idB, textB)
    drain()
    val log1 = Pipelines.driftLog(spark, idx).collect()
    assert(log1.exists(_.getAs[Boolean]("drifted")),
      "novel-vocabulary trigger must flag the rebuild")
    assert(!tablePairs().contains((idA, idB)),
      "pre-rebuild, the frozen universe cannot see the novel pair")

    // phase 2: the operator answers the flag — full rebuild over
    // corpus + accepted arrivals (the drift report's contract)
    import spark.implicits._
    val arrivals = Seq((idA, textA), (idB, textB)).toDF("doc_id", "text")
    operators.DedupOps.rebuildIndex(spark,
      Tables(spark, sf, "documents").select("doc_id", "text").union(arrivals), idx)

    // phase 3: a third near-dup arrives post-rebuild on the SAME
    // checkpoint — it pairs against the re-vocabularied index, and its
    // drift report is clean
    publish(idC, textC)
    drain()
    val pairs = tablePairs()
    assert(pairs.contains((idA, idC)) && pairs.contains((idB, idC)),
      s"post-rebuild arrivals must pair on the new vocabulary, got $pairs")
    val log2 = Pipelines.driftLog(spark, idx).collect()
      .sortBy(_.getAs[Long]("batch_id"))
    assert(!log2.last.getAs[Boolean]("drifted"),
      "post-rebuild in-vocabulary trigger must record clean — the drift cleared")
    assert(log2.exists(_.getAs[Boolean]("drifted")),
      "the flagged pre-rebuild report remains in the log history")
  }

  test("streaming dedup pairs two brand-new docs across triggers (update-before-probe)") {
    import org.apache.spark.sql.functions.col
    val sf = SparkSpec.sf
    // adaptive target: the corpus's strongest near-dup pair — neither
    // side is indexed, both arrive on the stream in SEPARATE triggers
    val best = operators.DedupOps.ngramJaccard(spark, sf)
      .orderBy(col("jaccard").desc, col("doc_a").asc).limit(1)
      .collect().head
    val (a0, b0) = (best.getLong(0), best.getLong(1))
    val idx = tmpDir("graft-mhidx-newdocs")
    operators.DedupOps.incrementalIndexBuild(spark, sf, idx,
      docFilter = !col("doc_id").isin(a0, b0))

    val broker = tmpDir("graft-broker")
    val table = tmpDir("graft-dedup-table2")
    val texts = Tables(spark, sf, "documents")
      .filter(col("doc_id").isin(a0, b0))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    GraftQueueBroker.publish(broker, "docs", Seq(a0, b0).map { id =>
      GraftQueueBroker.textMsg(id, 1700000000000000L + id, "t/docs/0", texts(id))
    })
    // one record per trigger: the pair can only be found if trigger 1
    // folded a0 into the index before trigger 2 probed b0
    val msgs = Pipelines.readQueues(spark, broker, Seq("docs"),
      maxRecordsPerTrigger = Some(1))
    val q = Pipelines.incrementalDedupSink(msgs, idx, table)
      .option("checkpointLocation", tmpDir("graft-ckpt")).start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.read.parquet(table + "/data")
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(got.contains((a0, b0)),
      "brand-new near-dup pair must be detected across triggers")
  }

  test("streaming decontamination splits clean and quarantined docs, replay-stable") {
    import org.apache.spark.sql.functions.col
    val sf = SparkSpec.sf
    val benchGrams = tmpDir("graft-benchgrams")
    operators.TextOps.benchGramBuild(spark, sf, benchGrams)

    // plant one contaminated doc: it embeds the first 8 tokens of a
    // bench-source document, so exactly that gram overlaps
    val benchText = Tables(spark, sf, "documents")
      .filter(col("source") === operators.TextOps.decontamBenchSource)
      .select("text").collect().head.getString(0)
    val leaked = benchText.split(" ").filter(_.nonEmpty).take(8).mkString(" ")
    val dirtyId = 999999L
    val incoming = Seq(
      dirtyId -> s"entirely fresh words then $leaked and a tail",
      1000000L -> "no overlap with anything held out here at all",
      1000001L -> "another clean document with its own novel phrasing")

    val broker = tmpDir("graft-broker")
    val table = tmpDir("graft-decontam-table")
    GraftQueueBroker.publish(broker, "docs", incoming.map { case (id, text) =>
      GraftQueueBroker.textMsg(id, 1700000000000000L + id, "t/docs/0", text)
    })
    def run(ckpt: String): Unit = {
      val q = Pipelines.decontaminationSink(
        Pipelines.readQueues(spark, broker, Seq("docs")), benchGrams, table)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    run(tmpDir("graft-ckpt"))

    val quarantined = spark.read.parquet(table + "/quarantine")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_hits")).toMap
    val clean = spark.read.parquet(table + "/clean")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(quarantined.keySet === Set(dirtyId))
    assert(quarantined(dirtyId) >= 1)
    assert(clean === Set(1000000L, 1000001L))

    // full replay (fresh checkpoint): both tables unchanged
    run(tmpDir("graft-ckpt"))
    assert(spark.read.parquet(table + "/quarantine").count() === 1)
    assert(spark.read.parquet(table + "/clean").count() === 2)

    // the consumer view: clean minus ever-quarantined
    assert(Pipelines.readDecontaminated(spark, table)
      .collect().map(_.getAs[Long]("doc_id")).toSet === Set(1000000L, 1000001L))
  }

  test("sink idempotency key check reads only the batch's buckets, not table history") {
    val table = tmpDir("graft-kbtable") + "/data"
    def keyed(from: Long, until: Long) = spark.range(from, until)
      .select(col("id").as("doc_id"),
        operators.DedupOps.keyBucket(col("id")).as("kb"))
    // history: 50 keys land in ~35 of the 64 kb partitions (xxhash64 is
    // seeded — the layout is deterministic run to run)
    keyed(0, 50).write.mode("append").partitionBy("kb").parquet(table)
    def filesUnder(dir: java.io.File): Seq[String] =
      Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) filesUnder(f)
        else if (f.getName.endsWith(".parquet")) Seq(f.getName) else Nil
      }
    val root = new java.io.File(table)
    val totalFiles = filesUnder(root).size
    val occupied = Option(root.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("kb="))
      .map(_.getName.stripPrefix("kb=").toInt).toSet
    assert(occupied.nonEmpty && occupied.size < operators.DedupOps.keyBuckets,
      "seed must leave some buckets empty for the zero-read case")

    val held = new streaming.TableKeys(table, Seq("doc_id"), Seq("kb"))
    // (names of the files the key check read, rows the append let through)
    def appended(batch: org.apache.spark.sql.DataFrame): (Seq[String], Long) = {
      val before = spark.read.parquet(table).count()
      val read = held.append(batch).map(_.getName)
      (read, spark.read.parquet(table).count() - before)
    }
    // a batch hashing into ONE occupied bucket reads that bucket's
    // files only — never the whole key history — and finds its keys
    val b = occupied.head
    val bucketFiles = filesUnder(new java.io.File(s"$table/kb=$b"))
    val inB = keyed(0, 50).filter(col("kb") === b)
    assert(inB.count() > 0)
    val (readOne, rowsOne) = appended(inB)
    assert(readOne.sorted === bucketFiles.sorted, "scan must read exactly the batch's bucket")
    assert(readOne.size < totalFiles, "pruning must skip the other buckets")
    assert(rowsOne === 0, "every key of the batch is already in the table")
    // a batch hashing only into EMPTY buckets reads zero files no
    // matter how much history the table holds
    val empty = (0 until operators.DedupOps.keyBuckets).filterNot(occupied)
    val fresh = keyed(1000, 2000).filter(col("kb").isin(empty.take(3): _*))
    val n = fresh.count()
    assert(n > 0)
    val (readNone, rowsNone) = appended(fresh)
    assert(readNone.isEmpty, "untouched buckets must cost zero reads")
    assert(rowsNone === n, "no key of the batch is in the table")
    // a second append over the same leaves reads no file it already
    // holds — neither the history it read nor the files it wrote — and
    // still finds every key
    val (again, rowsAgain) = appended(inB.union(fresh))
    assert(again.isEmpty, s"re-read held files: $again")
    assert(rowsAgain === 0)
  }

  // the unseen rows are what TableKeys.append lets through: after every
  // append of one held instance they must equal a plain anti-join
  test("unseenRows equals a left-anti join against the whole table (property)") {
    import org.scalacheck.{Gen, Prop, Test}
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // queue names that partition-path escaping must round-trip
    val key = Gen.zip(Gen.oneOf("q a", "q=b", "q%c"), Gen.choose(0L, 149L))
    val edits = Seq("none", "delete", "foreign", "rewrite")
    // an append: the edit made before it (with a pick among candidates),
    // picks among the keys the table has seen, and keys drawn fresh
    val genStep = for {
      edit <- Gen.oneOf(edits)
      pick <- Gen.choose(0, 1000)
      seen <- Gen.choose(0, 20).flatMap(Gen.listOfN(_, Gen.choose(0, 1000)))
      unseen <- Gen.choose(0, 30).flatMap(Gen.listOfN(_, key))
    } yield (edit, pick, seen, unseen)
    val genCase = for {
      history <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, Gen.choose(1, 40).flatMap(Gen.listOfN(_, key))))
      steps <- Gen.choose(2, 4).flatMap(Gen.listOfN(_, genStep))
    } yield (history, steps)
    def keyed(rows: Seq[(String, Long)], tag: String) = rows.toDF("queue", "message_id")
      .withColumn("kb", operators.DedupOps.keyBucket(col("queue"), col("message_id")))
      .withColumn("v", lit(tag))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("queue", "message_id", "kb", "v").collect().map(_.toString).sorted.toSeq
    def leaves(df: org.apache.spark.sql.DataFrame, parts: Seq[String]): Set[String] =
      df.select(parts.map(col): _*).distinct().collect().map(_.toString).toSet
    def dataFiles(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
        if (f.isDirectory) dataFiles(f) else Seq(f).filter(_.getName.endsWith(".parquet"))
      }
    def delete(f: java.io.File): Unit = {
      assert(f.delete())
      new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
    }
    // over all cases: a touched leaf absent from the table, an existing
    // leaf the batch does not touch, and each outside edit made
    var absentTouched, untouchedExisting = 0
    val made = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val layouts = Seq( // (partition columns, key columns)
      Seq("queue", "kb") -> Seq("queue", "kb", "message_id"),
      Seq("kb") -> Seq("queue", "message_id"))
    val prop = Prop.forAllNoShrink(genCase) { case (history, steps) =>
      layouts.forall { case (parts, keys) =>
        val table = tmpDir("graft-prop") + "/data"
        val root = new java.io.File(table)
        // a history that holds every key once
        history.scanLeft(Set.empty[(String, Long)])(_ ++ _).zip(history).zipWithIndex.foreach {
          case ((earlier, rs), i) => keyed(rs.distinct.filterNot(earlier), s"a$i")
            .write.mode("append").partitionBy(parts: _*).parquet(table)
        }
        var pool = history.flatten.toIndexedSeq
        // one instance across every append, as a sink holds it
        val held = new streaming.TableKeys(table, keys, parts)
        steps.zipWithIndex.forall { case ((edit, pick, seen, unseen), i) =>
          val batchKeys = (seen.map(j => pool(j % pool.size)) ++ unseen).distinct
          val batch = keyed(batchKeys, s"b$i")
          // outside edits: a writer or a maintainer other than the sink.
          // Delete and rewrite target a file holding keys of this batch
          // when there is one, so a stale held key would drop a row
          val files = {
            val holding = spark.read.parquet(table).withColumn("file", input_file_name())
              .join(batch.select(keys.map(col): _*), keys, "left_semi")
              .select("file").distinct().collect().map(r => new java.io.File(new java.net.URI(r.getString(0))))
              .sortBy(_.getPath).toSeq
            if (holding.nonEmpty) holding else dataFiles(root)
          }
          edit match {
            case "delete" if files.nonEmpty =>
              delete(files(pick % files.size)); made(edit) += 1
            case "foreign" =>
              // keys of this batch the table lacks, landed by another writer
              val lacking = batch.join(spark.read.parquet(table), keys, "left_anti")
                .select("queue", "message_id").as[(String, Long)].collect().toSeq
              if (lacking.nonEmpty) {
                keyed(lacking.take(1 + pick % lacking.size), "foreign")
                  .write.mode("append").partitionBy(parts: _*).parquet(table)
                made(edit) += 1
              }
            case "rewrite" if files.nonEmpty =>
              // one leaf rewritten under new file names, losing one row
              // when it has more than one
              val leaf = files(pick % files.size).getParentFile
              val kept = spark.read.parquet(leaf.getPath)
              val rowsKept = kept.collect().toSeq
              dataFiles(leaf).foreach(delete)
              spark.createDataFrame(rowsKept.drop(if (rowsKept.size > 1) 1 else 0).asJava, kept.schema)
                .write.mode("append").parquet(leaf.getPath)
              made(edit) += 1
            case _ =>
          }
          val before = spark.read.parquet(table)
          val (had, touched) = (leaves(before, parts), leaves(batch, parts))
          absentTouched += (touched -- had).size
          untouchedExisting += (had -- touched).size
          val expected = (rows(before) ++ rows(batch.join(before, keys, "left_anti"))).sorted
          held.append(batch)
          pool = pool ++ batchKeys
          val after = spark.read.parquet(table)
          rows(after) === expected &&
            after.select("queue", "message_id").distinct().count() === after.count()
        }
      }
    }
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(8).withInitialSeed(Seed(20240611L)), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
    assert(absentTouched > 0 && untouchedExisting > 0,
      s"generator must cover both leaf cases ($absentTouched, $untouchedExisting)")
    assert(edits.tail.forall(made(_) > 0), s"generator must make every outside edit: $made")
  }

  test("table sink crash at the commit boundary: the replay writes exactly the lost rows") {
    import org.apache.spark.sql.streaming.StreamingQuery
    val broker = tmpDir("graft-broker")
    val table = tmpDir("graft-table")
    val ckpt = tmpDir("graft-ckpt")
    val data = new java.io.File(table, "data")
    def publish(ids: Range): Unit = Seq("qa", "qb").foreach(qn =>
      publishText(broker, qn, ids, i => s"$qn row $i"))
    def run(): StreamingQuery = {
      val recs = Pipelines.mapToTextRecord(Pipelines.readQueues(spark, broker, Seq("qa", "qb")))
      val q = Pipelines.tableSink(recs, table).option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      q
    }
    def files(): Set[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(data).filter(_.getName.endsWith(".parquet")).toSet
    }
    def keysOf(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
      df.select("queue", "message_id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    def acked(qn: String): Long = GraftQueueSource.ackedCount(broker, qn)
    def dataBatches(q: StreamingQuery): Seq[Long] =
      q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq

    publish(0 until 200)
    assert(dataBatches(run()) === Seq(0L), "the setup must be one 2-queue trigger")
    // the crash: the job commit landed only part of the leaf files and
    // the commit-log entry never landed (odd-kb leaves of qb are lost)
    val lostFiles = files().filter { f =>
      f.getParentFile.getParentFile.getName == "queue=qb" &&
        f.getParentFile.getName.stripPrefix("kb=").toInt % 2 == 1
    }
    assert(lostFiles.nonEmpty)
    val lost = keysOf(spark.read.option("basePath", data.getPath).parquet(lostFiles.map(_.getPath).toSeq: _*))
    lostFiles.foreach { f =>
      assert(f.delete())
      new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
    }
    Seq("0", ".0.crc").foreach(n => new java.io.File(ckpt, s"commits/$n").delete())
    assert(!new java.io.File(ckpt, "commits/0").exists())
    Seq("qa", "qb").foreach(qn => assert(acked(qn) === 0L, s"$qn acked an uncommitted batch"))

    // restart on the same checkpoint: batch 0 re-runs over its logged offsets
    val kept = files()
    assert(dataBatches(run()) === Seq(0L))
    val written = files() -- kept
    assert(keysOf(spark.read.option("basePath", data.getPath)
      .parquet(written.map(_.getPath).toSeq: _*)) === lost, "the replay writes exactly the lost rows")
    val got = Pipelines.readTable(spark, table)
    assert(got.count() === 400)
    assert(got.select("queue", "message_id").distinct().count() === 400)
    // batch 0 is now committed, yet acked only when batch 1 starts —
    // never past a committed end
    Seq("qa", "qb").foreach(qn => assert(acked(qn) <= 200L))
    publish(200 until 250)
    run()
    val deadline = System.currentTimeMillis() + 15000
    while (Seq("qa", "qb").exists(acked(_) < 200L) && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    Seq("qa", "qb").foreach(qn => assert(acked(qn) === 200L, s"$qn ack must stop at batch 0's end"))
    assert(Pipelines.readTable(spark, table).count() === 500)
  }

  test("withMaxReadTime: AvailableNow drains the snapshot; deadline caps a slow read") {
    val broker = tmpDir("graft-broker")
    publishText(broker, "q1", 0 until 20, i => s"m$i")
    // generous deadline: the frozen snapshot is drained, query self-stops
    Pipelines.startWithMaxReadTime(
      Pipelines.readQueues(spark, broker, Seq("q1"))
        .writeStream.format("memory").queryName("maxtime_all")
        .option("checkpointLocation", tmpDir("graft-ckpt")),
      maxReadTimeMs = 60000)
    assert(spark.table("maxtime_all").count() === 20)
    // 1 record per trigger + ~zero deadline: the stop lands mid-stream,
    // consumption is a strict prefix of the spool
    Pipelines.startWithMaxReadTime(
      Pipelines.readQueues(spark, broker, Seq("q1"), maxRecordsPerTrigger = Some(1))
        .writeStream.format("memory").queryName("maxtime_capped")
        .option("checkpointLocation", tmpDir("graft-ckpt")),
      maxReadTimeMs = 1)
    assert(spark.table("maxtime_capped").count() < 20,
      "deadline must stop consumption before the spool drains")
  }

  test("backlog gauge: positive while throttled, drains to zero") {
    val broker = tmpDir("graft-broker")
    publishText(broker, "q1", 0 until 30, i => s"m$i")
    val listener = new Pipelines.QueueStatsListener
    spark.streams.addListener(listener)
    val q = Pipelines.readQueues(spark, broker, Seq("q1"), maxRecordsPerTrigger = Some(10))
      .writeStream.format("memory").queryName("backlogged")
      .option("checkpointLocation", tmpDir("graft-ckpt")).start()
    try {
      q.processAllAvailable()
      // listener events are delivered async — wait for the final one
      val deadline = System.currentTimeMillis() + 15000
      while ((listener.backlog.isEmpty || listener.backlog.values.sum > 0) &&
             System.currentTimeMillis() < deadline) Thread.sleep(100)
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
    assert(listener.maxBacklog >= 10,
      s"throttled run must observe positive backlog, saw ${listener.maxBacklog}")
    assert(listener.backlog.getOrElse("q1", -1L) === 0L,
      s"backlog must drain to zero, saw ${listener.backlog}")
    assert(listener.offsetParseErrors === 0L, s"offset parse failed: ${listener.lastOffsetParseError}")
    // the last data trigger's phases, and the slowest addBatch so far
    Seq("latestOffset", "walCommit", "addBatch", "commitOffsets", "triggerExecution")
      .foreach(k => assert(listener.phases.contains(k), s"phase $k missing: ${listener.phases}"))
    assert(listener.phases("addBatch") > 0L)
    assert(listener.maxAddBatchMs >= listener.phases("addBatch"))
  }

  test("watermark drops late data in append mode (state stays bounded)") {
    val broker = tmpDir("graft-broker")
    val t0 = 1700000000000000L
    val min = 60L * 1000000L
    def msg(id: Long, tsMicros: Long) =
      GraftQueueBroker.textMsg(id, tsMicros, "t", "tick")
    // window W0 = [t0, t0+1min): 5 on-time events
    GraftQueueBroker.publish(broker, "q1", (0 until 5).map(i => msg(i.toLong, t0 + i * 1000000L)))
    val counts = Pipelines.windowedWordCount(
      Pipelines.readQueues(spark, broker, Seq("q1")),
      windowLength = "1 minute", watermark = "30 seconds")
    val q = counts.writeStream.format("memory").queryName("late_drop")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("graft-ckpt")).start()
    try {
      q.processAllAvailable()
      // event 5 min later pushes the watermark past W0's end
      GraftQueueBroker.publish(broker, "q1", Seq(msg(100L, t0 + 5 * min)))
      q.processAllAvailable()
      // a LATE straggler into W0: the watermark (t0+4.5min) is already
      // past its event time, so the row must be discarded
      GraftQueueBroker.publish(broker, "q1", Seq(msg(200L, t0 + 10L * 1000000L)))
      q.processAllAvailable()
      // emission happens in a batch AFTER the watermark advance —
      // drive heartbeat batches until W0 appears in the sink
      // windows align to wall-clock minute boundaries, not to t0
      val w0Start = new java.sql.Timestamp(t0 / 1000L / 60000L * 60000L)
      def w0Counts(): Seq[Long] = spark.table("late_drop")
        .filter(col("ws") === w0Start)
        .collect().map(_.getLong(2)).toSeq
      var hb = 0
      while (w0Counts().isEmpty && hb < 10) {
        GraftQueueBroker.publish(broker, "q1", Seq(msg(300L + hb, t0 + (10 + hb) * min)))
        q.processAllAvailable()
        hb += 1
      }
      assert(w0Counts() === Seq(5L),
        "W0 must emit exactly its on-time count; the late straggler must be dropped")
    } finally q.stop()
  }

  test("update-mode running aggregates revise totals across triggers") {
    val broker = tmpDir("graft-broker")
    publishText(broker, "q1", 0 until 5, i => s"m$i")
    val q = Pipelines.readQueues(spark, broker, Seq("q1"))
      .groupBy(col("queue")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("running")
      .outputMode("update")
      .option("checkpointLocation", tmpDir("graft-ckpt")).start()
    try {
      q.processAllAvailable()
      publishText(broker, "q1", 5 until 8, i => s"m$i")
      q.processAllAvailable()
    } finally q.stop()
    // update mode appends one revision row per trigger that changed the
    // group: first 5, then the revised total 8
    val ns = spark.table("running").collect().map(_.getLong(1)).toSeq.sorted
    assert(ns === Seq(5L, 8L), s"expected running revisions 5 then 8, got $ns")
  }

  test("stream-static enrichment: dimension broadcast onto the stream") {
    val broker = tmpDir("graft-broker")
    publishText(broker, "q1", 0 until 9, i => s"m$i") // destinations t/q1/{0,1,2}
    import spark.implicits._
    val dim = Seq(("t/q1/0", "alpha"), ("t/q1/1", "beta")).toDF("destination", "owner")
    val q = Pipelines.enrich(
        Pipelines.readQueues(spark, broker, Seq("q1")), dim, "destination")
      .select(col("message_id"), col("owner"))
      .writeStream.format("memory").queryName("enriched")
      .option("checkpointLocation", tmpDir("graft-ckpt")).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("enriched").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got.size === 9)
    // i%3==0 -> alpha, 1 -> beta, 2 -> no dimension row (left outer null)
    assert(got(0L).contains("alpha") && got(3L).contains("alpha"))
    assert(got(1L).contains("beta") && got(7L).contains("beta"))
    assert(got(2L).isEmpty && got(8L).isEmpty)
  }

  test("stateful dedup state survives a restart (exactly-once across runs)") {
    val broker = tmpDir("graft-broker")
    val ckpt = tmpDir("graft-ckpt")
    val out = tmpDir("graft-sink")
    def run(): Unit = {
      val q = Pipelines.statefulDedup(
          Pipelines.readQueues(spark, broker, Seq("q1")))
        .toDF()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    publishText(broker, "q1", 0 until 10, i => s"m$i")
    run()
    // redelivery AFTER the restart: the dedup state (seen ids 0-9) must
    // come back from the checkpoint, not start empty
    publishText(broker, "q1", 0 until 10, i => s"m$i")
    publishText(broker, "q1", 10 until 15, i => s"m$i")
    run()
    val ids = spark.read.parquet(out).select("message_id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids.size === 15, s"each id exactly once across restarts, got ${ids.size}")
    assert(ids.toSet === (0L until 15L).toSet)
  }

  test("capstone: ingest -> exactly-once dedup -> quality filter -> table, end to end") {
    // the composed training-data ingest pipeline: an at-least-once
    // broker redelivers; the stream dedups by message id, drops
    // low-quality docs, and lands an exactly-once queryable table
    val broker = tmpDir("graft-broker")
    val table = tmpDir("graft-table")
    val goodText = (i: Long) => s"document $i with enough words to pass the quality bar"
    val t0 = 1700000000000000L
    def msgs(ids: Range, text: Long => String) = ids.map { i =>
      GraftQueueBroker.textMsg(i.toLong, t0 + i * 1000L, "t/docs", text(i.toLong))
    }
    GraftQueueBroker.publish(broker, "docs", msgs(0 until 8, goodText))
    GraftQueueBroker.publish(broker, "docs", msgs(8 until 12, _ => "too short"))
    // redelivery: the same first 8 appear again (unacked replay)
    GraftQueueBroker.publish(broker, "docs", msgs(0 until 8, goodText))

    val deduped = Pipelines.statefulDedup(
      Pipelines.readQueues(spark, broker, Seq("docs")))
    import org.apache.spark.sql.functions._
    val quality = deduped.toDF()
      .filter(size(graft.functions.Texts.tokens(col("text"))) >= 5)
    val q = quality.writeStream.format("parquet")
      .option("path", table).option("checkpointLocation", tmpDir("graft-ckpt"))
      .start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.read.parquet(table).collect()
      .map(r => (r.getAs[Long]("message_id"), r.getAs[String]("text")))
    assert(got.length === 8, s"expected 8 unique quality docs, got ${got.length}")
    assert(got.map(_._1).toSet === (0L until 8L).toSet)
    assert(got.forall { case (id, t) => t == goodText(id) })
  }

  test("queue admin view reports spooled/acked/backlog per queue (SEMP-style)") {
    val broker = tmpDir("graft-broker")
    publishText(broker, "qa", 0 until 12, i => s"m$i")
    publishText(broker, "qb", 0 until 5, i => s"m$i")
    // before any consumer: everything spooled, nothing acked
    val before = GraftQueueSource.adminView(spark, broker).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(before("qa") === ((12L, 0L, 12L)))
    assert(before("qb") === ((5L, 0L, 5L)))
    assert(before.keySet === Set("qa", "qb"), "the _acks dir must not list as a queue")

    // consume + force a second micro-batch so the first batch's
    // client-ack lands (acks commit when the NEXT batch starts)
    val q = Pipelines.readQueues(spark, broker, Seq("qa", "qb"))
      .writeStream.format("memory").queryName("admin_view")
      .option("checkpointLocation", tmpDir("graft-ckpt")).start()
    try {
      q.processAllAvailable()
      publishText(broker, "qa", 12 until 14, i => s"m$i")
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 15000
      while (GraftQueueSource.ackedCount(broker, "qa") < 12L &&
             System.currentTimeMillis() < deadline) Thread.sleep(100)
    } finally q.stop()

    val after = GraftQueueSource.adminView(spark, broker).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val (spooledA, ackedA, backlogA) = after("qa")
    assert(spooledA === 14L)
    assert(ackedA >= 12L, s"expected qa acks >= 12, got $ackedA")
    assert(backlogA === spooledA - ackedA)
  }

  test("stateful dedup restart is exactly-once under the RocksDB state store") {
    // At 100 TB the dedup key state cannot live on the JVM heap: the
    // HDFS-backed provider holds every key in memory per partition.
    // RocksDB spills to local disk with changelog/snapshot checkpoints
    // — same exactly-once contract, bounded heap. This re-runs the
    // restart scenario with the provider swapped, and verifies from the
    // checkpoint dir that RocksDB actually engaged.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val broker = tmpDir("graft-broker")
    val ckpt = tmpDir("graft-ckpt")
    val out = tmpDir("graft-sink")
    def run(): Unit = {
      val q = Pipelines.statefulDedup(
          Pipelines.readQueues(spark, broker, Seq("q1")))
        .toDF()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    try {
      publishText(broker, "q1", 0 until 10, i => s"m$i")
      run()
      publishText(broker, "q1", 0 until 10, i => s"m$i") // redelivery
      publishText(broker, "q1", 10 until 15, i => s"m$i")
      run()
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val ids = spark.read.parquet(out).select("message_id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids.size === 15, s"each id exactly once across restarts, got ${ids.size}")
    assert(ids.toSet === (0L until 15L).toSet)
    // proof the provider was live: RocksDB checkpoints as zip/changelog
    // files under state/, where the default provider writes .delta
    val stateFiles = {
      val d = new java.io.File(ckpt, "state")
      if (!d.isDirectory) Seq.empty
      else java.nio.file.Files.walk(d.toPath).iterator().asScala
        .map(_.getFileName.toString).toSeq
    }
    assert(stateFiles.exists(f => f.endsWith(".zip") || f.endsWith(".changelog")),
      s"no RocksDB checkpoint artifacts under $ckpt/state: ${stateFiles.take(20)}")
  }

  test("windowed aggregation restart under RocksDB resumes the window state") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val broker = tmpDir("graft-broker")
    val ckpt = tmpDir("graft-ckpt")
    val out = tmpDir("graft-sink")
    val t0 = 1700000000000000L
    def run(): Unit = {
      val q = Pipelines.windowedWordCount(
          Pipelines.readQueues(spark, broker, Seq("q1")))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    try {
      // window [t0, t0+1min): half the rows before the restart…
      GraftQueueBroker.publish(broker, "q1", (0 until 10).map { i =>
        GraftQueueBroker.textMsg(i.toLong, t0 + i * 1000L, "t/q1", "alpha")
      })
      run()
      // …half after, plus a second window far enough ahead to advance
      // the watermark past window 1 so append mode emits it
      GraftQueueBroker.publish(broker, "q1", (10 until 20).map { i =>
        GraftQueueBroker.textMsg(i.toLong, t0 + i * 1000L, "t/q1", "alpha")
      })
      GraftQueueBroker.publish(broker, "q1", (20 until 22).map { i =>
        GraftQueueBroker.textMsg(i.toLong, t0 + 600L * 1000000L, "t/q1", "omega")
      })
      run()
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val got = spark.read.parquet(out)
      .collect().map(r => r.getAs[String]("word") -> r.getAs[Long]("cnt")).toMap
    // all 20 alphas in one window — the 10 pre-restart rows came back
    // from RocksDB state, not from scratch
    assert(got.get("alpha").contains(20L),
      s"window state lost across RocksDB restart: $got")
  }

  test("parseMode: failfast names the corrupt line; permissive skips and counts it") {
    val broker = tmpDir("graft-broker")
    publishText(broker, "qc", 0 until 5, i => s"ok $i") // ordinals 0-4
    // hand-write a second spool file with two corrupt lines in the middle
    def b64(s: String) = java.util.Base64.getEncoder.encodeToString(s.getBytes)
    val spool2 = Seq(
      s"5\t1700000005000000\t1700000005001000\t4\tt/qc/0\t\t0\t${b64("ok 5")}",
      "CORRUPT not a tsv line",                                        // ordinal 6
      s"6\tnot_a_number\t1700000006001000\t4\tt/qc/0\t\t0\t${b64("x")}", // ordinal 7
      s"7\t1700000007000000\t1700000007001000\t4\tt/qc/0\t\t0\t${b64("ok 7")}")
    java.nio.file.Files.write(
      new java.io.File(new java.io.File(broker, "qc"), "spool-00000001.log").toPath,
      spool2.mkString("", "\n", "\n").getBytes("UTF-8"))

    // failfast (default): the failure names queue, file, and ordinal —
    // never a bare NumberFormatException from inside the parse
    val strict = spark.read.format(GraftQueueSource.FORMAT)
      .option("brokerDir", broker).option("queues", "qc").load()
    val ex = intercept[Exception] { strict.count() }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(m => m.contains("queue 'qc'") && m.contains("ordinal 6")
      && m.contains("spool-00000001.log")), s"missing context in: $msgs")

    // permissive: valid rows delivered, corrupt ones skipped and counted
    GraftQueueSource.malformedSkipped.reset()
    val lax = spark.read.format(GraftQueueSource.FORMAT)
      .option("brokerDir", broker).option("queues", "qc")
      .option("parseMode", "permissive").load()
    assert(lax.count() === 7) // 5 + "ok 5" + "ok 7"
    assert(GraftQueueSource.malformedSkipped.sum() >= 2)

    // and the STREAM survives the corrupt lines in permissive mode
    val q = spark.readStream.format(GraftQueueSource.FORMAT)
      .option("brokerDir", broker).option("queues", "qc")
      .option("parseMode", "permissive").load()
      .writeStream.format("memory").queryName("permissive_stream")
      .option("checkpointLocation", tmpDir("graft-ckpt")).start()
    try {
      q.processAllAvailable()
      assert(spark.table("permissive_stream").count() === 7)
      // offsets advanced past the corrupt ordinals — no stall, no replay
      q.processAllAvailable()
      assert(spark.table("permissive_stream").count() === 7)
    } finally q.stop()
  }

  test("spool slice math is Long-safe past Int.MaxValue and skips whole files") {
    import graft.sources.GraftQueueSource.sliceFiles
    val G = 3_000_000_000L // one spool file holding 3e9 lines (> 2^31)
    // range crossing the 2^31 boundary inside file 0
    assert(sliceFiles(Seq(G, 5L), 2_147_483_646L, 2_147_483_650L) ===
      Seq((0, 0L, 2_147_483_646L, 2_147_483_650L)))
    // range spanning the file boundary: tail of file 0, head of file 1
    assert(sliceFiles(Seq(G, 5L, 7L), G - 2, G + 3) ===
      Seq((0, 0L, G - 2, G), (1, G, G, G + 3)))
    // files wholly before the range are not returned (never opened)
    assert(sliceFiles(Seq(G, 5L, 7L), G + 5, G + 9) ===
      Seq((2, G + 5, G + 5, G + 9)))
    // empty range
    assert(sliceFiles(Seq(G, 5L), 42L, 42L) === Seq.empty)
    // degenerate: zero-length files are skipped
    assert(sliceFiles(Seq(0L, 3L, 0L, 2L), 0L, 5L) ===
      Seq((1, 0L, 0L, 3L), (3, 3L, 3L, 5L)))
  }

  test("slice math property: slices partition the requested range exactly") {
    import graft.sources.GraftQueueSource.sliceFiles
    val rnd = new scala.util.Random(7) // deterministic
    for (_ <- 1 to 500) {
      val counts = Seq.fill(rnd.nextInt(6))(
        if (rnd.nextBoolean()) rnd.nextLong(5L) else rnd.nextLong(4_000_000_000L))
      val total = counts.sum
      val a = rnd.nextLong(total + 2)
      val b = rnd.nextLong(total + 2)
      val (from, to) = (math.min(a, b), math.max(a, b))
      val slices = sliceFiles(counts, from, to)
      // slices are contiguous, in order, within file bounds, and cover
      // [from, min(to, total)) exactly
      var expectLo = math.min(from, total)
      val covered = slices.map { case (i, fileStart, lo, hi) =>
        assert(lo >= fileStart && hi <= fileStart + counts(i), s"out of file $i bounds")
        assert(lo < hi, "empty slice emitted")
        assert(lo === math.max(expectLo, fileStart), "gap or overlap between slices")
        expectLo = hi
        hi - lo
      }.sum
      assert(covered === math.max(0L, math.min(to, total) - math.min(from, total)),
        s"range [$from,$to) over $counts covered $covered lines")
    }
  }

  test("watermark-bounded dedup: exactly-once within the window, state evicted after it") {
    val broker = tmpDir("graft-broker")
    val t0 = 1700000000000000L
    publishText(broker, "qd", 0 until 11, i => s"m$i")  // ids 0-10
    publishText(broker, "qd", 0 until 6, i => s"m$i")   // redelivered 0-5, same sender_ts

    val q = Pipelines.watermarkDedup(
        Pipelines.readQueues(spark, broker, Seq("qd")), "1 minute")
      .writeStream.format("memory").queryName("wm_dedup")
      .option("checkpointLocation", tmpDir("graft-ckpt")).start()
    try {
      q.processAllAvailable()
      assert(spark.table("wm_dedup").count() === 11,
        "redeliveries within the watermark window must be dropped")

      // advance the watermark ~1h past the originals -> their keys are
      // evicted from state (the bounded-state contract)
      GraftQueueBroker.publish(broker, "qd", Seq(
        GraftQueueBroker.textMsg(99L, t0 + 3600L * 1000000L, "t/qd/0", "late horizon")))
      q.processAllAvailable()
      assert(spark.table("wm_dedup").count() === 12)

      // the SAME key re-arriving after eviction is re-emitted — the
      // documented trade for O(redelivery window) state instead of
      // O(total keys): a real broker redelivers within the window
      GraftQueueBroker.publish(broker, "qd", Seq(
        GraftQueueBroker.textMsg(0L, t0 + 3601L * 1000000L, "t/qd/0", "post-eviction copy")))
      q.processAllAvailable()
      val id0 = spark.table("wm_dedup").filter(col("message_id") === 0L).count()
      assert(id0 === 2, s"expected the post-eviction copy to re-emit (got $id0 rows)")
      assert(spark.table("wm_dedup").count() === 13)
    } finally q.stop()
  }

  test("a claimed-but-unlanded spool file freezes ordinals (cross-process publish safety)") {
    // Publisher A (another process) claims spool-N with an empty
    // createFile; publisher B claims and LANDS spool-N+1 before A's
    // content arrives. Offsets are cumulative line ordinals over the
    // name-sorted spool, so counting past A's empty claim would give
    // B's lines ordinals that SHIFT once A lands — duplicating rows
    // already emitted and skipping A's. The landed-prefix rule stops
    // the ordinal basis at the first unlanded claim instead.
    val broker = tmpDir("graft-broker")
    publishText(broker, "qc", 0 until 4, i => s"early $i")   // spool-0, landed
    val qdir = GraftQueueSource.queueDir(broker, "qc")
    val claim = new java.io.File(qdir, "spool-00000001.log")
    Files.createFile(claim.toPath)                            // A's empty claim
    publishText(broker, "qc", 10 until 13, i => s"late $i")   // B lands spool-2

    // available() must stop at the claim: only the 4 landed-prefix rows
    assert(GraftQueueSource.available(broker, "qc") === 4L)
    val admin = GraftQueueSource.adminView(spark, broker).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getAs[Long]("pending_claims"))).toMap
    assert(admin("qc") === ((4L, 1L)), "adminView must surface the stalled claim")

    val q = Pipelines.readQueues(spark, broker, Seq("qc"))
      .writeStream.format("memory").queryName("landed_prefix")
      .option("checkpointLocation", tmpDir("graft-ckpt")).start()
    try {
      q.processAllAvailable()
      assert(spark.table("landed_prefix").count() === 4,
        "rows past an unlanded claim must not be emitted")

      // A's content lands (atomic move, same as publish's landing step)
      val tmp = new java.io.File(qdir, ".a-landing.tmp")
      Files.write(tmp.toPath,
        (20 until 22).map(i => s"$i\t1700000000000000\t1700000000001000\t4\tt/qc/0\t\t0\t" +
          java.util.Base64.getEncoder.encodeToString(s"claimed $i".getBytes("UTF-8")))
          .mkString("", "\n", "\n").getBytes("UTF-8"))
      Files.move(tmp.toPath, claim.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)

      q.processAllAvailable()
      val got = spark.table("landed_prefix")
        .select("message_id", "sequence_number").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._2)
      // all 9 rows exactly once, ordinals assigned in landed order —
      // A's rows take ordinals 4-5, B's 6-8, nothing replayed
      assert(got.map(_._1).toSeq ===
        Seq(0L, 1L, 2L, 3L, 20L, 21L, 10L, 11L, 12L))
      assert(got.map(_._2).toSeq === (0L until 9L))
    } finally q.stop()
  }

  test("a corrupted checkpoint offset entry fails with the offending payload named") {
    val e = intercept[IllegalStateException] {
      GraftQueueSource.offsetsFromJson("""{"qa"5}""")
    }
    assert(e.getMessage.contains(""""qa"5"""))
    // round-trip with ':' in the queue name still works
    val m = Map("a:b" -> 7L, "plain" -> 2L)
    assert(GraftQueueSource.offsetsFromJson(
      GraftQueueSource.offsetsToJson(m)) === m)
  }
}
