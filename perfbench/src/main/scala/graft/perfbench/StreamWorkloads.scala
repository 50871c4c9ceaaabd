package graft.perfbench

import java.io.File
import java.time.Instant
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import graft.Tables
import graft.sources.{GraftQueueBroker, GraftQueueSource}
import graft.streaming.Pipelines
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** The stream workloads over the graft queue source and two queues.
  *
  * `ingest` (open loop): a generator thread publishes seed-chosen
  * document texts at a fixed rate on a fixed tick schedule, stamping
  * each message's sender timestamp with its due time, while one query
  * runs readQueues → mapToTextRecord → tableSink (the SolaceBigQuery
  * sample). After `--seconds` the generator stops and the query drains
  * to empty. Latency is due time → end of the trigger that committed
  * the message.
  *
  * `drain` (closed loop): setup publishes `--messages` messages, half
  * to each queue, on one interleaved event-time line; each drain runs
  * readQueues(maxRecordsPerTrigger) → windowedWordCount →
  * fileSinkPerWindow under Trigger.AvailableNow via startWithMaxReadTime
  * (the WindowedWordCountSolace sample) from a fresh checkpoint. The
  * first drain warms the JVM and is checked against the bounded batch
  * twin, untimed; timed drains follow until `--seconds` have elapsed
  * and at least `--min-passes` are done. */
object StreamWorkloads {
  val queues: Seq[String] = Seq("q0", "q1")

  /** Progress events of the running query, in arrival order. */
  final class Progress extends StreamingQueryListener {
    val events = ArrayBuffer.empty[StreamingQueryProgress]
    @volatile var onProgress: StreamingQueryProgress => Unit = _ => ()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      synchronized { events += e.progress }
      onProgress(e.progress)
    }
    def snapshot: Seq[StreamingQueryProgress] = synchronized { events.toSeq }
    def clear(): Unit = synchronized { events.clear() }
  }

  def startMs(p: StreamingQueryProgress): Double = Instant.parse(p.timestamp).toEpochMilli.toDouble
  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  def endMs(p: StreamingQueryProgress): Double = startMs(p) + dur(p, "triggerExecution")
  def offsets(json: String): Map[String, Long] =
    if (json == null) Map.empty else GraftQueueSource.offsetsFromJson(json)

  private val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  /** Trigger spans with their phases laid out in execution order. */
  def traceTriggers(tracer: Tracer, ps: Seq[StreamingQueryProgress], parent: Int): Unit =
    ps.foreach { p =>
      val s = startMs(p)
      val id = tracer.add(s"trigger.${p.batchId}", parent, s, endMs(p))
      var t = s
      phases.foreach { k =>
        val d = dur(p, k)
        if (d > 0) { tracer.add(k, id, t, t + d); t += d }
      }
    }

  def documentTexts(spark: SparkSession, dir: String): Array[String] =
    Tables(spark, dir, "documents").select("text").collect().map(_.getString(0))

  /** Publishes `n` messages per queue in spool files of `chunk`. The
    * sender timestamps interleave across the queues, as two queues
    * filled side by side hold them: message `i` of the `qi`-th queue is
    * stamped `t0Us + (i * queues.size + qi) * spacingUs`. */
  def prepublish(broker: String, texts: Array[String], rng: java.util.Random, n: Long, chunk: Int,
                 t0Us: Long, spacingUs: Long): Unit =
    queues.zipWithIndex.foreach { case (q, qi) =>
      var i = 0L
      while (i < n) {
        val m = math.min(chunk.toLong, n - i).toInt
        GraftQueueBroker.publish(broker, q, (0 until m).map { j =>
          val id = i + j
          GraftQueueBroker.textMsg(id, t0Us + (id * queues.size + qi) * spacingUs, s"topic/$q",
            texts(rng.nextInt(texts.length)))
        })
        i += m
      }
    }

  /** Shared per-layer figures from a list of progress events. */
  def streamLayers(rec: Record, ps: Seq[StreamingQueryProgress], triggersTotal: Int): Unit = {
    val data = ps.filter(_.numInputRows > 0)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    rec.num("streaming.triggers", triggersTotal.toDouble)
    rec.num("streaming.trigger_ms", mean(data.map(dur(_, "triggerExecution"))))
    // last k over first k data triggers after the first, k ≤ 10, so the
    // two windows never overlap on short runs
    val body = data.drop(1).map(dur(_, "triggerExecution"))
    val k = math.min(10, body.size / 2)
    rec.num("streaming.trigger_growth",
      if (k >= 1) mean(body.takeRight(k)) / math.max(1e-9, mean(body.take(k))) else 1.0)
    rec.num("streaming.rows_per_trigger", mean(data.map(_.numInputRows.toDouble)))
    rec.num("streaming.query_planning_ms", mean(data.map(dur(_, "queryPlanning"))))
    rec.num("streaming.wal_commit_ms", mean(data.map(dur(_, "walCommit"))))
    rec.num("streaming.commit_offsets_ms", mean(data.map(dur(_, "commitOffsets"))))
    rec.num("streaming.add_batch_ms", mean(data.map(dur(_, "addBatch"))))
    rec.num("sources.latest_offset_ms", mean(data.map(dur(_, "latestOffset"))))
    rec.num("sources.get_batch_ms", mean(data.map(dur(_, "getBatch"))))
    val states = data.flatMap(_.stateOperators.toSeq)
    rec.num("streaming.state_rows", states.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0))
    rec.num("streaming.state_mem_bytes", if (states.isEmpty) 0.0 else states.map(_.memoryUsedBytes).max.toDouble)
    rec.num("streaming.state_commit_ms", mean(states.map(_.commitTimeMs.toDouble)))
    rec.num("streaming.late_rows", states.map(_.numRowsDroppedByWatermark.toDouble).sum)
  }

  /** Committed minus acked messages over the queues, as of a trigger's
    * progress event. */
  def ackLag(broker: String, p: StreamingQueryProgress): Long = {
    val committed = offsets(p.sources.headOption.map(_.endOffset).orNull)
    queues.map(q => committed.getOrElse(q, 0L) - GraftQueueSource.ackedCount(broker, q)).sum
  }

  def spoolFiles(broker: String): Double =
    queues.map(q => GraftQueueSource.landedSpoolFiles(broker, q).size).sum.toDouble

  def tree(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(tree) else Seq(f)

  // ------------------------------------------------------------ drain

  def drain(spark: SparkSession, a: Harness.Args, rec: Record, tracer: Tracer): Unit = {
    val n = a.long("messages") / queues.size
    val chunk = 5000 // messages per spool file
    val maxPerTrigger = a.long("max-per-trigger")
    // the sample's one-minute windows over a 30-minute event-time span:
    // enough windows close behind the 2-minute watermark to check
    val windowMin = 1L
    val spanMin = 30L
    val minDrains = a.long("min-passes").toInt
    val warmups = a.long("warmup-passes").toInt
    val spacingUs = spanMin * 60L * 1000000L / (n * queues.size)
    val t0Us = 1704067200000000L // 2024-01-01T00:00:00Z
    val texts = documentTexts(spark, a.data)

    // setup: publish the backlog into a fresh broker per repetition
    val reps = a.long("setup-reps").toInt
    val repSecs = (1 to reps).map { r =>
      val broker = new File(a.work, s"broker-$r")
      val t = System.nanoTime()
      tracer.span(s"setup.$r", tracer.root) { _ =>
        prepublish(broker.getPath, texts, new java.util.Random(a.seed), n, chunk, t0Us, spacingUs)
      }
      val s = (System.nanoTime() - t) / 1e9
      if (r < reps) Harness.deleteTree(broker)
      s
    }
    val broker = new File(a.work, s"broker-$reps").getPath
    val startMsJvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - startMsJvm) / 1e3 - repSecs.sum
    rec.nums("setup_samples_s", repSecs.map(_ + sessionS))
    rec.num("setup_s", sessionS + Harness.median(repSecs))
    rec.mark("setup")

    val progress = new Progress
    var ackLagMax = 0L
    if (a.trace) progress.onProgress = p => ackLagMax = math.max(ackLagMax, ackLag(broker, p))
    spark.streams.addListener(progress)
    val total = n * queues.size
    val failures = ArrayBuffer.empty[String]
    var failed = 0L

    /** One drain of the backlog from a fresh checkpoint: wall seconds,
      * its progress events, start time and output directory. */
    def drainOnce(d: Int): (Double, Seq[StreamingQueryProgress], Double, File) = {
      progress.clear()
      val out = new File(a.work, s"drain-$d")
      val span = tracer.begin(s"drain.$d", tracer.root)
      val s0 = System.currentTimeMillis().toDouble
      val t = System.nanoTime()
      val counts = Pipelines.windowedWordCount(
        Pipelines.readQueues(spark, broker, queues, Some(maxPerTrigger)), s"$windowMin minutes")
      Pipelines.startWithMaxReadTime(Pipelines.fileSinkPerWindow(counts, out.getPath), 120000L)
      val wall = (System.nanoTime() - t) / 1e9
      EngineListener.active = false
      // the listener bus delivers the last progress event asynchronously
      val deadline = System.currentTimeMillis() + 5000
      while (progress.snapshot.map(_.numInputRows).sum < total && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      val ps = progress.snapshot
      traceTriggers(tracer, ps, span)
      tracer.end(span)
      val rows = ps.map(_.numInputRows).sum
      if (rows != total) {
        failures += s"drain $d committed $rows of $total messages"
        failed += math.abs(total - rows)
      }
      (wall, ps, s0, out)
    }

    // warm-up and check drain (untimed): its windows must equal the
    // bounded batch twin over every window the final watermark closed
    val (_, checkPs, _, checkOut) = drainOnce(0)
    val wm = checkPs.reverse.flatMap(p => Option(p.eventTime.get("watermark"))).headOption
      .map(s => Instant.parse(s).toEpochMilli).getOrElse(0L)
    val got = spark.read.parquet(checkOut.getPath).select("ws", "word", "cnt")
    val twin = Pipelines.windowedWordCount(Pipelines.readQueuesBounded(spark, broker, queues), s"$windowMin minutes")
      .filter(col("ws").cast("long") * 1000L + windowMin * 60000L <= wm)
    val missing = twin.exceptAll(got).count()
    val extra = got.exceptAll(twin).count()
    val windows = got.select("ws").distinct().count()
    val late = checkPs.flatMap(_.stateOperators.toSeq).map(_.numRowsDroppedByWatermark).sum
    rec.num("check.windows", windows.toDouble)
    if (missing + extra > 0 || windows == 0) {
      failures += s"windowed counts differ from the batch twin: $missing missing, $extra extra rows, " +
        s"$windows windows, $late word rows dropped behind the watermark"
      failed += total
    }
    Harness.deleteTree(checkOut)

    // untimed warm-up drains: the JVM keeps getting faster for a few
    (1 to warmups).foreach(w => Harness.deleteTree(drainOnce(-w)._4))

    // timed drains; the traced run alternates listener-on and -off drains
    val walls = ArrayBuffer.empty[Double]
    val tracedDrain = ArrayBuffer.empty[Boolean]
    val latencies = ArrayBuffer.empty[(Double, Long)]
    var lastOut: File = null
    var lastProgress: Seq[StreamingQueryProgress] = Seq.empty
    val measure0 = System.nanoTime()
    var d = 1
    while (d <= minDrains || (System.nanoTime() - measure0) / 1e9 < a.seconds) {
      val traced = a.trace && d % 2 == 1
      EngineListener.active = traced
      val (wall, ps, s0, out) = drainOnce(d)
      ps.filter(_.numInputRows > 0).foreach(p => latencies += ((endMs(p) - s0, p.numInputRows)))
      walls += wall
      tracedDrain += traced
      if (lastOut != null) Harness.deleteTree(lastOut)
      lastOut = out
      lastProgress = ps
      d += 1
    }
    spark.streams.removeListener(progress)
    rec.mark("timed")
    val clean = walls.indices.filterNot(tracedDrain).map(walls)
    val wallMed = Harness.median(if (clean.nonEmpty) clean else walls.toSeq)
    rec.num("measured_s", (System.nanoTime() - measure0) / 1e9)
    rec.nums("pass_samples_s", walls.toSeq)
    rec.num("throughput_per_s", total / wallMed)
    rec.num("latency_p50_ms", weightedPercentile(latencies.toSeq, 50))
    rec.num("latency_p90_ms", weightedPercentile(latencies.toSeq, 90))
    if (a.trace) {
      val traced = walls.indices.filter(tracedDrain).map(walls)
      rec.num("trace.overhead_frac",
        if (traced.nonEmpty && clean.nonEmpty) Harness.median(traced) / Harness.median(clean) - 1 else 0.0)
      streamLayers(rec, lastProgress, lastProgress.size)
      timedSourceCalls(rec, broker)
      rec.num("sources.ack_lag_msgs", queues.map(q => n - GraftQueueSource.ackedCount(broker, q)).sum.toDouble)
      rec.num("sources.ack_lag_max_msgs", ackLagMax.toDouble)
      rec.num("streaming.sink_files_per_trigger",
        tree(lastOut).count(_.getName.endsWith(".parquet")).toDouble / math.max(1, lastProgress.count(_.numInputRows > 0)))
      rec.num("streaming.sink_bytes_per_msg",
        tree(lastOut).filter(_.getName.endsWith(".parquet")).map(_.length).sum.toDouble / total)
      EngineListener.units = walls.indices.count(tracedDrain).toDouble
    }

    rec.num("attempted", (total * (walls.size + 1 + warmups)).toDouble)
    rec.num("failed", failed.toDouble)
    rec.raw("failures", Json.arr(failures.toSeq.map(Json.str)))
  }

  def timedSourceCalls(rec: Record, broker: String): Unit = {
    val reps = 20
    val t = System.nanoTime()
    var sink = 0L
    (1 to reps).foreach(_ => queues.foreach(q => sink += GraftQueueSource.available(broker, q)))
    rec.num("sources.available_ms", (System.nanoTime() - t) / 1e6 / (reps * queues.size))
    rec.num("sources.spool_files", spoolFiles(broker))
    Kernels.blackhole = sink
  }

  def weightedPercentile(xs: Seq[(Double, Long)], q: Double): Double = {
    val s = xs.sortBy(_._1)
    val total = s.map(_._2).sum
    if (total == 0) return Double.NaN
    val target = math.ceil(total * q / 100.0).toLong.max(1L)
    var acc = 0L
    s.find { case (_, w) => acc += w; acc >= target }.map(_._1).getOrElse(s.last._1)
  }

  // ----------------------------------------------------------- ingest

  def ingest(spark: SparkSession, a: Harness.Args, rec: Record, tracer: Tracer): Unit = {
    val rate = a.long("rate")
    val tickMs = a.long("tick-ms")
    val perTick = math.max(1L, rate * tickMs / 1000 / queues.size)
    val warm = 200L // messages each setup repetition drains
    val texts = documentTexts(spark, a.data)
    val rng = new java.util.Random(a.seed)
    def pipeline(broker: String, table: String) =
      Pipelines.tableSink(Pipelines.mapToTextRecord(Pipelines.readQueues(spark, broker, queues)), table)

    // setup: per repetition, a fresh broker with a small pre-published
    // backlog drained once through the same pipeline into a throwaway table
    val reps = a.long("setup-reps").toInt
    val repSecs = (1 to reps).map { r =>
      val broker = new File(a.work, s"warm-broker-$r").getPath
      val table = new File(a.work, s"warm-table-$r").getPath
      val t = System.nanoTime()
      tracer.span(s"setup.$r", tracer.root) { _ =>
        prepublish(broker, texts, new java.util.Random(a.seed + r), warm / queues.size, 1000,
          System.currentTimeMillis() * 1000L, 1000L)
        Pipelines.startWithMaxReadTime(pipeline(broker, table), 60000L)
      }
      val s = (System.nanoTime() - t) / 1e9
      Harness.deleteTree(new File(broker))
      Harness.deleteTree(new File(table))
      s
    }
    val startMsJvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - startMsJvm) / 1e3 - repSecs.sum
    rec.nums("setup_samples_s", repSecs.map(_ + sessionS))
    rec.num("setup_s", sessionS + Harness.median(repSecs))
    rec.mark("setup")

    val broker = new File(a.work, "broker").getPath
    val table = new File(a.work, "table").getPath
    queues.foreach(q => GraftQueueSource.queueDir(broker, q).mkdirs())
    // per queue: cumulative count after each tick, and that tick's due time
    val cum = queues.map(q => q -> ArrayBuffer.empty[Long]).toMap
    val due = ArrayBuffer.empty[Double]
    var lateMax = 0.0
    var published = 0L
    val progress = new Progress
    var ackLagMax = 0L
    var toggle = 0
    if (a.trace) {
      // alternate the engine listener trigger by trigger; the ratio of
      // the two halves' mean trigger time is trace.overhead_frac
      progress.onProgress = { p =>
        toggle += 1
        EngineListener.active = toggle % 2 == 0
        ackLagMax = math.max(ackLagMax, ackLag(broker, p))
      }
    }
    spark.streams.addListener(progress)
    val q = pipeline(broker, table).start()
    val runSpan = tracer.begin("stream", tracer.root)
    val measure0 = System.nanoTime()
    val epoch0 = System.currentTimeMillis().toDouble + tickMs
    val ticks = math.max(1L, (a.seconds * 1000 / tickMs).toLong)
    val gen = Executors.newSingleThreadScheduledExecutor()
    val genError = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    var tick = 0L
    val task = new Runnable {
      def run(): Unit = try {
        if (tick < ticks) {
          val dueMs = epoch0 + tick * tickMs
          lateMax = math.max(lateMax, System.currentTimeMillis() - dueMs)
          queues.foreach { qn =>
            val base = tick * perTick
            GraftQueueBroker.publish(broker, qn, (0L until perTick).map { j =>
              GraftQueueBroker.textMsg(base + j, (dueMs * 1000).toLong, s"topic/$qn",
                texts(rng.nextInt(texts.length)))
            })
            cum(qn) += base + perTick
          }
          due += dueMs
          published += perTick * queues.size
          tick += 1
        }
      } catch { case e: Throwable => genError.compareAndSet(null, e) }
    }
    gen.scheduleAtFixedRate(task, (epoch0 - System.currentTimeMillis()).toLong.max(0L), tickMs, TimeUnit.MILLISECONDS)
    val genEnd = System.currentTimeMillis() + ticks * tickMs + 2 * tickMs
    while (System.currentTimeMillis() < genEnd && tick < ticks) Thread.sleep(20)
    gen.shutdown()
    gen.awaitTermination(10, TimeUnit.SECONDS)
    Option(genError.get).foreach(e => throw e)
    val finalCounts = queues.map(qn => qn -> cum(qn).lastOption.getOrElse(0L)).toMap
    // drain to empty
    val drainDeadline = System.currentTimeMillis() + 60000
    def committed: Map[String, Long] =
      progress.snapshot.lastOption.flatMap(_.sources.headOption).map(s => offsets(s.endOffset)).getOrElse(Map.empty)
    while (queues.exists(qn => committed.getOrElse(qn, 0L) < finalCounts(qn)) &&
           System.currentTimeMillis() < drainDeadline && q.isActive) Thread.sleep(20)
    q.stop()
    rec.mark("timed")
    EngineListener.active = false
    spark.streams.removeListener(progress)
    tracer.end(runSpan)
    val ps = progress.snapshot
    traceTriggers(tracer, ps, runSpan)
    q.exception.foreach(e => throw e)

    // message latency: each committed ordinal range maps back to the
    // ticks that published it
    val lat = ArrayBuffer.empty[(Double, Long)]
    ps.filter(_.numInputRows > 0).foreach { p =>
      val src = p.sources.head
      val (s, e) = (offsets(src.startOffset), offsets(src.endOffset))
      val commitMs = endMs(p)
      queues.foreach { qn =>
        val from = s.getOrElse(qn, 0L)
        val to = e.getOrElse(qn, 0L)
        val c = cum(qn)
        var i = java.util.Arrays.binarySearch(c.toArray, from + 1) match { case k if k >= 0 => k; case k => -k - 1 }
        var lo = from
        while (lo < to && i < c.size) {
          val hi = math.min(to, c(i))
          if (hi > lo) lat += ((commitMs - due(i), hi - lo))
          lo = hi
          i += 1
        }
      }
    }
    val data = ps.filter(_.numInputRows > 0)
    val trig = data.map(dur(_, "triggerExecution"))
    val committedTotal = data.map(_.numInputRows).sum
    val lastCommit = if (data.isEmpty) Double.NaN else data.map(endMs).max
    rec.num("measured_s", (System.nanoTime() - measure0) / 1e9)
    rec.nums("pass_samples_s", trig.map(_ / 1000.0))
    rec.num("latency_p50_ms", weightedPercentile(lat.toSeq, 50))
    rec.num("latency_p90_ms", weightedPercentile(lat.toSeq, 90))
    rec.num("throughput_per_s", committedTotal / ((lastCommit - epoch0) / 1000.0))
    rec.num("generator_late_ms", lateMax)
    if (a.trace) {
      // listener-on triggers are the odd-indexed progress events' successors
      val on = ps.indices.filter(i => i > 0 && i % 2 == 0 && ps(i).numInputRows > 0).map(i => dur(ps(i), "triggerExecution"))
      val off = ps.indices.filter(i => i > 0 && i % 2 == 1 && ps(i).numInputRows > 0).map(i => dur(ps(i), "triggerExecution"))
      rec.num("trace.overhead_frac",
        if (on.nonEmpty && off.nonEmpty) (on.sum / on.size) / (off.sum / off.size) - 1 else 0.0)
      streamLayers(rec, ps, ps.size)
      timedSourceCalls(rec, broker)
      val fin = committed
      rec.num("sources.ack_lag_msgs", queues.map(qn => fin.getOrElse(qn, 0L) - GraftQueueSource.ackedCount(broker, qn)).sum.toDouble)
      rec.num("sources.ack_lag_max_msgs", ackLagMax.toDouble)
      val files = tree(new File(table, "data")).filter(_.getName.endsWith(".parquet"))
      rec.num("streaming.sink_files_per_trigger", files.size.toDouble / math.max(1, data.size))
      rec.num("streaming.sink_bytes_per_msg", files.map(_.length).sum.toDouble / math.max(1L, committedTotal))
      rec.num("ingest.generator_late_ms", lateMax)
      EngineListener.units = math.max(1, data.size / 2).toDouble
    }

    // check (untimed): every published (queue, message_id) exactly once,
    // and no queue acked past what was committed
    val failures = ArrayBuffer.empty[String]
    val t = Pipelines.readTable(spark, table)
    val rows = t.count()
    val distinct = t.select("queue", "message_id").distinct().count()
    val expected = queues.map(qn =>
      t.filter(col("queue") === qn && col("message_id") < finalCounts(qn)).select("message_id").distinct().count()).sum
    val lost = published - expected
    val dup = rows - distinct
    if (lost != 0) failures += s"$lost published messages never reached the table"
    if (dup != 0) failures += s"$dup duplicate rows in the table"
    if (rows != published) failures += s"table holds $rows rows for $published published messages"
    val fin = committed
    queues.foreach { qn =>
      val acked = GraftQueueSource.ackedCount(broker, qn)
      if (acked > fin.getOrElse(qn, 0L)) failures += s"$qn acked $acked past committed ${fin.getOrElse(qn, 0L)}"
    }
    rec.num("attempted", published.toDouble)
    rec.num("failed", (math.abs(lost) + math.abs(dup) + (if (failures.nonEmpty && lost == 0 && dup == 0) published else 0L)).toDouble)
    rec.raw("failures", Json.arr(failures.toSeq.map(Json.str)))
  }
}
