package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/** Streaming-sink cost curve — the measurement seat for the sinks'
  * bounded idempotency contract (the SkewBench idiom: make the design
  * claim a number). Streams an incoming-batch slice through a stateful
  * sink in many small triggers and records per-trigger wall times from
  * the engine's progress events. Every trigger grows the sink's index
  * state, so an O(history) per-trigger key check (or an unbounded
  * per-trigger file accretion — the compactor's job) would show a
  * climbing tail; the pass condition is a flat (or JIT-declining)
  * tail: last-10-trigger mean ≤ ~first-10 mean.
  *
  * Six modes over the four stateful index sinks:
  *  - `dedup` — the ~10% document slice through
  *    [[graft.streaming.Pipelines.incrementalDedupSink]] (minhash
  *    index + kb-partitioned pair table);
  *  - `phash`, `audio-phash`, `video-phash` — the same document slice
  *    through [[graft.streaming.Pipelines.phashIndexSink]] for the
  *    image, audio and video signature families (the sink's population
  *    filter drops the payloads its family does not sign, map-side —
  *    the realistic mixed-ingest shape);
  *  - `vector` — a third of the embedding corpus through
  *    [[graft.streaming.Pipelines.vectorIndexSink]] against a
  *    frozen-quantizer IVF index of the other two thirds (the
  *    StreamingSpec carve-out setup, [[carveIndex]]);
  *  - `vector-drift` — the same run with `driftEvery = 1`, so every
  *    trigger also pays the [[graft.operators.VectorOps
  *    .ivfDriftReport]] + driftlog append: the measured price of
  *    per-trigger drift monitoring, and proof the report's own key
  *    checks stay O(batch) (a climbing tail here would mean the
  *    monitoring defeats the bounded-trigger contract it guards).
  *
  * `sbt "runMain graft.SinkBench [sfDir] [outFile] [triggers] [mode]
  * [graceMs] [sliceTenths]"`
  * → one JSON line (stdout + artifact), the Bench convention.
  */
object SinkBench {

  /** A vector index at `dir` whose lists hold only the members of the
    * full index at `full` that `keep(vec_id)` admits — the carve-out
    * the vector sink benches and specs stream the rest into. A copy of
    * the full index (same quantizer, codebooks, baselines and radius —
    * a superset of what the kept members need, so still a valid
    * certificate) whose list table (`invlist`, or `codes` for IVF-PQ)
    * and `ids` are replaced by their filtered rows. */
  def carveIndex(spark: SparkSession, full: String, dir: String,
                 keep: Column => Column): Unit = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new Path(dir)
    val fs = streaming.NioLocalFileSystem.fileSystem(dst, conf)
    fs.mkdirs(dst)
    FileUtil.copy(fs, fs.listStatus(new Path(full)).map(_.getPath), fs, dst, false, true, conf)
    val lists = if (fs.exists(new Path(s"$dir/codes"))) "codes" else "invlist"
    Seq(lists -> "neighbor_id", "ids" -> "vec_id").foreach { case (t, id) =>
      operators.Snapshot.stageReplace(spark, s"$dir/$t",
        operators.Snapshot.read(spark, s"$dir/$t").filter(keep(col(id))),
        partitionCols = if (t == "ids") Seq("kb") else Nil).commit()
    }
  }

  def main(args: Array[String]): Unit = {
    val stealStart = HostStat.readStealTicks()
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outFile = args.lift(1).getOrElse("sink-bench.json")
    val triggers = args.lift(2).map(_.toInt).getOrElse(40)
    val mode = args.lift(3).getOrElse("dedup")
    // GC grace for the sinks' snapshot maintenance (ms). The default
    // 10-min grace never GCs inside a minutes-long bench run, so the
    // retired backlog this knob bounds in production is unbounded here
    // — pass a grace sized to the bench's trigger cadence to measure
    // the steady state a real deployment (grace ≪ run length) sees.
    val graceMs = args.lift(4).map(_.toLong)
      .getOrElse(operators.Snapshot.DefaultGraceMs)
    // document modes: how many doc_id%10 residues stream (rest are
    // indexed). Default 1 = the historical {7} slice; larger widths
    // exist to push rows/trigger toward REAL batch sizes (10⁴) that
    // the 10% slice cannot reach while keeping ≥36 triggers — the
    // amortization evidence the toy batches only argue for.
    val sliceTenths = args.lift(5).map(_.toInt).getOrElse(1)
    require(sliceTenths >= 1 && sliceTenths <= 9, "sliceTenths in [1,9]")
    // recentProgress defaults to 100 retained entries — a longer run
    // would silently drop its EARLIEST triggers and bias first10
    // toward the warmed middle, hiding exactly the climbing tail
    // this bench exists to detect
    val spark = GraftSession.local(GraftSession.cpus,
      "spark.sql.streaming.numRecentProgressUpdates" -> (triggers + 64).toString)

    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toFile.getAbsolutePath

    def stream(broker: String, queue: String, slice: Int,
               sink: DataFrame => DataStreamWriter[Row]): (StreamingQuery, Long) = {
      val per = math.max(1L, slice.toLong / triggers)
      val msgs = streaming.Pipelines.readQueues(
        spark, broker, Seq(queue), maxRecordsPerTrigger = Some(per))
      val q = sink(msgs)
        .option("checkpointLocation", tmp("graft-sinkbench-ckpt")).start()
      try q.processAllAvailable() finally q.stop()
      (q, per)
    }

    // the document modes: the index covers the corpus minus the
    // streamed doc_id % 10 residues, and the slice arrives as document
    // messages. sliceTenths = 1 keeps the historical {7} residue so
    // prior artifacts stay comparable; wider slices stream the top
    // residues {10-w .. 9}.
    def docMode(build: (String, Column) => Unit,
                sink: (String, String) => DataFrame => DataStreamWriter[Row])
        : (StreamingQuery, Long) = {
      val streamed: Column =
        if (sliceTenths == 1) pmod(col("doc_id"), lit(10)) === 7
        else pmod(col("doc_id"), lit(10)) >= (10 - sliceTenths)
      val idx = tmp("graft-sinkbench-idx")
      build(idx, !streamed)
      val slice = Tables(spark, sfDir, "documents")
        .filter(streamed)
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val broker = tmp("graft-sinkbench-broker")
      sources.GraftQueueBroker.publish(broker, "docs", slice.map { case (id, text) =>
        sources.GraftQueueBroker.textMsg(
          id, 1700000000000000L + id * 1000L, "t/docs/0", text)
      })
      stream(broker, "docs", slice.length, sink(idx, tmp("graft-sinkbench-table")))
    }

    val phashFamilies = Map(
      "phash" -> operators.MultimodalOps.imagePhashFamily,
      "audio-phash" -> operators.MultimodalOps.audioPhashFamily,
      "video-phash" -> operators.MultimodalOps.videoPhashFamily)

    val (q, per) = mode match {
      case "dedup" =>
        docMode(operators.DedupOps.incrementalIndexBuild(spark, sfDir, _, _),
          (idx, table) => streaming.Pipelines.incrementalDedupSink(_, idx, table,
            graceMs = graceMs))

      case "vector" | "vector-drift" =>
        // frozen quantizer over the full corpus, lists carved down to
        // two thirds; the missing third arrives as embedding messages.
        // vector-drift streams through the identical setup with the
        // per-trigger drift report on (diststats comes with the build).
        val idxFull = tmp("graft-sinkbench-vecfull")
        operators.VectorOps.ivfBuildIndex(spark, sfDir, idxFull)
        val idx = tmp("graft-sinkbench-vecidx")
        carveIndex(spark, idxFull, idx, id => pmod(id, lit(3)) =!= 0)
        val slice = Tables(spark, sfDir, "embeddings")
          .filter(col("vec_id") >= operators.VectorOps.nQueries &&
            pmod(col("vec_id"), lit(3)) === 0)
          .select("vec_id", "embedding").collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1)))
        val broker = tmp("graft-sinkbench-broker")
        sources.GraftQueueBroker.publish(broker, "vecs", slice.map { case (id, emb) =>
          sources.GraftQueueBroker.textMsg(
            id, 1700000000000000L + id * 1000L, "t/vecs/0", emb.mkString(","))
        })
        val driftEvery = if (mode == "vector-drift") 1 else 0
        stream(broker, "vecs", slice.length,
          streaming.Pipelines.vectorIndexSink(_, idx, driftEvery = driftEvery,
            graceMs = graceMs))

      case m if phashFamilies.contains(m) =>
        val family = phashFamilies(m)
        docMode(operators.MultimodalOps.phashIndexBuild(spark, family, sfDir, _, _),
          (idx, table) => streaming.Pipelines.phashIndexSink(_, family, idx, table,
            graceMs = graceMs))

      case other =>
        throw new IllegalArgumentException(
          s"unknown mode '$other' (dedup | vector | vector-drift | phash | " +
            "video-phash | audio-phash)")
    }

    val durs = q.recentProgress.toSeq
      .filter(_.numInputRows > 0)
      .sortBy(_.batchId)
      .map(p => p.batchId -> p.durationMs.get("triggerExecution").toLong)
    // ≥ 21 post-warmup triggers so the head and tail windows are
    // DISJOINT — an overlapping trigger counted in both means biases
    // the ratio toward the flat 1.0 this bench is supposed to earn
    require(durs.size >= 22, s"only ${durs.size} data triggers — raise the trigger count")
    def mean(xs: Seq[Long]): Double = xs.sum.toDouble / xs.size
    // drop the first trigger (cold JVM + first-write table setup)
    val body = durs.drop(1).map(_._2)
    val first = mean(body.take(10))
    val last = mean(body.takeRight(10))
    // The cost curve has TWO regimes: triggers before the stores
    // reach their per-leaf compaction threshold (no merges, no
    // retired files — maxFilesPerLeaf 16 × 1 file/leaf/trigger puts
    // the boundary at ~trigger 16) and the MAINTENANCE EQUILIBRIUM
    // after it (periodic merges + grace-window retired-file pinning —
    // a one-time STEP, amortized at real batch sizes where trigger
    // work dominates). last10/first10 mislabels that step as a climb
    // when the run starts clean, so the boundedness verdict is the
    // EQUILIBRIUM ratio: last10 vs the first post-step window —
    // growth there means an actual per-trigger cost that scales with
    // history, which is what this bench exists to catch. The window
    // starts at EXACTLY trigger 16 and is emitted only when the run
    // is long enough (≥36 body triggers) for it to be both fully
    // post-step and disjoint from last10 — a shorter run's "eq"
    // window would straddle the pre-compaction regime (or alias the
    // legacy first10), mislabeling the step as equilibrium growth.
    def fmt(v: Double): String =
      java.lang.String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    val eqFields =
      if (body.size >= 36) {
        val mid = mean(body.slice(16, 26))
        s""""eq10_mean":${fmt(mid)},"eq_ratio":${fmt(last / mid)},"""
      } else "" // run too short for a trustworthy equilibrium window
    // host CPU-steal delta over the run (ticks, /proc/stat cpu field
    // 8) — the shared-host attribution evidence: an isolated 3-10x
    // trigger episode on a steal-quiet run (delta ≈ 0) would be a
    // real plan defect, while the same episode under a steal burst is
    // the box. Absent (null) off Linux.
    val stealDelta =
      HostStat.deltaJson(stealStart, HostStat.readStealTicks())
    val med = body.sorted.apply(body.size / 2).toDouble
    val line =
      s"""{"metric":"sink_trigger_ms","sink":"$mode","sf":"$sfDir","triggers":${durs.size},""" +
        s""""grace_ms":$graceMs,"slice_tenths":$sliceTenths,""" +
        s""""rows_per_trigger":$per,"first10_mean":${fmt(first)},""" +
        s""""last10_mean":${fmt(last)},"ratio":${fmt(last / first)},""" +
        eqFields +
        s""""median_ms":${fmt(med)},"max_ms":${body.max},""" +
        s""""max_over_median":${fmt(body.max / med)},""" +
        s""""steal_ticks":$stealDelta,""" +
        s""""per_trigger":[${durs.map(_._2).mkString(",")}]}"""
    println(line)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    catch { case e: Throwable => System.err.println(s"[sinkbench] artifact write failed: $e") }
    spark.stop()
  }
}
