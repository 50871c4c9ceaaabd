package graft.streaming

import graft.functions.BinRecordColumns.decodeRecord
import graft.functions.Texts
import graft.model.{DedupedMsg, GraftBytesRecord, GraftStructRecord, GraftTextRecord}
import graft.sources.GraftQueueSource
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQueryListener}
import org.apache.spark.sql.Row
import scala.jdk.CollectionConverters._

/** Streaming pipelines over the graft queue source — the Spark
  * re-expression of the reference's sample pipelines:
  *  - message mappers ≙ InboundMessageMapper / StringMessageMapper
  *    (solace-apache-beam-samples/.../common/StringMessageMapper.java),
  *    except they are Catalyst projections producing typed Datasets;
  *  - windowedWordCount ≙ WindowedWordCountSolace.java:120-150
  *    (fixed windows + CountWords), with an event-time watermark on
  *    the sender timestamp (the useSenderTimestamp option);
  *  - fileSinkPerWindow ≙ common/WriteOneFilePerWindow.java — one
  *    parquet directory partition per window via partitionBy;
  *  - QueueStatsListener ≙ SolaceReaderStats.java — per-batch row /
  *    backlog accounting surfaced through the engine's listener bus.
  */
object Pipelines {

  /** readStream from the queue broker (SolaceIO.read equivalent). */
  def readQueues(
      spark: SparkSession,
      brokerDir: String,
      queues: Seq[String],
      maxRecordsPerTrigger: Option[Long] = None): DataFrame = {
    val r = spark.readStream
      .format(GraftQueueSource.FORMAT)
      .option("brokerDir", brokerDir)
      .option("queues", queues.mkString(","))
    maxRecordsPerTrigger.foreach(n => r.option("maxRecordsPerTrigger", n.toString))
    r.load()
  }

  /** Bounded (batch) read of the same queues — maxNumRecords mode. */
  def readQueuesBounded(
      spark: SparkSession,
      brokerDir: String,
      queues: Seq[String],
      maxNumRecords: Option[Long] = None): DataFrame = {
    val r = spark.read
      .format(GraftQueueSource.FORMAT)
      .option("brokerDir", brokerDir)
      .option("queues", queues.mkString(","))
    maxNumRecords.foreach(n => r.option("maxNumRecords", n.toString))
    r.load()
  }

  /** StringMessageMapper: payload bytes → UTF-8 text. */
  def mapToText(messages: DataFrame): Dataset[String] = {
    import messages.sparkSession.implicits._
    messages.select(col("payload").cast("string")).as[String]
  }

  /** SolaceTextRecord mapper: full metadata + text payload. */
  def mapToTextRecord(messages: DataFrame): Dataset[GraftTextRecord] = {
    import messages.sparkSession.implicits._
    messages.select(
      col("queue"), col("destination"), col("message_id"),
      col("sender_ts"), col("receive_ts"), col("priority"),
      col("redelivered"), col("reply_to"), col("sequence_number"),
      col("time_to_live"), col("payload").cast("string").as("text"))
      .as[GraftTextRecord]
  }

  /** SolaceByteBuffRecord mapper: raw bytes view. */
  def mapToBytes(messages: DataFrame): Dataset[GraftBytesRecord] = {
    import messages.sparkSession.implicits._
    messages.select(col("queue"), col("message_id"), col("payload")).as[GraftBytesRecord]
  }

  /** Protobuf-sample equivalent: payloads carry GR binary records,
    * decoded by the custom DecodeBinRecord expression (a codegen'd
    * projection, not a per-record callback). */
  def mapToStructRecord(messages: DataFrame): Dataset[GraftStructRecord] = {
    import messages.sparkSession.implicits._
    messages
      .select(col("queue"), col("message_id"), decodeRecord(col("payload")).as("rec"))
      .select(col("queue"), col("message_id"),
        col("rec.id").as("id"), col("rec.value").as("value"), col("rec.tag").as("tag"))
      .as[GraftStructRecord]
  }

  /** Exactly-once projection of an at-least-once stream: stateful
    * message-id dedup via flatMapGroupsWithState. A broker that
    * redelivers unacked messages (SolaceCheckpointMark semantics)
    * yields duplicate (queue, message_id) rows; state remembers seen
    * ids. Pass a TTL to bound state on long-running deployments —
    * note that any processing-time timeout makes the engine schedule
    * continuous no-data micro-batches to fire expirations. */
  def statefulDedup(
      messages: DataFrame, stateTtlMs: Option[Long] = None): Dataset[DedupedMsg] = {
    import messages.sparkSession.implicits._
    val typed = messages
      .select(col("queue"), col("message_id"), col("payload").cast("string").as("text"))
      .as[(String, Long, String)]
    val timeoutConf = if (stateTtlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
                      else GroupStateTimeout.NoTimeout
    typed
      .groupByKey { case (q, id, _) => (q, id) }
      .flatMapGroupsWithState[Boolean, DedupedMsg](OutputMode.Append, timeoutConf) {
        case ((q, id), rows, state: GroupState[Boolean]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) Iterator.empty // duplicate delivery
          else {
            state.update(true)
            stateTtlMs.foreach(state.setTimeoutDuration)
            rows.take(1).map { case (_, _, t) => DedupedMsg(q, id, t) }
          }
      }
  }

  /** Exactly-once dedup with WATERMARK-bounded state — the built-in
    * alternative to [[statefulDedup]]: `dropDuplicatesWithinWatermark`
    * keeps a (queue, message_id) key only until the event-time
    * watermark passes it, so state is bounded by the redelivery
    * horizon instead of by total key cardinality (or by a processing-
    * time TTL that needs no-data micro-batches to fire). The contract
    * matches real broker redelivery: a duplicate arrives within the
    * redelivery window or not at all; a copy later than `watermark`
    * past the original MAY be re-emitted — that is the documented
    * trade for O(window) state at 100 TB key volumes. */
  def watermarkDedup(messages: DataFrame, watermark: String = "1 minute"): DataFrame =
    messages
      .withWatermark("sender_ts", watermark)
      .dropDuplicatesWithinWatermark("queue", "message_id")

  /** Stream-stream interval join: correlate messages from two queues
    * by payload key within ± `tolerance` of event time. Watermarks on
    * both sides bound the join state — the cross-stream enrichment
    * pattern (e.g. clicks ⋈ purchases) the reference leaves to
    * downstream Beam transforms.
    *
    * `joinType` supports the outer variants ("left_outer",
    * "right_outer", "full_outer"): an unmatched row is held in state
    * until the other side's watermark proves no match can still
    * arrive, then emitted with nulls — the correct streaming answer to
    * "clicks that never converted", which an inner join silently
    * drops. */
  def streamStreamJoin(
      left: DataFrame, right: DataFrame, tolerance: String = "30 seconds",
      watermark: String = "1 minute", joinType: String = "inner"): DataFrame = {
    val l = left
      .select(col("payload").cast("string").as("k"),
        col("sender_ts").as("lt"), col("message_id").as("left_id"))
      .withWatermark("lt", watermark)
    val r = right
      .select(col("payload").cast("string").as("k2"),
        col("sender_ts").as("rt"), col("message_id").as("right_id"))
      .withWatermark("rt", watermark)
    l.join(r, expr(
      s"k = k2 AND rt BETWEEN lt - INTERVAL $tolerance AND lt + INTERVAL $tolerance"),
      joinType)
      // coalesce: an unmatched RIGHT row (right/full outer) has a null
      // left-side k — the join key must still be populated from k2
      .select(coalesce(col("k"), col("k2")).as("k"),
        col("left_id"), col("right_id"), col("lt"), col("rt"))
  }

  /** Fixed-window word count over message text with an event-time
    * watermark on the chosen timestamp (sender_ts ↔ useSenderTimestamp,
    * receive_ts otherwise). Works on both batch and streaming frames. */
  def windowedWordCount(
      messages: DataFrame,
      windowLength: String = "1 minute",
      useSenderTimestamp: Boolean = true,
      watermark: String = "2 minutes"): DataFrame = {
    val tsCol = if (useSenderTimestamp) "sender_ts" else "receive_ts"
    val withTs =
      if (messages.isStreaming) messages.withWatermark(tsCol, watermark) else messages
    withTs
      .select(col(tsCol).as("ts"), col("payload").cast("string").as("text"))
      .select(col("ts"), explode(Texts.tokens(col("text"))).as("word"))
      .groupBy(window(col("ts"), windowLength), col("word"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("ws"), col("word"), col("cnt"))
  }

  /** Wildcard topic routing ON THE STREAM: match each message's
    * destination against Solace-style subscriptions (single-level `*`
    * and multi-level `>` wildcards) with the codegen TopicMatches
    * expression and tag it with every
    * matching subscription — the broker's subscription fan-out as a
    * stream-static broadcast join (subscriptions are tiny and static;
    * the stream never shuffles). */
  def routeByTopic(messages: DataFrame, subscriptions: Seq[String]): DataFrame = {
    import messages.sparkSession.implicits._
    val subs = broadcast(subscriptions.toDF("sub"))
    messages.crossJoin(subs)
      .filter(graft.functions.TopicMatches.topicMatches(col("sub"), col("destination")))
      .select(col("sub"), col("queue"), col("message_id"), col("destination"))
  }

  /** Stream-static enrichment: broadcast-join a static dimension onto
    * the message stream (the lookup-then-land step of the table-sink
    * pipelines). The stream side never shuffles; the dimension is
    * re-planned per micro-batch, so a dimension backed by a mutable
    * table picks up changes between triggers. */
  def enrich(messages: DataFrame, dim: DataFrame, key: String): DataFrame =
    messages.join(broadcast(dim), Seq(key), "left_outer")

  /** Per-queue SESSION windows over message event time: activity
    * bursts separated by `gap` of silence collapse into one session
    * (Spark's merge-on-shuffle session_window — no per-key sort).
    * Works on both streaming and batch frames, so the spec can assert
    * stream ≡ batch directly. */
  def sessionCounts(
      messages: DataFrame,
      gap: String = "30 seconds",
      useSenderTimestamp: Boolean = true,
      watermark: String = "2 minutes"): DataFrame = {
    val tsCol = if (useSenderTimestamp) "sender_ts" else "receive_ts"
    val withWm =
      if (messages.isStreaming) messages.withWatermark(tsCol, watermark) else messages
    withWm
      .groupBy(col("queue"), session_window(col(tsCol), gap).as("sw"))
      .agg(count(lit(1)).as("n_msgs"))
      .select(col("queue"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_msgs"))
  }

  /** WriteOneFilePerWindow: append parquet partitioned by window start
    * so each window lands in its own directory partition. */
  def fileSinkPerWindow(counts: DataFrame, outDir: String): DataStreamWriter[Row] = {
    NioLocalFileSystem.install(counts.sparkSession)
    counts
      .withColumn("window_part", date_format(col("ws"), "yyyyMMdd_HHmmss"))
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", outDir + "/_checkpoint")
      .partitionBy("window_part")
  }

  /** SolaceBigQuery.java:63 equivalent: stream mapped records into a
    * queryable partitioned parquet table with exactly-once rows.
    *
    * The reference maps messages to TableRows and leans on the sink
    * for dedup; here each micro-batch is merged idempotently — rows
    * whose (queue, message_id) key the table already holds are dropped
    * before the append. That makes the sink safe under BOTH broker
    * redelivery (at-least-once upstream) and micro-batch replay after
    * a crash (the same batch re-runs and every row it already landed
    * drops out). The table is partitioned by (queue, kb) — queue for
    * the consumer-facing layout, kb (the key-hash bucket) so a batch
    * touches a bounded set of leaves.
    *
    * The keys are checked against the table's [[TableKeys]], built once
    * per sink: it holds each touched leaf's file names and message ids
    * on the driver and validates them every trigger by listing only
    * the leaves the batch touches. A query's first trigger reads the
    * touched history once; later triggers read only files they have
    * not seen — none, while this query is the table's one writer — so
    * a trigger costs O(batch), not O(history). A vanished file
    * (compaction, migration, a manual delete) makes its leaf read
    * whole again. Driver memory is O(message ids in the touched
    * leaves); a second concurrent writer to the same table is not
    * supported.
    *
    * Each trigger is one pass partitioned by (queue, kb) into the
    * session's shuffle-partition count: the batch is hash-partitioned
    * once, the in-batch dedup reuses that exchange, and the write runs
    * that many tasks wide with each leaf directory written by exactly
    * one task (one file per touched leaf), without forking a process
    * per file ([[NioLocalFileSystem]]). */
  def tableSink(records: Dataset[GraftTextRecord], tablePath: String): DataStreamWriter[GraftTextRecord] = {
    val held = new TableKeys(tablePath + "/data", Seq("queue", "kb", "message_id"), Seq("queue", "kb"))
    NioLocalFileSystem.install(records.sparkSession)
    records.writeStream
      .outputMode("append")
      .option("checkpointLocation", tablePath + "/_checkpoint")
      .foreachBatch { (batch: Dataset[GraftTextRecord], _: Long) =>
        val spark = batch.sparkSession
        // set explicitly so AQE cannot coalesce the pass to one task
        val n = spark.sessionState.conf.numShufflePartitions
        // redelivery can land BOTH copies of a message in one trigger —
        // dedup inside the batch before the check against the table.
        // kb is a function of (queue, message_id), so deduping on
        // (queue, kb, message_id) is the same dedup and reuses the
        // (queue, kb) exchange. Cached so the SOURCE is read and
        // shuffled ONCE per trigger: the key collect fills the cache (a
        // cache costs no job of its own, a localCheckpoint would) and
        // the write reuses it in its (queue, kb) partitioning, so each
        // leaf is written by one task.
        val fresh = batch.toDF().withColumn("kb",
            graft.operators.DedupOps.keyBucket(col("queue"), col("message_id")))
          .repartition(n, col("queue"), col("kb"))
          .dropDuplicates("queue", "kb", "message_id")
          .persist()
        try held.append(fresh)
        finally fresh.unpersist()
        ()
      }
  }

  /** One-time migration of a pre-kb [[tableSink]] table (queue-only
    * partitioning, written before the kb layout) into the current
    * (queue, kb) layout — the rewrite [[tableSink]] refuses to run
    * without. Run with the stream STOPPED: rewrite to a sibling
    * directory, then swap. The swap is delete-then-rename — if the
    * process dies between the two, the rewritten tree survives at
    * `<tablePath>/data.migrating` and the migration is re-runnable
    * (it re-reads whichever of the two directories still holds the
    * data); nothing is lost, exactly like any offline table rewrite. */
  def migrateTableToKb(spark: SparkSession, tablePath: String): Unit = {
    val dataPath = tablePath + "/data"
    val tmpPath = dataPath + ".migrating"
    val fs = new org.apache.hadoop.fs.Path(dataPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataP = new org.apache.hadoop.fs.Path(dataPath)
    val tmpP = new org.apache.hadoop.fs.Path(tmpPath)
    val srcP = if (fs.exists(dataP)) dataP else tmpP
    val old = spark.read.parquet(srcP.toString)
    if (old.columns.contains("kb")) {
      // already migrated (or a re-run after a crash mid-swap): just
      // finish the swap if the data sits in the temp directory
      if (srcP == tmpP) { require(fs.rename(tmpP, dataP), s"rename $tmpP -> $dataP failed") }
      return
    }
    old.withColumn("kb",
        graft.operators.DedupOps.keyBucket(col("queue"), col("message_id")))
      .write.mode("overwrite").partitionBy("queue", "kb").parquet(tmpPath)
    require(fs.delete(dataP, true), s"delete of pre-kb $dataPath failed")
    require(fs.rename(tmpP, dataP), s"rename $tmpPath -> $dataPath failed")
  }

  /** Read back the table written by [[tableSink]]. */
  def readTable(spark: SparkSession, tablePath: String): DataFrame =
    spark.read.parquet(tablePath + "/data")
      .drop("kb") // layout detail, not consumer schema

  // ---- bounded idempotency for the foreachBatch sinks ----
  //
  // The sinks' exactly-once contract must survive CHECKPOINT LOSS
  // (the specs replay the whole spool from a fresh checkpoint), so
  // seen keys cannot live in the state store — they live in the
  // output table itself. Every sink table is Hive-partitioned by
  // kb = pmod(xxhash64(key…), DedupOps.keyBuckets) (equal keys share a
  // bucket), and each table's [[TableKeys]], built once per sink,
  // holds the keys it has read or written, validated every trigger by
  // listing only the leaves the batch touches: after a query's first
  // trigger an append reads only files it has not seen, which at one
  // writer is none. A table written before the kb layout is REFUSED
  // (see [[TableKeys.hasParquetData]]); the one-time rewrite is
  // [[migrateTableToKb]].

  /** One deterministic row per doc_id within a trigger: the latest
    * sender timestamp wins, ties broken by sequence number and then
    * payload text — a redelivered EDITED document resolves
    * identically on every run and every partitioning (a bare
    * `dropDuplicates` would keep whichever copy a partition race
    * happens to deliver first). Emits (doc_id, text, kb). */
  private def latestDocVersion(batch: Dataset[Row]): DataFrame =
    batch
      .select(col("message_id").as("doc_id"),
        struct(col("sender_ts"), col("sequence_number"),
          col("payload").cast("string").as("text")).as("v"))
      .groupBy("doc_id").agg(max(col("v")).as("v"))
      .select(col("doc_id"), col("v.text").as("text"),
        graft.operators.DedupOps.keyBucket(col("doc_id")).as("kb"))

  /** Ingestion-time DECONTAMINATION on the stream: every micro-batch
    * of incoming documents (message_id = doc_id, payload = UTF-8
    * text) is checked for [[graft.operators.TextOps.decontamGram]]-
    * token overlap with the held-out bench gram set (built once to
    * parquet — [[graft.operators.TextOps.benchGramBuild]]) and SPLIT:
    * clean docs append to `<tablePath>/clean`, contaminated ones to
    * `<tablePath>/quarantine` with their distinct-gram hit counts —
    * auditable and reversible, never silently dropped. The bench side
    * is tiny, so it broadcast-joins onto each trigger's gram stream;
    * per-trigger cost is gram extraction over the new docs only.
    *
    * Idempotent under redelivery and replay like [[tableSink]], with
    * a BOUNDED key check: both tables are [[graft.operators.DedupOps
    * .keyBucket]]-partitioned and each has its own [[TableKeys]], so
    * after a query's first trigger a trigger reads only table files it
    * has not seen — per-trigger read work is bounded by the batch, not
    * by stream history (the tables themselves stay append-only audit
    * logs). The split is
    * per-table: if an EDITED redelivery of an already-clean doc_id
    * later quarantines, both tables hold the id — consumers read the
    * corpus via [[readDecontaminated]], where quarantine wins. */
  def decontaminationSink(messages: DataFrame, benchGramsDir: String,
                          tablePath: String): DataStreamWriter[Row] = {
    val Seq(quarantine, clean) = Seq("quarantine", "clean")
      .map(t => new TableKeys(s"$tablePath/$t", Seq("doc_id"), Seq("kb")))
    NioLocalFileSystem.install(messages.sparkSession)
    messages.writeStream
      .outputMode("append")
      .option("checkpointLocation", tablePath + "/_checkpoint")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val spark = batch.sparkSession
        import graft.functions.Texts.{kGrams, tokens}
        val bench = spark.read.parquet(benchGramsDir)
        // referenced three times below (hits, both splits) —
        // localCheckpoint so the version-resolve shuffle runs once
        val docs = latestDocVersion(batch).localCheckpoint(true)
        // referenced by BOTH writes below — localCheckpoint so the gram
        // explode + bench join runs once per trigger, not per sink
        val hits = docs
          .select(col("doc_id"), explode(
            kGrams(tokens(col("text")), graft.operators.TextOps.decontamGram)).as("gram"))
          .join(bench, Seq("gram"))
          .groupBy(col("doc_id"))
          .agg(count_distinct(col("gram")).as("n_hits"))
          .localCheckpoint(true)
        // each split is cached: its key collect and its write then run
        // its join once
        Seq(quarantine -> docs.join(hits, Seq("doc_id")),
            clean -> docs.join(hits, Seq("doc_id"), "left_anti")).foreach {
          case (held, split) =>
            val rows = split.persist()
            try held.append(rows) finally rows.unpersist()
        }
      }
  }

  /** The decontaminated corpus as consumers should read it: the clean
    * table MINUS anything ever quarantined — so a doc_id whose edited
    * redelivery flipped its verdict is excluded even though its
    * earlier clean version remains in the append-only audit log. */
  def readDecontaminated(spark: SparkSession, tablePath: String): DataFrame =
    spark.read.parquet(tablePath + "/clean")
      .join(spark.read.parquet(tablePath + "/quarantine").select("doc_id"),
        Seq("doc_id"), "left_anti")
      .drop("kb") // layout detail, not consumer schema

  /** Streaming ANN-index ingestion — the vector twin of
    * [[incrementalDedupSink]]: every micro-batch of embedding
    * messages (message_id = vec_id, payload = comma-joined float
    * text; a deployment swaps its own codec projection, the
    * [[mapToTextRecord]] seam) appends to a parquet IVF index via
    * [[graft.operators.VectorOps.ivfAppend]] — frozen-quantizer
    * assignment, batch × k work per trigger, never a corpus pass or
    * rebuild. Before this sink a streaming embedding ingester had
    * incremental DEDUP but had to full-rebuild the vector index per
    * batch; now both indexes take the same per-trigger append, and
    * both reconcile drift with their periodic rebuild
    * ([[graft.operators.VectorOps.ivfBuildIndex]]).
    *
    * Exactly-once shape under redelivery and replay: intra-batch
    * duplicates collapse via dropDuplicates, replayed/redelivered
    * vec_ids are skipped by ivfAppend's anti-join membership guard,
    * and even an unguarded duplicate append is RESULT-safe (every
    * IVF search path collapses duplicate candidates) — the guard
    * bounds index growth, correctness never depended on it.
    *
    * Malformed payloads are REJECTED, not indexed: the text→float
    * decode is a TRY_CAST (under default ANSI mode a plain cast
    * would THROW on the first corrupt token and wedge the stream on
    * that trigger forever), and rows whose decoded embedding is
    * null, contains a null element, or has the wrong width (vs the
    * index's centroid dim) are filtered before
    * [[graft.operators.VectorOps.ivfAppend]] — otherwise a corrupt
    * message would be indexed under null-poisoned distances.
    * Dropping (rather than failing the trigger) mirrors the queue
    * source's permissive parse mode.
    *
    * Like [[incrementalDedupSink]], the sink self-maintains its file
    * layout: each trigger runs the SNAPSHOT-ISOLATED size-tiered
    * threshold check ([[graft.operators.Snapshot.compactTiered]])
    * over `invlist` and `ids`, so per-trigger listing cost stays bounded
    * instead of growing with trigger history — and because merges
    * commit through generation manifests (sources retired, collected
    * only after `graceMs`), a SEPARATE serving process reading this
    * index through [[graft.operators.Snapshot.read]] (as
    * [[graft.operators.VectorOps.annIvfQuery]] does) stays
    * bit-identical while maintenance runs live. The sink's own
    * per-trigger `ids` membership read
    * ([[graft.operators.DedupOps.unindexed]]) is such a read too: it
    * scans the live files listed on the driver, so it starts no Spark
    * listing job however many leaves the store has.
    *
    * `driftEvery = N` (0 = off) additionally runs
    * [[graft.operators.VectorOps.ivfDriftReport]] over every N-th
    * trigger's decoded batch and APPENDS the report row (tagged with
    * the batch id) to `<indexDir>/driftlog` — the monitoring feed
    * that schedules the periodic rebuild; an ingestion stream whose
    * arrivals have drifted off the frozen quantizer erodes recall
    * silently otherwise. An index without a store the report reads
    * (`diststats`, `ids`) fails the trigger with the missing path —
    * rebuild it. foreachBatch is
    * at-least-once, so a trigger replayed after a crash re-appends
    * its report row under the SAME batch_id (deterministically
    * identical values — the report depends only on the batch, the
    * frozen centroids, and the membership total, which the replay
    * leaves unchanged because its own append was either not yet or
    * already committed): read the log through [[driftLog]], which
    * collapses those duplicates. The log joins the per-trigger
    * [[graft.operators.Snapshot.compactTiered]] sweep — a monitoring
    * feed written once per N triggers must not itself become the
    * unbounded small-file store the sweep exists to prevent.
    *
    * Two tail-latency bounds keep single triggers near the median
    * (the measured sf10 spikes: 10-12s vector / 23-29s vector-drift
    * against ~4s / ~5.5s medians): the sweep runs at most 3 merge
    * JOBS per store per trigger (the ids store's 64 leaves hash into
    * maxFiles/2 jitter offsets, so ~8 leaves can cross the threshold
    * on one trigger — deferred leaves drain most-overgrown-first on
    * following triggers), and maintenance SKIPS drift-report triggers
    * when the cadence allows it (driftEvery > 1) — the report and the
    * merge sweep are the two heavyweight per-trigger extras, and there
    * is no reason to ever stack them on the same trigger.
    *
    * `codebooks = true` targets a composed IVF-PQ index
    * ([[graft.operators.VectorOps.ivfpqBuildIndex]]) instead: each
    * trigger runs [[graft.operators.VectorOps.ivfpqAppend]] — coarse
    * assignment against the frozen centroids AND PQ encoding against
    * the frozen per-subspace codebooks — and maintenance sweeps the
    * `codes` store in place of `invlist`. Everything else (decode
    * guard, exactly-once membership anti-join, drift monitoring off
    * the shared diststats baseline, per-trigger bounds) is identical:
    * the serving-layout lifecycle is symmetric across both index
    * families. */
  def vectorIndexSink(messages: DataFrame, indexDir: String,
                      driftEvery: Int = 0,
                      graceMs: Long = graft.operators.Snapshot.DefaultGraceMs,
                      codebooks: Boolean = false)
      : DataStreamWriter[Row] = {
    // the embedding width is a property of the index's frozen
    // centroids — immutable for the life of the directory (a rebuild
    // re-trains positions, never the dimension) — so resolve it ONCE
    // at sink construction instead of a per-trigger parquet read +
    // driver head on the hot path
    val dim = graft.operators.Snapshot
      .read(messages.sparkSession, s"$indexDir/centroids")
      .select(size(col("cv"))).head.getInt(0)
    // running membership total for the drift report's size signal:
    // seeded from the store once (first drift trigger), advanced by
    // each append's genuinely-new count — so the per-trigger report
    // never pays the ids-store count whose file-listing cost grows
    // with trigger history (the measured sf1 vector-drift climb)
    var memberCount = -1L
    NioLocalFileSystem.install(messages.sparkSession)
    messages.writeStream
      .outputMode("append")
      .option("checkpointLocation", indexDir + "/_checkpoint")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val decoded = batch
          .select(col("message_id").as("vec_id"),
            expr("try_cast(split(cast(payload AS string), ',') AS array<float>)")
              .as("embedding"))
          .filter(col("embedding").isNotNull &&
            size(col("embedding")) === dim &&
            !exists(col("embedding"), e => e.isNull))
          .dropDuplicates("vec_id")
        // materialize once only when BOTH the drift report and the
        // append will consume the decode
        val vecs =
          if (driftEvery > 0) decoded.localCheckpoint(true) else decoded
        val reporting = driftEvery > 0 && batchId % driftEvery == 0 && !vecs.isEmpty
        if (reporting) {
          if (memberCount < 0)
            memberCount = graft.operators.Snapshot
              .read(spark, s"$indexDir/ids").count()
          graft.operators.Snapshot.append(graft.operators.VectorOps
            .ivfDriftReport(spark, indexDir, vecs, memberCount = memberCount)
            .withColumn("batch_id", lit(batchId)), s"$indexDir/driftlog")
        }
        val appended =
          if (codebooks) graft.operators.VectorOps.ivfpqAppend(spark, vecs, indexDir)
          else graft.operators.VectorOps.ivfAppend(spark, vecs, indexDir)
        if (memberCount >= 0) memberCount += appended
        // drift-report triggers skip the sweep when the cadence leaves
        // maintenance-only triggers between reports — never stack the
        // two heavyweight extras on one trigger (sf10 tail-latency
        // finding); at driftEvery <= 1 every trigger reports, so
        // skipping would starve maintenance entirely. The drift log is
        // append-only and its reader ([[driftLog]]) dedups by batch_id,
        // so it tolerates the compactor's crash-window duplicate rows
        // like the index stores do
        if (!reporting || driftEvery <= 1)
          maintainIndex(spark, indexDir, Seq(if (codebooks) "codes" else "invlist") ++
            Option.when(driftEvery > 0)("driftlog"), graceMs)
      }
  }

  /** An index's drift-report feed (`<indexDir>/driftlog`), with
    * replayed-trigger duplicates collapsed: foreachBatch is
    * at-least-once, so a crash between the report append and the
    * checkpoint commit re-appends the SAME batch_id's
    * (deterministically identical) row on replay — one row per
    * batch_id survives here. Works for any sink writing the shared
    * driftlog row shape (batch_id + per-signal columns + `drifted`). */
  def driftLog(spark: SparkSession, indexDir: String): DataFrame =
    graft.operators.Snapshot.read(spark, s"$indexDir/driftlog")
      .dropDuplicates("batch_id")

  /** Ingestion-time dedup ON THE STREAM: every micro-batch of incoming
    * documents (message_id = doc_id, payload = UTF-8 text) is first
    * FOLDED INTO the parquet minhash index
    * ([[graft.operators.DedupOps.incrementalIndexUpdate]] — the write
    * half of the lifecycle) and then probed against it
    * ([[graft.operators.DedupOps.probeIndex]], the pure-LSH scale
    * mode); the verified near-dup pairs land in an idempotently-merged
    * parquet table. Update-BEFORE-probe is what makes the sink
    * complete: two brand-new near-identical docs in the same trigger
    * pair up (the probe sees both in the index), and a doc pairs with
    * every earlier trigger's docs without rebuilding anything. This is
    * the online shape of the batch `dedup_incremental` entry: corpus
    * cost stays index reads; per-trigger cost is shingling + signing
    * the new docs only.
    *
    * Exactly-once pairs under redelivery AND micro-batch replay, the
    * [[tableSink]] contract: a pair legitimately derives twice (probing
    * A emits (A,B); probing B later re-emits it), and a replayed
    * trigger re-appends its batch to the index (tolerated — the probe
    * path collapses duplicate index rows), so each batch's pairs
    * anti-join the existing table on (doc_a, doc_b) before appending.
    * Both per-trigger key checks are BOUNDED: the already-indexed
    * check prunes the index's kb-partitioned `ids` table to the
    * batch's buckets ([[graft.operators.DedupOps.unindexed]], a
    * [[graft.operators.Snapshot.read]] of the live files listed on the
    * driver — no listing job), and
    * the pair table is kb-partitioned on (doc_a, doc_b) with its own
    * [[TableKeys]], which after a query's first trigger reads only
    * pair files it has not seen — neither read grows with stream
    * history.
    *
    * Self-maintaining file layout:
    * row-level work per trigger is batch-bounded by the pruned checks
    * above, but each trigger also APPENDS a handful of parquet files
    * to `bands`/`sets`/`ids`, and every later trigger's probe re-LISTS
    * and re-opens them — an O(triggers) per-file cost that showed up
    * as a 1.7× climbing tail over 455 triggers at sf1 (SINKBENCH).
    * Each trigger therefore runs the snapshot-isolated size-tiered
    * threshold check ([[graft.operators.Snapshot.compactTiered]])
    * over the index stores (driver-side listing, merge only when a
    * store crosses its threshold — amortized O(rows appended), never
    * a corpus rewrite). Merges commit through generation manifests,
    * so an external probe reading the index through
    * [[graft.operators.Snapshot.read]] keeps its pinned snapshot for
    * `graceMs` while maintenance runs live.
    * The pair table itself is NOT auto-compacted: duplicate pair rows
    * would surface to consumers, so its maintenance stays the offline
    * [[graft.operators.Maintenance.compactPartitioned]] (stream
    * stopped), and it accretes only ~1 file per trigger.
    *
    * `driftEvery = N` (0 = off) additionally runs
    * [[graft.operators.DedupOps.minhashDriftReport]] over every N-th
    * trigger's batch and appends the report row (tagged with the
    * batch id) to `<indexDir>/driftlog` — the same monitoring feed
    * the vector sink writes (read through [[driftLog]], which
    * collapses replayed batch_ids; the report runs BEFORE the index
    * update, and a replay's re-derived row is deterministically
    * identical either way because the frozen universe never changes
    * between rebuilds and membership totals cancel). An index without
    * its `vocabstats` baseline fails the trigger with the missing path
    * — rebuild it. The driftlog joins the maintenance sweep like the
    * index stores. */
  def incrementalDedupSink(messages: DataFrame, indexDir: String,
                           tablePath: String,
                           driftEvery: Int = 0,
                           graceMs: Long = graft.operators.Snapshot.DefaultGraceMs)
      : DataStreamWriter[Row] = {
    val pairKeys = new TableKeys(tablePath + "/data", Seq("doc_a", "doc_b"), Seq("kb"))
    // running membership total for the drift report's size signal —
    // the vectorIndexSink idiom (seed once, advance per fold)
    var memberCount = -1L
    NioLocalFileSystem.install(messages.sparkSession)
    messages.writeStream
      .outputMode("append")
      .option("checkpointLocation", tablePath + "/_checkpoint")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        // deterministic within-trigger winner; localCheckpoint: docs is
        // referenced by the bucket list, the membership anti-join, and
        // the probe — and the anti-join reads the ids path the update
        // below appends to, so the frame must be materialized before
        // any write plan could scan its own output path
        val docs = latestDocVersion(batch).localCheckpoint(true)
        // drift report BEFORE the index update (frozen universe + the
        // whole batch — redelivery is not drift, the vector sink's rule)
        if (driftEvery > 0 && batchId % driftEvery == 0 && !docs.isEmpty) {
          if (memberCount < 0)
            memberCount = graft.operators.Snapshot
              .read(spark, s"$indexDir/ids").count()
          graft.operators.Snapshot.append(graft.operators.DedupOps
            .minhashDriftReport(spark, indexDir,
              docs.select("doc_id", "text"), memberCount = memberCount)
            .withColumn("batch_id", lit(batchId)), s"$indexDir/driftlog")
        }
        // only genuinely new doc_ids are folded in: CROSS-trigger
        // broker redelivery would otherwise append an identical index
        // row per redelivery, growing the index without bound. First
        // version wins for an edited re-ingest — the index keeps one
        // deterministic copy per doc_id until a periodic rebuild.
        val newDocs = graft.operators.DedupOps.unindexed(docs, indexDir, "doc_id")
          .select("doc_id", "text").localCheckpoint(true)
        if (!newDocs.isEmpty) {
          graft.operators.DedupOps.incrementalIndexUpdate(spark, newDocs, indexDir)
          if (memberCount >= 0) memberCount += newDocs.count()
        }
        // pairs feed the key collect AND the write —
        // localCheckpoint so the probe's verify join runs once
        val pairs = graft.operators.DedupOps
          .probeIndex(spark, docs.select("doc_id", "text"), indexDir)
          .withColumn("kb",
            graft.operators.DedupOps.keyBucket(col("doc_a"), col("doc_b")))
          .localCheckpoint(true)
        pairKeys.append(pairs)
        maintainIndex(spark, indexDir,
          Seq("bands", "sets") ++ Option.when(driftEvery > 0)("driftlog"), graceMs)
      }
  }

  /** Ingestion-time PERCEPTUAL dedup on the stream — the
    * [[incrementalDedupSink]] pattern at the signature granularity, one
    * sink for the image, audio and video families
    * ([[graft.operators.MultimodalOps.PhashFamily]]): every
    * micro-batch's decodable payloads are signed by the family's signer
    * (bit-identical to the batch operator's signatures), FOLDED into
    * the family's banded signature index
    * ([[graft.operators.MultimodalOps.phashIndexUpdate]], ids-last
    * crash ordering), then PROBED against it
    * ([[graft.operators.MultimodalOps.phashProbeIndex]]); the
    * family's verified pairs (Hamming ≤ 6; for video, ≥ 2 matching
    * instants) land in an idempotently-merged parquet table.
    * Update-before-probe: two near-identical payloads in one trigger
    * pair up, and each pairs against all earlier triggers without a
    * rebuild. A video's slots all travel with its payload, so its pair
    * aggregate is complete in the trigger that sees the second member.
    *
    * Unlike the minhash sink there is no frozen-universe drift (the
    * signature kernels are corpus-independent), so no driftlog seat —
    * incremental folds never decay and rebuilds are purely a
    * compaction concern. Exactly-once pairs under redelivery and
    * replay, the [[tableSink]] contract: only signatures the index
    * does not hold are folded ([[graft.operators.DedupOps.unindexed]],
    * pruned to the batch's buckets of the kb-partitioned `ids` table —
    * the stores share the minhash layout), the pair table is
    * kb-partitioned on (doc_a, doc_b) and anti-joined before each
    * append, and a replayed fold's duplicate band rows collapse in the
    * probe's distinct. Per-trigger row work is batch-bounded; the
    * file-count tail is held flat by the same snapshot-isolated tiered
    * compaction as the other index sinks. */
  def phashIndexSink(messages: DataFrame,
                     family: graft.operators.MultimodalOps.PhashFamily,
                     indexDir: String, tablePath: String,
                     graceMs: Long = graft.operators.Snapshot.DefaultGraceMs)
      : DataStreamWriter[Row] = {
    val pairKeys = new TableKeys(tablePath + "/data", Seq("doc_a", "doc_b"), Seq("kb"))
    NioLocalFileSystem.install(messages.sparkSession)
    messages.writeStream
      .outputMode("append")
      .option("checkpointLocation", tablePath + "/_checkpoint")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val spark = batch.sparkSession
        // deterministic within-trigger winner, then sign; materialized
        // because the sigs feed the membership anti-join, the fold,
        // and the probe — and the fold appends to paths the probe
        // reads (the incrementalDedupSink self-scan rule)
        val sigs = family.signer(latestDocVersion(batch))
          .withColumn("kb", graft.operators.DedupOps.keyBucket(col("doc_id")))
          .localCheckpoint(true)
        val newSigs = graft.operators.DedupOps.unindexed(sigs, indexDir, "doc_id")
          .drop("kb").localCheckpoint(true)
        if (!newSigs.isEmpty)
          graft.operators.MultimodalOps.phashIndexUpdate(spark, family, newSigs, indexDir)
        val pairs = graft.operators.MultimodalOps
          .phashProbeIndex(spark, family, sigs.drop("kb"), indexDir)
          .withColumn("kb",
            graft.operators.DedupOps.keyBucket(col("doc_a"), col("doc_b")))
          .localCheckpoint(true)
        pairKeys.append(pairs)
        maintainIndex(spark, indexDir, Seq("bands"), graceMs)
      }
  }

  /** Merge JOBS each store's per-trigger sweep may run — the sf10
    * tail-latency bound: a multi-store or multi-leaf merge wave never
    * stalls one trigger on sequential merges (deferred leaves drain
    * most-overgrown-first on following triggers). */
  private val maxMergeJobs = 3

  /** The index sinks' per-trigger maintenance: the snapshot-isolated
    * size-tiered threshold check ([[graft.operators.Snapshot
    * .compactTiered]]) over each flat store in `flat`, then over the
    * kb-partitioned `ids` membership store. */
  private def maintainIndex(spark: SparkSession, indexDir: String,
                            flat: Seq[String], graceMs: Long): Unit = {
    flat.foreach(store => graft.operators.Snapshot.compactTiered(
      spark, s"$indexDir/$store", graceMs = graceMs, maxMergeJobs = maxMergeJobs))
    graft.operators.Snapshot.compactTieredPartitioned(
      spark, s"$indexDir/ids", graceMs = graceMs, maxMergeJobs = maxMergeJobs)
  }

  /** SolaceIO withMaxReadTime equivalent: start the query with
    * Trigger.AvailableNow — the source freezes the backlog snapshot
    * and the query self-terminates once it is drained — and stop early
    * if the wall-clock deadline passes first. Returns after the query
    * has terminated either way; rows consumed so far are committed. */
  def startWithMaxReadTime(
      writer: DataStreamWriter[_], maxReadTimeMs: Long): Unit = {
    val q = writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      if (!q.awaitTermination(maxReadTimeMs)) q.stop()
    } finally if (q.isActive) q.stop()
  }

  /** SolaceReaderStats equivalent: accumulate per-batch input rows,
    * batch count, the last data trigger's phase times (the largest
    * `addBatch` kept too), and the queue BACKLOG gauge (spool high-water mark
    * minus consumed offset, per queue — the reference's
    * SolaceReaderStats backlog metric) from the listener bus. The
    * engine feeds `latestOffset` from the source's
    * `reportLatestOffset` and `endOffset` from the batch plan; both
    * are this source's {"queue":count} JSON. Only sources whose
    * description names a graft queue source are parsed; an offset of
    * one that fails to parse counts in `offsetParseErrors`, with the
    * last cause kept in `lastOffsetParseError`. */
  class QueueStatsListener extends StreamingQueryListener {
    @volatile var batches: Long = 0L
    @volatile var totalRows: Long = 0L
    @volatile var maxBatchRows: Long = 0L
    @volatile var backlog: Map[String, Long] = Map.empty
    @volatile var maxBacklog: Long = 0L
    /** The `durationMs` phases (`latestOffset`, `addBatch`,
      * `walCommit`, …) of the last trigger that read rows. */
    @volatile var phases: Map[String, Long] = Map.empty
    @volatile var maxAddBatchMs: Long = 0L
    @volatile var offsetParseErrors: Long = 0L
    @volatile var lastOffsetParseError: Option[Throwable] = None

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val rows = e.progress.numInputRows
      if (rows > 0) {
        batches += 1
        totalRows += rows
        maxBatchRows = math.max(maxBatchRows, rows)
        phases = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        maxAddBatchMs = math.max(maxAddBatchMs, phases.getOrElse("addBatch", 0L))
      }
      e.progress.sources.filter(_.description.startsWith(GraftQueueSource.DescriptionPrefix))
        .foreach { s =>
          try {
            val end = Option(s.endOffset).map(GraftQueueSource.offsetsFromJson).getOrElse(Map.empty)
            val latest = Option(s.latestOffset).map(GraftQueueSource.offsetsFromJson).getOrElse(Map.empty)
            if (latest.nonEmpty) {
              backlog = latest.map { case (q, n) => q -> math.max(0L, n - end.getOrElse(q, 0L)) }
              maxBacklog = math.max(maxBacklog, backlog.values.foldLeft(0L)(_ + _))
            }
          } catch {
            case err: Exception =>
              offsetParseErrors += 1
              lastOffsetParseError = Some(err)
          }
        }
    }
  }
}
