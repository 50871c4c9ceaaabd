package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.Base64

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A queue-broker-backed streaming source — the Spark re-expression of
  * the reference's UnboundedSource design
  * (beam-sdks-java-io-solace/.../UnboundedSolaceSource.java:30-70 —
  * one reader slice per queue;  UnboundedSolaceReader.java — poll,
  * client-ack batches when a checkpoint is finalized;
  * SolaceCheckpointMark.java — messages deleted only on commit).
  *
  * Broker emulation: a directory per queue under `brokerDir`, spool
  * files of TSV message lines appended by [[GraftQueueBroker.publish]].
  * Mapping to Spark Structured Streaming:
  *  - queue ↔ InputPartition: each micro-batch plans exactly one
  *    partition per queue → per-queue ordering is preserved and
  *    parallelism = number of queues, exactly like the reference's
  *    `split(desiredNumSplits)` capping at the queue count;
  *  - offsets: per-queue consumed-line counts (monotone, replayable);
  *  - client-ack on checkpoint commit: `commit(end)` writes
  *    `_acks/<queue>` high-water marks — the broker-side "delete";
  *  - `maxRecordsPerTrigger` (SupportsAdmissionControl) = the
  *    reference's maxNumRecords flow-control knob, split evenly over
  *    the queues ([[GraftQueueSource.waterFill]]);
  *  - redelivered flag: rows below the acked high-water mark were
  *    delivered before (restart without commit) — same signal as
  *    JMSRedelivered.
  *
  * Full SolaceIO.Read option mapping (SolaceIO.java:70-150):
  *  - withQueues            → `queues` option (comma-separated)
  *  - withCoder / mapper    → typed mappers in graft.streaming.Pipelines
  *  - withUseSenderTimestamp→ choose sender_ts vs receive_ts downstream
  *    (both are first-class columns; watermark on either)
  *  - withMaxNumRecords     → `maxNumRecords` (bounded batch scan) or
  *    `maxRecordsPerTrigger` (flow control on the unbounded path)
  *  - withMaxReadTime       → Trigger.AvailableNow (the stream freezes
  *    the spool snapshot via SupportsTriggerAvailableNow and drains to
  *    it) plus a deadline stop — see Pipelines.startWithMaxReadTime
  *  - withAdvanceTimeoutInMillis → N/A: micro-batch planning replaces
  *    the per-poll blocking receive loop entirely
  *
  * Reader robustness (`parseMode` option) — the analogue of the
  * reference's JCSMP-layer broker-error surfacing
  * (UnboundedSolaceReader.java poll/ack error handling):
  *  - `failfast` (default): a malformed spool line kills the stream
  *    with queue/file/ordinal/line context, never a bare
  *    NumberFormatException from deep inside `next()`;
  *  - `permissive`: malformed lines are skipped and counted — the
  *    count is a DSv2 custom metric ("malformedLines", summed across
  *    tasks by the driver, visible in the SQL UI), and offsets still
  *    advance by spool ordinal so a skip never stalls or replays the
  *    stream.
  */
object GraftQueueSource {

  /** JVM-local total of malformed spool lines skipped by permissive
    * readers — direct test/ops visibility in local mode. The
    * cluster-correct surface is the "malformedLines" custom metric
    * (per-task values aggregated by the driver); this adder is the
    * local-JVM mirror, same pattern as a Beam Counter metric. */
  val malformedSkipped = new java.util.concurrent.atomic.LongAdder
  val schema: StructType = StructType(Seq(
    StructField("queue", StringType, nullable = false),
    StructField("destination", StringType, nullable = true),
    StructField("message_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("sender_ts", TimestampType, nullable = true),
    StructField("receive_ts", TimestampType, nullable = true),
    StructField("priority", IntegerType, nullable = false),
    StructField("redelivered", BooleanType, nullable = false),
    StructField("reply_to", StringType, nullable = true),
    StructField("sequence_number", LongType, nullable = false),
    StructField("time_to_live", LongType, nullable = false)))

  val FORMAT: String = classOf[GraftQueueSourceProvider].getName

  /** How the micro-batch stream names itself (`GraftQueueSource[q0,q1]`). */
  val DescriptionPrefix = "GraftQueueSource["

  /** A trigger's or a bounded read's `budget` split over queues holding `avail` rows each,
    * by water-filling: queues are visited shortest first (ties in the
    * given order) and each takes at most the floor of an equal share of
    * what is left, so a short queue's leftover goes to the longer ones
    * and the takes of queues that are not drained differ by at most 1.
    * Queues filled side by side thus stay level in event time; spending
    * the budget in queue order runs the watermark past the later
    * queues' backlog and drops their rows as late. An unlimited budget
    * takes everything. */
  def waterFill(avail: Seq[Long], budget: Long): Seq[Long] = {
    val takes = Array.fill(avail.size)(0L)
    var left = budget
    var k = avail.size
    avail.indices.sortBy(avail).foreach { i =>
      takes(i) = math.min(avail(i), left / k)
      left -= takes(i)
      k -= 1
    }
    takes.toSeq
  }

  // ---- spool / offset plumbing (shared by stream + batch paths) ----

  def queueDir(brokerDir: String, queue: String): File = new File(brokerDir, queue)

  def spoolFiles(brokerDir: String, queue: String): Seq[File] = {
    val d = queueDir(brokerDir, queue)
    if (!d.isDirectory) Seq.empty
    else d.listFiles((_, n) => n.startsWith("spool-")).toSeq.sortBy(_.getName)
  }

  /** The spool files whose content has LANDED, in name order, stopping
    * at the first claimed-but-empty file. This is the ONLY file list
    * offsets may be computed over: a publisher claims its spool name
    * with an empty createFile and lands the content later (atomic
    * move), so with concurrent cross-process publishers a later-named
    * file can be full while an earlier claim is still empty. Counting
    * past the gap would assign the later file's lines cumulative
    * ordinals that SHIFT DOWNWARD once the earlier claim lands —
    * duplicating already-emitted rows and skipping the landed ones.
    * Stopping at the first unlanded claim makes the ordinal basis
    * append-only: claims are name-ordered (the claim loop always takes
    * the next free name), landed files are immutable, so the landed
    * prefix only ever extends. Liveness caveat: a crashed publisher's
    * orphaned empty claim stalls the queue behind it until removed —
    * the same stall as a broker transaction left open, surfaced by
    * `adminView`'s pending-claim count rather than by corrupt offsets. */
  def landedSpoolFiles(brokerDir: String, queue: String): Seq[File] =
    spoolFiles(brokerDir, queue).takeWhile(_.length > 0L)

  /** Total landed messages spooled to a queue (the offset high-water
    * basis — see [[landedSpoolFiles]]). Per-file counts are cached:
    * spool files are immutable once atomically renamed in, so polling
    * cost is O(new files) per trigger, not O(spool bytes). */
  def available(brokerDir: String, queue: String): Long =
    landedSpoolFiles(brokerDir, queue).map(countLines).sum

  private val lineCountCacheMax = 65536

  // Access-ordered LRU: when the live spool-file count exceeds the cap,
  // only the coldest entries fall out — a full clear would silently
  // restore the O(spool bytes) polling cost the cache exists to avoid
  // (every trigger re-reading every file). Stale keys for deleted or
  // rewritten paths (length+mtime are part of the key) age out the same
  // way instead of accreting forever.
  private val lineCountCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, java.lang.Long](1024, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.lang.Long]): Boolean =
        size() > lineCountCacheMax
    })

  private[sources] def countLines(f: File): Long = {
    // length + mtime in the key guard the case of a path being
    // recreated with different content
    val key = f.getAbsolutePath + "#" + f.length + "#" + f.lastModified
    val cached = lineCountCache.get(key)
    if (cached != null) cached.longValue()
    else {
      // a racing duplicate count is harmless (files are immutable)
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val n = try src.getLines().size.toLong finally src.close()
      lineCountCache.put(key, n)
      n
    }
  }

  /** Which spool files cover the ordinal range [from, to), given the
    * per-file line counts — pure Long math (a queue past 2^31 messages
    * must not truncate), unit-tested beyond Int.MaxValue. Returns
    * (fileIndex, firstOrdinalOfFile, lo, hi): read that file's lines
    * with global ordinals in [lo, hi). Files wholly outside the range
    * are skipped without being opened. */
  def sliceFiles(counts: Seq[Long], from: Long, to: Long): Seq[(Int, Long, Long, Long)] = {
    var start = 0L
    counts.zipWithIndex.flatMap { case (n, i) =>
      val s = start
      start += n
      val lo = math.max(s, from)
      val hi = math.min(start, to)
      if (hi > lo) Some((i, s, lo, hi)) else None
    }
  }

  def ackFile(brokerDir: String, queue: String): File = {
    val d = new File(brokerDir, "_acks")
    d.mkdirs()
    new File(d, queue + ".ack")
  }

  def ackedCount(brokerDir: String, queue: String): Long = {
    val f = ackFile(brokerDir, queue)
    if (f.isFile) new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8).trim.toLong
    else 0L
  }

  def writeAck(brokerDir: String, queue: String, count: Long): Unit = {
    val f = ackFile(brokerDir, queue)
    val tmp = new File(f.getParentFile, f.getName + ".tmp")
    Files.write(tmp.toPath, count.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp.toPath, f.toPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** SEMP-style broker introspection (the admin/ops surface the
    * reference's test support exposes via MsgBusSempUtil.java:38
    * queue queries): one row per live queue with spooled / acked /
    * backlog message counts plus spool-file count and bytes.
    *
    * Deliberately a driver-side directory walk wrapped in a local
    * DataFrame: SEMP is a broker admin API, and a broker hosts
    * thousands of queues, not billions — the result is dimension-
    * sized. Joinable against streaming output for ops dashboards. */
  def adminView(spark: org.apache.spark.sql.SparkSession, brokerDir: String)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val root = new File(brokerDir)
    val queues =
      if (!root.isDirectory) Seq.empty[File]
      else root.listFiles().toSeq
        .filter(f => f.isDirectory && f.getName != "_acks")
        .sortBy(_.getName)
    queues.map { q =>
      val all = spoolFiles(brokerDir, q.getName)
      val landed = landedSpoolFiles(brokerDir, q.getName)
      val spooled = landed.map(countLines).sum
      val acked = ackedCount(brokerDir, q.getName)
      // pending_claims > 0 for more than an instant = a publisher died
      // between claim and landing; the queue is stalled behind it
      // (landed files past the first claim exist but are not yet
      // consumable, so they are not in `spooled` either)
      (q.getName, spooled, acked, math.max(0L, spooled - acked),
        landed.size.toLong, landed.map(_.length).sum,
        all.count(_.length == 0L).toLong)
    }.toDF("queue", "spooled", "acked", "backlog", "spool_files", "spool_bytes",
      "pending_claims")
  }

  /** Offsets as a sorted-key JSON object {"q":count,...}. */
  def offsetsToJson(m: Map[String, Long]): String =
    m.toSeq.sortBy(_._1)
      .map { case (q, n) => "\"" + q + "\":" + n }
      .mkString("{", ",", "}")

  def offsetsFromJson(json: String): Map[String, Long] = {
    val body = json.trim.stripPrefix("{").stripSuffix("}").trim
    if (body.isEmpty) Map.empty
    else body.split(",").map { kv =>
      // split at the LAST colon: the value is always a bare count, but
      // a queue name may legally contain ':' — splitting at the first
      // one would make the stream unable to restart from its own
      // checkpoint. (Names cannot contain ',' or '"': the reader's
      // comma-separated `queues` option and this JSON quoting already
      // exclude them — enforced at publish.)
      val cut = kv.lastIndexOf(':')
      if (cut < 0)
        // a corrupted checkpoint must name the payload it choked on,
        // not surface a bare StringIndexOutOfBoundsException
        throw new IllegalStateException(
          s"corrupted checkpoint offset entry '$kv' " +
            s"""(expected "queue":count) in offset JSON: $json""")
      val k = kv.substring(0, cut)
      val v = kv.substring(cut + 1)
      k.trim.stripPrefix("\"").stripSuffix("\"") -> v.trim.toLong
    }.toMap
  }
}

/** Publish-side broker emulation used by tests and demos: append a
  * spool file atomically (write + rename), one TSV line per message:
  * messageId \t senderTsMicros \t receiveTsMicros \t priority \t
  * destination \t replyTo \t ttl \t base64(payload)
  */
object GraftQueueBroker {
  final case class Msg(
      messageId: Long,
      senderTsMicros: Long,
      receiveTsMicros: Long,
      priority: Int,
      destination: String,
      replyTo: String,
      timeToLive: Long,
      payload: Array[Byte])

  def textMsg(id: Long, tsMicros: Long, destination: String, text: String): Msg =
    Msg(id, tsMicros, tsMicros + 1000L, 4, destination, "",
      0L, text.getBytes(StandardCharsets.UTF_8))

  def publish(brokerDir: String, queue: String, msgs: Seq[Msg]): Unit = synchronized {
    if (msgs.isEmpty) return // an empty batch must not spool a phantom blank line
    require(!queue.exists(c => c == ',' || c == '"' || c == '/'),
      s"queue name must not contain ',', '\"' or '/': '$queue'")
    msgs.foreach { m =>
      // the spool framing is TSV lines; a tab or newline in a string
      // field would shift every later field and corrupt the line count
      require(!m.destination.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"destination must not contain tab/newline: '${m.destination}'")
      require(!m.replyTo.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"replyTo must not contain tab/newline: '${m.replyTo}'")
    }
    val dir = GraftQueueSource.queueDir(brokerDir, queue)
    dir.mkdirs()
    // Claim the next spool name atomically (createFile throws if it
    // exists — a plain rename would SILENTLY REPLACE a concurrent
    // publisher's file and lose its batch), then land the content with
    // an atomic move. Readers never count past the first claimed-but-
    // unlanded file (landedSpoolFiles), so a claim that lands AFTER a
    // later-named file cannot shift already-planned ordinals; once the
    // content lands, length+mtime change and the line-count cache
    // re-reads.
    var existing = GraftQueueSource.spoolFiles(brokerDir, queue).size
    var target = new File(dir, f"spool-$existing%08d.log")
    var claimed = false
    while (!claimed) {
      try { Files.createFile(target.toPath); claimed = true }
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        existing += 1
        target = new File(dir, f"spool-$existing%08d.log")
      }
    }
    // dot-prefixed so spoolFiles' "spool-" filter can never list the
    // half-written tmp as an available spool file mid-publish
    val tmp = new File(dir, "." + target.getName + ".tmp")
    val body = msgs.map { m =>
      Seq(m.messageId.toString, m.senderTsMicros.toString, m.receiveTsMicros.toString,
        m.priority.toString, m.destination, m.replyTo, m.timeToLive.toString,
        Base64.getEncoder.encodeToString(m.payload)).mkString("\t")
    }.mkString("", "\n", "\n")
    try {
      Files.write(tmp.toPath, body.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } catch {
      case e: Throwable =>
        // under the landed-prefix rule an orphaned empty claim stalls
        // the whole queue behind it — a failed publish must release
        // its claim (and tmp) before surfacing the error, or a disk-
        // full blip becomes a permanent availability loss
        try Files.deleteIfExists(tmp.toPath) catch { case _: Throwable => () }
        try Files.deleteIfExists(target.toPath) catch { case _: Throwable => () }
        throw e
    }
  }
}

class GraftQueueSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftQueueSource.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new GraftQueueTable(new CaseInsensitiveStringMap(properties))
}

/** Driver-aggregated sum of per-task malformed-line counts. */
class MalformedLinesMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "malformedLines"
  override def description(): String = "malformed spool lines skipped (parseMode=permissive)"
}

class GraftQueueTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  private val brokerDir = options.get("brokerDir")
  // null-safe: the require below must be the error surface for a
  // missing option, not an NPE from .split in a field initializer
  private val queues: Seq[String] =
    Option(options.get("queues")).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).sorted
  private val permissive =
    options.getOrDefault("parseMode", "failfast").toLowerCase == "permissive"
  require(brokerDir != null && queues.nonEmpty, "brokerDir and queues options are required")

  override def name(): String = s"graft-queue[${queues.mkString(",")}]"
  override def schema(): StructType = GraftQueueSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ).asJava

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = () => new Scan {
    override def readSchema(): StructType = GraftQueueSource.schema

    override def supportedCustomMetrics()
        : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
      Array(new MalformedLinesMetric)

    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      new GraftQueueMicroBatchStream(brokerDir, queues, options)

    /** Bounded read of the current spool — SolaceIO's maxNumRecords
      * bounded mode, the budget split across the queues as the stream
      * splits its per-trigger one ([[GraftQueueSource.waterFill]]). */
    override def toBatch: Batch = new Batch {
      override def planInputPartitions(): Array[InputPartition] = {
        val cap = Option(options.get("maxNumRecords")).map(_.toLong).getOrElse(Long.MaxValue)
        val takes = GraftQueueSource.waterFill(queues.map(GraftQueueSource.available(brokerDir, _)), cap)
        queues.zip(takes).map { case (q, n) =>
          GraftQueuePartition(brokerDir, q, 0L, n,
            GraftQueueSource.ackedCount(brokerDir, q), permissive): InputPartition
        }.toArray
      }
      override def createReaderFactory(): PartitionReaderFactory = GraftQueueReaderFactory
    }
  }
}

case class QueueOffset(counts: Map[String, Long]) extends Offset {
  override def json(): String = GraftQueueSource.offsetsToJson(counts)
}

case class GraftQueuePartition(
    brokerDir: String, queue: String, fromLine: Long, toLine: Long,
    ackedAtPlan: Long, permissive: Boolean = false) extends InputPartition

class GraftQueueMicroBatchStream(
    brokerDir: String, queues: Seq[String], options: CaseInsensitiveStringMap)
  extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  import GraftQueueSource._

  private val maxPerTrigger: Option[Long] =
    Option(options.get("maxRecordsPerTrigger")).map(_.toLong)

  private val permissive =
    options.getOrDefault("parseMode", "failfast").toLowerCase == "permissive"

  /** Trigger.AvailableNow contract: freeze the spool high-water marks
    * at query start; subsequent triggers drain up to that snapshot and
    * then the query stops — messages published after the snapshot wait
    * for the next run. This (plus a deadline stop, see
    * Pipelines.startWithMaxReadTime) is the SolaceIO withMaxReadTime
    * equivalent: a bounded consumption window over an unbounded queue. */
  @volatile private var availableNowTarget: Option[Map[String, Long]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(queues.map(q => q -> available(brokerDir, q)).toMap)

  override def getDefaultReadLimit: ReadLimit =
    maxPerTrigger.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  override def initialOffset(): Offset = QueueOffset(queues.map(_ -> 0L).toMap)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startMap = start.asInstanceOf[QueueOffset].counts
    val budget = limit match {
      case m: ReadMaxRows => m.maxRows()
      case _ => Long.MaxValue
    }
    val froms = queues.map(q => startMap.getOrElse(q, 0L))
    val his = queues.map(q => availableNowTarget match {
      case Some(target) => target.getOrElse(q, 0L) // frozen snapshot
      case None         => available(brokerDir, q)
    })
    val takes = waterFill(his.zip(froms).map { case (hi, from) => math.max(0L, hi - from) }, budget)
    QueueOffset(queues.indices.map(i => queues(i) -> (froms(i) + takes(i))).toMap)
  }

  /** Names the source in `SourceProgress.description`, which is how
    * [[graft.streaming.Pipelines.QueueStatsListener]] finds it. */
  override def toString: String = s"$DescriptionPrefix${queues.mkString(",")}]"

  override def reportLatestOffset(): Offset =
    QueueOffset(queues.map(q => q -> available(brokerDir, q)).toMap)

  override def deserializeOffset(json: String): Offset =
    QueueOffset(offsetsFromJson(json))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[QueueOffset].counts
    val e = end.asInstanceOf[QueueOffset].counts
    queues.flatMap { q =>
      val from = s.getOrElse(q, 0L)
      val to = e.getOrElse(q, 0L)
      if (to > from)
        Some(GraftQueuePartition(brokerDir, q, from, to,
          ackedCount(brokerDir, q), permissive): InputPartition)
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = GraftQueueReaderFactory

  /** Checkpoint finalized → client-ack the consumed prefix (the
    * broker-side delete of SolaceCheckpointMark.finalizeCheckpoint). */
  override def commit(end: Offset): Unit =
    end.asInstanceOf[QueueOffset].counts.foreach { case (q, n) =>
      writeAck(brokerDir, q, n)
    }

  override def stop(): Unit = ()
}

object GraftQueueReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftQueuePartition]
    new GraftQueuePartitionReader(p)
  }
}

class GraftQueuePartitionReader(p: GraftQueuePartition)
    extends PartitionReader[InternalRow] {

  // One spool file is open at a time; it is closed when the next file
  // is opened and in close() — a long-running stream must not leak one
  // fd per spool file per micro-batch.
  private var openSrc: scala.io.Source = null

  private def openFile(f: File): Iterator[String] = {
    if (openSrc != null) openSrc.close()
    openSrc = scala.io.Source.fromFile(f, "UTF-8") // immutable once renamed in
    openSrc.getLines()
  }

  private val lines: Iterator[(String, Long, String)] = {
    // landed prefix ONLY — the same ordinal basis the planner's
    // available() used, so a claim landing between planning and
    // reading can never shift which lines the ordinals denote
    val files = GraftQueueSource.landedSpoolFiles(p.brokerDir, p.queue)
    val counts = files.map(GraftQueueSource.countLines)
    // Long-safe range math; files wholly before fromLine are skipped
    // without opening (cached counts give each file's start ordinal).
    GraftQueueSource.sliceFiles(counts, p.fromLine, p.toLine).iterator
      .flatMap { case (i, fileStart, lo, hi) =>
        var ord = fileStart - 1L
        val name = files(i).getName
        openFile(files(i))
          .map { l => ord += 1L; (l, ord, name) }
          // takeWhile, not filter: once past `hi` the reader must stop
          // pulling lines, or a small trigger cap would still scan the
          // tail of a large spool file on every micro-batch
          .takeWhile { case (_, o, _) => o < hi }
          .filter { case (_, o, _) => o >= lo }
      }
  }

  private var current: InternalRow = _
  private var malformed = 0L

  override def next(): Boolean = {
    // Offsets advance by spool ordinal, so a permissive skip neither
    // stalls the stream nor causes a replay — the malformed line's
    // ordinal is simply consumed without emitting a row.
    while (lines.hasNext) {
      val (line, ordinal, file) = lines.next()
      try {
        val f = line.split("\t", -1)
        if (f.length < 8)
          throw new IllegalArgumentException(
            s"expected 8 tab-separated fields, got ${f.length}")
        val payload = Base64.getDecoder.decode(f(7))
        current = new GenericInternalRow(Array[Any](
          UTF8String.fromString(p.queue),
          UTF8String.fromString(f(4)),
          f(0).toLong,
          payload,
          f(1).toLong,            // sender_ts micros
          f(2).toLong,            // receive_ts micros
          f(3).toInt,
          ordinal < p.ackedAtPlan, // below ack high-water mark → redelivery
          UTF8String.fromString(f(5)),
          ordinal,
          f(6).toLong))
        return true
      } catch {
        case _: Exception if p.permissive =>
          malformed += 1L
          GraftQueueSource.malformedSkipped.increment()
        case e: Exception =>
          // strict contract: surface WHERE the corruption is, never a
          // bare NumberFormatException from deep inside the parse
          throw new IllegalStateException(
            s"malformed spool line: queue '${p.queue}', file $file, " +
              s"ordinal $ordinal: '${line.take(200)}' " +
              "(set parseMode=permissive to skip and count instead)", e)
      }
    }
    false
  }

  override def get(): InternalRow = current

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(new org.apache.spark.sql.connector.metric.CustomTaskMetric {
      override def name(): String = "malformedLines"
      override def value(): Long = malformed
    })

  override def close(): Unit = {
    if (openSrc != null) { openSrc.close(); openSrc = null }
  }
}
