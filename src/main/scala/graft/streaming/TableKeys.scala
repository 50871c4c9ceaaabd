package graft.streaming

import graft.operators.Snapshot
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.StructType
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The keys of one kb-partitioned sink table, held on the driver across
  * the triggers of a query, and the idempotent append every sink table
  * shares. The sinks' exactly-once contract must survive checkpoint
  * loss, so the seen keys live in the table itself; this class only
  * remembers what it has already read of it.
  *
  * Per touched leaf (one value of the `parts` columns) it holds the
  * names of the files whose keys it has read or written, and those
  * keys (only the `keys` columns outside `parts`). Each [[append]]:
  *  1. probes the table ([[TableKeys.hasParquetData]]: a pre-kb layout
  *     fails fast before anything is written; no data means nothing to
  *     hold);
  *  2. collects the batch's keys — O(batch) — and derives the touched
  *     leaves from them;
  *  3. lists those leaves on the driver. A held leaf whose listing
  *     still has every held file reads only the files it has not seen;
  *     one whose held file vanished (compaction, migration, a manual
  *     delete) is dropped and read whole. All reads are one
  *     [[graft.operators.Snapshot.scan]] of the listed files with the
  *     batch's key schema, so no listing job runs;
  *  4. anti-joins the batch against only the batch keys the table
  *     already holds — almost always none, and then there is no join;
  *  5. writes ([[graft.operators.Snapshot.append]], fork-free) and
  *     lists the written leaves again: their new files are held with
  *     the keys just written. A leaf with written keys but no new file
  *     is dropped, so the next append reads it again.
  * A new instance starts empty, so a query's first trigger reads the
  * touched history once: restarts, lost checkpoints and crash replays
  * all validate against the table.
  *
  * Limits: one writer per table — the listing cannot tell a concurrent
  * writer's files from its own (the anti-join-then-append is unsafe
  * under concurrent writers anyway). Driver memory is O(keys in the
  * touched leaves), the same rows the per-trigger broadcast of a full
  * key read would build on the driver. `parts` must be a function of
  * `keys` (kb = keyBucket(keys…)), so equal keys share a leaf.
  * Synchronized: one `DataStreamWriter` can start more than one query. */
private[graft] final class TableKeys(path: String, keys: Seq[String], parts: Seq[String]) {
  private val root = new Path(path)
  private val own = keys.filterNot(parts.contains)
  require(own.nonEmpty, s"keys $keys must reach outside the partition columns $parts")

  private final class Leaf {
    val files = mutable.HashSet.empty[String]
    val keys = mutable.HashSet.empty[Any]
  }
  /** partition values (a Row of `parts`) → what is held of that leaf */
  private val held = mutable.HashMap.empty[Row, Leaf]

  /** A row of `parts ++ own` split into its leaf and its key. */
  private def leafOf(r: Row): Row = Row.fromSeq(parts.indices.map(r.get))
  private def keyOf(r: Row): Any =
    if (own.size == 1) r.get(parts.size) else Row.fromSeq(own.indices.map(i => r.get(parts.size + i)))

  /** Appends the rows of `batch` whose keys the table does not hold,
    * partitioned by `parts`, in `batch`'s own partitioning (the
    * anti-join, when there is one, broadcasts the present keys).
    * `batch` is read twice — its keys, then the write — so pass a
    * persisted or checkpointed frame. Returns the history files this
    * append read keys from. */
  def append(batch: DataFrame): Seq[Path] = synchronized {
    val spark = batch.sparkSession
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = TableKeys.hasParquetData(fs, root)
    if (!hasData) held.clear()
    val cols = parts ++ own
    val keyed = batch.select(cols.map(col): _*)
    val schema = StructType(keyed.schema.map(_.copy(nullable = true)))
    val batchKeys = keyed.collect().groupBy(leafOf)
    val dirs = batchKeys.keys.map(leaf => leaf -> TableKeys.dirOf(root, parts, leaf)).toMap

    val toRead = if (!hasData) Nil else batchKeys.keys.toSeq.flatMap { leaf =>
      val names = TableKeys.namesIn(fs, dirs(leaf))
      val h = held.get(leaf).filter(_.files.forall(names)).getOrElse(new Leaf)
      held(leaf) = h
      val unread = names.filterNot(h.files).toSeq.map(n => fs.getFileStatus(new Path(dirs(leaf), n)))
        .filter(_.isFile)
      Option.when(unread.nonEmpty)(leaf -> unread)
    }
    if (toRead.nonEmpty) {
      Snapshot.scan(spark, fs.makeQualified(root), toRead.flatMap(_._2), Some(schema))
        .select(cols.map(col): _*).collect()
        .foreach(r => held(leafOf(r)).keys += keyOf(r))
      toRead.foreach { case (leaf, files) => held(leaf).files ++= files.map(_.getPath.getName) }
    }

    val split = batchKeys.map { case (leaf, rows) =>
      leaf -> rows.partition(r => held.get(leaf).exists(_.keys(keyOf(r))))
    }
    val present = split.values.flatMap(_._1).toSeq
    val unseen = split.collect { case (leaf, (_, out)) if out.nonEmpty => leaf -> out }
    val rows = if (present.isEmpty) batch else batch.join(
      broadcast(spark.createDataFrame(present.asJava, schema)), keys, "left_anti")
    Snapshot.append(rows, path, parts: _*)

    unseen.foreach { case (leaf, written) =>
      val h = held.getOrElseUpdate(leaf, new Leaf)
      val added = TableKeys.namesIn(fs, dirs(leaf)) -- h.files
      if (added.isEmpty) held.remove(leaf)
      else { h.files ++= added; h.keys ++= written.map(keyOf) }
    }
    toRead.flatMap(_._2.map(_.getPath))
  }
}

private[graft] object TableKeys {

  /** Does the kb-partitioned sink table at `p` hold any parquet DATA?
    * A missing dir, or one with only markers (an all-empty first
    * append leaves `_SUCCESS` and no footers), is an absent table. The
    * store walk ([[graft.operators.Snapshot.dataFiles]]) stops at
    * the first data file, which must sit in a `kb=` directory:
    * anything else is a pre-kb layout and fails fast — never read as
    * absent, which would append duplicates forever. A table written
    * before the kb layout is refused rather than degraded-over: the
    * same trigger's append would write kb directories into the
    * unbucketed tree and the NEXT trigger's read of the mixed-depth
    * structure would throw — a wedged stream with one trigger already
    * committed. The one-time rewrite is
    * [[Pipelines.migrateTableToKb]] for a tableSink table (run with
    * the stream stopped). */
  def hasParquetData(fs: FileSystem, p: Path): Boolean =
    Snapshot.dataFiles(fs, p).nextOption().exists { f =>
      if (!f.getPath.getParent.getName.startsWith("kb="))
        throw new IllegalStateException(
          s"$p holds a pre-kb (unbucketed) sink table; appending would mix " +
            "partition depths and wedge the stream on its next trigger. With " +
            "the stream stopped, run Pipelines.migrateTableToKb(spark, tablePath) " +
            "once for a tableSink table, or rewrite any other sink table into " +
            "the kb layout once, then resume.")
      true
    }

  /** The leaf directory of partition values `leaf`, named with Spark's
    * own partition-path escaping. */
  private def dirOf(root: Path, parts: Seq[String], leaf: Row): Path =
    ExternalCatalogUtils.generatePartitionPath(
      parts.indices.map(i => parts(i) -> Option(leaf.get(i)).map(_.toString).orNull).toMap, parts, root)

  /** The names of a leaf's data files: none when it does not exist,
    * and `_`/`.`-prefixed names skipped, as Spark's listing skips them.
    * A local leaf is one directory read: every append lists its touched
    * leaves twice, and Hadoop's listing builds a status (several
    * syscalls and path parses) per file and per `.crc`, a driver cost
    * that grew with the files a leaf holds. */
  private def namesIn(fs: FileSystem, dir: Path): Set[String] = (fs match {
    case local: LocalFileSystem => Option(local.pathToFile(dir).list()).toSeq.flatten
    case _ => if (fs.exists(dir)) fs.listStatus(dir).toSeq.map(_.getPath.getName) else Nil
  }).filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet
}
