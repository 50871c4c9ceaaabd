package graft.operators

import java.util.UUID

import graft.streaming.NioLocalFileSystem
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import scala.collection.mutable

/** Generation-stamped snapshot manifests for append-only parquet
  * stores — what lets a SERVING process and in-place compaction share
  * an index directory.
  *
  * The one compactor for append-only stores: a reader in another
  * process that pinned its file list stays valid while a merge runs
  * live, and a crash at any point leaves no duplicate rows. It is the
  * standard lakehouse answer (the Iceberg/Delta snapshot idea reduced
  * to a directory-local text manifest):
  *
  *  - The store dir keeps holding the data files; appends keep being
  *    plain `mode("append")` parquet writes (no coordination — an
  *    appended file is live the moment it lands).
  *  - `_manifests/gen-<N>.txt` (hidden from every parquet reader)
  *    records the live file set and the not-yet-collected retired
  *    files. Commit is an atomic rename, so readers see either the
  *    old or the new generation, never a half state.
  *  - A compaction writes the merged tier file FIRST (invisible until
  *    committed — see the orphan rule below), then commits a new
  *    generation in which the sources are RETIRED, not deleted.
  *  - Retired files are garbage-collected only after `graceMs`: a
  *    reader that resolved its snapshot at scan start keeps every
  *    pinned file on disk for at least the grace window, so an
  *    in-flight scan and a post-compaction scan both return
  *    bit-identical results while maintenance runs live.
  *
  * Resolution rule (`files`/`read`): live = the newest generation's
  * live set, PLUS any on-disk data file the manifest has never seen
  * whose name is not `tier-*` (those are appends — live immediately),
  * MINUS nothing else. An unknown `tier-*` file is an UNCOMMITTED
  * compaction (a crash between the tier rename and the manifest
  * commit) and is excluded — reading it alongside its still-live
  * sources would double rows; the next compactor call sweeps it. A
  * store with no manifest at all resolves to every data file (legacy
  * mode — every pre-snapshot store keeps working unchanged, and a
  * `mode("overwrite")` rebuild deletes `_manifests` with the rest of
  * the dir, resetting the store to legacy cleanly).
  *
  * This object also owns the two store idioms every reader and walker
  * of a store shares: which files are a store's data ([[dataFiles]]),
  * and how a listed file set is scanned ([[scan]], a fixed file index —
  * no Spark listing job). A read scans exactly the resolved set, so it
  * is strictly isolated: a merge committing while the read runs never
  * shows it a tier file next to that tier's retired sources.
  *
  * Writer cardinality: ONE maintenance writer per store (the owning
  * sink's trigger loop or an offline job), any number of readers in
  * any process. Readers must finish a scan within `graceMs` of
  * resolving it — the same kind of bound every snapshot store with
  * vacuuming imposes.
  */
object Snapshot {

  private val ManifestDirName = "_manifests"
  private val Header = "graft-snapshot-v1"
  /** Superseded generations kept on disk so a reader that listed the
    * manifest dir just before a commit still finds the file it chose. */
  private val KeepManifests = 3

  /** Default GC grace: how long a retired file stays on disk after the
    * generation that retired it commits. Bounds served scan duration. */
  val DefaultGraceMs: Long = 10L * 60L * 1000L

  private case class Manifest(gen: Long, live: Vector[String],
                              retired: Vector[(Long, String)])

  /** Every filesystem call and data write of a store goes through
    * [[NioLocalFileSystem]] on `file:` paths — the driver handle here,
    * the appends, stages and merges through [[write]] — so neither a
    * walk, a write nor a commit forks a process per file. */
  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    val fs = NioLocalFileSystem.fileSystem(p, spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  private def write(df: DataFrame, mode: String, path: String, partitionCols: Seq[String]): Unit = {
    val w = df.write.options(NioLocalFileSystem.options).mode(mode)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  /** Appends `df` to the store at `dir` as new parquet files,
    * partitioned by `partitionCols`: live the moment they land (the
    * resolution rule), no manifest touched. */
  def append(df: DataFrame, dir: String, partitionCols: String*): Unit =
    write(df, "append", dir, partitionCols)

  private def isTier(rel: String): Boolean =
    rel.substring(rel.lastIndexOf('/') + 1).startsWith("tier-")

  private def parentRel(rel: String): String = {
    val i = rel.lastIndexOf('/')
    if (i < 0) "" else rel.substring(0, i)
  }

  /** A store's data files: the non-hidden `.parquet` files under
    * `root`, found by one lazy walk — take the head to stop at the
    * first file. `_`/`.`-prefixed names (manifests, temp dirs,
    * `_SUCCESS`, crcs) are skipped at every level, and a directory's
    * files come before its subdirectories'. `listStatus` builds no
    * `LocatedFileStatus`, so on a local filesystem without libhadoop
    * the walk forks no `ls` per file. A missing `root` has none. */
  private[graft] def dataFiles(fs: FileSystem, root: Path): Iterator[FileStatus] = {
    def walk(d: Path): Iterator[FileStatus] = {
      val (files, dirs) = fs.listStatus(d)
        .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
        .partition(_.isFile)
      files.iterator.filter(_.getPath.getName.endsWith(".parquet")) ++
        dirs.iterator.flatMap(s => walk(s.getPath))
    }
    if (fs.exists(root)) walk(root) else Iterator.empty
  }

  /** [[dataFiles]] keyed by their root-relative names. */
  private def listData(fs: FileSystem, root: Path): Vector[(String, FileStatus)] = {
    val rootPath = root.toUri.getPath
    dataFiles(fs, root).map(s => (fs.makeQualified(s.getPath).toUri.getPath
      .stripPrefix(rootPath).stripPrefix("/"), s)).toVector
  }

  private def genOf(name: String): Option[Long] =
    if (name.startsWith("gen-") && name.endsWith(".txt"))
      name.stripPrefix("gen-").stripSuffix(".txt").toLongOption
    else None

  private def latestManifest(fs: FileSystem, root: Path): Option[Manifest] = {
    val md = new Path(root, ManifestDirName)
    if (!fs.exists(md)) return None
    val gens = fs.listStatus(md)
      .flatMap(s => genOf(s.getPath.getName).map(g => (g, s.getPath)))
    if (gens.isEmpty) return None
    val (gen, path) = gens.maxBy(_._1)
    val in = fs.open(path)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.split("\n").toVector.filter(_.nonEmpty)
    require(lines.headOption.contains(Header),
      s"$path is not a $Header manifest")
    val live = Vector.newBuilder[String]
    val retired = Vector.newBuilder[(Long, String)]
    lines.tail.foreach { l =>
      if (l.startsWith("live ")) live += l.stripPrefix("live ")
      else if (l.startsWith("retired ")) {
        val parts = l.stripPrefix("retired ").split(" ", 2)
        retired += ((parts(0).toLong, parts(1)))
      } else throw new IllegalStateException(s"unparseable manifest line in $path: $l")
    }
    Some(Manifest(gen, live.result(), retired.result()))
  }

  /** Atomic commit: write to a `_tmp-*` name, close, rename to the
    * generation file. A crash before the rename leaves an ignored temp
    * file; readers see either gen N or gen N+1, never a partial file. */
  private def writeManifest(fs: FileSystem, root: Path, m: Manifest): Unit = {
    val md = new Path(root, ManifestDirName)
    fs.mkdirs(md)
    val tmp = new Path(md, "_tmp-" + UUID.randomUUID().toString)
    val out = fs.create(tmp, true)
    try {
      val sb = new StringBuilder(Header).append('\n')
      m.live.foreach(n => sb.append("live ").append(n).append('\n'))
      m.retired.foreach { case (ts, n) =>
        sb.append("retired ").append(ts).append(' ').append(n).append('\n')
      }
      out.write(sb.toString.getBytes("UTF-8"))
    } finally out.close()
    val dst = new Path(md, f"gen-${m.gen}%012d.txt")
    if (!fs.rename(tmp, dst))
      throw new IllegalStateException(s"manifest commit $tmp -> $dst failed")
    // prune superseded generations beyond the keep window
    fs.listStatus(md).foreach { s =>
      genOf(s.getPath.getName).foreach { g =>
        if (g <= m.gen - KeepManifests) fs.delete(s.getPath, false)
      }
    }
  }

  /** The one resolution: the statuses of the store's live files, in
    * root-relative name order — every data file when the store has no
    * manifest. The manifest is read BEFORE the listing: a concurrent
    * merge committing in between then shows up as an unknown tier file
    * (excluded) with its sources still live — the reverse order would
    * see the new generation's tier missing from the stale listing and
    * fail the lost-file check spuriously. */
  private def resolve(fs: FileSystem, root: Path, dir: String): Vector[FileStatus] = {
    val manifest = latestManifest(fs, root)
    val onDisk = listData(fs, root).sortBy(_._1)
    manifest.fold(onDisk.map(_._2)) { m =>
      val byName = onDisk.toMap
      val missing = m.live.filterNot(byName.contains)
      require(missing.isEmpty,
        s"snapshot store $dir lost live files (externally deleted?): " +
          missing.take(5).mkString(", "))
      val known = m.live.toSet ++ m.retired.map(_._2)
      val appends = onDisk.map(_._1).filter(n => !known(n) && !isTier(n))
      (m.live ++ appends).sorted.map(byName)
    }
  }

  /** The pinned snapshot: absolute FILE paths of the store's CURRENT
    * live set, resolved once. A serving process passes these to its
    * scan and is guaranteed they exist for `graceMs` after any
    * concurrent compaction retires them. Legacy (manifest-less) stores
    * resolve to their full on-disk file set. */
  def files(spark: SparkSession, dir: String): Seq[String] =
    liveFiles(spark, dir)._2.map(_.getPath.toString)

  /** The store's qualified root and the statuses of its live files,
    * resolved once — for callers that size or [[scan]] the set
    * themselves. */
  private[graft] def liveFiles(spark: SparkSession, dir: String): (Path, Vector[FileStatus]) = {
    val (fs, root) = fsOf(spark, dir)
    (root, resolve(fs, root, dir))
  }

  /** Snapshot-resolved read of a store dir: a [[scan]] of exactly the
    * files [[files]] resolves, rooted at `dir`, so Hive partition
    * columns (`kb=…`) are inferred and pruned as a whole-directory
    * read would — a drop-in replacement for a whole-directory parquet
    * read on every store the snapshot compactor may manage. The read is
    * strictly isolated: it pins the resolved set, so a merge
    * committing mid-read neither adds its tier file nor removes the
    * retired sources (they outlive `graceMs`), and no listing job runs.
    * A store without data (missing, or markers only) fails with
    * Spark's own error. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val (fs, root) = fsOf(spark, dir)
    val live = resolve(fs, root, dir)
    if (live.nonEmpty) scan(spark, root, live)
    else {
      require(latestManifest(fs, root).isEmpty,
        s"snapshot store $dir resolved to an empty live set")
      spark.read.parquet(dir)
    }
  }

  /** Scans exactly `files` (listed statuses under `root`) through a
    * fixed [[ListedFileIndex]], so no Spark job runs until an action.
    * Partition columns come from the `k=v` directories between `root`
    * and each file, and partition filters still prune. `schema` (data
    * and partition columns) skips the footer read that otherwise infers
    * the data columns; either way the columns read as nullable, as
    * Spark's own file reads make them. */
  private[graft] def scan(spark: SparkSession, root: Path, files: Seq[FileStatus],
                          schema: Option[StructType] = None): DataFrame = {
    val index = new ListedFileIndex(spark, root, files, schema)
    val parts = index.partitionSchema
    val data = schema.map(s => StructType(s.filterNot(f => parts.fieldNames.contains(f.name))))
      .getOrElse(footerSchema(spark, files.headOption.getOrElse(
        throw new IllegalArgumentException(s"no parquet files to scan under $root"))))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, parts,
      nullable(data).asInstanceOf[StructType], None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** The data schema Spark's parquet inference gives a file set whose
    * schemas are not merged: the first file's footer, its Spark row
    * metadata when present (field metadata included), else the parquet
    * schema converted under the session's settings. Read here on the
    * driver, where the inference would start a job to read it. */
  private def footerSchema(spark: SparkSession, first: FileStatus): StructType = {
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(first, spark.sessionState.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(first.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** A file index over files already listed, like the index Spark's
    * file sink reads its committed log through (`MetadataLogFileIndex`):
    * scanning it lists nothing. */
  private final class ListedFileIndex(spark: SparkSession, root: Path, files: Seq[FileStatus],
                                      schema: Option[StructType])
      extends PartitioningAwareFileIndex(spark, Map.empty, schema) {
    override protected val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
      mutable.LinkedHashMap.from(files.map(f => f.getPath -> f))
    override protected val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
      files.toArray.groupBy(_.getPath.getParent)
    private lazy val spec = inferPartitioning()
    override def partitionSpec(): PartitionSpec = spec
    override def rootPaths: Seq[Path] = Seq(root)
    override def refresh(): Unit = ()
  }

  /** Snapshot-isolated size-tiered compaction of a FLAT append-only
    * store — the LSM answer to per-trigger file accretion: when the
    * live count crosses `maxFiles`, the smallest `n - maxFiles/2 + 1`
    * live files (capped at `maxMergeFiles`) merge into ONE tier file,
    * committed through a manifest. The hysteresis keeps merges
    * infrequent, and smallest-first lets fresh deltas fold into a
    * growing run that graduates out of the merge set, so each row is
    * rewritten O(log) times over the store's life — never a corpus
    * rewrite. Returns files merged away (0 = no-op). With
    * `graceMs = 0` retired sources are collected on the next call. */
  def compactTiered(spark: SparkSession, dir: String, maxFiles: Int = 128,
                    maxMergeFiles: Int = 512,
                    graceMs: Long = DefaultGraceMs,
                    maxMergeJobs: Int = Int.MaxValue): Int =
    compactCore(spark, dir, maxFiles, maxMergeFiles, graceMs, perLeaf = false,
      maxMergeJobs = maxMergeJobs)

  /** [[compactTiered]] over every `col=value` leaf of a
    * Hive-partitioned store, all committed in ONE new generation (one
    * manifest at the store ROOT covers the whole tree — a single
    * atomic commit for the trigger's sweep, and one resolution read
    * for a serving scan of the whole tree).
    *
    * `maxMergeJobs` bounds merge JOBS per call, where `maxMergeFiles`
    * bounds merged FILES: a per-trigger caller's wall cost is
    * jobs × (read + coalesce-write) — on a 64-leaf store whose leaf
    * hashes collide into the same jitter offset, a wave trigger can
    * otherwise run ~8 sequential one-leaf jobs inside one trigger
    * (the measured sf10 10-12s vector-sink spikes against a ~4s
    * median). Deferred leaves stay first in line (most-overgrown-
    * first ordering) and drain on the following triggers. */
  def compactTieredPartitioned(spark: SparkSession, dir: String,
                               maxFilesPerLeaf: Int = 16,
                               maxMergeFiles: Int = 512,
                               graceMs: Long = DefaultGraceMs,
                               maxMergeJobs: Int = Int.MaxValue): Int =
    compactCore(spark, dir, maxFilesPerLeaf, maxMergeFiles, graceMs, perLeaf = true,
      maxMergeJobs = maxMergeJobs)

  private def compactCore(spark: SparkSession, dir: String, maxFiles: Int,
                          maxMergeFiles: Int, graceMs: Long,
                          perLeaf: Boolean,
                          maxMergeJobs: Int = Int.MaxValue): Int = {
    require(maxFiles >= 2, s"maxFiles must be >= 2, got $maxFiles")
    require(maxMergeFiles >= 2, s"maxMergeFiles must be >= 2, got $maxMergeFiles")
    require(graceMs >= 0, s"graceMs must be >= 0, got $graceMs")
    require(maxMergeJobs >= 1, s"maxMergeJobs must be >= 1, got $maxMergeJobs")
    val (fs, root) = fsOf(spark, dir)
    if (!fs.exists(root)) return 0
    // sweep merge-output temp dirs a crashed previous call left behind
    fs.listStatus(root).foreach { s =>
      if (s.isDirectory && s.getPath.getName.startsWith("_compact_tmp"))
        fs.delete(s.getPath, true)
    }
    val onDisk = listData(fs, root)
    val byName = onDisk.toMap
    val manifest = latestManifest(fs, root) match {
      case Some(m) => m
      case None =>
        // bootstrap gen 0 = everything currently on disk (including
        // tier files a pre-manifest in-place compactor left — those
        // were committed by their sources' deletion, so they are data).
        // Committed BEFORE any tier write, so from here on an
        // unknown tier file always means a crashed commit.
        val m = Manifest(0L, onDisk.map(_._1).sorted, Vector.empty)
        writeManifest(fs, root, m)
        m
    }
    val onDiskNames = onDisk.map(_._1).toSet
    val liveSet0 = manifest.live.toSet
    val retiredNames = manifest.retired.map(_._2).toSet
    val missing = manifest.live.filterNot(onDiskNames)
    require(missing.isEmpty,
      s"snapshot store $dir lost live files (externally deleted? a " +
        s"non-snapshot compactor run?): ${missing.take(5).mkString(", ")}")
    // crashed-commit orphans: tier files no manifest ever admitted are
    // invisible to readers; delete (single maintenance writer — no
    // concurrent commit can be mid-rename on this store)
    onDisk.foreach { case (n, _) =>
      if (isTier(n) && !liveSet0(n) && !retiredNames(n))
        fs.delete(new Path(root, n), false)
    }
    val appends = onDisk.map(_._1)
      .filter(n => !liveSet0(n) && !retiredNames(n) && !isTier(n))
    val live = (manifest.live ++ appends).sorted
    val now = System.currentTimeMillis()

    // merge groups: per partition leaf, or the store root's own files
    // (a flat compactor must never merge ACROSS leaf dirs — that would
    // destroy the partition layout; nested files are simply not its
    // candidates)
    val groups: Seq[Vector[String]] =
      if (perLeaf) live.groupBy(parentRel).values.toSeq
      else Seq(live.filter(n => !n.contains('/')))

    // Per-leaf threshold JITTER (partitioned stores only): a sink
    // appending one file to EVERY kb leaf per trigger marches all 64
    // leaves across the merge threshold on the SAME trigger, so the
    // sweep runs 64 sequential one-leaf merge jobs inside one trigger
    // — measured as 27-35s wave triggers in the sf10 vector sink
    // curve against a ~3s baseline. A deterministic leaf-hash offset
    // in [0, maxFiles/2) desynchronizes the crossings, smearing each
    // wave over ~maxFiles/2 triggers (~2 leaves per trigger at 64
    // leaves / 8 offsets); the per-leaf file-count bound grows to
    // maxFiles + maxFiles/2 — same order, documented. Merge SIZE
    // still targets maxFiles/2 (hysteresis unchanged).
    def jitterOf(g: Vector[String]): Int =
      if (!perLeaf) 0
      else math.floorMod(parentRel(g.head).hashCode, math.max(1, maxFiles / 2))

    var mergedCount = 0
    var newLive = live
    var newRetired = manifest.retired
    // Global per-call budget (most-overgrown leaves first): even a
    // store resuming after maintenance was off drains over a few
    // calls instead of stalling one trigger on everything — the
    // per-group maxMergeFiles cap generalized across groups.
    var budget = maxMergeFiles
    var jobs = 0
    groups.sortBy(-_.length).foreach { g =>
      if (g.length > maxFiles + jitterOf(g) && budget >= 2 && jobs < maxMergeJobs) {
        jobs += 1
        val sel = g.map(n => (byName(n).getLen, n)).sorted
          .take(math.min(math.min(g.length - maxFiles / 2 + 1, maxMergeFiles), budget))
          .map(_._2)
        budget -= sel.length
        val tmp = new Path(root, "_compact_tmp-" + UUID.randomUUID().toString)
        // rooted at the leaf, so the tier file keeps the sources'
        // columns (no partition column inferred into the data)
        val leaf = parentRel(sel.head)
        write(scan(spark, if (leaf.isEmpty) root else new Path(root, leaf), sel.map(byName))
          .coalesce(1), "overwrite", tmp.toString, Nil)
        val part = dataFiles(fs, tmp).nextOption()
          .getOrElse(throw new IllegalStateException(
            s"merge wrote no parquet under $tmp"))
        val tierRel = (if (leaf.isEmpty) "" else leaf + "/") +
          "tier-" + UUID.randomUUID().toString + ".parquet"
        if (!fs.rename(part.getPath, new Path(root, tierRel)))
          throw new IllegalStateException(
            s"rename ${part.getPath} -> $root/$tierRel failed")
        fs.delete(tmp, true)
        val selSet = sel.toSet
        newLive = newLive.filterNot(selSet) :+ tierRel
        newRetired = newRetired ++ sel.map(n => (now, n))
        mergedCount += sel.length
      }
    }

    // GC strictly BEFORE the manifest commit: a crash after these
    // deletes re-resolves against the OLD manifest, whose retired
    // entries simply point at already-gone files (delete is a no-op
    // next time). The reverse order would let a crash strand deleted
    // names as "unknown appends" — silent row duplication. Only
    // entries retired by a PREVIOUS commit are eligible: a file
    // retired in THIS call is still LIVE in the old manifest, so
    // deleting it pre-commit would leave a crashed store failing the
    // lost-live-file check — even at graceMs = 0, this call's
    // retirees wait for the next commit to be collected.
    val (expired, kept) = manifest.retired.partition { case (ts, _) => now - ts >= graceMs }
    expired.foreach { case (_, n) => fs.delete(new Path(root, n), false) }
    val keptAll = kept ++ newRetired.drop(manifest.retired.length)

    if (mergedCount > 0 || expired.nonEmpty)
      writeManifest(fs, root,
        Manifest(manifest.gen + 1, newLive.sorted, keptAll))
    mergedCount
  }

  /** Staged WHOLE-STORE replacement — the rebuild primitive. A
    * periodic index rebuild must replace every row of a store that a
    * separate process may be SERVING mid-rebuild; `mode("overwrite")`
    * deletes the very files a pinned reader is scanning. This stages
    * the new generation INVISIBLY instead:
    *
    *  1. [[stageReplace]] writes `df` to a hidden temp dir, then moves
    *     the part files into the store under `tier-*` names — which
    *     the resolution rule treats as uncommitted until a manifest
    *     admits them, so readers keep resolving the OLD live set while
    *     the (arbitrarily slow) rebuild write runs. The returned
    *     handle exposes the staged rows ([[StagedReplace.staged]]) so
    *     downstream tables of a multi-table rebuild derive from the
    *     new upstream data before anything commits.
    *  2. [[StagedReplace.commit]] atomically publishes a generation
    *     whose live set is EXACTLY the staged files; every previously
    *     live file (including appends) is retired and outlives
    *     `graceMs`, so an in-flight reader that pinned its snapshot
    *     before the commit finishes its scan on the old generation.
    *
    * Crash contract: a crash before commit leaves orphaned tier files
    * (invisible; swept by the next stage or compaction) and the old
    * generation fully serving. Multi-table stores (an index) commit
    * through [[swap]], which gives them cross-table atomicity. Single
    * maintenance writer per store, like the compactor. */
  def stageReplace(spark: SparkSession, dir: String, df: DataFrame,
                   partitionCols: Seq[String] = Nil,
                   graceMs: Long = DefaultGraceMs): StagedReplace = {
    val (fs, root) = fsOf(spark, dir)
    fs.mkdirs(root)
    // sweep temp dirs and never-committed tier files a crashed
    // previous stage left behind
    fs.listStatus(root).foreach { s =>
      if (s.isDirectory && s.getPath.getName.startsWith("_replace_tmp"))
        fs.delete(s.getPath, true)
    }
    val onDisk = listData(fs, root)
    // bootstrap the manifest BEFORE any tier file lands (the
    // compactCore rule: from here on, an unknown tier file always
    // means a crashed commit)
    val manifest = latestManifest(fs, root).getOrElse {
      val m = Manifest(0L, onDisk.map(_._1).sorted, Vector.empty)
      writeManifest(fs, root, m)
      m
    }
    val known = manifest.live.toSet ++ manifest.retired.map(_._2)
    onDisk.foreach { case (n, _) =>
      if (isTier(n) && !known(n)) fs.delete(new Path(root, n), false)
    }
    val tmp = new Path(root, "_replace_tmp-" + UUID.randomUUID().toString)
    write(df, "overwrite", tmp.toString, partitionCols)
    val tag = UUID.randomUUID().toString
    val staged = Vector.newBuilder[String]
    var i = 0
    listData(fs, tmp).foreach { case (rel, _) =>
      val leaf = parentRel(rel)
      if (leaf.nonEmpty) fs.mkdirs(new Path(root, leaf))
      val dstRel = (if (leaf.isEmpty) "" else leaf + "/") + s"tier-$tag-$i.parquet"
      if (!fs.rename(new Path(tmp, rel), new Path(root, dstRel)))
        throw new IllegalStateException(s"stage rename $rel -> $root/$dstRel failed")
      staged += dstRel
      i += 1
    }
    fs.delete(tmp, true)
    new StagedReplace(spark, dir, staged.result(), graceMs)
  }

  /** The completion-marker swap of a multi-table rebuild: every store
    * of an index is staged first, then `tables` (the MARKER table
    * last) publish in one short window — the marker table's `_SUCCESS`
    * is deleted, every other table commits, `inWindow` runs (markers
    * kept outside the stores), and the marker table commits last,
    * which restores `_SUCCESS`. A crash anywhere inside the window
    * leaves an index that FAILS its completion check rather than
    * serving mixed generations; re-running the rebuild heals it. */
  def swap(tables: Seq[StagedReplace], inWindow: => Unit = ()): Unit = {
    val marker = tables.last
    val (fs, root) = fsOf(marker.spark, marker.dir)
    fs.delete(new Path(root, "_SUCCESS"), false)
    tables.init.foreach(_.commit())
    inWindow
    marker.commit()
  }

  /** Handle over a staged-but-uncommitted replacement — see
    * [[stageReplace]]. */
  final class StagedReplace private[Snapshot] (
      private[Snapshot] val spark: SparkSession, private[Snapshot] val dir: String,
      private[graft] val stagedRel: Vector[String], graceMs: Long) {

    /** The staged rows (readable BEFORE commit — invisible to every
      * other reader): rebuilds derive downstream tables from staged
      * upstream data. Rooted at the store, so Hive partition columns
      * are kept. */
    def staged: DataFrame = {
      val (fs, root) = fsOf(spark, dir)
      scan(spark, root, stagedRel.map(n => fs.getFileStatus(new Path(root, n))))
    }

    /** Atomic publish: new generation live = the staged set; all
      * previously-live files retire (GC after grace). Restores the
      * store's `_SUCCESS` marker as its LAST step — [[swap]] hangs on
      * that ordering. */
    def commit(): Unit = {
      val (fs, root) = fsOf(spark, dir)
      val manifest = latestManifest(fs, root).getOrElse(
        throw new IllegalStateException(
          s"staged store $dir lost its manifest before commit"))
      val onDiskSet = listData(fs, root).map(_._1).toSet
      val stagedSet = stagedRel.toSet
      val missing = stagedRel.filterNot(onDiskSet)
      require(missing.isEmpty,
        s"staged files vanished before commit in $dir: " +
          missing.take(5).mkString(", "))
      val missingLive = manifest.live.filterNot(onDiskSet)
      require(missingLive.isEmpty,
        s"snapshot store $dir lost live files (externally deleted?): " +
          missingLive.take(5).mkString(", "))
      val known = manifest.live.toSet ++ manifest.retired.map(_._2)
      val appends = onDiskSet.toVector
        .filter(n => !known(n) && !stagedSet(n) && !isTier(n))
      val now = System.currentTimeMillis()
      // GC: only PREVIOUSLY-retired entries are eligible (this
      // commit's retirees are live in the old manifest — deleting
      // them pre-commit would let a crash fail the lost-live check)
      val (expired, kept) = manifest.retired
        .partition { case (ts, _) => now - ts >= graceMs }
      expired.foreach { case (_, n) => fs.delete(new Path(root, n), false) }
      val retiring = (manifest.live ++ appends).filterNot(stagedSet)
      writeManifest(fs, root, Manifest(manifest.gen + 1,
        stagedRel.sorted, kept ++ retiring.map(n => (now, n))))
      val succ = fs.create(new Path(root, "_SUCCESS"), true)
      succ.close()
    }
  }
}
