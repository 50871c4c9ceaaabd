package graft.operators

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

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
  * store with no manifest at all reads as a plain directory (legacy
  * mode — every pre-snapshot store keeps working unchanged, and a
  * `mode("overwrite")` rebuild deletes `_manifests` with the rest of
  * the dir, resetting the store to legacy cleanly).
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

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  private def isTier(rel: String): Boolean =
    rel.substring(rel.lastIndexOf('/') + 1).startsWith("tier-")

  private def parentRel(rel: String): String = {
    val i = rel.lastIndexOf('/')
    if (i < 0) "" else rel.substring(0, i)
  }

  /** Recursive data-file listing as root-relative (path, bytes) pairs;
    * `_`/`.`-prefixed entries (manifests, temp dirs, _SUCCESS, crcs)
    * are skipped at every level. */
  private def listData(fs: FileSystem, root: Path): Vector[(String, Long)] = {
    val rootPath = root.toUri.getPath
    def hidden(n: String) = n.startsWith("_") || n.startsWith(".")
    def walk(d: Path): Vector[(String, Long)] =
      fs.listStatus(d).toVector.flatMap { s =>
        if (hidden(s.getPath.getName)) Vector.empty
        else if (s.isDirectory) walk(s.getPath)
        else if (s.getPath.getName.endsWith(".parquet"))
          Vector((fs.makeQualified(s.getPath).toUri.getPath
            .stripPrefix(rootPath).stripPrefix("/"), s.getLen))
        else Vector.empty
      }
    walk(root)
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

  /** Shared resolution: (root-relative live names, on-disk names).
    * Returns None when the store has no manifest (legacy mode). The
    * manifest is read BEFORE the listing: a concurrent merge
    * committing in between then shows up as an unknown tier file
    * (excluded) with its sources still live — the reverse order would
    * see the new generation's tier missing from the stale listing and
    * fail the lost-file check spuriously. */
  private def resolveLive(fs: FileSystem, root: Path,
                          dir: String): Option[(Vector[String], Vector[String])] = {
    val manifest = latestManifest(fs, root)
    val onDisk = listData(fs, root).map(_._1)
    manifest.map { m =>
      val onDiskNames = onDisk.toSet
      val missing = m.live.filterNot(onDiskNames)
      require(missing.isEmpty,
        s"snapshot store $dir lost live files (externally deleted?): " +
          missing.take(5).mkString(", "))
      val known = m.live.toSet ++ m.retired.map(_._2)
      val appends = onDisk.filter(n => !known(n) && !isTier(n))
      ((m.live ++ appends).sorted, onDisk)
    }
  }

  /** The pinned snapshot: absolute FILE paths of the store's CURRENT
    * live set, resolved once. A serving process passes these to its
    * scan and is guaranteed they exist for `graceMs` after any
    * concurrent compaction retires them — the strict isolation mode.
    * Legacy (manifest-less) stores resolve to their full on-disk
    * file set. */
  def files(spark: SparkSession, dir: String): Seq[String] = {
    val (fs, root) = fsOf(spark, dir)
    resolveLive(fs, root, dir) match {
      case None =>
        listData(fs, root).map(f => new Path(root, f._1).toString).sorted
      case Some((live, _)) => live.map(n => new Path(root, n).toString)
    }
  }

  /** Snapshot-resolved read of a store dir: the manifest's live set
    * (plus post-manifest appends) with `basePath = dir`, so Hive
    * partition columns (`kb=…`) keep being inferred and pruned
    * exactly as a whole-directory read would. Stores without a
    * manifest read as plain directories — a drop-in replacement for
    * `spark.read.parquet(dir)` on every store the snapshot compactor
    * may manage.
    *
    * Path granularity is ADAPTIVE: a leaf whose on-disk set equals
    * its live set (the steady state — no retired files awaiting GC,
    * no crashed-commit orphans) is passed as its DIRECTORY, and only
    * dirty leaves pin individual files. Per-file scans pay Spark's
    * per-path resolution ceremony (a distributed listing job above
    * the parallel-discovery threshold) on EVERY read — O(live files)
    * per trigger, which measurably climbs a streaming sink's
    * per-trigger cost as the store approaches its compaction
    * equilibrium — while directory paths stay at the store's leaf
    * count. The trade: under an exactly-concurrent merge commit, a
    * directory-granular scan can see a leaf's tier file AND its
    * retired sources (duplicate rows — which every composed reader
    * of these stores already tolerates and collapses), where the
    * per-file [[files]] pin stays bit-exact; callers needing strict
    * isolation across processes pin with [[files]]. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val (fs, root) = fsOf(spark, dir)
    if (!fs.exists(new Path(root, ManifestDirName)))
      return spark.read.parquet(dir)
    resolveLive(fs, root, dir) match {
      case None => spark.read.parquet(dir)
      case Some((live, onDisk)) =>
        require(live.nonEmpty,
          s"snapshot store $dir resolved to an empty live set")
        if (live == onDisk.sorted) return spark.read.parquet(dir)
        val liveByLeaf = live.groupBy(parentRel)
        val diskByLeaf = onDisk.groupBy(parentRel)
        val paths = (liveByLeaf.keySet ++ diskByLeaf.keySet).toSeq.sorted
          .flatMap { leaf =>
            val l = liveByLeaf.getOrElse(leaf, Vector.empty)
            val d = diskByLeaf.getOrElse(leaf, Vector.empty)
            if (leaf.nonEmpty && l.toSet == d.toSet)
              Seq(new Path(root, leaf).toString)
            else l.map(n => new Path(root, n).toString)
          }
        spark.read.option("basePath", root.toString).parquet(paths: _*)
    }
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
    val sizes = onDisk.toMap
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
        val sel = g.map(n => (sizes(n), n)).sorted
          .take(math.min(math.min(g.length - maxFiles / 2 + 1, maxMergeFiles), budget))
          .map(_._2)
        budget -= sel.length
        val tmp = new Path(root, "_compact_tmp-" + UUID.randomUUID().toString)
        spark.read.parquet(sel.map(n => new Path(root, n).toString): _*)
          .coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
        val part = fs.listStatus(tmp)
          .find(_.getPath.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(
            s"merge wrote no parquet under $tmp"))
        val leaf = parentRel(sel.head)
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
    * generation fully serving. Multi-table stores (an index) get
    * cross-table atomicity from the caller's completion-marker
    * protocol: delete the marker table's `_SUCCESS` after staging
    * everything, commit every table, and commit the marker table LAST
    * (commit restores `_SUCCESS`) — a crash anywhere inside that
    * window leaves an index that FAILS the completion check rather
    * than serving mixed generations. Single maintenance writer per
    * store, like the compactor. */
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
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(tmp.toString)
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

  /** Handle over a staged-but-uncommitted replacement — see
    * [[stageReplace]]. */
  final class StagedReplace private[Snapshot] (
      spark: SparkSession, dir: String,
      private[graft] val stagedRel: Vector[String], graceMs: Long) {

    /** The staged rows (readable BEFORE commit — invisible to every
      * other reader): rebuilds derive downstream tables from staged
      * upstream data. `basePath` keeps Hive partition columns. */
    def staged: DataFrame = {
      val (_, root) = fsOf(spark, dir)
      spark.read.option("basePath", root.toString)
        .parquet(stagedRel.map(n => new Path(root, n).toString): _*)
    }

    /** Atomic publish: new generation live = the staged set; all
      * previously-live files retire (GC after grace). Restores the
      * store's `_SUCCESS` marker as its LAST step — the caller's
      * completion-marker protocol hangs on that ordering. */
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
