package graft.operators

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table maintenance — the housekeeping that keeps a 100 TB parquet
  * lake queryable. Streaming sinks and incremental appends (the
  * file-per-window sink, the minhash index updates, any
  * foreachBatch writer) accrete small files; scans then pay a
  * per-file open/footer cost that dwarfs the data read, and
  * unclustered layout defeats min/max row-group skipping. Both jobs
  * here are plain DataFrame programs: the writes are distributed,
  * only file METADATA (a directory listing — dimension-sized, the
  * same listing every Spark scan performs) touches the driver.
  */
object Maintenance {

  /** Rewrite a parquet directory into ~`targetBytes`-sized files.
    * Target file count = ceil(live bytes / targetBytes): the store's
    * LIVE files, resolved once through [[Snapshot.liveFiles]] (every
    * data file of a plain directory — Hadoop FileSystem API, so
    * HDFS/S3-correct, recursive, so a nested layout's bytes count; a
    * manifest-managed store's live set, so retired files awaiting GC
    * are neither sized nor copied). `shuffle = true`
    * (default) repartitions for even output sizes; `false` coalesces —
    * no shuffle, but output files inherit input skew AND the count
    * only caps (coalesce cannot split partitions), the classic
    * compaction trade. Returns the file count actually written (may be
    * below the target in coalesce mode). This rewrite flattens
    * partition columns out of the directory structure — compact a
    * HIVE-PARTITIONED table with [[compactPartitioned]] instead. */
  def compactTable(spark: SparkSession, srcDir: String, dstDir: String,
                   targetBytes: Long = 128L << 20,
                   shuffle: Boolean = true): Int = {
    val (root, live) = Snapshot.liveFiles(spark, srcDir)
    rewrite(spark, root, live, dstDir, targetBytes, shuffle)
  }

  /** [[compactTable]] of a resolved live file set under `root`. */
  private def rewrite(spark: SparkSession, root: Path, live: Seq[FileStatus],
                      dstDir: String, targetBytes: Long, shuffle: Boolean): Int = {
    val bytes = live.map(_.getLen).sum
    require(bytes > 0, s"no parquet data under $root")
    val parts = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val src = Snapshot.scan(spark, root, live)
    val out = if (shuffle) src.repartition(parts) else src.coalesce(parts)
    out.write.mode("overwrite").parquet(dstDir)
    val dst = new Path(dstDir)
    Snapshot.dataFiles(dst.getFileSystem(spark.sparkContext.hadoopConfiguration), dst).size
  }

  /** Partition-aware compaction: rewrite EACH Hive partition directory
    * of a partitioned table into ~`targetBytes` files, preserving the
    * `col=value` directory layout (so partition pruning — the reason
    * the layout exists — keeps working on the compacted copy). This is
    * the one-call compaction for the library's own partitioned
    * producers: the file-per-window sink (one dir per window) and the
    * kb-partitioned sink tables / index `ids`, all of which accrete a
    * file per trigger. The live set is resolved ONCE at the store root
    * ([[Snapshot.liveFiles]] — a manifest there covers every leaf, so
    * files a snapshot merge retired are not copied), and each leaf
    * directory's live files are rewritten through [[Snapshot.scan]]
    * rooted at the leaf; nested `a=1/b=2/…` levels are followed, and a
    * leaf with no live parquet is skipped, not an error. The
    * per-partition rewrites run as successive Spark jobs — the loop is
    * over partition COUNT (dimension-sized metadata, like the listing
    * every scan does), never over rows. Returns total files written. */
  def compactPartitioned(spark: SparkSession, srcDir: String, dstDir: String,
                         targetBytes: Long = 128L << 20,
                         shuffle: Boolean = true): Int = {
    // the root is qualified the way listStatus qualifies its results —
    // a RELATIVE srcDir would otherwise never prefix-match the
    // returned absolute leaf paths and the partition dirs would be
    // recreated under dstDir/<absolute-src-path>/, an unreadable tree
    val (root, live) = Snapshot.liveFiles(spark, srcDir)
    val rootUri = root.toUri.getPath
    live.groupBy(_.getPath.getParent).toSeq.map { case (leaf, files) =>
      val rel = leaf.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
      val dst = if (rel.isEmpty) dstDir else s"$dstDir/$rel"
      rewrite(spark, leaf, files, dst, targetBytes, shuffle)
    }.sum
  }

  /** Range-clustered rewrite: `repartitionByRange` on the cluster key
    * then an in-partition sort, so every output file covers a DISJOINT
    * key range and its parquet min/max footer stats actually prune —
    * a range-predicate scan opens only the files whose range overlaps
    * the predicate instead of every file (the layout half of data
    * skipping; the scan half is free in every parquet reader). The
    * sort is by the cluster key alone — secondary sort columns would
    * tighten other columns' row-group stats at the cost of a wider
    * sort key; add them per workload. */
  def clusterBy(spark: SparkSession, srcDir: String, dstDir: String,
                key: String, files: Int): Unit =
    spark.read.parquet(srcDir)
      .repartitionByRange(files, col(key))
      .sortWithinPartitions(col(key))
      .write.mode("overwrite").parquet(dstDir)

  /** Z-ORDER clustered rewrite — the multi-column complement to
    * [[clusterBy]]: linear clustering makes the SECOND predicate
    * column useless (every file spans its full range), while
    * interleaving the two keys' bits puts rows close in BOTH
    * dimensions into the same files, so parquet min/max footers prune
    * range scans on either column (the Delta/Iceberg OPTIMIZE ZORDER
    * layout, here as a plain parquet rewrite).
    *
    * Each key is first scaled to a 16-bit bucket via its corpus
    * min/max — computed as a 1-row bounds aggregate broadcast back
    * onto the scan (in-plan, never a driver collect) — then the two
    * bucket numbers interleave bit-by-bit into a 32-bit z-value the
    * rewrite range-partitions and sorts on. Scaling by rank instead
    * of min/max would resist skew better but costs a full sort per
    * key; min/max matches what the footer-stats pruning consumes.
    * The z column is dropped before the write — the layout, not the
    * schema, carries the clustering. */
  def zOrderBy(spark: SparkSession, srcDir: String, dstDir: String,
               keyA: String, keyB: String, files: Int): Unit = {
    val df = spark.read.parquet(srcDir)
    // the bounds aliases share the `_z` reserved prefix with the
    // z-value column: an unprefixed name like `za_min` could collide
    // with a data column of the same name, making the bucket
    // expression ambiguous (and the final drop destructive)
    val bounds = df.agg(
      min(col(keyA)).cast("double").as("_z_bounds_a_min"),
      max(col(keyA)).cast("double").as("_z_bounds_a_max"),
      min(col(keyB)).cast("double").as("_z_bounds_b_min"),
      max(col(keyB)).cast("double").as("_z_bounds_b_max"))
    def bucket(key: String, mn: String, mx: String) =
      least(lit(65535L),
        floor((col(key).cast("double") - col(mn)) /
          greatest(col(mx) - col(mn), lit(java.lang.Double.MIN_NORMAL)) *
          lit(65536.0)).cast("bigint"))
    val za = bucket(keyA, "_z_bounds_a_min", "_z_bounds_a_max")
    val zb = bucket(keyB, "_z_bounds_b_min", "_z_bounds_b_max")
    val z = (0 until 16).map { i =>
      shiftleft(shiftright(za, i).bitwiseAND(lit(1L)), 2 * i + 1) +
        shiftleft(shiftright(zb, i).bitwiseAND(lit(1L)), 2 * i)
    }.reduce(_ + _)
    require(!df.columns.exists(_.startsWith("_z")),
      s"zOrderBy reserves the _z column-name prefix; $srcDir carries " +
        df.columns.filter(_.startsWith("_z")).mkString(", "))
    df.crossJoin(broadcast(bounds))
      .withColumn("_z", z)
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z", "_z_bounds_a_min", "_z_bounds_a_max",
        "_z_bounds_b_min", "_z_bounds_b_max")
      .write.mode("overwrite").parquet(dstDir)
  }
}
