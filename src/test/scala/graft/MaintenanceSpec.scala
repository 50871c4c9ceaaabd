package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Table maintenance: compaction sizes its output from the source
  * listing and preserves the rows; range clustering produces files
  * with disjoint key ranges (the min/max-skipping precondition). */
class MaintenanceSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val sf = SparkSpec.sf

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def parquetFiles(dir: String) =
    new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet"))

  test("compactTable merges small files to the target size, rows intact") {
    val small = tmp("graft-small")
    Tables(spark, sf, "events").repartition(64).write.mode("overwrite").parquet(small)
    assert(parquetFiles(small).length === 64)

    val compacted = tmp("graft-compact")
    val totalBytes = parquetFiles(small).map(_.length).sum
    val target = totalBytes / 3 // expect ceil(3-ish) output files
    val parts = operators.Maintenance.compactTable(spark, small, compacted, target)
    assert(parts === math.ceil(totalBytes.toDouble / target).toInt)
    assert(parquetFiles(compacted).length === parts)
    assert(parts < 64)

    def ids(dir: String) = spark.read.parquet(dir)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(compacted) === ids(small))

    // coalesce mode: same rows, no shuffle in the plan
    val co = tmp("graft-compact-co")
    operators.Maintenance.compactTable(spark, small, co, target, shuffle = false)
    assert(ids(co) === ids(small))
  }

  test("compactPartitioned keeps the Hive layout while merging files per partition") {
    val src = tmp("graft-part-small")
    // a file-per-trigger style producer: 12 appends, each spraying a
    // few rows into every kb partition → many tiny files per dir
    val base = spark.range(200)
      .select(col("id").as("doc_id"),
        operators.DedupOps.keyBucket(col("id")).as("kb"))
    (0 until 12).foreach { i =>
      base.filter(col("doc_id") % 12 === i)
        .write.mode("append").partitionBy("kb").parquet(src)
    }
    def leafFiles(dir: String): Map[String, Int] =
      new java.io.File(dir).listFiles.filter(_.isDirectory)
        .filter(_.getName.startsWith("kb="))
        .map(d => d.getName -> d.listFiles.count(_.getName.endsWith(".parquet")))
        .toMap
    val before = leafFiles(src)
    assert(before.values.exists(_ > 1), "seed must accrete small files")

    val dst = tmp("graft-part-compact")
    operators.Maintenance.compactPartitioned(spark, src, dst, targetBytes = 256L << 20)
    val after = leafFiles(dst)
    assert(after.keySet === before.keySet, "partition directories must be preserved")
    assert(after.values.forall(_ === 1), "each partition should compact to one file")

    // partition COLUMN survives with its values intact, and the rows match
    def rows(dir: String) = spark.read.parquet(dir)
      .select("doc_id", "kb").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(rows(dst) === rows(src))
    // pruning still works on the compacted copy: one bucket → one file
    val b = before.keySet.head.stripPrefix("kb=").toInt
    val pruned = spark.read.parquet(dst).filter(col("kb") === b)
    assert(pruned.count() ===
      spark.read.parquet(src).filter(col("kb") === b).count())

    // a RELATIVE source path must produce the same layout — listStatus
    // returns qualified absolute paths, so an unqualified root would
    // never prefix-match and the partition dirs would be buried under
    // dstDir/<absolute-src-path>/
    val relSrc = "target/graft-rel-compact-src"
    val relDst = tmp("graft-part-compact-rel")
    try {
      base.write.mode("overwrite").partitionBy("kb").parquet(relSrc)
      operators.Maintenance.compactPartitioned(spark, relSrc, relDst)
      assert(leafFiles(relDst).keySet === leafFiles(relSrc).keySet,
        "relative src must keep partition dirs at the dst root")
      assert(rows(relDst) === rows(relSrc))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(relSrc))
    }
  }

  test("compactTiered merges the smallest tier in place, rows intact") {
    val dir = tmp("graft-tiered")
    // per-trigger append pattern: many small files, a couple larger ones
    (0 until 18).foreach { i =>
      spark.range(i * 10, i * 10 + (if (i % 6 == 0) 200 else 5))
        .select(col("id")).coalesce(1).write.mode("append").parquet(dir)
    }
    val before = parquetFiles(dir)
    assert(before.length >= 18)
    // live files and rows as a reader resolves them (grace-0 retirees
    // stay on disk until the next call collects them)
    def live() = operators.Snapshot.files(spark, dir)
      .map(f => new java.io.File(new java.net.URI(f)))
    def ids() = operators.Snapshot.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
    def compact() = operators.Snapshot.compactTiered(spark, dir, maxFiles = 8, graceMs = 0)
    val rows = ids()

    // a crashed previous call's temp dir must be invisible to readers
    // and swept by the next call
    val orphan = new java.io.File(dir, "_compact_tmp-orphan")
    assert(orphan.mkdir())
    assert(ids() === rows, "underscore temp dir must be hidden from the reader")

    val merged = compact()
    assert(merged === before.length - 4 + 1, "merge down to maxFiles/2")
    assert(live().length === 4)
    assert(live().forall(_.exists), "live paths must resolve to on-disk files")
    assert(!orphan.exists(), "compactor must sweep crashed temp dirs")
    assert(ids() === rows, "in-place merge must not change a row")

    // under threshold → no-op
    assert(compact() === 0)
    assert(ids() === rows)

    // size-tiered discipline: after MORE small appends, the next merge
    // folds the new deltas but leaves the largest survivor untouched —
    // rows are not rewritten O(n) times
    val biggest = live().maxBy(_.length)
    assert(biggest.length > live().map(_.length).min, "tiers must differ in size")
    (0 until 8).foreach { i =>
      spark.range(1000 + i, 1001 + i).coalesce(1).write.mode("append").parquet(dir)
    }
    assert(compact() > 0)
    assert(live().contains(biggest),
      "largest file must graduate out of the merge tier")
    assert(ids() === (rows ++ (1000L until 1008L)).sorted)
  }

  test("in-place tiered compaction of the live index keeps probes bit-identical") {
    val idx = tmp("graft-mhidx-tiered")
    operators.DedupOps.incrementalIndexBuild(spark, sf, idx,
      docFilter = pmod(col("doc_id"), lit(5)) =!= 0)
    val rest = Tables(spark, sf, "documents")
      .filter(pmod(col("doc_id"), lit(5)) === 0).select("doc_id", "text")
    (0 until 4).foreach { i =>
      operators.DedupOps.incrementalIndexUpdate(spark,
        rest.filter(pmod(col("doc_id"), lit(4)) === i), idx)
    }
    val probeDocs = Tables(spark, sf, "documents")
      .filter(pmod(col("doc_id"), lit(10)) === 7).select("doc_id", "text")
    def pairs() = operators.DedupOps.probeIndex(spark, probeDocs, idx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = pairs()
    assert(before.nonEmpty)
    // the staged builders write manifest-managed stores from birth;
    // the snapshot compactor is their maintenance path
    def live(t: String) = operators.Snapshot.files(spark, s"$idx/$t").length
    val (b0, s0) = (live("bands"), live("sets"))
    assert(operators.Snapshot.compactTiered(spark, s"$idx/bands", 4, graceMs = 0) > 0)
    assert(operators.Snapshot.compactTiered(spark, s"$idx/sets", 4, graceMs = 0) > 0)
    operators.Snapshot.compactTieredPartitioned(spark, s"$idx/ids", 2, graceMs = 0)
    assert(live("bands") < b0 && live("sets") < s0)
    assert(pairs() === before,
      "tiered compaction must not change a single probe result")
    val buckets = (0 until operators.DedupOps.keyBuckets).toSeq
    val members = operators.DedupOps.indexedIds(spark, idx, buckets)
      .collect().map(_.getLong(0)).toSet
    assert(members === (Tables(spark, sf, "documents")
      .select("doc_id").collect().map(_.getLong(0)).toSet))
  }

  test("compacting the minhash index leaves probe results bit-identical") {
    import org.apache.spark.sql.functions.col
    val idx = tmp("graft-mhidx-compact")
    // build on 80% of the corpus, then fold the rest in over several
    // small appends — the file-accretion pattern the sink produces
    operators.DedupOps.incrementalIndexBuild(spark, sf, idx,
      docFilter = pmod(col("doc_id"), lit(5)) =!= 0)
    val rest = Tables(spark, sf, "documents")
      .filter(pmod(col("doc_id"), lit(5)) === 0).select("doc_id", "text")
    (0 until 4).foreach { i =>
      operators.DedupOps.incrementalIndexUpdate(spark,
        rest.filter(pmod(col("doc_id"), lit(4)) === i), idx)
    }
    val probeDocs = Tables(spark, sf, "documents")
      .filter(pmod(col("doc_id"), lit(10)) === 7).select("doc_id", "text")
    def pairsAgainst(i: String) = operators.DedupOps.probeIndex(spark, probeDocs, i)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = pairsAgainst(idx)
    assert(before.nonEmpty)

    // compact every index table into a fresh dir: flat tables via
    // compactTable, the kb-partitioned ids via compactPartitioned
    val dst = tmp("graft-mhidx-compacted")
    Seq("sets", "bands", "universe").foreach { t =>
      operators.Maintenance.compactTable(spark, s"$idx/$t", s"$dst/$t")
    }
    operators.Maintenance.compactPartitioned(spark, s"$idx/ids", s"$dst/ids")
    assert(pairsAgainst(dst) === before,
      "compaction must not change a single probe result")
    // the membership side survives too (same ids, still pruned reads)
    val buckets = (0 until operators.DedupOps.keyBuckets).toSeq
    def members(i: String) = operators.DedupOps.indexedIds(spark, i, buckets)
      .collect().map(_.getLong(0)).toSet
    assert(members(dst) === members(idx))
  }

  /** A carve of a fresh IVF build over `sf` with the `vec_id % 3 == 0`
    * slice left out (the full build's radii kept), the full build,
    * and that slice in two halves. */
  private def carvedIvf(prefix: String): (String, String, Seq[org.apache.spark.sql.DataFrame]) = {
    val full = tmp(s"$prefix-full")
    operators.VectorOps.ivfBuildIndex(spark, sf, full)
    val part = tmp(s"$prefix-part")
    SinkBench.carveIndex(spark, full, part, id => pmod(id, lit(3)) =!= 0)
    val slice = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") >= operators.VectorOps.nQueries && pmod(col("vec_id"), lit(3)) === 0)
      .select("vec_id", "embedding")
    (full, part, Seq(0, 1).map(h => slice.filter(pmod(col("vec_id"), lit(2)) === h)))
  }

  private def ivfResults(idx: String) = operators.VectorOps.annIvfQuery(spark, sf, idx)
    .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet

  test("compacting an appended IVF index leaves search results bit-identical") {
    // the ivfAppend lifecycle accretes a file set per batch; the
    // maintenance pass over the flat invlist must not perturb serving
    val (full, idx, halves) = carvedIvf("graft-ivf-compact")
    val carved = operators.Snapshot.files(spark, idx + "/invlist").size
    halves.foreach(h => assert(operators.VectorOps.ivfAppend(spark, h, idx) > 0))
    assert(operators.Snapshot.files(spark, idx + "/invlist").size >= carved + 2,
      "each append lands files of its own")
    val before = ivfResults(idx)
    assert(before === ivfResults(full), "the appends restore the full build's lists")
    val compacted = tmp("graft-ivf-compacted")
    operators.Snapshot.read(spark, idx + "/centroids").write.parquet(compacted + "/centroids")
    val files = operators.Maintenance.compactTable(spark, idx + "/invlist", compacted + "/invlist")
    assert(files >= 1)
    assert(spark.read.parquet(compacted + "/invlist").count() ===
      operators.Snapshot.read(spark, idx + "/invlist").count())
    assert(ivfResults(compacted) === before)
  }

  test("ivfAppend commits the radius store only when an arrival widens it") {
    val (full, part, halves) = carvedIvf("graft-ivf-widen")
    def gen(idx: String) = SparkSpec.manifestGeneration(s"$idx/radius")
    def radius(idx: String) = operators.Snapshot.read(spark, s"$idx/radius")
      .collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    // the carve keeps the full build's radii, which cover every arrival
    val gen0 = gen(part)
    halves.foreach(h => assert(operators.VectorOps.ivfAppend(spark, h, part) > 0))
    assert(gen(part) === gen0, "an append inside every stored radius commits nothing")
    assert(radius(part) === radius(full))
    def range(idx: String) = operators.VectorOps.annRangeIvfQuery(spark, sf, idx)
      .collect().map(_.toSeq).toSet
    assert(range(part) === range(full))

    // zeroed radii: every arrival lies outside its list's radius
    val (_, zeroed, zHalves) = carvedIvf("graft-ivf-widen-zero")
    operators.Snapshot.stageReplace(spark, s"$zeroed/radius",
      operators.Snapshot.read(spark, s"$zeroed/radius").withColumn("dev", lit(0.0))).commit()
    val genZ = gen(zeroed)
    assert(operators.VectorOps.ivfAppend(spark, zHalves.head, zeroed) > 0)
    assert(gen(zeroed) === genZ + 1, "an arrival outside its radius widens it in one commit")
    val widened = radius(zeroed)
    assert(widened.keySet === radius(full).keySet)
    assert(widened.values.exists(_ > 0.0))
    // monotone, and never past the radius the full build measured
    assert(widened.forall { case (c, d) => d >= 0.0 && d <= radius(full)(c) })
  }

  test("clusterBy yields files with disjoint key ranges that a range scan can skip") {
    val src = tmp("graft-unclustered")
    // scramble so the unclustered layout has overlapping ranges
    Tables(spark, sf, "events").orderBy(hash(col("event_id")))
      .coalesce(8).write.mode("overwrite").parquet(src)

    val dst = tmp("graft-clustered")
    operators.Maintenance.clusterBy(spark, src, dst, "event_id", 8)

    def ranges(dir: String) = parquetFiles(dir).map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min(col("event_id")), max(col("event_id"))).collect().head
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)

    val clustered = ranges(dst)
    clustered.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, "clustered file ranges must be disjoint")
      case _ =>
    }
    // the scrambled source, by contrast, has every file spanning ~the
    // whole id range — the layout clusterBy exists to fix
    val unclustered = ranges(src)
    assert(unclustered.exists { case (lo, hi) => hi - lo > (clustered.head._2 - clustered.head._1) * 2 },
      "scrambled layout should have wide overlapping ranges")

    // rows preserved
    assert(spark.read.parquet(dst).count() === spark.read.parquet(src).count())
  }

  test("zOrderBy prunes range scans on BOTH keys where linear clustering serves one") {
    val src = tmp("graft-z-src")
    Tables(spark, sf, "events").orderBy(hash(col("event_id")))
      .coalesce(16).write.mode("overwrite").parquet(src)

    val linear = tmp("graft-z-linear")
    operators.Maintenance.clusterBy(spark, src, linear, "event_id", 16)
    val zed = tmp("graft-z-zed")
    operators.Maintenance.zOrderBy(spark, src, zed, "event_id", "user_id", 16)

    // fraction of files whose footer [min,max] overlaps a narrow
    // range predicate on `key` — what parquet data skipping reads
    def overlapFrac(dir: String, key: String, lo: Long, hi: Long): Double = {
      val files = parquetFiles(dir)
      val hit = files.count { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min(col(key)), max(col(key))).collect().head
        r.getLong(0) <= hi && r.getLong(1) >= lo
      }
      hit.toDouble / files.length
    }
    val Array(evLo, evHi, usLo, usHi) = Tables(spark, sf, "events")
      .agg(min(col("event_id")), max(col("event_id")),
        min(col("user_id")), max(col("user_id"))).collect().head
      .toSeq.map(_.asInstanceOf[Long]).toArray
    def narrow(lo: Long, hi: Long) = (lo, lo + (hi - lo) / 8)
    val (e1, e2) = narrow(evLo, evHi)
    val (u1, u2) = narrow(usLo, usHi)

    // linear layout: perfect on its own key, useless on the other
    assert(overlapFrac(linear, "event_id", e1, e2) <= 0.25)
    assert(overlapFrac(linear, "user_id", u1, u2) >= 0.9,
      "every linear file spans ~the whole second-key range")
    // z-order: real pruning on BOTH keys
    assert(overlapFrac(zed, "event_id", e1, e2) <= 0.6)
    assert(overlapFrac(zed, "user_id", u1, u2) <= 0.6)
    // rows preserved
    assert(spark.read.parquet(zed).count() === spark.read.parquet(src).count())
  }

  test("annIvfQuery serves bit-identically across a live snapshot compaction") {
    // the round-8 gap: in-place compaction and serving could not share
    // an index dir (maintain had to be gated off for served indexes).
    // Carve a frozen-quantizer index and fragment its invlist with six
    // append batches — the streaming sink's trigger pattern — then
    // merge WHILE a serving snapshot is pinned.
    val idxFull = tmp("graft-ivfsnap-full")
    operators.VectorOps.ivfBuildIndex(spark, sf, idxFull)
    val idx = tmp("graft-ivfsnap")
    SinkBench.carveIndex(spark, idxFull, idx, id => pmod(id, lit(3)) =!= 0)
    val rest = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") >= operators.VectorOps.nQueries &&
        pmod(col("vec_id"), lit(3)) === 0)
      .select("vec_id", "embedding")
    (0 until 6).foreach { i =>
      operators.VectorOps.ivfAppend(spark,
        rest.filter(pmod(col("vec_id"), lit(6)) === i), idx)
    }
    def serve() = operators.VectorOps.annIvfQuery(spark, sf, idx)
      .collect().map(_.toString).sorted.toSeq
    val before = serve()
    assert(before.nonEmpty)
    // a serving process resolves its snapshot (scan in flight)...
    val pinned = operators.Snapshot.files(spark, idx + "/invlist")
    val pinnedLists = spark.read.parquet(pinned: _*)
      .collect().map(_.toString).sorted.toSeq
    // ...and maintenance merges the fragmented lists LIVE, mid-scan
    assert(operators.Snapshot.compactTiered(spark, idx + "/invlist",
      maxFiles = 4, graceMs = 24L * 3600 * 1000) > 0)
    // the in-flight scan's pinned files still read bit-identically
    assert(spark.read.parquet(pinned: _*)
      .collect().map(_.toString).sorted.toSeq === pinnedLists)
    // and the next serving resolution returns the same neighbors
    assert(serve() === before)
  }

  test("ivfBuildIndex REBUILD is snapshot-isolated: in-flight serving finishes " +
    "on the old generation, the next read serves the new one") {
    // the round-9 gap: compaction was snapshot-isolated but the
    // periodic FULL REBUILD still overwrote index dirs in place,
    // deleting the files a pinned reader was mid-way through scanning
    val idx = tmp("graft-ivfrebuild")
    operators.VectorOps.ivfBuildIndex(spark, sf, idx, k = 4)
    def serve() = operators.VectorOps.annIvfQuery(spark, sf, idx)
      .collect().map(_.toString).sorted.toSeq
    val before = serve()
    assert(before.nonEmpty)
    // a serving process constructs its query BEFORE the rebuild — the
    // Snapshot reads resolve (pin) the file set at construction
    val inFlight = operators.VectorOps.annIvfQuery(spark, sf, idx)
    val pinned = operators.Snapshot.files(spark, idx + "/invlist")
    // the drift-scheduled FULL REBUILD (different quantizer size —
    // every table's content changes) runs LIVE, mid-scan
    operators.VectorOps.ivfBuildIndex(spark, sf, idx, k = 16)
    // the in-flight construction completes BIT-IDENTICALLY on its
    // pinned old generation (retired files outlive the grace window)
    assert(inFlight.collect().map(_.toString).sorted.toSeq === before)
    def onDisk(p: String) = new java.io.File(new java.net.URI(p).getPath).exists()
    assert(pinned.forall(onDisk),
      "old-generation files must survive the rebuild for the grace window")
    // the next construction resolves the NEW generation: a disjoint
    // file set, the restored completion marker, and a live serving path
    val after = operators.Snapshot.files(spark, idx + "/invlist")
    assert(after.toSet.intersect(pinned.toSet).isEmpty,
      "new generation must not share invlist files with the old one")
    assert(operators.VectorOps.hExists(spark, idx + "/invlist/_SUCCESS"))
    assert(serve().nonEmpty)
  }

  test("minhash probeIndex serves across a live rebuildIndex") {
    val idx = tmp("graft-mhrebuild")
    val corpus90 = Tables(spark, sf, "documents")
      .filter(pmod(col("doc_id"), lit(10)) =!= 7).select("doc_id", "text")
    operators.DedupOps.rebuildIndex(spark, corpus90, idx)
    val batch = Tables(spark, sf, "documents")
      .filter(pmod(col("doc_id"), lit(10)) === 7).select("doc_id", "text")
    def probe() = operators.DedupOps.probeIndex(spark, batch, idx)
      .collect().map(_.toString).sorted.toSeq
    val before = probe()
    assert(before.nonEmpty)
    // pinned construction (probeIndex resolves + checkpoints its
    // candidate probe at construction), then the rebuild over the
    // GROWN corpus — original + arrivals — runs live. Note corpusDocs
    // reading the corpus is fine DURING a rebuild: staging never
    // deletes the old generation (the scaladoc's composition note).
    val inFlight = operators.DedupOps.probeIndex(spark, batch, idx)
    operators.DedupOps.rebuildIndex(spark,
      Tables(spark, sf, "documents").select("doc_id", "text"), idx)
    assert(inFlight.collect().map(_.toString).sorted.toSeq === before,
      "in-flight probe must finish on its pinned old generation")
    // next probe serves the new generation (batch docs now indexed —
    // at least the old pairs still verify)
    assert(probe().nonEmpty)
    assert(operators.VectorOps.hExists(spark, idx + "/bands/_SUCCESS"))
  }

  test("signature probeIndex serves across a live phashRebuildIndex — " +
    "image, audio and video") {
    import operators.MultimodalOps.{audioPhashFamily, imagePhashFamily,
      phashProbeIndex, phashRebuildIndex, videoPhashFamily}
    val sess = spark
    import sess.implicits._
    // two generations over disjoint signature neighbourhoods: the first
    // build indexes docs 1-2 next to `s`, the rebuild docs 10-11 next
    // to `t`; the probe batch carries one signature of each
    val (s, t) = (0x0F0F0F0F0F0F0F0FL, 0x7070707070707070L)
    def near(a: Long, b: Long, sig: Long) = Seq((a, sig), (b, sig ^ 1L))
    Seq(imagePhashFamily, audioPhashFamily, videoPhashFamily).foreach { family =>
      // a video signs each frame slot; two shared slots make a pair
      def sigs(rows: Seq[(Long, Long)]) =
        if (family.slotKeys.isEmpty) rows.toDF("doc_id", "sig")
        else rows.flatMap { case (d, g) => Seq((d, 0, g), (d, 1, g)) }
          .toDF("doc_id", "slot", "sig")
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val idx = tmp("graft-sigrebuild")
      phashRebuildIndex(spark, family, sigs(near(1L, 2L, s)), idx)
      val batch = sigs(Seq((100L, s), (101L, t)))
      val before = pairs(phashProbeIndex(spark, family, batch, idx))
      assert(before === Set((1L, 100L), (2L, 100L)), family.population)
      // a probe built before the rebuild pins the old generation ...
      val inFlight = phashProbeIndex(spark, family, batch, idx)
      val pinned = operators.Snapshot.files(spark, idx + "/bands")
      phashRebuildIndex(spark, family, sigs(near(10L, 11L, t)), idx)
      assert(pairs(inFlight) === before,
        s"${family.population}: the in-flight probe must finish on its pinned generation")
      // ... and a probe built after it sees only the new one
      assert(operators.Snapshot.files(spark, idx + "/bands").toSet
        .intersect(pinned.toSet).isEmpty, family.population)
      assert(pairs(phashProbeIndex(spark, family, batch, idx)) ===
        Set((10L, 101L), (11L, 101L)), family.population)
    }
  }

  test("crash mid-swap: the index fails the completion check loudly — " +
    "never serves mixed generations") {
    val idx = tmp("graft-mhcrash")
    val corpus = Tables(spark, sf, "documents").select("doc_id", "text")
    operators.DedupOps.rebuildIndex(spark, corpus, idx)
    val batch = corpus.filter(pmod(col("doc_id"), lit(10)) === 7)
    val oldBands = operators.Snapshot.read(spark, idx + "/bands").count()
    assert(oldBands > 0)
    // the swap's worst crash point: new generations staged, marker
    // deleted, SOME tables committed, bands (the marker table) NOT
    val rU = operators.Snapshot.stageReplace(spark, idx + "/universe",
      operators.Snapshot.read(spark, idx + "/universe").limit(1))
    val rB = operators.Snapshot.stageReplace(spark, idx + "/bands",
      operators.Snapshot.read(spark, idx + "/bands").limit(1))
    intercept[IllegalStateException] {
      operators.Snapshot.swap(Seq(rU, rB), throw new IllegalStateException("crash"))
    }
    assert(rB.stagedRel.nonEmpty) // the orphaned tier files exist...
    assert(operators.Snapshot.read(spark, idx + "/bands").count() === oldBands,
      "uncommitted staged bands must stay invisible — old generation serves")
    // ...but every serving/maintenance entry point fails the
    // completion check instead of mixing generations
    intercept[IllegalArgumentException] {
      operators.DedupOps.probeIndex(spark, batch, idx).collect()
    }
    intercept[IllegalArgumentException] {
      operators.DedupOps.incrementalIndexUpdate(spark, batch, idx)
    }
    // recovery = re-run the rebuild: sweeps the orphans, restores a
    // complete, consistent index
    operators.DedupOps.rebuildIndex(spark, corpus, idx)
    assert(operators.VectorOps.hExists(spark, idx + "/bands/_SUCCESS"))
    assert(operators.DedupOps.probeIndex(spark, batch, idx).collect().nonEmpty)

    // the signature rebuild crashes inside the same window: a directory
    // squatting on `_POPULATION` fails the marker write after `ids`
    // committed and before `bands` does
    import operators.MultimodalOps.{imagePhashFamily, phashIndexUpdate, phashProbeIndex,
      phashRebuildIndex}
    val sess = spark
    import sess.implicits._
    val sidx = tmp("graft-sigcrash")
    val sigs = Seq((1L, 0x0F0F0F0F0F0F0F0FL), (2L, 0x0F0F0F0F0F0F0F0EL)).toDF("doc_id", "sig")
    phashRebuildIndex(spark, imagePhashFamily, sigs, sidx)
    val squat = new java.io.File(sidx + "/_POPULATION")
    assert(squat.delete() && new java.io.File(squat, "x").mkdirs())
    intercept[java.io.IOException](phashRebuildIndex(spark, imagePhashFamily, sigs, sidx))
    intercept[IllegalArgumentException] {
      phashProbeIndex(spark, imagePhashFamily, sigs, sidx).collect()
    }
    intercept[IllegalArgumentException](phashIndexUpdate(spark, imagePhashFamily, sigs, sidx))
    SparkSpec.deleteDir(squat.getPath)
    phashRebuildIndex(spark, imagePhashFamily, sigs, sidx)
    assert(phashProbeIndex(spark, imagePhashFamily, sigs, sidx).collect().nonEmpty)
  }

  test("synchronized leaf crossings smear over calls: per-call merge work is budgeted") {
    // the sf10 vector-sink finding: a sink appending one file to every
    // kb leaf per trigger marches ALL leaves across the threshold on
    // the same trigger — one trigger then pays every leaf's merge job.
    // The per-leaf threshold jitter + global budget must spread that
    // work over several calls while still converging.
    val dir = tmp("graft-snap-smear")
    val base = spark.range(2000)
      .select(col("id").as("doc_id"),
        operators.DedupOps.keyBucket(col("id")).as("kb"))
    (0 until 9).foreach { _ =>
      // one file per leaf per append — the sink's appendParts shape
      base.coalesce(1).write.mode("append").partitionBy("kb").parquet(dir)
    }
    def rows() = operators.Snapshot.read(spark, dir).count()
    val total = rows()
    // every leaf is over threshold (9 files vs maxFilesPerLeaf 4);
    // a small budget must NOT merge them all in one call...
    val first = operators.Snapshot.compactTieredPartitioned(spark, dir,
      maxFilesPerLeaf = 4, maxMergeFiles = 24, graceMs = 0)
    assert(first > 0 && first <= 24,
      s"per-call merge work must respect the budget, merged $first")
    assert(rows() === total)
    // ...but repeated per-trigger calls drain the backlog to the
    // jittered thresholds (maxFiles + maxFiles/2 worst case per leaf)
    var guard = 0
    while (operators.Snapshot.compactTieredPartitioned(spark, dir,
        maxFilesPerLeaf = 4, maxMergeFiles = 24, graceMs = 0) > 0 && guard < 64)
      guard += 1
    assert(guard < 64, "budgeted compaction must converge")
    val liveByLeaf = operators.Snapshot.files(spark, dir)
      .groupBy(p => p.substring(0, p.lastIndexOf('/')))
    assert(liveByLeaf.values.forall(_.size <= 4 + 2),
      "every leaf must converge under its jittered threshold")
    assert(rows() === total)
  }

  test("maxMergeJobs caps merge JOBS per call: one job merges one leaf, " +
    "deferred leaves drain on later calls") {
    // the file budget bounds merged FILES; a wave trigger's wall cost
    // is JOBS (each a read+coalesce+write) — the sf10 vector-sink
    // spike lever. With 9 files on every leaf and maxFilesPerLeaf 4,
    // one leaf's merge takes g - maxFiles/2 + 1 = 8 files; a
    // jobs-capped call must stop there even with file budget to spare.
    val dir = tmp("graft-snap-jobcap")
    val base = spark.range(2000)
      .select(col("id").as("doc_id"),
        operators.DedupOps.keyBucket(col("id")).as("kb"))
    (0 until 9).foreach { _ =>
      base.coalesce(1).write.mode("append").partitionBy("kb").parquet(dir)
    }
    def rows() = operators.Snapshot.read(spark, dir).count()
    val total = rows()
    val first = operators.Snapshot.compactTieredPartitioned(spark, dir,
      maxFilesPerLeaf = 4, maxMergeFiles = 512, graceMs = 0, maxMergeJobs = 1)
    assert(first > 0 && first <= 8,
      s"one job merges at most one leaf's selection, merged $first")
    assert(rows() === total)
    // jobs-capped per-call maintenance still converges
    var guard = 0
    while (operators.Snapshot.compactTieredPartitioned(spark, dir,
        maxFilesPerLeaf = 4, maxMergeFiles = 512, graceMs = 0,
        maxMergeJobs = 2) > 0 && guard < 80)
      guard += 1
    assert(guard < 80, "jobs-capped compaction must converge")
    val liveByLeaf = operators.Snapshot.files(spark, dir)
      .groupBy(p => p.substring(0, p.lastIndexOf('/')))
    assert(liveByLeaf.values.forall(_.size <= 4 + 2),
      "every leaf must converge under its jittered threshold")
    assert(rows() === total)
  }

  test("snapshot compaction: pinned readers survive a live merge, GC only after grace") {
    val dir = tmp("graft-snap")
    (0 until 18).foreach { i =>
      spark.range(i * 10, i * 10 + (if (i % 6 == 0) 200 else 5))
        .select(col("id")).coalesce(1).write.mode("append").parquet(dir)
    }
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).sorted.toSeq
    val rows = ids(spark.read.parquet(dir))

    // legacy store (no manifest yet): snapshot read IS the plain read
    assert(ids(operators.Snapshot.read(spark, dir)) === rows)

    // a serving process pins its snapshot, THEN maintenance merges —
    // the round-8 contract forbade exactly this interleaving
    val pinned = operators.Snapshot.files(spark, dir)
    val day = 24L * 3600 * 1000
    val merged = operators.Snapshot.compactTiered(spark, dir,
      maxFiles = 8, graceMs = day)
    assert(merged > 0)
    def onDisk(p: String) = new java.io.File(new java.net.URI(p).getPath).exists()
    assert(pinned.forall(onDisk),
      "every pinned file must outlive the merge for the grace window")
    assert(ids(spark.read.parquet(pinned: _*)) === rows,
      "the in-flight scan's snapshot must stay bit-identical")

    // a fresh resolution sees the new generation: fewer files, same rows
    val after = operators.Snapshot.files(spark, dir)
    assert(after.length < pinned.length)
    assert(ids(operators.Snapshot.read(spark, dir)) === rows)
    // ...while retired sources still sit on disk inside the grace window
    assert(parquetFiles(dir).length > after.length)

    // crashed commit: a tier file no manifest admitted must be
    // invisible (its still-live sources would otherwise double)
    val aLive = new java.io.File(new java.net.URI(after.head).getPath)
    val orphan = new java.io.File(dir, "tier-orphan-crashed.parquet")
    java.nio.file.Files.copy(aLive.toPath, orphan.toPath)
    assert(ids(operators.Snapshot.read(spark, dir)) === rows,
      "an uncommitted tier file must not surface rows")

    // grace elapsed (graceMs = 0): the next call collects retired
    // files and sweeps the orphan; the store converges to live-only
    operators.Snapshot.compactTiered(spark, dir, maxFiles = 8, graceMs = 0)
    assert(!orphan.exists(), "orphan tier must be swept")
    assert(parquetFiles(dir).length ===
      operators.Snapshot.files(spark, dir).length)
    assert(ids(operators.Snapshot.read(spark, dir)) === rows)

    // appends land live with no manifest coordination
    spark.range(5000, 5003).coalesce(1).write.mode("append").parquet(dir)
    assert(ids(operators.Snapshot.read(spark, dir)) ===
      (rows ++ (5000L until 5003L)).sorted)
  }

  /** 200 doc ids kb-partitioned in 12 appends: each of ~60 leaves
    * accretes a few small files, the file-per-trigger shape. */
  private def kbBase = spark.range(200)
    .select(col("id").as("doc_id"),
      operators.DedupOps.keyBucket(col("id")).as("kb"))

  private def kbStore(prefix: String): String = {
    val dir = tmp(prefix)
    (0 until 12).foreach { i =>
      kbBase.filter(col("doc_id") % 12 === i)
        .write.mode("append").partitionBy("kb").parquet(dir)
    }
    dir
  }

  test("snapshot compaction of a partitioned store keeps layout and pruning") {
    val dir = kbStore("graft-snap-part")
    val base = kbBase
    def docs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val rows = docs(spark.read.parquet(dir))
    val pinned = operators.Snapshot.files(spark, dir)
    // the store's files are listed on the driver and scanned as listed:
    // a read of ~60 leaves starts no listing job, before the merge and
    // after it (retired files still on disk)
    def listingJobsOfRead() = SparkSpec.listingJobs(
      SparkSpec.jobDescriptions(docs(operators.Snapshot.read(spark, dir))))
    assert(listingJobsOfRead().isEmpty, "a snapshot read listed the store in a job")

    val merged = operators.Snapshot.compactTieredPartitioned(spark, dir,
      maxFilesPerLeaf = 2, graceMs = 24L * 3600 * 1000)
    assert(merged > 0)
    assert(docs(spark.read.parquet(pinned: _*)) === rows,
      "pinned partitioned snapshot must survive the merge")

    val snap = operators.Snapshot.read(spark, dir)
    assert(docs(snap) === rows)
    assert(listingJobsOfRead().isEmpty, "a snapshot read listed the merged store in a job")
    // the kb partition column is still inferred and still prunes: a
    // one-bucket filter SCANS only that leaf's files (executed-plan
    // metric — inputFiles reports the unpruned relation)
    val kb = snap.select("kb").head.getInt(0)
    val one = operators.Snapshot.read(spark, dir).filter(col("kb") === kb)
    val got = one.collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(got === docs(base.filter(col("kb") === kb)))
    val scanned = one.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics("numFiles").value
    }.sum
    val liveInLeaf = operators.Snapshot.files(spark, dir)
      .count(_.contains(s"kb=$kb"))
    assert(scanned === liveInLeaf &&
      scanned < operators.Snapshot.files(spark, dir).length,
      s"one-bucket filter must scan only its leaf ($scanned vs $liveInLeaf live)")

    // grace elapsed: the tree converges to live-only, rows intact
    operators.Snapshot.compactTieredPartitioned(spark, dir,
      maxFilesPerLeaf = 2, graceMs = 0)
    def allParquet(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory && !f.getName.startsWith("_")) allParquet(f)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      }
    assert(allParquet(new java.io.File(dir)).length ===
      operators.Snapshot.files(spark, dir).length)
    assert(docs(operators.Snapshot.read(spark, dir)) === rows)
  }

  test("compacting a snapshot-managed store copies only its live rows") {
    val dir = kbStore("graft-snap-copy")
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("doc_id", "kb").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    val expected = rows(kbBase)
    // the merge retires the small files but keeps them on disk for the
    // grace window: only the manifest at the store root says they are gone
    assert(operators.Snapshot.compactTieredPartitioned(spark, dir,
      maxFilesPerLeaf = 2, graceMs = 24L * 3600 * 1000) > 0)
    val dst = tmp("graft-snap-copy-part")
    operators.Maintenance.compactPartitioned(spark, dir, dst, targetBytes = 256L << 20)
    assert(spark.read.parquet(dst).count() === expected.size)
    assert(rows(spark.read.parquet(dst)) === expected,
      "a partitioned compaction must copy exactly the store's live rows")
    // the target file count comes from the live bytes, not the retired ones
    val liveBytes = operators.Snapshot.files(spark, dir)
      .map(f => new java.io.File(new java.net.URI(f)).length).sum
    val flat = tmp("graft-snap-copy-flat")
    assert(operators.Maintenance.compactTable(spark, dir, flat,
      targetBytes = liveBytes / 2 + 1) === 2)
    assert(rows(spark.read.parquet(flat)) === expected)
  }

  test("building a snapshot read starts no Spark job and keeps Spark's schema") {
    val dir = kbStore("graft-snap-nojob")
    var read: org.apache.spark.sql.DataFrame = null
    val jobs = SparkSpec.jobsStarted { read = operators.Snapshot.read(spark, dir) }
    assert(jobs.isEmpty, s"building the read started ${jobs.size} job(s): $jobs")
    // the schema Spark's own read gives: nullable data columns, then kb
    assert(read.schema === spark.read.parquet(dir).schema)
    // Spark's row metadata is read from the footer: field metadata survives
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("unit", "doc").build()
    val flat = tmp("graft-snap-meta")
    spark.range(3).select(col("id").as("doc_id", meta))
      .write.mode("overwrite").parquet(flat)
    val flatRead = operators.Snapshot.read(spark, flat)
    assert(flatRead.schema("doc_id").metadata === meta)
    assert(flatRead.schema === spark.read.parquet(flat).schema)
  }
}
