package graft

import org.apache.spark.sql.DataFrame

/** Recall audit for the approximate operators at an arbitrary SF —
  * the 10×-scale evidence the rows-only-gated entries need: the
  * ScalaTest recall specs run at the test SF, but recall is a
  * density property (bucket populations shift as the corpus grows)
  * that correctness hashes can't see, so the audit re-measures every
  * approximate entry against its exact twin on big data
  * (`sbt "runMain graft.RecallAudit /tmp/sf1 RECALL_sf1.json"`).
  *
  * Measured (operator → exact baseline):
  *  - ann_lsh / ann_ivf / ann_pq / ann_ivfpq_query → annBruteForce
  *    (top-k pair recall, the QueriesSpec definition: emitted
  *    (query, neighbor) pairs that brute force also ranked, over the
  *    brute-force pair count);
  *  - dedup_embedding_lsh (auto-sized code space) → embeddingNearDup
  *    (exact cosine-threshold pairs);
  *  - dedup_minhash_pure_lsh → ngramJaccard (exact Jaccard pairs).
  *
  * Each approximate entry records (recall, seconds) — the
  * recall-vs-cost frontier a user sizing knobs actually needs, not
  * recall alone (a knob set is judged by what the extra recall
  * COSTS). Walls are single-shot on the audit session (comparable
  * within one artifact; Bench remains the cross-round wall gauge).
  *
  * One JSON line to stdout + the artifact file, the Bench convention.
  */
object RecallAudit {
  def main(args: Array[String]): Unit = {
    val stealStart = HostStat.readStealTicks()
    val sfDir = args.headOption.getOrElse("/tmp/sf1")
    val outFile = args.lift(1).getOrElse("recall-audit.json")
    // optional comma-separated subset (e.g. "ann_pq,ann_ivfpq_query")
    // — knob iteration re-measures one family without paying the
    // full audit (the Bench subset convention); recorded artifacts
    // remain full runs
    val only = args.lift(2).map(_.split(",").map(_.trim).toSet)
    def want(n: String) = only.forall(_.contains(n))
    val spark = GraftSession.local(GraftSession.cpus)

    var walls = Vector.empty[(String, Double)]
    def timed[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      walls :+= (name, (System.nanoTime() - t0) / 1e9)
      r
    }
    def topkPairs(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def idPairs(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(got: Set[(Long, Long)], exact: Set[(Long, Long)]): Double =
      if (exact.isEmpty) 1.0 else got.count(exact).toDouble / exact.size

    var entries = Vector.empty[(String, Double)]
    var sizes = Vector.empty[(String, Long)]
    // temp index dirs cleaned even on mid-measure failure (the
    // planted-dir lesson)
    def withTempDir[A](prefix: String)(body: String => A): A = {
      val p = java.nio.file.Files.createTempDirectory(prefix)
      try body(p.toString)
      finally {
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        Files.walk(p).sorted(Comparator.reverseOrder[Path]())
          .forEach(q => Files.deleteIfExists(q))
      }
    }
    val annWanted = Seq("ann_lsh", "ann_ivf", "ann_pq", "ann_ivfpq_query").filter(want)
    if (annWanted.nonEmpty) {
      val bf = timed("ann_bruteforce") {
        topkPairs(operators.VectorOps.annBruteForce(spark, sfDir)) }
      sizes :+= ("ann_bruteforce", bf.size.toLong)
      if (want("ann_lsh")) entries :+= ("ann_lsh", recall(timed("ann_lsh") {
        topkPairs(operators.VectorOps.annLsh(spark, sfDir)) }, bf))
      // the IVF-family seats measure the SERVING paths against a
      // prebuilt index, with the one-time build timed separately
      // (ivf_build / ivfpq_build walls): users budget the
      // recall-vs-SERVING-cost frontier — the fused one-shot entries
      // re-paid the Lloyd build on every audit (174.7s of the sf10
      // audit wall) while serving bit-identically (spec-pinned), so
      // the recall numbers are unchanged by construction.
      if (want("ann_ivf")) withTempDir("graft-audit-ivf") { idx =>
        timed("ivf_build") {
          operators.VectorOps.ivfBuildIndex(spark, sfDir, idx) }
        entries :+= ("ann_ivf", recall(timed("ann_ivf") {
          topkPairs(operators.VectorOps.annIvfQuery(spark, sfDir, idx)) }, bf))
      }
      if (want("ann_pq")) entries :+= ("ann_pq", recall(timed("ann_pq") {
        topkPairs(operators.VectorOps.annPq(spark, sfDir)) }, bf))
      if (want("ann_ivfpq_query")) withTempDir("graft-audit-ivfpq") { idx =>
        timed("ivfpq_build") {
          operators.VectorOps.ivfpqBuildIndex(spark, sfDir, idx) }
        entries :+= ("ann_ivfpq_query",
          recall(timed("ann_ivfpq_query") {
            topkPairs(operators.VectorOps.annIvfPqQuery(spark, sfDir, idx)) }, bf))
      }
    }

    // range search: threshold recall vs the exact radius query (a
    // different regime than top-k — the qualifying set is
    // data-dependent and probe misses cost whole pairs, not ranks)
    if (want("ann_range_ivf")) withTempDir("graft-audit-range") { idx =>
      val exactR = timed("ann_range_exact") {
        idPairs(operators.VectorOps.annRangeExact(spark, sfDir)) }
      sizes :+= ("range_pairs", exactR.size.toLong)
      // serving seat against the PREBUILT radius-carrying index —
      // the round-13 range split: build timed separately
      // (range_build), serving wall is what a user pays per query
      // batch. Probe stats read the same persisted radius, so the
      // Lloyd build runs ONCE per audit seat (it used to run three
      // times: fused query + fused stats + nothing reusable).
      timed("range_build") {
        operators.VectorOps.ivfBuildIndex(spark, sfDir, idx) }
      entries :+= ("ann_range_ivf", recall(timed("ann_range_ivf_query") {
        idPairs(operators.VectorOps.annRangeIvfQuery(spark, sfDir, idx)) }, exactR))
      // the adaptive bound's pruning diagnostics: mean probed fraction
      // (probed/lists per query). 1.0 on this diffuse corpus is the
      // certificate that no tau-respecting pruning exists at this SF,
      // not a regression — recall above is exact by construction.
      val st = timed("ann_range_ivf_probe_stats") {
        operators.VectorOps.annRangeIvfQueryProbeStats(spark, sfDir, idx).collect()
          .map(r => (r.getLong(1), r.getLong(2))) }
      if (st.nonEmpty)
        entries :+= ("ann_range_ivf_probe_frac",
          st.map { case (p, l) => p.toDouble / l }.sum / st.length)
    }

    // near-dup recall overall AND on high-margin pairs: the LSH mode's
    // declared regime is semantic dups with angular margin — the
    // zero-margin 0.4-threshold tail is the exact mode's job, so the
    // cos ≥ 0.7 / ≥ 0.9 slices are the operative numbers
    if (want("dedup_embedding_lsh") || want("dedup_embedding_ivf")) {
      val exactEmbRows = timed("embedding_near_dup_exact") {
        operators.VectorOps.embeddingNearDup(spark, sfDir)
          .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))) }
      val exactEmb = exactEmbRows.map(_._1).toSet
      def marginRecall(got: Set[(Long, Long)], minCos: Double): Double =
        recall(got, exactEmbRows.filter(_._2 >= minCos).map(_._1).toSet)
      if (want("dedup_embedding_lsh")) {
        val got = timed("dedup_embedding_lsh") {
          idPairs(operators.VectorOps.embeddingNearDupLsh(spark, sfDir)) }
        entries ++= Seq(
          ("dedup_embedding_lsh", recall(got, exactEmb)),
          ("dedup_embedding_lsh_cos07", marginRecall(got, 0.7)),
          ("dedup_embedding_lsh_cos09", marginRecall(got, 0.9)))
      }
      // the cluster-bounded mode: same exact twin, same margin slices
      // — the operative regime comparison between the two scale paths
      if (want("dedup_embedding_ivf")) {
        val got = timed("dedup_embedding_ivf") {
          idPairs(operators.VectorOps.embeddingNearDupIvf(spark, sfDir)) }
        entries ++= Seq(
          ("dedup_embedding_ivf", recall(got, exactEmb)),
          ("dedup_embedding_ivf_cos07", marginRecall(got, 0.7)),
          ("dedup_embedding_ivf_cos09", marginRecall(got, 0.9)))
      }
      // slice sizes make a vacuous 1.0 (empty slice) visible in the
      // artifact instead of reading as a measured perfect recall
      sizes ++= Seq(
        ("embedding_pairs", exactEmb.size.toLong),
        ("embedding_pairs_cos07", exactEmbRows.count(_._2 >= 0.7).toLong),
        ("embedding_pairs_cos09", exactEmbRows.count(_._2 >= 0.9).toLong))

      // PLANTED true-copy regime — the declared regime of the IVF mode
      // (cos ≳ 0.9, SemDeDup operating point) has ZERO natural pairs
      // at every SF (embedding_pairs_cos09 above is 0 everywhere), so
      // those 1.0 seats are vacuous; this seat plants the regime at
      // audit scale with the QueriesSpec recipe (deterministic
      // per-coordinate ×{0.85,1.15} twin → cos(v, v∘s) ≈ 0.989) in a
      // SEPARATE corpus dir — the natural-corpus seats above never see
      // the twins. Recall here is non-vacuous by construction
      // (planted_pairs = n) and is the at-scale measurement of the
      // operator's contract; boundary effects in coarse quantization
      // grow with n, which is exactly what spec-scale can't see.
      if (want("dedup_embedding_ivf") || want("dedup_embedding_lsh")) {
        import org.apache.spark.sql.functions._
        val base = Tables(spark, sfDir, "embeddings")
        val nBase = base.count()
        val span = base.agg(max(col("vec_id"))).first().getLong(0) + 1L
        val scales = {
          val rnd = new scala.util.Random(977)
          Seq.fill(64)(if (rnd.nextBoolean()) 1.15f else 0.85f)
        }
        val twin = base
          .withColumn("vec_id", col("vec_id") + lit(span))
          .withColumn("embedding",
            zip_with(col("embedding"), typedlit(scales), (x, s) => x * s))
        val plantedPath = java.nio.file.Files
          .createTempDirectory("graft-recall-planted")
        val plantedDir = plantedPath.toString
        try {
          base.unionAll(twin).write.mode("overwrite")
            .parquet(s"$plantedDir/embeddings.parquet")
          sizes :+= ("planted_pairs", nBase)
          def plantedRecall(got: Set[(Long, Long)]): Double = {
            val hits = base.select("vec_id").collect().map(_.getLong(0))
              .count(id => got.contains((id, id + span)))
            hits.toDouble / nBase
          }
          if (want("dedup_embedding_ivf"))
            entries :+= ("dedup_embedding_ivf_planted",
              plantedRecall(timed("dedup_embedding_ivf_planted") {
                idPairs(operators.VectorOps.embeddingNearDupIvf(spark, plantedDir)) }))
          if (want("dedup_embedding_lsh"))
            entries :+= ("dedup_embedding_lsh_planted",
              plantedRecall(timed("dedup_embedding_lsh_planted") {
                idPairs(operators.VectorOps.embeddingNearDupLsh(spark, plantedDir)) }))
        } finally {
          // the 2x corpus copy is sizable at sf10 — never leak it past
          // the seat, even on a mid-measure failure
          import java.nio.file.{Files, Path}
          import java.util.Comparator
          Files.walk(plantedPath).sorted(Comparator.reverseOrder[Path]())
            .forEach(p => Files.deleteIfExists(p))
        }
      }
    }

    // KMV Jaccard-estimate error vs the exact matrix — an ERROR seat,
    // not a recall: the ≤0.05 spec gate runs at sf0.01 where per-source
    // gram sets are small; the estimator's variance is ~1/√k regardless
    // of corpus size, but the audit pins that claim with a measured
    // max|est − exact| at scale while the exact twin is still
    // computable (one corpus shuffle; pair arithmetic is
    // |sources|²-bounded).
    if (want("source_jaccard_kmv")) {
      import org.apache.spark.sql.functions._
      val exactJ = timed("source_jaccard_exact") {
        operators.DedupOps.sourceJaccard(spark, sfDir)
          .select("source_a", "source_b", "jaccard").collect()
          .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap }
      val est = timed("source_jaccard_kmv") {
        operators.DedupOps.sourceJaccardKmv(spark, sfDir)
          .select("source_a", "source_b", "jaccard_est").collect()
          .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))) }
      // the exact op emits only overlapping pairs; sketch emits all —
      // absent exact pair = true Jaccard 0
      // foldLeft, not .max: a corpus with < 2 sketched sources yields
      // zero pairs and an empty-collection .max would crash the audit
      val maxErr = est.foldLeft(0.0) { case (acc, (k, v)) =>
        math.max(acc, math.abs(v - exactJ.getOrElse(k, 0.0))) }
      entries :+= ("source_jaccard_kmv_maxerr", maxErr)
      sizes :+= ("source_pairs", est.length.toLong)
    }

    // when the vs_exact seat materializes the simhash pair set, the
    // band-geometry seat below reuses its SIZE instead of re-running
    // the identical corpus-scale join+verify (a duplicated sf10-wall
    // job the round-14 advice flagged)
    var simhashPairCount: Option[Long] = None
    if (want("dedup_minhash_pure_lsh") || want("dedup_simhash_vs_exact")) {
      val exactJac = timed("dedup_ngram_jaccard") {
        idPairs(operators.DedupOps.ngramJaccard(spark, sfDir)) }
      sizes :+= ("jaccard_pairs", exactJac.size.toLong)
      if (want("dedup_minhash_pure_lsh"))
        entries :+= ("dedup_minhash_pure_lsh", recall(timed("dedup_minhash_pure_lsh") {
          idPairs(operators.DedupOps.minhashLsh(spark, sfDir, exactRecallUnion = false)) },
          exactJac))
      // simhash hunts hamming-close signatures, not a Jaccard threshold —
      // its spec gates STRONG-pair recall; report recall vs the exact
      // J ≥ threshold pair set for the same cross-scale visibility
      if (want("dedup_simhash_vs_exact")) {
        val got = timed("dedup_simhash") {
          idPairs(operators.DedupOps.simhash(spark, sfDir)) }
        simhashPairCount = Some(got.size.toLong)
        entries :+= ("dedup_simhash_vs_exact", recall(got, exactJac))
      }
    }

    // Band-geometry candidate-volume seat (round 14): the 64-bit
    // Hamming dedups' scale story is the band-key join domain, so for
    // both signature families (simhash text, phash image) record
    // Σ C(bucket,2) — the candidate comparisons the join feeds the
    // exact verify — under the shipped 28 band-PAIR 16-bit keys AND
    // the 8 single-band 8-bit keys they replaced, plus the verified
    // pair count. That makes the pair-key reduction a measured
    // before/after at every audited SF instead of an asymptotic
    // argument (the round-13 verdict's RecallAudit-seat ask). Both
    // geometries are pigeonhole-exact at hamming ≤ 6, so verified
    // pairs are identical by construction — only candidate volume
    // (and therefore shuffle + verify cost) moves.
    if (want("hamming_band_geometry")) {
      import org.apache.spark.sql.functions._
      def volumeSeat(mkSigs: => DataFrame, tag: String): Unit = {
        val s = mkSigs.persist()
        try {
          sizes :+= (s"${tag}_sigs", timed(s"${tag}_sigs")(s.count()))
          def vol(in: DataFrame)(keys: org.apache.spark.sql.Column => Seq[org.apache.spark.sql.Column]): Long =
            in.select(explode(array(keys(col("sig")): _*)).as("bb"))
              .groupBy(col("bb.band"), col("bb.bkey")).count()
              .agg(coalesce(sum(expr("count * (count - 1) div 2")), lit(0L)))
              .first().getLong(0)
          sizes :+= (s"${tag}_cand_bandpair", timed(s"${tag}_cand_bandpair") {
            vol(s)(operators.DedupOps.hammingBandPairKeys) })
          sizes :+= (s"${tag}_cand_singleband", timed(s"${tag}_cand_singleband") {
            vol(s)(operators.DedupOps.hammingSingleBandKeys) })
          // r17 identical-signature pre-grouping: the candidate volume
          // the shipped join actually feeds is Σ C(bucket,2) over
          // DISTINCT signatures — recorded next to the per-row volume
          // above so the dup-dense collapse is a measured before/after
          // (sf10 image: 207M -> 39k) at every audited SF
          val d = s.select(col("sig")).distinct()
          sizes :+= (s"${tag}_sigs_distinct", timed(s"${tag}_sigs_distinct")(d.count()))
          sizes :+= (s"${tag}_cand_bandpair_grouped", timed(s"${tag}_cand_bandpair_grouped") {
            vol(d)(operators.DedupOps.hammingBandPairKeys) })
        } finally s.unpersist()
      }
      volumeSeat(operators.DedupOps.simhashSigs(spark, sfDir), "simhash")
      sizes :+= ("simhash_verified_pairs", simhashPairCount match {
        // reuse from the vs_exact seat: keep the wall_sec key PRESENT
        // (0.0 = reused from timed("dedup_simhash"), not a re-run) so
        // the artifact schema doesn't depend on which seats ran — a
        // missing key reads as a failed seat in round-over-round diffs
        case Some(n) => walls :+= (("dedup_simhash_pairs", 0.0)); n
        case None => timed("dedup_simhash_pairs") {
          operators.DedupOps.simhash(spark, sfDir).count() }
      })
      volumeSeat(operators.MultimodalOps.imagePhashSigs(spark, sfDir), "phash")
      sizes :+= ("phash_verified_pairs", timed("dedup_image_phash_pairs") {
        operators.MultimodalOps.imagePhash(spark, sfDir).count() })
    }

    def f(v: Double): String =
      java.lang.String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    // assemble from non-empty parts — a subset run with no recall
    // entries (e.g. the band-geometry seat alone) must still emit
    // valid JSON, not a dangling comma
    // host-state evidence rides every audit artifact (the Bench/
    // SinkBench discipline): wall_sec entries are single-shot, so a
    // cross-round wall comparison needs to know whether the run was
    // steal-quiet before it reads a delta as a regression
    val stealTotal = HostStat.deltaJson(stealStart, HostStat.readStealTicks())
    val parts = Seq(s""""metric":"recall"""", s""""sf":"$sfDir"""",
      s""""steal_ticks":$stealTotal""") ++
      entries.map { case (n, v) => s""""$n":${f(v)}""" } ++
      Seq(s""""exact_sizes":{""" +
        sizes.map { case (n, v) => s""""$n":$v""" }.mkString(",") + "}",
        s""""wall_sec":{""" +
        walls.map { case (n, s) => s""""$n":${f(s)}""" }.mkString(",") + "}")
    val line = parts.mkString("{", ",", "}")
    println(line)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    catch { case e: Throwable => System.err.println(s"[recall] artifact write failed: $e") }
    spark.stop()
  }
}
