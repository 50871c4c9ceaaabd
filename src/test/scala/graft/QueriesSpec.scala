package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Smoke + shape checks for every SparkEntry query at sf0.001, plus
  * the cross-implementation agreements that the DuckDB oracle cannot
  * express (minhash ≡ exact jaccard, LSH ⊆ brute force, simhash ⊇
  * planted near-dups). */
class QueriesSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val sf = SparkSpec.sf

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0, s"$name failed")
    }
  }

  test("registry names are unique") {
    val dups = SparkEntry.registry.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    assert(dups.isEmpty, s"duplicate registry names: $dups")
  }

  test("non-empty results where data guarantees them") {
    val mustBeNonEmpty = Seq("q1_agg", "q6_filter", "wordcount", "tumbling_agg",
      "session_window", "msg_dedup", "dedup_exact", "token_count",
      "doc_fingerprint", "ann_bruteforce", "knn_centroid", "topic_route",
      "q8_mktshare", "q13_custdist", "q15_topsupp", "q19_disjunct",
      "q_full_outer", "q_pivot", "q_cube", "q_cumulative", "q_json_props",
      "q_asof_join", "q_range_join", "q_approx_percentile",
      "tfidf_top_term", "doc_sample", "mm_frame_sample", "mm_binary_meta")
    mustBeNonEmpty.foreach { name =>
      assert(SparkEntry.queries(name)(spark, sf).count() > 0, s"$name empty")
    }
  }

  test("minhash+LSH finds exactly the exact-jaccard pairs") {
    val exact = operators.DedupOps.ngramJaccard(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = operators.DedupOps.minhashLsh(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exact)
  }

  test("pure-LSH minhash (scale mode) is a high-recall subset of exact pairs") {
    // exactRecallUnion = false drops the inverted-index prefix join —
    // the 100 TB plan. Recall < 1 by construction (a borderline pair
    // escapes 16×8 bands with ~5% probability), so the contract is:
    // every emitted pair is a true pair (verify stage is exact), and
    // recall stays high.
    val exact = operators.DedupOps.ngramJaccard(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = operators.DedupOps.minhashLsh(spark, sf, exactRecallUnion = false)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((lsh -- exact).isEmpty, s"pure LSH emitted non-qualifying pairs: ${lsh -- exact}")
    val recall = (lsh intersect exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"pure-LSH recall too low: $recall")
  }

  test("containment dominates Jaccard: every J>=0.9 pair is a containment pair") {
    // c/min(na,nb) >= c/(na+nb-c) always, so the asymmetric operator
    // must emit a superset of the symmetric pairs at the same threshold
    val t = operators.DedupOps.containThreshold
    val jacc = operators.DedupOps.ngramJaccard(spark, sf)
      .filter(org.apache.spark.sql.functions.col("jaccard") >= t)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cont = operators.DedupOps.containment(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = jacc -- cont
    assert(missed.isEmpty, s"containment missed dominated pairs: $missed")
  }

  test("simhash candidates cover the strong near-dup pairs") {
    // 64-bit simhash over few shingles (short docs) is noisy below
    // J~0.98: observed hamming up to 12 at J=0.95. Its contract is
    // strong-dup recall, pinned here at J>=0.98 (hamming <= 6).
    val exact = operators.DedupOps.ngramJaccard(spark, sf)
      .filter(org.apache.spark.sql.functions.col("jaccard") >= 0.98)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = operators.DedupOps.simhash(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = exact -- sim
    assert(missed.isEmpty, s"simhash missed strong pairs: $missed")
  }

  test("hammingBandJoin equals the naive all-pairs Hamming join, incl the pigeonhole boundary") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // worst case for the 28 band-pair keys: exactly hamming-6 with the
    // 6 differing bits in 6 DISTINCT bands — only bands 6,7 stay
    // clean, so exactly ONE pair key (6‖7) can surface the pair
    val base = 0x123456789ABCDEF0L
    val sixBands = base ^ 0x010101010101L // 1 flipped bit in each of bands 0..5
    // hamming-7 over 7 bands: one clean band left, no clean PAIR —
    // banding cannot surface it, and naive excludes it too (> 6)
    val sevenBands = base ^ 0x01010101010101L
    val oneBand = base ^ 0x3FL // hamming-6 all inside band 0
    val oneBit = base ^ 0x8000000000000000L // sign bit: the shiftright path
    // MODE signatures (r17 pre-grouping): docs 9-13 all share `base`
    // (a 6-member identical-signature group with doc 1), exercising
    // the intra-group hamming-0 path AND the cross expansion of a
    // multi-member group against its near-dup neighbours
    val sigs = (Seq(
      1L -> base, 2L -> sixBands, 3L -> sevenBands, 4L -> oneBand,
      5L -> oneBit, 6L -> 0L, 7L -> -1L, 8L -> 0x5555555555555555L
    ) ++ (9L to 13L).map(_ -> base) ++ Seq(14L -> sixBands))
      .toDF("doc_id", "sig")
    val banded = operators.DedupOps.hammingBandJoin(sigs, 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val all = sigs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val naive = (for {
      (a, sa) <- all; (b, sb) <- all if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 6
    } yield (a, b, h)).toSet
    assert(naive.contains((1L, 2L, 6)), "six-band boundary pair must exist")
    assert(naive.contains((1L, 4L, 6)))
    assert(naive.contains((1L, 5L, 1)))
    assert(naive.contains((9L, 10L, 0)), "intra-group pair must exist")
    assert(naive.contains((2L, 9L, 6)), "group-member cross pair must exist")
    assert(!naive.exists(p => p._1 == 1L && p._2 == 3L), "hamming-7 excluded")
    assert(banded == naive, s"banded ${banded} != naive ${naive}")
    assert(operators.DedupOps.hammingBandJoin(sigs, 6).count() ===
      naive.size.toLong, "one row per pair — no structural duplicates")
  }

  test("hammingBandJoin per-key ceiling: hamming-0 pairs and multi-key " +
    "survivors are exempt, single-key pairs above the ceiling drop (documented loss)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a MODE population: 50 docs share one signature — under the r16
    // formulation every one of its 28 keys held a 50-deep bucket
    // (Σ bucket² quadratic); under pre-grouping the band join sees ONE
    // row and the 1,225 output pairs come from the intra path, so even
    // a ceiling of 2 cannot lose them
    val mode = 0x0F0F0F0F0F0F0F0FL
    val modeDocs = (1L to 50L).map(_ -> mode)
    // a hamming-6 neighbour of the mode sig, 6 bits spread over bands
    // 0..5: its ONLY clean pair key is (6,7) — shared with the mode
    // group and with `diverse` below
    val oneKey = mode ^ 0x010101010101L
    // a hamming-1 neighbour: 27 of its 28 pair keys stay clean
    val multiKey = mode ^ 0x1L
    val sigs = (modeDocs ++ Seq(100L -> oneKey, 101L -> multiKey))
      .toDF("doc_id", "sig")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // default ceiling: exact — every doc pairs with every other
    val full = pairs(operators.DedupOps.hammingBandJoin(sigs, 6))
    assert(full.size === 52 * 51 / 2, "all pairs present at the default ceiling")
    // ceiling 2: the (6,7) key bucket holds {mode, oneKey, multiKey} =
    // 3 distinct sigs -> dropped. Intra-group mode pairs survive (the
    // pre-grouping exemption); multiKey still pairs with mode through
    // its 21 other clean pair keys (2-deep buckets), and oneKey keeps
    // (oneKey, multiKey) (hamming 5, clean keys (0,6)/(0,7) hold only
    // those two sigs); oneKey's mode pairs are the documented loss.
    val capped = pairs(operators.DedupOps.hammingBandJoin(sigs, 6, maxKeySigs = 2))
    assert(capped((100L, 101L)),
      "the hot key only removes itself — other quiet keys still pair")
    assert((1L to 50L).combinations(2).forall(p => capped((p(0), p(1)))),
      "hamming-0 mode pairs are never lost to the ceiling")
    assert((1L to 50L).forall(d => capped((d, 101L))),
      "a pair with a quiet clean key survives the ceiling")
    assert((1L to 50L).forall(d => !capped((d, 100L))),
      "a pair whose only clean key is hot drops above the ceiling")
  }

  test("simhash kernel equals the aggregate formulation bit-for-bit") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextKernels.distinctShingles3
    val d = Tables(spark, sf, "documents")
    val kernel = d
      .select(col("doc_id"), distinctShingles3(col("text")).as("shs"))
      .filter(size(col("shs")) > 0)
      .select(col("doc_id"),
        graft.functions.SimHashSigColumns.simhashSig(col("shs")).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val toksH = d.select(col("doc_id"), explode(distinctShingles3(col("text"))).as("t"))
      .withColumn("h", xxhash64(col("t")))
    val bitCols = (0 until 64).map(i =>
      sum(shiftright(col("h"), i).bitwiseAND(1) * 2 - 1).as(s"b$i"))
    val agged = toksH.groupBy("doc_id").agg(bitCols.head, bitCols.tail: _*)
    val sig = (0 until 64).map(i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ bitwiseOR _)
    val viaAgg = agged.select(col("doc_id"), sig.as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kernel === viaAgg)
  }

  test("ann_ivf holds the ship-grade recall floor against brute force") {
    // the RecallAudit artifacts carry the 10×/100× evidence; this
    // FLOOR makes a knob change that tanks recall fail sbt test
    // instead of only denting a JSON artifact (measured 1.00 at spec
    // time with the multi-assign + 4√k-probe auto-knobs)
    val bf = operators.VectorOps.annBruteForce(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = operators.VectorOps.annIvf(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (bf intersect ivf).size.toDouble / bf.size
    assert(recall >= 0.9, s"IVF recall below the serving floor: $recall")
  }

  test("ann_ivf_query (parquet index split) is bit-identical to the fused plan") {
    // parquet round-trips doubles exactly, so the build-once/query-many
    // split must reproduce the one-shot plan's output verbatim
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-spec").toString
    val fused = operators.VectorOps.annIvf(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val split = operators.VectorOps.annIvfQuery(spark, sf, idx)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(split === fused)
  }

  test("ivfAppend: frozen-quantizer append is bit-identical to the fresh assignment; replay is a no-op") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val idxFull = Files.createTempDirectory("graft-ivf-full").toString
    operators.VectorOps.ivfBuildIndex(spark, sf, idxFull)
    val fullInv = spark.read.parquet(idxFull + "/invlist")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // same quantizer, one-third of the corpus missing from the lists
    val idxPart = Files.createTempDirectory("graft-ivf-part").toString
    SinkBench.carveIndex(spark, idxFull, idxPart, id => pmod(id, lit(3)) =!= 0)

    val batch = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") >= operators.VectorOps.nQueries &&
        pmod(col("vec_id"), lit(3)) === 0)
      .select("vec_id", "embedding")
    operators.VectorOps.ivfAppend(spark, batch, idxPart)
    val appended = operators.Snapshot.read(spark, idxPart + "/invlist")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(appended === fullInv,
      "append under the frozen quantizer must reproduce the builder's assignment")

    // replayed batch: the anti-join guard makes it a no-op
    operators.VectorOps.ivfAppend(spark, batch, idxPart)
    assert(operators.Snapshot.read(spark, idxPart + "/invlist").count() === fullInv.size)

    // the ids membership store must track invlist membership exactly,
    // and carry each vec_id once despite the replay
    val ids = operators.Snapshot.read(spark, idxPart + "/ids").select("vec_id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids.toSet === fullInv.map(_._1))
    assert(ids.length === ids.toSet.size, "replay must not duplicate ids rows")

    // and the appended index SERVES identically to the fresh one
    val qFull = operators.VectorOps.annIvfQuery(spark, sf, idxFull)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val qPart = operators.VectorOps.annIvfQuery(spark, sf, idxPart)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(qPart === qFull)
  }

  test("ivfDriftReport: in-distribution arrivals pass; shifted ones flag the rebuild") {
    import org.apache.spark.sql.functions.{col, lit, pmod, transform}
    val idx = Files.createTempDirectory("graft-ivf-drift").toString
    operators.VectorOps.ivfBuildIndex(spark, sf, idx)
    val batch = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") >= operators.VectorOps.nQueries &&
        pmod(col("vec_id"), lit(7)) === 0)
      .select("vec_id", "embedding")

    // a same-distribution slice lands inside the build-time envelope:
    // ~5% beyond the p95 by construction, nowhere near the 10% flag
    val ok = operators.VectorOps.ivfDriftReport(spark, idx, batch)
      .collect().head
    assert(!ok.getAs[Boolean]("drifted"))
    assert(ok.getAs[Double]("frac_beyond_p95") <= 0.10)
    assert(ok.getAs[Int]("k_auto") < ok.getAs[Int]("k_built") * 2,
      "a replayed in-distribution batch must not inflate the size rule")

    // an UNDERSIZED index (explicit small k) flags on the size rule
    // alone — the batch's distances are in-envelope for its coarse
    // baseline, but k_auto has outgrown 2× the built list count
    val small = Files.createTempDirectory("graft-ivf-small").toString
    operators.VectorOps.ivfBuildIndex(spark, sf, small, k = 4)
    val sizeDrift = operators.VectorOps.ivfDriftReport(spark, small, batch)
      .collect().head
    assert(sizeDrift.getAs[Boolean]("drifted"))
    assert(sizeDrift.getAs[Int]("k_auto") >= sizeDrift.getAs[Int]("k_built") * 2)

    // the same vectors through an affine shift: assignment distances
    // blow past the baseline and the report demands a rebuild
    val shifted = batch.withColumn("embedding",
      transform(col("embedding"), x => x * lit(5.0f) + lit(3.0f)))
    val bad = operators.VectorOps.ivfDriftReport(spark, idx, shifted)
      .collect().head
    assert(bad.getAs[Boolean]("drifted"))
    assert(bad.getAs[Double]("frac_beyond_p95") > 0.5)

    // the IVF-PQ builder writes the same baseline (the coarse
    // quantizer is the drift surface) — the report serves both layouts
    val pq = Files.createTempDirectory("graft-ivfpq-drift").toString
    operators.VectorOps.ivfpqBuildIndex(spark, sf, pq)
    val pqOk = operators.VectorOps.ivfDriftReport(spark, pq, batch)
      .collect().head
    assert(!pqOk.getAs[Boolean]("drifted"))
    assert(operators.VectorOps
      .ivfDriftReport(spark, pq, shifted).collect().head
      .getAs[Boolean]("drifted"))
  }

  test("ivfDriftReport ADC-residual staleness: reflected residuals flag while " +
    "coarse stays clean; a missing pqstats fails loud; plain IVF reports null") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val pq = Files.createTempDirectory("graft-ivfpq-adc").toString
    operators.VectorOps.ivfpqBuildIndex(spark, sf, pq)
    val base = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") >= operators.VectorOps.nQueries &&
        pmod(col("vec_id"), lit(3)) === 0)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val sess = spark
    import sess.implicits._
    def df(rows: Seq[(Long, Array[Float])]) = rows.toDF("vec_id", "embedding")

    // same-distribution arrivals: BOTH signals inside their envelopes
    val identity = df(base.toSeq.map { case (id, v) => (1000000L + id, v) })
    val ok = operators.VectorOps.ivfDriftReport(spark, pq, identity)
      .collect().head
    assert(!ok.getAs[Boolean]("drifted"))
    assert(ok.getAs[Double]("frac_beyond_p95_recon") <= 0.10)

    // REFLECT each vector about its nearest centroid (v' = 2c − v):
    // the rank-1 assignment distance is PRESERVED — coarse drift is
    // blind by construction — while the residual direction flips, so
    // only the ADC-reconstruction signal can catch it (measured:
    // coarse 0.049 = the identity rate, recon 0.467)
    val cents = operators.Snapshot.read(spark, s"$pq/centroids")
      .collect().map(r => r.getSeq[Double](1).toArray)
    def reflect(v: Array[Float]): Array[Float] = {
      val c = cents.minBy(cv =>
        cv.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum)
      Array.tabulate(v.length)(i => (2.0 * c(i) - v(i)).toFloat)
    }
    val reflected = df(base.toSeq.map { case (id, v) => (2000000L + id, reflect(v)) })
    val bad = operators.VectorOps.ivfDriftReport(spark, pq, reflected)
      .collect().head
    assert(bad.getAs[Double]("frac_beyond_p95") <= 0.10,
      "reflection must leave the coarse signal clean — that blindness is the point")
    assert(bad.getAs[Double]("frac_beyond_p95_recon") > 0.10,
      "the ADC-residual signal must catch the flipped residuals")
    assert(bad.getAs[Boolean]("drifted"))

    // a codebook-carrying index without its pqstats baseline fails
    // with the missing path — it never reports the ADC signal as null
    SparkSpec.deleteDir(pq + "/pqstats")
    SparkSpec.assertFailsNaming(pq + "/pqstats") {
      operators.VectorOps.ivfDriftReport(spark, pq, reflected).collect()
    }

    // a codebook-less IVF index reports null recon columns and never
    // flags on them
    val ivf = Files.createTempDirectory("graft-ivf-adc").toString
    operators.VectorOps.ivfBuildIndex(spark, sf, ivf)
    val plain = operators.VectorOps.ivfDriftReport(spark, ivf, identity)
      .collect().head
    assert(plain.isNullAt(plain.fieldIndex("frac_beyond_p95_recon")))
    assert(!plain.getAs[Boolean]("drifted"))
  }

  test("ivfpqAppend: frozen-codebook encode matches the builder; rebuild re-sizes a drifted quantizer") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val idxFull = Files.createTempDirectory("graft-ivfpq-full").toString
    operators.VectorOps.ivfpqBuildIndex(spark, sf, idxFull)
    val fullCodes = spark.read.parquet(idxFull + "/codes")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet

    val idxPart = Files.createTempDirectory("graft-ivfpq-part").toString
    SinkBench.carveIndex(spark, idxFull, idxPart, id => pmod(id, lit(3)) =!= 0)

    val batch = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") >= operators.VectorOps.nQueries &&
        pmod(col("vec_id"), lit(3)) === 0)
      .select("vec_id", "embedding")
    operators.VectorOps.ivfpqAppend(spark, batch, idxPart)
    val appended = operators.Snapshot.read(spark, idxPart + "/codes")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(appended === fullCodes,
      "frozen-codebook encode must reproduce the builder's codes")
    val qFull = operators.VectorOps.annIvfPqQuery(spark, sf, idxFull)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val qPart = operators.VectorOps.annIvfPqQuery(spark, sf, idxPart)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(qPart === qFull)

    // drift reconciliation: a quantizer built undersized (k = 8,
    // explicit) no longer matches the corpus; the periodic rebuild
    // with auto knobs re-trains AND re-sizes, and the rebuilt index
    // serves bit-identically to the fused auto plan
    val idxDrift = Files.createTempDirectory("graft-ivf-drift").toString
    operators.VectorOps.ivfBuildIndex(spark, sf, idxDrift, k = 8)
    assert(spark.read.parquet(idxDrift + "/centroids").count() === 8)
    operators.VectorOps.ivfBuildIndex(spark, sf, idxDrift) // the rebuild
    assert(spark.read.parquet(idxDrift + "/centroids").count() > 8,
      "rebuild must re-size the quantizer to the corpus")
    val rebuilt = operators.VectorOps.annIvfQuery(spark, sf, idxDrift)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val fused = operators.VectorOps.annIvf(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rebuilt === fused)
  }

  test("ann_ivfpq_query: useful recall, exact cosines where brute force ranked the pair") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-spec").toString
    val bf = operators.VectorOps.annBruteForce(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val ivfpq = operators.VectorOps.annIvfPqQuery(spark, sf, idx).collect()
    assert(ivfpq.nonEmpty)
    // double approximation (IVF probe miss + PQ code coarseness) may
    // cost recall vs plain IVF, but the serving layout must still
    // hold the same ship-grade floor (measured 1.00 at spec time)...
    val recall = ivfpq.map(r => (r.getLong(0), r.getLong(2)))
      .count(bf.contains).toDouble / bf.size
    assert(recall >= 0.9, s"IVF-PQ recall below the serving floor: $recall")
    // ...and every emitted cosine is EXACT (the re-rank contract)
    ivfpq.foreach { r =>
      bf.get((r.getLong(0), r.getLong(2))).foreach(c => assert(c === r.getDouble(3)))
    }
  }

  test("ANN/LSH scale knobs stay sound off their defaults") {
    // the knobs exist for 100 TB sizing; this pins that non-default
    // settings still satisfy each operator's contract (emitted pairs
    // are true pairs with exact cosines; IVF returns ranked rows)
    val exact = operators.VectorOps.embeddingNearDup(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = operators.VectorOps.embeddingNearDupLsh(spark, sf, tables = 4, bits = 6)
      .collect()
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(exact.contains(key), s"knobbed LSH emitted non-qualifying pair $key")
      assert(exact(key) === r.getDouble(2), s"cosine mismatch for $key")
    }
    val ivf = operators.VectorOps.annIvf(spark, sf, k = 8, probes = 2).collect()
    assert(ivf.nonEmpty)
    val bf = operators.VectorOps.annBruteForce(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    ivf.foreach { r => // exact re-rank cosines must agree where bf ranked the pair
      bf.get((r.getLong(0), r.getLong(2))).foreach(c => assert(c === r.getDouble(3)))
    }
  }

  test("span merge property: windowed islands equal a sequential reference merge") {
    import spark.implicits._
    // reference: sort positions, extend the open span while the next
    // k-window overlaps or touches it, else emit and start a new one
    def ref(pos: Seq[Long], k: Int): Set[(Long, Long, Long)] = {
      val sorted = pos.distinct.sorted
      if (sorted.isEmpty) Set.empty
      else {
        val spans = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
        var (start, end) = (sorted.head, sorted.head + k - 1)
        sorted.tail.foreach { p =>
          if (p <= end + 1) end = math.max(end, p + k - 1)
          else { spans += ((start, end)); start = p; end = p + k - 1 }
        }
        spans += ((start, end))
        spans.map { case (s, e) => (s, e, e - s + 1) }.toSet
      }
    }
    val rnd = new scala.util.Random(11) // deterministic
    for (round <- 1 to 40) {
      val k = 2 + rnd.nextInt(8)
      val docs = (0 until 1 + rnd.nextInt(4)).map { d =>
        d.toLong -> Seq.fill(rnd.nextInt(12))(rnd.nextInt(40).toLong).distinct
      }
      val hits = docs.flatMap { case (d, ps) => ps.map(p => (d, p)) }
      val got = operators.DedupOps.mergeSpans(hits.toDF("doc_id", "pos"), k)
        .collect()
        .groupBy(_.getLong(0))
        .view.mapValues(_.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet)
        .toMap
      docs.foreach { case (d, ps) =>
        assert(got.getOrElse(d, Set.empty) === ref(ps, k),
          s"round $round doc $d k=$k positions ${ps.sorted}")
      }
    }
  }

  test("doc_mixture_sample: bench source excluded, volumes track the weights") {
    val rows = operators.TextOps.docMixtureSample(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val bySrc = rows.groupBy(_._2).view.mapValues(_.length).toMap
    assert(!bySrc.contains(operators.TextOps.decontamBenchSource),
      "eval-bench docs must never mix into training")
    val even = bySrc.collect { case (s, n) if s.drop(3).toLong % 2 == 0 => n }
    val odd = bySrc.collect { case (s, n) if s.drop(3).toLong % 2 == 1 => n }
    assert(even.nonEmpty && odd.nonEmpty)
    // weight rule is 3:1; MOD-granular thresholds + hash noise on a
    // small corpus justify loose bounds, not exact ratios
    val ratio = (even.sum.toDouble / even.size) / (odd.sum.toDouble / odd.size)
    assert(ratio > 1.5 && ratio < 6.0, s"even:odd volume ratio off: $ratio")
  }

  test("mixture weight degrades to the default on non-numeric source names") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the oracle uses TRY_CAST so DuckDB NULLs rather than errors on a
    // non-'srcN' name; the Spark rule must land on the same ELSE weight
    val got = Seq("src0", "src2", "src3", "weird-name", "src")
      .toDF("source")
      .select(col("source"), operators.TextOps.mixtureWeight.as("w"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map(
      "src0" -> 0L,          // bench source never mixes in
      "src2" -> 3L,          // even tail
      "src3" -> 1L,          // odd tail
      "weird-name" -> 1L,    // non-numeric tail → default, not an error
      "src" -> 1L))          // empty tail → default
  }

  test("hashed-gram decontamination equals the raw-gram mode") {
    def rows(hashed: Boolean) =
      operators.TextOps.decontamination(spark, sf, hashGrams = hashed)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rows(true) === rows(false))
  }

  test("bloom-prefiltered decontamination is bit-identical and plans the map-side filter") {
    val bloom = operators.TextOps.decontaminationBloom(spark, sf)
    val raw = operators.TextOps.decontamination(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val got = bloom.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === raw)
    // the bloom probe must sit in the plan as a filter (map-side,
    // before the join shuffle), not as a post-join residual
    val plan = bloom.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain") || plan.contains("BloomFilterMightContain"),
      "bloom probe missing from the physical plan")
  }

  test("dedup_spans: hashed-gram mode equals raw, spans are maximal and disjoint") {
    def rows(hashed: Boolean) =
      operators.DedupOps.dedupSpans(spark, sf, hashGrams = hashed)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val raw = rows(false)
    assert(raw === rows(true))
    // spans are well-formed, at least one gram long, and per-doc
    // disjoint with a gap (otherwise islands should have merged)
    raw.groupBy(_._1).foreach { case (doc, spans) =>
      spans.foreach { case (_, s, e, n) =>
        assert(e - s + 1 === n && n >= operators.DedupOps.spanGram)
      }
      val sorted = spans.toSeq.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Seq((_, _, e1, _), (_, s2, _, _)) =>
          assert(s2 > e1 + 1, s"doc $doc: spans touch — islands failed to merge")
        case _ =>
      }
    }
  }

  test("incremental index update makes an unindexed dup pair visible; replay is harmless") {
    import org.apache.spark.sql.functions.{col, lit}
    // adaptive target: the strongest exact near-dup pair in the corpus
    // (minhash is seeded, so at J≈1 its band collision is deterministic)
    val best = operators.DedupOps.ngramJaccard(spark, sf)
      .orderBy(col("jaccard").desc, col("doc_a").asc).limit(1)
      .collect().head
    val (a0, b0) = (best.getLong(0), best.getLong(1))

    val idx = java.nio.file.Files.createTempDirectory("graft-mhidx-upd").toString
    operators.DedupOps.incrementalIndexBuild(spark, sf, idx,
      docFilter = !col("doc_id").isin(a0, b0))
    val batch = Tables(spark, sf, "documents")
      .filter(col("doc_id").isin(a0, b0)).select("doc_id", "text")

    // both sides unindexed: candidates only arise from probe x index,
    // so the pair is structurally invisible
    def pairs() = operators.DedupOps.probeIndex(spark, batch, idx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = pairs()
    assert(!before.contains((a0, b0)),
      "a pair with neither side indexed must not be emitted by the probe")

    // fold the batch in: the next probe sees it
    operators.DedupOps.incrementalIndexUpdate(spark, batch, idx)
    val after = pairs()
    assert(after.contains((a0, b0)), "indexed pair must now be visible")
    assert(before.subsetOf(after), "update must not lose existing matches")

    // at-least-once ingestion replays the update: duplicate index rows
    // must not change the probe result
    operators.DedupOps.incrementalIndexUpdate(spark, batch, idx)
    assert(pairs() === after)
  }

  test("a crash before the membership append re-folds the doc instead of losing it") {
    import org.apache.spark.sql.functions.col
    // the membership record (ids) is written LAST: a crash mid-update
    // leaves band/set rows with NO ids row, and the already-indexed
    // check must then treat the doc as new (re-fold, harmless) — the
    // reverse ordering would skip the re-fold and the doc's bands
    // could be permanently missing (silent recall loss)
    val best = operators.DedupOps.ngramJaccard(spark, sf)
      .orderBy(col("jaccard").desc, col("doc_a").asc).limit(1)
      .collect().head
    val (a0, b0) = (best.getLong(0), best.getLong(1))
    val idx = java.nio.file.Files.createTempDirectory("graft-mhidx-crash").toString
    operators.DedupOps.incrementalIndexBuild(spark, sf, idx,
      docFilter = !col("doc_id").isin(a0, b0))

    // snapshot ids, fold the batch, then restore the PRE-UPDATE ids —
    // exactly the on-disk state a crash between the sets append and
    // the ids append leaves behind
    val saved = java.nio.file.Files.createTempDirectory("graft-ids-save").toString
    def copyDir(src: String, dst: String): Unit = {
      val s = java.nio.file.Paths.get(src)
      java.nio.file.Files.walk(s).forEach { p =>
        val t = java.nio.file.Paths.get(dst).resolve(s.relativize(p))
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    def deleteDir(dir: String): Unit =
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
    copyDir(s"$idx/ids", saved)
    val batch = Tables(spark, sf, "documents")
      .filter(col("doc_id").isin(a0, b0)).select("doc_id", "text")
    operators.DedupOps.incrementalIndexUpdate(spark, batch, idx)
    deleteDir(s"$idx/ids"); copyDir(saved, s"$idx/ids")

    // the membership check must MISS the half-folded docs...
    val buckets = batch
      .select(operators.DedupOps.keyBucket(col("doc_id")).as("kb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val seen = operators.DedupOps.indexedIds(spark, idx, buckets)
      .filter(col("doc_id").isin(a0, b0)).count()
    assert(seen === 0,
      "half-folded docs must look unindexed to the membership check")

    // ...so the sink re-folds on replay; duplicate rows are tolerated
    // and the pair is visible exactly once
    operators.DedupOps.incrementalIndexUpdate(spark, batch, idx)
    val got = operators.DedupOps.probeIndex(spark, batch, idx)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSet.contains((a0, b0)), "re-folded pair must be visible")
    assert(got.length === got.toSet.size, "probe must emit each pair once")
    assert(operators.DedupOps.indexedIds(spark, idx, buckets)
      .filter(col("doc_id").isin(a0, b0)).distinct().count() === 2,
      "membership lands with the re-fold")
  }

  test("indexedIds: an unbucketed ids fails loudly; a missing ids fails naming its path") {
    val idx = Files.createTempDirectory("graft-mhidx-ids").toString
    operators.DedupOps.incrementalIndexBuild(spark, sf, idx)
    val all = (0 until operators.DedupOps.keyBuckets).toSeq
    def ids() = operators.DedupOps.indexedIds(spark, idx, all)
      .collect().map(_.getLong(0)).toSet
    val docs = Tables(spark, sf, "documents").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids() === docs)
    // an `ids` store written without kb cannot be read pruned: it must
    // fail, not silently fall back to the whole `sets` history
    val unbucketed = operators.Snapshot.read(spark, s"$idx/ids").select("doc_id").localCheckpoint()
    unbucketed.write.mode("overwrite").parquet(s"$idx/ids")
    intercept[org.apache.spark.sql.AnalysisException](ids())
    // nor does a missing `ids` fall back to the `sets` history
    SparkSpec.deleteDir(s"$idx/ids")
    SparkSpec.assertFailsNaming(s"$idx/ids")(ids())
  }

  test("universe drift: new-vocabulary near-dups pair only after the full rebuild") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // two near-identical docs made ENTIRELY of vocabulary the corpus
    // has never seen: every shingle misses the frozen universe, so the
    // incremental path is structurally blind to the pair
    val novelA = (1 to 40).map(i => s"zqvx$i").mkString(" ")
    val novelB = (1 to 40).map(i => if (i == 40) "zqvxEND" else s"zqvx$i").mkString(" ")
    val (ida, idb) = (9999998L, 9999999L)
    val fresh = Seq((ida, novelA), (idb, novelB)).toDF("doc_id", "text")

    val idx = java.nio.file.Files.createTempDirectory("graft-mhidx-drift").toString
    operators.DedupOps.incrementalIndexBuild(spark, sf, idx)
    operators.DedupOps.incrementalIndexUpdate(spark, fresh, idx)
    def pairs() = operators.DedupOps.probeIndex(spark, fresh, idx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs().contains((ida, idb)),
      "pre-rebuild, new-vocabulary overlap is invisible (the documented drift)")
    // membership still recorded — the sink must not re-fold them forever
    val buckets = fresh
      .select(operators.DedupOps.keyBucket(col("doc_id")).as("kb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    assert(operators.DedupOps.indexedIds(spark, idx, buckets)
      .filter(col("doc_id").isin(ida, idb)).count() === 2)

    // the periodic rebuild recomputes the universe over the grown
    // corpus; the pair becomes visible
    val corpus = Tables(spark, sf, "documents").select("doc_id", "text")
      .unionByName(fresh)
    operators.DedupOps.rebuildIndex(spark, corpus, idx)
    assert(pairs().contains((ida, idb)),
      "post-rebuild, the new-vocabulary pair must be found")
  }

  test("minhashDriftReport: in-vocabulary batch passes; novel vocabulary flags; a missing baseline fails loud") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft-mhidx-driftrep").toString
    operators.DedupOps.incrementalIndexBuild(spark, sf, idx)

    // an in-distribution batch: docs FROM the indexed corpus — their
    // out-of-universe fraction is exactly the build-time capped-out
    // baseline, so the report must not flag
    val inVocab = Tables(spark, sf, "documents")
      .filter(pmod(col("doc_id"), lit(10)) === 3).select("doc_id", "text")
    val ok = operators.DedupOps.minhashDriftReport(spark, idx, inVocab).head
    assert(!ok.getAs[Boolean]("drifted"),
      s"in-vocabulary batch flagged: $ok")
    assert(ok.getAs[Long]("n_batch") > 0)

    // a batch made ENTIRELY of vocabulary the corpus has never seen
    // (the rebuildIndex fixture) — every shingle misses the universe
    val novel = (1 to 50).map(i =>
      (20000000L + i, (1 to 40).map(j => s"qzvw${i}x$j").mkString(" ")))
      .toDF("doc_id", "text")
    val bad = operators.DedupOps.minhashDriftReport(spark, idx, novel).head
    assert(bad.getAs[Boolean]("drifted"), s"novel-vocabulary batch passed: $bad")
    assert(bad.getAs[Double]("frac_beyond_univ") > 0.9)

    // SIZE drift: a batch of new ids large enough to double the
    // membership flags regardless of vocabulary (in-corpus text)
    val n = Tables(spark, sf, "documents").count()
    val grown = Tables(spark, sf, "documents")
      .select((col("doc_id") + lit(30000000L)).as("doc_id"), col("text"))
      .limit((n + 1).toInt)
    val sized = operators.DedupOps.minhashDriftReport(spark, idx, grown).head
    assert(sized.getAs[Boolean]("drifted"), s"2x-membership batch passed: $sized")
    assert(sized.getAs[Long]("n_auto") >= sized.getAs[Long]("n_built") * 2)

    // an index without its vocabstats baseline fails with the
    // missing path
    SparkSpec.deleteDir(s"$idx/vocabstats")
    SparkSpec.assertFailsNaming(s"$idx/vocabstats") {
      operators.DedupOps.minhashDriftReport(spark, idx, inVocab).head
    }
  }

  test("training_pipeline scale modes: hashed-decontam survivors equal raw survivors; pii run redacts shards") {
    import org.apache.spark.sql.functions.{col, expr}
    // scale mode (hashed-gram decontamination, the 100 TB default)
    // must keep exactly the docs the raw-gram mode keeps — the
    // standalone hashed≡raw equality, re-asserted through the
    // composition (VERDICT round-6 #2)
    val scale = operators.TrainingPipeline.survivors(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val raw = operators.TrainingPipeline.survivors(spark, sf, scaleMode = false)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(scale === raw, "scale-mode survivors diverge from raw mode")

    // the pii stage redacts what ships instead of dropping docs: same
    // survivor set, text present, contact patterns gone, and the
    // written text is exactly piiRedact of the original
    val out = Files.createTempDirectory("graft-train-pii").toString
    operators.TrainingPipeline.run(spark, sf, out, piiScrub = true)
    val shards = spark.read.parquet(out)
    assert(shards.select("doc_id").collect().map(_.getLong(0)).toSet === scale,
      "pii mode changed the survivor set")
    assert(shards.columns.contains("text"), "pii mode must ship the text payload")
    val leaky = shards.filter(
      expr(s"text rlike '${operators.TextOps.piiEmailPat}'") ||
      expr(s"text rlike '${operators.TextOps.piiPhonePat}'")).count()
    assert(leaky === 0, s"$leaky shards still match a contact pattern")
    val mismatched = shards.alias("s")
      .join(Tables(spark, sf, "documents").alias("d"), Seq("doc_id"))
      .filter(col("s.text") =!=
        operators.TextOps.piiRedact(col("d.text"))).count()
    assert(mismatched === 0, "shard text is not piiRedact(original)")
  }

  test("repetitionKeep kernel equals docRepetition's keep flag doc-for-doc") {
    import org.apache.spark.sql.functions.col
    // the fused one-pass kernel replaced the composed predicate for
    // the pipeline's filter stage; this pins the fusion to the
    // oracle-gated metric definition
    val viaKernel = Tables(spark, sf, "documents")
      .filter(operators.TextOps.repetitionKeep(col("text")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaFlag = operators.TextOps.docRepetition(spark, sf)
      .filter(col("keep") === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaKernel === viaFlag)
  }

  test("text kernels fail analysis, not execution, on wrong-typed input") {
    import org.apache.spark.sql.functions.col
    val d = Tables(spark, sf, "documents")
    intercept[org.apache.spark.sql.AnalysisException] {
      d.select(graft.functions.TextKernels.topTokenCount(col("doc_id"))).collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      d.select(graft.functions.TextKernels.repetitionKeep(col("doc_id"), 0.1, 0.3)).collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      d.select(graft.functions.BinRecordColumns.decodeRecord(col("text"))).collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      d.select(graft.functions.TopicMatches.topicMatches(col("doc_id"), col("text"))).collect()
    }
  }

  test("source_language_report: shares sum to one per source and counts " +
    "recompose from per-doc langId verdicts") {
    import org.apache.spark.sql.functions._
    val rep = operators.TextOps.sourceLanguageReport(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
    assert(rep.nonEmpty)
    // within-source shares sum to 1 (exact integer counts / one total)
    rep.groupBy(_._1._1).foreach { case (src, rows) =>
      val tot = rows.map(_._2._2).sum
      assert(math.abs(tot - 1.0) < 1e-9, s"shares of $src sum to $tot")
    }
    // composition: the report's counts are exactly the per-doc
    // classifier's verdicts grouped by the doc's source
    val perDoc = operators.TextOps.langId(spark, sf)
      .join(graft.Tables(spark, sf, "documents").select("doc_id", "source"), "doc_id")
      .groupBy(col("source"), col("pred_lang")).count().collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(rep.map { case (k, (n, _)) => k -> n }.toMap === perDoc,
      "report counts must recompose from langId verdicts")
  }

  test("training_pipeline: optional commonness stage composes predicate-exactly") {
    import org.apache.spark.sql.functions.col
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val base = ids(operators.TrainingPipeline.survivors(spark, sf))
    val kept = ids(operators.TextOps.docTermCommonness(spark, sf)
      .filter(col("keep")))
    val withStage = ids(operators.TrainingPipeline
      .survivors(spark, sf, commonnessFilter = true))
    assert(withStage === base.intersect(kept),
      "the commonness stage must compose as exactly its own predicate")
    assert(withStage.size < base.size,
      "the stage must actually drop the high-commonness tail here")
    assert(withStage.nonEmpty)
  }

  test("training_pipeline: optional LM-score stage composes as exactly the " +
    "anti-predicate of docLmAdaptive's drop set") {
    import org.apache.spark.sql.functions.col
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val base = ids(operators.TrainingPipeline.survivors(spark, sf))
    val dropped = ids(operators.TextOps.docLmAdaptive(spark, sf)
      .filter(!col("keep")))
    val withStage = ids(operators.TrainingPipeline
      .survivors(spark, sf, lmScoreFilter = true))
    assert(withStage === base.diff(dropped),
      "the LM stage must compose as exactly its own anti-predicate")
    assert(withStage.size < base.size,
      "the stage must actually drop low-predictability docs here")
    assert(withStage.nonEmpty)
    // the anti-join contract: a doc the scorer never measured (no
    // bigrams) must NOT be dropped by the stage — verified structurally
    // by base.diff(dropped) above (unscored ids are never in `dropped`)
  }

  test("training_pipeline: optional image-dup stage composes as exactly " +
    "the anti-predicate of imagePhash's doc_b side") {
    import org.apache.spark.sql.functions.col
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val base = ids(operators.TrainingPipeline.survivors(spark, sf))
    val dropped = operators.MultimodalOps.imagePhash(spark, sf)
      .select(col("doc_b").as("doc_id")).collect().map(_.getLong(0)).toSet
    val withStage = ids(operators.TrainingPipeline
      .survivors(spark, sf, imageDupFilter = true))
    assert(withStage === base.diff(dropped),
      "the image-dup stage must compose as exactly its own anti-predicate")
    assert(dropped.nonEmpty, "the planted phash pairs must exist here")
    // keep-rule polarity: a doc appearing ONLY as the smaller pair
    // side (doc_a, the survivor) passes the stage untouched
    val pureKeepers = operators.MultimodalOps.imagePhash(spark, sf)
      .select(col("doc_a")).collect().map(_.getLong(0)).toSet.diff(dropped)
    assert(base.intersect(pureKeepers).subsetOf(withStage))
  }

  test("training_pipeline: optional video-dup stage composes as exactly " +
    "the anti-predicate of videoPhash's doc_b side") {
    import org.apache.spark.sql.functions.col
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val base = ids(operators.TrainingPipeline.survivors(spark, sf))
    val dropped = operators.MultimodalOps.videoPhash(spark, sf)
      .select(col("doc_b").as("doc_id")).collect().map(_.getLong(0)).toSet
    val withStage = ids(operators.TrainingPipeline
      .survivors(spark, sf, videoDupFilter = true))
    assert(withStage === base.diff(dropped),
      "the video-dup stage must compose as exactly its own anti-predicate")
    assert(dropped.nonEmpty,
      "the dup-dense video corpus must yield pairs even at sf0.001")
    // keep-rule polarity: a doc appearing ONLY as the smaller pair
    // side (doc_a, the survivor) passes the stage untouched
    val pureKeepers = operators.MultimodalOps.videoPhash(spark, sf)
      .select(col("doc_a")).collect().map(_.getLong(0)).toSet.diff(dropped)
    assert(base.intersect(pureKeepers).subsetOf(withStage))
  }

  test("training_pipeline: optional audio-dup stage composes as exactly " +
    "the anti-predicate of audioPhash's doc_b side") {
    import org.apache.spark.sql.functions.col
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val base = ids(operators.TrainingPipeline.survivors(spark, sf))
    val dropped = operators.MultimodalOps.audioPhash(spark, sf)
      .select(col("doc_b").as("doc_id")).collect().map(_.getLong(0)).toSet
    val withStage = ids(operators.TrainingPipeline
      .survivors(spark, sf, audioDupFilter = true))
    assert(withStage === base.diff(dropped),
      "the audio-dup stage must compose as exactly its own anti-predicate")
    assert(dropped.nonEmpty, "the planted WAV pairs must exist here")
    // keep-rule polarity: a doc appearing ONLY as the smaller pair
    // side (doc_a, the survivor) passes the stage untouched
    val pureKeepers = operators.MultimodalOps.audioPhash(spark, sf)
      .select(col("doc_a")).collect().map(_.getLong(0)).toSet.diff(dropped)
    assert(base.intersect(pureKeepers).subsetOf(withStage))
  }

  test("doc_html_extract: boilerplate drops, content survives, entities " +
    "decode, title never leaks into the clean text") {
    import org.apache.spark.sql.functions._
    val rows = operators.TextOps.docHtmlExtract(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (id, title, nBlocks, nKept, rawLen, cleanLen) =
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))
      assert(title === s"doc $id title")
      assert(nKept >= 1, s"doc $id: the main <p> must survive")
      assert(nKept < nBlocks,
        s"doc $id: boilerplate blocks (nav/heading/footer) must drop")
      assert(cleanLen > 0 && cleanLen < rawLen)
    }
    // direct extraction semantics on a constructed page
    val sess = spark
    import sess.implicits._
    val page = "<html><head><title>t</title><style>p{x}</style></head><body>" +
      "<nav><a href=\"/\">home</a> <a href=\"/b\">about this site</a></nav>" +
      "<p>the quick brown fox jumps over the lazy dog repeatedly</p>" +
      "<p>alpha &amp; beta &lt;x&gt; &quot;q&quot; &#39;s&#39; and more padding words</p>" +
      "<p>short</p><script>var z=1;</script>" +
      "<!-- secret comment that must never appear in output text -->" +
      "<div><a href=\"/l\">anchor text that is long enough alone</a> y</div>" +
      "</body></html>"
    val clean = Seq(page).toDF("html")
      .select(operators.TextOps.htmlExtractClean(col("html")).as("c"))
      .head.getString(0)
    val lines = clean.split("\n").toSeq
    assert(lines === Seq(
      "the quick brown fox jumps over the lazy dog repeatedly",
      "alpha & beta <x> \"q\" 's' and more padding words"),
      s"unexpected extraction: $lines")
    // numeric character references: decimal, hex (incl an astral code
    // point), the one-level rule for &amp;#NN;, and every malformed/
    // out-of-range form re-emitted verbatim
    val page2 = "<html><body>" +
      "<p>caf&#233; em&#8212;dash &#x27;q&#x27; smile &#x1F600; " +
      "escaped &amp;#65; filler words keep this block long enough</p>" +
      "<p>bad &#; &#xZZ; &#99999999; &#xD800; &#0; &#1234567; " +
      "filler words keep this block long enough too</p>" +
      "</body></html>"
    val clean2 = Seq(page2).toDF("html")
      .select(operators.TextOps.htmlExtractClean(col("html")).as("c"))
      .head.getString(0)
    val lines2 = clean2.split("\n").toSeq
    assert(lines2 === Seq(
      "café em—dash 'q' smile 😀 escaped &#65; " +
        "filler words keep this block long enough",
      "bad &#; &#xZZ; &#99999999; &#xD800; &#0; &#1234567; " +
        "filler words keep this block long enough too"),
      s"unexpected numeric-ref decode: $lines2")
  }

  test("training_pipeline: extractCorpus ingest pass reproduces the " +
    "clean-corpus pipeline bit-for-bit on a page-wrapped crawl") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sf, "documents")
    // recoverability preconditions the wrapper relies on: texts are
    // already whitespace-normalized, long enough to keep, and carry
    // no markup/entity characters the extractor would rewrite
    val bad = docs.filter(length(col("text")) < operators.TextOps.htmlMinBlockChars ||
      col("text").contains("<") || col("text").contains("&") ||
      col("text").rlike("\\s\\s") || col("text") =!= trim(col("text"))).count()
    assert(bad === 0, "corpus precondition for the lossless wrapper broke")
    val in = Files.createTempDirectory("graft-html-in").toString
    val out = Files.createTempDirectory("graft-html-out").toString
    try {
      // the crawl: every doc delivered as a page with nav/script/title
      // boilerplate around the one content block
      docs.withColumn("text", concat(
        lit("<html><head><title>doc "), col("doc_id").cast("string"),
        lit("</title></head><body><nav><a href=\"/\">home</a> " +
          "<a href=\"/b\">about</a></nav><p>"), col("text"),
        lit("</p><script>var a=1;</script></body></html>")))
        .write.mode("overwrite").parquet(s"$in/documents.parquet")
      val n = operators.TrainingPipeline.extractCorpus(spark, in, out)
      assert(n === docs.count(), "lossless wrapper must drop nothing")
      // extraction recovers the clean corpus exactly
      val diff = Tables(spark, out, "documents").select("doc_id", "text")
        .except(docs.select("doc_id", "text")).count()
      assert(diff === 0, "extracted text must equal the original corpus")
      // and the composed pipeline over the extracted crawl equals the
      // clean-corpus pipeline, summary row for summary row
      val a = operators.TrainingPipeline.runExact(spark, out).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .toSet
      val b = operators.TrainingPipeline.runExact(spark, sf).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .toSet
      assert(a === b, "ingest-from-crawl must reproduce the clean-corpus pipeline")
    } finally {
      import java.nio.file.{Path, Paths}
      import java.util.Comparator
      Seq(in, out).foreach { d =>
        Files.walk(Paths.get(d)).sorted(Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
      }
    }
  }

  test("doc_quality_by_lang: strata are (source, langId verdict), the rank " +
    "rule holds per stratum, tiny strata stay whole, approx agrees off-boundary") {
    import org.apache.spark.sql.functions._
    val rows = operators.TextOps.docQualityByLang(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getDouble(3), r.getBoolean(5)))
    assert(rows.nonEmpty)
    // stratum key recomposes from the standalone classifier
    val langOf = operators.TextOps.langId(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(6)).toMap
    rows.foreach { case (id, _, lang, _, _) =>
      assert(lang === langOf(id), s"doc $id stratified under a different verdict") }
    // per-stratum: tiny kept whole; larger follow the quantile-rank rule
    rows.groupBy { case (_, s, l, _, _) => (s, l) }.foreach { case (k, rs) =>
      if (rs.length < operators.TextOps.qualityMinStratum)
        assert(rs.forall(_._5), s"tiny stratum $k must keep every doc")
      else {
        val sorted = rs.sortBy(r => (r._4, r._1))
        sorted.zipWithIndex.foreach { case (r, i) =>
          val pct = i.toDouble / (rs.length - 1)
          assert(r._5 === (pct >= operators.TextOps.qualityKeepQuantile),
            s"stratum $k rank rule at doc ${r._1}")
        }
      }
    }
    // the finer key must actually CHANGE verdicts vs the pooled
    // per-source rule somewhere — otherwise the operator is vacuous
    // on this corpus and the gate proves nothing
    val pooled = operators.TextOps.docQualityAdaptive(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(rows.exists { case (id, _, _, _, keep) => pooled(id) != keep },
      "per-language stratification never flipped a pooled verdict")
    // approx mode flips only boundary docs (the docQualityAdaptive
    // contract, per (source, lang) stratum; tiny strata keep-all in
    // both modes so they can never disagree)
    val approx = operators.TextOps.docQualityByLang(spark, sf, approx = true)
      .collect().map(r => (r.getLong(0), r.getBoolean(4)))
    assert(approx.length === rows.length)
    val exactOf = rows.map(r => r._1 -> r).toMap
    val strata = rows.groupBy { case (_, s, l, _, _) => (s, l) }
    val disagree = approx.filter { case (id, k) => exactOf(id)._5 != k }
    disagree.foreach { case (id, _) =>
      val (_, s, l, _, _) = exactOf(id)
      val rs = strata((s, l))
      assert(rs.length >= operators.TextOps.qualityMinStratum,
        s"tiny stratum ($s,$l) disagreed — keep-all must hold in both modes")
      // "boundary doc" in RANK terms — in a sparse stratum adjacent
      // quality values can sit arbitrarily far apart, so a quality-
      // distance epsilon doesn't scope; the flipped doc must sit
      // within 2 rank positions of the stratum's quantile boundary
      val rank = rs.sortBy(r => (r._4, r._1)).indexWhere(_._1 == id)
      val boundary = operators.TextOps.qualityKeepQuantile * (rs.length - 1)
      assert(math.abs(rank - boundary) <= 2.0,
        s"doc $id flipped $rank ranks into stratum ($s,$l), boundary at $boundary")
    }
    // rate cap scales with stratum GRANULARITY, not corpus size: every
    // non-tiny stratum owns a ±2-rank boundary band (asserted above),
    // so fine strata legitimately carry more boundary docs in total
    val nonTiny = strata.count(_._2.length >= operators.TextOps.qualityMinStratum)
    assert(disagree.length <= nonTiny * 2,
      s"approx/exact disagreement beyond the boundary band: " +
        s"${disagree.length} flips over $nonTiny strata")
  }

  test("training_pipeline: optional per-language quality stage composes as " +
    "exactly the anti-predicate of docQualityByLang's drop set") {
    import org.apache.spark.sql.functions.col
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val base = ids(operators.TrainingPipeline.survivors(spark, sf))
    val dropped = ids(operators.TextOps.docQualityByLang(spark, sf, approx = true)
      .filter(!col("keep")))
    val withStage = ids(operators.TrainingPipeline
      .survivors(spark, sf, qualityByLang = true))
    assert(withStage === base.diff(dropped),
      "the per-language quality stage must compose as exactly its anti-predicate")
    assert(withStage.size < base.size,
      "the stage must actually drop per-language low-quartile docs here")
    assert(withStage.nonEmpty)
  }

  test("doc_mixture_by_lang: inverse-share rates rebalance toward the " +
    "equal-language mix; strata recompose from langId; hash is deterministic") {
    import org.apache.spark.sql.functions.col
    val kept = operators.TextOps.docMixtureByLang(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(2)))
    assert(kept.nonEmpty)
    // stratum key recomposes from the standalone classifier
    val langOf = operators.TextOps.langId(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(6)).toMap
    kept.foreach { case (id, l) => assert(l === langOf(id)) }
    // rate verification: every language's kept count matches the
    // integer-exact expected rate applied to its population
    val pop = langOf.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nTotal = pop.values.sum
    val nLangs = pop.size.toLong
    val keptBy = kept.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val mod = operators.TextOps.sampleMod
    pop.foreach { case (l, nL) =>
      val thresh = math.min(mod, ((nTotal / 2) / nLangs) * mod / nL)
      val expect = langOf.collect { case (id, `l`)
        if ((id % operators.TextOps.sampleFold) *
          operators.TextOps.sampleHashMul) % mod < thresh => id }.size.toLong
      assert(keptBy.getOrElse(l, 0L) === expect, s"language $l kept-count")
      // a language at/below its per-language budget keeps everything
      if (nL * mod <= ((nTotal / 2) / nLangs) * mod)
        assert(keptBy(l) === nL, s"rare language $l must keep all docs")
    }
    // the REBALANCING property: kept fractions are (weakly) inversely
    // ordered with language size — the dominant language downsamples
    // hardest, capped languages keep 100%
    val fracs = pop.map { case (l, n) => (n, keptBy.getOrElse(l, 0L).toDouble / n) }
      .toSeq.sortBy(_._1)
    fracs.zip(fracs.tail).foreach { case ((n1, f1), (n2, f2)) =>
      if (n1 < n2) assert(f1 >= f2 - 0.15,
        s"larger language ($n2 docs) kept a higher fraction than smaller ($n1)") }
  }

  test("docLmAdaptiveFrom(scored) equals the inline form row-for-row") {
    val inline = operators.TextOps.docLmAdaptive(spark, sf)
      .collect().map(_.toString).sorted
    val scored = operators.TextOps.docLmScore(spark, sf)
    val from = operators.TextOps.docLmAdaptiveFrom(spark, sf, scored)
      .collect().map(_.toString).sorted
    assert(from.nonEmpty && from.sameElements(inline))
  }

  test("doc_lm_adaptive: rank rule agrees with a direct per-source quantile " +
    "check and the tiny-strata guard keeps small sources whole") {
    import org.apache.spark.sql.functions._
    val adapt = operators.TextOps.docLmAdaptive(spark, sf)
    val rows = adapt.collect()
    assert(rows.nonEmpty)
    // keep implies (pred_pct >= q AND nov_pct <= ceiling) OR tiny stratum
    val bySrc = rows.groupBy(_.getString(1))
    bySrc.foreach { case (src, rs) =>
      val tiny = rs.length < operators.TextOps.qualityMinStratum
      rs.foreach { r =>
        val keep = r.getBoolean(6)
        val expect = tiny ||
          (r.getDouble(4) >= operators.TextOps.lmKeepQuantile &&
            r.getDouble(5) <= operators.TextOps.lmNoveltyMaxQuantile)
        assert(keep === expect, s"keep rule mismatch in source $src")
      }
      if (!tiny) assert(rs.exists(!_.getBoolean(6)),
        s"a full-size source must drop its bottom band ($src)")
    }
  }

  test("training_pipeline output satisfies every component predicate") {
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft-train-spec").toString
    val summary = operators.TrainingPipeline.run(spark, sf, out)
    assert(summary.count() > 0)

    // the partitioned write landed and round-trips
    val written = spark.read.parquet(out)
    val ids = written.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.nonEmpty)
    assert(written.columns.contains("stratum"), "stratum partition column lost")

    // survivors carry no doc from the bench source, no contaminated
    // doc, no larger side of a near-dup pair, nothing below the
    // quality bar, nothing outside the sample
    val bench = Tables(spark, sf, "documents")
      .filter(col("source") === operators.TextOps.decontamBenchSource)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val contaminated = operators.TextOps.decontamination(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val dupDropped = operators.DedupOps.minhashLsh(spark, sf, exactRecallUnion = false)
      .select("doc_b").collect().map(_.getLong(0)).toSet
    val lowQuality = operators.TextOps.textQuality(spark, sf)
      .filter(col("quality") < operators.TrainingPipeline.qualityMin)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val sampled = operators.TextOps.docSample(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val repetitive = operators.TextOps.docRepetition(spark, sf)
      .filter(col("keep") === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert((ids intersect bench).isEmpty, "bench-source docs leaked")
    assert((ids intersect contaminated).isEmpty, "contaminated docs leaked")
    assert((ids intersect dupDropped).isEmpty, "near-dup larger sides leaked")
    assert((ids intersect lowQuality).isEmpty, "low-quality docs leaked")
    assert((ids intersect repetitive).isEmpty, "repetition-flagged docs leaked")
    assert((ids -- sampled).isEmpty, "docs outside the deterministic sample leaked")

    // summary totals agree with the written shards
    val nSummary = summary.collect().map(_.getAs[Long]("n_docs")).sum
    assert(nSummary === ids.size)
  }

  test("approx percentiles agree with exact rank-based percentiles") {
    // accuracy 10000 over ~400 values/group ⇒ the sketch is effectively
    // exact here; allow a tiny relative slack for the rank convention
    val exact = operators.EventOps.percentiles(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    operators.EventOps.approxPercentiles(spark, sf).collect().foreach { r =>
      val (p50, p90, p99) = exact(r.getString(0))
      def close(a: Double, b: Double) =
        math.abs(a - b) <= math.max(0.02 * math.abs(b), 1e-9)
      assert(close(r.getDouble(1), p50), s"p50 off: ${r.getDouble(1)} vs $p50")
      assert(close(r.getDouble(2), p90), s"p90 off: ${r.getDouble(2)} vs $p90")
      assert(close(r.getDouble(3), p99), s"p99 off: ${r.getDouble(3)} vs $p99")
    }
  }

  test("approx_count_distinct is within the configured rsd of exact") {
    import org.apache.spark.sql.functions._
    val got = operators.Relational2.approxDistinct(spark, sf).collect()
    val exact = Tables(spark, sf, "lineitem").groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("p"), countDistinct(col("l_orderkey")).as("o"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    got.foreach { r =>
      val (p, o) = exact(r.getString(0))
      assert(math.abs(r.getLong(1) - p).toDouble / p <= 0.1, s"parts err too big")
      assert(math.abs(r.getLong(2) - o).toDouble / o <= 0.1, s"orders err too big")
    }
  }

  test("q_table_stats approx mode: HLL NDV rsd-bounded, every other column bit-equal") {
    val exact = operators.Relational5.qTableStats(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getLong(3), r.getLong(4))).toMap
    val got = operators.Relational5.qTableStats(spark, sf, approx = true).collect()
    assert(got.length === exact.size)
    got.foreach { r =>
      val (mn, mx, ndv, nulls) = exact(r.getString(0))
      // min/max/null counts are exact aggregates in both modes
      assert(r.getDouble(1) === mn && r.getDouble(2) === mx &&
        r.getLong(4) === nulls, s"${r.getString(0)}: non-NDV column diverged")
      // HLL++ default rsd 0.05 ⇒ 3σ = 15% relative error bound
      assert(math.abs(r.getLong(3) - ndv).toDouble / ndv <= 0.15,
        s"${r.getString(0)}: approx NDV ${r.getLong(3)} vs exact $ndv")
    }
  }

  test("dedup_cluster_best: one keeper per cluster, and it is the quality argmax") {
    import org.apache.spark.sql.functions.col
    val rows = operators.DedupOps.dupClusterBest(spark, sf)
      .collect().map(r => (r.getAs[Long]("cluster_id"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("quality"), r.getAs[Boolean]("keep")))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (cid, members) =>
      val keepers = members.filter(_._4)
      assert(keepers.length === 1, s"cluster $cid must keep exactly one member")
      val best = members.minBy { case (_, id, q, _) => (-q, id) }
      assert(keepers.head._2 === best._2,
        s"cluster $cid keeper must be the quality argmax (ties -> min id)")
    }
    // membership and sizes agree with the min-label clustering
    val base = operators.DedupOps.dupClusters(spark, sf)
      .select(col("doc_id"), col("cluster_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(t => (t._2, t._1)).toSet === base)
  }

  test("doc_split_leakproof: no near-dup pair straddles, every doc assigned") {
    val split = operators.DedupOps.docSplitLeakproof(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val nDocs = Tables(spark, sf, "documents").count()
    assert(split.size.toLong === nDocs, "every document gets a split")
    // the leakage guard itself: both ends of every exact near-dup
    // pair share a split key, hence a side — true for ANY split hash,
    // which is why the guard survives swapping the congruence for
    // xxhash64 on wider ids
    val pairs = operators.DedupOps.ngramJaccard(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(split(a) === split(b), s"near-dup pair ($a,$b) straddles the split")
    }
    // and the split is a real partition, not degenerate
    val valFrac = split.values.count(_ == "val").toDouble / split.size
    assert(valFrac > 0.02 && valFrac < 0.3, s"val fraction off: $valFrac")
  }

  test("doc_split_leakproof_wide: neither ngram nor simhash pairs straddle") {
    val split = operators.DedupOps.docSplitLeakproofWide(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(split.size.toLong === Tables(spark, sf, "documents").count())
    // the widened guarantee: BOTH similarity notions' pairs stay
    // within a side — including pairs only SimHash sees
    val ngram = operators.DedupOps.ngramJaccard(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val sim = operators.DedupOps.simhash(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ngram.nonEmpty && sim.nonEmpty)
    (ngram ++ sim).foreach { case (a, b) =>
      assert(split(a) === split(b), s"near-dup pair ($a,$b) straddles the wide split")
    }
    val valFrac = split.values.count(_ == "val").toDouble / split.size
    assert(valFrac > 0.02 && valFrac < 0.3, s"val fraction off: $valFrac")
  }

  test("materialized-cluster overloads: bit-identical to inline, propagation paid once") {
    // the composed-pipeline shape: derive the dup clusters ONCE,
    // materialize to parquet (a real round-trip, not a cached plan),
    // and feed BOTH consumers from the same table — each overload
    // must equal its inline twin row-for-row
    val dir = java.nio.file.Files.createTempDirectory("graft-clusters")
      .toFile.getAbsolutePath + "/clusters"
    operators.DedupOps.dupClusters(spark, sf).write.parquet(dir)
    val clusters = spark.read.parquet(dir)

    def rowsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet

    assert(rowsOf(operators.DedupOps.dupClusterBest(spark, sf, clusters)) ===
      rowsOf(operators.DedupOps.dupClusterBest(spark, sf)))
    assert(rowsOf(operators.DedupOps.docSplitLeakproof(spark, sf, clusters)) ===
      rowsOf(operators.DedupOps.docSplitLeakproof(spark, sf)))

    // dupClustersOf over a custom (unioned) pair set: labels must be
    // the closure of exactly those edges — here a 2-edge chain plus
    // an isolated pair from synthetic ids far outside the corpus
    import spark.implicits._
    val custom = Seq((900001L, 900002L), (900002L, 900003L), (900010L, 900011L))
      .toDF("doc_a", "doc_b")
    val lbl = operators.DedupOps.dupClustersOf(custom).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lbl === Map(900001L -> 900001L, 900002L -> 900001L,
      900003L -> 900001L, 900010L -> 900010L, 900011L -> 900010L))
  }

  test("doc_shard_plan: even dealing per source, token-mass spread within the LPT bound") {
    val rows = operators.TextOps.docShardPlan(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    assert(rows.forall(t => t._4 >= 0 && t._4 < operators.TextOps.shardCount))
    // round-robin dealing: within a source, shard doc-counts differ ≤ 1
    rows.groupBy(_._2).foreach { case (src, ms) =>
      val counts = (0 until operators.TextOps.shardCount)
        .map(s => ms.count(_._4 == s))
      assert(counts.max - counts.min <= 1, s"source $src dealt unevenly")
    }
    // longest-first dealing bounds any two within-source shard sums by
    // that source's largest doc; across sources the bounds add
    val sums = (0 until operators.TextOps.shardCount)
      .map(s => rows.filter(_._4 == s).map(_._3).sum)
    val spreadBound = rows.groupBy(_._2).values.map(_.map(_._3).max).sum
    assert(sums.max - sums.min <= spreadBound,
      s"shard token spread ${sums.max - sums.min} exceeds the dealing bound $spreadBound")
  }

  test("doc_chunk_windows: windows tile every token with the declared overlap") {
    import org.apache.spark.sql.functions.{col, size, split}
    import operators.TextOps.{chunkTokens, chunkStride}
    val rows = operators.TextOps.docChunkWindows(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val nTok = Tables(spark, sf, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(_._1).foreach { case (doc, chunks) =>
      val sorted = chunks.sortBy(_._2)
      // stride arithmetic: chunk i starts at i*stride, every chunk is
      // non-empty and capped at chunkTokens
      sorted.foreach { case (_, idx, start, len) =>
        assert(start === idx * chunkStride)
        assert(len >= 1 && len <= chunkTokens)
      }
      // coverage: the last window reaches the final token, and no
      // extra window starts past the end
      val n = nTok(doc)
      val (_, _, lastStart, lastLen) = sorted.last
      assert(lastStart + lastLen === n, s"doc $doc windows must reach token $n")
      assert(lastStart < n)
      // consecutive windows overlap by exactly chunkTokens - stride
      // (until the tail shortens)
      sorted.sliding(2).foreach {
        case Array((_, _, s1, l1), (_, _, s2, _)) if l1 == chunkTokens =>
          assert(s1 + l1 - s2 === chunkTokens - chunkStride)
        case _ =>
      }
    }
  }

  test("doc_term_commonness: exact bounds, hapax detection on a synthetic stratum") {
    val rows = operators.TextOps.docTermCommonness(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))
    assert(rows.length === Tables(spark, sf, "documents").count())
    rows.foreach { case (id, n, c, h, keep) =>
      assert(n > 0 && c > 0.0 && c <= 1.0, s"doc $id commonness out of range: $c")
      assert(h >= 0.0 && h <= 1.0)
      assert(keep === (c < operators.TextOps.commonnessKeepMax), s"doc $id keep flag")
    }
    // both filter branches are live on the gate corpus (the threshold
    // sits at the measured median)
    assert(rows.exists(_._5) && rows.exists(!_._5))
    // a synthetic corpus with a known unique token pins the hapax math:
    // one doc carries a token no other doc has
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-hapax")
      .toFile.getAbsolutePath
    Seq((1L, "alpha beta alpha"), (2L, "alpha beta gamma"), (3L, "alpha beta"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val syn = operators.TextOps.docTermCommonness(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    // doc 2: tokens alpha(df 3) beta(df 3) gamma(df 1) over n_docs 3
    // -> commonness (3+3+1)/(3*3), hapax 1/3
    assert(syn(2L)._1 === 3L)
    assert(syn(2L)._2 === 7.0 / 9.0)
    assert(syn(2L)._3 === 1.0 / 3.0)
    // doc 1: alpha counted per INSTANCE -> (3+3+3)/(3*3) = 1.0, no hapax
    assert(syn(1L)._2 === 1.0 && syn(1L)._3 === 0.0)
  }

  test("doc_quality_adaptive: approx thresholds flip only boundary docs") {
    val exact = operators.TextOps.docQualityAdaptive(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2), r.getBoolean(4)))
      .toMap
    val approx = operators.TextOps.docQualityAdaptive(spark, sf, approx = true)
      .collect().map(r => (r.getLong(0), r.getBoolean(3)))
    assert(approx.nonEmpty && approx.length === exact.size)
    // the boundary-agreement claim is scoped to strata of at least
    // qualityMinStratum docs — below it both modes keep-all instead
    // (the tiny-strata test below pins that); this corpus has no tiny
    // strata, so the scope filter keeps every doc here
    val srcCounts = exact.values.groupBy(_._1).view.mapValues(_.size).toMap
    val bigSrc = srcCounts.filter(_._2 >= operators.TextOps.qualityMinStratum).keySet
    assert(bigSrc == srcCounts.keySet, "corpus grew a tiny stratum — re-check scope")
    // the exact rule's boundary value per source: smallest KEPT quality
    val minKept = exact.values.toSeq.filter(_._3).groupBy(_._1)
      .view.mapValues(_.map(_._2).min).toMap
    val disagree = approx.filter { case (id, k) =>
      exact(id)._3 != k && bigSrc(exact(id)._1) }
    disagree.foreach { case (id, _) =>
      val (src, q, _) = exact(id)
      assert(math.abs(q - minKept(src)) <= 0.02,
        s"doc $id flipped far from source $src's quantile boundary " +
          s"(q=$q, boundary=${minKept(src)})")
    }
    assert(disagree.length.toDouble / approx.length <= 0.05,
      s"approx/exact keep disagreement too high: ${disagree.length}/${approx.length}")
  }

  test("doc_quality_adaptive: tiny strata keep whole in both modes") {
    // a singleton source's doc has percent_rank 0 (exact would drop
    // its only doc) while its quality equals its own approx
    // percentile (approx would keep it) — the guard makes both modes
    // keep strata below qualityMinStratum whole instead of
    // disagreeing arbitrarily on them
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tinystrata")
      .toFile.getAbsolutePath
    val docs =
      Seq((1L, "solo", "one lonely document about the quick fox")) ++
        (0 until 2).map(i => (10L + i, "duo", s"pair doc $i with the usual words here")) ++
        (0 until 20).map(i =>
          (100L + i, "big", s"document $i " + ("the quick brown fox " * (i + 1)).trim))
    docs.toDF("doc_id", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    for (approxMode <- Seq(false, true)) {
      val out = operators.TextOps.docQualityAdaptive(spark, dir, approx = approxMode)
        .select("doc_id", "source", "keep").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
      val tiny = out.filter(r => r._2 == "solo" || r._2 == "duo")
      assert(tiny.length === 3 && tiny.forall(_._3),
        s"approx=$approxMode dropped docs from a tiny stratum: " +
          tiny.filterNot(_._3).mkString(", "))
      // the big stratum still filters: some doc must be dropped
      assert(out.exists(r => r._2 == "big" && !r._3),
        s"approx=$approxMode kept everything in the big stratum — guard overreached")
    }
  }

  test("lshAutoTables: regime-derived table counts at the measured scales") {
    import operators.VectorOps.{lshAutoTables, lshTargetBucket}
    // small SFs sit at the floor — bench and plan-baseline shapes
    // unchanged; the growth points are the measured sf1/sf10 decays
    assert(lshAutoTables(2000, lshTargetBucket) === 8)
    assert(lshAutoTables(20000, lshTargetBucket) === 17)
    assert(lshAutoTables(200000, lshTargetBucket) === 42)
    // ceiling: past ~2M vectors single-probe LSH at this regime is the
    // wrong tool (scaladoc directs to IVF-family / explicit knobs)
    assert(lshAutoTables(2000000, lshTargetBucket) === 64)
    assert(lshAutoTables(0, lshTargetBucket) === 8)
  }

  test("dedup_embedding_lsh: subset of exact pairs, bitwise cosines, useful recall") {
    val exact = operators.VectorOps.embeddingNearDup(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = operators.VectorOps.embeddingNearDupLsh(spark, sf).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(exact.contains(key), s"LSH emitted a non-qualifying pair $key")
      assert(exact(key) === r.getDouble(2), s"cosine mismatch for $key")
    }
    val recall = lsh.length.toDouble / exact.size
    assert(recall >= 0.5, s"near-dup LSH recall too low: $recall")
  }

  test("dedup_embedding_ivf: subset of exact pairs, bitwise cosines, " +
    "cluster-locality recall floor") {
    val exact = operators.VectorOps.embeddingNearDup(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val ivf = operators.VectorOps.embeddingNearDupIvf(spark, sf).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(exact.contains(key), s"IVF emitted a non-qualifying pair $key")
      assert(exact(key) === r.getDouble(2), s"cosine mismatch for $key")
    }
    val found = ivf.map(r => (r.getLong(0), r.getLong(1))).toSet
    // overall recall (the zero-margin 0.4 tail included) — locality
    // candidates have no margin requirement, so this floor is higher
    // than the LSH mode's 0.5
    val recall = found.size.toDouble / exact.size
    // the declared high-cosine regime must hold the ship floor; the
    // natural test corpus tops out below it (max pair cos ~0.51 at
    // this SF — planted high-cos dups only exist in the ScaleData
    // corpora), so the slice check is vacuous here and the operative
    // regime numbers live in the RecallAudit artifacts (the LSH
    // precedent)
    val strong = exact.filter(_._2 >= operators.VectorOps.lshRegimeCos).keySet
    val strongRecall =
      if (strong.isEmpty) 1.0
      else (strong intersect found).size.toDouble / strong.size
    info(s"overall recall $recall, cos>=${operators.VectorOps.lshRegimeCos} " +
      s"recall $strongRecall (${strong.size} regime pairs)")
    // zero-margin-tail floor (the 0.4-threshold pairs have no spatial
    // locality to exploit — they are the exact mode's regime by
    // contract, same as the LSH mode's 0.5 floor; measured 0.64)
    assert(recall >= 0.5, s"near-dup IVF overall recall too low: $recall")
    assert(strongRecall >= 0.9,
      s"near-dup IVF regime recall below the floor: $strongRecall")
  }

  test("doc_sample_exact_k: heap-aggregate sample equals the window-rank " +
    "formulation, strata smaller than k keep whole") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val got = operators.TextOps.docSampleExactK(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // the full-sort twin this operator exists to avoid
    val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    val twin = Tables(spark, sf, "documents")
      .select(col("source"), col("doc_id"),
        pmod((col("doc_id") % operators.TextOps.sampleFold) *
          operators.TextOps.sampleHashMul, lit(operators.TextOps.sampleMod)).as("h"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= operators.TextOps.exactKPerStratum)
      .select("source", "doc_id", "h")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.nonEmpty)
    assert(got === twin, "heap sample diverged from the rank formulation")
    // exact-size contract: min(k, stratum population) rows per source
    val popBySource = Tables(spark, sf, "documents")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val gotBySource = got.groupBy(_._1).view.mapValues(_.size).toMap
    popBySource.foreach { case (src, pop) =>
      assert(gotBySource.getOrElse(src, 0) ===
        math.min(operators.TextOps.exactKPerStratum.toLong, pop).toInt,
        s"stratum $src sample size off")
    }
  }

  test("mg_topfreq: Misra-Gries guarantee — bounded counters, superset of " +
    "heavy items, bounded undercount, mergeable under any partitioning") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // known truth: 3 heavy items + 200 cold singletons, 730 instances
    val truth = Map("h1" -> 300, "h2" -> 150, "h3" -> 80)
    val items = truth.toSeq.flatMap { case (s, c) => Seq.fill(c)(s) } ++
      (0 until 200).map(i => s"cold$i")
    val n = items.size
    val k = 16
    val bound = n / (k + 1) // max total decrement any counter absorbed
    // different partitionings exercise different merge trees and
    // arrival orders — the GUARANTEES must hold under all of them
    // (the surviving cold-item set legitimately varies)
    for (parts <- Seq(1, 4, 13)) {
      val sk = items.toDF("item").repartition(parts)
        .agg(graft.functions.FreqColumns.mgTopFreq(col("item"), k).as("sk"))
        .collect()(0).getSeq[org.apache.spark.sql.Row](0)
      val est = sk.map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(est.size <= k, s"summary exceeded k: ${est.size}")
      truth.foreach { case (item, c) =>
        assert(c > bound, "test data must make the guarantee non-vacuous")
        assert(est.contains(item), s"heavy item $item evicted (parts=$parts)")
        assert(est(item) <= c, s"$item overcounted: ${est(item)} > $c")
        assert(c - est(item) <= bound,
          s"$item undercount ${c - est(item)} exceeds n/(k+1)=$bound")
      }
      est.foreach { case (it, e) =>
        assert(e <= truth.getOrElse(it, 1).toLong, s"$it overcounted: $e")
      }
    }
  }

  test("q_heavy_hitters: sketch->verify composition equals the exact " +
    "aggregate (determinism despite an order-dependent sketch)") {
    import org.apache.spark.sql.functions._
    val got = operators.EventOps.heavyHitters(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ev = Tables(spark, sf, "events").select(
      when(col("event_id") % 10 < 7, col("event_id") % 7)
        .otherwise(lit(1000) + col("event_id") % 997).as("item"))
    val n = ev.count()
    val exact = ev.groupBy("item").count()
      .filter(col("count") * operators.EventOps.hhPhi > n)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty)
    assert(got === exact,
      "sketch->verify diverged from the exact heavy-hitter set")
  }

  test("dedup_embedding_ivf: PLANTED semantic-duplicate regime — recall floor " +
    "on true perturbed copies (cos ~0.99)") {
    // No corpus at any SF carries true high-cosine duplicates (the
    // natural pair continuum tops out ~0.6; ScaleData copies
    // decorrelate across copies by design), so the operator's
    // DECLARED regime — near-identical semantic copies, the SemDeDup
    // operating point — would only ever be measured vacuously. Plant
    // it: every vector gets a deterministically rescaled twin
    // (per-coordinate ×{0.85, 1.15} → cos(v, v∘s) = 1/√E[s²] ≈ 0.989,
    // comfortably inside the regime), and the spec demands the
    // cluster candidates recover ≥ 0.95 of the planted pairs — a
    // perturbation of 0.15·|v| is tiny against inter-cluster
    // distances (~√2·|v| for near-uniform directions), which is
    // exactly the locality property the operator's recall rests on.
    import org.apache.spark.sql.functions._
    val base = Tables(spark, sf, "embeddings")
    val nBase = base.count()
    val span = 1000000L
    val scales = {
      val rnd = new scala.util.Random(977)
      Seq.fill(64)(if (rnd.nextBoolean()) 1.15f else 0.85f)
    }
    val twin = base
      .withColumn("vec_id", col("vec_id") + lit(span))
      .withColumn("embedding",
        zip_with(col("embedding"), typedlit(scales), (x, s) => x * s))
    val dir = Files.createTempDirectory("graft-planted-dups").toString
    base.unionAll(twin).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val got = operators.VectorOps.embeddingNearDupIvf(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plantedFound = base.select("vec_id").collect().map(_.getLong(0))
      .count(id => got.contains((id, id + span)))
    val plantedRecall = plantedFound.toDouble / nBase
    info(s"planted-copy recall $plantedRecall over $nBase pairs")
    assert(plantedRecall >= 0.95,
      s"planted semantic-duplicate recall below floor: $plantedRecall")
  }

  test("dedup_embedding_lsh: broadcast envelope enforced — oversized corpus " +
    "routes to the shuffle verify with identical results") {
    // broadcastMax = 0 forces every corpus over the line, exercising
    // the fallback plan a 10⁷-vector corpus would take. The tiny test
    // corpus would auto-broadcast regardless of the hint and mask the
    // routing, so disable threshold broadcasts (at real oversized
    // scale the threshold never triggers) — the in-envelope path's
    // EXPLICIT hint survives a -1 threshold, which is exactly the
    // hazard the guard removes.
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold").map(k =>
        k -> spark.conf.getOption(k))
    saved.foreach { case (k, _) => spark.conf.set(k, "-1") }
    try {
      val guarded = operators.VectorOps.embeddingNearDupLsh(spark, sf, broadcastMax = 0L)
      val guardedRows = guarded.collect().map(_.mkString("|")).toSet
      assert(!guarded.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "oversized-corpus path still broadcasts the corpus vectors")
      val inEnvelope = operators.VectorOps.embeddingNearDupLsh(spark, sf)
      val inEnvelopeRows = inEnvelope.collect().map(_.mkString("|")).toSet
      assert(inEnvelope.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "in-envelope path lost its broadcast verify plan")
      assert(guardedRows === inEnvelopeRows, "fallback plan changed the pair set")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("ann_range: exact mode is the cosine-threshold ground truth; the " +
    "IVF mode recalls it with bit-identical cosines on emitted pairs") {
    import org.apache.spark.sql.functions.col
    val exact = operators.VectorOps.annRangeExact(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(exact.nonEmpty, "the gate threshold must match something at this SF")
    // ground-truth sanity: range ⊇ every brute-force top-k pair at/above τ
    val bfAbove = operators.VectorOps.annBruteForce(spark, sf).collect()
      .filter(_.getDouble(3) >= operators.VectorOps.rangeMinCos)
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(bfAbove.forall(exact.contains),
      "a top-k pair above the threshold must be in the range result")
    // every exact row actually clears the threshold
    assert(exact.values.forall(_ >= operators.VectorOps.rangeMinCos))
    // adaptive-bound IVF mode (round 12): EXACT — the angular-radius
    // bound probes a certified superset of every qualifying pair's
    // rank-1 list, and the cosine kernel is the twin's, so the result
    // is the exact set with bit-identical cosines (this is what lets
    // the entry share annRangeExactSql's full hash gate)
    val ivf = operators.VectorOps.annRangeIvf(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(ivf === exact,
      "adaptive-bound range mode must equal the exact twin bit-for-bit")
    // a deliberately starved fixed probe budget still emits only-correct rows
    val starved = operators.VectorOps.annRangeIvf(spark, sf, probes = 2).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    starved.foreach { case (k, c) =>
      assert(exact.get(k).contains(c), "starved-probe rows must still be exact") }
    assert(starved.length <= exact.size)
  }

  test("ann_range_ivf: the adaptive bound PRUNES on an angularly tight " +
    "corpus and stays exact — and certifies no-pruning on the diffuse one") {
    import org.apache.spark.sql.functions.col
    // 8 tight clusters in 16 dims: center c is one-hot on dims
    // (2c, 2c+1); members add ±0.02 coordinate noise (~3° angular
    // spread). ids cycle through clusters so the lowest-id Lloyd
    // seeds cover every cluster.
    val rnd = new scala.util.Random(1234)
    val rows = (0L until 810L).map { id =>
      val c = (id % 8).toInt
      val v = Array.tabulate(16) { d =>
        val base = if (d == 2 * c || d == 2 * c + 1) 1.0f else 0.0f
        base + (rnd.nextFloat() - 0.5f) * 0.04f
      }
      (id, v, c)
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-range-clustered").toString
    try {
      val sess = spark
      import sess.implicits._
      rows.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      val tau = 0.9 // the semantic-dup regime: cap 25.8° « 90° cluster separation
      val exact = operators.VectorOps.annRangeExact(spark, tmp, minCos = tau).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(exact.nonEmpty, "same-cluster pairs must qualify at tau=0.9")
      val ivf = operators.VectorOps.annRangeIvf(spark, tmp, minCos = tau).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(ivf === exact, "pruned range mode must still equal the exact twin")
      // pruning engages: the bound admits only the query's own
      // cluster's lists (~k/8), not the whole index
      val st = operators.VectorOps.annRangeIvfProbeStats(spark, tmp, minCos = tau)
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      assert(st.nonEmpty)
      st.foreach { case (probed, lists) =>
        assert(probed * 2 <= lists,
          s"tight-corpus bound should prune most lists: probed $probed of $lists") }
      // the no-pruning certificate on the diffuse natural corpus: at
      // tau=0.35 the caps are list-radius-wide, so the bound admits
      // (nearly) all lists — probed = lists is the measured statement
      // "no tau-respecting IVF pruning exists here", not a bug
      val diffuse = operators.VectorOps.annRangeIvfProbeStats(spark, sf)
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      diffuse.foreach { case (probed, lists) =>
        assert(probed >= lists / 2,
          "diffuse corpus unexpectedly prunable — revisit the scaladoc claim") }
    } finally {
      import java.nio.file.{Files, Path, Paths}
      import java.util.Comparator
      Files.walk(Paths.get(tmp)).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  test("ann_range_ivf_query: serves exactly off the prebuilt radius-carrying " +
    "layout (both index families); a pre-radius index fails loud") {
    val exact = operators.VectorOps.annRangeExact(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(exact.nonEmpty)
    // IVF layout: the build writes the radius table from birth, and
    // serving off it equals the exact twin bit-for-bit
    val idxFull = Files.createTempDirectory("graft-range-srv").toString
    operators.VectorOps.ivfBuildIndex(spark, sf, idxFull)
    assert(new java.io.File(idxFull + "/radius/_SUCCESS").exists,
      "the build must persist the per-list angular radius")
    val served = operators.VectorOps.annRangeIvfQuery(spark, sf, idxFull).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(served === exact,
      "prebuilt-index range serving must equal the exact twin bit-for-bit")
    // an index without its radius table fails with the missing path
    // (the certificate is never re-derived from the data dir)
    SparkSpec.deleteDir(idxFull + "/radius")
    SparkSpec.assertFailsNaming(idxFull + "/radius") {
      operators.VectorOps.annRangeIvfQuery(spark, sf, idxFull).collect()
    }
    // IVF-PQ layout: range mode serves off the codes table's
    // (neighbor_id, cid) pairs with the same certificate
    val idxPq = Files.createTempDirectory("graft-range-srv-pq").toString
    operators.VectorOps.ivfpqBuildIndex(spark, sf, idxPq)
    assert(new java.io.File(idxPq + "/radius/_SUCCESS").exists)
    val servedPq = operators.VectorOps.annRangeIvfQuery(spark, sf, idxPq).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(servedPq === exact, "IVF-PQ-layout range serving must be exact too")
  }

  test("ann_range_ivf_query: ivfAppend widens the stored radius monotonically — " +
    "an arrival OUTSIDE its list's build-time radius still gets found") {
    import org.apache.spark.sql.functions.col
    // 8 tight one-hot-pair clusters (the pruning spec's corpus) plus a
    // 20-member cluster in the all-ones direction (~69° from every
    // one-hot-pair center — far outside the ~3° list radii). Query 0
    // sits in the all-ones direction: without the widen, the bound
    // test at tau=0.9 rejects the list the arrivals land in
    // (ang ≈ 69° > 25.8° + 3° + ε) and every (query0, arrival) pair
    // is silently lost; with it, radius ≈ 69° admits the list.
    val rnd = new scala.util.Random(4321)
    def noisy(base: Array[Float]): Array[Float] =
      base.map(_ + (rnd.nextFloat() - 0.5f) * 0.04f)
    def oneHotPair(c: Int): Array[Float] =
      Array.tabulate(16)(d => if (d == 2 * c || d == 2 * c + 1) 1.0f else 0.0f)
    val allOnes = Array.fill(16)(0.25f)
    val queries = (0L until 10L).map { id =>
      (id, if (id == 0L) noisy(allOnes) else noisy(oneHotPair((id % 8).toInt)), 0)
    }
    val clustered = (10L until 810L).map(id =>
      (id, noisy(oneHotPair((id % 8).toInt)), (id % 8).toInt))
    val arrivals = (900L until 920L).map(id => (id, noisy(allOnes), 9))
    val tmp = Files.createTempDirectory("graft-range-widen").toString
    val idx = Files.createTempDirectory("graft-range-widen-idx").toString
    try {
      val sess = spark
      import sess.implicits._
      (queries ++ clustered ++ arrivals).toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      val tau = 0.9
      val exact = operators.VectorOps.annRangeExact(spark, tmp, minCos = tau).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(arrivals.forall(a => exact.contains((0L, a._1))),
        "query 0 must qualify against every all-ones arrival at tau=0.9")
      // build WITHOUT the arrivals, then append them
      operators.VectorOps.ivfBuildIndexFrom(spark,
        clustered.toDF("vec_id", "embedding", "label").select("vec_id", "embedding"),
        idx)
      val radBefore = operators.Snapshot.read(spark, s"$idx/radius").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
      operators.VectorOps.ivfAppend(spark,
        arrivals.toDF("vec_id", "embedding", "label").select("vec_id", "embedding"),
        idx)
      val radAfter = operators.Snapshot.read(spark, s"$idx/radius").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
      // the arrivals' landing list widened past the build-time radius
      // (they sit ~69° from every build centroid; build radii ≈ 3°)
      val widened = radAfter.filter { case (cid, dev) =>
        dev > radBefore.getOrElse(cid, 0.0) + 0.5 }
      assert(widened.nonEmpty,
        s"an out-of-radius arrival must widen its list: $radBefore -> $radAfter")
      radBefore.foreach { case (cid, dev) =>
        assert(radAfter(cid) >= dev, "widening must be monotonic") }
      // and the served result over the appended index is still exact
      val servedA = operators.VectorOps.annRangeIvfQuery(spark, tmp, idx, minCos = tau)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(servedA === exact,
        "append-then-query must equal the exact twin bit-for-bit")
      // replay: the anti-join guard makes the radius rewrite a no-op too
      operators.VectorOps.ivfAppend(spark,
        arrivals.toDF("vec_id", "embedding", "label").select("vec_id", "embedding"),
        idx)
      val radReplay = operators.Snapshot.read(spark, s"$idx/radius").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(radReplay === radAfter, "a replayed batch must not move the radius")
    } finally {
      import java.nio.file.{Path, Paths}
      import java.util.Comparator
      Seq(tmp, idx).foreach { d =>
        Files.walk(Paths.get(d)).sorted(Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
      }
    }
  }

  test("dedup_embedding_lsh cap regime: at the lshMaxTables ceiling's knob " +
    "values the floor measurably breaks at the 0.7 regime boundary, holds on " +
    "the contracted envelope, and the declared IVF handoff holds true-dups") {
    // the ~2^30-vector cap regime is unreachable locally, but its KNOB
    // VALUES are not: bits = lshMaxBits (16) and tables = lshMaxTables
    // (64) are exactly what a capped auto-sizing serves there, and the
    // recall of single-probe LSH at those knobs is a pure function of
    // pair cosine — measurable on a planted corpus at any n. Predicted
    // per-pair collision: 1-(1-p^16)^64 with p = 1-acos(c)/pi →
    // ~0.45 at c=0.72, ~0.94 at c=0.85, ~0.999 at c=0.95. This turns
    // the "past the cap, hand true-dups to embeddingNearDupIvf"
    // contract sentence into three measurements.
    val rnd = new scala.util.Random(7)
    def unit(): Array[Double] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    def pairAt(c: Double): (Array[Float], Array[Float]) = {
      val v = unit()
      val r = unit()
      val dotRv = r.zip(v).map { case (a, b) => a * b }.sum
      val u0 = r.zip(v).map { case (a, b) => a - dotRv * b }
      val un = math.sqrt(u0.map(x => x * x).sum)
      val u = u0.map(_ / un)
      val w = v.zip(u).map { case (a, b) => c * a + math.sqrt(1 - c * c) * b }
      (v.map(_.toFloat), w.map(_.toFloat))
    }
    val slices = Seq(5000L -> 0.72, 7000L -> 0.85, 9000L -> 0.95)
    val nPairs = 40
    val rows = (0L until 3000L).map(id => (id, unit().map(_.toFloat), 0)) ++
      slices.flatMap { case (base, c) =>
        (0 until nPairs).flatMap { i =>
          val (a, b) = pairAt(c)
          Seq((base + i, a, 1), (base + 1000 + i, b, 1))
        }
      }
    val tmp = Files.createTempDirectory("graft-lsh-cap").toString
    try {
      val sess = spark
      import sess.implicits._
      rows.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      val found = operators.VectorOps.embeddingNearDupLsh(spark, tmp,
        tables = operators.VectorOps.lshMaxTables,
        bits = operators.VectorOps.lshMaxBits).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def recallOf(got: Set[(Long, Long)], base: Long): Double =
        (0 until nPairs).count { i =>
          got((base + i, base + 1000 + i)) || got((base + 1000 + i, base + i))
        }.toDouble / nPairs
      val r072 = recallOf(found, 5000L)
      val r085 = recallOf(found, 7000L)
      val r095 = recallOf(found, 9000L)
      assert(r072 > 0.1 && r072 < 0.8,
        s"cap-regime knobs should measurably break the 0.72 slice (predicted ~0.45): $r072")
      assert(r085 >= 0.85,
        s"the contracted envelope (c >= ~0.83) must still hold at 0.85: $r085")
      assert(r095 >= 0.95, s"true-dups must survive even at the cap knobs: $r095")
      // the handoff target on the SAME corpus: cluster-bounded near-dup
      // holds the true-dup slice without any table-count treadmill
      val ivfFound = operators.VectorOps.embeddingNearDupIvf(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val ivfR095 = recallOf(ivfFound, 9000L)
      assert(ivfR095 >= 0.9,
        s"the declared IVF handoff must hold the true-dup slice: $ivfR095")
    } finally {
      import java.nio.file.{Path, Paths}
      import java.util.Comparator
      Files.walk(Paths.get(tmp)).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  test("ann_pq: exact re-ranked cosines, useful recall against brute force") {
    val bf = operators.VectorOps.annBruteForce(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val pq = operators.VectorOps.annPq(spark, sf).collect()
    assert(pq.nonEmpty)
    // cosines come from the exact re-rank — pairs brute force also
    // ranked must agree bitwise
    pq.foreach { r =>
      bf.get((r.getLong(0), r.getLong(2))).foreach(c => assert(c === r.getDouble(3)))
    }
    val recall = pq.map(r => (r.getLong(0), r.getLong(2))).count(bf.contains).toDouble / bf.size
    assert(recall >= 0.9, s"PQ recall below the serving floor: $recall (measured 1.00 at spec time)")
  }

  test("ann_lsh results are a subset of valid neighbors with exact cosines") {
    val bf = operators.VectorOps.annBruteForce(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    // LSH cosines for pairs that brute force also ranked must agree bitwise
    val lsh = operators.VectorOps.annLsh(spark, sf).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      bf.get(key).foreach(c => assert(c === r.getDouble(3)))
    }
    // the same serving floor the IVF family carries (RECALL_sf1: 0.90)
    val recall = lsh.map(r => (r.getLong(0), r.getLong(2)))
      .count(bf.contains).toDouble / bf.size
    assert(recall >= 0.9, s"LSH recall below the serving floor: $recall")
  }

  test("doc_repetition metrics are internally consistent") {
    import org.apache.spark.sql.functions._
    val rep = operators.TextOps.docRepetition(spark, sf).cache()
    try {
      val n = rep.count()
      assert(n > 0)
      // every ratio in range; keep agrees with the thresholds row-wise
      assert(rep.filter(col("top_word_share") <= 0 || col("top_word_share") > 1).count() === 0)
      assert(rep.filter(col("dup_2gram_frac") < 0 || col("dup_2gram_frac") >= 1).count() === 0)
      val disagree = rep.filter(
        (col("keep") === 1) =!= (col("top_word_share") <= operators.TextOps.repTopWordMax
          && col("dup_2gram_frac") <= operators.TextOps.repDup2gramMax)).count()
      assert(disagree === 0)
      // thresholds must split the corpus non-trivially, or the filter
      // is vacuous on this data
      val kept = rep.filter(col("keep") === 1).count()
      assert(kept > 0 && kept < n, s"keep=$kept of $n is a vacuous split")
      // the mode count is positive and never exceeds the doc length
      assert(rep.filter(col("top_cnt") < 1 || col("top_cnt") > col("n_tokens")).count() === 0)
    } finally rep.unpersist()
  }

  test("doc_novelty: the first copy of duplicated content scores 1, later copies score low") {
    import org.apache.spark.sql.functions._
    val nov = operators.TextOps.docNovelty(spark, sf).cache()
    try {
      // novelty in [0, 1] — 0 is real (every shingle seen earlier)
      assert(nov.filter(col("novelty") < 0 || col("novelty") > 1).count() === 0)
      // sound bound for the LATER doc of any J >= 0.8 pair: c >=
      // (4/9)(na+nb) >= (4/9)nb of its shingles are shared with an
      // earlier doc (min owner < b), so novelty(b) <= 5/9. (No claim
      // about the earlier doc — it may itself duplicate an even
      // earlier one.)
      val pairs = operators.DedupOps.ngramJaccard(spark, sf)
        .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.nonEmpty)
      val nv = nov.select("doc_id", "novelty").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      pairs.foreach { case (_, b) =>
        assert(nv(b) <= 5.0 / 9.0,
          s"later near-dup $b has novelty ${nv(b)} > 5/9 — shared shingles not counted as seen?")
      }
      // the corpus-wide minimum doc of any shingle exists, so at least
      // one doc is fully novel
      assert(nov.filter(col("novelty") === 1.0).count() > 0)
    } finally nov.unpersist()
  }

  test("dedup_incremental: probe of the parquet index equals the exact batch-touching pairs") {
    import org.apache.spark.sql.functions.col
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val touching = operators.DedupOps.ngramJaccard(spark, sf)
      .filter(col("doc_a") % 10 === 7 || col("doc_b") % 10 === 7)
      .collect().map(r => key(r) -> r.getDouble(2)).toMap
    assert(touching.nonEmpty, "test corpus has no batch-touching near-dup pairs")
    // gate mode: exactly the touching pairs, jaccard bit-identical
    val gate = operators.DedupOps.dedupIncremental(spark, sf)
      .collect().map(r => key(r) -> r.getDouble(2)).toMap
    assert(gate === touching)
    // scale mode: pure index probe — a subset (verify is exact) with
    // high recall (a borderline pair escapes 16x8 bands ~5% of the time)
    val probe = operators.DedupOps.dedupIncremental(spark, sf, exactRecallUnion = false)
      .collect().map(r => key(r) -> r.getDouble(2)).toMap
    probe.foreach { case (k, v) =>
      assert(touching.contains(k), s"probe emitted a non-pair $k")
      assert(touching(k) === v, "probe jaccard must be the exact verify value")
    }
    val recall = probe.size.toDouble / touching.size
    assert(recall >= 0.9, s"incremental probe recall too low: $recall")
  }

  test("q_anomaly outliers really violate the 3-sigma bound") {
    val rows = operators.EventOps.anomalies(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, mean, varp, nOut) = (r.getAs[Long]("n"), r.getAs[Double]("mean_value"),
        r.getAs[Double]("var_pop"), r.getAs[Long]("n_outliers"))
      assert(nOut >= 0 && nOut < n)
      if (nOut > 0) {
        val mx = r.getAs[Double]("max_outlier")
        assert((mx - mean) * (mx - mean) > 9.0 * varp,
          s"${r.getString(0)}: reported max outlier $mx is within 3 sigma")
      }
    }
    // the heavy-tailed test stream has outliers in at least one type
    assert(rows.map(_.getAs[Long]("n_outliers")).sum > 0)
  }

  test("q_funnel steps are monotone and lag sums are consistent") {
    val r = operators.EventOps.funnel(spark, sf).collect()(0)
    val (nView, nClick, nPurchase) =
      (r.getAs[Long]("n_view"), r.getAs[Long]("n_click"), r.getAs[Long]("n_purchase"))
    assert(nView >= nClick && nClick >= nPurchase, s"funnel grew: $nView -> $nClick -> $nPurchase")
    assert(nView > 0)
    // each converted user contributes a positive lag bounded by the window
    if (nClick > 0) {
      val lag = r.getAs[Long]("view_to_click_us")
      assert(lag > 0 && lag <= nClick * operators.EventOps.funnelWindowUs)
    }
    if (nPurchase > 0) {
      val lag = r.getAs[Long]("click_to_purchase_us")
      assert(lag > 0 && lag <= nPurchase * operators.EventOps.funnelWindowUs)
    }
  }

  test("q_retention cohort matrix: day-0 activity covers each cohort exactly") {
    import org.apache.spark.sql.functions._
    val m = operators.EventOps.retention(spark, sf).cache()
    try {
      // every cohort has a day-0 row (the first-seen day itself), and
      // no offset is negative
      assert(m.filter(col("day_offset") < 0).count() === 0)
      val cohorts = m.select("cohort").distinct().count()
      assert(m.filter(col("day_offset") === 0).count() === cohorts)
      // day-0 actives per cohort == cohort size (first day counts everyone)
      val total = m.filter(col("day_offset") === 0)
        .agg(sum(col("n_active"))).collect()(0).getLong(0)
      val users = Tables(spark, sf, "events").select("user_id").distinct().count()
      assert(total === users, "day-0 rows must partition the user base by cohort")
    } finally m.unpersist()
  }

  test("q_interval_join equals the naive all-pairs overlap join") {
    import org.apache.spark.sql.functions._
    // independent derivation: brute-force cross join + exact overlap
    // filter (test-only — the operator itself must never plan this)
    val lenUs = operators.TemporalJoins.intervalLenSec * 1000000L
    def side(tpe: String, p: String) = Tables(spark, sf, "events")
      .filter(col("event_type") === tpe)
      .select(col("event_id").as(s"${p}_id"),
        unix_micros(col("ts")).as(s"${p}_s"),
        (unix_micros(col("ts")) + lenUs).as(s"${p}_e"))
    val naive = side("purchase", "a").crossJoin(side("error", "b"))
      .filter(col("a_s") <= col("b_e") && col("b_s") <= col("a_e"))
      .select(col("a_id"), col("b_id"),
        (least(col("a_e"), col("b_e")) -
          greatest(col("a_s"), col("b_s"))).as("overlap_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bucketed = operators.TemporalJoins.intervalJoin(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(bucketed === naive,
      s"bucketed interval join diverges: extra=${bucketed -- naive} missing=${naive -- bucketed}")
    assert(naive.nonEmpty, "test corpus produced no overlapping intervals")
    // closed-interval overlap lengths are within [0, len]
    bucketed.foreach { case (_, _, ov) => assert(ov >= 0 && ov <= lenUs) }
  }

  test("q_range_frame equals a naive per-row trailing re-aggregation") {
    import org.apache.spark.sql.functions._
    val winUs = operators.EventOps.trailWindowSec * 1000000L
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"), col("value"))
    val other = ev.select(col("event_type").as("o_type"),
      col("tus").as("o_tus"), col("value").as("o_value"))
    val naive = ev.join(other,
        col("event_type") === col("o_type") &&
          col("o_tus") >= col("tus") - winUs && col("o_tus") <= col("tus"))
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("trail_n"),
        round(sum(expr("CAST(o_value AS DECIMAL(14,4))")), 2)
          .cast("double").as("trail_sum"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val framed = operators.EventOps.rangeFrame(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(framed.size === naive.size)
    framed.foreach { case (id, got) =>
      assert(got === naive(id), s"event $id: frame $got vs naive ${naive(id)}")
    }
  }

  test("q_topk_agg: heap aggregate equals the window top-n, bit-for-bit") {
    val win = operators.Relational.topNWindow(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val df = operators.Relational.topKAgg(spark, sf)
    val agg = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(agg === win,
      s"extra=${(agg -- win).take(5)} missing=${(win -- agg).take(5)}")
    assert(agg.nonEmpty)
    // the plan must be the aggregate shape: a two-phase (partial map-side
    // + final) ObjectHashAggregate and NO window sort of the full input
    val p = df.queryExecution.executedPlan.toString
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final ObjectHashAggregate:\n$p")
    assert(!p.contains("Window"), s"window operator crept back in:\n$p")
  }

  test("sliding distinct HLL twin tracks the exact count within 5%") {
    val exact = operators.EventOps.distinctSliding(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approx = operators.EventOps.distinctSlidingApprox(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet,
      "sketch path bucketed windows differently from the exact twin")
    assert(exact.nonEmpty)
    exact.foreach { case (w, n) =>
      val a = approx(w)
      assert(math.abs(a - n).toDouble / math.max(n, 1L) <= 0.05,
        s"window $w: exact $n vs sketch $a")
    }
  }

  test("q16 anti-join exclusion equals the complement semi-join") {
    import org.apache.spark.sql.functions._
    // same aggregate through the OPPOSITE join type: suppliers with
    // non-negative balance kept via LEFT SEMI must give identical
    // counts to the denylist LEFT ANTI the operator plans
    val good = Tables(spark, sf, "supplier")
      .filter(col("s_acctbal") >= 0).select("s_suppkey")
    val parts = Tables(spark, sf, "part")
      .filter(col("p_brand") =!= "Brand#21" &&
        !col("p_type").startsWith("MEDIUM") &&
        col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val naive = Tables(spark, sf, "lineitem")
      .select("l_partkey", "l_suppkey")
      .join(parts, col("l_partkey") === col("p_partkey"))
      .join(good, col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)) -> r.getLong(3))
      .toMap
    val got = operators.Relational5.q16SuppCnt(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)) -> r.getLong(3))
      .toMap
    assert(got === naive)
    assert(got.nonEmpty && got.values.forall(_ > 0))
  }

  test("source_overlap totals equal the near-dup pair count") {
    import org.apache.spark.sql.functions._
    val pairs = operators.DedupOps.ngramJaccard(spark, sf).count()
    val matrix = operators.DedupOps.sourceOverlap(spark, sf)
    val total = matrix.agg(sum(col("n_pairs"))).collect()(0).getLong(0)
    assert(total === pairs, "every near-dup pair lands in exactly one matrix cell")
    // canonical ordering: source_a <= source_b in every cell
    assert(matrix.filter(col("source_a") > col("source_b")).count() === 0)
  }

  test("doc_lm_score: scores bounded, bigram count = tokens - 1, window twin agrees") {
    import org.apache.spark.sql.functions._
    import graft.functions.Texts
    val lm = SparkEntry.queries("doc_lm_score")(spark, sf)
    // bounds: novelty is a fraction of the doc's bigrams; cond_pred is
    // a sub-unit probability ratio (numerator counts are a subset of
    // the denominator's context mass)
    assert(lm.filter(col("novelty") < 0 || col("novelty") > 1).count() === 0)
    assert(lm.filter(col("cond_pred") <= 0 || col("cond_pred") > 1).count() === 0)
    // every >=2-token doc present, with n_bigrams = n_tokens - 1
    val toks = graft.Tables(spark, sf, "documents")
      .select(col("doc_id"), size(Texts.tokens(col("text"))).cast("long").as("nt"))
      .filter(col("nt") >= 2)
    val joined = toks.join(lm, "doc_id")
    assert(joined.count() === toks.count(), "every multi-token doc is scored")
    assert(joined.filter(col("n_bigrams") =!= col("nt") - 1).count() === 0)
    // TWIN FORMULATION: rebuild the bigram stream with a lead() window
    // (positional explode + per-doc ordered shuffle — the plan the
    // transform-based kGrams kernel avoids) and recompute both scores;
    // the declarative reformulation must agree row-for-row.
    val ex = graft.Tables(spark, sf, "documents")
      .select(col("doc_id"), posexplode(Texts.tokens(col("text"))).as(Seq("pos", "tok")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val bg2 = ex
      .withColumn("nxt", lead(col("tok"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("tok"), col("nxt")).as("bg"))
    val model = bg2.groupBy(col("bg")).agg(count(lit(1)).as("c_bg"))
    val ctx = model.groupBy(substring_index(col("bg"), " ", 1).as("ctx"))
      .agg(sum(col("c_bg")).as("c_ctx"))
    val m2 = model.withColumn("ctx", substring_index(col("bg"), " ", 1))
      .join(ctx, "ctx").select(col("bg"), col("c_bg"), col("c_ctx"))
    val twin = bg2.join(m2, "bg").groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams2"),
        (sum(when(col("c_bg") === 1, 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("novelty2"),
        (sum(col("c_bg")).cast("double") / sum(col("c_ctx"))).as("cond_pred2"))
    val cmp = lm.join(twin, "doc_id")
    assert(cmp.count() === lm.count())
    assert(cmp.filter(col("n_bigrams") =!= col("n_bigrams2") ||
      col("novelty") =!= col("novelty2") ||
      col("cond_pred") =!= col("cond_pred2")).count() === 0,
      "kGrams-built bigram scores equal the window-lead formulation bit-for-bit")
  }

  test("source_jaccard: symmetric-set identities hold; KMV sketch tracks " +
    "the exact matrix within the k-derived error bound") {
    import org.apache.spark.sql.functions._
    val exact = operators.DedupOps.sourceJaccard(spark, sf)
    // set identities: inter <= min(n_a, n_b), union = n_a+n_b-inter,
    // canonical pair order
    assert(exact.filter(col("n_inter") > least(col("n_a"), col("n_b"))).count() === 0)
    assert(exact.filter(col("n_union") =!= col("n_a") + col("n_b") - col("n_inter")).count() === 0)
    assert(exact.filter(col("source_a") >= col("source_b")).count() === 0)
    val nSources = graft.Tables(spark, sf, "documents")
      .select(col("source")).distinct().count()
    // the synthetic sources share a vocabulary: every pair overlaps
    assert(exact.count() === nSources * (nSources - 1) / 2)
    // sketch at k = 256 (small enough that sf0.001 source sets ~1.1-1.5k
    // grams genuinely exercise the estimator, not the exact-union path):
    // sigma = sqrt(J(1-J)/k) <= 0.009 at the measured J <= 0.085, so a
    // 0.05 absolute tolerance is > 5 sigma
    val est = operators.DedupOps.sourceJaccardKmv(spark, sf, k = 256)
    assert(est.count() === nSources * (nSources - 1) / 2, "sketch emits every pair")
    assert(est.filter(col("jaccard_est") < 0 || col("jaccard_est") > 1).count() === 0)
    val cmp = est.join(exact.select(col("source_a"), col("source_b"), col("jaccard")),
        Seq("source_a", "source_b"), "left")
      .select(abs(coalesce(col("jaccard"), lit(0.0)) - col("jaccard_est")).as("err"))
    val maxErr = cmp.agg(max(col("err"))).collect()(0).getDouble(0)
    assert(maxErr <= 0.05, s"KMV max abs error $maxErr exceeds the 5-sigma bound")
    // estimator really is in sketch mode at this k: some pair's merged
    // sketch must have been truncated (k_used == k)
    assert(est.filter(col("k_used") === 256).count() > 0, "estimator path exercised")
  }

  test("source_jaccard_kmv: oversized-sources envelope enforced — fallback " +
    "route is result-identical and carries no single-row collapse") {
    // oneRowMax = 0 forces every corpus over the line, exercising the
    // plan a >10^4-source corpus would take (the dedup_embedding_lsh
    // broadcast-guard spec pattern): pair skeleton from an ids-only
    // broadcast + two sketch attach joins, no collect_list-into-one-row
    // anywhere — at real oversized scale that row would not fit an
    // executor.
    val forced = operators.DedupOps.sourceJaccardKmv(spark, sf, oneRowMax = 0L)
    val plan = forced.queryExecution.optimizedPlan.toString
    assert(!plan.contains("collect_list"),
      "fallback plan still collapses all sketches into one row")
    assert(forced.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
      "fallback pair skeleton lost its ids-only broadcast join")
    val inEnvelope = operators.DedupOps.sourceJaccardKmv(spark, sf)
    assert(inEnvelope.queryExecution.optimizedPlan.toString.contains("collect_list"),
      "in-envelope path lost its single-row pair generation")
    val a = forced.collect().map(_.mkString("|")).toSet
    val b = inEnvelope.collect().map(_.mkString("|")).toSet
    assert(a === b, "fallback route changed the estimate rows")
  }

  test("doc_signals: fused scan equals every component on its population") {
    val sig = operators.TextOps.docSignals(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    // population: every document exactly once
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(sig.size.toLong === nDocs, "one signals row per document")
    def d(r: org.apache.spark.sql.Row, c: String): Double = r.getAs[Double](c)
    // text_quality (filters token-less docs -> inner compare)
    operators.TextOps.textQuality(spark, sf).collect().foreach { q =>
      val s = sig(q.getLong(0))
      assert(d(s, "stop_ratio") === d(q, "stop_ratio"), s"stop_ratio ${q.getLong(0)}")
      assert(d(s, "mean_tok_len") === d(q, "mean_tok_len"))
      assert(d(s, "space_ratio") === d(q, "space_ratio"))
      assert(d(s, "quality") === d(q, "quality"))
    }
    // token_count (all docs)
    operators.TextOps.tokenCount(spark, sf).collect().foreach { t =>
      val s = sig(t.getLong(0))
      assert(s.getAs[Long]("n_ws_tokens") === t.getAs[Long]("n_ws_tokens"))
      assert(s.getAs[Long]("n_re_tokens") === t.getAs[Long]("n_re_tokens"))
      assert(s.getAs[Long]("n_chars") === t.getAs[Long]("n_chars_seen"))
    }
    // lang_id + fingerprint (all docs)
    operators.TextOps.langId(spark, sf).collect().foreach { l =>
      assert(sig(l.getLong(0)).getAs[String]("pred_lang") ===
        l.getAs[String]("pred_lang"), s"pred_lang ${l.getLong(0)}")
    }
    operators.TextOps.docFingerprint(spark, sf).collect().foreach { f =>
      assert(sig(f.getLong(0)).getAs[String]("fp") === f.getAs[String]("fp"))
    }
    // doc_repetition (token-having docs; dup fracs NULL on degenerate
    // grams in both forms)
    operators.TextOps.docRepetition(spark, sf).collect().foreach { r =>
      val s = sig(r.getLong(0))
      assert(d(s, "top_word_share") === d(r, "top_word_share"))
      assert(s.isNullAt(s.fieldIndex("dup_2gram_frac")) ===
        r.isNullAt(r.fieldIndex("dup_2gram_frac")))
      if (!r.isNullAt(r.fieldIndex("dup_2gram_frac")))
        assert(d(s, "dup_2gram_frac") === d(r, "dup_2gram_frac"))
      if (!r.isNullAt(r.fieldIndex("dup_3gram_frac")))
        assert(d(s, "dup_3gram_frac") === d(r, "dup_3gram_frac"))
    }
  }

  test("doc_signals: token-less docs surface with NULL token signals; " +
    "plan is scan-only (zero exchanges)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-signals").toFile.getAbsolutePath
    // doc 2 is whitespace-only: zero ws-tokens but 3 chars — the
    // component entries DROP it (textQuality/docRepetition filter),
    // the signals table must SURFACE it with NULL token signals
    Seq((1L, "src", "the data value"), (2L, "src", "   "))
      .toDF("doc_id", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    val rows = operators.TextOps.docSignals(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.size === 2, "token-less doc dropped from the signals table")
    val empty = rows(2L)
    assert(empty.getAs[Long]("n_ws_tokens") === 0L)
    assert(empty.getAs[Long]("n_chars") === 3L)
    Seq("stop_ratio", "mean_tok_len", "space_ratio", "quality",
      "top_word_share", "dup_2gram_frac", "dup_3gram_frac").foreach { c =>
      assert(empty.isNullAt(empty.fieldIndex(c)), s"$c not NULL on token-less doc")
    }
    assert(empty.getAs[String]("pred_lang") === "und")
    val full = rows(1L)
    assert(full.getAs[Long]("n_ws_tokens") === 3L)
    assert(full.getAs[Double]("stop_ratio") === 1.0) // the, data, value all stopwords
    // one scan, two codegen'd projections — a fused signals pass that
    // shuffled would defeat its own reason to exist
    val plan = operators.TextOps.docSignals(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "doc_signals plans a shuffle")
  }
}
