package graft.operators

import graft.Tables
import graft.functions.VectorExprs.{vecDistSq, vecDot, vecNorm}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Vector similarity over `embeddings` (64-dim float vectors):
  * cosine near-dup pairs, brute-force ANN (the exactness baseline),
  * LSH-bucketed ANN (the scale path), and nearest-centroid
  * classification.
  *
  * Determinism contract with the DuckDB oracle: every dot product /
  * norm is a LEFT-TO-RIGHT sequential fold over doubles
  * (`aggregate(zip_with(...))` in Spark ≡ `list_reduce(list_zip(...))`
  * in DuckDB), so cosines are bit-identical and no rounding is needed
  * anywhere — thresholds and orderings agree exactly.
  */
object VectorOps {

  /** Sequential-fold kernels as custom codegen'd expressions (see
    * graft.functions.VecOps for why neither higher-order functions nor
    * unrolled chains survive at scale). */
  private def dot(a: Column, b: Column): Column = vecDot(a, b)

  /** Fixed-point mean for centroid math: quantize each coordinate with
    * `floor(x·1e6 + 0.5)` (pure IEEE double ops — identical in Spark
    * and DuckDB), sum exactly in LONG, divide once at the end.
    *
    * Exact long sums are order-independent, so the mean is stable
    * under any partitioning / AQE re-plan — and per-group state is one
    * long + one count, not an `array_sort(collect_list(...))` of the
    * whole group (which is an OOM at 100 TB). The 1e-6 quantization is
    * part of the operator's declared semantics; the oracle applies the
    * identical quantization. */
  private def qmean(x: Column): Column =
    sum(floor(x * 1e6 + 0.5).cast("long")).cast("double") / count(lit(1)) / 1e6
  // (kept as the executable spec of the quantized mean; the query
  // paths run the fused whole-vector form — meanVectors below)

  /** DuckDB twin of [[qmean]]. */
  private def qmeanSql(x: String): String =
    s"CAST(sum(CAST(floor($x*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/count(*)/1000000"

  /** Per-group mean vectors from WHOLE vectors (columns
    * `groupCols :+ v`, v an array<float|double>): one fused
    * fixed-point vector-sum aggregate ([[graft.functions.VecSumQuant]])
    * plus the group count — shared by the IVF/PQ codebook updates and
    * the label centroids. Replaces the exploded two-groupBy form
    * (`posexplode` → per-(keys,dim) [[qmean]] → per-keys
    * `collect_list`/`array_sort` assembly): ONE exchange on the group
    * keys instead of two, no dims× row fan, bit-identical means
    * (quantized long sums are order-independent; the divide below is
    * the same `sum.cast(double) / count / 1e6` expression per dim).
    * Per-group state is one dims-long array + a count, never group
    * population. */
  private def meanVectors(e: DataFrame, groupCols: Seq[String]): DataFrame = {
    val keys = groupCols.map(col)
    e.groupBy(keys: _*)
      .agg(graft.functions.VecSumQuant.vecSumQuant(col("v")).as("qs"),
        count(lit(1)).as("n"))
      .select(keys :+ transform(col("qs"),
        s => s.cast("double") / col("n") / 1e6).as("cv"): _*)
  }

  /** embedding (as float array) plus its precomputed norm. */
  private def vecs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings")
      .withColumn("vd", col("embedding"))
      .withColumn("norm", vecNorm(col("embedding")))

  private val dotSqlA = // DuckDB twin of dot(): sequential fold
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      "list_transform(list_zip(%s, %s), s -> s[1]*s[2])), (acc, x) -> acc + x)"

  val nearDupThreshold = 0.4

  /** Default blocks for the distributed exact pair join (B·(B+1)/2
    * tasks). A deployment sizes this from cluster parallelism: the
    * pair enumeration runs as B·(B+1)/2 task keys, so pick
    * B ≈ √(2·cores) to keep every core busy (B=8 → 36 keys for
    * local[32]; a 1000-executor cluster with 8k cores wants B ≈ 128).
    * Each vector is replicated B+1 times, so larger B trades shuffle
    * volume for parallelism — the per-task work shrinks as 1/B². */
  val pairBlocks = 8

  /** Embedding near-dup pairs: EXACT cosine ≥ threshold, as a
    * block-pair equi-join rather than a broadcast nested loop.
    *
    * Why exact and not LSH candidates: measured on the test corpus the
    * qualifying-pair cosines are a continuum down to the threshold
    * itself (min 0.4005 at sf0.01; densest mass within 0.01 of 0.4)
    * with background pairs at 0.3999 — no LSH family has recall 1 on a
    * zero-margin threshold, so candidate pruning would make the exact
    * oracle a coin flip. A zero-margin threshold join is inherently
    * Ω(n²) compute; what CAN be fixed is the plan: instead of
    * broadcasting the corpus into a nested loop, each vector (block
    * b = vec_id mod B) is routed to the B block-pair tasks that need
    * it, and the pair enumeration becomes a shuffle equi-join on the
    * task key — bounded replication (B+1 copies), evenly partitioned,
    * no full-corpus broadcast, AQE-splittable. The high-margin regime
    * where candidate pruning IS sound ships as [[embeddingNearDupLsh]].
    * Every unordered pair lands in exactly one task: (bi,bj) with
    * bi ≤ bj gets block bi as the a-side and block bj as the b-side.
    *
    * `blocks` is a caller knob (see [[pairBlocks]] for sizing);
    * block assignment uses `pmod` so negative ids still land in
    * [0, B) instead of producing a negative block (where the
    * `sequence(ba, B-1)` task fan-out would silently emit wrong or
    * descending task keys). */
  def embeddingNearDup(spark: SparkSession, dir: String,
                       blocks: Int = pairBlocks): DataFrame = {
    // scan fan-out (Tables.fanned rationale): the (B+1)-way replication
    // explode runs in the scan stage
    val v = graft.Tables.fanOut(spark, vecs(spark, dir))
    val B = blocks
    val blk = pmod(col("vec_id"), lit(B)).cast("int")
    val aSide = v.select(col("vec_id").as("ida"), col("vd").as("va"),
        col("norm").as("na"), blk.as("ba"))
      .select(col("ida"), col("va"), col("na"), col("ba"),
        explode(sequence(col("ba"), lit(B - 1))).as("bb"))
      .withColumn("task", col("ba") * B + col("bb"))
    val bSide = v.select(col("vec_id").as("idb"), col("vd").as("vb"),
        col("norm").as("nb"), blk.as("bbb"))
      .select(col("idb"), col("vb"), col("nb"), col("bbb"),
        explode(sequence(lit(0), col("bbb"))).as("bba"))
      .withColumn("task", col("bba") * B + col("bbb"))
    aSide.join(bSide, Seq("task"))
      .filter(col("ba") =!= col("bbb") || col("ida") < col("idb"))
      // dot() is a symmetric sequential fold (x_i·y_i terms commute),
      // so canonicalizing the id order after the fact is bit-safe.
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= nearDupThreshold)
      .select(least(col("ida"), col("idb")).as("vec_id_a"),
        greatest(col("ida"), col("idb")).as("vec_id_b"), col("cos"))
  }

  val embeddingNearDupSql: String = {
    val dotAB = dotSqlA.format("a.vd", "b.vd")
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, vd,
       |   sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |        list_transform(vd, x -> x*x)), (acc, x) -> acc + x)) AS norm
       |  FROM v)
       |SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
       |  $dotAB/(a.norm*b.norm) AS cos
       |FROM n a JOIN n b ON a.vec_id < b.vec_id
       |WHERE $dotAB/(a.norm*b.norm) >= $nearDupThreshold""".stripMargin
  }

  /** Scale-path near-dup: multi-table hyperplane LSH candidates with
    * exact cosine verification — the plan you run at 100 TB, where the
    * near-dup threshold has angular margin (semantic dups cluster well
    * above background). Candidates are pairs sharing any of `tables`
    * per-table codes (`bits` seeded hyperplanes each); only candidates
    * are verified, so compute is Σ bucket² not n².
    *
    * `bits` MUST scale with the corpus: per-table candidate cost is
    * ~n²/2^bits (expected bucket size n/2^bits, pairs per bucket
    * quadratic in it), so a FIXED code space degrades quadratically —
    * measured 23.7× time for 10× vectors at a fixed 4-bit code (sf1
    * bench). The DEFAULT therefore AUTO-SIZES the code space IN-PLAN:
    * the corpus count enters as a 1-row scalar subquery (the
    * DedupOps df-cap pattern — never a driver collect) and
    * bits = clamp(⌈log₂(n / [[lshTargetBucket]])⌉, [[lshMinBits]],
    * [[lshMaxBits]]), which holds expected bucket population at
    * ~[[lshTargetBucket]] so per-table candidate work stays ~n·m/2 —
    * linear — at any corpus size (10⁹ vectors → 22 bits, the tiny
    * test corpus → the 4-bit floor where the recall spec lives).
    * Per-bit codes above the runtime width are short-circuited (the
    * `i < nbits` conjunct guards the hyperplane dot), so map-side
    * cost tracks the chosen width, not [[lshMaxBits]]. More bits per
    * table lowers per-table recall; deployments add tables (recall
    * unions across tables) as bits grow. An explicit `bits > 0` pins
    * a fixed code space (the knob spec and recall spec use this).
    *
    * Recall < 1 by construction on a zero-margin threshold →
    * rows-only gate + ScalaTest recall spec vs [[embeddingNearDup]]. */
  val lshTables = 8

  /** Target expected per-table bucket population for the auto-sized
    * code space: per-bucket verify work is ~m²/2 pairs and per-table
    * candidate volume ~n·m/2 — both bounded and linear in n once m is
    * pinned. 256 keeps the sf1 bench in its measured-linear regime
    * (20k vectors → 7 bits) without shredding per-table recall. */
  val lshTargetBucket = 256

  /** Floor for the auto-sized code width — the tiny test corpus would
    * otherwise degenerate to 1 bucket and the recall spec would gate
    * nothing. */
  val lshMinBits = 4

  /** Ceiling for the auto-sized code width (also the number of seeded
    * hyperplanes generated per table in auto mode): 256·2¹⁶ ≈ 1.7·10¹⁰
    * vectors before the ceiling binds and bucket growth resumes —
    * beyond any single-table embedding corpus this library targets; a
    * deployment past it passes explicit `bits`. Kept deliberately at
    * 16, not higher: every generated bit is a guarded 64-dim dot
    * product in the bucketing projection (tables × maxBits of them),
    * and the generated-code/task-binary size grows with the ceiling
    * even though runtime short-circuits at the chosen width —
    * measured at 24 the plan overhead alone cost whole seconds per
    * query at small SF. */
  val lshMaxBits = 16

  /** The declared semantic regime of the near-dup LSH mode: the
    * recall floors, the RecallAudit margin slices, and the table-count
    * sizing below are all defined at cos ≥ this. The zero-margin tail
    * below it belongs to the exact mode by contract. */
  val lshRegimeCos = 0.7

  /** Recall the auto table count is sized to hold at [[lshRegimeCos]]
    * — the same floor the ScalaTest specs pin. */
  val lshRecallTarget = 0.9

  /** Ceiling for the auto table count (the 100 TB guard: past it the
    * user is asking single-probe LSH for a recall/threshold frontier
    * where IVF-family indexes are the right tool — true-duplicate
    * regimes go to [[embeddingNearDupIvf]], ranked search to the
    * ann_ivf family; or pass explicit knobs). 64 tables bind at
    * ~2³⁰ vectors under the sizing rule. */
  val lshMaxTables = 64

  /** Regime-derived AUTO TABLE COUNT — the fix for the measured
    * sf10 recall decay that bit-width auto-sizing alone cannot avoid:
    * holding bucket population flat (bits ~ log₂ n) keeps COST linear
    * but shrinks per-table collision probability p^bits for a pair at
    * cosine [[lshRegimeCos]] (p = 1 − acos(c)/π per bit), so a FIXED
    * table count loses recall as log n grows — measured on the
    * declared cos ≥ 0.7 slice: 1.00 at sf1 (7 bits, 8 tables) but
    * 0.43 at sf10 (10 bits, 8 tables). Since recall unions across
    * tables, the count that holds target R is
    * T = ⌈ln(1−R) / ln(1−p^bits)⌉ — re-derived from the corpus count
    * whenever the width re-derives (17 at sf1, 42 at sf10; the small
    * SFs stay at the [[lshTables]] floor, so bench and spec plans are
    * unchanged). Cost scales with T (each table is n·bucket bucket-
    * join work) — that is the honest price of a fixed-threshold
    * recall floor on a growing corpus, and it stays LINEAR in n at
    * every scale. T is STRUCTURAL (it sizes the generated bucketing
    * projection), so auto mode resolves it from one column-pruned
    * corpus count — the IVF auto-k precedent. */
  /** Driver-side twin of the [[autoBits]] clamp — ONE formula feeds
    * both the table count and (in [[embeddingNearDupLsh]]'s auto
    * mode) the code width itself, from the SAME corpus-count
    * snapshot, so the two sizings can never disagree about n. The
    * ceil(log(x)/log 2) arithmetic matches Spark's `ceil(log2(x))`
    * op-for-op (both are StrictMath.log ratios). */
  private[graft] def lshAutoBits(n: Long, target: Int): Int =
    math.min(lshMaxBits, math.max(lshMinBits,
      math.ceil(math.log(math.max(1.0, n.toDouble / target)) / math.log(2.0)).toInt))

  private[graft] def lshAutoTables(n: Long, target: Int): Int = {
    if (n <= 0) return lshTables
    val bits = lshAutoBits(n, target)
    val pBit = 1.0 - math.acos(lshRegimeCos) / math.Pi
    val pTable = math.pow(pBit, bits)
    val t = math.ceil(math.log(1.0 - lshRecallTarget) / math.log(1.0 - pTable)).toInt
    math.min(lshMaxTables, math.max(lshTables, t))
  }

  /** Seeded hyperplanes for (tables, bits) — a given (seed, tables,
    * bits) draws the identical sequence every call, so plans are
    * deterministic. */
  private def seededPlanes(seed: Long, tables: Int, bits: Int): Seq[Seq[Seq[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(tables, bits)(Seq.fill(64)(rnd.nextGaussian()))
  }

  /** clamp(⌈log₂(n / target)⌉, [[lshMinBits]], [[lshMaxBits]]) as an
    * in-plan column, n = a 1-row scalar-subquery count over
    * `counted` — the shared auto-width rule of both LSH operators. */
  private def autoBits(counted: DataFrame, target: Int): Column = {
    val n = counted.agg(count(lit(1)).as("n_vecs")).scalar()
    least(greatest(
      ceil(log2(n.cast("double") / target)).cast("int"),
      lit(lshMinBits)), lit(lshMaxBits))
  }

  /** The (tbl, code) bucket-key structs for multi-table hyperplane
    * LSH over `vd`: per-bit sign indicators of the seeded planes,
    * masked to the runtime width. `i < nbits` first — And
    * short-circuits in codegen, so planes above the runtime width
    * never pay their 64-dim dot product. ONE definition shared by
    * the near-dup and ANN operators: a guard or clamp fix applied to
    * one must not leave the other with different bucketing. */
  private def lshBucketKeys(seed: Long, tables: Int, genBits: Int,
                            nbits: Column): Seq[Column] =
    seededPlanes(seed, tables, genBits).zipWithIndex.map { case (tbl, t) =>
      val code = tbl.zipWithIndex.map { case (p, i) =>
        when(lit(i) < nbits && dot(col("vd"), typedlit(p)) > 0,
          lit(1 << i)).otherwise(lit(0))
      }.reduce(_ + _)
      struct(lit(t).as("tbl"), code.as("code"))
    }

  /** Ceiling on the corpus size whose float vectors the verify join
    * may BROADCAST (see the plan note inside [[embeddingNearDupLsh]]):
    * ~10⁶ 64-dim float rows is ~300 MB of executor-resident table —
    * the edge of what a broadcast should carry. Past it the operator
    * FALLS BACK to shuffle attach joins (slow-but-correct — the
    * pre-broadcast plan) instead of OOMing the driver/executors on a
    * hint the scaladoc boundary used to merely document; and at that
    * scale the true-duplicate regime belongs to
    * [[embeddingNearDupIvf]] anyway. */
  val lshBroadcastMaxVectors = 1000000L

  /** `bits = 0` (the default) auto-sizes the code space from the
    * corpus count — see the sizing scaladoc above. `tables = 0` (the
    * default) auto-sizes the table count to hold [[lshRecallTarget]]
    * at the declared [[lshRegimeCos]] regime — see [[lshAutoTables]].
    * Explicit values pin either knob. Both auto knobs derive from ONE
    * eager corpus count resolved at construction (the IVF auto-k
    * precedent: the table count is structural — it sizes the
    * generated bucketing projection — so it cannot live in-plan, and
    * deriving the width from the same snapshot keeps the two sizings
    * consistent if the table grows between construction and
    * execution). `broadcastMax` gates the verify join's corpus
    * broadcast ([[lshBroadcastMaxVectors]]); tests lower it to
    * exercise the fallback plan. */
  def embeddingNearDupLsh(spark: SparkSession, dir: String,
                          tables: Int = 0,
                          bits: Int = 0,
                          broadcastMax: Long = lshBroadcastMaxVectors): DataFrame = {
    require(bits >= 0 && bits <= lshMaxBits, s"bits must be in [0, $lshMaxBits]")
    require(tables >= 0, "tables must be >= 0 (0 = auto)")
    val v0 = vecs(spark, dir)
    // one count snapshot feeds the table count, the code width, and
    // the broadcast-envelope decision
    val n = Tables(spark, dir, "embeddings").select("vec_id").count()
    val nTables =
      if (tables > 0) tables
      else lshAutoTables(n, lshTargetBucket)
    // genBits hyperplanes are GENERATED per table; nbits of them are
    // USED per row. Fixed mode pins both; auto mode generates the
    // ceiling and masks to the resolved width, so the bucket key is a
    // pure function of (corpus count, seeded planes) — deterministic.
    val genBits = if (bits > 0) bits else lshMaxBits
    val nbits: Column =
      if (bits > 0) lit(bits) else lit(lshAutoBits(n, lshTargetBucket))
    val v = v0.withColumn("nbits", nbits)
    val keys = lshBucketKeys(43, nTables, genBits, col("nbits"))
    val buckets = v.select(col("vec_id"), explode(array(keys: _*)).as("k"))
      .select(col("vec_id"), col("k.tbl").as("tbl"), col("k.code").as("code"))
    val ca = buckets.select(col("tbl"), col("code"), col("vec_id").as("vec_id_a"))
    val cb = buckets.select(col("tbl"), col("code"), col("vec_id").as("vec_id_b"))
    val cands = ca.join(cb, Seq("tbl", "code"))
      .filter(col("vec_id_a") < col("vec_id_b"))
      .select("vec_id_a", "vec_id_b")
    // Verify-then-dedup, corpus broadcast: the candidate stream is
    // tables × bucket-population × n rows — at sf10/42 tables, 1.6·10⁹
    // pairs, duplicated across every table a pair collides in — while
    // the corpus row set is ~50 MB of floats. The earlier
    // dedup-then-verify shape shuffled that duplicated stream TWICE
    // (the distinct, then the id joins), which spilled ~200 GB at
    // sf10 and filled the disk; broadcasting the corpus side instead
    // lets candidates PIPELINE through both attach joins and the
    // cosine filter inside one codegen stage — never materialized,
    // never shuffled — so only the ~10⁷ surviving true pairs reach
    // the distinct. Duplicate candidates re-verify (identical
    // deterministic cosines — the distinct collapses them exactly),
    // trading redundant map-side flops for the spill. Corpus floats
    // stop being broadcastable ~[[lshBroadcastMaxVectors]] vectors
    // at these dims, and that envelope is ENFORCED, not just
    // documented: the already-in-hand corpus count gates the hint,
    // and an oversized corpus routes to plain shuffle attach joins —
    // the pre-broadcast slow-but-correct plan — instead of failing
    // the broadcast build. (Single-probe LSH at that scale is
    // already handed to the IVF family by the [[lshMaxTables]]
    // scaladoc; the fallback keeps an over-the-line call correct.)
    val va = v0.select(col("vec_id").as("vec_id_a"), col("vd").as("va"), col("norm").as("na"))
    val vb = v0.select(col("vec_id").as("vec_id_b"), col("vd").as("vb"), col("norm").as("nb"))
    val attached =
      if (n <= broadcastMax)
        cands.join(broadcast(va), Seq("vec_id_a")).join(broadcast(vb), Seq("vec_id_b"))
      else
        cands.join(va, Seq("vec_id_a")).join(vb, Seq("vec_id_b"))
    attached
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= nearDupThreshold)
      .select("vec_id_a", "vec_id_b", "cos").distinct()
  }

  /** CLUSTER-bounded near-dup — the third rung of the embedding-dedup
    * ladder, and the operator the LSH mode's scaladocs hand their
    * out-of-envelope regimes to (the [[lshMaxTables]] ceiling, the
    * > [[lshBroadcastMaxVectors]] corpus): candidate pairs come from a
    * coarse k-means clustering (the SAME Lloyd quantizer the IVF
    * indexes train — [[trainCentroids]]) with [[ivfAssign]]-way
    * redundant assignment, then exact cosine verification. This is the
    * published shape of semantic dedup at LLM-corpus scale (SemDeDup,
    * Abbas et al. 2023: cluster the embeddings, compare only within
    * clusters) with the redundant assignment recovering the
    * cluster-boundary pairs that single-assignment SemDeDup misses by
    * construction.
    *
    * Why a THIRD mode exists — the regime map of the family, with the
    * boundaries MEASURED, not asserted:
    *   - [[embeddingNearDup]]: exact, Ω(n²) — the only sound gate at a
    *     zero-margin threshold, and the oracle for both pruned modes.
    *   - [[embeddingNearDupLsh]]: Θ(n·bucket·T) LINEAR — but recall is
    *     a hash-collision property, (1−(1−p^bits)^T) at pair cosine
    *     regime p: it needs angular MARGIN, and holding the floor on a
    *     growing corpus costs T ~ log-growth tables until
    *     [[lshMaxTables]] binds (~2³⁰ vectors at the declared regime).
    *   - this mode: Θ(n^1.5) — recall is a spatial-LOCALITY property,
    *     which binds it to the TRUE-DUPLICATE regime (cos ≳ 0.9:
    *     perturbed / re-encoded / re-embedded copies — the SemDeDup
    *     operating point): such a pair's separation (≲0.5·|v|) is far
    *     below inter-cluster scale (~√2·|v| between near-uniform
    *     directions), so both endpoints land in a shared cell with
    *     near-certainty — the planted-copy spec measures recall 1.00
    *     at cos ≈ 0.99, and nothing in that argument decays with
    *     log n, so there is no table-count treadmill. Moderate-cosine
    *     pairs (the 0.4-0.7 band — angle ≥ 45°, in this corpus random
    *     directional coincidences) have NO locality to exploit and
    *     measured 0.33 on the sf1 cos ≥ 0.7 slice: that band belongs
    *     to the LSH mode (collision probability is positive at any
    *     margin) or the exact mode (zero margin), by contract.
    *
    * Scale math (why k auto-sizes to ⌈√n⌉, the ANN rule): assignment
    * is n·k distance ops; candidate volume is Σ_lists C(pop, 2) with
    * expected pop = [[ivfAssign]]·n/k, i.e. ~r²n²/k pairs. k = √n
    * balances the two at Θ(n^1.5) total work — sublinear in the exact
    * mode's n² at every scale, with no per-table recall knob to
    * re-derive as n grows. At 10⁹
    * vectors that is ~3·10¹³ candidate cosines spread evenly over
    * ~31k lists (vs 10¹⁸ exact) — a real job on a 1000-executor
    * cluster where n² is not; a dense semantic cluster's overgrown
    * list is an equi-join hot key, which AQE skew-join splits.
    *
    * The verify join reuses the LSH mode's broadcast-envelope contract
    * verbatim: corpus floats broadcast under [[lshBroadcastMaxVectors]]
    * (candidates pipeline through attach + cosine filter in one
    * codegen stage), shuffle attach joins above it. Duplicate
    * candidates from the redundant assignment re-verify to identical
    * deterministic cosines and collapse in the final distinct.
    *
    * Recall < 1 by construction (a pair can straddle ALL of both
    * endpoints' probed cells) → rows-only gate + two ScalaTest specs
    * (subset/bitwise + overall floor vs the exact twin on the natural
    * corpus; a planted-copy floor at cos ≈ 0.99 for the declared
    * regime, which no natural corpus at any SF exhibits), and a
    * RecallAudit seat whose slice sizes expose vacuous slices. */
  def embeddingNearDupIvf(spark: SparkSession, dir: String,
                          k: Int = 0,
                          broadcastMax: Long = lshBroadcastMaxVectors): DataFrame = {
    require(k >= 0, "k must be >= 0 (0 = auto)")
    val v0 = vecs(spark, dir)
    // one count snapshot feeds the cluster count and the broadcast-
    // envelope decision (the LSH/IVF auto-knob precedent)
    val n = Tables(spark, dir, "embeddings").select("vec_id").count()
    val kk = if (k > 0) k else math.max(ivfK, math.ceil(math.sqrt(n.toDouble)).toInt)
    val corpus = v0.select(col("vec_id"), col("vd"), col("norm"))
    val cents = trainCentroids(corpus, kk, n)
    val lists = assignMulti(corpus, cents)
    val ca = lists.select(col("cid"), col("vec_id").as("vec_id_a"))
    val cb = lists.select(col("cid"), col("vec_id").as("vec_id_b"))
    val cands = ca.join(cb, Seq("cid"))
      .filter(col("vec_id_a") < col("vec_id_b"))
      .select("vec_id_a", "vec_id_b")
    val va = v0.select(col("vec_id").as("vec_id_a"), col("vd").as("va"), col("norm").as("na"))
    val vb = v0.select(col("vec_id").as("vec_id_b"), col("vd").as("vb"), col("norm").as("nb"))
    val attached =
      if (n <= broadcastMax)
        cands.join(broadcast(va), Seq("vec_id_a")).join(broadcast(vb), Seq("vec_id_b"))
      else
        cands.join(va, Seq("vec_id_a")).join(vb, Seq("vec_id_b"))
    attached
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= nearDupThreshold)
      .select("vec_id_a", "vec_id_b", "cos").distinct()
  }

  val nQueries = 10
  val topK = 5

  /** Ranked top-k per query as a BOUNDED-HEAP AGGREGATE
    * ([[graft.functions.TopKStructs]], the q_topk_agg idiom) instead of
    * a `row_number` window: the window shuffles EVERY scored candidate
    * row to its query's single partition and sorts the whole partition
    * to keep k rows — per-query input here is corpus-sized (brute
    * force), probe-list-sized (IVF) or bucket-union-sized (LSH), so at
    * scale that is a full shuffle + one giant sort per query. The heap
    * aggregate partial-aggregates map-side (≤ k rows per (mapper,
    * query) ever shuffle) and never sorts more than k rows per heap.
    *
    * Bit-identical to the window form: the heap retains the k LARGEST
    * `struct(cos, -neighbor_id)` = the k first rows under (cos DESC,
    * neighbor_id ASC), a total order (neighbor_id is unique per
    * query); `cos` is carried, never recomputed; rank = descending
    * position + 1 = the row_number it replaces. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    import graft.functions.TopKColumns.topKStructs
    scored.groupBy(col("query_id"))
      .agg(topKStructs(struct(col("cos"), (-col("neighbor_id")).as("nid")), k)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        (-col("col.nid")).as("neighbor_id"), col("col.cos").as("cos"))
  }

  /** The ADC-cutoff twin of [[rankTopK]]: the k SMALLEST (adist,
    * neighbor_id) per query — both fields negated so the heap's
    * "largest" is the window's (adist ASC, neighbor_id ASC) prefix.
    * Input is (query_id, neighbor_id, adist); output the surviving
    * (query_id, neighbor_id) pairs, set-identical to
    * `row_number <= k` over that order. */
  private def keepKSmallest(adists: DataFrame, k: Int): DataFrame = {
    import graft.functions.TopKColumns.topKStructs
    adists.groupBy(col("query_id"))
      .agg(topKStructs(struct((-col("adist")).as("nad"),
        (-col("neighbor_id")).as("nid")), k).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), (-col("t.nid")).as("neighbor_id"))
  }

  /** Brute-force cosine top-k: queries are vec_id < nQueries, corpus is
    * the rest. The exact baseline every ANN variant is judged against.
    * Top-k via [[rankTopK]]: the corpus-sized scored stream never
    * shuffles — each map task ships ≤ topK rows per query. */
  def annBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vd").as("qv"), col("norm").as("qn"))
    val c = v.filter(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"), col("vd").as("cv"), col("norm").as("cn"))
    rankTopK(
      q.crossJoin(c)
        .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn"))),
      topK)
  }

  val annBruteForceSql: String = {
    val dotAB = dotSqlA.format("q.vd", "c.vd")
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, vd,
       |   sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |        list_transform(vd, x -> x*x)), (acc, x) -> acc + x)) AS norm
       |  FROM v),
       |q AS (SELECT vec_id AS query_id, vd, norm FROM n WHERE vec_id < $nQueries),
       |c AS (SELECT vec_id AS neighbor_id, vd, norm FROM n WHERE vec_id >= $nQueries),
       |s AS (
       |  SELECT q.query_id, c.neighbor_id,
       |   $dotAB/(q.norm*c.norm) AS cos
       |  FROM (SELECT query_id, vd, norm FROM q) q, (SELECT neighbor_id, vd, norm FROM c) c),
       |r AS (
       |  SELECT query_id, neighbor_id, cos,
       |   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM s)
       |SELECT query_id, rank, neighbor_id, cos FROM r WHERE rank <= $topK""".stripMargin
  }

  /** Random-hyperplane LSH ANN — multi-table with the in-plan
    * auto-sized code width (the [[embeddingNearDupLsh]] recipe):
    * candidates are corpus vectors sharing ANY of `tables` per-table
    * codes with the query, exact cosine re-rank to top-k inside.
    *
    * Why multi-table and why auto width: a single fixed-width table
    * searches one bucket whose population grows with the corpus
    * while the chance a true neighbor shares all its bits falls —
    * measured at sf1 the original single-table 8-bit layout's recall
    * collapsed to 0.00. Recall unions across tables
    * (1 − (1 − p^bits)^tables for per-bit agreement p), and the
    * width tracks the corpus count so per-table bucket population
    * stays ~[[lshTargetBucket]]: candidate volume per query is
    * ~tables · m — flat as the corpus grows, which is the property a
    * serving deployment actually sizes for. The width growth that
    * keeps cost flat still erodes per-table recall (p^bits), so the
    * query side MULTIPROBES its Hamming-1 shell by default — see the
    * inline note in [[annLsh]]; probing costs ~(1+bits)× candidates
    * on the QUERY side only, the classic multiprobe trade. Recall <
    * 1 by construction → rows-only gate + recall spec vs
    * [[annBruteForce]], plus the sf1/sf10 RecallAudit artifacts. */
  val annLshTables = 16

  /** ANN's auto-width bucket target is coarser than near-dup's: ANN
    * hunts moderate-cosine neighbors (per-bit agreement p is far
    * lower than for near-dups), so recall needs fewer bits and more
    * tables; per-query candidate volume is ~tables · this — still
    * corpus-independent. */
  val annLshTargetBucket = 512

  def annLsh(spark: SparkSession, dir: String,
             tables: Int = annLshTables, bits: Int = 0,
             multiprobe: Boolean = true): DataFrame = {
    require(bits >= 0 && bits <= lshMaxBits, s"bits must be in [0, $lshMaxBits]")
    val v0 = vecs(spark, dir)
    val genBits = if (bits > 0) bits else lshMaxBits
    val nbits: Column =
      if (bits > 0) lit(bits)
      else autoBits(v0.filter(col("vec_id") >= nQueries), annLshTargetBucket)
    val v = v0.withColumn("nbits", nbits)
    val keys = lshBucketKeys(42, tables, genBits, col("nbits"))
    val buckets = v.select(col("vec_id"), col("nbits"),
        explode(array(keys: _*)).as("k"))
      .select(col("vec_id"), col("nbits"),
        col("k.tbl").as("tbl"), col("k.code").as("code"))
    // QUERY-side Hamming-≤2 multiprobe: each query additionally
    // probes every bucket within two bit-flips of its code, in every
    // table. Auto width holds bucket population (and so cost) flat as
    // the corpus grows, but per-table collision probability p^bits
    // falls with the log-growing width — measured recall 0.90 at sf1
    // decayed to 0.30 at sf10 (single-probe), and Hamming-1 alone
    // re-measured 0.86 at sf10: at these weak-neighbor cosines
    // (p ≈ 0.67/bit at cos 0.5) a true neighbor misses a 10-bit
    // bucket by two bits often enough to matter, and the shell-2
    // terms (C(b,2)·p^(b−2)(1−p)²) roughly triple the per-table hit
    // probability. The explode is on the QUERY side only — per-query
    // candidate volume is ~tables·(1+b+C(b,2))·bucket, still
    // corpus-independent up to the log² factor, and the corpus side
    // of the join is untouched.
    val qb = buckets.filter(col("vec_id") < nQueries)
    val qprobes =
      if (!multiprobe)
        qb.select(col("tbl"), col("code"), col("vec_id").as("query_id"))
      else {
        val flips = (lit(0), 0) +:
          (0 until genBits).map(i => (lit(1 << i), i)) ++:
          (for { i <- 0 until genBits; j <- (i + 1) until genBits }
            yield (lit((1 << i) | (1 << j)), j))
        val guarded = flips.map { case (mask, hiBit) =>
          when(lit(hiBit) < col("nbits"), mask)
        }
        qb.select(col("vec_id").as("query_id"), col("tbl"), col("code"),
            explode(array(guarded: _*)).as("flip"))
          .filter(col("flip").isNotNull)
          .select(col("tbl"),
            col("code").bitwiseXOR(col("flip")).as("code"), col("query_id"))
      }
    val cands = qprobes
      .join(buckets.filter(col("vec_id") >= nQueries)
        .select(col("tbl"), col("code"), col("vec_id").as("neighbor_id")),
        Seq("tbl", "code"))
      .select("query_id", "neighbor_id").distinct()
    val q = v0.select(col("vec_id").as("query_id"), col("vd").as("qv"), col("norm").as("qn"))
    val c = v0.select(col("vec_id").as("neighbor_id"), col("vd").as("cv"), col("norm").as("cn"))
    rankTopK(
      cands.join(q, Seq("query_id")).join(c, Seq("neighbor_id"))
        .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn"))),
      topK)
  }

  /** IVF ANN — the other 100 TB path besides LSH: a coarse quantizer
    * (k centroids from [[ivfIters]] Lloyd iterations, deterministically
    * seeded with the lowest corpus ids), inverted lists keyed by the
    * [[ivfAssign]] nearest centroids, and nprobe-list exact search per
    * query. At scale the inverted lists are the shuffle partitioning:
    * each query touches ~ivfAssign·nprobe/k of the corpus, so `k` must
    * scale with corpus size — k ≈ √n (the classic IVF balance point:
    * assignment cost n·k vs probe cost per list size) keeps per-list
    * size √n. Every IVF entry point AUTO-SIZES by default (`k = 0` →
    * k = ⌈√n⌉ floored at [[ivfK]]; probes = ⌈[[ivfProbeC]]·√k⌉ floored
    * at [[ivfProbes]] and capped at k): a fixed k is the same scale
    * disease the fixed LSH code space had — measured at sf1 the
    * 16-centroid default held recall 0.50 only by probing 25% of the
    * corpus in 1250-vector lists. The √k probe rule keeps per-query
    * scanned fraction ~2·ivfProbeC/√k = O(n^(-1/4)) — SUBLINEAR, where
    * the earlier probes = k/4 rule pinned it at a linear 25% (and
    * still only reached recall 0.72 at sf1; see the recall sizing
    * note on [[ivfAssign]]). k is STRUCTURAL (it seeds the Lloyd
    * iteration and sizes the centroid broadcast), so auto mode
    * resolves it from one column-pruned corpus count — a quantizer
    * is sized from its corpus cardinality in any serving system; at
    * true scale deployments train on a sample and pass k explicitly.
    * Explicit `k`/`probes` > 0 pin the knobs (spec usage). Recall <
    * 1 by construction → rows-only check + recall specs (floor 0.9)
    * + the sf1 RecallAudit artifact. */
  val ivfK = 16
  val ivfProbes = 8

  /** Probe-count multiplier: probes = ⌈this·√k⌉. Sized empirically on
    * the weak-neighbor regime this corpus exhibits (brute-force top-5
    * cosines are 0.41-0.53 — background-level neighbors that scatter
    * across quantizer cells): with [[ivfAssign]] = 2, c = 4 measures
    * recall 1.00 / 1.00 / 0.98 at sf0.01 / sf0.1 / sf1 where the old
    * k/4 rule measured 0.42 / 0.54 / 0.72. On clustered corpora
    * (strong semantic dups) a smaller c suffices; this default buys
    * the ≥0.9 floor on the hardest regime while still scanning a
    * VANISHING corpus fraction as n grows (probes/k = c/√k →
    * O(n^-1/4)). c history: 4 measured sf10 recall 0.92 (ann_ivf) /
    * 0.90 (ann_ivfpq_query, AT the floor) — coarse-probe misses, not
    * ADC resolution, were the binding loss (a full-corpus ADC scan at
    * the same rerank pool measured 0.98); 6 restores margin at 100×
    * while probing 29% of lists there and vanishing fractions
    * beyond. */
  val ivfProbeC = 6

  /** Lloyd iterations for the coarse quantizer (training-slice cost
    * only — the slice is capped at [[quantizerTrainCap]]). Two is the
    * measured knee: with the [[ivfAssign]]/[[ivfProbeC]] knobs a third
    * iteration buys ≤0.02 recall (0.96 → 0.98 at sf1, flat at 1.00
    * below) for a full extra train-slice × k pass. */
  val ivfIters = 2

  /** Multi-assignment: each corpus vector is indexed in its
    * `ivfAssign` nearest inverted lists (FLANN-style redundant
    * assignment). The single-assignment layout loses exactly the
    * boundary vectors — a true neighbor sitting just across a cell
    * wall from every probed list — and measured at sf1 that loss is
    * the recall gap: probes=36/multi=1 plateaued at 0.82 while
    * probes=48/multi=2 reaches 0.98. Cost: the index stores each
    * vector twice (2× list rows — still 8-byte ids/codes, not
    * vectors) and the probed fraction doubles; the search-side
    * candidate DEDUP this forces is a candidate-sized distinct, the
    * same shape the LSH operators already carry. */
  val ivfAssign = 2

  /** Column-pruned corpus cardinality — the quantizer-sizing input,
    * resolved DRIVER-SIDE rather than in-plan. This is deliberate
    * divergence from the [[autoBits]] scalar-subquery idiom, not an
    * oversight: the LSH width only MASKS per-row expressions (a
    * runtime column can do that), but k is STRUCTURAL — it feeds
    * `.limit(k)` for the seed slice, sizes the centroid broadcast,
    * and must be known BEFORE the index cache key is formed (an
    * auto-sized k baked into the key is what prevents a corpus
    * regeneration from serving a stale-k index). A plan-internal
    * scalar cannot do any of those three jobs. One count job per
    * index build; the serving path never re-pays it. */
  private def corpusN(spark: SparkSession, dir: String): Long =
    vecs(spark, dir).filter(col("vec_id") >= nQueries).count()

  private def ivfKnobsFor(n: => Long, k: Int, probes: Int): (Int, Int) = {
    val kk =
      if (k > 0) k
      else math.max(ivfK, math.ceil(math.sqrt(n.toDouble)).toInt)
    val pp =
      if (probes > 0) probes
      else math.min(kk,
        math.max(ivfProbes, math.ceil(ivfProbeC * math.sqrt(kk.toDouble)).toInt))
    (kk, pp)
  }

  /** Resolved (k, probes) for an IVF call: explicit values pass
    * through; zeros auto-size from the corpus count. */
  private def ivfKnobs(spark: SparkSession, dir: String,
                       k: Int, probes: Int): (Int, Int) =
    ivfKnobsFor(corpusN(spark, dir), k, probes)

  /** IVF index: coarse-quantizer centroids ([[ivfIters]] Lloyd
    * iterations over the training slice, deterministically seeded with
    * the lowest corpus ids) plus the inverted lists (vector → its
    * [[ivfAssign]] nearest centroids, so a vector appears in up to
    * ivfAssign list rows). Shared by the one-shot [[annIvf]] and the
    * deployment-split [[ivfBuildIndex]]/[[annIvfQuery]] pair. */
  /** argmin over the k centroids as a MIN-STRUCT AGGREGATE, not a
    * row_number window: the broadcast join explodes each vector k
    * ways, and partial aggregation collapses those k rows back to 1
    * map-side — nothing vector-count × k ever shuffles or sorts.
    * min(struct(d2, cid)) orders by d2 then cid: bit-identical to
    * the window's (d2 asc, cid asc) rank-1 row. first(vd) is
    * deterministic — every row in the group carries the same vd. */
  private def assignTo(points: DataFrame, cents: DataFrame): DataFrame =
    points.crossJoin(broadcast(cents))
      .withColumn("d2", vecDistSq(col("vd"), col("cv")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cid"))).as("m"), first(col("vd")).as("vd"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("vd"))

  /** [[ivfAssign]]-way (= 2) redundant assignment as a SECOND
    * min-struct pass, not a row_number window: rank-2 re-fans the
    * rank-1 rows (n rows, vd in hand) over the centroid broadcast
    * with each vector's rank-1 cid excluded and min-structs again —
    * both passes keep the map-side-collapse property, where a
    * corpus-wide `row_number ≤ 2` window would shuffle and sort all
    * n·k fan-out rows. The rank-1 cid is renamed on the LEFT side
    * (cid1), keeping `broadcast(cents)` byte-identical to the rank-1
    * pass's and the probe selection's — ReusedExchange then executes
    * the whole Lloyd-training subtree ONCE per query instead of once
    * per use. (A deployment wanting deeper redundancy chains further
    * passes; recall evidence only needed two.) ONE code path shared
    * by the full build and [[ivfAppend]] — the frozen-quantizer
    * append's bit-identity to a fresh assignment is this sharing. */
  private def assignMulti(points: DataFrame, cents: DataFrame): DataFrame =
    assignMultiFrom(assignTo(points, cents), cents)

  /** The rank-2 pass of [[assignMulti]] grown from an ALREADY-COMPUTED
    * rank-1 assignment (columns vec_id, cid, vd) — lets the range
    * path share one rank-1 exchange between the inverted lists and
    * the per-list radius instead of re-running the n × k pass. */
  private def assignMultiFrom(a1: DataFrame, cents: DataFrame): DataFrame = {
    val a2 = a1.select(col("vec_id"), col("cid").as("cid1"), col("vd"))
      .crossJoin(broadcast(cents))
      .filter(col("cid") =!= col("cid1"))
      .withColumn("d2", vecDistSq(col("vd"), col("cv")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"))
    a1.select(col("vec_id"), col("cid")).union(a2)
  }

  /** Lloyd-trained coarse-quantizer centroids over an arbitrary
    * (vec_id, vd, …) corpus — ONE implementation shared by the ANN
    * index builds and [[embeddingNearDupIvf]]'s clustering, so a seed
    * or convergence fix applied to one can never leave the other with
    * a different quantizer.
    *
    * Deterministic seed: the k lowest-id corpus vectors. The id itself
    * is the centroid tag — any distinct ascending values work for the
    * tie-break order, and this avoids an unpartitioned row_number()
    * window (a single-task sort that also spams WindowExec warnings).
    * Lloyd iterations run over the TRAINING slice (fixed-point means →
    * deterministic, bounded state); any full-corpus assignment is the
    * caller's one inherent n × k pass. */
  private def trainCentroids(corpus: DataFrame, k: Int, n: Long): DataFrame = {
    val train = trainSlice(corpus, n)
    var cents: DataFrame = corpus.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), transform(col("vd"), x => x.cast("double")).as("cv"))
    for (_ <- 1 to ivfIters) {
      val assigned = assignTo(train, cents)
      cents = meanVectors(
        assigned.select(col("cid"), col("vd").as("v")), Seq("cid"))
    }
    cents
  }

  private def ivfIndex(spark: SparkSession, dir: String,
                       k: Int, n: Long): (DataFrame, DataFrame) = {
    val v = vecs(spark, dir)
    val corpus = v.filter(col("vec_id") >= nQueries)
      .select(col("vec_id"), col("vd"), col("norm"))
    val cents = trainCentroids(corpus, k, n)
    val invlist = assignMulti(corpus, cents)
      .select(col("vec_id").as("neighbor_id"), col("cid"))
    (cents, invlist)
  }

  /** nprobe-list exact search against an IVF index (wherever the
    * centroids/inverted lists came from — the in-plan build or a
    * parquet read). The query-side plan never shuffles the corpus:
    * centroids broadcast to the queries, the tiny probe set broadcasts
    * onto the inverted lists, and the candidate ids broadcast onto the
    * corpus scan; the only exchanges are the candidate-pair distinct
    * (forced by multi-assignment — a neighbor in two probed lists
    * must score once, see [[ivfAssign]]) and the query-keyed windows. */
  /** Shared IVF probe-and-score pipeline: probe the `nprobe` nearest
    * lists per query, attach candidates, exact cosine per (query,
    * candidate) — the stem [[ivfSearch]] (top-k) and [[annRangeIvf]]
    * (threshold) both grow from. Deterministic exact cosines, so both
    * consumers emit bit-identical scores to their exact twins on
    * shared pairs. */
  /** Query rows shaped for probing/scoring. */
  private def queriesOf(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vd").as("qv"), col("norm").as("qn"))

  /** Candidate attach + exact cosine for a precomputed per-query probe
    * set — the scoring tail shared by the top-k probe rule
    * ([[ivfScored]]) and the range-mode adaptive bound
    * ([[annRangeIvf]]). The candidate distinct is forced by
    * [[ivfAssign]] (a neighbor in two probed lists must score once). */
  private def scoreProbed(spark: SparkSession, dir: String,
                          probes: DataFrame, invlist: DataFrame): DataFrame = {
    val q = queriesOf(spark, dir)
    val cands = probes.join(invlist, Seq("cid"))
      .select("query_id", "neighbor_id").distinct()
    val c = vecs(spark, dir).filter(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"), col("vd").as("cv2"), col("norm").as("cn"))
    cands.join(q, Seq("query_id"))
      .join(c, Seq("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv2")) / (col("qn") * col("cn")))
  }

  private def ivfScored(spark: SparkSession, dir: String,
                        cents: DataFrame, invlist: DataFrame,
                        nprobe: Int): DataFrame = {
    val q = queriesOf(spark, dir)
    val wp = Window.partitionBy(col("query_id")).orderBy(col("d2").asc, col("cid").asc)
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("d2", vecDistSq(col("qv"), col("cv")))
      .withColumn("rk", row_number().over(wp))
      .filter(col("rk") <= nprobe)
      .select("query_id", "cid")
    scoreProbed(spark, dir, probes, invlist)
  }

  private def ivfSearch(spark: SparkSession, dir: String,
                        cents: DataFrame, invlist: DataFrame,
                        nprobe: Int): DataFrame =
    // rankTopK: the probed-list candidate stream (a growing corpus
    // fraction per query) partial-aggregates map-side instead of
    // shuffling into one window partition per query
    rankTopK(ivfScored(spark, dir, cents, invlist, nprobe), topK)

  /** Exact cosine RANGE search — the vector-database radius query
    * ("every corpus vector within cosine ≥ τ of each query"), the
    * retrieval dual of [[embeddingNearDup]]'s all-pairs threshold:
    * top-k answers "the best k whatever their quality", range answers
    * "everything at least this similar" — the contract dedup-by-query,
    * recommendation floors, and semantic caching actually state. The
    * tiny query side broadcasts through the same nested-loop shape as
    * [[annBruteForce]] (the corpus never shuffles), the threshold
    * filter replaces the window rank — so the plan is one scan +
    * broadcast + codegen'd filter, no shuffle at all where top-k pays
    * a per-query window. Exact and deterministic → full DuckDB hash
    * gate; result sizes are data-dependent by design (a query with no
    * neighbors above τ returns nothing — that absence is the signal). */
  /** Gate threshold for the range-search entries: the natural
    * query-corpus cosine continuum tops out ~0.39-0.49 across the
    * SFs (measured), so 0.4 (the near-dup pair threshold) is empty at
    * the smallest SF — 0.35 yields a nonzero, SF-stable qualifying
    * set everywhere. */
  val rangeMinCos = 0.35

  def annRangeExact(spark: SparkSession, dir: String,
                    minCos: Double = rangeMinCos): DataFrame = {
    val v = vecs(spark, dir)
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vd").as("qv"), col("norm").as("qn"))
    val c = v.filter(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"), col("vd").as("cv"), col("norm").as("cn"))
    q.crossJoin(c)
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .filter(col("cos") >= minCos)
      .select("query_id", "neighbor_id", "cos")
  }

  val annRangeExactSql: String = {
    val dotAB = dotSqlA.format("q.vd", "c.vd")
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, vd,
       |   sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |        list_transform(vd, x -> x*x)), (acc, x) -> acc + x)) AS norm
       |  FROM v),
       |q AS (SELECT vec_id AS query_id, vd, norm FROM n WHERE vec_id < $nQueries),
       |c AS (SELECT vec_id AS neighbor_id, vd, norm FROM n WHERE vec_id >= $nQueries)
       |SELECT q.query_id, c.neighbor_id, $dotAB/(q.norm*c.norm) AS cos
       |FROM (SELECT query_id, vd, norm FROM q) q, (SELECT neighbor_id, vd, norm FROM c) c
       |WHERE $dotAB/(q.norm*c.norm) >= $rangeMinCos""".stripMargin
  }

  /** acos with the operand clamped into [-1, 1]: fp cosine of
    * near-identical vectors can land at 1 + ulp, where a bare acos
    * returns NaN and silently drops the row from every comparison. */
  private def acosClamped(c: Column): Column =
    acos(least(lit(1.0), greatest(lit(-1.0), c)))

  /** Slack on the range-mode angle bound: the triangle inequality
    * holds for TRUE angles, while both sides here are double-precision
    * acos results — and the member angle comes through the
    * law-of-cosines identity, whose cancellation near 0° costs up to
    * ~√(2·εcos) ≈ 5e-5 rad of angle accuracy. 1e-3 rad (0.057°)
    * dominates that with two orders of margin and keeps the probed
    * set a certified superset, never excludes; the odd extra admitted
    * list only costs, emitted rows are exact-filtered. */
  val rangeAngEps = 1e-3

  /** Range-mode index — (centroids + their norms, inverted lists,
    * per-list angular radius). Per-list radius = max angle between a
    * rank-1 member and its own centroid, the one statistic the
    * exactness certificate needs (rank-1 only: every corpus vector is
    * covered by its rank-1 list; rank-2 members would only widen the
    * radius).
    *
    * PLAN-SHAPE DISCIPLINE: the centroid norm rides INSIDE the one
    * broadcast and the member angle is derived from the
    * already-computed d2 by the law-of-cosines identity
    * `cos(v,c) = (|v|² + |c|² − d2) / (2|v||c|)` — zero extra array
    * kernels in the n × k fan — so the rank-1 pass, the rank-2 pass
    * and the probe selection all consume the byte-identical
    * `broadcast(cents)` and the lists + radius both hang off ONE
    * rank-1 aggregation exchange, the same subtree count as the
    * top-k index build (an earlier cut attached centroids through a
    * cid-keyed hash join — a second exchange shape — and a per-row
    * vecNorm in the fan: 4× the kernel work). Warm same-session A/B
    * at sf10 (200k vectors): adaptive 25.1s vs the old fixed-probe
    * rule's 14.3s — the honest price of scoring the full certified
    * candidate set (candidate fraction 1.0 vs 0.57) for recall
    * 1.00 vs 0.92. */
  /** Rank-1 assignment CARRYING the member→centroid angle — the
    * radius statistic's raw signal, shared by the fused range index,
    * the persisted builds ([[ivfBuildIndexFrom]]/[[ivfpqBuildIndexFrom]])
    * and the appends' monotonic widening — ONE kernel, so a slack or
    * identity fix applied anywhere covers every producer of the
    * exactness certificate. `centsN` must carry (cid, cv, cnorm); the angle
    * derives from the already-computed d2 by the law-of-cosines
    * identity (zero extra array kernels in the n × k fan), and the
    * min-struct keeps the map-side-collapse shape ([[assignTo]]
    * rationale; ties in (d2, cid) are impossible — cid is distinct
    * per fan row — so rank-1 cids are bit-identical to assignTo's). */
  private def assignAng(points: DataFrame, centsN: DataFrame): DataFrame =
    points.crossJoin(broadcast(centsN))
      .withColumn("d2", vecDistSq(col("vd"), col("cv")))
      .withColumn("ang", acosClamped(
        (col("norm") * col("norm") + col("cnorm") * col("cnorm") - col("d2")) /
          (lit(2.0) * col("norm") * col("cnorm"))))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cid"), col("ang"), col("vd"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"),
        col("m.ang").as("ang"), col("m.vd").as("vd"))

  private def rangeIndex(spark: SparkSession, dir: String,
                         kk: Int, n: Long): (DataFrame, DataFrame, DataFrame) = {
    val corpus = vecs(spark, dir).filter(col("vec_id") >= nQueries)
      .select(col("vec_id"), col("vd"), col("norm"))
    val cents = trainCentroids(corpus, kk, n)
      .withColumn("cnorm", vecNorm(col("cv")))
    val a1 = assignAng(corpus, cents)
    val invlist = assignMultiFrom(a1.select(col("vec_id"), col("cid"), col("vd")), cents)
      .select(col("vec_id").as("neighbor_id"), col("cid"))
    val radius = a1.groupBy(col("cid")).agg(max(col("ang")).as("dev"))
    (cents, invlist, radius)
  }

  /** Range-mode probe selection — the adaptive bound rule: probe
    * list c iff `angle(q, centroid_c) ≤ arccos(τ) + radius_c + ε`,
    * i.e. exactly while the marginal list's best-POSSIBLE member
    * cosine still admits ≥ τ (angular triangle inequality:
    * a qualifying neighbor v in list c forces
    * `ang(q,c) ≤ ang(q,v) + ang(v,c) ≤ arccos τ + radius_c`).
    * Probing every list passing the test is therefore EXACT — and
    * knob-free: probe depth is decided per (query, corpus, τ) by
    * measured geometry, not a constant. Consumes centroids through
    * the same `broadcast(cents)` exchange as the index build and
    * attaches the kk-row radius by a broadcast hash join after —
    * never wrapping the Lloyd subtree in a new exchange shape. */
  private def rangeProbes(q: DataFrame, cents: DataFrame, radius: DataFrame,
                          minCos: Double): DataFrame =
    q.crossJoin(broadcast(cents))
      .withColumn("ang", acosClamped(
        dot(col("qv"), col("cv")) / (col("qn") * col("cnorm"))))
      .join(broadcast(radius), Seq("cid"))
      .filter(col("ang") <= lit(math.acos(minCos)) + col("dev") + lit(rangeAngEps))
      .select("query_id", "cid")

  /** [[annRangeExact]]'s IVF-pruned mode — EXACT by construction
    * since round 12. The round-11 version reused the top-k probe rule
    * (⌈6√k⌉ nearest lists) and its recall decayed 1.00 → 0.9891 →
    * 0.9199 across sf0.1/sf1/sf10; measured attribution showed WHY no
    * fixed rule can hold: the list rank a qualifying neighbor needs
    * scales LINEARLY with k on this corpus (max needed rank
    * 0.64k/0.77k/0.87k at the three SFs) because at τ = 0.35 the
    * query cap (~69.7°) is as wide as the lists themselves (~78°
    * angular radius) — centroid proximity carries no threshold
    * signal. The fix is the bound rule ([[rangeProbes]]): probe
    * exactly the lists whose stored angular radius still admits a
    * ≥ τ member. On THIS corpus the rule degenerates to probing all
    * lists — the certificate that no τ-respecting pruning exists
    * here — while on angularly tight corpora (the high-τ semantic-dup
    * regime this operator serves at 100 TB) it prunes to the caps'
    * intersection (spec-pinned on a clustered corpus: a fraction of
    * the lists probed, result still ≡ exact). Emitted cosines come
    * from the same kernel on the same operands as the exact twin →
    * per-pair bit-identical, and the probed set is a certified
    * superset → full DuckDB hash gate (shares [[annRangeExactSql]]).
    *
    * `probes > 0` keeps the explicit fixed-budget mode (a deliberate
    * recall/cost trade, subset-by-construction — spec-pinned). */
  def annRangeIvf(spark: SparkSession, dir: String,
                  minCos: Double = rangeMinCos,
                  k: Int = 0, probes: Int = 0): DataFrame = {
    val n = corpusN(spark, dir)
    val (kk, pp) = ivfKnobsFor(n, k, probes)
    val scored =
      if (probes > 0) {
        val (cents, invlist) = ivfIndex(spark, dir, kk, n)
        ivfScored(spark, dir, cents, invlist, pp)
      } else {
        val (cents, invlist, radius) = rangeIndex(spark, dir, kk, n)
        scoreProbed(spark, dir,
          rangeProbes(queriesOf(spark, dir), cents, radius, minCos), invlist)
      }
    scored.filter(col("cos") >= minCos)
      .select("query_id", "neighbor_id", "cos")
  }

  /** Probe-count diagnostics for the adaptive range rule — (query_id,
    * probed, lists): how many of the `lists` inverted lists the bound
    * admitted per query. The RecallAudit seat and the clustered-corpus
    * spec read pruning effectiveness from here (probed ≪ lists on
    * tight corpora; probed = lists is the no-pruning-possible
    * certificate on diffuse ones). */
  def annRangeIvfProbeStats(spark: SparkSession, dir: String,
                            minCos: Double = rangeMinCos,
                            k: Int = 0): DataFrame = {
    val n = corpusN(spark, dir)
    val (kk, _) = ivfKnobsFor(n, k, 1)
    val (cents, _, radius) = rangeIndex(spark, dir, kk, n)
    rangeProbes(queriesOf(spark, dir), cents, radius, minCos)
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("probed"))
      .withColumn("lists", lit(kk.toLong))
  }

  /** [[annRangeIvfProbeStats]] against a PREBUILT index — the audit's
    * pruning-diagnostics seat, reading the persisted per-list radius
    * the serving path consumes instead of re-paying the fused Lloyd
    * build the serving split just moved out of the measurements. */
  def annRangeIvfQueryProbeStats(spark: SparkSession, dir: String,
                                 indexDir: String,
                                 minCos: Double = rangeMinCos): DataFrame = {
    val centsN = Snapshot.read(spark, s"$indexDir/centroids")
      .withColumn("cnorm", vecNorm(col("cv")))
    val radius = Snapshot.read(spark, s"$indexDir/radius")
    val kk = centsN.count()
    rangeProbes(queriesOf(spark, dir), centsN, radius, minCos)
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("probed"))
      .withColumn("lists", lit(kk))
  }

  /** Monotonic radius widening for an append batch: max-merge each
    * arrival's rank-1 angle into the stored per-list radius. Committed
    * BEFORE any list row lands — the cross-write crash window then
    * leaves a radius wider than needed (extra probes, still exact),
    * never an indexed vector outside its list's stored radius (which
    * would silently void [[annRangeIvfQuery]]'s exactness certificate
    * for every later range query — exactly the frozen-statistic
    * staleness class the drift reports exist to catch). full_outer:
    * an arrival landing rank-1 in a previously-memberless list creates
    * that list's radius row. The stored rows and the batch's per-list
    * maxima (at most k rows each) meet on the driver in one job, and
    * the store is restaged only when an arrival lies outside its
    * list's radius or in a list without one — most appends widen
    * nothing and commit nothing. */
  private def widenRadius(spark: SparkSession, batchVecs: DataFrame,
                          indexDir: String): Unit = {
    val centsN = Snapshot.read(spark, s"$indexDir/centroids")
      .withColumn("cnorm", vecNorm(col("cv")))
    val batchRad = assignAng(
      batchVecs.select(col("vec_id"), col("vd"))
        .withColumn("norm", vecNorm(col("vd"))), centsN)
      .groupBy(col("cid")).agg(max(col("ang")).as("bdev"))
    val both = Snapshot.read(spark, s"$indexDir/radius")
      .join(batchRad, Seq("cid"), "full_outer")
      .select(col("cid"), col("dev"), col("bdev"))
    val rows = both.collect()
    def dev(r: Row, i: Int): Double = if (r.isNullAt(i)) 0.0 else r.getDouble(i)
    if (rows.exists(r => !r.isNullAt(2) && (r.isNullAt(1) || r.getDouble(2) > r.getDouble(1)))) {
      val widened = rows.toSeq.map(r => Row(r.get(0), math.max(dev(r, 1), dev(r, 2))))
      val schema = StructType(Seq(both.schema("cid"), StructField("dev", DoubleType, nullable = false)))
      Snapshot.stageReplace(spark, s"$indexDir/radius",
        spark.createDataFrame(widened.asJava, schema).coalesce(1)).commit()
    }
  }

  /** Serving half of the RANGE split (benched as `ann_range_ivf_query`):
    * [[annRangeIvf]]'s adaptive-bound radius query against a PREBUILT
    * parquet index — the exactness certificate ([[rangeProbes]]) read
    * off the persisted per-list angular radius instead of a per-call
    * fused Lloyd build (the round-12 serving-design gap: the fused
    * mode re-trained the quantizer on every call, Θ(build) per query
    * batch — 16.4s vs the exact twin's 0.9s at sf10). EXACT like the
    * fused mode: the radius certifies the probed set a superset of
    * every qualifying pair's rank-1 list, and the cosine kernel is
    * the exact twin's → shares [[annRangeExactSql]]'s full DuckDB
    * hash gate. Serves from either index family's layout (`invlist`,
    * or the IVF-PQ `codes` table's (neighbor_id, cid) pairs — range
    * mode exact-scores candidates, so the PQ codes themselves are
    * not consulted). The certificate survives appends because
    * [[ivfAppend]]/[[ivfpqAppend]] WIDEN the stored radius
    * monotonically before any list row lands ([[widenRadius]]); an
    * index without its `radius` store fails with the missing path
    * (rebuild it). Cache contract = [[annIvfQuery]]'s —
    * the default key IS annIvfQuery's, so one shared index serves
    * both the top-k and range modes. */
  def annRangeIvfQuery(spark: SparkSession, dir: String,
                       indexDir: String = "",
                       minCos: Double = rangeMinCos, k: Int = 0): DataFrame = {
    // resolve before the cache key — the annIvfQuery rule
    val (kk, _) = ivfKnobs(spark, dir, k, 1)
    val idx =
      if (indexDir.nonEmpty) indexDir
      else sys.props("java.io.tmpdir") + "/graft-ivf-" +
        graft.Tables.dirKey(dir) + s"-k$kk-a$ivfAssign-" +
        java.lang.Long.toHexString(
          graft.Tables.contentStamp(new java.io.File(s"$dir/embeddings.parquet")))
    if (!hExists(spark, s"$idx/invlist/_SUCCESS") &&
        !hExists(spark, s"$idx/codes/_SUCCESS"))
      ivfBuildIndex(spark, dir, idx, kk)
    val centsN = Snapshot.read(spark, s"$idx/centroids")
      .withColumn("cnorm", vecNorm(col("cv")))
    val radius = Snapshot.read(spark, s"$idx/radius")
    val lists =
      if (hExists(spark, s"$idx/invlist/_SUCCESS"))
        Snapshot.read(spark, s"$idx/invlist")
      else Snapshot.read(spark, s"$idx/codes").select("neighbor_id", "cid")
    scoreProbed(spark, dir,
      rangeProbes(queriesOf(spark, dir), centsN, radius, minCos), lists)
      .filter(col("cos") >= minCos)
      .select("query_id", "neighbor_id", "cos")
  }

  def annIvf(spark: SparkSession, dir: String,
             k: Int = 0, probes: Int = 0): DataFrame = {
    val n = corpusN(spark, dir)
    val (kk, pp) = ivfKnobsFor(n, k, probes)
    val (cents, invlist) = ivfIndex(spark, dir, kk, n)
    ivfSearch(spark, dir, cents, invlist, pp)
  }

  /** Materialize the IVF index to parquet (`<indexDir>/centroids`,
    * `<indexDir>/invlist`) — the build half of the deployment split: a
    * real system builds the index once and serves many query batches,
    * so fusing Lloyd iterations into every query plan (as the one-shot
    * [[annIvf]] gate entry does) pays the ~17-shuffle build on each
    * call. Parquet round-trips doubles exactly, so the split path is
    * bit-identical to the fused one (spec-pinned).
    *
    * ALSO the periodic FULL REBUILD the drift report schedules — and,
    * like [[DedupOps.rebuildIndex]], SNAPSHOT-ISOLATED against live
    * serving via [[Snapshot.stageReplace]]: every table stages
    * invisibly while the old index serves through the Lloyd passes,
    * then [[Snapshot.swap]] publishes them with `invlist` as the
    * marker table (`invlist/_SUCCESS` is what [[annIvfQuery]]'s
    * build-if-missing probe checks). A pre-swap [[annIvfQuery]]
    * construction finishes bit-identically on its pinned old
    * generation; a crash mid-swap fails the completion check, never
    * serving new lists against old centroids. The final assignment
    * reads the STAGED centroids (bit-identical — parquet round-trips
    * doubles exactly), which also spares the invlist write re-running
    * the Lloyd subtree the centroid write just materialized. */
  def ivfBuildIndex(spark: SparkSession, dir: String, indexDir: String,
                    k: Int = 0,
                    graceMs: Long = Snapshot.DefaultGraceMs): Unit =
    ivfBuildIndexFrom(spark,
      Tables(spark, dir, "embeddings")
        .filter(col("vec_id") >= nQueries).select("vec_id", "embedding"),
      indexDir, k, graceMs)

  /** [[ivfBuildIndex]] over an EXPLICIT (vec_id, embedding) corpus —
    * the rebuild entry the drift report actually schedules: the
    * re-train must cover corpus + accepted stream arrivals, which no
    * data-dir path names (the [[DedupOps.rebuildIndex]] symmetry).
    * Same snapshot-isolated staging + completion-marker swap. */
  def ivfBuildIndexFrom(spark: SparkSession, corpusVecs: DataFrame,
                        indexDir: String, k: Int = 0,
                        graceMs: Long = Snapshot.DefaultGraceMs): Unit = {
    val shaped = corpusVecs
      .select(col("vec_id"), col("embedding").as("vd"))
      .withColumn("norm", vecNorm(col("vd")))
    val n = shaped.count()
    val (kk, _) = ivfKnobsFor(n, k, ivfProbes)
    val cents = trainCentroids(shaped, kk, n)
    val rCents = Snapshot.stageReplace(spark, s"$indexDir/centroids",
      cents, graceMs = graceMs)
    // one broadcast shape for every staged assignment pass below —
    // the cnorm rides inside it (the rangeIndex discipline)
    val cReadN = rCents.staged.withColumn("cnorm", vecNorm(col("cv")))
    val corpus = shaped.select(col("vec_id"), col("vd"))
    val a1 = assignAng(shaped, cReadN)
    val rInv = Snapshot.stageReplace(spark, s"$indexDir/invlist",
      assignMultiFrom(a1.select(col("vec_id"), col("cid"), col("vd")), cReadN)
        .select(col("vec_id").as("neighbor_id"), col("cid")),
      graceMs = graceMs)
    val rIds = Snapshot.stageReplace(spark, s"$indexDir/ids",
      rInv.staged.select(col("neighbor_id").as("vec_id")).distinct()
        .withColumn("kb", DedupOps.keyBucket(col("vec_id"))),
      partitionCols = Seq("kb"), graceMs = graceMs)
    // per-list angular radius — what [[annRangeIvfQuery]]'s exactness
    // certificate reads at serving time ([[rangeProbes]]), staged from
    // the SAME staged centroids as the lists. Build-cost note: each
    // stageReplace is its own write action, so this pays one extra
    // rank-1 map-side-collapsing n × k fan over the invlist action's —
    // the build is the amortized half of the split, and the
    // alternative (materializing a1 corpus-wide) does not survive
    // 100 TB.
    val rRad = Snapshot.stageReplace(spark, s"$indexDir/radius",
      a1.groupBy(col("cid")).agg(max(col("ang")).as("dev")),
      graceMs = graceMs)
    // drift baseline for ivfDriftReport — from the staged centroids,
    // so the stats pass can't see a re-planned Lloyd
    val rDist = Snapshot.stageReplace(spark, s"$indexDir/diststats",
      distStatsOf(corpus, rCents.staged), graceMs = graceMs)
    Snapshot.swap(Seq(rCents, rIds, rRad, rDist, rInv))
  }

  /** Existence probe through the Hadoop FileSystem API (matching
    * [[Snapshot]] / the sinks' pre-kb probes) so
    * index dirs on a non-local filesystem resolve correctly — a
    * java.io.File probe always misses there, silently re-deriving the
    * membership store (or worse, rebuilding the index) every call. */
  private[graft] def hExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The append guard: batch rows whose vec_id is NOT yet in the
    * index, with the membership read PRUNED to the batch's key-hash
    * buckets — per-trigger check work is bounded by the batch's
    * bucket span (≤ [[DedupOps.keyBuckets]] dirs), never an O(index)
    * scan. Returns (vec_id, vd, kb) survivors, localCheckpointed
    * because both the list write AND the ids write consume them. */
  private def notIndexed(keyed: DataFrame, indexDir: String): DataFrame =
    DedupOps.unindexed(keyed, indexDir, "vec_id").localCheckpoint(true)

  /** Membership rows commit AFTER list rows in both appends: the
    * cross-write crash window re-appends (duplicate list rows, which
    * every search path collapses) rather than skips (silent loss). */
  private def appendIds(pts: DataFrame, indexDir: String): Unit =
    Snapshot.append(pts.select(col("vec_id"), col("kb")), s"$indexDir/ids", "kb")

  /** Output-partition count for an append of `rows` rows: one file
    * per [[appendRowsPerFile]], floor 1, capped at the upstream
    * parallelism. A micro-batch append inheriting its shuffle
    * partitioning writes ~32 near-empty files PER TRIGGER, so the
    * store crosses its compaction threshold within a handful of
    * triggers and then serves every read with retired files awaiting
    * GC in the dir while paying merge debt —
    * measured as the step-to-plateau in the sf1 vector sink curves.
    * Writing batch-sized appends (1 file per small trigger) keeps
    * the store near its floor for ~[[appendRowsPerFile]]·maxFiles
    * rows per compaction cycle instead of triggers/32×. */
  private[graft] val appendRowsPerFile = 1000000L
  private[graft] def appendParts(rows: Long): Int =
    math.max(1L, math.min(32L, rows / appendRowsPerFile + 1L)).toInt

  /** Rank-1 assignment KEEPING the min distance — the drift metric's
    * raw signal ([[assignTo]] drops d2; the search paths never need
    * it). Same min-struct map-side-collapse shape. */
  private def assignD2(points: DataFrame, cents: DataFrame): DataFrame =
    points.crossJoin(broadcast(cents))
      .withColumn("d2", vecDistSq(col("vd"), col("cv")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.d2").as("d2"))

  /** Build-time assignment-distance baseline (`diststats`, 1 row:
    * build population + p95 of rank-1 distances) — what
    * [[ivfDriftReport]] compares arrivals against. percentile_approx
    * at accuracy 10⁴: the baseline is a monitoring threshold, not a
    * result surface, and the sketch is deterministic for fixed input
    * and parameters. */
  private def distStatsOf(points: DataFrame, cents: DataFrame): DataFrame =
    assignD2(points, cents)
      .agg(count(lit(1)).as("n_build"),
        percentile_approx(col("d2"), lit(0.95), lit(10000)).as("p95_d2"))

  /** Per-vector PQ RECONSTRUCTION (ADC residual) error against frozen
    * per-subspace codebooks: Σ over subspaces of the squared distance
    * from the unit-normalized subvector to its nearest codeword —
    * exactly the error that degrades `codebooks = true` serving when
    * the RESIDUAL distribution shifts even while coarse assignment
    * stays clean. Batch × pqk work (the encode pass's cost shape).
    * The subspace sum is fixed-point-quantized before summing (the
    * [[annPq]] adist precedent): 8 doubles added in shuffle order
    * would make a monitoring threshold nondeterministic. */
  private def pqReconErr(pts: DataFrame, cb: DataFrame): DataFrame =
    subExplode(pts, "vec_id")
      .join(broadcast(cb), Seq("s"))
      .withColumn("d2", vecDistSq(col("sub"), col("cv")))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(col("d2")).as("sd2"))
      .groupBy(col("vec_id"))
      .agg((sum(floor(col("sd2") * 1e12 + 0.5).cast("long"))
        .cast("double") / 1e12).as("recon_err"))

  /** Build-time reconstruction-error baseline (`pqstats`, 1 row) —
    * what the [[ivfDriftReport]] ADC-staleness signal compares
    * arrivals against; the [[distStatsOf]] shape for the codebook
    * surface. */
  private def pqStatsOf(pts: DataFrame, cb: DataFrame): DataFrame =
    pqReconErr(pts, cb)
      .agg(count(lit(1)).as("n_build"),
        percentile_approx(col("recon_err"), lit(0.95), lit(10000))
          .as("p95_recon"))

  /** WHEN to rebuild — the scheduling half of the frozen-quantizer
    * drift contract. [[ivfAppend]]'s scaladoc says appends from a
    * drifting distribution erode recall and the periodic
    * [[ivfBuildIndex]] reconciles; this op is the trigger that tells
    * an operator the drift has actually happened, closing the
    * lifecycle loop (append → measure → rebuild) the minhash index
    * closes with [[DedupOps.rebuildIndex]].
    *
    * Three independent signals, one report row (the third only on
    * codebook-carrying indexes — see the ADC-residual block below):
    *  - DISTRIBUTION drift: the incoming batch is rank-1-assigned
    *    against the frozen centroids (batch × k work, the append's
    *    own cost shape) and `frac_beyond_p95` is the fraction landing
    *    beyond the build population's 95th-percentile distance. Same
    *    distribution → ≈0.05; a shifted distribution pushes it
    *    toward 1. `drifted` flags frac > `driftFrac` (default 0.10 =
    *    2× the build-time tail).
    *  - SIZE drift: `k_auto` re-derives the ⌈√n⌉ sizing rule from
    *    the CURRENT membership + batch; when it reaches 2× `k_built`
    *    the index is serving at half its intended list resolution
    *    and the report flags regardless of distances.
    *
    * An index without a baseline it needs (`diststats`, and `pqstats`
    * when it carries codebooks) or without its `ids` store fails with
    * the missing path — the builders write every one of them.
    * ONE Spark job per report: the centroid count, the `ids`
    * membership count, and the batch's new-id count all enter the
    * returned plan as 1-row broadcast aggregates (the scalar-subquery
    * idiom the global-total queries use) rather than separate driver
    * `count()` actions, so materializing the report row launches a
    * single job — the only pre-action is the bucket-list collect the
    * append guard also performs (batch-bounded, ≤ keyBuckets values).
    *
    * A null rank-1 distance (a malformed vector — null elements or
    * wrong width — reaching this API directly, bypassing the sink's
    * codec guard) counts as BEYOND the envelope: a vector the
    * quantizer cannot even score must never dilute
    * `frac_beyond_p95` toward "not drifted". */
  def ivfDriftReport(spark: SparkSession, indexDir: String,
                     batch: DataFrame, driftFrac: Double = 0.10,
                     memberCount: Long = -1L): DataFrame = {
    val cents = Snapshot.read(spark, s"$indexDir/centroids")
    val stats = Snapshot.read(spark, s"$indexDir/diststats")
    // k_built is the SERVING list count (what the index actually has —
    // Lloyd can land under the sizing-rule k when clusters empty);
    // the size rule compares it against ⌈√n⌉ of the post-append
    // membership, counting only genuinely NEW batch ids (a replayed
    // batch must not inflate n) via the same bucket-pruned anti-join
    // the append guard uses.
    val kBuiltDf = cents.agg(count(lit(1)).cast("int").as("k_built"))
    val keyed = batch.select(col("vec_id"))
      .withColumn("kb", DedupOps.keyBucket(col("vec_id")))
    // the membership TOTAL is the one input whose default derivation
    // is not batch-shaped: counting the ids store reads a file count
    // that grows with trigger history between compactions (measured
    // as the climbing tail in the sf1 vector-drift sink curve). A
    // per-trigger caller passes `memberCount` — resolved once at
    // stream start, advanced by each append's return — so the
    // report's own cost stays purely batch-shaped; the -1 default
    // derives it from the store for one-shot callers.
    val nIdxDf =
      if (memberCount >= 0L)
        spark.range(1).select(lit(memberCount).as("_n_indexed"))
      else Snapshot.read(spark, s"$indexDir/ids")
        .agg(count(lit(1)).as("_n_indexed"))
    val nNewDf = DedupOps.unindexed(keyed, indexDir, "vec_id")
      .agg(count(lit(1)).as("_n_new"))
    // ADC-RESIDUAL staleness (codebook-carrying indexes only): the
    // batch's unit-normalized vectors are PQ-reconstruction-scored
    // against the frozen codebooks and compared to the build-time
    // `pqstats` envelope — the signal that catches a residual shift
    // the coarse quantizer tolerates (centroid distances clean while
    // every codeword misfits), which is exactly what silently erodes
    // `codebooks = true` serving quality.
    val reconDf: Option[DataFrame] =
      if (!hExists(spark, s"$indexDir/codebook/_SUCCESS")) None
      else {
        val pq = Snapshot.read(spark, s"$indexDir/pqstats")
          .select(col("p95_recon"))
        val batchVn = batch
          .select(col("vec_id"), col("embedding").as("vd"))
          .withColumn("norm", vecNorm(col("vd")))
          .withColumn("vn", transform(col("vd"), x => x / col("norm")))
          .select(col("vec_id"), col("vn"))
        Some(pqReconErr(batchVn, Snapshot.read(spark, s"$indexDir/codebook"))
          .crossJoin(broadcast(pq))
          .agg(
            avg(when(col("recon_err").isNull ||
                col("recon_err") > col("p95_recon"), 1.0)
              .otherwise(0.0)).as("frac_beyond_p95_recon"),
            first(col("p95_recon")).as("p95_recon")))
      }
    // drift measures the WHOLE batch (a redelivered vector scoring
    // in-envelope is correct — redelivery is not drift)
    val base = assignD2(batch.select(col("vec_id"), col("embedding").as("vd")), cents)
      .crossJoin(broadcast(stats))
      .agg(count(lit(1)).as("n_batch"),
        avg(when(col("d2").isNull || col("d2") > col("p95_d2"), 1.0)
          .otherwise(0.0)).as("frac_beyond_p95"),
        first(col("p95_d2")).as("p95_d2"))
      .crossJoin(broadcast(kBuiltDf))
      .crossJoin(broadcast(nIdxDf))
      .crossJoin(broadcast(nNewDf))
    val withRecon = reconDf.fold(
      base.withColumn("frac_beyond_p95_recon", lit(null).cast("double"))
        .withColumn("p95_recon", lit(null).cast("double")))(r =>
      base.crossJoin(broadcast(r)))
    withRecon
      .withColumn("k_auto",
        greatest(lit(ivfK),
          ceil(sqrt(col("_n_indexed") + col("_n_new"))).cast("int")))
      .withColumn("drifted",
        // coalesce: an empty batch has a null frac (avg over zero
        // rows) — report "not drifted" rather than a null verdict
        // that would NPE a Boolean reader; a null recon frac (no
        // codebooks) likewise never flags
        coalesce(col("frac_beyond_p95") > lit(driftFrac), lit(false)) ||
          coalesce(col("frac_beyond_p95_recon") > lit(driftFrac), lit(false)) ||
          col("k_auto") >= col("k_built") * 2)
      .drop("_n_indexed", "_n_new")
  }

  /** Incremental append to a parquet IVF index — the frozen-QUANTIZER
    * analogue of the frozen-universe minhash append
    * ([[DedupOps.incrementalIndexUpdate]]): new vectors are assigned
    * against the EXISTING centroids (read from the index, never
    * re-trained) by the same [[assignMulti]] pass the builder runs,
    * so an appended vector's list rows are bit-identical to what a
    * fresh assignment under the same quantizer would produce
    * (spec-pinned). Per-batch cost is batch × k — never a corpus
    * pass; a streaming embedding ingester calls this per trigger
    * where it previously had to full-rebuild.
    *
    * Already-indexed vec_ids are skipped via the index's `ids`
    * membership store — [[DedupOps.keyBucket]]-partitioned, read
    * PRUNED to the incoming batch's key-hash buckets, so the check
    * is bounded by the batch's bucket span (≤ keyBuckets dirs), not
    * by index history (the minhash index's `ids` layout, checked
    * through [[DedupOps.unindexed]]; an index without `ids` fails
    * with the missing path). A replayed batch is therefore a no-op —
    * and even WITHOUT the guard a duplicate append cannot corrupt results,
    * because every search path collapses duplicate candidates
    * (ivfSearch's pair distinct, the IVF-PQ per-subspace min):
    * duplicates cost index bytes, not correctness. A crashed append
    * commits nothing (parquet job commit is all-or-nothing), so the
    * retry re-appends cleanly; ids commit AFTER list rows, so the
    * cross-write crash window re-appends (duplicates) rather than
    * skips (loss).
    *
    * Drift contract, exactly the minhash index's: the quantizer is
    * FROZEN at build time, so appends from a drifting distribution
    * land in increasingly ill-fitting lists (and k stops matching
    * ⌈√n⌉ as n grows) — recall erodes, correctness does not. The
    * periodic [[ivfBuildIndex]] over the grown corpus is the rebuild
    * that re-trains and re-sizes (spec: rebuild restores the auto-k
    * layout); [[Maintenance.compactTable]] over `invlist` compacts
    * the per-append small files with bit-identical search results. */
  def ivfAppend(spark: SparkSession, batch: DataFrame, indexDir: String): Long = {
    require(hExists(spark, s"$indexDir/invlist/_SUCCESS"),
      s"$indexDir is not a complete IVF index (crashed mid-rebuild? " +
        "re-run ivfBuildIndex)")
    val cents = Snapshot.read(spark, s"$indexDir/centroids")
    val pts = notIndexed(
      batch.select(col("vec_id"), col("embedding").as("vd"))
        .withColumn("kb", DedupOps.keyBucket(col("vec_id"))),
      indexDir)
    val nNew = pts.count() // checkpointed — cheap; sizes the writes too
    // radius widens BEFORE any list row lands (see widenRadius for
    // the crash-ordering argument)
    if (nNew > 0) widenRadius(spark, pts, indexDir)
    Snapshot.append(assignMulti(pts.select(col("vec_id"), col("vd")), cents)
      .select(col("vec_id").as("neighbor_id"), col("cid"))
      .coalesce(appendParts(nNew * ivfAssign)), s"$indexDir/invlist")
    appendIds(pts.coalesce(appendParts(nNew)), indexDir)
    // genuinely-new count — what a per-trigger caller adds to its
    // running membership total
    nNew
  }

  /** Query half of the deployment split: nprobe search against a
    * parquet IVF index, building it first only if absent. The query
    * plan reads the (cluster-wide tiny) centroids as a broadcast and
    * joins the inverted lists without ever re-running Lloyd — the
    * steady-state serving cost, benched as `ann_ivf_query`.
    *
    * The default cache location is keyed by the data dir (hash-
    * qualified — see [[graft.Tables.dirKey]]), by `k` (a k=256 call
    * never silently serves a k=16 index), and by a CONTENT STAMP of
    * the embeddings files (per-file name/length/mtime terms, the same
    * freshness signal the spool line-count cache uses, chained with a
    * non-commutative name-folded mix so reordered or equal-stat part
    * files can't cancel out) — regenerating
    * the data at the same path invalidates the cache instead of
    * silently serving neighbors from the old corpus. An EXPLICIT
    * `indexDir` is the caller's contract: they own its lifecycle and
    * must rebuild when the source data or k changes — the
    * build-if-missing probe only checks existence, exactly like any
    * versioned index a serving system manages. (Single builder per
    * index assumed, as with any unmanaged index directory.) */
  def annIvfQuery(spark: SparkSession, dir: String,
                  indexDir: String = "", k: Int = 0,
                  probes: Int = 0): DataFrame = {
    // resolve BEFORE the cache key: an auto-sized k must key the cache
    // with its resolved value, or a corpus regeneration that changes n
    // could serve an index built for the old k
    val (kk, pp) = ivfKnobs(spark, dir, k, probes)
    val idx =
      if (indexDir.nonEmpty) indexDir
      else sys.props("java.io.tmpdir") + "/graft-ivf-" +
        graft.Tables.dirKey(dir) + s"-k$kk-a$ivfAssign-" +
        java.lang.Long.toHexString(
          graft.Tables.contentStamp(new java.io.File(s"$dir/embeddings.parquet")))
    if (!hExists(spark, s"$idx/invlist/_SUCCESS"))
      ivfBuildIndex(spark, dir, idx, kk)
    ivfSearch(spark, dir,
      Snapshot.read(spark, s"$idx/centroids"),
      Snapshot.read(spark, s"$idx/invlist"), pp)
  }

  /** PQ (product quantization) ANN — the memory-compression scale path:
    * unit-normalized vectors are split into [[pqSub]] subspaces of
    * [[pqDims]] dims; each subspace gets a [[pqK]]-entry codebook
    * (seeded by the lowest corpus ids, one Lloyd pass with fixed-point
    * means), so a corpus vector stores as pqSub small codes — 8 bytes
    * instead of 256 (32× compression; at 100 TB the codes fit in
    * memory when the floats cannot). Queries score candidates with
    * asymmetric distance (per-subspace lookup tables, broadcast —
    * unit vectors make L2² = 2−2·cos, monotone in cosine), keep the
    * top [[pqRerank]], and re-rank those exactly — so emitted cosines
    * are exact and recall is the only approximation. Rows-only gate +
    * recall spec, like the other ANN variants. */
  val pqSub = 8
  val pqDims = 8

  /** Floor for the per-subspace codebook size. Code resolution ALSO
    * auto-scales with the corpus: pqK = clamp(n/8, 16, 256) — a
    * 4-bit book (16 entries) quantizes a dense corpus so coarsely
    * that ADC ranking degrades no matter how large the re-rank pool
    * gets, while 256 entries is the standard 8-bit PQ byte code and
    * the natural ceiling (one byte per subspace; a bigger book stops
    * compressing). The ramp is n/8, not the earlier n/64: on the
    * weak-neighbor corpus the mid-scale books were the measured ADC
    * bottleneck (sf0.1's 31-entry books held PQ recall to 0.50 while
    * the same rerank pool with ~248-entry books measures 1.00), and
    * a book is only ever ADC-ranking resolution — the exact re-rank
    * restores true cosines, so a small-corpus book that "overfits"
    * its own corpus costs nothing. Past n = 2048 the cap binds and
    * the ramp is irrelevant; training stays bounded either way
    * ([[quantizerTrainCap]]). */
  val pqK = 16
  val pqKCap = 256

  private def pqKFor(n: Long): Int =
    math.max(pqK.toLong, math.min(pqKCap.toLong, n / 8L)).toInt

  /** Bound on quantizer TRAINING population (PQ codebooks and the IVF
    * coarse quantizer's Lloyd iterations): training cost is
    * train-rows × k per pass, which stops scaling when the corpus
    * does — so past the cap, the iterations run on a deterministic
    * id-hash thinning (~this many vectors) whose books/centroids are
    * statistically equivalent (quantizer training converges on far
    * smaller samples than this; offline systems train the same way).
    * The FINAL assignment/encode still covers the FULL corpus — that
    * n × k pass is inherent to building an inverted/coded index.
    * Inactive at the test SFs (n < cap), so gates are unaffected. */
  val quantizerTrainCap = 1L << 18

  /** Deterministic ≤ ~[[quantizerTrainCap]]-row training slice. */
  private def trainSlice(df: DataFrame, n: Long): DataFrame = {
    val step = math.max(1L, n / quantizerTrainCap)
    if (step == 1L) df
    else df.filter(pmod(xxhash64(col("vec_id")), lit(step)) === 0)
  }

  /** Floor for the exact re-rank pool. The pool AUTO-SCALES with the
    * corpus (n/10, floored at 200, capped at [[pqRerankCap]]): coarse
    * codes rank approximately, so a FIXED pool shrinks relative to
    * list density and recall decays — measured at sf1 the original
    * fixed 50 held PQ recall to 0.22, and the n/100 ramp's 199-row
    * pool to 0.92 where n/10's capped 1000 measures 1.00. The floor
    * is 200 because the tiny-corpus end is where the ADC ranking is
    * least trustworthy (sf0.01's rerank-50 pool measured 0.84 against
    * 1.00 at 200; 200 exact scorings per query is noise). The cap
    * bounds per-query re-rank cost at serving scale. Cap history: the
    * original 1000 left ann_ivfpq_query at sf10 recall 0.90 — AT the
    * spec floor with zero margin (the 8-bit books stop ramping past
    * n = 2048, so at 100× the fixed-resolution ADC ranking needs a
    * deeper exact pass to recover the same true-neighbor mass);
    * 2000 re-measured 0.94/1.00/1.00 at sf10/sf1/sf0.1 with the
    * serving wall flat (the re-rank is a candidate-sized broadcast
    * join — 2k exact cosines per query is noise next to the probed
    * list scan). */
  val pqRerank = 200
  val pqRerankCap = 2000

  private def rerankFor(n: Long): Int =
    math.max(pqRerank.toLong, math.min(pqRerankCap.toLong, n / 10L)).toInt

  /** Subspace slices of unit-normalized vectors: (id, s, sub). */
  private def subExplode(df: DataFrame, idAs: String): DataFrame =
    df.select(col("vec_id").as(idAs), col("vn"),
        explode(sequence(lit(0), lit(pqSub - 1))).as("s"))
      .select(col(idAs), col("s"),
        slice(col("vn"), col("s") * pqDims + 1, lit(pqDims)).as("sub"))

  /** PQ training + encoding over a unit-normalized corpus (shared by
    * the one-shot [[annPq]] and the [[ivfpqBuildIndex]] build half):
    * per-subspace codebooks seeded from the `k` lowest-id vectors,
    * one Lloyd pass with fixed-point means, then the corpus encoded
    * against the trained books. Returns (codebook (s, cid, cv),
    * codes (vec_id, s, cid)). */
  /** Per-(vector, subspace) nearest codebook entry — argmin over the
    * k codebook entries as a min-struct aggregate (the assignTo
    * rationale): map-side partial aggregation collapses the k-way
    * broadcast-join fan-out before any shuffle — at pqK = 256 the old
    * row_number window sorted corpus × 256 rows. Ordering (d2, cid)
    * is bit-identical to the window's. ONE code path shared by the
    * full build and [[ivfpqAppend]] (frozen-codebook encoding). */
  private def pqAssign(pts: DataFrame, cb: DataFrame): DataFrame =
    pts.join(broadcast(cb), Seq("s"))
      .withColumn("d2", vecDistSq(col("sub"), col("cv")))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(struct(col("d2"), col("cid"))).as("m"), first(col("sub")).as("sub"))
      .select(col("vec_id"), col("s"), col("m.cid").as("cid"), col("sub"))

  private def pqEncode(corpus: DataFrame, k: Int, n: Long): (DataFrame, DataFrame) = {
    val subCorpus = subExplode(corpus, "vec_id")
    val train = trainSlice(subCorpus, n)
    val seed: DataFrame = subExplode(
      corpus.orderBy(col("vec_id")).limit(k), "cid")
      .select(col("s"), col("cid"),
        transform(col("sub"), x => x.cast("double")).as("cv"))

    // one Lloyd pass per subspace over the TRAINING slice (fixed-point
    // means, bounded state); the final encode covers the full corpus
    val cb = meanVectors(
      pqAssign(train, seed).select(col("s"), col("cid"), col("sub").as("v")),
      Seq("s", "cid"))
    (cb, pqAssign(subCorpus, cb).select(col("vec_id"), col("s"), col("cid")))
  }

  def annPq(spark: SparkSession, dir: String): DataFrame = {
    // scan fan-out (Tables.fanned rationale): the two pqAssign passes
    // and the ADC join are all map-side kernels off this one scan
    val v = graft.Tables.fanOut(spark, vecs(spark, dir))
      .withColumn("vn", transform(col("vd"), x => x / col("norm")))
    val corpus = v.filter(col("vec_id") >= nQueries)
    val nCorpus = corpus.count()
    val rerank = rerankFor(nCorpus)
    val (cb, codes) = pqEncode(corpus, pqKFor(nCorpus), nCorpus)

    // asymmetric distance: per-(query, subspace, code) lookup tables
    val q = v.filter(col("vec_id") < nQueries)
    val dt = subExplode(q, "query_id")
      .join(broadcast(cb), Seq("s"))
      .select(col("query_id"), col("s"), col("cid"),
        vecDistSq(col("sub"), col("cv")).as("d2"))
    // fixed-point sum: 8 doubles added in shuffle order would make the
    // candidate cutoff nondeterministic under AQE re-plans (same class
    // of bug qmean exists to prevent); quantized long sums are exact
    // and order-independent, and 1e-12 resolution cannot reorder
    // distinct d2 sums. Cutoff via keepKSmallest: the corpus × queries
    // adist stream partial-aggregates map-side (≤ rerank rows per
    // (mapper, query)) instead of shuffling n·queries rows into one
    // window partition per query and sorting each in full — the ADC
    // candidate mass before the re-rank never crosses the wire.
    val cands = keepKSmallest(
      codes.join(broadcast(dt), Seq("s", "cid"))
        .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
        .agg(sum(floor(col("d2") * 1e12 + 0.5).cast("long")).as("adist")),
      rerank)

    // exact re-rank of the PQ candidates
    val qv = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vd").as("qv"), col("norm").as("qn"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("vd").as("cv2"), col("norm").as("cn"))
    rankTopK(
      cands.join(qv, Seq("query_id")).join(c, Seq("neighbor_id"))
        .withColumn("cos", dot(col("qv"), col("cv2")) / (col("qn") * col("cn"))),
      topK)
  }

  /** IVF-PQ composed index — the billion-scale serving layout (FAISS
    * IVFPQ shape): the IVF coarse quantizer restricts each query to
    * `nprobe` inverted lists, and the vectors INSIDE those lists are
    * stored as PQ codes, so the list scan reads 8-byte codes instead
    * of 256-byte floats. At 100 TB neither half suffices alone — IVF
    * without PQ still stores full vectors in the lists; PQ without IVF
    * still scans every code for every query. Composed, a query touches
    * (nprobe/k) of the corpus at 32× compression.
    *
    * Encoding choice: codes quantize the unit-normalized vectors
    * directly (the [[annPq]] codebooks) rather than per-list residuals.
    * Classic IVF-PQ encodes `v − centroid` for extra precision, but
    * residual codebooks make the query's distance tables depend on the
    * probed centroid (nprobe table builds per query); direct encoding
    * keeps the tables query-only — built once, broadcast once — and
    * the exact re-rank restores precision at the end anyway. A
    * deployment that needs residual encoding swaps the encode/table
    * steps; the index layout is unchanged.
    *
    * Index on parquet: `centroids` (cid, cv), `codebook` (s, cid, cv),
    * `codes` (neighbor_id, cid, s, code) — built once ([[ivfpqBuildIndex]]),
    * served many times ([[annIvfPqQuery]]). */
  def ivfpqBuildIndex(spark: SparkSession, dir: String, indexDir: String,
                      k: Int = 0,
                      graceMs: Long = Snapshot.DefaultGraceMs): Unit =
    ivfpqBuildIndexFrom(spark,
      Tables(spark, dir, "embeddings")
        .filter(col("vec_id") >= nQueries).select("vec_id", "embedding"),
      indexDir, k, graceMs)

  /** [[ivfpqBuildIndex]] over an EXPLICIT (vec_id, embedding) corpus —
    * the IVF-PQ rebuild the drift report schedules (corpus + accepted
    * arrivals), the [[ivfBuildIndexFrom]] symmetry. */
  def ivfpqBuildIndexFrom(spark: SparkSession, corpusVecs: DataFrame,
                          indexDir: String, k: Int = 0,
                          graceMs: Long = Snapshot.DefaultGraceMs): Unit = {
    val shaped = corpusVecs
      .select(col("vec_id"), col("embedding").as("vd"))
      .withColumn("norm", vecNorm(col("vd")))
    val n = shaped.count()
    val (kResolved, _) = ivfKnobsFor(n, k, ivfProbes)
    val cents = trainCentroids(shaped, kResolved, n)
    val corpus = shaped
      .withColumn("vn", transform(col("vd"), x => x / col("norm")))
    val (cb, pqCodes) = pqEncode(corpus, pqKFor(n), n)

    // snapshot-isolated build/rebuild — the [[ivfBuildIndex]] shape:
    // stage everything (downstream tables from staged upstream data),
    // then swap with `codes` as the marker table (codes/_SUCCESS is
    // the [[annIvfPqQuery]] build-if-missing probe)
    val rCents = Snapshot.stageReplace(spark, s"$indexDir/centroids",
      cents, graceMs = graceMs)
    val cRead = rCents.staged
    val invlist = assignMulti(
      corpus.select(col("vec_id"), col("vd")), cRead)
      .select(col("vec_id").as("neighbor_id"), col("cid"))
    val rCb = Snapshot.stageReplace(spark, s"$indexDir/codebook",
      cb, graceMs = graceMs)
    val rCodes = Snapshot.stageReplace(spark, s"$indexDir/codes",
      pqCodes
        .select(col("vec_id").as("neighbor_id"), col("s"), col("cid").as("code"))
        .join(invlist, Seq("neighbor_id")),
      graceMs = graceMs)
    val rIds = Snapshot.stageReplace(spark, s"$indexDir/ids",
      rCodes.staged.select(col("neighbor_id").as("vec_id")).distinct()
        .withColumn("kb", DedupOps.keyBucket(col("vec_id"))),
      partitionCols = Seq("kb"), graceMs = graceMs)
    // per-list angular radius — the [[ivfBuildIndexFrom]] twin, so
    // [[annRangeIvfQuery]] serves exact range queries off this
    // layout too (candidates exact-score from the data dir's floats;
    // the codes aren't consulted by range mode)
    val rRad = Snapshot.stageReplace(spark, s"$indexDir/radius",
      assignAng(shaped, cRead.withColumn("cnorm", vecNorm(col("cv"))))
        .groupBy(col("cid")).agg(max(col("ang")).as("dev")),
      graceMs = graceMs)
    // drift baselines: coarse-assignment distances (diststats, the
    // IVF surface) AND per-vector reconstruction error against the
    // staged codebooks (pqstats, the ADC surface — residual drift
    // erodes `codebooks = true` serving even when coarse assignment
    // stays clean, so it gets its own baseline and report signal)
    val rDist = Snapshot.stageReplace(spark, s"$indexDir/diststats",
      distStatsOf(corpus.select(col("vec_id"), col("vd")), cRead),
      graceMs = graceMs)
    val rPq = Snapshot.stageReplace(spark, s"$indexDir/pqstats",
      pqStatsOf(corpus.select(col("vec_id"), col("vn")), rCb.staged),
      graceMs = graceMs)
    Snapshot.swap(Seq(rCents, rCb, rIds, rRad, rDist, rPq, rCodes))
  }

  /** [[ivfAppend]] for the composed IVF-PQ index: new vectors are
    * coarse-assigned against the frozen centroids AND encoded against
    * the frozen per-subspace codebooks ([[pqAssign]], the builder's
    * own encode pass), appending (neighbor_id, s, code, cid) rows to
    * `codes`. Same idempotency (anti-join skip + duplicate-safe
    * search), same drift contract (periodic [[ivfpqBuildIndex]]
    * re-trains books and quantizer; compaction over `codes`).
    * Returns the genuinely-new count, the [[ivfAppend]] contract. */
  def ivfpqAppend(spark: SparkSession, batch: DataFrame, indexDir: String): Long = {
    require(hExists(spark, s"$indexDir/codes/_SUCCESS"),
      s"$indexDir is not a complete IVF-PQ index (crashed mid-rebuild? " +
        "re-run ivfpqBuildIndex)")
    val cents = Snapshot.read(spark, s"$indexDir/centroids")
    val cb = Snapshot.read(spark, s"$indexDir/codebook")
    val pts = notIndexed(
      batch
        .select(col("vec_id"), col("embedding").as("vd"), vecNorm(col("embedding")).as("norm"))
        .withColumn("vn", transform(col("vd"), x => x / col("norm")))
        .withColumn("kb", DedupOps.keyBucket(col("vec_id"))),
      indexDir)
    val nNew = pts.count() // checkpointed — cheap; sizes the writes
    // radius widens BEFORE any code row lands (see widenRadius)
    if (nNew > 0) widenRadius(spark, pts, indexDir)
    val inv = assignMulti(pts.select(col("vec_id"), col("vd")), cents)
      .select(col("vec_id").as("neighbor_id"), col("cid"))
    Snapshot.append(pqAssign(subExplode(pts, "vec_id"), cb)
      .select(col("vec_id").as("neighbor_id"), col("s"), col("cid").as("code"))
      .join(inv, Seq("neighbor_id"))
      .coalesce(appendParts(nNew * ivfAssign * pqSub)), s"$indexDir/codes")
    appendIds(pts.coalesce(appendParts(nNew)), indexDir)
    nNew
  }

  /** Query half of the IVF-PQ split (benched as `ann_ivfpq_query`).
    * Serving plan: centroids broadcast → probe selection per query;
    * the query's PQ distance tables (pqSub × pqK floats per query —
    * tiny) broadcast; the codes scan is filtered to probed (query,
    * cid) lists by the broadcast probe set, scored by table lookup,
    * partially aggregated map-side; only candidate (query, neighbor)
    * sums shuffle. Exact re-rank of the top [[pqRerank]] restores
    * exact cosines. The corpus float vectors are touched ONLY by the
    * re-rank's candidate broadcast-join — never shuffled, never
    * scanned beyond the probed candidates' rows.
    *
    * Index cache contract mirrors [[annIvfQuery]]: default location
    * keyed by data-dir hash + k + embeddings content stamp; explicit
    * `indexDir` is caller-owned. */
  def annIvfPqQuery(spark: SparkSession, dir: String,
                    indexDir: String = "", k: Int = 0,
                    probes: Int = 0): DataFrame = {
    // resolve before the cache key — the annIvfQuery rule; one count
    // sizes the quantizer knobs AND the re-rank pool. EVERY knob that
    // shapes the on-disk index belongs in the key: pqK is in there
    // because an auto-ramped codebook size served from an index built
    // at the old resolution is exactly the stale-index class the
    // content stamp exists to prevent.
    val n = corpusN(spark, dir)
    val (kk, pp) = ivfKnobsFor(n, k, probes)
    val rerank = rerankFor(n)
    val pqk = pqKFor(n)
    val idx =
      if (indexDir.nonEmpty) indexDir
      else sys.props("java.io.tmpdir") + "/graft-ivfpq-" +
        graft.Tables.dirKey(dir) + s"-k$kk-a$ivfAssign-pq$pqk-" +
        java.lang.Long.toHexString(
          graft.Tables.contentStamp(new java.io.File(s"$dir/embeddings.parquet")))
    if (!hExists(spark, s"$idx/codes/_SUCCESS"))
      ivfpqBuildIndex(spark, dir, idx, kk)
    val cents = Snapshot.read(spark, s"$idx/centroids")
    val cb = Snapshot.read(spark, s"$idx/codebook")
    val codes = Snapshot.read(spark, s"$idx/codes")

    val v = vecs(spark, dir)
      .withColumn("vn", transform(col("vd"), x => x / col("norm")))
    val q = v.filter(col("vec_id") < nQueries)

    // probe selection: nprobe nearest coarse centroids per query
    val wp = Window.partitionBy(col("query_id")).orderBy(col("d2").asc, col("cid").asc)
    val probeSet = q.select(col("vec_id").as("query_id"), col("vd").as("qv"), col("norm").as("qn"))
      .crossJoin(broadcast(cents))
      .withColumn("d2", vecDistSq(col("qv"), col("cv")))
      .withColumn("rk", row_number().over(wp))
      .filter(col("rk") <= pp)
      .select("query_id", "cid")

    // query distance tables: one per (query, subspace, code) — global
    // codebooks, so built once per query and broadcast
    val dt = q.select(col("vec_id").as("query_id"), col("vn"),
        explode(sequence(lit(0), lit(pqSub - 1))).as("s"))
      .select(col("query_id"), col("s"),
        slice(col("vn"), col("s") * pqDims + 1, lit(pqDims)).as("sub"))
      .join(broadcast(cb), Seq("s"))
      .select(col("query_id"), col("s"), col("cid").as("code"),
        vecDistSq(col("sub"), col("cv")).as("d2"))

    // scan only the probed lists; fixed-point adist sums (see annPq).
    // The first groupBy level collapses multi-assignment duplicates —
    // a neighbor whose [[ivfAssign]] lists are BOTH probed arrives
    // once per probed cid, and summing both copies would double its
    // distance; min over identical d2 values is an exact dedup and
    // both levels keep map-side partial aggregation. Cutoff via
    // keepKSmallest (see annPq): the probed-list adist stream ships
    // ≤ rerank rows per (mapper, query), no per-query window sort.
    val cands = keepKSmallest(
      codes.join(broadcast(probeSet), Seq("cid"))
        .join(broadcast(dt), Seq("query_id", "s", "code"))
        .groupBy(col("query_id"), col("neighbor_id"), col("s"))
        .agg(min(col("d2")).as("d2"))
        .groupBy(col("query_id"), col("neighbor_id"))
        .agg(sum(floor(col("d2") * 1e12 + 0.5).cast("long")).as("adist")),
      rerank)

    val qv = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vd").as("qv"), col("norm").as("qn"))
    val c = v.filter(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"), col("vd").as("cv2"), col("norm").as("cn"))
    rankTopK(
      cands.join(qv, Seq("query_id")).join(c, Seq("neighbor_id"))
        .withColumn("cos", dot(col("qv"), col("cv2")) / (col("qn") * col("cn"))),
      topK)
  }

  /** Nearest-centroid classification: per-label centroids (fixed-point
    * [[qmean]] → order-independent, bounded per-group state), broadcast
    * to every vector, argmin distance with label tie-break.
    *
    * The argmin is a MIN-STRUCT AGGREGATE (the [[assignTo]] idiom),
    * not a row_number window: partial aggregation collapses the
    * vector × centroids fan map-side, so nothing n·k-sized ever
    * shuffles or sorts. min(struct(dist2, clabel)) orders by dist2
    * then clabel — bit-identical to the window's (dist2 asc, clabel
    * asc) rank-1 row; first(label) is deterministic (every fan row of
    * a vector carries the same label). */
  def knnCentroid(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    val cent = meanVectors(v.select(col("label"), col("vd").as("v")), Seq("label"))
      .select(col("label").as("clabel"), col("cv"))
    v.select(col("vec_id"), col("label"), col("vd"))
      .crossJoin(broadcast(cent))
      .withColumn("dist2", vecDistSq(col("vd"), col("cv")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist2"), col("clabel"))).as("m"),
        first(col("label")).as("label"))
      .select(col("vec_id"), col("label"), col("m.clabel").as("pred_label"),
        (col("label") === col("m.clabel")).as("correct"))
  }

  val knnCentroidSql: String =
    s"""WITH v AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
      |  FROM embeddings),
      |e AS (
      |  SELECT vec_id, label, generate_subscripts(vd, 1) AS dim, unnest(vd) AS x
      |  FROM v),
      |c AS (
      |  SELECT label, dim, ${qmeanSql("x")} AS cx
      |  FROM e GROUP BY label, dim),
      |cent AS (SELECT label AS clabel, list(cx ORDER BY dim) AS cv FROM c GROUP BY label),
      |d AS (
      |  SELECT v.vec_id, v.label, cent.clabel,
      |   list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |     list_transform(list_zip(v.vd, cent.cv), s -> (s[1]-s[2])*(s[1]-s[2]))),
      |     (a, b) -> a + b) AS dist2
      |  FROM v, cent),
      |r AS (
      |  SELECT vec_id, label, clabel,
      |   row_number() OVER (PARTITION BY vec_id ORDER BY dist2, clabel) AS rk
      |  FROM d)
      |SELECT vec_id, label, clabel AS pred_label, (label = clabel) AS correct
      |FROM r WHERE rk = 1""".stripMargin
}
