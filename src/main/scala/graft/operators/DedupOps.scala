package graft.operators

import graft.Tables
import graft.functions.TextKernels.distinctShingles3
import graft.functions.Texts._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection over `documents` — the LLM-training-data
  * dedup suite: exact n-gram Jaccard via a prefix-filtered set-
  * similarity join, and MinHash+LSH candidate generation with exact
  * verification.
  *
  * Scale design:
  *  - Shingling/minhashing are narrow map-side work.
  *  - A two-part frequency cap bounds inverted-index skew
  *    deterministically (the oracle applies the identical predicate):
  *    a RELATIVE share cap (drop shingles in > 1/[[maxDfShareDenom]]
  *    of the corpus — an absolute-only constant would silently drop
  *    every boilerplate shingle at 10⁹ docs and gut recall for
  *    template-heavy near-dups) AND an absolute bucket ceiling
  *    ([[maxDfCeiling]]) so no single shingle's inverted list can
  *    drive Σ bucket² toward n² regardless of corpus size.
  *  - Exact path = PREFIX FILTER (SSJoin/PPJoin): under a global
  *    (df, shingle) order, a pair with J ≥ t must share an element in
  *    each doc's first n − ⌈t·n⌉ + 1 shingles. Only those prefixes are
  *    indexed, so the candidate join touches the rarest ~20% of each
  *    doc's shingles instead of enumerating every co-occurrence. The
  *    survivors are verified with the exact Jaccard.
  *  - MinHash path: 16 bands × 8 rows over 128 hashes; a J=0.98 pair
  *    collides with probability 1−4e-14 while J=0.4 noise survives
  *    ~1% of the time. Candidates are verified exactly, so the ORACLE
  *    IS THE SAME exact-pair SQL — LSH only prunes the search space.
  */
object DedupOps {

  /** Shingle df cap denominator: drop shingles present in more than
    * corpus_docs / maxDfShareDenom documents (i.e. > 20% of the
    * corpus). Pure-integer predicate `df * denom <= n_docs` so the
    * DuckDB oracle is bit-identical with no float/ceil mismatch. */
  val maxDfShareDenom = 5

  /** Absolute ceiling on shingle document frequency, alongside the
    * relative share cap: the share cap governs RECALL (don't drop
    * boilerplate evidence just because the corpus grew), but on its
    * own it stops bounding inverted-index bucket size — at 10⁹ docs a
    * 19%-share shingle is a 2·10⁸-row bucket and the candidate join's
    * Σ bucket² cost degrades toward n². The ceiling bounds per-bucket
    * work regardless of corpus size; a deployment sizes it to the
    * largest tolerable bucket² (default 100k → ≤5·10⁹ candidate pairs
    * per hot shingle, spread across tasks). Inactive at test SFs
    * (max observed df is 25 at sf0.1), so oracle results are
    * unchanged; the oracle applies the identical two-part predicate. */
  val maxDfCeiling = 100000
  val threshold = 0.8      // near-dup Jaccard threshold
  val numHashes = 128
  val numBands = 16        // × 8 rows per band
  val rowsPerBand = 8

  /** Exploded (doc_id, shingle) pairs over the df-capped universe.
    * The corpus doc count enters as a SCALAR SUBQUERY (never a driver
    * collect), so the cap scales with the corpus: the 1-row count is
    * planned once, reused across consumers (ReuseSubquery), and adds
    * no join to the shingle-df aggregate — the `keep` side keeps its
    * broadcast-join shape. */
  private def cappedShingles(spark: SparkSession, dir: String): DataFrame =
    cappedShinglesOf(Tables(spark, dir, "documents"))

  private def cappedShinglesOf(docs: DataFrame): DataFrame = {
    val nDocs = docs.agg(count(lit(1)).as("n_docs")).scalar()
    // ONE shingle-keyed exchange (r17) shared by the df aggregate and
    // the keep join: without it the df branch and the join branch each
    // re-run the scan + shingling + explode (the df branch's partial
    // count shuffles ~the same instance stream the join shuffles, so
    // the second exchange saved nothing), and at small SFs AQE
    // broadcast the keep side, which re-executes the subtree per
    // consumer. Both consumers cluster on exactly `s`, so the df
    // aggregate and the join run partition-local off this one shuffle
    // — one corpus scan + one corpus exchange, with no unbounded
    // broadcast of the keep universe (which at 100 TB is vocabulary-
    // sized, not broadcastable).
    val ex = docs
      .select(col("doc_id"), explode(distinctShingles3(col("text"))).as("s"))
      .repartition(col("s"))
    val keep = ex.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") * maxDfShareDenom <= nDocs && col("df") <= maxDfCeiling)
    ex.join(keep, "s") // keeps df column for the prefix order
  }

  /** ONE per-doc aggregate every consumer derives from: the (df,
    * shingle) array in global prefix order plus the set size. The
    * signature projection, the prefix index, and the exact verify all
    * reference this SAME subplan, so Catalyst plans a single shuffle
    * and the physical plan reuses the exchange instead of re-running
    * the scan + shingling + df-cap once per consumer (per-doc arrays
    * stay bounded by document length — this is not a per-key corpus
    * collect). */
  private def docSets(spark: SparkSession, dir: String): DataFrame =
    docSetsOf(cappedShingles(spark, dir))

  private def docSetsOf(capped: DataFrame): DataFrame =
    capped.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("arr"),
           count(lit(1)).as("n"))

  private def setShingles(arr: Column): Column =
    transform(arr, e => e.getField("s"))

  /** (doc_id, band, bkey) rows for a sets-shaped frame (doc_id, arr,
    * n): the 128-way MinHashSig projection (min over a set is order-
    * independent, so the prefix-sorted array is fine) exploded into
    * [[numBands]] keys of [[rowsPerBand]] signature rows each,
    * xxhash64-seeded by band index. ONE definition shared by the
    * in-plan LSH join, the incremental index BUILD, and the index
    * PROBE — a banding drift between build and probe would not error,
    * it would silently produce zero collisions. */
  private def minhashBands(sets: DataFrame): DataFrame = {
    val sigs = sets.select(col("doc_id"),
      graft.functions.MinHashSigColumns.minhashSig(setShingles(col("arr"))).as("sig"))
    val keys = (0 until numBands).map { j =>
      val rows = (0 until rowsPerBand).map(k =>
        element_at(col("sig"), rowsPerBand * j + k + 1))
      xxhash64((lit(j) +: rows): _*)
    }
    sigs.select(col("doc_id"), posexplode(array(keys: _*)).as(Seq("band", "bkey")))
  }

  /** Exact verification of candidate (doc_a, doc_b) pairs against the
    * full shingle sets: computes the exact intersection size and emits
    * pairs whose `metric(c, na, nb)` reaches `minValue` — the one
    * verification join every set-similarity operator (Jaccard and
    * containment) shares, so a fix here reaches them all. */
  private def verifyPairs(cands: DataFrame, sets: DataFrame,
      metricName: String = "jaccard",
      metric: (Column, Column, Column) => Column =
        (c, na, nb) => c / (na + nb - c),
      minValue: Double = threshold): DataFrame = {
    val va = sets.select(col("doc_id").as("da"),
      setShingles(col("arr")).as("sha"), col("n").as("na"))
    val vb = sets.select(col("doc_id").as("db"),
      setShingles(col("arr")).as("shb"), col("n").as("nb"))
    cands
      .join(va, col("doc_a") === col("da"))
      .join(vb, col("doc_b") === col("db"))
      .withColumn("c", size(array_intersect(col("sha"), col("shb"))))
      .withColumn(metricName, metric(col("c"), col("na"), col("nb")))
      .filter(col(metricName) >= minValue)
      .select("doc_a", "doc_b", metricName)
  }

  /** Exact-recall candidate pairs: prefix filter + PPJoin length bound.
    *
    * Prefix length: p = n − ⌈t·n⌉ + 1 computed in pure integer
    * arithmetic (⌈0.8n⌉ = (4n+4) div 5) — a float ⌈⌉ could round the
    * prefix SHORT and silently lose recall.
    *
    * Length bound: with na ≤ nb, J ≤ na/nb, so J ≥ 0.8 forces
    * 4·nb ≤ 5·na (integer form, no float compare). Carrying set sizes
    * into the prefix rows lets the join drop impossible pairs before
    * the `distinct()`, shrinking the candidate shuffle.
    *
    * Deliberately NOT applied: PPJoin's positional bound
    * (ubound = min(ia,ib) + min(na−ia, nb−ib) ≥ ⌈t/(1+t)·(na+nb)⌉).
    * Implemented and measured (round 4): 15-35% SLOWER at sf0.1 and
    * sf1 on this corpus — with ~54-shingle docs of uniform length the
    * prefix+length filters already bound the candidates, and carrying
    * positions through the explode + join (posexplode, two extra int
    * columns in the widest shuffle) costs more than the extra pruning
    * saves. Worth revisiting only for corpora with heavy length
    * variance, where the positional bound prunes what the length
    * filter cannot. */
  private def prefixCandidates(sets: DataFrame): DataFrame = {
    val withPrefix = sets
      .withColumn("p", col("n") - floor((col("n") * 4 + 4) / 5) + 1)
      .select(col("doc_id"), col("n"),
        explode(transform(slice(col("arr"), lit(1), col("p").cast("int")),
          e => e.getField("s"))).as("s"))
    val a = withPrefix.select(col("s"), col("doc_id").as("doc_a"), col("n").as("na"))
    val b = withPrefix.select(col("s"), col("doc_id").as("doc_b"), col("n").as("nb"))
    a.join(b, Seq("s"))
      .filter(col("doc_a") < col("doc_b")
        && col("nb") * 4 <= col("na") * 5
        && col("na") * 4 <= col("nb") * 5)
      .select("doc_a", "doc_b").distinct()
  }

  /** Exact word-3-gram Jaccard pairs ≥ threshold, prefix-filtered. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val sets = docSets(spark, dir)
    verifyPairs(prefixCandidates(sets), sets)
  }

  /** MinHash(128) + LSH(16×8) candidates, exact-Jaccard verified.
    *
    * Two candidate modes:
    *  - `exactRecallUnion = true` (the cross-engine gate entry): LSH
    *    candidates are unioned with the exact-recall prefix candidates,
    *    so the output deterministically equals [[ngramJaccard]] and the
    *    DuckDB oracle applies. The prefix join's inverted index rides
    *    along, so this mode does NOT scale past it.
    *  - `exactRecallUnion = false` (the 100 TB path): candidates come
    *    from the LSH band join alone — pair enumeration is one shuffle
    *    on band-hash keys and never touches an inverted index. A
    *    borderline J≈0.8 pair escapes 16×8 bands with ~5% probability,
    *    so recall < 1 by construction; the ScalaTest recall spec (vs
    *    the exact twin) gates this mode instead of the hash oracle.
    */
  def minhashLsh(spark: SparkSession, dir: String,
                 exactRecallUnion: Boolean = true): DataFrame = {
    val sets = docSets(spark, dir)

    val bands = minhashBands(sets)

    val ba = bands.withColumnRenamed("doc_id", "doc_a")
    val bb = bands.withColumnRenamed("doc_id", "doc_b")
    val lshCands = ba.join(bb, Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()

    // Gate mode: union with the exact-recall prefix candidates so
    // recall is deterministic (the prefix filter never misses a
    // qualifying pair) and the exact-Jaccard oracle applies verbatim.
    // Scale mode: LSH candidates only — the plan drops the whole
    // inverted-index subtree (prefix explode + self-join), which is
    // the point of MinHash at 100 TB.
    val cands =
      if (exactRecallUnion) lshCands.union(prefixCandidates(sets)).distinct()
      else lshCands

    verifyPairs(cands, sets)
  }

  /** Shared oracle: exact all-pairs Jaccard over the capped shingle
    * universe (the ground truth both Spark paths must reproduce). */
  val jaccardSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
       |    THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w)-1)]
       |    ELSE [] END) AS shs
       |  FROM toks),
       |ex AS (SELECT doc_id, unnest(shs) AS s FROM sh),
       |keep AS (SELECT s FROM ex GROUP BY s HAVING count(*) * $maxDfShareDenom <= (SELECT count(*) FROM documents) AND count(*) <= $maxDfCeiling),
       |ex2 AS (SELECT ex.doc_id, ex.s FROM ex JOIN keep USING (s)),
       |sz AS (SELECT doc_id, count(*) AS n FROM ex2 GROUP BY doc_id),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
       |  FROM ex2 a JOIN ex2 b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  CAST(c AS DOUBLE)/(sa.n + sb.n - c) AS jaccard
       |FROM p
       |JOIN sz sa ON sa.doc_id = p.doc_a
       |JOIN sz sb ON sb.doc_id = p.doc_b
       |WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= $threshold""".stripMargin

  /** Containment (asymmetric-Jaccard) near-dup pairs:
    * c / min(na, nb) ≥ [[containThreshold]] — the "doc A is inside
    * doc B" case real training pipelines hit that symmetric Jaccard
    * misses: a document embedded verbatim in a larger one has high
    * containment but low Jaccard (the big doc's extra shingles drown
    * the union).
    *
    * Candidate generation is the asymmetric prefix filter: only the
    * SMALLER doc of a qualifying pair is constrained (c ≥ ⌈t·n_small⌉),
    * so the small side indexes its first n − ⌈t·n⌉ + 1 shingles in the
    * global (df, shingle) order — if none of those were shared, at most
    * ⌈t·n⌉ − 1 could be, a contradiction — while the large side must
    * stay fully indexed (containment puts NO lower bound on c relative
    * to n_large, so no large-side prefix is sound). Prefix explode
    * ~20% of the corpus probing the full inverted index, both df-capped;
    * survivors verified exactly from the shared [[docSets]] arrays.
    * One division of exact ints → bit-identical to the DuckDB oracle. */
  val containThreshold = 0.9

  def containment(spark: SparkSession, dir: String): DataFrame = {
    val sets = docSets(spark, dir)
    // small side: prefix under its own size, p = n − ⌈t·n⌉ + 1 with
    // ⌈0.9n⌉ = (9n+9) div 10 in pure integer arithmetic (a float ⌈⌉
    // could round the prefix short and silently lose recall)
    val pfx = sets
      .withColumn("p", col("n") - floor((col("n") * 9 + 9) / 10) + 1)
      .select(col("doc_id").as("doc_s"), col("n").as("ns"),
        explode(transform(slice(col("arr"), lit(1), col("p").cast("int")),
          e => e.getField("s"))).as("s"))
    val full = sets.select(col("doc_id").as("doc_l"), col("n").as("nl"),
      explode(setShingles(col("arr"))).as("s"))
    val cands = pfx.join(full, Seq("s"))
      // doc_s must be the smaller side (ties broken by id, both ways)
      .filter(col("ns") < col("nl")
        || (col("ns") === col("nl") && col("doc_s") =!= col("doc_l")))
      .select(least(col("doc_s"), col("doc_l")).as("doc_a"),
        greatest(col("doc_s"), col("doc_l")).as("doc_b"))
      .distinct()
    verifyPairs(cands, sets, "containment",
      (c, na, nb) => c / least(na, nb), containThreshold)
  }

  val containmentSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
       |    THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w)-1)]
       |    ELSE [] END) AS shs
       |  FROM toks),
       |ex AS (SELECT doc_id, unnest(shs) AS s FROM sh),
       |keep AS (SELECT s FROM ex GROUP BY s HAVING count(*) * $maxDfShareDenom <= (SELECT count(*) FROM documents) AND count(*) <= $maxDfCeiling),
       |ex2 AS (SELECT ex.doc_id, ex.s FROM ex JOIN keep USING (s)),
       |sz AS (SELECT doc_id, count(*) AS n FROM ex2 GROUP BY doc_id),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
       |  FROM ex2 a JOIN ex2 b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  CAST(c AS DOUBLE)/least(sa.n, sb.n) AS containment
       |FROM p
       |JOIN sz sa ON sa.doc_id = p.doc_a
       |JOIN sz sb ON sb.doc_id = p.doc_b
       |WHERE CAST(c AS DOUBLE)/least(sa.n, sb.n) >= $containThreshold""".stripMargin

  /** Character-level confirmation of the token-level near-dups: the
    * Jaccard ≥ 0.8 pairs whose raw texts are ALSO within
    * [[maxEditDist]] Levenshtein edits — the second-stage check real
    * dedup pipelines run to reject token-coincidence false positives.
    * The edit distance verifies only the already-small pair set, never
    * all pairs (Levenshtein is O(len²) per pair — strictly a verifier,
    * never a candidate generator). Unit-cost Levenshtein is identical
    * in Spark and DuckDB, so the gate is a hash match. */
  val maxEditDist = 6

  def fuzzyEdit(spark: SparkSession, dir: String): DataFrame = {
    val pairs = ngramJaccard(spark, dir)
    val d = Tables(spark, dir, "documents")
    // Attach texts with plain shuffle equi-joins: the corpus is hashed
    // on doc_id (a repartition, never a broadcast — the corpus on the
    // driver/executor heap is an OOM at scale) and the pair set rides
    // the same shuffle. AQE may still downgrade to a broadcast join at
    // runtime when the PAIR side is measured small — the safe direction.
    val ta = d.select(col("doc_id").as("ida"), col("text").as("ta"))
    val tb = d.select(col("doc_id").as("idb"), col("text").as("tb"))
    pairs
      .join(ta, col("doc_a") === col("ida"))
      .join(tb, col("doc_b") === col("idb"))
      .withColumn("edit_dist", levenshtein(col("ta"), col("tb")).cast("long"))
      .filter(col("edit_dist") <= maxEditDist)
      .select("doc_a", "doc_b", "jaccard", "edit_dist")
  }

  val fuzzyEditSql: String =
    s"""WITH j AS ($jaccardSql)
       |SELECT doc_a, doc_b, jaccard,
       | CAST(levenshtein(x.text, y.text) AS BIGINT) AS edit_dist
       |FROM j
       |JOIN documents x ON x.doc_id = doc_a
       |JOIN documents y ON y.doc_id = doc_b
       |WHERE levenshtein(x.text, y.text) <= $maxEditDist""".stripMargin

  /** Duplicate-cluster resolution — the step AFTER pair finding: the
    * near-dup pairs form a graph; each connected component is one
    * duplicate cluster, the minimum doc_id is its representative, and
    * everything else in the component is droppable. Computed with
    * [[ccIters]] rounds of min-label propagation over the edge list —
    * each round one aggregate + one join, all DataFrame ops. Label
    * propagation converges in graph-diameter rounds; dup clusters are
    * short chains (diameter ≪ 16 — at these thresholds a component is
    * near-clique), and the oracle's recursive closure verifies the
    * fixpoint was actually reached, so an unconverged run FAILS the
    * gate rather than passing silently.
    *
    * Each iteration is materialized with localCheckpoint: the loop
    * references `labels` twice per round, so without cutting lineage
    * the logical plan doubles every iteration (2^16 copies of the
    * pair-finding subtree) — the standard Spark idiom for iterative
    * graph algorithms, same as GraphX's internal checkpointing. The
    * edge list is the DEDUP OUTPUT (tiny vs the corpus), so the
    * per-round jobs are cheap. */
  val ccIters = 16

  def dupClusters(spark: SparkSession, dir: String): DataFrame =
    dupClustersOf(ngramJaccard(spark, dir).select("doc_a", "doc_b"))

  /** The propagation itself, over an ARBITRARY pair table (doc_a,
    * doc_b) — what lets a pipeline build the cluster graph from any
    * similarity operator (or a union of several) and reuse ONE
    * materialized cluster table across every downstream consumer
    * ([[dupClusterBest]], [[docSplitLeakproof]]) instead of paying
    * the O(pairs × diameter) propagation per call. */
  def dupClustersOf(pairs0: DataFrame): DataFrame = {
    val pairs = pairs0.select("doc_a", "doc_b").localCheckpoint()
    val nodes = pairs.select(col("doc_a").as("id"))
      .union(pairs.select(col("doc_b").as("id"))).distinct()
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint()
    var labels = nodes.select(col("id"), col("id").as("lbl")).localCheckpoint()
    // Labels only ever decrease, so the (exact decimal) label sum is
    // strictly monotone until the fixpoint — equal sums ⟺ converged.
    // Dup clusters converge in 2-3 rounds; ccIters is the backstop.
    // A clean corpus has no pairs at all: sum over zero rows is NULL,
    // which must read as "converged" (zero), not an NPE.
    def lblSum(df: DataFrame): java.math.BigDecimal = {
      val d = df.agg(sum(col("lbl").cast("decimal(38,0)"))).first().getDecimal(0)
      if (d == null) java.math.BigDecimal.ZERO else d
    }
    var prevSum = lblSum(labels)
    var iter = 0
    var converged = false
    while (iter < ccIters && !converged) {
      val nb = edges.join(labels, col("dst") === col("id"))
        .groupBy(col("src")).agg(min(col("lbl")).as("nlbl"))
      labels = labels.join(nb, col("id") === col("src"), "left_outer")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        .localCheckpoint()
      val s = lblSum(labels)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      iter += 1
    }
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "lbl")
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"),
        col("cluster_size"), (col("id") === col("lbl")).as("keep"))
  }

  val dupClustersSql: String =
    s"""WITH RECURSIVE j AS ($jaccardSql),
       |edges AS (
       | SELECT doc_a AS src, doc_b AS dst FROM j
       | UNION SELECT doc_b, doc_a FROM j),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(id, r) AS (
       | SELECT id, id FROM nodes
       | UNION
       | SELECT e.src, w.r FROM edges e JOIN reach w ON w.id = e.dst),
       |lbl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lbl GROUP BY cluster_id)
       |SELECT id AS doc_id, cluster_id, cluster_size,
       | (id = cluster_id) AS keep
       |FROM lbl JOIN sz USING (cluster_id)""".stripMargin

  /** Representative SELECTION POLICY over the duplicate clusters:
    * keep the best-QUALITY member, not the lowest id. [[dupClusters]]
    * tags `keep` = min-label representative — the right default when
    * members are interchangeable, the wrong one when a cluster holds
    * a clean original and a mangled near-copy and the policy keeps
    * whichever id sorted first. This joins the cluster membership
    * with the [[TextOps.textQuality]] score and re-tags `keep` as
    * the quality-argmax (ties → min doc_id, via one max-struct
    * aggregate — map-side partial, no per-cluster sort), the
    * "keep best, not first" dedup mode a curation pipeline actually
    * wants. Cluster members always survive the quality join: every
    * near-dup pair implies ≥3 tokens per member, and quality is
    * defined for any tokenized doc. */
  def dupClusterBest(spark: SparkSession, dir: String): DataFrame =
    dupClusterBest(spark, dir, dupClusters(spark, dir))

  /** Overload taking a MATERIALIZED cluster table (the [[dupClusters]]
    * / [[dupClustersOf]] output, typically written to parquet once):
    * a composed pipeline that needs both the keep-best policy and the
    * leakproof split pays the label propagation ONCE instead of
    * re-deriving it inside every consumer — at sf1 the inline
    * propagation is ~80% of this operator's wall. Bit-identical to
    * the inline form for the same cluster table (spec-pinned through
    * a parquet round-trip). */
  def dupClusterBest(spark: SparkSession, dir: String,
                     clusters: DataFrame): DataFrame = {
    val members = clusters
      .select("doc_id", "cluster_id", "cluster_size")
    val quality = TextOps.textQuality(spark, dir)
      .select(col("doc_id"), col("quality"))
    val mem = members.join(quality, Seq("doc_id"))
    val best = mem.groupBy(col("cluster_id").as("bc"))
      .agg(max(struct(col("quality").as("q"), (-col("doc_id")).as("nid"))).as("m"))
      .select(col("bc"), (-col("m.nid")).as("best_doc"))
    mem.join(best, col("cluster_id") === col("bc"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("quality"), (col("doc_id") === col("best_doc")).as("keep"))
  }

  val dupClusterBestSql: String =
    s"""WITH RECURSIVE j AS ($jaccardSql),
       |edges AS (
       | SELECT doc_a AS src, doc_b AS dst FROM j
       | UNION SELECT doc_b, doc_a FROM j),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(id, r) AS (
       | SELECT id, id FROM nodes
       | UNION
       | SELECT e.src, w.r FROM edges e JOIN reach w ON w.id = e.dst),
       |lbl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lbl GROUP BY cluster_id),
       |${TextOps.qualityCtes},
       |mem AS (
       | SELECT l.id AS doc_id, l.cluster_id, sz.cluster_size, q.quality
       | FROM lbl l JOIN sz USING (cluster_id) JOIN quality q ON q.doc_id = l.id),
       |best AS (
       | SELECT cluster_id, doc_id AS best_doc
       | FROM (SELECT cluster_id, doc_id,
       |        row_number() OVER (PARTITION BY cluster_id
       |                           ORDER BY quality DESC, doc_id ASC) AS rk
       |       FROM mem) WHERE rk = 1)
       |SELECT m.doc_id, m.cluster_id, m.cluster_size, m.quality,
       | (m.doc_id = b.best_doc) AS keep
       |FROM mem m JOIN best b USING (cluster_id)""".stripMargin

  /** Deterministic train/val SPLIT with a near-dup LEAKAGE GUARD —
    * the property an eval split of pretraining data actually needs:
    * no near-duplicate pair may straddle the split, or the val set
    * silently scores memorization. Hash-splitting doc_ids alone
    * violates it (each member of a dup pair hashes independently);
    * splitting by CLUSTER restores it: every doc's split key is its
    * [[dupClusters]] min-label (its own id when un-clustered), so a
    * whole near-dup component lands on one side by construction.
    *
    * SCOPE of the guarantee: the straddle-free property covers the
    * pair graph the clusters were built from — by default the exact
    * word-3-gram Jaccard ≥ 0.8 pairs ([[ngramJaccard]]). Pairs
    * visible only to a DIFFERENT similarity operator (the embedding
    * cosine or simhash near-dup families) are not edges of that
    * graph and can still straddle; a pipeline wanting the guard over
    * several notions of similarity passes the UNION of their pair
    * sets as a materialized cluster table via the `clusters`
    * overload below — the propagation and the split key handle any
    * edge set identically.
    *
    * The split hash is a linear congruence on the key — expressible
    * identically in ANSI SQL, so the assignment (not just its
    * statistics) is cross-engine gated. Valid for keys below
    * ~2^45 (the multiply must not overflow a long under ANSI mode);
    * a deployment with wider ids swaps in xxhash64 and loses only
    * the DuckDB twin, not the leakage property, which the ScalaTest
    * spec (no [[ngramJaccard]] pair straddles) pins either way.
    *
    * Scale shape: cluster labels exist only for docs that appear in
    * a dup pair — the DEDUP OUTPUT, tiny vs the corpus — so the
    * corpus-side join is one broadcast, no shuffle of the documents
    * table, and the label propagation cost is [[dupClusters]]'s
    * O(pairs × diameter). */
  val splitValPct = 10

  def docSplitLeakproof(spark: SparkSession, dir: String): DataFrame =
    docSplitLeakproof(spark, dir, dupClusters(spark, dir))

  /** The WIDENED split: cluster edges are the UNION of the exact
    * word-3-gram Jaccard pairs and the SimHash near-dup pairs, so
    * the straddle-free guarantee covers BOTH similarity notions —
    * the [[docSplitLeakproof]] scope note made concrete (a doc pair
    * visible only to hamming-close signatures no longer leaks
    * across the eval boundary). Costs one extra pair operator +
    * the same propagation; the SimHash side has no DuckDB twin
    * (xxhash64), so this entry gates rows-only with the straddle
    * property spec-pinned over both pair sets. */
  def docSplitLeakproofWide(spark: SparkSession, dir: String): DataFrame =
    docSplitLeakproof(spark, dir, dupClustersOf(
      ngramJaccard(spark, dir).select("doc_a", "doc_b")
        .union(simhash(spark, dir).select("doc_a", "doc_b"))))

  /** Overload taking a MATERIALIZED cluster table — the
    * [[dupClusterBest]] rationale: pay [[dupClusters]]'s propagation
    * once per corpus, not once per consumer. Passing a cluster table
    * built from a UNION of pair sets (ngram + simhash edges via
    * [[dupClustersOf]], as [[docSplitLeakproofWide]] does) also
    * WIDENS the straddle-free guarantee to exactly that union — the
    * scope note above. */
  def docSplitLeakproof(spark: SparkSession, dir: String,
                        clusters: DataFrame): DataFrame = {
    val members = clusters.select(col("doc_id"), col("cluster_id"))
    Tables(spark, dir, "documents").select(col("doc_id"))
      .join(broadcast(members), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("split_key"))
      .withColumn("split",
        when(pmod(col("split_key") * lit(40503L) + lit(17L), lit(100L))
          < splitValPct, lit("val")).otherwise(lit("train")))
  }

  val docSplitLeakproofSql: String =
    s"""WITH RECURSIVE j AS ($jaccardSql),
       |edges AS (
       | SELECT doc_a AS src, doc_b AS dst FROM j
       | UNION SELECT doc_b, doc_a FROM j),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(id, r) AS (
       | SELECT id, id FROM nodes
       | UNION
       | SELECT e.src, w.r FROM edges e JOIN reach w ON w.id = e.dst),
       |lbl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
       |SELECT d.doc_id,
       | COALESCE(l.cluster_id, d.doc_id) AS split_key,
       | CASE WHEN (COALESCE(l.cluster_id, d.doc_id) * 40503 + 17) % 100
       |           < $splitValPct
       |      THEN 'val' ELSE 'train' END AS split
       |FROM documents d LEFT JOIN lbl l ON l.id = d.doc_id""".stripMargin

  /** 64-bit SimHash near-dup pairs (hamming ≤ 6) via the band-PAIR
    * join ([[hammingBandJoin]] — pigeonhole-exact at the ≤ 6
    * threshold). Hashes 3-gram shingles, not tokens — token SETS
    * collapse on a small vocabulary and lose all frequency signal.
    * xxhash64 has no DuckDB twin → rows-only check; the ScalaTest
    * spec pins behavior instead. */
  val simhashMaxHamming = 6

  /** Banded candidate join + exact Hamming verify for 64-bit
    * signatures, provably equal to the all-pairs Hamming join at any
    * threshold ≤ 6 — by pigeonhole over band PAIRS: split the
    * signature into 8 8-bit bands; ≤ 6 differing bits dirty ≤ 6
    * bands, leaving ≥ 2 clean bands, so for some i<j the
    * concatenated 16-bit key bandᵢ‖bandⱼ matches and the pair
    * surfaces as a candidate (then the exact `bit_count(xor)` verify
    * decides).
    *
    * Why pairs and not single bands: single-band keys give a join
    * domain of 8 bands × 256 values = 2,048 distinct keys TOTAL, so
    * per-key bucket population is n/256 and candidate volume is
    * Θ(n²/256) — a hard scale ceiling that, unlike the minhash band
    * keys (xxhash64 over 2⁶⁴) or the auto-width embedding LSH,
    * cannot be out-scaled by data growth. The C(8,2) = 28 pair keys
    * span 28 × 2¹⁶ ≈ 1.8M values, cutting candidate volume ~73× at
    * identical (exact, pigeonhole-guaranteed) recall; the explode
    * costs 28 rows/signature instead of 8 — narrow map-side work,
    * while only 16-byte signature rows ever shuffle, never payloads.
    * Measured at 3 SFs in the RECALL artifacts (candidate-volume
    * seat, RecallAudit.scala).
    *
    * SIGNATURE-SKEW BOUND (r17 — the one 100×-scale risk the r16
    * verdict left open): real media corpora have MODE signatures —
    * silence, black frames, solid-color images — and a mode
    * signature makes all 28 of its band-pair keys hot, driving the
    * band join's candidate volume Σ bucket² quadratic in the mode's
    * population. Two-part fix, mirroring the minhash df cap's shape:
    *
    *  1. IDENTICAL-SIGNATURE PRE-GROUPING (exact, lossless): only
    *     DISTINCT (extraKeys…, sig) rows enter the band join, so
    *     candidate compute is Σ bucket² over distinct signatures —
    *     which collapses precisely the dup-dense regime (measured on
    *     this corpus at sf10: the image family's 124,958 signature
    *     rows hold 3,673 distinct signatures; candidate volume drops
    *     207M → 39k, RECALL band-geometry seat). Verified signature
    *     PAIRS then expand back to doc pairs through two equi-joins
    *     against the member rows (cross-group) plus one member
    *     self-join on the signature (intra-group, hamming 0) — plain
    *     hash-partitioned joins whose row count equals the OUTPUT
    *     pair count, i.e. inherent work, with AQE skew-split
    *     available since they are standard shuffle joins. Provably
    *     output-identical: every output pair has either two distinct
    *     signatures (cross: surfaced by the pigeonhole band join on
    *     distinct sigs, expanded once since its groups are disjoint)
    *     or one shared signature (intra: hamming 0 ≤ any threshold,
    *     emitted once by the a<b self-join). Spec-pinned against the
    *     naive all-pairs join on a mode-signature corpus.
    *  2. A DF-STYLE PER-KEY CEILING on the residual: a (band, bkey
    *     [, extraKeys]) bucket holding > `maxKeySigs` DISTINCT
    *     signatures is dropped from candidate generation (a window
    *     count over the same hash partitioning the join needs — no
    *     extra shuffle). Beyond the ceiling a key contributes
    *     > C(maxKeySigs, 2) ≈ 5·10⁷ comparisons on its own; the
    *     minhash cap's documented-loss contract applies: a pair is
    *     lost only if EVERY one of its ≥ C(2,2) clean band-pair keys
    *     is hot, and the default ceiling (10,000) sits ~17× above
    *     the largest bucket observed at sf10 (600, video slot keys;
    *     image 18, audio 20, simhash 53 — measured r17), so every
    *     correctness gate runs cap-silent. Hamming 0 pairs are NEVER
    *     lost: the intra-group path bypasses the band join entirely.
    *
    * `sigs` must have columns (doc_id: long, sig: long) plus any
    * `extraKeys`, ONE ROW PER (extraKeys…, doc_id) — every caller in
    * the library satisfies this by construction (one signature per
    * document / per (video, slot)); returns (extraKeys…, doc_a,
    * doc_b, hamming: int) with hamming ≤ maxHamming ≤ 6, one row per
    * pair (no trailing doc-pair distinct: uniqueness is structural,
    * which removes the old output-sized dedup shuffle — 35M rows at
    * sf10 on the image family). `extraKeys` join ALONGSIDE the band
    * key — [[graft.operators.MultimodalOps.videoPhash]] passes its
    * frame slot so only same-instant frames ever become candidates
    * (the pair-key domain multiplies by the slot cardinality, never
    * the candidate volume). */
  def hammingBandJoin(sigs: DataFrame, maxHamming: Int,
                      extraKeys: Seq[String] = Nil,
                      maxKeySigs: Int = hammingKeyMaxSigs): DataFrame = {
    require(maxHamming <= 6,
      s"band-pair pigeonhole holds only to hamming 6, got $maxHamming")
    require(maxKeySigs >= 2, s"per-key ceiling must allow a pair, got $maxKeySigs")
    val ek = extraKeys.map(col)
    // ONE hash repartition on (extraKeys…, sig) up front: the distinct
    // below, the intra self-join, and both cross-expansion joins all
    // cluster on exactly these keys, so every consumer reuses this one
    // exchange (ReuseExchange/AQE stage reuse) instead of re-running
    // the payload scan + signature kernel per consumer — at 100 TB the
    // kernel pass happens once and only 16-byte signature rows ever
    // move again. Reuse needs CANONICALLY IDENTICAL subplans in every
    // branch, hence two deliberate quirks: the explicit not-null
    // filter (so no branch acquires its own inferred-isnotnull
    // variant from its join keys) and the distinct-signatures step
    // below consuming doc_id through an aggregate (so no branch gets
    // a narrower pruned scan).
    val members = sigs.select(ek ++ Seq(col("sig"), col("doc_id")): _*)
      .filter(col("sig").isNotNull && col("doc_id").isNotNull)
      .repartition(ek :+ col("sig"): _*)
    // (1) identical-signature pre-grouping: only distinct signatures
    // band-join; the explode is 28 narrow rows per DISTINCT signature
    val bands = members.groupBy(ek :+ col("sig"): _*)
      .agg(min(col("doc_id")).as("_rep")).drop("_rep")
      .select(ek ++ Seq(col("sig"),
        explode(array(hammingBandPairKeys(col("sig")): _*)).as("bb")): _*)
      .select(ek ++ Seq(col("sig"),
        col("bb.band").as("band"), col("bb.bkey").as("bkey")): _*)
    // (2) per-key distinct-signature ceiling — a window count over
    // exactly the (band, bkey[, extraKeys]) partitioning the self-join
    // below shuffles on: the cap rides the join's own exchange + sort
    // (no separate counting pass — a groupBy hot-key formulation
    // measured an extra 14M-row aggregate pass on the sf10 simhash
    // family), and because the 28× explode happens BELOW this
    // exchange, the join sides carry honest materialized sizes — AQE
    // never mistakes the banded side for broadcastable (with the
    // explode above a small shuffle stage it builds the exploded side
    // as a driver hash relation: measured 5× the query's honest wall)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy((Seq("band", "bkey") ++ extraKeys).map(col): _*)
    val capped = bands.withColumn("kdf", count(lit(1)).over(w))
      .filter(col("kdf") <= maxKeySigs).drop("kdf")
    val sigPairs = capped
      .select(ek ++ Seq(col("band"), col("bkey"), col("sig").as("sig_a")): _*)
      .join(capped.select(ek ++ Seq(col("band"), col("bkey"),
        col("sig").as("sig_b")): _*), Seq("band", "bkey") ++ extraKeys)
      .filter(col("sig_a") < col("sig_b"))
      .select(ek ++ Seq(col("sig_a"), col("sig_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming")): _*)
      .filter(col("hamming") <= maxHamming)
      .distinct() // collapse multi-key candidate hits at SIGNATURE-pair size
    // expansion back to doc pairs: cross-group via two member joins
    // (each output pair produced exactly once — the two sig groups
    // are disjoint), intra-group via the hamming-0 self-join
    val cross = sigPairs
      .join(members.withColumnRenamed("sig", "sig_a")
        .withColumnRenamed("doc_id", "id_a"), Seq("sig_a") ++ extraKeys)
      .join(members.withColumnRenamed("sig", "sig_b")
        .withColumnRenamed("doc_id", "id_b"), Seq("sig_b") ++ extraKeys)
      .select(ek ++ Seq(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"), col("hamming")): _*)
    val intra = members
      .select(ek ++ Seq(col("sig"), col("doc_id").as("doc_a")): _*)
      .join(members.select(ek ++ Seq(col("sig"),
        col("doc_id").as("doc_b")): _*), Seq("sig") ++ extraKeys)
      .filter(col("doc_a") < col("doc_b"))
      .select(ek ++ Seq(col("doc_a"), col("doc_b"),
        lit(0).cast("int").as("hamming")): _*)
    cross.unionByName(intra)
  }

  /** Default [[hammingBandJoin]] per-key distinct-signature ceiling —
    * the Hamming family's [[maxDfCeiling]] twin. 10,000 distinct
    * signatures in one (band, bkey) bucket bounds that key's
    * candidate contribution at C(10k, 2) ≈ 5·10⁷ comparisons; the
    * largest bucket measured at sf10 across all four signature
    * families is 600, so the gates run cap-silent with ~17×
    * headroom. Documented loss above the ceiling (the minhash
    * contract): a pair whose EVERY clean band-pair key is hot is
    * dropped from candidates — identical-signature (hamming 0) pairs
    * are exempt by construction. */
  val hammingKeyMaxSigs: Int = 10000

  /** The 28 band-pair key structs for [[hammingBandJoin]] — band id
    * 8i+j, key bandᵢ·256 + bandⱼ (i < j). Exposed so the RecallAudit
    * candidate-volume seat measures Σ C(bucket,2) on the same keys
    * the join uses. */
  def hammingBandPairKeys(sig: Column): Seq[Column] = {
    def band(i: Int): Column = shiftright(sig, 8 * i).bitwiseAND(0xFF)
    for { i <- 0 until 8; j <- (i + 1) until 8 } yield
      struct(lit(8 * i + j).as("band"),
        (band(i) * 256L + band(j)).as("bkey"))
  }

  /** The 8 SINGLE-band 8-bit keys the pair keys replaced — kept ONLY
    * for the RecallAudit band-geometry seat, which records the
    * candidate volume Σ C(bucket,2) under both geometries so the
    * ~73× reduction is a measured before/after at each audited SF.
    * Never used by a query plan: the 2,048-key join domain is the
    * scale ceiling the pair keys exist to remove. */
  def hammingSingleBandKeys(sig: Column): Seq[Column] = {
    def band(i: Int): Column = shiftright(sig, 8 * i).bitwiseAND(0xFF)
    for (i <- 0 until 8) yield
      struct(lit(i).as("band"), band(i).cast("long").as("bkey"))
  }

  /** The per-doc simhash signatures (doc_id, sig) — the map-side half
    * of [[simhash]], exposed for the RecallAudit band-geometry seat.
    * Signature = one-pass scalar kernel over the shingle array:
    * narrow work in the scan stage, no per-doc aggregate shuffle (see
    * functions/SimHashSig.scala for the equivalence argument).
    * Shingle-less docs are excluded — the aggregate formulation had
    * no rows for them, and an all-zero sig would spuriously pair
    * them. */
  def simhashSigs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), distinctShingles3(col("text")).as("shs"))
      .filter(size(col("shs")) > 0)
      .select(col("doc_id"),
        graft.functions.SimHashSigColumns.simhashSig(col("shs")).as("sig"))

  def simhash(spark: SparkSession, dir: String): DataFrame =
    hammingBandJoin(simhashSigs(spark, dir), simhashMaxHamming)

  /** Batch slice predicate for the incremental-dedup entry: docs with
    * doc_id ≡ 7 (mod 10) play the "incoming batch" (~10% of the
    * corpus) probed against the index of the whole corpus. */
  private def incomingBatch(c: Column): Column = pmod(c, lit(10)) === 7

  /** Key-hash partition count for BOUNDED membership checks: the
    * index's `ids` table (and the streaming sinks' output tables —
    * [[graft.streaming.Pipelines]]) are Hive-partitioned by
    * kb = pmod(xxhash64(key…), keyBuckets), so an already-present
    * check prunes its read to the buckets the incoming batch actually
    * hashes into instead of scanning the whole key history every
    * trigger. 64 keeps directory counts trivial while giving a
    * small-trigger check a 64× read reduction; the check stays
    * correct for any value because equal keys always share a bucket. */
  val keyBuckets = 64

  /** The bucket column for [[keyBuckets]]-partitioned key layouts. */
  def keyBucket(keys: Column*): Column =
    pmod(xxhash64(keys: _*), lit(keyBuckets)).cast("int")

  /** `id`s already folded into an index, read PRUNED to the given
    * key-hash buckets (≤ [[keyBuckets]] partition directories — per-
    * trigger read work is bounded by the batch's bucket span, not by
    * index history). An index without an `ids` store fails with the
    * missing path, and one whose `ids` cannot be read pruned (written
    * without `kb`) fails too — rebuild either. */
  def indexedIds(spark: SparkSession, idx: String, buckets: Seq[Int],
                 id: String = "doc_id"): DataFrame =
    Snapshot.read(spark, s"$idx/ids").filter(col("kb").isin(buckets: _*)).select(id)

  /** The rows of `keyed` (which carries `kb`, the [[keyBucket]] of
    * `id`) whose `id` the index at `idx` does not hold: one collect of
    * the batch's ≤ [[keyBuckets]] bucket values, then a left-anti join
    * against [[indexedIds]] pruned to them — the membership check of
    * every index sink and drift report. */
  def unindexed(keyed: DataFrame, idx: String, id: String): DataFrame = {
    val buckets = keyed.select("kb").distinct().collect().map(_.getInt(0)).toSeq
    keyed.join(indexedIds(keyed.sparkSession, idx, buckets, id), Seq(id), "left_anti")
  }

  /** Build the minhash dedup index to parquet — the state a streaming
    * ingestion pipeline maintains so NEW documents dedup against the
    * corpus without recomputing corpus-wide aggregates:
    *  - `universe`: the df-capped shingle vocabulary (shingle, df) —
    *    the frozen cap decisions new docs must shingle against;
    *  - `sets`: per-doc prefix-ordered shingle arrays (the verify
    *    side);
    *  - `ids`: the [[keyBucket]]-partitioned doc_id membership table
    *    the streaming sink's already-indexed check prunes against;
    *  - `bands`: the LSH band-key inverted index (band, bkey, doc_id).
    * Written last, `bands/_SUCCESS` is the build-complete marker. */
  def incrementalIndexBuild(spark: SparkSession, dir: String, indexDir: String,
                            docFilter: Column = lit(true)): Unit =
    rebuildIndex(spark,
      Tables(spark, dir, "documents").filter(docFilter).select("doc_id", "text"),
      indexDir)

  /** (Re)build the index from an arbitrary (doc_id, text) corpus frame
    * — ALSO the periodic FULL REBUILD that reconciles universe drift
    * ([[incrementalIndexUpdate]]'s documented trade): shingles that
    * entered the corpus after the last build are invisible to the
    * frozen universe, so docs whose overlap lives in NEW vocabulary
    * cannot pair until a rebuild recomputes the df-capped universe
    * over the current corpus (original + accepted arrivals, e.g. the
    * sink table read back). Spec-pinned: new-vocabulary near-dups
    * pair only after the rebuild.
    *
    * SNAPSHOT-ISOLATED against live serving ([[Snapshot.stageReplace]]
    * — the round-9 compaction machinery applied to whole-store
    * replacement): every table's new generation is staged as
    * invisible tier files while the old index keeps serving through
    * the (arbitrarily long) corpus passes, then [[Snapshot.swap]]
    * publishes them with `bands` as the marker table, so a crash
    * anywhere inside the window leaves an index that FAILS the
    * completion check instead of a mixed-generation one (old bands +
    * old marker over new sets/universe would serve stale band keys
    * against the new verify sets: silently missing pairs, no error).
    * A reader that pinned its snapshot BEFORE the swap ([[Snapshot.read]] resolves
    * at construction) finishes bit-identically on the old generation
    * — retired files outlive the grace window; a reader constructed
    * AFTER it sees the new index; a construction racing the
    * millisecond swap window fails the completion check loudly
    * rather than mixing. Because the old tables stay on disk until
    * commit, `corpusDocs` MAY now read this index's own stores (the
    * sink-table-read-back composition): its plans execute during
    * staging, against the old generation. Single-writer contract
    * unchanged. */
  def rebuildIndex(spark: SparkSession, corpusDocs: DataFrame,
                   indexDir: String,
                   graceMs: Long = Snapshot.DefaultGraceMs): Unit = {
    // ONE corpus pass: materialize the per-doc sets, then derive the
    // universe and the band index FROM THE STAGED PARQUET — each
    // lazy re-use of the docSets frame would otherwise re-run the
    // whole corpus scan + shingle + df-cap aggregation per output
    // (3× the build cost this index exists to amortize)
    val rSets = Snapshot.stageReplace(spark, s"$indexDir/sets",
      docSetsOf(cappedShinglesOf(corpusDocs)), graceMs = graceMs)
    val sets = rSets.staged
    // every kept (shingle, df) appears in some doc's array, so the
    // exploded distinct IS the capped universe
    val rUniverse = Snapshot.stageReplace(spark, s"$indexDir/universe",
      sets.select(explode(col("arr")).as("e"))
        .select(col("e.s").as("s"), col("e.df").as("df")).distinct(),
      graceMs = graceMs)
    // drift baseline for minhashDriftReport — derived from the
    // freshly-staged sets (kept instances) plus one narrow
    // shingle-count pass over the corpus (total instances): no join,
    // no second df aggregate
    val rVocab = Snapshot.stageReplace(spark, s"$indexDir/vocabstats",
      vocabStatsOf(corpusDocs, sets), graceMs = graceMs)
    // membership covers EVERY corpus doc (the update's rule): a doc
    // with zero universe-overlapping shingles has no sets row but is
    // still indexed — the sink must not re-fold it forever
    val rIds = Snapshot.stageReplace(spark, s"$indexDir/ids",
      corpusDocs.select(col("doc_id"), keyBucket(col("doc_id")).as("kb")),
      partitionCols = Seq("kb"), graceMs = graceMs)
    val rBands = Snapshot.stageReplace(spark, s"$indexDir/bands",
      minhashBands(sets), graceMs = graceMs)
    Snapshot.swap(Seq(rSets, rUniverse, rVocab, rIds, rBands))
  }

  /** Build-time vocabulary baseline (`vocabstats`, 1 row): the build
    * population and the fraction of the build corpus' own shingle
    * INSTANCES that fell outside the df-capped universe (the
    * capped-out common shingles) — what [[minhashDriftReport]]
    * compares arrivals against. Kept instances come from the written
    * `sets` table's per-doc counts; total instances are one narrow
    * no-join pass over the corpus. */
  private def vocabStatsOf(corpusDocs: DataFrame, sets: DataFrame): DataFrame = {
    val tot = corpusDocs.agg(
      count(lit(1)).as("n_build"),
      coalesce(sum(size(distinctShingles3(col("text")))), lit(0L))
        .cast("long").as("_inst_total"))
    val kept = sets.agg(coalesce(sum(col("n")), lit(0L)).as("_inst_kept"))
    tot.crossJoin(broadcast(kept))
      .select(col("n_build"),
        when(col("_inst_total") > 0,
          lit(1.0) - col("_inst_kept") / col("_inst_total"))
          .otherwise(lit(0.0)).as("frac_out_build"))
  }

  /** WHEN to rebuild the minhash index — the scheduling half of the
    * frozen-UNIVERSE drift contract, the twin of
    * [[VectorOps.ivfDriftReport]] for the frozen-quantizer one.
    * [[incrementalIndexUpdate]]'s scaladoc documents the trade (new
    * vocabulary is invisible to the frozen df-cap decisions, so
    * new-vocabulary near-dups cannot pair until [[rebuildIndex]]); this
    * op is the trigger that tells an operator the drift has actually
    * happened, closing the append → measure → rebuild loop.
    *
    * Two independent signals, one report row (the vector report's
    * shape — n_batch / frac signal / baseline / size pair / drifted):
    *  - VOCABULARY drift: `frac_beyond_univ` is the fraction of the
    *    batch's shingle instances absent from the frozen universe.
    *    The build-time baseline (`frac_out_build` — the corpus' own
    *    capped-out fraction) anchors the comparison: a same-
    *    distribution batch lands near it (plus a sliver of genuinely
    *    new rare shingles), a shifted vocabulary pushes toward 1.
    *    `drifted` flags frac > baseline + `driftFrac`.
    *  - SIZE drift: the RELATIVE half of the df cap (df·
    *    [[maxDfShareDenom]] ≤ n) was decided against the build
    *    population; when the current membership (+ genuinely new
    *    batch ids, bucket-pruned anti-join — a replayed batch must
    *    not inflate n) reaches 2× `n_built`, those cap decisions are
    *    serving at half their intended share and the report flags
    *    regardless of vocabulary.
    *
    * ONE Spark job per report (every scalar enters the plan as a
    * 1-row broadcast aggregate); the universe-membership join is the
    * probe path's own per-trigger join shape, paid at monitoring
    * cadence. An index without its `vocabstats` baseline fails with
    * the missing path — [[rebuildIndex]] writes it. */
  def minhashDriftReport(spark: SparkSession, indexDir: String,
                         batchDocs: DataFrame,
                         driftFrac: Double = 0.10,
                         memberCount: Long = -1L): DataFrame = {
    require(VectorOps.hExists(spark, s"$indexDir/bands/_SUCCESS"),
      s"$indexDir is not a complete minhash index")
    val stats = Snapshot.read(spark, s"$indexDir/vocabstats")
    val universe = Snapshot.read(spark, s"$indexDir/universe")
      .select(col("s"), lit(1).as("_in_u"))
    val fracDf = batchDocs
      .select(explode(distinctShingles3(col("text"))).as("s"))
      .join(universe, Seq("s"), "left_outer")
      .agg(avg(when(col("_in_u").isNull, 1.0).otherwise(0.0))
        .as("frac_beyond_univ"))
    val nBatchDf = batchDocs.agg(count(lit(1)).as("n_batch"))
    val keyed = batchDocs.select(col("doc_id"))
      .withColumn("kb", keyBucket(col("doc_id")))
    // `memberCount` ≥ 0 replaces the one non-batch-shaped input — the
    // ids-store count, whose file-listing cost grows with trigger
    // history between compactions — with a caller-maintained total
    // (seed once at stream start, advance by each fold's new-doc
    // count); the -1 default derives it for one-shot callers. The
    // vector twin ([[VectorOps.ivfDriftReport]]) documents the
    // measured climb this avoids.
    val nIdxDf =
      if (memberCount >= 0L)
        spark.range(1).select(lit(memberCount).as("_n_indexed"))
      else Snapshot.read(spark, s"$indexDir/ids")
        .agg(count(lit(1)).as("_n_indexed"))
    val nNewDf = unindexed(keyed, indexDir, "doc_id")
      .agg(count(lit(1)).as("_n_new"))
    nBatchDf
      .crossJoin(broadcast(fracDf))
      .crossJoin(broadcast(stats))
      .crossJoin(broadcast(nIdxDf))
      .crossJoin(broadcast(nNewDf))
      .withColumn("n_auto", col("_n_indexed") + col("_n_new"))
      .withColumn("drifted",
        // coalesce: an empty batch has a null frac (avg over zero
        // rows) — report "not drifted" rather than a null verdict
        coalesce(col("frac_beyond_univ") >
          col("frac_out_build") + lit(driftFrac), lit(false)) ||
          col("n_auto") >= col("n_build") * 2)
      .withColumnRenamed("n_build", "n_built")
      .drop("_n_indexed", "_n_new")
  }

  /** Incremental dedup — the ingestion-time shape at 100 TB: a NEW
    * batch of documents (here the deterministic ~10% [[incomingBatch]]
    * slice) is deduplicated against the indexed corpus by PROBING the
    * parquet index, never rebuilding it. Only the batch is shingled
    * and signed; its shingles join the frozen `universe` (so cap
    * decisions match the index), its band keys probe the `bands`
    * inverted index, and survivors verify exactly against the `sets`
    * arrays. Corpus-side cost is index reads — no corpus-wide
    * df aggregate, no corpus signature pass — which is what makes
    * per-batch dedup affordable when the corpus is 10⁶× the batch.
    *
    * Modes, mirroring [[minhashLsh]]:
    *  - `exactRecallUnion = true` (gate): candidates union the exact
    *    prefix-filtered pairs RESTRICTED to pairs touching the batch,
    *    so the output deterministically equals the exact pair set
    *    `{(a,b) : J ≥ t, a or b in batch}` and the DuckDB oracle is
    *    [[jaccardSql]] plus that predicate.
    *  - `exactRecallUnion = false` (scale): LSH probe only — recall
    *    spec'd against the exact twin, one band-key shuffle.
    *
    * Index caching matches [[VectorOps.annIvfQuery]]: the default
    * location is keyed by the data dir (hash-qualified) and a content
    * stamp of documents.parquet; an explicit `indexDir` is the
    * caller's lifecycle contract. */
  def dedupIncremental(spark: SparkSession, dir: String,
                       indexDir: String = "",
                       exactRecallUnion: Boolean = true): DataFrame = {
    val idx =
      if (indexDir.nonEmpty) indexDir
      else sys.props("java.io.tmpdir") + "/graft-mhidx-" +
        graft.Tables.dirKey(dir) + "-" +
        java.lang.Long.toHexString(
          graft.Tables.contentStamp(new java.io.File(s"$dir/documents.parquet")))
    if (!VectorOps.hExists(spark, s"$idx/bands/_SUCCESS"))
      incrementalIndexBuild(spark, dir, idx)

    val batchDocs = Tables(spark, dir, "documents")
      .filter(incomingBatch(col("doc_id")))
      .select("doc_id", "text")

    if (exactRecallUnion) {
      // gate mode always probes the pristine index it just built (or
      // the caller's NEVER-UPDATED dir — the cross-engine gate needs a
      // reproducible index, and an incrementally-updated one isn't):
      // doc_id is unique by construction, so no dedup pass is needed
      // and the verify keeps its exchange-reuse shape. Updated indexes
      // belong to the probe path below, which tolerates replayed rows.
      val sets = Snapshot.read(spark, s"$idx/sets")
      val cands = probeCandidates(spark, batchDocs, idx)._1
        .union(prefixCandidates(sets).filter(
          incomingBatch(col("doc_a")) || incomingBatch(col("doc_b"))))
        .distinct()
      verifyPairs(cands, sets)
    } else probeIndex(spark, batchDocs, idx)
  }

  /** A batch's sets frame built against a FROZEN universe: shingle,
    * keep only universe members (cap decisions identical to the index
    * build), aggregate per doc. */
  private def batchSetsAgainst(batchDocs: DataFrame,
                               universe: DataFrame): DataFrame =
    batchDocs
      .select(col("doc_id"), explode(distinctShingles3(col("text"))).as("s"))
      .join(universe, "s")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("arr"),
        count(lit(1)).as("n"))

  private def probeCandidates(spark: SparkSession, batchDocs: DataFrame,
                              idx: String): (DataFrame, DataFrame) = {
    val universe = Snapshot.read(spark, s"$idx/universe")
    val bands = Snapshot.read(spark, s"$idx/bands")
    val batchSets = batchSetsAgainst(batchDocs, universe)
    val cands = minhashBands(batchSets)
      .join(bands.withColumnRenamed("doc_id", "old_id"), Seq("band", "bkey"))
      .filter(col("doc_id") =!= col("old_id"))
      .select(least(col("doc_id"), col("old_id")).as("doc_a"),
        greatest(col("doc_id"), col("old_id")).as("doc_b"))
      .distinct()
    (cands, batchSets)
  }

  /** LSH-probe an arbitrary (doc_id, text) batch against a built
    * index (pure-probe mode — the ingestion-time path a STREAMING
    * pipeline runs per micro-batch; see
    * [[graft.streaming.Pipelines.incrementalDedupSink]]). Verification
    * is exact against the index sets overlaid with the batch's own
    * freshly-shingled sets, so genuinely NEW documents — not yet in
    * the index — still verify. The BATCH copy wins a doc_id collision
    * deterministically (anti-join, not an arbitrary dropDuplicates):
    * for an unchanged redelivery the copies are identical anyway
    * (frozen universe, same shingling), and for a re-ingested EDITED
    * document verification must see the text that just arrived, not
    * whichever copy a partition race happens to keep. */
  def probeIndex(spark: SparkSession, batchDocs: DataFrame,
                 idx: String): DataFrame = {
    // the completion-marker check is what makes a crash inside a
    // rebuild's swap window LOUD: serving sets/universe/bands from
    // different generations would silently miss pairs
    require(VectorOps.hExists(spark, s"$idx/bands/_SUCCESS"),
      s"$idx is not a complete minhash index (crashed mid-rebuild? " +
        "re-run rebuildIndex)")
    // candidate pairs are batch-bounded and referenced three times
    // below (id extraction twice + the verify join); localCheckpoint
    // materializes them once instead of re-running the band probe per
    // reference (the dupClusters iteration idiom)
    val (cands0, batchSets) = probeCandidates(spark, batchDocs, idx)
    val cands = cands0.localCheckpoint(true)
    val idxSets = Snapshot.read(spark, s"$idx/sets")
    val bs = batchSets.select(idxSets.columns.map(col): _*)
    // verification only needs candidate docs' rows: restrict the index
    // side (broadcast semi join on the scan) before de-duplicating the
    // copies a replayed incrementalIndexUpdate leaves — the dedup
    // shuffle is candidate-sized, never corpus-sized. The BATCH copy
    // wins a doc_id collision deterministically (anti-join overlay):
    // for an unchanged redelivery the copies are identical anyway, and
    // for a re-ingested EDITED document verification must see the text
    // that just arrived, not whichever copy a partition race keeps.
    val candIds = cands.select(col("doc_a").as("doc_id"))
      .union(cands.select(col("doc_b").as("doc_id"))).distinct()
    val sets = idxSets.join(candIds, Seq("doc_id"), "left_semi")
      .dropDuplicates("doc_id")
      .join(bs.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(bs)
    verifyPairs(cands, sets)
  }

  /** Fold an accepted batch INTO the index — the write half of the
    * ingestion lifecycle (probe → accept survivors → index them so
    * the NEXT batch dedups against today's corpus, not last month's
    * rebuild). The batch is shingled against the FROZEN universe and
    * appended to `sets` and `bands`; the universe itself never
    * changes between rebuilds (that drift — new vocabulary absent
    * from the cap decisions — is the documented trade of incremental
    * maintenance, reconciled by periodic full rebuilds).
    *
    * Append-only parquet: no index rewrite, batch-sized work per
    * call. At-least-once ingestion may replay an update; the probe
    * path tolerates the duplicate rows ([[probeIndex]] dedups by
    * doc_id, candidate pairs are `distinct()`), spec-pinned. The
    * caller owns the one-copy-per-doc_id contract ACROSS calls — the
    * streaming sink keeps only the batch's [[unindexed]] docs
    * first — because two different texts folded in under one doc_id
    * would make later verifications pick an arbitrary copy.
    *
    * Crash-safe ordering: the `ids` MEMBERSHIP record is appended
    * LAST, after both `bands` and `sets`. A crash mid-update can
    * therefore only leave a doc with band/set rows but NO membership
    * row — the replay's already-indexed check re-folds it (duplicate
    * rows tolerated, above). The reverse ordering would be a silent
    * recall hole: a doc marked as indexed whose band rows never
    * landed is invisible to every future probe.
    *
    * Single-writer contract per index dir, like every unmanaged
    * index ([[VectorOps.annIvfQuery]]). `batchDocs` must not be a
    * plan that READS this index's paths (materialize such a frame
    * with localCheckpoint first, as the streaming sink does) — an
    * append whose input scans its own output path corrupts silently. */
  def incrementalIndexUpdate(spark: SparkSession, batchDocs: DataFrame,
                             idx: String): Unit = {
    require(VectorOps.hExists(spark, s"$idx/bands/_SUCCESS"),
      s"$idx is not a complete minhash index (crashed mid-rebuild? " +
        "re-run rebuildIndex)")
    val universe = Snapshot.read(spark, s"$idx/universe")
    val bs = batchSetsAgainst(batchDocs, universe)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // batch-sized appends (VectorOps.appendParts): inheriting the
      // shuffle partitioning writes ~32 near-empty files per trigger,
      // racing the store to its compaction threshold and parking the
      // reads on retired-file pinning — the vector sink's measured
      // step-to-plateau, same mechanics here
      val nDocs = batchDocs.count()
      Snapshot.append(minhashBands(bs).coalesce(VectorOps.appendParts(nDocs * numBands)), s"$idx/bands")
      Snapshot.append(bs.coalesce(VectorOps.appendParts(nDocs)), s"$idx/sets")
      // membership covers EVERY batch doc, not just those with
      // universe-overlapping shingles — a doc contributing zero set
      // rows is still "folded" and must not be re-processed forever
      Snapshot.append(batchDocs.select(col("doc_id"), keyBucket(col("doc_id")).as("kb"))
        .coalesce(VectorOps.appendParts(nDocs)), s"$idx/ids", "kb")
    } finally bs.unpersist()
  }

  /** Oracle: the exact near-dup pairs touching the incoming batch. */
  val dedupIncrementalSql: String =
    s"""WITH pairs AS (
       |$jaccardSql
       |)
       |SELECT doc_a, doc_b, jaccard FROM pairs
       |WHERE doc_a % 10 = 7 OR doc_b % 10 = 7""".stripMargin

  /** Cross-source duplication matrix — the contamination report a
    * corpus owner reads before mixing sources: for every (source,
    * source) pair, how many exact near-dup pairs (J ≥ [[threshold]])
    * straddle it, and how strong is the worst one. Composes the
    * exact-Jaccard pair generator with the document metadata: the
    * pair set is tiny relative to the corpus (it already survived the
    * near-dup threshold), so AQE broadcasts the pair side into the
    * two metadata attachment joins and the corpus-sized side never
    * shuffles for them — the [[fuzzyEdit]] attachment shape. The
    * aggregate uses count + max only (order-independent, exact;
    * avg-of-doubles would be partitioning-dependent). */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val meta = Tables(spark, dir, "documents").select(col("doc_id"), col("source"))
    ngramJaccard(spark, dir)
      .join(meta.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(meta.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
  }

  val sourceOverlapSql: String =
    s"""WITH pairs AS (
       |$jaccardSql
       |)
       |SELECT least(da.source, db.source) AS source_a,
       | greatest(da.source, db.source) AS source_b,
       | count(*) AS n_pairs, max(jaccard) AS max_jaccard
       |FROM pairs
       |JOIN documents da ON da.doc_id = pairs.doc_a
       |JOIN documents db ON db.doc_id = pairs.doc_b
       |GROUP BY 1, 2""".stripMargin

  /** Token length of the duplicated-substring unit for [[dedupSpans]]:
    * a span must contain a [[spanGram]]-token run that also appears in
    * some OTHER document to count as duplicated (8 matches the
    * decontamination gram — long enough that commonplace phrases don't
    * qualify, short enough that trimmed copies still overlap). */
  val spanGram = 8

  /** SUBSTRING-level dedup — the third granularity after document
    * ([[ngramJaccard]]) and containment ([[containment]]): find the
    * maximal regions of each document whose [[spanGram]]-token runs
    * also occur in another document. Document-level dedup misses a
    * unique article that embeds a widely-copied paragraph; span-level
    * reporting is what lets a pipeline CUT the duplicated region and
    * keep the rest (the "exact substring" dedup of the
    * deduplicating-training-data literature, re-expressed relationally
    * instead of via a monolithic suffix array).
    *
    * Plan shape, in corpus-scale order:
    *  1. gram extraction with positions — narrow map-side work
    *     (posexplode of the per-doc gram array);
    *  2. cross-doc grams — ONE shuffle keyed on the gram (partial
    *     count-distinct collapses each doc's repeats map-side); the
    *     surviving dup-gram set is orders of magnitude smaller than
    *     the corpus, so AQE broadcasts it back onto the gram stream
    *     (the corpus side never shuffles for the semi join);
    *  3. span assembly — gaps-and-islands over (doc, pos): a per-doc
    *     sort inside ONE doc-keyed shuffle; per-doc state is bounded
    *     by document length, never corpus size.
    * At 100 TB the gram shuffle dominates; `hashGrams = true` swaps
    * the shuffle/broadcast keys to xxhash64(gram) 8-byte longs (the
    * [[graft.operators.TextOps.decontamination]] deployment mode),
    * spec-gated by equality against this raw-gram oracle twin.
    *
    * Output: one row per maximal duplicated span,
    * (doc_id, span_start, span_end, span_tokens) in token positions
    * (0-based, end inclusive). Integer math only — hash-exact
    * cross-engine. */
  def dedupSpans(spark: SparkSession, dir: String,
                 hashGrams: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = spanGram
    val grams = kGrams(tokens(col("text")), k)
    val key = if (hashGrams) xxhash64(col("gram")) else col("gram")
    // ONE gram-keyed exchange (r17) shared by the dup-gram aggregate
    // and the semi join: the countDistinct partial already shuffled
    // ~the full (gk, doc_id) instance stream, so clustering the probe
    // side on the same exchange costs only the extra pos column while
    // deleting the second scan + gram explode AND the dup-gram-set
    // broadcast (unbounded at 100 TB — a boilerplate-heavy corpus's
    // dup-gram set is not driver-sized; partition-local semi join
    // needs no size assumption).
    val g = Tables.fanned(spark, dir, "documents")
      .select(col("doc_id"), posexplode(grams).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), key.as("gk"))
      .repartition(col("gk"))
    val dupGrams = g.groupBy(col("gk"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("gk")
    val hits = g.join(dupGrams, Seq("gk"), "left_semi")
      .select("doc_id", "pos")
    mergeSpans(hits, k)
  }

  /** Gaps-and-islands merge of duplicated k-gram START positions into
    * maximal token spans: two positions coalesce when their
    * [p, p+k−1] windows overlap or touch (p₂ ≤ end₁ + 1). One per-doc
    * ordered window — per-doc state bounded by document length.
    * Property-spec'd against a sequential reference merge. */
  private[graft] def mergeSpans(hits: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val prevEnd = max(col("pos") + (k - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("brk",
        when(prevEnd.isNull || col("pos") > prevEnd + 1, 1).otherwise(0))
      .withColumn("island",
        sum(col("brk")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"),
        (max(col("pos")) + k - min(col("pos"))).as("span_tokens"))
      .select("doc_id", "span_start", "span_end", "span_tokens")
  }

  val dedupSpansSql: String = {
    val k = spanGram
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+${k - 1}], ' ') AS gram
       |  FROM toks, unnest(generate_series(1, len(w) - ${k - 1})) AS t(i)),
       |d AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
       |h AS (SELECT doc_id, pos FROM g SEMI JOIN d USING (gram)),
       |m AS (SELECT doc_id, pos,
       |        max(pos + ${k - 1}) OVER (PARTITION BY doc_id ORDER BY pos
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |      FROM h),
       |b AS (SELECT doc_id, pos,
       |        CASE WHEN prev_end IS NULL OR pos > prev_end + 1 THEN 1 ELSE 0 END AS brk
       |      FROM m),
       |i AS (SELECT doc_id, pos,
       |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |      FROM b)
       |SELECT doc_id, min(pos) AS span_start, max(pos) + ${k - 1} AS span_end,
       |       max(pos) + $k - min(pos) AS span_tokens
       |FROM i GROUP BY doc_id, island""".stripMargin
  }

  // ---- Source-level set similarity (corpus composition analysis) ----

  /** SOURCE-level 3-gram Jaccard — "how much does source A's content
    * overlap source B's", the corpus-composition view that
    * [[sourceOverlap]]'s pair matrix (which counts DOC-level near-dup
    * pairs) cannot give: two sources can share most of their phrasing
    * without a single document pair crossing the near-dup threshold.
    *
    * One corpus-scale shuffle: grams go to their `groupBy(g)` reducer
    * where `collect_set(source)` holds AT MOST |sources| entries
    * (bounded per-gram state, partial sets merge map-side), and every
    * downstream row — per-gram source combinations, the (a,b) counts —
    * is |sources|²-bounded, never corpus-bounded. Set sizes ride the
    * SAME aggregate as the intersections: the combination generator
    * includes the (a,a) diagonal, so `n_a` is just the count of the
    * diagonal rows and no second pass over the corpus is needed. The
    * final size attachment joins a |sources|²-row table to a
    * |sources|-row table — AQE broadcasts both.
    *
    * Output: one row per UNORDERED source pair with at least one
    * shared gram: (source_a < source_b, n_a, n_b, n_inter, n_union,
    * jaccard). Counts are exact integers; jaccard is ONE double
    * division, so the DuckDB oracle reproduces it bit-for-bit. */
  def sourceJaccard(spark: SparkSession, dir: String): DataFrame = {
    val perGram = Tables.fanned(spark, dir, "documents")
      .select(col("source"), explode(distinctShingles3(col("text"))).as("g"))
      .groupBy(col("g"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))
    // ordered combinations WITH the diagonal: (ss(i), ss(j)) for i <= j
    val combos = flatten(transform(col("ss"), (x, i) =>
      transform(slice(col("ss"), i + 1, size(col("ss"))),
        y => struct(x.as("sa"), y.as("sb")))))
    val counts = perGram
      .select(explode(combos).as("p"))
      .groupBy(col("p.sa").as("sa"), col("p.sb").as("sb"))
      .agg(count(lit(1)).as("c"))
    val sizes = counts.filter(col("sa") === col("sb"))
      .select(col("sa").as("s"), col("c").as("n"))
    counts.filter(col("sa") < col("sb"))
      .join(broadcast(sizes).withColumnRenamed("s", "sa_key"),
        col("sa") === col("sa_key"))
      .withColumnRenamed("n", "n_a")
      .join(broadcast(sizes).withColumnRenamed("s", "sb_key"),
        col("sb") === col("sb_key"))
      .withColumnRenamed("n", "n_b")
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        col("n_a"), col("n_b"), col("c").as("n_inter"),
        (col("n_a") + col("n_b") - col("c")).as("n_union"),
        (col("c").cast("double") / (col("n_a") + col("n_b") - col("c")))
          .as("jaccard"))
  }

  val sourceJaccardSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT source, unnest(list_distinct(CASE WHEN len(w) >= 3
      |    THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w)-1)]
      |    ELSE [] END)) AS g
      |  FROM toks),
      |sg AS (SELECT DISTINCT source, g FROM sh),
      |sz AS (SELECT source, count(*) AS n FROM sg GROUP BY source),
      |p AS (
      |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS c
      |  FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT source_a, source_b, za.n AS n_a, zb.n AS n_b,
      |  CAST(c AS BIGINT) AS n_inter, za.n + zb.n - c AS n_union,
      |  CAST(c AS DOUBLE) / (za.n + zb.n - c) AS jaccard
      |FROM p
      |JOIN sz za ON za.source = p.source_a
      |JOIN sz zb ON zb.source = p.source_b""".stripMargin

  /** KMV sketch size for [[sourceJaccardKmv]]. Standard error of the
    * Jaccard estimate is ~√(J(1−J)/k) ≤ 0.016 at k = 1024 — tighter
    * than any mixing decision needs — while the whole sketch is 8 KB
    * per source. */
  val kmvK = 1024

  /** Max sources for [[sourceJaccardKmv]]'s single-row pair
    * generation: 10⁴ sketches × k=1024 longs ≈ 80 MB — the largest
    * row worth asking one task to hold. Above it the ids-broadcast +
    * attach-join route takes over (identical results, spec-pinned). */
  val kmvOneRowMaxSources = 10000L

  /** [[sourceJaccard]]'s 100 TB mode — a K-MINIMUM-VALUES (bottom-k)
    * sketch per source instead of exact per-pair set arithmetic.
    *
    * Why the exact op stops scaling: its per-gram state is fine, but
    * `n_inter` counts every shared gram — the shuffle's combination
    * stream carries one row per (gram, source-pair) co-occurrence,
    * which at petabyte corpora with thousands of sources is the gram
    * volume × pair multiplicity. The sketch caps EVERYTHING after the
    * first dedup at k longs per source: the k smallest xxhash64 gram
    * hashes are a uniform sample of each source's gram SET, and for
    * any pair, |kmin_k(A ∪ B) ∩ A_k ∩ B_k| / k is the classic
    * unbiased Jaccard estimate (Bar-Yossef et al.'s KMV / Beyer et
    * al.'s distinct-value sketches). Deterministic — the "sample" is
    * an order statistic of a fixed hash, no RNG — so results are
    * reproducible on any cluster and partitioning.
    *
    * Plan: ONE corpus-scale shuffle on (source, gram) for the global
    * dedup (partial aggregation collapses repeats map-side), then the
    * k-bounded heap aggregate ([[graft.functions.TopKStructs]], fed
    * `~hash` so its k-LARGEST retention keeps the k SMALLEST hashes —
    * bitwise NOT is a total order reversal with no Long.MinValue
    * overflow) reduces each source to k longs. Pair generation is
    * envelope-ROUTED on the measured source count (the
    * [[graft.operators.VectorOps.embeddingNearDupLsh]] broadcast-guard
    * playbook — a documented boundary is not a boundary until code
    * enforces it): at or under `oneRowMax` sources the |sources|
    * sketches collapse to ONE row (`collect_list`) and pairs are
    * generated by the same in-row combination transform as
    * [[sourceJaccard]] — no join of any kind, the |sources|² pair
    * arithmetic is pure projection work (~80 MB row at the 10⁴/k=1024
    * point). PAST the line the single row would not fit an executor,
    * so the fallback generates the pair skeleton from a broadcast of
    * BARE source ids (8 bytes each — tiny at any plausible source
    * count) nested-loop-joined under `source_a < source_b`, then
    * attaches both sketches by shuffle equi-joins: every row is one
    * pair + two k-long sketches, distributed across the cluster, and
    * the id list is re-derived by a one-column distinct rather than
    * re-running the corpus shuffle. Same arithmetic, identical rows —
    * the fallback-equality spec pins it.
    *
    * No SQL oracle (xxhash64 has no DuckDB twin — the
    * [[simhash]] precedent); gated by the QueriesSpec error-bound
    * assertion against [[sourceJaccard]] plus [0,1] sanity here.
    * Output: (source_a, source_b, k_used, matches, jaccard_est) for
    * EVERY pair (the sketch sees disjoint sources too — est 0). */
  /** Per-dir cache for the route-picking source count: the count is a
    * ROUTE input (structural — which pair-generation plan to build),
    * so it must run eagerly, but repeat calls over the same data dir
    * (bench loops, Verify, the audit) should not re-pay a corpus scan
    * for a number that cannot change under them. Keyed by dir PLUS a
    * content stamp of documents.parquet (per-file name/length/mtime —
    * the [[VectorOps]] index-cache freshness signal), so a
    * corpus regenerated IN PLACE under the same path in one JVM gets
    * a fresh count instead of silently serving a stale route choice
    * (one-row vs pair plan). */
  private val sourceCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def sourceCountKey(dir: String): String =
    dir + "#" + java.lang.Long.toHexString(
      graft.Tables.contentStamp(new java.io.File(s"$dir/documents.parquet")))

  def sourceJaccardKmv(spark: SparkSession, dir: String,
                       k: Int = kmvK,
                       oneRowMax: Long = kmvOneRowMaxSources): DataFrame = {
    import graft.functions.TopKColumns.topKStructs
    val docs = Tables(spark, dir, "documents")
    val nSources: Long = sourceCountCache.computeIfAbsent(sourceCountKey(dir),
      _ => docs.agg(count_distinct(col("source"))).first().getLong(0))
    val sk = docs
      .select(col("source"), explode(distinctShingles3(col("text"))).as("g"))
      .groupBy(col("source"), col("g")).agg(count(lit(1)).as("dup"))
      .select(col("source"), bitwise_not(xxhash64(col("g"))).as("nh"))
      .groupBy(col("source"))
      .agg(topKStructs(struct(col("nh")), k).as("hs"))
      // heap output is ~h descending = h ASCENDING: kmin is sorted
      .select(col("source"), transform(col("hs"), s => bitwise_not(s("nh"))).as("kmin"))
    val pairs = if (nSources <= oneRowMax) {
      val one = sk.agg(sort_array(collect_list(struct(col("source"), col("kmin")))).as("all"))
      one.select(explode(flatten(transform(col("all"), (x, i) =>
          transform(slice(col("all"), i + 2, size(col("all"))),
            y => struct(x.as("a"), y.as("b")))))).as("p"))
        .select(col("p.a.source").as("source_a"), col("p.b.source").as("source_b"),
          col("p.a.kmin").as("ka"), col("p.b.kmin").as("kb"))
    } else {
      // oversized-envelope route: ids-only broadcast skeleton + two
      // sketch attach joins — no giant row anywhere in the plan
      val ids = docs.select(col("source").as("source_b")).distinct()
      sk.select(col("source").as("source_a"), col("kmin").as("ka"))
        .join(broadcast(ids), col("source_a") < col("source_b"))
        .join(sk.select(col("source").as("source_b"), col("kmin").as("kb")),
          Seq("source_b"))
    }
    pairsToEstimates(pairs, k)
  }

  /** Sketch-pair → (k_used, matches, jaccard_est) arithmetic shared by
    * both [[sourceJaccardKmv]] routes. */
  private def pairsToEstimates(pairs: DataFrame, k: Int): DataFrame = {
    // k smallest of the merged sketch; if the true union is smaller
    // than k the sketch IS the union and the estimate is exact
    val merged = array_sort(array_union(col("ka"), col("kb")))
    val kk = least(lit(k), size(merged))
    val x = size(array_intersect(slice(merged, lit(1), kk),
      array_intersect(col("ka"), col("kb"))))
    pairs.select(col("source_a"), col("source_b"),
      kk.cast("long").as("k_used"), x.cast("long").as("matches"),
      (x.cast("double") / kk.cast("double")).as("jaccard_est"))
  }
}
