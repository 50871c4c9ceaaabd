package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic scale-up of the driver testdata: writes an N×
  * (default 10×) copy of a source SF directory, preserving referential
  * integrity and the *per-copy* statistical structure so every
  * operator's work grows ~linearly and plan shapes can be compared
  * across scales (`sbt "runMain graft.ScaleData <src> <dst> [copies]"`).
  *
  * Design per table (copy c of N, c = 0 is the original):
  *  - region/nation: dimensions — copied once, like TPC-H, which
  *    never scales them.
  *  - customer/supplier/part/orders/lineitem/events: every key column
  *    is offset by c·(max_key+1) consistently on both sides of each
  *    FK, so joins hold within a copy and copies are disjoint.
  *  - documents: doc_id offset; for c > 0 every token gets a `_c<N>`
  *    suffix. A bijective token remap preserves each copy's internal
  *    shingle/near-dup structure exactly (near-dup pairs scale ×N,
  *    never ×N², which naive duplication would cause — every doc
  *    would be an exact dup of its 9 siblings), while cross-copy
  *    shingle overlap is zero. Per-shingle df is unchanged (max 25
  *    at sf0.1, far under the 20%-of-corpus cap at either scale), so
  *    the df-capped universe behaves identically. CAVEAT: token-level
  *    LEXICAL stats do shift for c > 0 — suffixed tokens no longer
  *    match stopword/marker lists (stop_ratio → 0, so quality scores
  *    rise) and grow ~3 chars (docs near the 100-char stratum
  *    boundary change stratum). Set-similarity structure is what this
  *    scaler preserves; operators keyed on lexical constants see the
  *    suffixed copies as different (valid, but differently
  *    distributed) text, which is fine for throughput measurement and
  *    wrong for semantic ×N claims — don't make them.
  *  - embeddings: vec_id offset; coordinates multiplied by a per-copy
  *    deterministic ±1 sign pattern (copy 0 = identity). Sign flips
  *    preserve WITHIN-copy cosines bit-exactly (s_i² = 1 in every
  *    term of the dot product), so near-dup pairs again scale ×N,
  *    while cross-copy cosines decorrelate to ~0 — no quadratic pair
  *    blow-up, and the ann_* query vectors (vec_id < 10, copy 0) are
  *    untouched.
  */
object ScaleData {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.local(GraftSession.cpus,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")

    def write(t: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scale] $t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }

    /** Span for a key column: max + 1 (the per-copy offset unit). */
    def span(df: DataFrame, key: String): Long =
      df.agg(max(col(key)).cast("long")).first().getLong(0) + 1L

    /** N copies with per-copy key offsets applied to `keys`. The cast
      * back to the column's original dtype runs with ANSI off, so an
      * overflowing key would WRAP SILENTLY and corrupt FK integrity —
      * assert the largest offset value fits the target dtype first
      * (multiplyExact also rejects long-range overflow of the offsets
      * themselves). */
    def offsetCopies(df: DataFrame, keys: Map[String, Long]): DataFrame = {
      keys.foreach { case (k, s) =>
        val top = Math.addExact(Math.multiplyExact((copies - 1).toLong, s), s - 1L)
        // closed dtype list: an unknown narrow type falling through to
        // a Long ceiling would re-admit the silent wrap this guard
        // exists to reject
        val ceiling = df.schema(k).dataType match {
          case org.apache.spark.sql.types.LongType    => Long.MaxValue
          case org.apache.spark.sql.types.IntegerType => Int.MaxValue.toLong
          case org.apache.spark.sql.types.ShortType   => Short.MaxValue.toLong
          case org.apache.spark.sql.types.ByteType    => Byte.MaxValue.toLong
          case other => throw new IllegalArgumentException(
            s"key '$k' has unsupported dtype $other for offset scaling")
        }
        require(top <= ceiling,
          s"key '$k': max offset key $top overflows ${df.schema(k).dataType} " +
            s"($copies copies x span $s) — promote the column to long or reduce copies")
      }
      (0 until copies).map { c =>
        keys.foldLeft(df) { case (acc, (k, s)) =>
          acc.withColumn(k, (col(k) + lit(c * s)).cast(acc.schema(k).dataType))
        }
      }.reduce(_ unionAll _)
    }

    // dimensions: single copy
    write("region", read("region"))
    write("nation", read("nation"))

    val cust = read("customer"); val custSpan = span(cust, "c_custkey")
    val supp = read("supplier"); val suppSpan = span(supp, "s_suppkey")
    val part = read("part");     val partSpan = span(part, "p_partkey")
    val ord  = read("orders");   val ordSpan  = span(ord, "o_orderkey")

    write("customer", offsetCopies(cust, Map("c_custkey" -> custSpan)))
    write("supplier", offsetCopies(supp, Map("s_suppkey" -> suppSpan)))
    write("part", offsetCopies(part, Map("p_partkey" -> partSpan)))
    write("orders", offsetCopies(ord,
      Map("o_orderkey" -> ordSpan, "o_custkey" -> custSpan)))
    write("lineitem", offsetCopies(read("lineitem"),
      Map("l_orderkey" -> ordSpan, "l_partkey" -> partSpan, "l_suppkey" -> suppSpan)))

    val ev = read("events")
    write("events", offsetCopies(ev,
      Map("event_id" -> span(ev, "event_id"), "user_id" -> span(ev, "user_id"))))

    // documents: bijective per-copy token remap (structure-preserving)
    val docs = read("documents")
    val docSpan = span(docs, "doc_id")
    def suffixed(c: Int): Column =
      if (c == 0) col("text")
      else concat_ws(" ", transform(split(col("text"), " "),
        t => when(t === "", t).otherwise(concat(t, lit(s"_c$c")))))
    write("documents", (0 until copies).map { c =>
      docs.withColumn("doc_id", col("doc_id") + lit(c * docSpan))
        .withColumn("text", suffixed(c))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }.reduce(_ unionAll _))

    // embeddings: per-copy ±1 sign pattern (copy 0 = identity)
    val emb = read("embeddings")
    val vecSpan = span(emb, "vec_id")
    def signs(c: Int): Seq[Float] = {
      val rnd = new scala.util.Random(7700 + c)
      if (c == 0) Seq.fill(64)(1f) else Seq.fill(64)(if (rnd.nextBoolean()) 1f else -1f)
    }
    write("embeddings", (0 until copies).map { c =>
      emb.withColumn("vec_id", col("vec_id") + lit(c * vecSpan))
        .withColumn("embedding",
          zip_with(col("embedding"), typedlit(signs(c)), (x, s) => x * s))
    }.reduce(_ unionAll _))

    spark.stop()
  }
}
