package graft.perfbench

import graft.Tables
import graft.functions.{DHashKernel, MinHashKernel, SimHashKernel, TextKernel, VecOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Direct timed calls to the kernel objects of `graft.functions` on
  * the workload's documents and embeddings, outside Spark: the cost of
  * the kernel alone, per document, pair or image. Each kernel runs
  * over the whole input `reps` times; the figure is the median rep. */
object Kernels {
  def measure(spark: SparkSession, dir: String, rec: Record, reps: Int = 5): Unit = {
    val texts = Tables(spark, dir, "documents").select("text").collect().map(r => UTF8String.fromString(r.getString(0)))
    val vecs = Tables(spark, dir, "embeddings").select("embedding").collect()
      .map(r => UnsafeArrayData.fromPrimitiveArray(r.getSeq[Float](0).toArray): ArrayData)
    val images = texts.map(_.getBytes).filter(_.length >= DHashKernel.minPixels)
    val shingles = texts.map(TextKernel.distinctShingles3)
    var sink = 0L

    def perItem(n: Int)(body: => Unit): Double =
      Harness.median((1 to reps).map { _ =>
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0).toDouble / n
      })

    rec.num("functions.shingles_ns_per_doc", perItem(texts.length) {
      texts.foreach(t => sink += TextKernel.distinctShingles3(t).numElements())
    })
    rec.num("functions.minhash_ns_per_doc", perItem(shingles.length) {
      shingles.foreach(s => sink += MinHashKernel.sig(s).getLong(0))
    })
    rec.num("functions.simhash_ns_per_doc", perItem(shingles.length) {
      shingles.foreach(s => sink += SimHashKernel.sig(s))
    })
    val window = 64
    val pairs = vecs.length * math.min(window, vecs.length - 1)
    rec.num("functions.vec_dist_ns_per_pair", perItem(math.max(1, pairs)) {
      var i = 0
      while (i < vecs.length) {
        var j = 1
        while (j <= window && j < vecs.length) {
          sink += VecOps.distSq(vecs(i), true, vecs((i + j) % vecs.length), true).toLong
          j += 1
        }
        i += 1
      }
    })
    rec.num("functions.dhash_ns_per_image", perItem(math.max(1, images.length)) {
      images.foreach(b => sink += DHashKernel.hash(b, 0))
    })
    blackhole = sink
  }

  /** Keeps the timed results live so the JIT cannot drop the calls. */
  @volatile var blackhole: Long = 0L
}
