package graft

import graft.functions.{MisraGriesAgg, TopKStructs, VecSumQuant}
import graft.functions.FreqColumns.mgTopFreq
import graft.functions.TopKColumns.topKStructs
import graft.functions.VecSumQuant.vecSumQuant
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Seeded properties of the custom aggregates, the invariants AQE
  * re-planning relies on: partial buffers merge associatively and
  * commutatively into the one-buffer result, a buffer survives
  * serialize → deserialize, and a grouped result is the same over 1, 3
  * and 7 partitions of shuffled input. Misra-Gries counters are
  * order-free only while the distinct items fit in k; beyond that its
  * guarantee (not its exact counters) is what every merge order keeps. */
class AggregatePropertySpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def check(prop: Prop, tests: Int): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(tests)
      .withInitialSeed(Seed(20261019L)), prop)
    assert(r.passed, org.scalacheck.util.Pretty.pretty(r))
  }

  /** The merge laws of `agg` over three generated input chunks, plus
    * the serialize round-trip; `out` reads an evaluated result. */
  private def bufferLaws[B](agg: TypedImperativeAggregate[B], row: Gen[InternalRow],
                            out: Any => Any): Unit = {
    // a fresh buffer per use: merge and update mutate their first argument
    def buf(rows: Seq[InternalRow]) = rows.foldLeft(agg.createAggregationBuffer())(agg.update)
    def res(b: B) = out(agg.eval(b))
    val chunk = Gen.choose(0, 40).flatMap(Gen.listOfN(_, row))
    check(Prop.forAllNoShrink(chunk, chunk, chunk) { (a, b, c) =>
      val whole = res(buf(a ++ b ++ c))
      res(agg.merge(agg.merge(buf(a), buf(b)), buf(c))) == whole &&
        res(agg.merge(buf(a), agg.merge(buf(b), buf(c)))) == whole &&
        res(agg.merge(buf(b), buf(a))) == res(agg.merge(buf(a), buf(b))) &&
        res(agg.deserialize(agg.serialize(buf(a ++ b)))) == res(buf(a ++ b))
    }, 100)
  }

  /** `query` over `rows`, shuffled by `seed`, in 1, 3 and 7 partitions. */
  private def overPartitionings(rows: Seq[Row], schema: StructType, seed: Long)
                               (query: DataFrame => DataFrame): Seq[Seq[String]] = {
    val shuffled = new scala.util.Random(seed).shuffle(rows)
    Seq(1, 3, 7).map { p =>
      query(spark.createDataFrame(spark.sparkContext.parallelize(shuffled, p), schema))
        .collect().map(_.toString).sorted.toSeq
    }
  }

  private val pairType = new StructType().add("v", LongType).add("id", LongType)

  test("TopKStructs: merges are associative and commutative, buffers round-trip, " +
    "results ignore partitioning (property)") {
    val topK = TopKStructs(BoundReference(0, pairType, nullable = true), Literal(5))
    // small value range: ties on v are broken by id, duplicates allowed
    val row = Gen.zip(Gen.choose(0L, 20L), Gen.choose(0L, 50L))
      .map { case (v, id) => InternalRow(InternalRow(v, id)) }
    bufferLaws(topK, row, a => a.asInstanceOf[ArrayData].toSeq[InternalRow](pairType)
      .map(r => (r.getLong(0), r.getLong(1))))
    val data = Gen.choose(1, 200).flatMap(Gen.listOfN(_,
      Gen.zip(Gen.choose(0, 4), Gen.choose(0L, 100L), Gen.choose(0L, 1000L))))
    val schema = new StructType().add("g", IntegerType).add("v", LongType).add("id", LongType)
    check(Prop.forAllNoShrink(data, Gen.long) { (rows, seed) =>
      val runs = overPartitionings(rows.map { case (g, v, id) => Row(g, v, id) }, schema, seed) {
        _.groupBy("g").agg(topKStructs(struct(col("v"), col("id")), 7).as("top"))
      }
      runs.distinct.size == 1
    }, 3)
  }

  test("KMV mode: the sketch is the k smallest distinct hashes over any partitioning (property)") {
    val data = Gen.choose(1, 300).flatMap(Gen.listOfN(_,
      Gen.zip(Gen.choose(0, 2), Gen.choose(0, 400).map(i => s"w$i"))))
    val schema = new StructType().add("source", IntegerType).add("g", StringType)
    val k = 16
    check(Prop.forAllNoShrink(data, Gen.long) { (rows, seed) =>
      // sourceJaccardKmv's sketch: the heap keeps the k LARGEST ~h, i.e.
      // the k smallest hashes of the source's distinct shingles
      val runs = overPartitionings(rows.map { case (s, g) => Row(s, g) }, schema, seed) {
        _.distinct().select(col("source"), bitwise_not(xxhash64(col("g"))).as("nh"))
          .groupBy("source").agg(topKStructs(struct(col("nh")), k).as("hs"))
          .select(col("source"), transform(col("hs"), s => bitwise_not(s("nh"))).as("kmin"))
      }
      val expected = spark.createDataFrame(spark.sparkContext.parallelize(
          rows.map { case (s, g) => Row(s, g) }), schema)
        .groupBy("source")
        .agg(slice(array_sort(collect_set(xxhash64(col("g")))), 1, k).as("kmin"))
        .collect().map(_.toString).sorted.toSeq
      runs.forall(_ == expected)
    }, 3)
  }

  test("Misra-Gries: exact and order-free while the items fit in k; its bounds hold " +
    "under any merge order and partitioning (property)") {
    def mg(k: Int) = MisraGriesAgg(BoundReference(0, LongType, nullable = true), Literal(k))
    def counters(a: Any) = a.asInstanceOf[ArrayData]
      .toSeq[InternalRow](new StructType().add("item", LongType).add("est", LongType))
      .map(r => (r.getLong(0), r.getLong(1)))
    // at most 8 distinct items against k = 8: no decrement ever fires
    bufferLaws(mg(8), Gen.choose(0L, 7L).map(i => InternalRow(i)), counters)

    // past k, a survivor's estimate undercounts by at most n/(k+1) and
    // every item above that share survives — whatever the merge shape
    val k = 4
    val agg = mg(k)
    def buf(items: Seq[Long]) =
      items.foldLeft(agg.createAggregationBuffer())((b, i) => agg.update(b, InternalRow(i)))
    def bounded(items: Seq[Long], est: Seq[(Long, Long)]): Boolean = {
      val count = items.groupBy(identity).map { case (i, xs) => i -> xs.size.toLong }
      val slack = items.size / (k + 1)
      est.forall { case (i, e) => e <= count(i) && e >= count(i) - slack } &&
        count.forall { case (i, c) => c <= slack || est.exists(_._1 == i) }
    }
    // skewed: a few heavy items over a long tail
    val item = Gen.frequency(3 -> Gen.choose(0L, 2L), 2 -> Gen.choose(3L, 40L))
    val chunk = Gen.choose(0, 60).flatMap(Gen.listOfN(_, item))
    check(Prop.forAllNoShrink(chunk, chunk, chunk) { (a, b, c) =>
      val all = a ++ b ++ c
      Seq(agg.merge(agg.merge(buf(a), buf(b)), buf(c)),
        agg.merge(buf(c), agg.merge(buf(b), buf(a))),
        agg.deserialize(agg.serialize(buf(all))))
        .forall(m => bounded(all, counters(agg.eval(m))))
    }, 100)

    val schema = new StructType().add("item", LongType)
    check(Prop.forAllNoShrink(Gen.choose(1, 400).flatMap(Gen.listOfN(_, item)), Gen.long) {
      (items, seed) =>
        val shuffled = new scala.util.Random(seed).shuffle(items)
        Seq(1, 3, 7).forall { p =>
          val est = spark.createDataFrame(
              spark.sparkContext.parallelize(shuffled.map(Row(_)), p), schema)
            .agg(mgTopFreq(col("item"), k).as("mg")).head()
            .getSeq[Row](0).map(r => (r.getLong(0), r.getLong(1)))
          bounded(items, est)
        }
    }, 3)
  }

  test("VecSumQuant: merges are associative and commutative, buffers round-trip, " +
    "sums ignore partitioning (property)") {
    val vecType = ArrayType(DoubleType, containsNull = false)
    val vec = Gen.listOfN(4, Gen.choose(-5.0, 5.0))
    bufferLaws(VecSumQuant(BoundReference(0, vecType, nullable = true)),
      vec.map(v => InternalRow(new GenericArrayData(v.toArray))),
      a => a.asInstanceOf[ArrayData].toLongArray().toSeq)
    val schema = new StructType().add("g", IntegerType).add("v", vecType)
    check(Prop.forAllNoShrink(Gen.choose(1, 200).flatMap(Gen.listOfN(_,
        Gen.zip(Gen.choose(0, 4), vec))), Gen.long) { (rows, seed) =>
      val runs = overPartitionings(rows.map { case (g, v) => Row(g, v) }, schema, seed) {
        _.groupBy("g").agg(vecSumQuant(col("v")).as("qs"))
      }
      runs.distinct.size == 1
    }, 3)
  }
}
