package graft

import org.apache.spark.sql.functions._

/** Dedicated skew-stress harness for the q_skew_shuffle pair: builds
  * (once) an events-only directory at N× the source scale and times
  * the salted vs unsalted forced-shuffle-merge join on it
  * (`sbt "runMain graft.SkewBench <srcSf> <dstDir> [copies]"`).
  *
  * Rationale: skew cost is linear in the HOT PARTITION's size, while
  * salting pays a fixed overhead (wider sort key, ×salts dim
  * replication). Below a few million hot rows the overhead wins and
  * salting LOSES — the measured sf1 bench shows exactly that
  * (salted 1.16s vs unsalted 0.53s at 0.7M hot rows). This harness
  * measures the regime a 100 TB operator actually fears, where one
  * reducer's sort dominates the stage wall-clock; the crossover point
  * itself is the documented result (SURVEY §6).
  */
object SkewBench {
  val timedRuns = 3

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/tmp/sf1")
    val dst = args.lift(1).getOrElse("/tmp/skewx10")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.local(GraftSession.cpus,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")

    // _SUCCESS marker, not bare directory existence: a crashed prior
    // run leaves a partial directory that would be silently reused,
    // making the measured skew numbers wrong for that dst
    if (!new java.io.File(s"$dst/events.parquet/_SUCCESS").isFile) {
      // events-only copy of ScaleData's key-offset scheme (the full
      // scaler regenerates every table; this harness needs one)
      val ev = spark.read.parquet(s"$src/events.parquet")
      val span = ev.agg(max(col("event_id")).cast("long")).first().getLong(0) + 1L
      (0 until copies).map(c =>
        ev.withColumn("event_id", col("event_id") + lit(c * span)))
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$dst/events.parquet")
    }
    val n = spark.read.parquet(s"$dst/events.parquet").count()

    def runOnce(salted: Boolean): Double = {
      val t0 = System.nanoTime()
      operators.EventOps.skewShuffleJoin(spark, dst, salted = salted).count()
      (System.nanoTime() - t0) / 1e9
    }
    def timeOf(salted: Boolean): Double =
      (1 to timedRuns).map(_ => runOnce(salted)).min

    runOnce(salted = true); runOnce(salted = false) // warm both plans (untimed)
    val salted = timeOf(true)
    val unsalted = timeOf(false)
    println(s"""{"metric":"skew_stress","events":$n,"hot_share":0.7,""" +
      s""""salted_sec":$salted,"unsalted_sec":$unsalted,""" +
      s""""speedup":${unsalted / salted}}""")
    spark.stop()
  }
}
