package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The Bench warm-up keeps its failures: a query that throws while
  * warming is recorded in the artifact's `error_causes`. */
class BenchSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("a warm-up over a missing directory lands in error_causes under warmup") {
    val missing = Files.createTempDirectory("graft-warm").toString + "/absent"
    val q = Seq("q6_filter" -> SparkEntry.queries("q6_filter"))
    val warm = Bench.warmUp(spark, q, missing)
    assert(warm.map(_._1) === Seq("q6_filter"))
    val json = Bench.errorCausesJson(Map.empty[String, Throwable], warm)
    assert(json.startsWith("""{"q6_filter":{"warmup":{"class":"""), json)
    assert(json.contains(missing), json)
    // a query that failed its timed runs too keeps both causes
    val both = Bench.errorCausesJson(Map("q6_filter" -> new IllegalStateException("timed")), warm)
    assert(both.startsWith(
      """{"q6_filter":{"class":"java.lang.IllegalStateException","message":"timed","warmup":{"""), both)
    assert(Bench.warmUp(spark, q, SparkSpec.sf).isEmpty)
  }
}
