package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): times every SparkEntry query at
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Each query is warmed once at sf0.001 first (untimed; a warm-up
  * failure is kept in the artifact's `error_causes`), then timed
  * three times at the target SF in deterministic (sorted) order. The
  * headline per-query number is the minimum — steady-state operator
  * cost, not JIT/GC noise — and a "spread" map carries [min, max] per
  * query so a sub-second wobble between rounds is classifiable as
  * run-to-run variance without a re-run.
  *
  * Optional args restrict the run to the named queries (iteration
  * aid); the driver's no-args invocation times the full suite.
  *
  * Every recorded wall carries its host-state evidence (the round-14
  * lesson — recorded ledgers and isolated attribution runs
  * contradicted each other inside a 2x band with no way to tell a
  * regression from a degraded host session): the artifact embeds the
  * host CPU-steal tick delta per query (over its timed runs) and for
  * the whole run, the SinkBench discipline. A +20% wall with
  * steal ≈ 0 is a plan change; the same wall under a steal burst is
  * the box.
  */
object Bench {
  /** Timed passes per query (min is the headline). Overridable via
    * SPARK_GRAFT_BENCH_RUNS for the big-SF convention (two ISOLATED
    * single-pass JVM runs, min merged across them — at sf10 a
    * min-of-3 inside one JVM costs ~18 min and page-cache order
    * effects dominate anyway). */
  val timedRuns: Int = sys.env.get("SPARK_GRAFT_BENCH_RUNS") match {
    case None => 3
    case Some(s) =>
      val n = scala.util.Try(s.trim.toInt).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_BENCH_RUNS must be an integer >= 1, got '$s'"))
      require(n >= 1, s"SPARK_GRAFT_BENCH_RUNS must be >= 1, got $n")
      n
  }

  def main(args: Array[String]): Unit = {
    val stealStart = HostStat.readStealTicks()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = "/root/testdata/sf0.001"
    val spark = GraftSession.local(GraftSession.cpus)

    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    val queries = if (args.isEmpty) all else {
      val want = args.toSet
      val unknown = want -- all.map(_._1).toSet
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
      all.filter { case (n, _) => want(n) }
    }
    val warmCauses = warmUp(spark, queries, warmDir)

    // A query that throws reports -1 (never a misleading elapsed time)
    // and is listed under "errors"; its first exception is kept for the
    // artifact's "error_causes".
    val causes = scala.collection.mutable.LinkedHashMap.empty[String, Throwable]
    val results = queries.map { case (name, fn) =>
      val qSteal0 = HostStat.readStealTicks()
      val runs = (1 to timedRuns).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case e: Throwable => causes.getOrElseUpdate(name, e); false }
        (ok, (System.nanoTime() - t0) / 1e9)
      }
      val qSteal = HostStat.deltaJson(qSteal0, HostStat.readStealTicks())
      if (runs.forall(_._1)) (name, runs.map(_._2).min, runs.map(_._2).max, qSteal)
      else (name, -1.0, -1.0, qSteal)
    }
    // STDOUT gets a COMPACT line (ms resolution, minima only): the
    // driver keeps a bounded tail of stdout, and both BENCH_r03 and
    // BENCH_r04 lost the line's head — full-precision doubles plus the
    // [min,max] spread map pushed it past the capture window. The full-
    // precision line (with the spread) goes to the file artifact.
    def ms(v: Double): String = // Locale.ROOT: a comma decimal separator is not JSON
      if (v < 0) "-1"
      else java.lang.String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qsCompact = results.map { case (k, v, _, _) => "\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val spread = results.map { case (k, lo, hi, _) => "\"" + k + "\":[" + lo + "," + hi + "]" }
      .mkString("{", ",", "}")
    val steal = results.map { case (k, _, _, s) => "\"" + k + "\":" + s }
      .mkString("{", ",", "}")
    val errors = results.collect { case (k, v, _, _) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    val stealTotal = HostStat.deltaJson(stealStart, HostStat.readStealTicks())
    println(s"""{"metric":"total","value":${ms(total)},"unit":"sec","steal_ticks":$stealTotal,"queries":$qsCompact,"errors":$errors,"sf":"$sfDir"}""")
    // The driver keeps only a bounded (2000-char) tail of stdout, and
    // sbt's "[success] Total time" trailer eats ~80 of it. The full
    // compact line above outgrew that window at 134 queries (r15 lost
    // its head — metric, total, and the first 50 queries — and failed
    // to parse). So the LAST line is a byte-budgeted summary that
    // always fits. r17 hardening (the r16 advice): the WHOLE line is
    // budgeted — fixed prefix, errors array (itself capped), and
    // steal JSON are measured and subtracted before the slowest
    // per-query entries fill what remains — and the line carries its
    // own metric tag ("total_summary") so a consumer scanning for the
    // first "metric":"total" cannot mistake the truncated full line
    // for the summary.
    val lineBudget = 1900 // 2000-char capture window minus the sbt trailer margin
    val allErrs = results.collect { case (k, v, _, _) if v < 0 => k }
    // cap the errors array the same way as the queries map: names
    // until ~400 bytes, then a count of the rest
    val errKept = scala.collection.mutable.ArrayBuffer.empty[String]
    var errUsed = 0
    allErrs.foreach { k =>
      if (errUsed + k.length + 3 <= 400) { errKept += k; errUsed += k.length + 3 }
    }
    val errsJson = errKept.map("\"" + _ + "\"").mkString("[", ",", "]")
    def prefix(omitted: Int, keptMap: String) =
      s"""{"metric":"total_summary","value":${ms(total)},"unit":"sec","n_queries":${results.size},"queries_omitted":$omitted,"errors_omitted":${allErrs.size - errKept.size},"steal_ticks":$stealTotal,"queries":$keptMap,"errors":$errsJson,"sf":"$sfDir"}"""
    val fixedLen = prefix(results.size, "{}").length
    val budget = math.max(0, lineBudget - fixedLen)
    val bySlow = results.filter(_._2 >= 0).sortBy(-_._2)
    val kept = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var used = 0
    bySlow.foreach { case (k, v, _, _) =>
      val len = k.length + ms(v).length + 4 // quotes + colon + comma
      if (used + len <= budget) { kept += ((k, v)); used += len }
    }
    val keptMap = kept.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + ms(v) }.mkString("{", ",", "}")
    val omitted = results.count(_._2 >= 0) - kept.size
    println(prefix(omitted, keptMap))
    // Defensive full-precision copy: a truncated stdout capture must
    // not lose the round's numbers.
    val errorCauses = errorCausesJson(causes, warmCauses)
    val line = s"""{"metric":"total","value":$total,"unit":"sec","steal_ticks":$stealTotal,"queries":$qs,"spread":$spread,"steal":$steal,"errors":$errors,"error_causes":$errorCauses,"sf":"$sfDir"}"""
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench-results.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] artifact write failed: $e") }
    spark.stop()
  }

  /** Runs each query once over `dir`, untimed, and returns the first
    * failure of every query that threw. */
  private[graft] def warmUp(spark: SparkSession,
                            queries: Seq[(String, (SparkSession, String) => DataFrame)],
                            dir: String): Seq[(String, Throwable)] =
    queries.flatMap { case (name, fn) =>
      try { fn(spark, dir).count(); None } catch { case e: Throwable => Some(name -> e) }
    }

  /** The artifact's `error_causes`: per failing query, the first
    * timed-run exception (`class`, `message`) and, when the warm-up
    * failed too, its exception under `warmup`. */
  private[graft] def errorCausesJson(timed: collection.Map[String, Throwable],
                                     warm: Seq[(String, Throwable)]): String = {
    import HostStat.jsonString
    def cause(e: Throwable) =
      s""""class":${jsonString(e.getClass.getName)},"message":${jsonString(String.valueOf(e.getMessage))}"""
    val warmOf = warm.toMap
    (timed.keys ++ warm.map(_._1)).toSeq.distinct.map { k =>
      val fields = timed.get(k).map(cause).toSeq ++
        warmOf.get(k).map(e => s""""warmup":{${cause(e)}}""")
      jsonString(k) + fields.mkString(":{", ",", "}")
    }.mkString("{", ",", "}")
  }
}
