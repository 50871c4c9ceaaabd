package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional comma-separated subset (3rd arg): the big-SF oracle
    // gates run the DuckDB-feasible entries only (the O(n²)-oracle
    // dedup families are spec-gated instead) — the driver's full
    // 2-arg invocation is unchanged
    val only = args.lift(2).map(_.split(",").map(_.trim).toSet)
    def want(n: String) = only.forall(_.contains(n))
    val spark = GraftSession.local(GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (want(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    import HostStat.jsonString
    val json = SparkEntry.oracleSql.filter(kv => want(kv._1))
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
