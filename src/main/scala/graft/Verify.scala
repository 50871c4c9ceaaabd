package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the DuckDB compare (tools/check.py), and
  * errors.json (name → {class, message} of each query that failed). */
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
    val failed = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      if (!want(name)) None
      else
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> e)
        }
    }
    import HostStat.jsonString
    def jsonObj(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s"${jsonString(k)}: $v" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), jsonObj(
      SparkEntry.oracleSql.filter(kv => want(kv._1)).map { case (k, v) => k -> jsonString(v) }))
    // name -> {class, message} of each failed query: the cause stays
    // with the dump, not only on stderr
    Files.writeString(Paths.get(s"$outDir/errors.json"), jsonObj(failed.map { case (name, e) =>
      name -> jsonObj(Seq("class" -> jsonString(e.getClass.getName),
        "message" -> jsonString(String.valueOf(e.getMessage))))
    }))
    spark.stop()
  }
}
