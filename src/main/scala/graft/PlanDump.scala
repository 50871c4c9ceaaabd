package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for named queries (or all) to files —
  * the optimization-round evidence trail (plans/rNN/<query>_before/
  * _after.txt). Usage:
  * `runMain graft.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]`. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <sfDir> <outDir> <suffix> [names]")
    val Array(sfDir, outDir, suffix) = args.take(3)
    val names: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).filter(_.nonEmpty).toSet
      else SparkEntry.queries.keySet
    val spark = GraftSession.local(GraftSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (names(name)) {
        val p =
          try fn(spark, sfDir).queryExecution
            .explainString(ExplainMode.fromString("formatted"))
          catch { case e: Throwable => s"PLAN FAILED: $e" }
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), p)
      }
    }
    spark.stop()
  }
}
