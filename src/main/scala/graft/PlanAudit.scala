package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Plan-health report over every library query: shuffle and broadcast
  * counts plus forbidden-pattern flags (cartesian products, corpus
  * nested loops). The per-query shuffle count is the number to watch
  * when reviewing a change for 100 TB readiness — a new Exchange in a
  * hot query is a regression even when results still match.
  *
  * The report is also a REGRESSION GATE: `PlanBaselineSpec` diffs
  * [[audit]] output against the checked-in golden
  * `src/test/resources/plan-baseline.txt`, so any plan-shape change
  * (new shuffle, lost broadcast, forbidden join) fails `sbt test`
  * unless the baseline is updated in the same commit.
  *
  * Usage: `sbt "runMain graft.PlanAudit [sfDir]"`.
  */
object PlanAudit {

  final case class Entry(name: String, shuffles: Int, broadcasts: Int, flags: String) {
    /** Stable one-line form used for the golden baseline diff. */
    def line: String =
      s"$name shuffles=$shuffles broadcasts=$broadcasts" +
        (if (flags.isEmpty) "" else s" flags=$flags")
  }

  private val nodeRe = """\(\d+\) (\w+)""".r

  /** Audit every SparkEntry query's physical plan at `sfDir` (plans
    * only — queries are planned, not executed, except operators whose
    * construction itself runs jobs, e.g. iterative dedup_clusters). */
  def audit(spark: SparkSession, sfDir: String): Seq[Entry] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val p = fn(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      val nodes = nodeRe.findAllMatchIn(p).map(_.group(1)).toSeq
      val shuffles = nodes.count(_ == "Exchange")
      val bcasts = nodes.count(_ == "BroadcastExchange")
      val flags = Seq(
        Option.when(nodes.contains("CartesianProduct"))("CARTESIAN"),
        Option.when(nodes.contains("BroadcastNestedLoopJoin"))("BNLJ"))
        .flatten.mkString(",")
      Entry(name, shuffles, bcasts, flags)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(GraftSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    println(f"${"query"}%-24s shuffles broadcasts flags")
    audit(spark, sfDir).foreach { e =>
      println(f"${e.name}%-24s ${e.shuffles}%8d ${e.broadcasts}%10d ${e.flags}")
    }
    spark.stop()
  }
}
