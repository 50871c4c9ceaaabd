package graft

import graft.streaming.NioLocalFileSystem
import org.apache.spark.sql.SparkSession

/** The one local session factory behind every graft main and the test
  * suite, so the engine settings a plan depends on are set in one
  * place. */
object GraftSession {

  /** Local cores: SPARK_GRAFT_CPUS, else every available processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with shuffle partitions = cpus, the UTC session time
    * zone, the UI off, WARN logging and the fork-free `file:`
    * `FileContext` ([[NioLocalFileSystem.install]]); `conf` pairs are
    * added on top. */
  def local(cpus: Int, conf: (String, String)*): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(conf.toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    NioLocalFileSystem.install(spark)
    spark
  }
}
