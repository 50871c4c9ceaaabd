package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run — 4 partitions on
  * any machine, so test plans do not depend on the host's cores. */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf: String = "/root/testdata/sf0.001"

  /** The sf0.01 sibling of [[sf]] — for specs whose planted classes
    * (e.g. the mod-320 video pairs) need more docs than the sf0.001
    * corpus holds. Derived from the same base dir as [[sf]]; specs
    * `assume(sf01Available)` so a machine without the driver testdata
    * skips them with a message instead of erroring. */
  val sf01: String = sf.replaceAll("sf0\\.001$", "sf0.01")
  def sf01Available: Boolean = new java.io.File(sf01).isDirectory
}
