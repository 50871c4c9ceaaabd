package graft

import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

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

  /** The descriptions among `jobs` of Spark's parallel file-listing
    * job, which a scan of a path set past the parallel-discovery
    * threshold starts before it reads anything. */
  def listingJobs(jobs: Iterable[String]): Seq[String] =
    jobs.filter(_.contains("Listing leaf files and directories")).toSeq

  /** Runs `body` and returns one entry per Spark job it started: the
    * job's description (`spark.job.description`), or None for a job
    * without one. The listener bus is asynchronous, so a marker job in
    * its own group fences the collection. */
  def jobsStarted(body: => Any): Seq[Option[String]] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val marker = s"graft-job-fence-${java.util.UUID.randomUUID()}"
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        if (p.exists(_.getProperty("spark.jobGroup.id") == marker)) fenced.countDown()
        else seen.add(p.flatMap(q => Option(q.getProperty("spark.job.description"))))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobGroup(marker, "listener fence")
      try spark.range(1).collect() finally spark.sparkContext.clearJobGroup()
      assert(fenced.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener fence never arrived")
    } finally spark.sparkContext.removeSparkListener(listener)
    seen.toArray(Array.empty[Option[String]]).toSeq
  }

  /** The descriptions of the Spark jobs `body` started; a job without
    * one is left out. */
  def jobDescriptions(body: => Any): Seq[String] = jobsStarted(body).flatten

  /** Runs `body` and returns the processes the JVM started meanwhile,
    * from any thread, as (starting thread id, command line): JFR's
    * `jdk.ProcessStart` events, recorded in-process. */
  def processStarts[T](body: => T): (T, Seq[(Long, String)]) = {
    val r = new jdk.jfr.Recording()
    r.enable("jdk.ProcessStart")
    r.start()
    val out = try body finally r.stop()
    val dump = java.nio.file.Files.createTempFile("graft-forks", ".jfr")
    try {
      r.dump(dump)
      (out, jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .map(e => (Option(e.getThread).map(_.getJavaThreadId).getOrElse(-1L), e.getString("command"))))
    } finally { r.close(); java.nio.file.Files.delete(dump) }
  }

  /** The newest committed manifest generation of the Snapshot store
    * at `store`. */
  def manifestGeneration(store: String): Long =
    new java.io.File(s"$store/_manifests").list().toSeq
      .collect { case n if n.startsWith("gen-") && n.endsWith(".txt") =>
        n.stripPrefix("gen-").stripSuffix(".txt").toLong }.max

  /** Deletes a directory tree; a missing one is left alone. */
  def deleteDir(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root))
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
  }

  /** Runs `body`, which must fail with an error whose message (or a
    * cause's) names `path` — how an index missing a store fails. */
  def assertFailsNaming(path: String)(body: => Any): Unit = {
    val failure = try { body; None } catch { case t: Throwable => Some(t) }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(failure.isDefined, s"expected a failure naming $path")
    assert(failure.exists(messages(_).exists(_.contains(path))),
      s"the failure does not name $path: ${failure.get}")
  }
}
