package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The traced run's view of the engine: a [[SparkListener]] that turns
  * jobs and stages into spans under the harness span bound to the
  * job's group, and sums task metrics for the engine, scan and
  * exchange layers. Only jobs started while [[active]] is set count,
  * so the listener-off passes of the traced run and the setup and
  * check sections stay out of the figures. */
object EngineListener {
  @volatile var active: Boolean = false

  /** What the per-unit figures divide by when set: the traced drains or
    * triggers of the stream workloads (batch workloads use passes). */
  @volatile var units: Double = 0.0
  private val spanOfGroup = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  def bind(group: String, span: Int): Unit = spanOfGroup.put(group, span)

  private val entryWalls = ArrayBuffer.empty[(String, Double)]
  private val passWalls = ArrayBuffer.empty[(String, Double)]
  def entryDone(prefix: String, ms: Double): Unit = synchronized { entryWalls += ((prefix, ms)) }
  def passDone(prefix: String, ms: Double): Unit = synchronized { passWalls += ((prefix, ms)) }

  def install(spark: SparkSession, tracer: Tracer): Listener = {
    val l = new Listener(tracer, spark.sparkContext.defaultParallelism)
    spark.sparkContext.addSparkListener(l)
    l
  }

  final case class Job(id: Int, group: String, start: Long, var end: Long, span: Int)
  final case class Stage(job: Int, tasks: Int, start: Long, inputBytes: Long, taskMs: Seq[Long])

  final class Listener(tracer: Tracer, cores: Int) extends SparkListener {
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val stages = ArrayBuffer.empty[Stage]
    private val stageTaskMs = mutable.Map.empty[Int, ArrayBuffer[Long]]
    private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    private var peakExecMem = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (!active) return
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val parent = Option(spanOfGroup.get(group)).map(_.intValue).getOrElse(tracer.root)
      val span = tracer.begin(s"job.${e.jobId}", parent, e.time.toDouble)
      jobs(e.jobId) = Job(e.jobId, group, e.time, -1L, span)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.end = e.time
        tracer.end(j.span, e.time.toDouble)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (!stageJob.get(e.stageId).exists(jobs.contains)) return
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m == null || info == null) return
      stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += info.duration
      sums("tasks") += 1
      sums("task_run_ms") += m.executorRunTime
      sums("task_cpu_ms") += m.executorCpuTime / 1e6
      sums("gc_ms") += m.jvmGCTime
      sums("sched_delay_ms") += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      sums("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      sums("input_bytes") += m.inputMetrics.bytesRead
      sums("write_bytes") += m.shuffleWriteMetrics.bytesWritten
      sums("write_records") += m.shuffleWriteMetrics.recordsWritten
      sums("read_bytes") += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      sums("fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      stageJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
        val start = si.submissionTime.getOrElse(j.start)
        val end = si.completionTime.getOrElse(start)
        tracer.add(s"stage.${si.stageId}", j.span, start.toDouble, end.toDouble)
        val input = Option(si.taskMetrics).map(_.inputMetrics.bytesRead).getOrElse(0L)
        stages += Stage(j.id, si.numTasks, start, input,
          stageTaskMs.remove(si.stageId).map(_.toSeq).getOrElse(Seq.empty))
      }
    }

    /** Writes the engine, scan and exchange figures into the record. */
    def finish(rec: Record): Unit = synchronized {
      val u = if (units > 0) units else math.max(1.0, passWalls.size.toDouble)
      val timed = jobs.values.toSeq
      rec.num("engine.jobs", timed.size / u)
      rec.num("engine.jobs_in_build", timed.count(_.group.endsWith("|build")) / u)
      rec.num("engine.stages", stages.size / u)
      rec.num("engine.tasks", sums("tasks") / u)
      Seq("task_run_ms", "task_cpu_ms", "gc_ms", "sched_delay_ms", "spill_bytes")
        .foreach(k => rec.num(s"engine.$k", sums(k) / u))
      rec.num("engine.peak_exec_mem_bytes", peakExecMem.toDouble)
      rec.num("scan.input_bytes", sums("input_bytes") / u)
      rec.num("exchange.write_bytes", sums("write_bytes") / u)
      rec.num("exchange.write_records", sums("write_records") / u)
      rec.num("exchange.read_bytes", sums("read_bytes") / u)
      rec.num("exchange.fetch_wait_ms", sums("fetch_wait_ms") / u)

      // straggler ratio: median over multi-task stages of max/median
      // task duration
      val ratios = stages.filter(_.taskMs.size >= 2).map { s =>
        val med = Harness.median(s.taskMs.map(_.toDouble))
        if (med > 0) s.taskMs.max / med else 1.0
      }
      rec.num("engine.straggler_ratio", if (ratios.isEmpty) 1.0 else Harness.median(ratios.toSeq))

      // the first input-reading stage of each entry execution: its task
      // count is how wide the scan ran
      val byEntry = stages.groupBy(s => entryOf(jobs(s.job).group))
      val firstScan = byEntry.collect { case (Some(_), ss) =>
        ss.filter(_.inputBytes > 0).sortBy(_.start).headOption.map(_.tasks.toDouble)
      }.flatten.toSeq
      rec.num("scan.first_stage_tasks", if (firstScan.isEmpty) 0.0 else firstScan.sum / firstScan.size)

      // wall time per pass not covered by any running job
      val gaps = passWalls.map { case (prefix, wallMs) =>
        val iv = timed.filter(j => j.group.startsWith(prefix) && j.end >= 0).map(j => (j.start, j.end)).sortBy(_._1)
        wallMs - union(iv)
      }
      val busyMs = timed.filter(_.end >= 0).map(j => (j.start, j.end)).sortBy(_._1)
      val windowMs = if (busyMs.isEmpty) 0.0 else (busyMs.map(_._2).max - busyMs.head._1).toDouble
      rec.num("engine.driver_gap_ms", if (gaps.isEmpty) 0.0 else gaps.sum / gaps.size)
      val wall = if (passWalls.nonEmpty) passWalls.map(_._2).sum else windowMs
      rec.num("engine.core_busy_frac", if (wall > 0) sums("task_run_ms") / (cores * wall) else 0.0)

      // slope of entry wall time against the entry's stage count
      val stagesOfEntry = byEntry.collect { case (Some(k), ss) => k -> ss.size.toDouble }
      val pts = entryWalls.flatMap { case (k, ms) => stagesOfEntry.get(k).map(n => (n, ms)) }
      val slope = Stats.slope(pts.map(_._1).toSeq, pts.map(_._2).toSeq)
      rec.num("engine.ms_per_stage", if (slope.isNaN) 0.0 else slope)
      rec.raw("entry_stages", Json.obj(stagesOfEntry.toSeq.sortBy(_._1).map { case (k, n) => k -> Json.num(n) }: _*))
    }

    /** "t|<pass>|<entry>" for a timed batch job group. */
    private def entryOf(group: String): Option[String] = {
      val parts = group.split("\\|")
      if (parts.length == 4 && parts(0) == "t") Some(parts.take(3).mkString("|")) else None
    }

    private def union(iv: Seq[(Long, Long)]): Double = {
      var total = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s
          curE = e
        } else curE = math.max(curE, e)
      }
      if (curE > curS) total += curE - curS
      total.toDouble
    }
  }
}

object Stats {
  /** Least-squares slope of y on x (NaN when x has no spread). */
  def slope(xs: Seq[Double], ys: Seq[Double]): Double = {
    val n = xs.length
    if (n < 2) return Double.NaN
    val mx = xs.sum / n
    val my = ys.sum / n
    val sxx = xs.map(x => (x - mx) * (x - mx)).sum
    if (sxx == 0) Double.NaN
    else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
  }
}
