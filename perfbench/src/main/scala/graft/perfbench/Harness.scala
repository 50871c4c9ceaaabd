package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point. `perfbench/run.py` launches it once per
  * run with the workload, seed, measuring time and directories, plus
  * the workload's `params` from `workloads.json` (and, for batch
  * workloads, `--entries`, `--setup-builders`, `--twins` and
  * `--twin-cache`); every argument is required. It writes one JSON
  * record (timings, counts, host stamp and, when traced, the per-layer
  * metrics) to `--out` and the spans to `--spans`. Correctness checks
  * that need DuckDB run in run.py after this JVM exits, outside every
  * timed section.
  *
  *   java -cp <classes>:<spark jars> graft.perfbench.Harness \
  *     --workload ingest --kind ingest --seed 1 --seconds 15 --trace 0 \
  *     --data <sf dir> --work <run dir> --out <json> --spans <json> \
  *     --setup-reps 3 --rate 1000 --tick-ms 100
  */
object Harness {
  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def long(k: String): Long = apply(k).toLong
    /** A comma-separated list, possibly empty. */
    def list(k: String): Seq[String] = apply(k).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    def workload: String = apply("workload")
    def seed: Long = apply("seed").toLong
    def seconds: Double = apply("seconds").toDouble
    def trace: Boolean = apply("trace") == "1"
    def data: String = apply("data")
    def work: String = apply("work")
  }

  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, s"arguments come in --key value pairs: ${argv.mkString(" ")}")
    Args(argv.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"expected --key, got $k")
      k.stripPrefix("--") -> v
    }.toMap)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val steal0 = graft.HostStat.readStealTicks()
    val rec = new Record
    val tracer = new Tracer(enabled = a.trace)
    new File(a.work).mkdirs()
    val spark = session(a)
    val sessionReadyMs = System.currentTimeMillis()
    rec.num("session_s", (sessionReadyMs - jvmStartMs) / 1e3)
    val listener = if (a.trace) Some(EngineListener.install(spark, tracer)) else None
    try {
      a("kind") match {
        case "batch" => BatchWorkload.run(spark, a, rec, tracer)
        case "ingest" => StreamWorkloads.ingest(spark, a, rec, tracer)
        case "drain" => StreamWorkloads.drain(spark, a, rec, tracer)
        case k => throw new IllegalArgumentException(s"unknown workload kind '$k'")
      }
    } finally {
      rec.mark("workload")
      listener.foreach(_.finish(rec))
      val steal1 = graft.HostStat.readStealTicks()
      rec.raw("host", hostStamp(spark, a, graft.HostStat.deltaJson(steal0, steal1)))
      rec.num("peak_rss_mb", peakRssMb())
      Files.writeString(Paths.get(a("out")), rec.json)
      if (a.trace) Files.writeString(Paths.get(a("spans")), tracer.json)
      spark.stop()
      rec.mark("stop")
      Files.writeString(Paths.get(a("out")), rec.json)
    }
  }

  def session(a: Args): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val local = new File(a.work, "spark-local")
    local.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation", new File(a.work, "checkpoints").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Resident-set high-water mark of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    } catch { case _: Throwable => -1.0 }

  private def hostStamp(spark: SparkSession, a: Args, stealDelta: String): String = {
    val load = try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3).mkString(" ")
               catch { case _: Throwable => "" }
    Json.obj(
      "steal_ticks" -> stealDelta,
      "loadavg" -> Json.str(load),
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "seed" -> a.seed.toString,
      "java" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "scala" -> Json.str(scala.util.Properties.versionNumberString))
  }

  /** Median of a non-empty sample. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    require(n > 0, "median of an empty sample")
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Minimal JSON rendering for the run record (values are numbers,
  * strings, arrays and nested objects). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def nums(xs: Seq[Double]): String = arr(xs.map(num))
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** The run record: an insertion-ordered map of already-rendered JSON
  * values, written once at exit. */
final class Record {
  private val fields = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Marks the end of a phase, in seconds since JVM start. */
  def mark(phase: String): Unit = num(s"at.$phase", (System.currentTimeMillis() - jvmStart) / 1e3)
  def raw(k: String, v: String): Unit = synchronized { fields(k) = v }
  def num(k: String, v: Double): Unit = raw(k, Json.num(v))
  def nums(k: String, v: Seq[Double]): Unit = raw(k, Json.nums(v))
  def json: String = synchronized { fields.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}") }
}
