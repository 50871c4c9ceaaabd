package graft.perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The batch workloads (`batch`, `relational`, `corpus`): closed-loop
  * passes over a fixed entry list, one client, in the order run.py
  * derived from the seed.
  *
  * Setup (timed into setup_s, repeated `--setup-reps` times with a
  * fresh `java.io.tmpdir` each so every repetition pays the same cold
  * cost): read every table's footer and run the builders named by
  * `--setup-builders`, which build the on-disk index caches the
  * `_query` entries serve from.
  *
  * Timed section: each entry is built (its builder may run eager jobs)
  * and then fully materialized through the `noop` sink, so every
  * output column is computed; an [[Observation]] counts the rows.
  * `--warmup-passes` untimed passes run first (the JVM keeps getting
  * faster for a few passes); timed passes then repeat until
  * `--seconds` have elapsed and at least `--min-passes` are done.
  *
  * Before the timed passes, an untimed pass warms the JVM and doubles
  * as the check pass: every entry's result is written as parquet under
  * `<work>/out/<entry>`, with the oracle SQL beside them; run.py
  * compares those against the DuckDB oracle or the exact twin, and
  * their row counts against the timed passes'. An entry that fails
  * there is not timed. Exact twins (`--twins`) are computed after the
  * timed passes, once per data directory, into `--twin-cache`. */
object BatchWorkload {
  def run(spark: SparkSession, a: Harness.Args, rec: Record, tracer: Tracer): Unit = {
    val dir = a.data
    val entries = a.list("entries")
    val unknown = entries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown entries: ${unknown.mkString(", ")}")
    val builders = a.list("setup-builders")
    val sc = spark.sparkContext

    // ---- setup ----
    val reps = a.long("setup-reps").toInt
    val repSecs = (1 to reps).map { r =>
      val tmp = new File(a.work, s"tmp-setup-$r")
      tmp.mkdirs()
      System.setProperty("java.io.tmpdir", tmp.getAbsolutePath)
      val t0 = System.nanoTime()
      tracer.span(s"setup.$r", tracer.root) { _ =>
        sc.setJobGroup(s"setup|$r", "setup", interruptOnCancel = false)
        Tables.names.foreach(n => Tables(spark, dir, n).schema)
        builders.foreach(b => SparkEntry.queries(b)(spark, dir))
        sc.clearJobGroup()
      }
      val s = (System.nanoTime() - t0) / 1e9
      // the last repetition's caches serve the timed section
      if (r < reps) Harness.deleteTree(tmp)
      s
    }
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - startMs) / 1e3 - repSecs.sum
    rec.nums("setup_samples_s", repSecs.map(_ + sessionS))
    rec.num("setup_s", sessionS + Harness.median(repSecs))

    rec.mark("setup")
    if (a.trace) Kernels.measure(spark, dir, rec)

    // ---- warm-up and check pass (untimed) ----
    val out = new File(a.work, "out")
    out.mkdirs()
    val failures = mutable.LinkedHashMap.empty[String, String]
    entries.foreach { name =>
      try {
        sc.setJobGroup(s"check|$name", name, interruptOnCancel = false)
        SparkEntry.queries(name)(spark, dir).write.mode("overwrite").parquet(new File(out, name).getAbsolutePath)
      } catch {
        case e: Throwable =>
          failures(name) = s"check run: ${e.getClass.getName}: ${e.getMessage}".take(500)
      } finally sc.clearJobGroup()
    }
    Files.writeString(new File(a.work, "oracle_sql.json").toPath,
      Json.obj(entries.flatMap(n => SparkEntry.oracleSql.get(n).map(q => n -> Json.str(q))): _*))

    rec.mark("check")

    // ---- timed passes, after `--warmup-passes` untimed ones ----
    val minPasses = a.long("min-passes").toInt
    val perEntry = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    val buildMs = mutable.Map.empty[String, ArrayBuffer[Double]]
    val execMs = mutable.Map.empty[String, ArrayBuffer[Double]]
    val rowCounts = mutable.Map.empty[String, mutable.Set[Long]]
    val passSecs = ArrayBuffer.empty[Double]
    val passTraced = ArrayBuffer.empty[Boolean]

    def pass(p: Int, timed: Boolean): Unit = {
      // the traced run alternates listener-on and listener-off passes;
      // the ratio of their medians is trace.overhead_frac
      val traced = timed && a.trace && p % 2 == 0
      EngineListener.active = traced
      val tag = if (timed) "t" else "w"
      val passSpan = tracer.begin(s"$tag.pass.$p", tracer.root)
      val ps = System.nanoTime()
      entries.filterNot(failures.contains).foreach { name =>
        val entrySpan = tracer.begin(name, passSpan)
        try {
          val b0 = System.nanoTime()
          val bSpan = tracer.begin("build", entrySpan)
          EngineListener.bind(s"$tag|$p|$name|build", bSpan)
          sc.setJobGroup(s"$tag|$p|$name|build", name, interruptOnCancel = false)
          val df = SparkEntry.queries(name)(spark, dir)
          tracer.end(bSpan)
          val b1 = System.nanoTime()
          val eSpan = tracer.begin("exec", entrySpan)
          EngineListener.bind(s"$tag|$p|$name|exec", eSpan)
          sc.setJobGroup(s"$tag|$p|$name|exec", name, interruptOnCancel = false)
          val ob = Observation(s"rows_${tag}_${p}_$name")
          df.observe(ob, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
          val e1 = System.nanoTime()
          tracer.end(eSpan)
          rowCounts.getOrElseUpdate(name, mutable.Set.empty) += ob.get("n").asInstanceOf[Long]
          if (timed) {
            perEntry.getOrElseUpdate(name, ArrayBuffer.empty) += (e1 - b0) / 1e6
            buildMs.getOrElseUpdate(name, ArrayBuffer.empty) += (b1 - b0) / 1e6
            execMs.getOrElseUpdate(name, ArrayBuffer.empty) += (e1 - b1) / 1e6
          }
          if (traced) EngineListener.entryDone(s"t|$p|$name", (e1 - b0) / 1e6)
        } catch {
          case e: Throwable =>
            failures.getOrElseUpdate(name, s"${e.getClass.getName}: ${e.getMessage}".take(500))
        } finally {
          sc.clearJobGroup()
          tracer.end(entrySpan)
        }
      }
      tracer.end(passSpan)
      val pe = System.nanoTime()
      if (timed) {
        passSecs += (pe - ps) / 1e9
        passTraced += traced
      }
      if (traced) EngineListener.passDone(s"t|$p|", (pe - ps) / 1e6)
    }

    (1 to a.long("warmup-passes").toInt).foreach(w => pass(w, timed = false))
    val t0 = System.nanoTime()
    var p = 0
    while (p < minPasses || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      pass(p, timed = true)
      p += 1
    }
    EngineListener.active = false
    rec.mark("timed")
    val measuredS = (System.nanoTime() - t0) / 1e9

    // per-pass figures come from clean passes only: in a traced run the
    // listener-on passes carry the tracing cost
    val clean = passSecs.indices.filter(i => !passTraced(i)).map(passSecs)
    val perEntryMed = entries.filter(perEntry.contains).map(n => n -> Harness.median(perEntry(n).toSeq))
    rec.num("measured_s", measuredS)
    rec.nums("pass_samples_s", passSecs.toSeq)
    if (perEntryMed.nonEmpty) {
      rec.num("throughput_per_s", perEntryMed.size / Harness.median(if (clean.nonEmpty) clean else passSecs.toSeq))
      rec.num("latency_p50_ms", Harness.median(perEntry.values.flatten.toSeq))
    }
    rec.raw("entry_ms", Json.obj(perEntryMed.map { case (n, m) => n -> Json.num(m) }: _*))
    rec.raw("entry_build_ms", Json.obj(entries.filter(buildMs.contains).map(n => n -> Json.num(Harness.median(buildMs(n).toSeq))): _*))
    rec.raw("entry_exec_ms", Json.obj(entries.filter(execMs.contains).map(n => n -> Json.num(Harness.median(execMs(n).toSeq))): _*))
    rec.raw("row_counts", Json.obj(rowCounts.toSeq.map { case (n, s) => n -> Json.arr(s.toSeq.sorted.map(_.toString)) }: _*))
    if (a.trace) {
      val traced = passSecs.indices.filter(passTraced).map(passSecs)
      rec.num("trace.overhead_frac",
        if (traced.nonEmpty && clean.nonEmpty) Harness.median(traced) / Harness.median(clean) - 1 else 0.0)
      rec.num("operators.build_ms", entries.filter(buildMs.contains).map(n => Harness.median(buildMs(n).toSeq)).sum)
      rec.num("operators.exec_ms", entries.filter(execMs.contains).map(n => Harness.median(execMs(n).toSeq)).sum)
    }

    val twinCache = new File(a("twin-cache"))
    a.list("twins").foreach { twin =>
      val dst = new File(twinCache, twin)
      if (!new File(dst, "_SUCCESS").isFile) {
        val tmp = new File(twinCache, s".$twin.${ProcessHandle.current.pid}")
        SparkEntry.queries(twin)(spark, dir).write.mode("overwrite").parquet(tmp.getAbsolutePath)
        Harness.deleteTree(dst)
        require(tmp.renameTo(dst), s"could not move twin output into $dst")
      }
    }
    rec.raw("failures", Json.obj(failures.toSeq.map { case (n, m) => n -> Json.str(m) }: _*))
  }
}
