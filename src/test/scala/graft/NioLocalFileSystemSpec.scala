package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import graft.sources.GraftQueueBroker
import graft.streaming.{NioLocalFileSystem, NioLocalFs, Pipelines}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{AbstractFileContextBasedCheckpointFileManager, HDFSMetadataLog}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** The local filesystem of graft's writes and of Spark's checkpoint
  * and state files: Hadoop's permissions and checksums, without a
  * forked `chmod` or `readlink` — so a steady streaming trigger starts
  * no process. */
class NioLocalFileSystemSpec extends AnyFunSuite {

  private def fs(f: FileSystem): FileSystem = {
    f.initialize(java.net.URI.create("file:///"), new Configuration())
    f
  }

  /** The full st_mode permission bits (sticky included). */
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x3ff

  /** `body`, and the processes this thread started while it ran. */
  private def forks[T](body: => T): (T, Int) = {
    val self = Thread.currentThread().getId
    val (out, started) = SparkSpec.processStarts(body)
    (out, started.count(_._1 == self))
  }

  /** mkdirs a nested directory and create a file in it; the modes of
    * the directories, the file and its `.crc`. */
  private def layout(f: FileSystem, under: JPath): Seq[Int] = {
    val dir = new Path(under.toUri.toString, "a/b")
    assert(f.mkdirs(dir))
    val out = f.create(new Path(dir, "part-0.parquet"))
    try out.write(Array.fill[Byte](100)(7)) finally out.close()
    val b = under.resolve("a/b")
    assert(Files.exists(b.resolve(".part-0.parquet.crc")), "the checksum file must be written")
    Seq(under.resolve("a"), b, b.resolve("part-0.parquet"), b.resolve(".part-0.parquet.crc")).map(mode)
  }

  test("fork-free local filesystem: Hadoop's permissions and checksums, no chmod process") {
    val root = Files.createTempDirectory("graft-niofs")
    val (stock, stockForks) = forks(layout(fs(new LocalFileSystem()), root.resolve("stock")))
    val (nio, nioForks) = forks(layout(fs(new NioLocalFileSystem), root.resolve("nio")))
    assert(nio === stock, f"modes ${nio.map(m => f"$m%o")} vs ${stock.map(m => f"$m%o")}")
    assert(nioForks === 0)
    // the comparison means something only where the stock path forks
    if (!org.apache.hadoop.io.nativeio.NativeIO.isAvailable) assert(stockForks > 0)

    // the sticky bit is beyond NIO's permission set: Hadoop's own path
    val sticky = root.resolve("nio/a")
    fs(new NioLocalFileSystem).setPermission(new Path(sticky.toUri.toString), new FsPermission(Integer.parseInt("1750", 8).toShort))
    assert(mode(sticky) === Integer.parseInt("1750", 8))
  }

  test("a sink write through the writer options keeps its .crc files") {
    val spark = SparkSpec.spark
    val out = Files.createTempDirectory("graft-niofs-write").resolve("t").toString
    spark.range(20).selectExpr("id", "id % 3 as kb")
      .write.options(NioLocalFileSystem.options).partitionBy("kb").parquet(out)
    val leaf = new java.io.File(out, "kb=1")
    val data = leaf.list().filter(_.endsWith(".parquet"))
    assert(data.nonEmpty && data.forall(n => new java.io.File(leaf, s".$n.crc").exists()))
    assert(spark.read.parquet(out).count() === 20)
  }

  /** Through `fc`, what a checkpoint-log commit does: create a file,
    * then create a temp file and rename it over the first. The modes
    * of the directory, the file and its `.crc`. */
  private def commitLayout(fc: FileContext, under: JPath): Seq[Int] = {
    val dir = new Path(under.toUri.toString)
    fc.mkdir(dir, FsPermission.getDirDefault, true)
    def write(name: String): Path = {
      val p = new Path(dir, name)
      val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(Array.fill[Byte](100)(7)) finally out.close()
      p
    }
    val dst = write("0")
    fc.rename(write(".0.tmp"), dst, Options.Rename.OVERWRITE)
    assert(!Files.exists(under.resolve(".0.tmp")) && !Files.exists(under.resolve("..0.tmp.crc")))
    Seq(under, under.resolve("0"), under.resolve(".0.crc")).map(mode)
  }

  test("FileContext twin: LocalFs's modes, checksums, renames and link status, no process") {
    val root = Files.createTempDirectory("graft-niofs-fc")
    val conf = new Configuration()
    val stockFs = AbstractFileSystem.get(URI.create("file:///"), conf)
    assert(stockFs.isInstanceOf[LocalFs])
    val stock = FileContext.getFileContext(stockFs, conf)
    val nio = FileContext.getFileContext(new NioLocalFs(URI.create("file:///"), conf), conf)
    val (stockModes, stockForks) = forks(commitLayout(stock, root.resolve("stock")))
    val (nioModes, nioForks) = forks(commitLayout(nio, root.resolve("nio")))
    assert(nioModes === stockModes, f"modes ${nioModes.map(m => f"$m%o")} vs ${stockModes.map(m => f"$m%o")}")
    assert(nioForks === 0)
    if (!org.apache.hadoop.io.nativeio.NativeIO.isAvailable) assert(stockForks > 0)
    // a real symlink takes Hadoop's own path, so it reads as it does there
    val link = Files.createSymbolicLink(root.resolve("nio/link"), root.resolve("nio/0"))
    val linkPath = new Path(link.toUri.toString)
    Seq[FileContext => Any](_.getFileLinkStatus(linkPath).isSymlink, _.getFileLinkStatus(linkPath).getLen,
      _.getFileLinkStatus(new Path(linkPath.getParent, "0")).isFile).foreach { probe =>
      assert(probe(nio) === probe(stock))
    }
  }

  private def tmpDir(prefix: String): String = Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** Text messages `ids` on queue `qa` — one spool file, so one trigger. */
  private def publish(broker: String, ids: Range): Unit =
    GraftQueueBroker.publish(broker, "qa", ids.map(i =>
      GraftQueueBroker.textMsg(i.toLong, 1700000000000000L + i * 1000000L, s"t/qa/${i % 3}", s"qa row $i")))

  private def tableQuery(broker: String, table: String): StreamingQuery =
    Pipelines.tableSink(Pipelines.mapToTextRecord(Pipelines.readQueues(SparkSpec.spark, broker, Seq("qa"))),
      table).start()

  /** The triggers `q` has run with input. */
  private def dataTriggers(q: StreamingQuery): Int = q.recentProgress.count(_.numInputRows > 0)

  test("a steady table-sink trigger starts no process and runs 4 jobs") {
    val broker = tmpDir("graft-broker")
    val table = tmpDir("graft-table")
    publish(broker, 0 until 300)
    val q = tableQuery(broker, table)
    try {
      q.processAllAvailable()
      // recorded from before the publish, so the whole trigger is in
      val (jobs, started) = SparkSpec.processStarts(SparkSpec.jobsStarted {
        publish(broker, 300 until 400)
        q.processAllAvailable()
      })
      assert(dataTriggers(q) === 2)
      assert(started.isEmpty, s"processes started: ${started.map(_._2).mkString("; ")}")
      assert(jobs.size === 4)
    } finally q.stop()
    assert(Pipelines.readTable(SparkSpec.spark, table).count() === 400)
  }

  test("the stream's checkpoint logs resolve the fork-free FileContext") {
    val broker = tmpDir("graft-broker")
    publish(broker, 0 until 10)
    val q = tableQuery(broker, tmpDir("graft-table"))
    try {
      q.processAllAvailable()
      val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
      val fc = classOf[AbstractFileContextBasedCheckpointFileManager].getDeclaredField("fc")
      fc.setAccessible(true)
      Seq(exec.offsetLog, exec.commitLog).foreach { log =>
        val manager = classOf[HDFSMetadataLog[_]].getMethod("fileManager").invoke(log)
        assert(fc.get(manager).asInstanceOf[FileContext].getDefaultFileSystem.isInstanceOf[NioLocalFs])
      }
    } finally q.stop()
  }

  test("install: a sink builder sets the twin; an explicitly configured impl is left alone") {
    val conf = SparkSpec.spark.sparkContext.hadoopConfiguration
    val key = "fs.AbstractFileSystem.file.impl"
    assert(conf.get(key) === classOf[NioLocalFs].getName, "GraftSession.local installs it")
    val broker = tmpDir("graft-broker")
    try {
      // a session built elsewhere: the builder installs before the checkpoint is set
      conf.unset(key)
      Pipelines.tableSink(Pipelines.mapToTextRecord(Pipelines.readQueues(SparkSpec.spark, broker, Seq("qa"))),
        tmpDir("graft-table"))
      assert(conf.get(key) === classOf[NioLocalFs].getName)
      conf.set(key, classOf[LocalFs].getName, "a test")
      NioLocalFileSystem.install(SparkSpec.spark)
      assert(conf.get(key) === classOf[LocalFs].getName)
    } finally conf.set(key, classOf[NioLocalFs].getName)
  }

  test("a checkpoint directory reached through a symlink restarts cleanly") {
    val broker = tmpDir("graft-broker")
    val table = tmpDir("graft-table")
    val real = Files.createTempDirectory("graft-ckpt-real")
    val link = Files.createSymbolicLink(real.resolveSibling(real.getFileName.toString + "-link"), real)
    def run(): StreamingQuery = {
      val q = Pipelines.tableSink(Pipelines.mapToTextRecord(
        Pipelines.readQueues(SparkSpec.spark, broker, Seq("qa"))), table)
        .option("checkpointLocation", link.toString).start()
      try q.processAllAvailable() finally q.stop()
      q
    }
    publish(broker, 0 until 50)
    run()
    publish(broker, 50 until 80)
    val again = run()
    // the restart resumed from the first run's commit: one new batch
    assert(again.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq === Seq(1L))
    assert(Files.exists(real.resolve("offsets/1")) && Files.exists(real.resolve("commits/1")))
    assert(Pipelines.readTable(SparkSpec.spark, table).count() === 80)
  }

  test("a steady vector-index-sink trigger starts no process, widening included") {
    val spark = SparkSpec.spark
    val full = tmpDir("graft-vecidx-full")
    operators.VectorOps.ivfBuildIndex(spark, SparkSpec.sf, full)
    val idx = tmpDir("graft-vecidx-part")
    SinkBench.carveIndex(spark, full, idx, id => pmod(id, lit(3)) =!= 0)
    val slice = Tables(spark, SparkSpec.sf, "embeddings")
      .filter(col("vec_id") >= operators.VectorOps.nQueries && pmod(col("vec_id"), lit(3)) === 0)
      .select("vec_id", "embedding").collect()
      .map(r => GraftQueueBroker.textMsg(r.getLong(0), 1700000000000000L, "t/vecs/0",
        r.getSeq[Float](1).mkString(",")))
    val (early, late) = slice.splitAt(slice.length / 2)
    val broker = tmpDir("graft-broker")
    GraftQueueBroker.publish(broker, "vecs", early.toSeq)
    val q = Pipelines.vectorIndexSink(Pipelines.readQueues(spark, broker, Seq("vecs")), idx)
      .option("checkpointLocation", tmpDir("graft-ckpt")).start()
    try {
      q.processAllAvailable()
      // zero radii: the steady trigger's arrivals all widen, so its
      // stage and commit are in the window too
      operators.Snapshot.stageReplace(spark, s"$idx/radius",
        operators.Snapshot.read(spark, s"$idx/radius").withColumn("dev", lit(0.0))).commit()
      val gen = SparkSpec.manifestGeneration(s"$idx/radius")
      val (_, started) = SparkSpec.processStarts {
        GraftQueueBroker.publish(broker, "vecs", late.toSeq)
        q.processAllAvailable()
      }
      assert(dataTriggers(q) === 2)
      assert(SparkSpec.manifestGeneration(s"$idx/radius") === gen + 1)
      assert(started.isEmpty, s"processes started: ${started.map(_._2).mkString("; ")}")
    } finally q.stop()
  }
}
