package graft

import java.nio.file.{Files, Path => JPath}

import graft.streaming.NioLocalFileSystem
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The sink writes' local filesystem: Hadoop's permissions and
  * checksums, without a forked `chmod`. */
class NioLocalFileSystemSpec extends AnyFunSuite {

  private def fs(f: FileSystem): FileSystem = {
    f.initialize(java.net.URI.create("file:///"), new Configuration())
    f
  }

  /** The full st_mode permission bits (sticky included). */
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x3ff

  /** `body`, and the processes this thread started while it ran. */
  private def forks[T](body: => T): (T, Int) = {
    val r = new jdk.jfr.Recording()
    r.enable("jdk.ProcessStart")
    r.start()
    val self = Thread.currentThread().getId
    val out = try body finally r.stop()
    val dump = Files.createTempFile("graft-forks", ".jfr")
    try {
      r.dump(dump)
      (out, jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .count(e => e.getThread != null && e.getThread.getJavaThreadId == self))
    } finally { r.close(); Files.delete(dump) }
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
}
