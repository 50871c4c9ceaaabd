package graft.streaming

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Hadoop's checksummed local filesystem without forked processes.
  * Without libhadoop, `RawLocalFileSystem.setPermission` runs `chmod`
  * through `Shell` — once per file and once per `.crc` a `create`
  * writes, once per directory a `mkdirs` makes — which made process
  * spawns most of a sink write of ~128 one-leaf files; and
  * `getFileLinkStatus` runs `readlink` before its stat, several times
  * per `FileContext` rename. Here the permission is set with
  * `java.nio.file.Files.setPosixFilePermissions`, and a path that is
  * no symlink answers its link status with `getFileStatus`, as Hadoop
  * does once `readlink` finds no link; everything else (checksums,
  * umask handling, listing, renames) is the stock `LocalFileSystem`.
  * A permission NIO cannot express (the sticky bit), a default
  * filesystem without POSIX attributes, or a real symlink takes
  * Hadoop's own path.
  *
  * As a `FileSystem` it is used per write, never installed globally:
  * [[NioLocalFileSystem.options]] are writer options that reach both
  * the write job's tasks and its commit (the JVM-wide `FileSystem`
  * cache already holds the default `file:` instance, so a session
  * setting would not reach it), and [[NioLocalFileSystem.fileSystem]]
  * is the driver's handle on a store. Its `FileContext` twin,
  * [[NioLocalFs]], IS installed on the session's Hadoop configuration
  * by [[NioLocalFileSystem.install]]: `FileContext` keeps no cache, and
  * Spark's checkpoint logs and state stores reach the filesystem only
  * through a `FileContext` built from that configuration — there is no
  * per-write option to pass. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

/** The `FileContext` (`AbstractFileSystem`) twin of
  * [[NioLocalFileSystem]]: Hadoop's `LocalFs` — a `ChecksumFs` over a
  * `DelegateToFileSystem` — with the fork-free raw filesystem
  * underneath. The constructor is the one Hadoop instantiates an
  * `fs.AbstractFileSystem.<scheme>.impl` through. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioLocalFileSystem.RawFs(conf))

object NioLocalFileSystem {

  /** Writer options that route a write's `file:` paths through
    * [[NioLocalFileSystem]]; other schemes are untouched. */
  val options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  private val FileContextImpl = "fs.AbstractFileSystem.file.impl"

  /** Installs [[NioLocalFs]] as the `file:` `FileContext` filesystem of
    * `spark`'s Hadoop configuration, so the checkpoint logs and state
    * stores of every query started afterwards write without forking.
    * A value set anywhere but Hadoop's `core-default.xml` is left
    * alone. Called by `GraftSession.local` and by every sink builder
    * before it sets a checkpoint location, so a session graft did not
    * build gets it too. */
  def install(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (conf.get(FileContextImpl) == null ||
        Option(conf.getPropertySources(FileContextImpl)).forall(_.forall(_ == "core-default.xml")))
      conf.set(FileContextImpl, classOf[NioLocalFs].getName)
  }

  /** `p`'s filesystem, [[NioLocalFileSystem]] for `file:` paths: the
    * driver-side handle for walking and committing a store. */
  def fileSystem(p: Path, conf: Configuration): FileSystem = {
    val c = new Configuration(conf)
    options.foreach { case (k, v) => c.set(k, v) }
    p.getFileSystem(c)
  }

  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  private def bits(a: FsAction, r: PosixFilePermission, w: PosixFilePermission,
                   x: PosixFilePermission): Seq[PosixFilePermission] =
    Seq(a.implies(FsAction.READ) -> r, a.implies(FsAction.WRITE) -> w,
      a.implies(FsAction.EXECUTE) -> x).collect { case (true, b) => b }

  private[streaming] final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!posix || permission.getStickyBit) super.setPermission(p, permission)
      else {
        import PosixFilePermission._
        val set = bits(permission.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE) ++
          bits(permission.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE) ++
          bits(permission.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
        Files.setPosixFilePermissions(pathToFile(p).toPath, set.toSet.asJava)
      }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** Hadoop's `RawLocalFs` over [[Raw]], its overrides copied. */
  private[streaming] final class RawFs(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new Raw, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
