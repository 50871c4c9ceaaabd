package graft.streaming

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}
import scala.jdk.CollectionConverters._

/** Hadoop's checksummed local filesystem with a `setPermission` that
  * does not fork. Without libhadoop, `RawLocalFileSystem.setPermission`
  * runs `chmod` through `Shell` — once per file and once per `.crc` a
  * `create` writes, once per directory a `mkdirs` makes — which made
  * process spawns most of a sink write of ~128 one-leaf files. Here the
  * permission is set with `java.nio.file.Files.setPosixFilePermissions`;
  * everything else (checksums, umask handling, listing, renames) is the
  * stock `LocalFileSystem`. A permission NIO cannot express (the sticky
  * bit) or a default filesystem without POSIX attributes takes Hadoop's
  * own path.
  *
  * Used per write, never installed globally: [[NioLocalFileSystem.options]]
  * are writer options that reach both the write job's tasks and its
  * commit (the JVM-wide `FileSystem` cache already holds the default
  * `file:` instance, so a session setting would not reach it). */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** Writer options that route a write's `file:` paths through
    * [[NioLocalFileSystem]]; other schemes are untouched. */
  val options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

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
  }
}
