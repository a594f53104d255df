package perfbench

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with its two per-file shell-outs done
  * in-process. Without the native Hadoop library, `RawLocalFileSystem`
  * runs `chmod` in a child process for every file and directory it creates,
  * and `readlink` twice for every rename (streaming checkpoints and state
  * stores rename each file they commit): thousands of child processes a
  * run, each forked from the harness JVM, whose cost follows the machine's
  * load rather than the engine's work. Here `chmod` is a system call, as
  * the native library makes it, and a path that is not a symbolic link gets
  * the same status the shell-out gives it. Every other call is Hadoop's.
  *
  * The session registers it for `file:` through `fs.file.impl` (the
  * FileSystem API) and `fs.AbstractFileSystem.file.impl` (the FileContext
  * API the checkpoint manager uses). */
class InProcessRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    val perms = PosixFilePermission.values.toSeq.zipWithIndex.collect {
      // values run OWNER_READ .. OTHERS_EXECUTE, i.e. bit 8 down to bit 0
      case (perm, i) if (bits & (1 << (8 - i))) != 0 => perm
    }
    Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

class InProcessLocalFileSystem extends LocalFileSystem(new InProcessRawLocalFileSystem)

class InProcessLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
    new InProcessLocalFs.Raw(uri, conf))

object InProcessLocalFs {
  final class Raw(uri: URI, conf: Configuration) extends DelegateToFileSystem(
      uri, new InProcessRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def isValidName(src: String): Boolean = true
  }

  /** Spark settings that route `file:` paths through these classes. */
  val conf: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[InProcessLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[InProcessLocalFs].getName)
}
