package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system of every `local[n]` session
  * ([[GraftSession.localConf]]): Hadoop's `RawLocalFileSystem` with a
  * `setPermission` that runs in-process.
  *
  * Without the native Hadoop library, the stock class sets a mode by
  * starting a `chmod` child process, and it sets one on every
  * directory it creates and every file it opens. A partitioned write
  * therefore starts a process per partition dir and per file: about
  * 3,000 in one retail directory-tier run. Here the same mode bits go
  * through `Files.setPosixFilePermissions`, the same `chmod(2)` call.
  * A mode NIO cannot express (the sticky bit) and a file store without
  * POSIX attributes still take the stock path. */
class LocalFs extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        LocalFs.posix(permission.toShort))
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }
}

object LocalFs {

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // declared owner r/w/x, group r/w/x, others r/w/x: mode bits 8 to 0
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode >> (8 - i) & 1) == 1) s.add(p)
    }
    s
  }
}
