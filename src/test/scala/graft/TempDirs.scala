package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp dirs a suite creates, deleted after its last test. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val dirs = new ConcurrentLinkedQueue[Path]()

  /** A fresh dir under `java.io.tmpdir`, its name starting `prefix`. */
  def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    dirs.add(d)
    d.toString
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally dirs.forEach { d =>
      new scala.reflect.io.Directory(d.toFile).deleteRecursively(); ()
    }
}
