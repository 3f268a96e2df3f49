package graft

import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The engine's local file system ([[LocalFs]]) sets modes in-process
  * and leaves the same modes as the stock `RawLocalFileSystem`. The
  * write cases fork [[LocalFsProbe]], once per file system, so each
  * write runs through a `GraftSession.build("local[2]")` session whose
  * `FileSystem` cache holds only the file system under test. */
class LocalFsSpec extends AnyFunSuite {

  private def tempDir(): JPath = Files.createTempDirectory("graft_localfs_")

  private def deleteTree(d: JPath): Unit =
    new scala.reflect.io.Directory(d.toFile).deleteRecursively()

  /** The probe's `PROBE <key> …` lines, with the key stripped. */
  private def probeRun(fsImpl: String): Map[String, Seq[String]] = {
    val out = tempDir()
    try {
      val (code, log) = ForkedJvm.run("graft.LocalFsProbe",
        Seq(out.toString, fsImpl), Seq("-Xmx1g"))
      assert(code == 0, s"probe JVM failed:\n${log.takeRight(3000)}")
      log.linesIterator.filter(_.startsWith("PROBE ")).toSeq
        .map(_.stripPrefix("PROBE ").split(" ", 2))
        .groupMap(_(0))(kv => kv.lift(1).getOrElse(""))
    } finally deleteTree(out)
  }

  // write file and dir names carry UUIDs or 8-9 hex digits of one; a
  // multiset of (name with those masked, mode) is what two writes of
  // the same rows share
  private val Uuid =
    "[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}|[0-9a-f]{8,}".r

  private def modes(probe: Map[String, Seq[String]]): Seq[(String, String)] =
    probe("MODE").map { l =>
      val (path, mode) = l.splitAt(l.lastIndexOf(' '))
      (Uuid.replaceAllIn(path, "<uuid>"), mode.trim)
    }.sorted

  private lazy val engine = probeRun("engine")

  test("a partitioned overwrite and a table commit start no chmod " +
      "process") {
    assert(engine("FS") === Seq(classOf[LocalFs].getName))
    val started = engine.getOrElse("PROCESS", Nil)
    // positive control: the recording sees the probe's own `true`
    assert(started.contains("true"), started)
    assert(!started.exists(_.startsWith("chmod")), started)
  }

  test("every dir and file gets the mode the stock raw local file " +
      "system leaves") {
    val stock = probeRun(classOf[RawLocalFileSystem].getName)
    assert(stock("FS") === Seq(classOf[RawLocalFileSystem].getName))
    val mine = modes(engine)
    assert(mine.exists(_._1.startsWith("dir/y=2021/m=")), mine)
    assert(mine.exists(_._1.startsWith("table/")), mine)
    assert(mine === modes(stock))
  }

  /** The full `st_mode` permission bits of `p`, sticky bit included
    * (`Files.getPosixFilePermissions` has no sticky bit). */
  private def modeBits(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("a plain mode and a sticky-bit mode both land exactly") {
    val d = tempDir()
    val fs = new LocalFs
    try {
      fs.initialize(java.net.URI.create("file:///"), new Configuration())
      for (octal <- Seq("750", "1777")) {
        val mode = Integer.parseInt(octal, 8)
        fs.setPermission(new Path(d.toUri), new FsPermission(mode.toShort))
        assert(modeBits(d) === mode, octal)
      }
    } finally { fs.close(); deleteTree(d) }
  }
}
