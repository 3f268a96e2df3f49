package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.format.{GraftTable, LogStore, PosixLogStore}

/** Latest-version HINT (round 12): every commit overwrites an advisory
  * `_log/_latest.hint` (Delta's `_last_checkpoint` pattern) and
  * [[GraftTable.versionAt]] resolves the current version by reading it
  * and probing FORWARD with exists() — an O(1) GET+HEAD instead of an
  * O(commits) directory LIST per table resolution. The hint is written
  * after the snapshot, so it can only LAG the truth: a stale hint
  * walks forward to the real top, and a missing / corrupt / expired
  * hint falls back to the full listing. Correctness never depends on
  * the hint. */
class VersionHintSpec extends AnyFunSuite with TempDirs {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(): String = tempDir("graft_hint_spec_") + "/t"

  private def hintPath(root: String) = s"$root/_log/_latest.hint"

  private def writeHint(root: String, s: String): Unit =
    java.nio.file.Files.write(
      java.nio.file.Paths.get(hintPath(root)), s.getBytes("UTF-8"))

  /** A delegating store that counts directory listings. */
  private class CountingStore extends LogStore {
    val lists = new java.util.concurrent.atomic.AtomicInteger(0)
    def read(p: String): Array[Byte] = PosixLogStore.read(p)
    def exists(p: String): Boolean = PosixLogStore.exists(p)
    def list(d: String): Seq[LogStore.LogEntry] = {
      lists.incrementAndGet(); PosixLogStore.list(d)
    }
    def delete(p: String): Boolean = PosixLogStore.delete(p)
    def deleteRecursively(p: String): Unit =
      PosixLogStore.deleteRecursively(p)
    def mkdirs(d: String): Unit = PosixLogStore.mkdirs(d)
    def putIfAbsent(p: String, c: Array[Byte]): Boolean =
      PosixLogStore.putIfAbsent(p, c)
  }

  test("every commit refreshes the hint, and hinted resolution does " +
      "ZERO log-dir listings") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 10L).toDF("k"), Seq("k"), numFiles = 1)
    t.append((11L to 20L).toDF("k"), numFiles = 1) // v2
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(hintPath(root))), "UTF-8").trim == "2")
    val counting = new CountingStore
    val old = LogStore.provider
    LogStore.provider = _ => counting
    try {
      assert(GraftTable.versionAt(root) == 2L)
      assert(counting.lists.get() == 0,
        "a fresh hint must resolve without LISTing the log dir")
    } finally LogStore.provider = old
  }

  test("a stale hint probes forward to the true top; missing, corrupt " +
      "and beyond-top hints fall back to a correct listing") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 5L).toDF("k"), Seq("k"), numFiles = 1)
    (2 to 4).foreach(i =>
      t.append(Seq(i.toLong * 100).toDF("k"), numFiles = 1)) // v2..v4
    writeHint(root, "1") // lagging writer lost the hint race
    assert(GraftTable.versionAt(root) == 4L, "stale hint must walk forward")
    java.nio.file.Files.delete(java.nio.file.Paths.get(hintPath(root)))
    assert(GraftTable.versionAt(root) == 4L, "missing hint must fall back")
    writeHint(root, "not-a-number")
    assert(GraftTable.versionAt(root) == 4L, "corrupt hint must fall back")
    writeHint(root, "99") // poisoned: no snapshot-v99 exists
    assert(GraftTable.versionAt(root) == 4L,
      "a hint beyond the top must fail exists() and fall back")
    // and the table still reads exactly
    assert(t.read().count() == 8)
  }

  test("a commit from another handle is visible through the hint path") {
    val root = tmp()
    val t1 = GraftTable.create(spark, root,
      (1L to 3L).toDF("k"), Seq("k"), numFiles = 1)
    val t2 = GraftTable.forPath(spark, root)
    t2.append(Seq(100L).toDF("k"), numFiles = 1)
    assert(t1.currentVersion == 2L,
      "hinted resolution is shared on-disk state, not per-handle")
    assert(t1.read().count() == 4)
  }
}
