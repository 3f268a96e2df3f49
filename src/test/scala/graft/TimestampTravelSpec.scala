package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.format.{GraftTable, LogStore, PosixLogStore}
import graft.sources.GraftTableSource

/** O(log V) timestamp travel (VERDICT r13 #7): snapshot records carry
  * their commit wall-clock (`ts=` kv) since r14, so `timestampAsOf`
  * resolution BINARY-SEARCHES ~1 KB records instead of LISTing the
  * whole `_log` dir for file mtimes — at 10⁶ commits an object-store
  * LIST pages 1000 keys/call, making the old listing a thousand
  * requests per resolution. Pre-r14 records and vacuum holes fall
  * back to the exact listing walk. */
class TimestampTravelSpec extends AnyFunSuite with TempDirs {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(): String = tempDir("graft_tstravel_") + "/t"

  /** Delegating store counting every remote-shaped call. */
  private class CountingStore extends LogStore {
    val lists = new java.util.concurrent.atomic.AtomicInteger(0)
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val heads = new java.util.concurrent.atomic.AtomicInteger(0)
    def read(p: String): Array[Byte] = {
      reads.incrementAndGet(); PosixLogStore.read(p)
    }
    def exists(p: String): Boolean = {
      heads.incrementAndGet(); PosixLogStore.exists(p)
    }
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

  private def build(n: Int): (String, GraftTable) = {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      Seq(1L).toDF("k"), Seq("k"), numFiles = 1)
    (2 to n).foreach(i =>
      t.append(Seq(i.toLong).toDF("k"), numFiles = 1))
    (root, t)
  }

  test("binary-search resolution matches the exhaustive answer at " +
      "every recorded stamp (ties on equal millis included)") {
    val (root, t) = build(24)
    val stamps = (1L to 24L).map(v => v -> t.commitTsMillis(v).get)
    // commits in one process: stamps must be non-decreasing
    assert(stamps.map(_._2) == stamps.map(_._2).sorted)
    // resolution is EXACT: the newest version with ts <= cutoff, no
    // forward slack (ADVICE r14 — slack let an exact user timestamp
    // read a version committed after it)
    def exhaustive(cut: Long): Long =
      stamps.filter(_._2 <= cut).map(_._1).max
    stamps.foreach { case (_, cut) =>
      val got = GraftTableSource.versionAtTimestamp(root, cut)
      assert(got == exhaustive(cut),
        s"cutoff $cut: got v$got want v${exhaustive(cut)}")
      assert(t.read(got).count() == got) // one row per commit
    }
    // after the last commit → current; before the first → error
    assert(GraftTableSource.versionAtTimestamp(root,
      stamps.last._2 + 60000L) == 24L)
    intercept[IllegalArgumentException] {
      GraftTableSource.versionAtTimestamp(root,
        stamps.head._2 - 1L)
    }
  }

  test("two commits a few ms apart: an exact cutoff at the first " +
      "commit's stamp never reads the second (ADVICE r14)") {
    val (root, t) = build(2)
    // pin the recorded stamps 10 ms apart — inside the old +15 ms
    // slack window that made resolution non-deterministic
    val t0 = t.commitTsMillis(1L).get
    val p2 = java.nio.file.Paths.get(s"$root/_log/snapshot-v2.txt")
    val repinned = new String(java.nio.file.Files.readAllBytes(p2),
      "UTF-8").linesIterator.map(l =>
        if (l.startsWith("ts=")) s"ts=${t0 + 10L}" else l)
      .mkString("", "\n", "\n")
    java.nio.file.Files.write(p2, repinned.getBytes("UTF-8"))
    GraftTable.invalidate(root)
    assert(GraftTableSource.versionAtTimestamp(root, t0) == 1L,
      "cutoff == v1's stamp must resolve v1, not the +10 ms v2")
    assert(GraftTableSource.versionAtTimestamp(root, t0 + 9L) == 1L)
    assert(GraftTableSource.versionAtTimestamp(root, t0 + 10L) == 2L)
  }

  test("resolution does ZERO log-dir listings and O(log V) record " +
      "reads at a many-commit table") {
    val (root, t) = build(40)
    val cut = t.commitTsMillis(20L).get
    GraftTable.invalidate(root) // drop the snapshot cache — count IO
    val counting = new CountingStore
    val old = LogStore.provider
    LogStore.provider = _ => counting
    try {
      val v = GraftTableSource.versionAtTimestamp(root, cut)
      assert(v >= 20L && v <= 40L &&
        GraftTable.forPath(spark, root).commitTsMillis(v).get <= cut)
      assert(counting.lists.get() == 0,
        s"timestamp travel must not LIST the log dir " +
          s"(${counting.lists.get()} listings)")
      // hint read + ~2·log2(40) record probes; generous headroom
      assert(counting.reads.get() <= 18,
        s"expected O(log V) record reads, got ${counting.reads.get()}")
      assert(counting.heads.get() <= 18,
        s"expected O(log V) exists probes, got ${counting.heads.get()}")
    } finally LogStore.provider = old
  }

  test("pre-r14 records (no ts kv) fall back to the exact " +
      "mtime-listing walk") {
    val (root, t) = build(6)
    // strip the ts= line from every record — a table written by the
    // r13 library
    (1L to 6L).foreach { v =>
      val p = java.nio.file.Paths.get(s"$root/_log/snapshot-v$v.txt")
      val stripped = new String(java.nio.file.Files.readAllBytes(p),
        "UTF-8").linesIterator.filterNot(_.startsWith("ts="))
        .mkString("", "\n", "\n")
      java.nio.file.Files.write(p, stripped.getBytes("UTF-8"))
    }
    GraftTable.invalidate(root)
    val mt = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$root/_log/snapshot-v6.txt")).toMillis
    val v = GraftTableSource.versionAtTimestamp(root, mt + 60000L)
    assert(v == 6L, s"legacy fallback resolved v$v")
    assert(t.read(v).count() == 6L)
  }

  test("a tag-pinned vacuum hole falls back to the exact walk and " +
      "still refuses cutoffs older than retained history") {
    val (root, t) = build(8)
    t.tag("pin") // pins v8
    (9 to 12).foreach(i => t.append(Seq(i.toLong).toDF("k"),
      numFiles = 1))
    val cutMid = t.commitTsMillis(10L).get
    t.vacuum(retainLast = 2, minOrphanAgeMs = 0L)
    GraftTable.invalidate(root)
    // v11..v12 retained (+ tagged v8); v10's record may be gone —
    // resolution must still answer the newest RETAINED version ≤ cut
    val v = GraftTableSource.versionAtTimestamp(root, cutMid)
    assert(v == 8L || v >= 10L,
      s"hole resolution answered a vacuumed version v$v")
    assert(t.read(v).count() == v)
  }
}
