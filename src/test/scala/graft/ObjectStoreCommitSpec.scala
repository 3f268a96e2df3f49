package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.format.{ConditionalPutLogStore, GraftTable, HadoopLogStore,
  LogStore}
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.concurrent.ExecutionContext.Implicits.global

/** S3-semantics commit safety (VERDICT r12 #4 / ADVICE r12):
  * object stores have no atomic rename-without-overwrite — S3A rename
  * is copy+delete — so the Hadoop store's exists()+rename create is
  * NOT a safe linearization point there. Pins:
  *  (a) the scheme gate REFUSES putIfAbsent on an undeclared scheme
  *      with conditional-PUT guidance,
  *  (b) the exists+rename race is REAL (a deliberately non-atomic
  *      fake, drummed through a barrier, double-commits — the hazard
  *      the gate exists for),
  *  (c) a [[ConditionalPutLogStore]] (native conditional create, the
  *      S3 `If-None-Match: *` shape) survives multi-writer races:
  *      gapless history, no lost rows, exactly-once ledger,
  *  (d) transient-IO honesty: an IOException AFTER the rename landed
  *      reads back as a win; one where the destination is missing
  *      RETHROWS — a commit is never silently dropped (the old broad
  *      `IOException => false` would orphan it). */
class ObjectStoreCommitSpec extends AnyFunSuite with TempDirs {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(): String = tempDir("graft_objstore_")

  private def hconf = spark.sparkContext.hadoopConfiguration

  /** Conditional-PUT store over the local FS: the ONE atomicity
    * primitive is a JVM-wide locked create-if-absent — exactly the
    * contract S3's `If-None-Match: *` / GCS `ifGenerationMatch=0`
    * gives. Everything else inherits the (non-atomic-rename) Hadoop
    * paths, mirroring a real object-store deployment. */
  private class FakeS3LogStore extends ConditionalPutLogStore(() => hconf) {
    override protected def conditionalCreate(path: String,
        content: Array[Byte]): Boolean =
      FakeS3LogStore.lock.synchronized {
        val p = java.nio.file.Paths.get(path)
        java.nio.file.Files.createDirectories(p.getParent)
        if (java.nio.file.Files.exists(p)) false
        else {
          java.nio.file.Files.write(p, content,
            java.nio.file.StandardOpenOption.CREATE_NEW)
          true
        }
      }
  }
  private object FakeS3LogStore { val lock = new Object }

  test("scheme gate: putIfAbsent on an undeclared object-store " +
      "scheme refuses loudly with conditional-PUT guidance") {
    // serve s3x:// from the local FS so only the GATE distinguishes it
    hconf.set("fs.s3x.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    val hs = new HadoopLogStore(() => hconf)
    val e = intercept[IllegalArgumentException] {
      hs.putIfAbsent(s"s3x://${tmp()}/snapshot-v1.txt", "x".getBytes)
    }
    assert(e.getMessage.contains("conditional PUT"),
      s"refusal must point at the fix, said: ${e.getMessage}")
    assert(e.getMessage.contains("s3x"))
  }

  test("the exists+rename race is real: a non-atomic create driven " +
      "through a barrier double-commits — the hazard the gate blocks") {
    val d = tmp()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    // the non-atomic shape object-store renames degrade to:
    // check-then-write with a window in between
    def nonAtomicPut(content: String): Boolean = {
      val p = java.nio.file.Paths.get(s"$d/snapshot-v1.txt")
      if (java.nio.file.Files.exists(p)) return false
      barrier.await() // both writers pass the exists() check
      java.nio.file.Files.write(p, content.getBytes) // copy+delete 'rename'
      true
    }
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val ts = (1 to 2).map(i => new Thread(() =>
      if (nonAtomicPut(s"w$i")) { wins.incrementAndGet(); () }))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(wins.get() == 2,
      "both writers must 'win' through the non-atomic path — " +
        "this is the silent lost-commit the scheme gate refuses")
  }

  test("conditional-PUT store: 8 racing writers resolve to ONE " +
      "winner, and the loser never clobbers the winner's content") {
    val d = tmp()
    val st = new FakeS3LogStore
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val ts = (1 to 8).map(i => new Thread(() =>
      if (st.putIfAbsent(s"$d/snapshot-v1.txt", s"w$i".getBytes))
        { wins.incrementAndGet(); () }))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(wins.get() == 1)
    assert(new String(st.read(s"$d/snapshot-v1.txt")).startsWith("w"))
  }

  test("race: 4 writers x 2 appends through the conditional-PUT " +
      "store — gapless history, no lost or duplicated rows") {
    val base = tmp()
    val root = s"$base/t"
    val prev = LogStore.provider
    val st = new FakeS3LogStore
    LogStore.provider = r => if (r.startsWith(base)) st else prev(r)
    try {
      val t = GraftTable.create(spark, root,
        (1L to 100L).toDF("k"), Seq("k"), numFiles = 1)
      assert(t.logStore eq st)
      val handles = (0 until 4).map(_ => GraftTable.forPath(spark, root))
      handles.zipWithIndex.map { case (h, w) => Future {
        (0 until 2).foreach { i =>
          val lo = 1000L * (w * 2 + i + 1)
          h.append(((lo + 1) to (lo + 50)).toDF("k"), numFiles = 1)
        }
      }}.foreach(Await.result(_, Duration.Inf))
      assert(t.currentVersion == 9, "8 appends after create")
      val h = t.history().orderBy(col("version"))
        .collect().map(r => (r.getLong(0), r.getLong(2)))
      assert(h.map(_._1).toSeq == (1L to 9L), s"gapless: ${h.toSeq}")
      h.foreach { case (v, p) => assert(p == v - 1) }
      assert(t.read().count() == 500)
      assert(t.read().agg(countDistinct(col("k"))).head()
        .getLong(0) == 500)
    } finally LogStore.provider = prev
  }

  test("race: appends vs compact and an exactly-once ledger batch " +
      "through the conditional-PUT store") {
    val base = tmp()
    val root = s"$base/t"
    val prev = LogStore.provider
    val st = new FakeS3LogStore
    LogStore.provider = r => if (r.startsWith(base)) st else prev(r)
    try {
      val t = GraftTable.create(spark, root,
        (1L to 100L).toDF("k"), Seq("k"), numFiles = 4)
      val appender = GraftTable.forPath(spark, root)
      Seq(
        Future { (1 to 3).foreach { i =>
          val lo = 1000L * i
          appender.append(((lo + 1) to (lo + 50)).toDF("k"), numFiles = 2)
        }},
        Future { (1 to 3).foreach(_ => t.compact(numFiles = 1)) }
      ).foreach(Await.result(_, Duration.Inf))
      assert(t.read().count() == 250, "compaction must not drop appends")
      // exactly-once: two writers submit the SAME batch id — one lands
      val w1 = GraftTable.forPath(spark, root)
      val w2 = GraftTable.forPath(spark, root)
      Seq(w1, w2).map(w => Future {
        w.appendIfAbsent(Seq(9999L).toDF("k"), batchId = 42L)
      }).foreach(Await.result(_, Duration.Inf))
      assert(t.read().where(col("k") === 9999L).count() == 1,
        "same batch id must land exactly once")
    } finally LogStore.provider = prev
  }

  test("transient IO after a LANDED rename reads back as a win; a " +
      "missing destination RETHROWS instead of orphaning the commit") {
    hconf.set("fs.s3x.impl", classOf[S3xFileSystem].getName)
    hconf.set("fs.AbstractFileSystem.s3x.impl", classOf[S3xFs].getName)
    hconf.set("graft.logstore.atomic.rename.schemes", "s3x")
    try {
      val d = tmp()
      // A: rename lands, THEN the rpc 'fails' — must verify and win
      val landed = new HadoopLogStore(() => hconf) {
        override protected def renameNoOverwrite(
            fc: org.apache.hadoop.fs.FileContext,
            tmp: org.apache.hadoop.fs.Path,
            dst: org.apache.hadoop.fs.Path): Unit = {
          super.renameNoOverwrite(fc, tmp, dst)
          throw new java.io.IOException("simulated rpc timeout")
        }
      }
      assert(landed.putIfAbsent(s"s3x:$d/a.txt", "one".getBytes),
        "a landed rename whose ack was lost is a WIN, not a loss")
      assert(new String(landed.read(s"s3x:$d/a.txt")) == "one")

      // B: rename never happened, destination missing — must rethrow
      val dropped = new HadoopLogStore(() => hconf) {
        override protected def renameNoOverwrite(
            fc: org.apache.hadoop.fs.FileContext,
            tmp: org.apache.hadoop.fs.Path,
            dst: org.apache.hadoop.fs.Path): Unit =
          throw new java.io.IOException("simulated network drop")
      }
      val e = intercept[java.io.IOException] {
        dropped.putIfAbsent(s"s3x:$d/b.txt", "x".getBytes)
      }
      assert(e.getMessage.contains("network drop"),
        "ambiguous-but-absent outcome must surface, not read as a loss")

      // C: destination holds a RIVAL's content — an honest loss
      val plain = new HadoopLogStore(() => hconf)
      assert(plain.putIfAbsent(s"s3x:$d/c.txt", "rival".getBytes))
      assert(!dropped.putIfAbsent(s"s3x:$d/c.txt", "mine".getBytes),
        "rival content at the destination is a loss")
      assert(new String(plain.read(s"s3x:$d/c.txt")) == "rival")
    } finally hconf.unset("graft.logstore.atomic.rename.schemes")
  }
}

/** Test-only FileSystem serving the fake `s3x` scheme from the local
  * FS (the RawLocal path logic with the scheme check widened), so the
  * transient-IO cases run without an object-store connector. */
class S3xFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("s3x:///")
}

/** Its AbstractFileSystem twin for FileContext resolution. */
class S3xFs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(uri,
      new S3xFileSystem, conf, "s3x", false)
