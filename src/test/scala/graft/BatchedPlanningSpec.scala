package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.format.GraftTable

/** Batched scan planning + distributed vacuum (VERDICT r12 #1/#6):
  * past `PlanCollectLimit`, read planning streams the manifest with
  * `toLocalIterator` instead of one whole-result collect, and
  * vacuum's orphan detection runs as a distributed listing +
  * left-anti-join instead of a driver Set over every live path.
  * These cases FORCE the scale paths on small fixtures (the knobs are
  * vars) and pin exact equivalence with the driver paths — same
  * planned files, same pruning, same vacuum survivors — so the scale
  * code is exercised by every CI run, not just at 10⁶ files. */
class BatchedPlanningSpec extends AnyFunSuite with TempDirs {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(): String = tempDir("graft_batchplan_") + "/t"

  private def forceScale[T](f: => T): T = {
    val (pl, dv) =
      (GraftTable.PlanCollectLimit, GraftTable.DistributedVacuumMinDirs)
    GraftTable.PlanCollectLimit = 0L
    GraftTable.DistributedVacuumMinDirs = 1
    try f finally {
      GraftTable.PlanCollectLimit = pl
      GraftTable.DistributedVacuumMinDirs = dv
    }
  }

  test("streamed planning (toLocalIterator path) reads the same rows " +
      "and prunes the same files as collect planning") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 1000L).map(k => (k, k % 7)).toDF("k", "m"),
      Seq("k"), numFiles = 8)
    t.append((1001L to 1200L).map(k => (k, k % 7)).toDF("k", "m"),
      numFiles = 4)
    val wantAll = t.read().count()
    val wantSum = t.read().agg(sum("k")).head().getLong(0)
    val (_, keptC, totC) = t.prunedWhere(col("k") > 1100L)
    forceScale {
      GraftTable.invalidate(root) // drop the memoized collect-path list
      val t2 = GraftTable.forPath(spark, root)
      assert(t2.read().count() == wantAll)
      assert(t2.read().agg(sum("k")).head().getLong(0) == wantSum)
      // connector planning takes the streamed branch too
      val viaSrc = spark.read.format("gtable").load(root)
      assert(viaSrc.count() == wantAll)
      assert(viaSrc.where(col("k") > 1100L).count() == 100)
      val (_, keptS, totS) = t2.prunedWhere(col("k") > 1100L)
      assert((keptS, totS) == (keptC, totC),
        "streamed planning must prune identically")
    }
  }

  test("API-path pruned reads (prunedRead/prunedWhere) stream past " +
      "the collect limit with identical answers (VERDICT r13 #6)") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 2000L).map(k => (k, k % 13)).toDF("k", "m"),
      Seq("k"), numFiles = 16)
    t.deleteWhereMor(col("k") % 17 === 0) // DV must survive the path
    val (dfC, keptC, totC) = t.prunedRead("k", lit(500L), lit(900L))
    val wantRows = dfC.count()
    val wantSum = dfC.agg(sum("k")).head().getLong(0)
    val (_, keptWC, totWC) = t.prunedWhere(col("k").between(500, 900))
    forceScale {
      GraftTable.invalidate(root)
      val t2 = GraftTable.forPath(spark, root)
      val (dfS, keptS, totS) = t2.prunedRead("k", lit(500L), lit(900L))
      assert((keptS, totS) == (keptC, totC),
        "streamed prunedRead must skip identically")
      assert(dfS.count() == wantRows)
      assert(dfS.agg(sum("k")).head().getLong(0) == wantSum)
      val (dfWS, keptWS, totWS) =
        t2.prunedWhere(col("k").between(500, 900))
      assert((keptWS, totWS) == (keptWC, totWC))
      assert(dfWS.count() == wantRows)
    }
  }

  test("fileCount answers from the snapshot record and matches the " +
      "manifest") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 100L).toDF("k"), Seq("k"), numFiles = 4)
    t.append((101L to 120L).toDF("k"), numFiles = 2)
    assert(t.fileCount() == t.manifest().count())
    t.deleteWhere(col("k") <= 25) // COW rewrite changes the file set
    assert(t.fileCount() == t.manifest().count())
  }

  test("distributed vacuum reclaims exactly what the driver walk " +
      "reclaims: orphans + expired history go, live and tagged stay") {
    def build(root: String): GraftTable = {
      val t = GraftTable.create(spark, root,
        (1L to 200L).toDF("k"), Seq("k"), numFiles = 4)
      t.append((201L to 300L).toDF("k"), numFiles = 2)
      t.tag("pin")
      t.deleteWhere(col("k") % 10 === 0)
      t.compact(numFiles = 2)
      // a crash orphan: a data file no snapshot references
      val orphanDir = new java.io.File(s"$root/data/c_orphan")
      orphanDir.mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/data/c_orphan/stray.parquet"),
        "junk".getBytes)
      t
    }
    val rootA = tmp() // driver walk
    val tA = build(rootA)
    val delA = tA.vacuum(retainLast = 1, minOrphanAgeMs = 0L)
    val rootB = tmp() // distributed path
    val tB = build(rootB)
    val delB = forceScale { tB.vacuum(retainLast = 1, minOrphanAgeMs = 0L) }
    assert(delB == delA,
      s"distributed vacuum reclaimed $delB files, driver walk $delA")
    assert(!new java.io.File(s"$rootB/data/c_orphan").exists(),
      "the orphan dir must be gone")
    assert(tB.read().count() == tA.read().count())
    assert(tB.read(tB.versionForTag("pin")).count() ==
      tA.read(tA.versionForTag("pin")).count(),
      "tagged version must survive the distributed vacuum")
    // both tables stay fully readable after reclamation
    assert(tB.read().agg(sum("k")).head().getLong(0) ==
      tA.read().agg(sum("k")).head().getLong(0))
  }
}
