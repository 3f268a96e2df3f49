package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.format.GraftTable

/** The table-format layer's non-gate invariants: snapshot isolation,
  * zone-map skip rates, COW file accounting, compaction invariance,
  * commit-race loser rebase, and history. (Result correctness is
  * hash-gated by q205–q208.) */
class GraftTableSpec extends AnyFunSuite with TempDirs {
  import TestSpark.{spark, sfDir}
  import spark.implicits._

  private def tmp(): String = tempDir("graft_table_spec_") + "/t"

  private def orders = Tables.load(spark, sfDir, "orders")

  test("append is snapshot-isolated: an old version keeps its exact " +
      "row set after later commits") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      orders.where(col("o_orderkey") <= 1000), Seq("o_orderkey"))
    val v1Rows = t.read(1).count()
    t.append(orders.where(col("o_orderkey") > 1000))
    assert(t.currentVersion == 2)
    assert(t.read(1).count() == v1Rows, "time travel must be stable")
    assert(t.read().count() == orders.count())
  }

  test("prunedRead opens a strict subset of files on a narrow key " +
      "range and still returns exactly the matching rows") {
    val root = tmp()
    // range-cluster so per-file envelopes are disjoint → skippable;
    // numFiles = 0 preserves the clustering through the write
    val t = GraftTable.create(spark, root,
      orders.repartitionByRange(8, col("o_orderkey")),
      Seq("o_orderkey"), numFiles = 0)
    val (rows, opened, total) =
      t.prunedRead("o_orderkey", lit(1), lit(100))
    assert(total >= 8)
    assert(rows.count() ==
      orders.where(col("o_orderkey").between(1, 100)).count())
    assert(opened * 2 <= total,
      s"zone maps must skip most files: opened $opened of $total")
  }

  test("deleteWhere is copy-on-write at file level: a no-hit file " +
      "carries forward by reference, an all-hit file drops, a mixed " +
      "file is rewritten") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 100L).toDF("k"), Seq("k"), numFiles = 1)      // no hits
    t.append((101L to 200L).toDF("k"), numFiles = 1)       // all hits
    t.append((201L to 300L).toDF("k"), numFiles = 1)       // mixed
    val before = t.manifest().select("path").as[String].collect().toSet
    assert(before.size == 3)
    t.deleteWhere(col("k") > 100 && col("k") <= 250)
    val after = t.manifest().select("path").as[String].collect().toSet
    // exactly the untouched 1–100 file survives by reference; the
    // all-hit 101–200 file is gone; 201–300 was rewritten to new paths
    assert(before.intersect(after).size == 1,
      s"expected one carried-forward file: $before vs $after")
    assert(t.read().count() == 150)
    assert(t.read().agg(min(col("k")), max(col("k"))).head()
      .toSeq == Seq(1L, 300L))
    assert(t.read().where(col("k").between(101, 250)).count() == 0)
  }

  test("compact rewrites layout, not content, and history records " +
      "every operation with its parent chain") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 500L).toDF("k"), Seq("k"), numFiles = 4)
    t.append((501L to 900L).toDF("k"), numFiles = 4)
    val before = t.read().select(sum(col("k")), count(lit(1))).head()
    val filesBefore = t.manifest().count()
    t.compact(numFiles = 1)
    assert(t.manifest().count() < filesBefore)
    assert(t.read().select(sum(col("k")), count(lit(1))).head() == before)
    val h = t.history().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(h.toSeq == Seq((3L, "compact", 2L), (2L, "append", 1L),
      (1L, "append", 0L)))
  }

  test("merge replaces matched keys, inserts new ones, and carries " +
      "unmatched files forward by reference") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 100L).map(k => (k, k * 10)).toDF("k", "v"),
      Seq("k"), numFiles = 1)                       // file A: untouched
    t.append((101L to 200L).map(k => (k, k * 10)).toDF("k", "v"),
      numFiles = 1)                                 // file B: matched
    val before = t.manifest().select("path").as[String].collect().toSet
    // update 150-160 (in file B), insert 201-210
    t.merge(((150L to 160L) ++ (201L to 210L))
      .map(k => (k, -k)).toDF("k", "v"), keyCols = Seq("k"))
    val after = t.manifest().select("path").as[String].collect().toSet
    assert(before.intersect(after).size == 1,
      "the untouched file must carry forward by reference")
    assert(t.read().count() == 210)
    assert(t.read().where(col("v") < 0).count() == 21)
    assert(t.read().where(col("k") === 155).select("v").head().getLong(0)
      == -155, "matched row must be replaced")
    assert(t.read().where(col("k") === 55).select("v").head().getLong(0)
      == 550, "unmatched row must be untouched")
  }

  test("merge with only-new keys is a pure insert (empty hit set)") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 50L).map(k => (k, k)).toDF("k", "v"), Seq("k"), numFiles = 1)
    t.merge((51L to 60L).map(k => (k, k)).toDF("k", "v"), Seq("k"))
    assert(t.read().count() == 60)
  }

  test("appendIfAbsent applies a batch id once: the replay is " +
      "swallowed by the snapshot ledger, even through a reopened handle") {
    val root = tmp()
    val t = GraftTable.openOrCreate(spark, root, Seq("k"))
    val b0 = (1L to 100L).toDF("k")
    assert(t.appendIfAbsent(b0, batchId = 0L) == 1)
    assert(t.appendIfAbsent((101L to 200L).toDF("k"), batchId = 1L) == 2)
    // at-least-once retry of batch 0, same handle and a fresh one
    assert(t.appendIfAbsent(b0, batchId = 0L) == 2, "replay must no-op")
    assert(GraftTable.forPath(spark, root)
      .appendIfAbsent(b0, batchId = 0L) == 2)
    assert(t.read().count() == 200)
    assert(t.appliedBatches == Set(0L, 1L))
  }

  test("z-order clustered commit skips files on BOTH dimensions") {
    val root = tmp()
    val staged = graft.etl.ZOrder
      .zValue(orders, "o_custkey", "o_orderkey")
      .repartitionByRange(8, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
    val t = GraftTable.create(spark, root, staged,
      Seq("o_custkey", "o_orderkey"), numFiles = 0)
    val (byCust, openedC, totalC) =
      t.prunedRead("o_custkey", lit(1), lit(15))
    val (byKey, openedK, totalK) =
      t.prunedRead("o_orderkey", lit(1), lit(150))
    assert(totalC >= 8 && totalK >= 8)
    assert(openedC < totalC, s"custkey dim must skip: $openedC/$totalC")
    assert(openedK < totalK, s"orderkey dim must skip: $openedK/$totalK")
    assert(byCust.count() ==
      orders.where(col("o_custkey").between(1, 15)).count())
    assert(byKey.count() ==
      orders.where(col("o_orderkey").between(1, 150)).count())
  }

  test("prunedWhere: an OR of two key ranges skips files; a predicate " +
      "the translation can't use keeps them all; both stay exact") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      orders.repartitionByRange(8, col("o_orderkey")),
      Seq("o_orderkey"), numFiles = 0)
    val cond = (col("o_orderkey").between(1, 60) ||
      col("o_orderkey").between(1400, 1500)) &&
      col("o_orderstatus") === "F"
    val (rows, opened, total) = t.prunedWhere(cond)
    assert(total >= 8)
    assert(opened < total, s"OR-range must skip: $opened/$total")
    assert(rows.count() == orders.where(cond).count())
    // non-stats-column predicate: conservative — all files open, but
    // the result is still exact
    val unsup = col("o_orderstatus") === "F"
    val (rows2, opened2, total2) = t.prunedWhere(unsup)
    assert(opened2 == total2)
    assert(rows2.count() == orders.where(unsup).count())
    // NOT is conservative too (never unsound)
    val neg = !col("o_orderkey").between(1, 60)
    val (rows3, _, _) = t.prunedWhere(neg)
    assert(rows3.count() == orders.where(neg).count())
  }

  test("optimizeZorder re-clusters an append-ordered table in place: " +
      "content identical, and zone maps start skipping on both " +
      "dimensions where before they couldn't") {
    val root = tmp()
    // append-ordered: custkey-sorted commits → orderkey smeared
    val t = GraftTable.create(spark, root,
      orders.repartitionByRange(8, col("o_custkey")),
      Seq("o_custkey", "o_orderkey"), numFiles = 0)
    val (_, openedBefore, totalBefore) =
      t.prunedRead("o_orderkey", lit(1), lit(150))
    assert(openedBefore == totalBefore,
      "custkey-clustered layout cannot skip on orderkey")
    val before = t.read().select(sum(col("o_orderkey")),
      count(lit(1))).head()
    t.optimizeZorder("o_custkey", "o_orderkey")
    assert(t.read().select(sum(col("o_orderkey")),
      count(lit(1))).head() == before, "content must not change")
    val (rk, openedK, totalK) = t.prunedRead("o_orderkey", lit(1), lit(150))
    val (rc, openedC, totalC) = t.prunedRead("o_custkey", lit(1), lit(15))
    assert(openedK < totalK, s"orderkey now skips: $openedK/$totalK")
    assert(openedC < totalC, s"custkey still skips: $openedC/$totalC")
    assert(rk.count() ==
      orders.where(col("o_orderkey").between(1, 150)).count())
    assert(rc.count() ==
      orders.where(col("o_custkey").between(1, 15)).count())
  }

  test("readChanges returns exactly the rows of files added between " +
      "two snapshots") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 100L).toDF("k"), Seq("k"), numFiles = 2)
    t.append((101L to 180L).toDF("k"), numFiles = 2)
    t.append((181L to 220L).toDF("k"), numFiles = 2)
    val ch = t.readChanges(1, 3)
    assert(ch.count() == 120)
    assert(ch.agg(min(col("k")), max(col("k"))).head().toSeq
      == Seq(101L, 220L))
    assert(t.readChanges(2, 2).count() == 0)
  }

  test("vacuum deletes only what the retained snapshots no longer " +
      "reference; current reads survive, expired time travel is gone") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 400L).toDF("k"), Seq("k"), numFiles = 4)
    t.append((401L to 500L).toDF("k"), numFiles = 2)
    t.compact(numFiles = 1) // v3: all data in 1 file; v1/v2 files dead
    // age guard 0: reclaim expired history NOW (the default 7-day
    // guard would let these young dead files linger — Delta's
    // retention contract, O(retained) planning)
    val deleted = t.vacuum(retainLast = 1, minOrphanAgeMs = 0L)
    assert(deleted == 6, s"expected the 6 pre-compact files, got $deleted")
    assert(t.read().count() == 500, "current snapshot must be intact")
    intercept[java.nio.file.NoSuchFileException](t.read(1).count())
    assert(t.history().collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("vacuum plans O(retained + tagged) manifest passes, never a " +
      "full-history replay; expired-history files younger than the " +
      "age guard linger (Delta's retention contract)") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 100L).toDF("k"), Seq("k"), numFiles = 1)
    (1 to 20).foreach(i =>
      t.append((100L * i + 1 to 100L * i + 100).toDF("k"), numFiles = 1))
    t.compact(numFiles = 1)                      // v22: 1 file
    t.append((2101L to 2200L).toDF("k"), numFiles = 1) // v23
    t.tag("pin", 5L)
    // retained = v22 (compacted) + v23; tagged = v5 (files 1–5).
    // Files 6–21 are expired history but YOUNG — the age guard keeps
    // them, and planning touched exactly 3 manifests, not all 23
    assert(t.vacuum(retainLast = 2) == 0,
      "young expired-history files must survive the age guard")
    assert(t.lastVacuumManifestReads == 3L,
      "one manifest pass per retained (2) + tagged (1) version, " +
        s"got ${t.lastVacuumManifestReads}")
    assert(t.read().count() == 2200)
    assert(t.read(5).count() == 500, "tagged version still readable")
    // force-collect: everything outside retained+tagged reachability
    assert(t.vacuum(retainLast = 2, minOrphanAgeMs = 0L) == 16,
      "files 6–21 are outside retained+tagged reachability")
    assert(t.lastVacuumManifestReads == 3L)
    assert(t.read().count() == 2200)
    assert(t.read(5).count() == 500)
  }

  test("metadataAggregates answers count/min/max from the manifest " +
      "alone — even after every data file is deleted") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 300L).toDF("k"), Seq("k"), numFiles = 3)
    t.append((301L to 500L).toDF("k"), numFiles = 2)
    // destroy the data; only the log remains
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$root/data")).deleteRecursively()
    val r = t.metadataAggregates().head()
    assert(r.getLong(0) == 500)
    assert(r.getLong(1) == 1 && r.getLong(2) == 500)
  }

  test("replaceWhere rebuilds exactly the matching window in ONE " +
      "snapshot; non-matching files carry forward by reference") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 100L).map(k => (k, k)).toDF("k", "v"), Seq("k"),
      numFiles = 1)                                    // no hits
    t.append((101L to 200L).map(k => (k, k)).toDF("k", "v"),
      numFiles = 1)                                    // all hits
    val before = t.manifest().select("path").as[String].collect().toSet
    val vBefore = t.currentVersion
    t.replaceWhere(col("k") > 100,
      (101L to 150L).map(k => (k, -k)).toDF("k", "v"), numFiles = 1)
    assert(t.currentVersion == vBefore + 1, "one atomic snapshot")
    val after = t.manifest().select("path").as[String].collect().toSet
    assert(before.intersect(after).size == 1,
      "the no-hit file must carry forward by reference")
    assert(t.read().count() == 150)
    assert(t.read().where(col("v") < 0).count() == 50)
    assert(t.read().where(col("k") > 150).count() == 0,
      "deleted window rows not re-inserted must be gone")
  }

  test("deleteWhere keeps NULL-evaluating rows — in mixed files and " +
      "zero-hit files alike (Delta DELETE semantics, layout-independent)") {
    val root = tmp()
    // file A: no hits, NULLs present; file B: mixed — 5 hits + 5 NULLs
    val fileA = (1L to 10L)
      .map(k => (k, if (k % 2 == 0) None else Some(1L)))
      .toDF("k", "x")
    val fileB = (11L to 20L)
      .map(k => (k, if (k > 15) Some(100L) else None))
      .toDF("k", "x")
    val t = GraftTable.create(spark, root, fileA, Seq("x"), numFiles = 1)
    t.append(fileB, numFiles = 1)
    val before = t.manifest().select("path").as[String].collect().toSet
    t.deleteWhere(col("x") > 5)
    // only rows where x > 5 IS TRUE go: 15 survive, all 10 NULLs stay
    assert(t.read().count() == 15)
    assert(t.read().where(col("x").isNull).count() == 10,
      "NULL-evaluating rows must be kept in mixed AND zero-hit files")
    assert(t.read().where(col("x") > 5).count() == 0)
    // file A (envelope [1,1] can't intersect x>5) carried by reference
    // without even being read by the audit
    val after = t.manifest().select("path").as[String].collect().toSet
    assert(before.intersect(after).size == 1)
    assert(t.lastAuditScanned == 1 && t.lastAuditTotal == 2,
      s"audit must be stats-pruned: read ${t.lastAuditScanned} of " +
        s"${t.lastAuditTotal}")
  }

  test("replaceWhere keeps NULL-evaluating rows outside the window") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 20L).map(k =>
        (k, if (k % 4 == 0) None else Some(k))).toDF("k", "x"),
      Seq("x"), numFiles = 1)
    // window x > 10: true for x in 11..20 (non-null), NULL for k%4==0
    t.replaceWhere(col("x") > 10,
      Seq((100L, Some(999L))).toDF("k", "x"), numFiles = 1)
    // survivors: x<=10 non-null (1,2,3,5,6,7,9,10 → x in 1..10 minus
    // multiples of 4 → 8 rows) + 5 NULLs + 1 replacement row
    assert(t.read().where(col("x").isNull).count() == 5,
      "NULL rows are not in the window and must survive")
    assert(t.read().count() == 8 + 5 + 1)
    assert(t.read().where(col("x") === 999).count() == 1)
  }

  test("the COW audit is stats-pruned: a windowed delete on a " +
      "range-clustered table reads only envelope-intersecting files") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      orders.repartitionByRange(8, col("o_orderkey")),
      Seq("o_orderkey"), numFiles = 0)
    val before = t.manifest().select("path").as[String].collect().toSet
    val lo = orders.agg(min(col("o_orderkey"))).head().getLong(0)
    t.deleteWhere(col("o_orderkey").between(lo, lo + 50))
    assert(t.lastAuditTotal >= 8)
    assert(t.lastAuditScanned * 2 <= t.lastAuditTotal,
      s"windowed delete must not scan the table: " +
        s"${t.lastAuditScanned}/${t.lastAuditTotal}")
    val after = t.manifest().select("path").as[String].collect().toSet
    assert(before.intersect(after).size >= t.lastAuditTotal - t.lastAuditScanned,
      "non-intersecting files must carry forward by reference")
    assert(t.read().count() ==
      orders.where(!col("o_orderkey").between(lo, lo + 50)).count())
  }

  /** An int-keyed monthly table at `root` through session `s`: one
    * file per month m = 1..12 of year 2014, ten rows (v = 1..10) each,
    * stats on the int columns y and m. */
  private def monthly(s: org.apache.spark.sql.SparkSession,
      root: String): GraftTable = {
    def month(m: Int) = s.createDataFrame(
      (1 to 10).map(i => (2014, m, i.toLong))).toDF("y", "m", "v")
    val t = GraftTable.create(s, root, month(1), Seq("y", "m"),
      numFiles = 1)
    (2 to 12).foreach(m => t.append(month(m), numFiles = 1))
    t
  }

  /** A session that analyzes `int_col = 'lit'` ANSI-style, as
    * `cast(int_col as bigint) = cast('lit' as bigint)`. */
  private def ansi = {
    val s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "true")
    s
  }

  test("zone maps prune int columns through the ANSI widening cast: " +
      "a bigint or string literal opens and audits only its month") {
    val s = ansi
    val t = monthly(s, tmp())
    for (w <- Seq(col("y") === 2014L && col("m") === 9L,
        col("y") === "2014" && col("m") === "09")) {
      val (rows, opened, total) = t.prunedWhere(w)
      assert(total == 12 && opened == 1, s"$w opened $opened of $total")
      assert(rows.select("m", "v").as[(Int, Long)].collect().toSet ==
        (1 to 10).map(i => (9, i.toLong)).toSet)
    }
    val (range, opened, _) = t.prunedWhere(col("m") >= 11L)
    assert(opened == 2 && range.count() == 20)
    val month9 = t.manifest().where(col("min_m") === 9)
      .select("path").as[String].collect().toSet
    t.replaceWhere(col("m") === "09",
      s.createDataFrame(Seq((2014, 9, 99L))).toDF("y", "m", "v"),
      numFiles = 1)
    assert(t.lastAuditTotal == 12 && t.lastAuditScanned == 0,
      s"audited ${t.lastAuditScanned} of ${t.lastAuditTotal}")
    val after = t.manifest().select("path").as[String].collect().toSet
    assert(after.size == 12 && (after & month9).isEmpty,
      "exactly the month's file is replaced")
    assert(t.read().count() == 111)
    assert(t.read().where(col("m") === 9).select("v").as[Long]
      .collect().toSeq == Seq(99L))
  }

  test("casts that are not a lossless integral widening keep and " +
      "audit every file, and the rows stay exact") {
    val t = monthly(ansi, tmp())
    for (w <- Seq(col("m").cast("double") === 9.0,
        col("m").cast("string") === "9",
        col("m").cast("byte") === 9)) {
      val (rows, opened, total) = t.prunedWhere(w)
      assert(opened == total, s"$w must keep every file")
      assert(rows.count() == 10, s"$w")
    }
    t.deleteWhere(col("m").cast("double") === 9.0)
    assert(t.lastAuditScanned == 12, "no proof through a double cast")
    assert(t.read().count() == 110)
  }

  test("a bloom-indexed int column probed with a bigint literal stays " +
      "exact: the bloom is never probed through a cast") {
    val root = tmp()
    // overlapping envelopes (odd vs even k): only the bloom can tell
    // the two files apart
    val t = GraftTable.create(spark, root,
      (1 to 99 by 2).map(k => (k, s"o$k")).toDF("k", "s"), Seq("k"),
      numFiles = 1, bloomCols = Seq("k"))
    t.append((2 to 100 by 2).map(k => (k, s"e$k")).toDF("k", "s"),
      numFiles = 1)
    val (wide, openedWide, total) = t.prunedWhere(col("k") === 5L)
    assert(wide.select("s").as[String].collect().toSeq == Seq("o5"))
    assert(openedWide == total, "envelope only through the cast")
    val (bare, openedBare, _) = t.prunedWhere(col("k") === 5)
    assert(bare.count() == 1 && openedBare == 1, "the bare probe blooms")
  }

  test("a file whose envelope equals the window but holds NULLs is " +
      "audited, and its NULL rows survive") {
    val root = tmp()
    val rows = (1 to 10).map(i =>
      (i.toLong, if (i <= 3) None else Some(9)))
    val t = GraftTable.create(spark, root, rows.toDF("k", "m"), Seq("m"),
      numFiles = 1)
    assert(t.manifest().select("min_m", "max_m", "nulls_m").head().toSeq
      == Seq(9, 9, 3L))
    t.replaceWhere(col("m") === 9L, Seq((100L, Some(9))).toDF("k", "m"),
      numFiles = 1)
    assert(t.lastAuditScanned == 1, "NULLs defeat the proof")
    assert(t.read().select("k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 100L))
  }

  test("a truncated envelope is audited, not proved") {
    val root = tmp()
    val doc = (i: Int) => "b" * 100 + i
    val t = GraftTable.create(spark, root,
      (1 to 10).map(i => (i, doc(i))).toDF("k", "body"), Seq("body"),
      numFiles = 1)
    assert(t.manifest().select("trunc_body").head().getBoolean(0))
    t.deleteWhere(col("body") > "a")
    assert(t.lastAuditScanned == 1, "a truncated envelope is not exact")
    assert(t.read().count() == 0)
  }

  test("a stats-proved file with a deletion vector drops unread and " +
      "no deleted row comes back") {
    val t = monthly(spark, tmp())
    t.deleteWhereMor(col("m") === 9 && col("v") === 3L)
    t.deleteWhereMor(col("m") === 10 && col("v") === 3L)
    assert(t.hasDeletionVectors())
    t.replaceWhere(col("m") === 9L,
      Seq((2014, 9, 99L)).toDF("y", "m", "v"), numFiles = 1)
    assert(t.lastAuditScanned == 0)
    t.deleteWhere(col("m") === 10L)
    assert(t.lastAuditScanned == 0)
    assert(t.read().where(col("m") === 9).select("v").as[Long]
      .collect().toSeq == Seq(99L))
    assert(t.read().where(col("m") === 10).count() == 0)
    assert(t.read().count() == 101)
    assert(t.metadataAggregates().select("n_rows").head().getLong(0)
      == 101L, "the dropped files' deletion-vector entries left too")
  }

  test("the merge key-probe is envelope-pruned: a range-local update " +
      "set probes only the files its key bounds intersect") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      orders.repartitionByRange(8, col("o_orderkey")),
      Seq("o_orderkey"), numFiles = 0)
    val lo = orders.agg(min(col("o_orderkey"))).head().getLong(0)
    val upd = orders.where(col("o_orderkey").between(lo, lo + 100))
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    t.merge(upd, keyCols = Seq("o_orderkey"))
    assert(t.lastAuditTotal >= 8)
    assert(t.lastAuditScanned * 2 <= t.lastAuditTotal,
      s"range-local merge must not probe the table: " +
        s"${t.lastAuditScanned}/${t.lastAuditTotal}")
    assert(t.read().count() == orders.count(), "whole-row upsert keeps count")
  }

  test("a writer crashing between data write and snapshot create is " +
      "invisible: readers see the parent, history is gapless, and " +
      "vacuum collects the orphans (age guard protects live writers)") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 100L).toDF("k"), Seq("k"), numFiles = 1)
    t.beforeSnapshotCreate =
      () => throw new RuntimeException("injected crash")
    intercept[RuntimeException](t.append((101L to 200L).toDF("k"),
      numFiles = 1))
    t.beforeSnapshotCreate = () => ()
    // the torn commit is invisible to every reader
    assert(t.currentVersion == 1)
    assert(t.read().count() == 100)
    assert(t.history().collect().map(_.getLong(0)).toSeq == Seq(1L))
    // default vacuum spares the fresh orphans — they could belong to a
    // live writer that hasn't created its snapshot yet
    assert(t.vacuum(retainLast = 1) == 0,
      "age guard must protect a possibly-in-flight commit")
    // crash recovery: force-collect, then the table keeps working
    assert(t.vacuum(retainLast = 1, minOrphanAgeMs = 0L) == 1,
      "the orphaned data file must be collected")
    val manifests = new java.io.File(s"$root/_log").listFiles()
      .map(_.getName).filter(_.startsWith("manifest-v")).toSeq
    assert(manifests.size == 1, s"orphan manifest dir must go: $manifests")
    assert(t.append((101L to 200L).toDF("k"), numFiles = 1) == 2)
    assert(t.read().count() == 200)
  }

  test("vacuum refuses retainLast = 0 and create refuses a root that " +
      "already has commits") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 10L).toDF("k"), Seq("k"), numFiles = 1)
    intercept[IllegalArgumentException](t.vacuum(retainLast = 0))
    intercept[IllegalStateException](
      GraftTable.create(spark, root, (1L to 10L).toDF("k"), Seq("k")))
  }

  test("a table deleted and re-created at the same root in one process " +
      "reads its own files and schema, not the cached ones") {
    def rmRoot(root: String): Unit = {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(root)).deleteRecursively(); ()
    }
    val root = tmp()
    GraftTable.create(spark, root, (1L to 10L).toDF("k"), Seq("k"),
      numFiles = 1)
    assert(GraftTable.forPath(spark, root).read().count() == 10L)
    rmRoot(root)
    GraftTable.create(spark, root,
      (1L to 5L).map(k => (k, s"s$k")).toDF("k", "s"), Seq("k"),
      numFiles = 1)
    val again = GraftTable.forPath(spark, root).read()
    assert(again.columns.toSeq == Seq("k", "s"))
    assert(again.count() == 5L)
    // the same through openOrCreate + overwrite (the lake tiers' path)
    rmRoot(root)
    val t = GraftTable.openOrCreate(spark, root, Seq("k"))
    t.overwrite((1L to 3L).map(k => (k, k * 2.0)).toDF("k", "d"),
      numFiles = 1)
    val third = GraftTable.forPath(spark, root).read()
    assert(third.columns.toSeq == Seq("k", "d"))
    assert(third.as[(Long, Double)].collect().toSet ==
      Set((1L, 2.0), (2L, 4.0), (3L, 6.0)))
  }

  test("two writers racing the same parent both land: put-if-absent " +
      "picks one winner, the loser rebases onto it, no rows lost") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 100L).toDF("k"), Seq("k"), numFiles = 1)
    val rival = GraftTable.forPath(spark, root)
    // both handles see parent = 1 and contend for snapshot-v2.txt;
    // the atomic CREATE_NEW guarantees exactly one wins and the other
    // retries against the winner's manifest
    val fa = Future(t.append((101L to 200L).toDF("k"), numFiles = 1))
    val fb = Future(rival.append((201L to 300L).toDF("k"), numFiles = 1))
    val versions = Set(Await.result(fa, Duration.Inf),
      Await.result(fb, Duration.Inf))
    assert(versions == Set(2L, 3L), s"got $versions")
    assert(t.currentVersion == 3)
    assert(t.read().count() == 300, "the loser's rows must survive")
    assert(t.read().agg(countDistinct(col("k"))).head().getLong(0) == 300)
    val h = t.history().collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(h.toSeq == Seq((3L, 2L), (2L, 1L), (1L, 0L)),
      "parent chain must be linear")
  }

  test("protocol gate: a snapshot demanding a newer reader protocol " +
      "refuses with upgrade guidance; older versions stay readable") {
    val root = tempDir("graft_proto_") + "/t"
    import spark.implicits._
    val t = GraftTable.create(spark, root,
      (1L to 10L).toDF("k"), Seq("k"), numFiles = 1)
    // hand-craft a v2 written by a 'future' library: same content,
    // but demanding a reader protocol this build does not implement
    val v1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/_log/snapshot-v1.txt")), "UTF-8")
    val v2 = v1.replace("parent=0", "parent=1")
      .replace("min_reader_version=1", "min_reader_version=99")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/_log/snapshot-v2.txt"),
      v2.getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      GraftTable.forPath(spark, root).read().count()
    }
    assert(e.getMessage.contains("upgrade") &&
      e.getMessage.contains("99"), s"unhelpful: ${e.getMessage}")
    // time travel to the old, readable version still works
    assert(t.read(1).count() == 10)
    assert(t.currentVersion == 2)
  }
}
