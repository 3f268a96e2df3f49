package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.format.GraftTable

/** MERGE-ON-READ deletion vectors: `deleteWhereMor` records deleted
  * (file, row-ordinal) pairs instead of rewriting files. These pin the
  * format's MOR invariants — zero data-file writes on delete, exact
  * live view everywhere (format reads, connector reads, later COW
  * mutations), DV-follows-manifest restriction at commit, compaction
  * materializing deletions away, and vacuum's DV-dir lifecycle.
  * (Result correctness is additionally hash-gated by q232/q233.) */
class DeletionVectorSpec extends AnyFunSuite with TempDirs {
  import TestSpark.{spark, sfDir}
  import spark.implicits._

  private def tmp(): String = tempDir("graft_dv_spec_") + "/t"

  private def dataFiles(root: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(s"$root/data"))
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSet
  }

  test("deleteWhereMor writes NO data file: same manifest paths, a " +
      "deletion vector, and exactly the live rows on read") {
    val root = tmp()
    val t = GraftTable.create(spark, root, (1L to 1000L).toDF("k"),
      Seq("k"), numFiles = 4)
    val filesBefore = dataFiles(root)
    val manBefore = t.manifest().select("path").as[String].collect().toSet
    val v = t.deleteWhereMor(col("k") % 10 === 0)
    assert(v == 2)
    assert(dataFiles(root) == filesBefore,
      "a MOR delete must not write or remove any data file")
    assert(t.manifest().select("path").as[String].collect().toSet
      == manBefore, "the manifest must carry every file forward")
    assert(t.hasDeletionVectors())
    assert(t.read().count() == 900)
    assert(t.read().where(col("k") % 10 === 0).count() == 0)
    // time travel: the pre-delete version still sees everything
    assert(t.read(1).count() == 1000)
    // exact metadata count: physical − n_dels
    assert(t.metadataAggregates().select("n_rows").head().getLong(0)
      == 900)
  }

  test("MOR deletes accumulate across commits and NULL-evaluating " +
      "rows are kept (same semantics as COW delete)") {
    val root = tmp()
    val df = Seq[(Long, java.lang.Long)](
      (1L, 10L), (2L, null), (3L, 30L), (4L, 40L), (5L, null))
      .toDF("k", "v")
    val t = GraftTable.create(spark, root, df, Seq("k"), numFiles = 1)
    t.deleteWhereMor(col("v") > 25) // NULL v rows must survive
    assert(t.read().select("k").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 5L))
    t.deleteWhereMor(col("k") === 1)
    assert(t.read().select("k").as[Long].collect().sorted.toSeq
      == Seq(2L, 5L))
    // second delete folded the first's DV forward
    assert(t.metadataAggregates().select("n_rows").head().getLong(0) == 2)
  }

  test("the MOR audit is stats-pruned: a windowed delete on a range-" +
      "clustered table reads only the window's files") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 10000L).toDF("k").repartitionByRange(10, col("k")),
      Seq("k"), numFiles = 0)
    t.deleteWhereMor(col("k").between(1, 500))
    assert(t.lastAuditTotal == 10)
    assert(t.lastAuditScanned <= 2,
      s"windowed MOR delete must audit only the window's files, " +
        s"read ${t.lastAuditScanned} of ${t.lastAuditTotal}")
    assert(t.read().count() == 9500)
  }

  test("compact materializes the deletion vector away: identical " +
      "content, DV gone, metadata-only agg pushdown restored") {
    val root = tmp()
    val t = GraftTable.create(spark, root, (1L to 1000L).toDF("k"),
      Seq("k"), numFiles = 4)
    t.deleteWhereMor(col("k") <= 100)
    val live = t.read().select("k").as[Long].collect().sorted.toSeq
    t.compact(numFiles = 2)
    assert(!t.hasDeletionVectors(), "compact must clear the DV")
    assert(t.read().select("k").as[Long].collect().sorted.toSeq == live)
    assert(t.metadataAggregates().select("n_rows").head().getLong(0)
      == 900)
  }

  test("later COW mutations see the live view: deleteWhere, merge and " +
      "replaceWhere after a MOR delete never resurrect deleted rows") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v"),
      Seq("k"), numFiles = 2)
    t.deleteWhereMor(col("k") <= 10)
    // COW delete of an overlapping range: rewrites mixed files off the
    // live view — rows 1..10 must not come back
    t.deleteWhere(col("k").between(5, 20))
    assert(t.read().select("k").as[Long].collect().sorted.toSeq
      == (21L to 100L))
    // merge touching a file that still carries DV entries
    val t2root = tmp()
    val t2 = GraftTable.create(spark, t2root,
      (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v"),
      Seq("k"), numFiles = 1)
    t2.deleteWhereMor(col("k") <= 10)
    t2.merge(Seq((5L, "upd5"), (50L, "upd50"), (200L, "new200"))
      .toDF("k", "v"), Seq("k"))
    val m = t2.read().select("k", "v").as[(Long, String)].collect().toMap
    assert(!m.contains(1L) && !m.contains(10L),
      "MOR-deleted rows must not resurrect through a merge rewrite")
    assert(m(5L) == "upd5", "a MOR-deleted key matched nothing, so " +
      "the update row inserts")
    assert(m(50L) == "upd50" && m(200L) == "new200" && m(60L) == "v60")
    // the full rewrite of the only file dropped its DV entries
    assert(!t2.hasDeletionVectors())
  }

  test("append after a MOR delete carries the DV forward; the " +
      "connector scan stays COLUMNAR under a DV (batches compacted " +
      "against the deleted ordinals), strings/nulls survive the copy") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 1000L).map(k =>
        (k, if (k % 5 == 0) null else s"s$k")).toDF("k", "s"),
      Seq("k"), numFiles = 4)
    t.deleteWhereMor(col("k") % 7 === 0)
    t.append((1001L to 1100L).map(k => (k, s"s$k")).toDF("k", "s"),
      numFiles = 1)
    assert(t.hasDeletionVectors(), "append must carry the DV forward")
    val expected = (1L to 1100L).filterNot(k => k <= 1000 && k % 7 == 0)
    assert(t.read().count() == expected.size)

    val src = spark.read.format("gtable").load(root)
    assert(src.count() == expected.size,
      "connector count must honor the deletion vector (and agg " +
        "pushdown must have declined)")
    assert(src.select("k").as[Long].collect().sorted.toSeq == expected)
    // the DV'd scan must STAY columnar: one sparse delete may not tax
    // a 100 TB scan with row-at-a-time decode
    val proj = src.select("k", "s")
    val plan = proj.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"a DV'd scan must remain columnar, got:\n$plan")
    // value fidelity through the batch compaction, nulls included
    val got = proj.as[(Long, Option[String])].collect().toMap
    assert(got.size == expected.size)
    assert(got(5L).isEmpty && got(3L).contains("s3")
      && got(1050L).contains("s1050"))
    assert(!got.contains(7L) && !got.contains(700L))
    // windowed scan: manifest pruning still applies on top of the DV
    assert(spark.read.format("gtable").load(root)
      .where(col("k").between(1, 50)).count() == 50 - 7)

    t.compact(numFiles = 4)
    assert(!t.hasDeletionVectors())
    val planAfter = spark.read.format("gtable").load(root).select("k")
      .queryExecution.executedPlan.toString
    assert(planAfter.contains("ColumnarToRow"),
      s"post-compaction scan must be columnar, got:\n$planAfter")
  }

  test("mergeMor upserts with zero file rewrites: matched rows enter " +
      "the DV, updates append, untouched data files are byte-stable") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v"),
      Seq("k"), numFiles = 4)
    val filesBefore = dataFiles(root)
    t.mergeMor(Seq((10L, "upd10"), (20L, "upd20"), (200L, "new200"))
      .toDF("k", "v"), Seq("k"))
    assert(filesBefore.subsetOf(dataFiles(root)),
      "mergeMor must never rewrite or remove an existing data file")
    assert(t.hasDeletionVectors())
    val m = t.read().select("k", "v").as[(Long, String)].collect().toMap
    assert(m.size == 101)
    assert(m(10L) == "upd10" && m(20L) == "upd20" && m(200L) == "new200")
    assert(m(30L) == "v30")
    // re-merging the same key replaces the FIRST update's appended row
    // (its ordinal joins the DV), never duplicates
    t.mergeMor(Seq((10L, "upd10b")).toDF("k", "v"), Seq("k"))
    val m2 = t.read().select("k", "v").as[(Long, String)].collect().toMap
    assert(m2.size == 101 && m2(10L) == "upd10b")
    // the probe is envelope-pruned: a key-local merge on a range-
    // clustered table audits only the window's files
    val root2 = tmp()
    val t2 = GraftTable.create(spark, root2,
      (1L to 10000L).map(k => (k, k * 2)).toDF("k", "x")
        .repartitionByRange(10, col("k")),
      Seq("k"), numFiles = 0)
    t2.mergeMor(Seq((5L, 0L), (7L, 1L)).toDF("k", "x"), Seq("k"))
    assert(t2.lastAuditScanned <= 2,
      s"range-local mergeMor must probe only the window's files, " +
        s"read ${t2.lastAuditScanned} of ${t2.lastAuditTotal}")
  }

  test("readCdc emits deletes for DV-joined rows, inserts for added " +
      "files, and a row appended-then-deleted in the window nets zero") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 100L).toDF("k"), Seq("k"), numFiles = 2)       // v1
    t.append((101L to 200L).toDF("k"), numFiles = 1)        // v2
    t.deleteWhereMor(col("k") % 10 === 0)                   // v3
    // full-history fold lands exactly on the live view
    val fold = t.readCdc(0, 3)
      .groupBy()
      .agg(sum(when(col("_change_type") === "insert", 1L)
        .otherwise(-1L)).as("n"))
      .head().getLong(0)
    assert(fold == t.read().count())
    // windowed: v2→v3 carries ONLY the delete events
    val w = t.readCdc(2, 3)
    assert(w.where(col("_change_type") === "insert").count() == 0)
    assert(w.where(col("_change_type") === "delete")
      .select("k").as[Long].collect().sorted.toSeq
      == (10L to 200L by 10L))
    // a row appended and MOR-deleted inside the window emits BOTH
    val w2 = t.readCdc(1, 3)
    assert(w2.where(col("_change_type") === "insert")
      .count() == 100) // the v2 file's rows
    assert(w2.where(col("k") === 150).count() == 2,
      "appended-then-deleted row must emit insert AND delete")
  }

  test("vacuum deletes expired snapshots' DV dirs, keeps the retained " +
      "one, and time travel inside the horizon still works") {
    val root = tmp()
    val t = GraftTable.create(spark, root, (1L to 1000L).toDF("k"),
      Seq("k"), numFiles = 4)
    t.deleteWhereMor(col("k") <= 100) // v2, dv A
    t.deleteWhereMor(col("k") <= 200) // v3, dv B (carries A)
    def dvDirs() = Option(new java.io.File(s"$root/_log").listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("dv-v"))
      .map(_.getName).toSet
    assert(dvDirs().size == 2)
    // DV dirs are DELTA dirs shared by reference (r11): v3's list
    // names both, so expiring v2 must not delete either out from
    // under v3
    t.vacuum(retainLast = 1, minOrphanAgeMs = 0L)
    assert(dvDirs().size == 2,
      "both delta dirs are still referenced by the retained snapshot")
    assert(t.read().count() == 800)
    // a compact materializes deletions away; the delta dirs then
    // belong only to expired history and vacuum reclaims them
    t.compact(numFiles = 1)
    t.vacuum(retainLast = 1, minOrphanAgeMs = 0L)
    assert(dvDirs().isEmpty,
      s"unreferenced DV delta dirs must be reclaimed: ${dvDirs()}")
    assert(t.read().count() == 800)
  }

  test("MOR commits write O(new deletes) DV metadata: each delete " +
      "adds ONE delta dir holding only its own entries, appends add " +
      "none, and an overlong list folds") {
    val root = tmp()
    val t = GraftTable.create(spark, root, (1L to 10000L).toDF("k"),
      Seq("k"), numFiles = 4)
    def dvDirs() = Option(new java.io.File(s"$root/_log").listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("dv-v"))
      .map(_.getName).toSet
    t.deleteWhereMor(col("k") <= 5000) // 5000 entries
    val afterBig = dvDirs()
    assert(afterBig.size == 1)
    t.deleteWhereMor(col("k") > 5000 && col("k") <= 5010) // 10 entries
    val fresh = (dvDirs() -- afterBig).toSeq
    assert(fresh.size == 1)
    val freshRows = spark.read
      .parquet(s"$root/_log/${fresh.head}").count()
    assert(freshRows == 10,
      s"the second delete must write its own 10 entries, not the " +
        s"accumulated 5010 (wrote $freshRows) — O(new), not O(total)")
    // a pure append adds no DV dir and keeps the accounting exact
    val beforeAppend = dvDirs()
    t.append((10001L to 10100L).toDF("k"), numFiles = 1)
    assert(dvDirs() == beforeAppend, "appends write zero DV metadata")
    assert(t.read().count() == 10000 - 5010 + 100)
    // many small MOR deletes: the list folds instead of growing
    // unboundedly
    (1 to 10).foreach { i =>
      t.deleteWhereMor(col("k") === (5010L + i))
    }
    assert(t.read().count() == 10000 - 5020 + 100)
    val listLen = {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(
          s"$root/_log/snapshot-v${t.currentVersion}.txt")), "UTF-8")
      txt.split("\n").find(_.startsWith("dvs="))
        .map(_.stripPrefix("dvs=").split(",").count(_.nonEmpty))
        .getOrElse(0)
    }
    assert(listLen <= graft.format.GraftTable.MaxDvListLen,
      s"the DV list must stay bounded, was $listLen")
    // reads remain exact through the fold
    assert(t.read().agg(min(col("k"))).head().getLong(0) == 5021L)
  }
}
