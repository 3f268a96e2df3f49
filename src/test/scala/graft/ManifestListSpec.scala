package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.format.GraftTable

/** Manifest-LIST indirection (VERDICT r10 #1): commits write O(delta)
  * manifest metadata, never a rewrite of the full live-file manifest.
  * A snapshot names a LIST of disjoint manifest dirs; appends add one
  * delta dir, MOR deletes and restores touch zero manifest rows, COW
  * removals rewrite only the dirs that list a removed file, and a
  * fold policy bounds the list length so reads stay O(few dirs). */
class ManifestListSpec extends AnyFunSuite with TempDirs {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(): String = tempDir("graft_mlist_spec_") + "/t"

  /** All manifest dirs currently on disk under <root>/_log. */
  private def manifestDirs(root: String): Set[String] =
    Option(new java.io.File(s"$root/_log").listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filter(_.startsWith("manifest-v")).toSet

  /** Total manifest rows across the given dirs — the metadata WRITE
    * cost of a commit is the rows in its newly-created dirs. */
  private def rowsIn(root: String, dirs: Set[String]): Long =
    if (dirs.isEmpty) 0L
    else spark.read
      .parquet(dirs.toSeq.map(d => s"$root/_log/$d"): _*).count()

  /** The manifest-list length recorded in snapshot v's commit file. */
  private def listLen(root: String, v: Long): Int = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/_log/snapshot-v$v.txt")), "UTF-8")
    txt.split("\n").find(_.startsWith("manifests="))
      .map(_.stripPrefix("manifests=").split(",").count(_.nonEmpty))
      .getOrElse(fail(s"snapshot v$v has no manifests= line"))
  }

  test("append to an N-file table writes O(appended) manifest rows: " +
      "one delta dir with exactly the new files, parent dirs carried " +
      "by reference") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 1000L).toDF("k"), Seq("k"), numFiles = 10)
    assert(t.manifest().count() == 10)
    val before = manifestDirs(root)
    t.append((1001L to 1010L).toDF("k"), numFiles = 2)
    val fresh = manifestDirs(root) -- before
    assert(rowsIn(root, fresh) == 2,
      s"a 2-file append onto a 10-file table must write 2 manifest " +
        s"rows, not ${rowsIn(root, fresh)} (full rewrite)")
    assert(before.subsetOf(manifestDirs(root)),
      "the parent's manifest dirs must survive (carried by reference)")
    assert(t.manifest().count() == 12)
    assert(t.read().count() == 1010)
  }

  test("deleteWhereMor and restore write ZERO manifest rows — the " +
      "list carries by reference; addColumns likewise") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 100L).toDF("k"), Seq("k"), numFiles = 4)
    val before = manifestDirs(root)
    t.deleteWhereMor(col("k") <= 10)
    assert(manifestDirs(root) == before,
      "a MOR delete's metadata write must be the DV alone")
    assert(t.read().count() == 90)
    t.addColumns(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.StringType))))
    assert(manifestDirs(root) == before, "ALTER ADD COLUMN is log-only")
    t.restore(1)
    assert(manifestDirs(root) == before,
      "restore re-points at the old list with zero manifest IO")
    assert(t.read().count() == 100, "restore must undo the MOR delete")
  }

  test("COW delete rewrites only the manifest dirs that list a " +
      "removed file; unaffected dirs carry by reference") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 100L).toDF("k"), Seq("k"), numFiles = 1)
    t.append((101L to 200L).toDF("k"), numFiles = 1)
    t.append((201L to 300L).toDF("k"), numFiles = 1)
    val before = manifestDirs(root)
    assert(before.size == 3, "three appends → three delta dirs")
    // hits only the middle file: its dir rewrites (empty survivors),
    // the other two dirs must still be referenced, and the new
    // metadata is O(affected dir), not 3 files' worth
    t.deleteWhere(col("k") > 100 && col("k") <= 200)
    val fresh = manifestDirs(root) -- before
    assert(rowsIn(root, fresh) == 0,
      s"the all-hit dir's rewrite has zero survivors; got " +
        s"${rowsIn(root, fresh)} rewritten manifest rows")
    assert(t.read().count() == 200)
    assert(t.manifest().count() == 2)
  }

  test("fold policy: the manifest list never exceeds " +
      s"${GraftTable.MaxManifestListLen} dirs, folds to " +
      s"${GraftTable.TargetManifestListLen}, and reads stay exact " +
      "across the fold") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 10L).toDF("k"), Seq("k"), numFiles = 1)
    var maxLen = 0
    (1 to 24).foreach { i =>
      val lo = i * 10L + 1
      t.append((lo until lo + 10).toDF("k"), numFiles = 1)
      maxLen = math.max(maxLen, listLen(root, t.currentVersion))
    }
    assert(maxLen <= GraftTable.MaxManifestListLen,
      s"list length must be bounded, saw $maxLen")
    assert(maxLen > GraftTable.TargetManifestListLen,
      "the run must actually have grown past the fold target")
    assert(t.read().count() == 250)
    assert(t.read().agg(countDistinct(col("k"))).head().getLong(0)
      == 250)
    assert(t.manifest().count() == 25,
      "folding merges dirs, never drops or duplicates entries")
    // history totals stay exact through folds (driver arithmetic
    // over per-dir counts, no manifest read)
    val h = t.history().where(col("version") === t.currentVersion)
      .head()
    assert(h.getLong(3) == 25 && h.getLong(4) == 250)
  }

  test("a stats column declared AFTER earlier commits: carried dirs' " +
      "null envelopes KEEP their files in pruning and mutation audits " +
      "(null-safe), and rewrites over mixed dirs don't abort") {
    val root = tmp()
    GraftTable.create(spark, root,
      (1L to 100L).map(k => (k, k * 2)).toDF("k", "v"),
      Seq("k"), numFiles = 1)
    // reopen declaring v as a stats column too; the old dir's entries
    // have no min_v/max_v — the union null-fills them
    val t = GraftTable.openOrCreate(spark, root, Seq("k", "v"))
    t.append((101L to 200L).map(k => (k, k * 2)).toDF("k", "v"),
      numFiles = 1)
    // every matching row lives in the OLD (null-envelope) file: a
    // null-unsafe envelope test would prune it and silently lose them
    val (rows, opened, total) = t.prunedWhere(col("v") <= 100)
    assert(total == 2)
    // the NEW file prunes on its real envelope (min_v = 202 > 100);
    // the OLD file's null envelope must KEEP it — exactly 1 opened
    assert(opened == 1, "null envelope must keep, real envelope must prune")
    assert(rows.count() == 50)
    // the COW delete's stats-pruned audit must include the old file
    t.deleteWhere(col("v") <= 100)
    assert(t.read().count() == 150,
      "rows in the pre-declaration file must be deleted too")
    // a rewrite across mixed dirs (old lacks min_v in its parquet)
    // must not abort on the unresolvable column
    t.compactSmall(maxRows = 1000)
    assert(t.read().count() == 150)
    assert(t.manifest().count() == 1)
  }

  test("vacuum respects dir sharing: expired snapshots' dirs survive " +
      "while a retained snapshot still lists them, and reads keep " +
      "working afterwards") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 100L).toDF("k"), Seq("k"), numFiles = 1)
    t.append((101L to 200L).toDF("k"), numFiles = 1)
    t.append((201L to 300L).toDF("k"), numFiles = 1)
    // v3's list shares v1's and v2's delta dirs; expiring v1/v2 must
    // not delete them out from under v3
    assert(t.vacuum(retainLast = 1) == 0,
      "append-only history: no data file is unreferenced")
    assert(manifestDirs(root).size == 3,
      "shared manifest dirs must survive expiry of their birth snapshot")
    assert(t.read().count() == 300)
    // after a compact (fresh single-dir list), the old dirs are only
    // referenced by expired snapshots → vacuum removes them
    t.compact(numFiles = 1)
    t.vacuum(retainLast = 1)
    assert(manifestDirs(root).size == 1,
      s"only the compacted dir should remain: ${manifestDirs(root)}")
    assert(t.read().count() == 300)
  }
}
