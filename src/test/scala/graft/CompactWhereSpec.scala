package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.format.GraftTable

/** Predicate-scoped compaction (round 12, Delta's `OPTIMIZE … WHERE`):
  * fold file debt ONLY in the slice whose stats envelope intersects
  * the predicate. At 100 TB maintenance is always windowed — the
  * untouched band must carry by reference with zero IO, the rewrite
  * must drop DV'd rows, and the commit must be `data_change=0` so CDC
  * windows skip it. */
class CompactWhereSpec extends AnyFunSuite with TempDirs {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(): String = tempDir("graft_cw_spec_") + "/t"

  test("compactWhere folds only the predicate's slice: the other " +
      "band's files carry by reference, DV'd rows drop, and the " +
      "commit is invisible to CDC") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (501L to 1000L).toDF("k"), Seq("k"), numFiles = 4)
    // low band accretes as 4 small appends → 8 files of debt
    (0 to 3).foreach(i => t.append(
      (1L to 500L).toDF("k").where(col("k") % 4 === i), numFiles = 2))
    t.deleteWhereMor(col("k") % 10 === 0 && col("k") <= 500)
    val hiFiles = t.manifest().where(col("min_k") > 500)
      .select("path").as[String].collect().toSet
    assert(hiFiles.size == 4)
    assert(t.manifest().count() == 12)
    assert(t.deletedRowCount() == 50)
    val vBefore = t.currentVersion
    val v = t.compactWhere(col("k") <= 500, numFiles = 1)
    assert(v == vBefore + 1)
    val after = t.manifest().select("path").as[String].collect().toSet
    assert(hiFiles.subsetOf(after),
      "high-band files must carry by reference, not rewrite")
    assert((after -- hiFiles).size == 1, "low band must fold to 1 file")
    assert(t.deletedRowCount() == 0,
      "the rewrite must drop the slice's DV'd rows")
    assert(t.read().count() == 950)
    assert(t.read()
      .where(col("k") % 10 === 0 && col("k") <= 500).count() == 0)
    assert(t.readCdc(vBefore, v).count() == 0,
      "compact_where is data_change=0 — a CDC window over it emits " +
        "nothing")
  }

  test("no intersecting files, a single candidate, or all-above-" +
      "maxRows debt is a zero-commit no-op") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 100L).toDF("k"), Seq("k"), numFiles = 1)
    val v0 = t.currentVersion
    assert(t.compactWhere(col("k") <= 100) == v0,
      "one candidate folds into itself — skip")
    assert(t.compactWhere(col("k") > 1000) == v0, "empty slice — skip")
    t.append((101L to 200L).toDF("k"), numFiles = 1)
    val v1 = t.currentVersion
    assert(t.compactWhere(col("k") <= 1000, maxRows = 5) == v1,
      "no file under maxRows — skip")
    assert(t.currentVersion == v1, "no no-op commits may land")
  }

  test("clusterBy re-sorts the folded slice into range-disjoint " +
      "envelopes (zone maps prune afterwards)") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1001L to 2000L).toDF("k"), Seq("k"), numFiles = 2)
    // hash-partitioned appends: every low file spans the whole range
    (0 to 2).foreach(_ =>
      t.append((1L to 999L).toDF("k")
        .withColumn("k", (col("k") * 7919) % 1000 + 1), numFiles = 2))
    t.compactWhere(col("k") <= 1000, numFiles = 4,
      clusterBy = Seq("k"))
    val low = t.manifest().where(col("max_k") <= 1000)
      .select("min_k", "max_k").as[(Long, Long)].collect().sorted
    assert(low.length == 4)
    low.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi < lo, s"envelopes must be disjoint: $low")
    }
    // content is untouched: 3 × 999 rows re-keyed + the high band
    assert(t.read().count() == 3 * 999 + 1000)
  }
}
