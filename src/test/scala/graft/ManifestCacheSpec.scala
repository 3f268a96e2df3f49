package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.format.{CommitProfile, GraftTable}

/** The r15 manifest fixed-cost fixes, pinned: (1) the driver-local
  * manifest-rows cache serves EXACTLY what is on disk — a same-
  * process read (cached LocalRelations) and a fresh-process read
  * (parquet, after invalidate) must see identical manifests; (2) a
  * repeatedly-merged small table keeps a BOUNDED manifest list (the
  * removal path drops all-removed dirs instead of accreting one
  * empty dir per merge — the cur_mart term that grew ~0.3 s/night in
  * the curation-at-history bench); (3) a windowed replaceWhere costs
  * its data jobs only: reads take the recorded schema (no footer
  * inference job) and the survivors' and replacement's entries are
  * written as one driver-local manifest. */
class ManifestCacheSpec extends AnyFunSuite with TempDirs {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(): String = tempDir("graft_manifest_cache_") + "/t"

  private def manifestRows(t: GraftTable): Set[Seq[Any]] =
    t.manifest().select(col("path"), col("row_count"),
      col("min_k"), col("max_k"))
      .collect().map(_.toSeq).toSet

  test("cached manifest reads equal a cold-process (parquet) read " +
      "across appends, merges and folds") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 20L).map(k => (k, k)).toDF("k", "v"),
      statsCols = Seq("k"), numFiles = 2)
    // enough one-file appends to cross a manifest fold
    (1 to GraftTable.MaxManifestListLen + 2).foreach(i =>
      t.append(Seq((100L + i, i.toLong)).toDF("k", "v"), numFiles = 1))
    // a merge exercises the removal-rewrite path
    t.merge(Seq((5L, 500L), (105L, 5000L)).toDF("k", "v"), Seq("k"),
      numFiles = 1)
    val warm = manifestRows(t) // served from the rows cache
    assert(warm.nonEmpty)
    GraftTable.invalidate(root) // drop all caches: cold process twin
    val cold = manifestRows(GraftTable.forPath(spark, root))
    assert(warm == cold,
      "the driver-local manifest cache drifted from the on-disk dirs")
    // and the data reads agree with themselves
    assert(t.read().where(col("k") === 5L).head().getLong(1) == 500L)
  }

  test("repeated merges on a small table keep a BOUNDED manifest " +
      "list: all-removed dirs are dropped, not accreted") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      Seq(("en", 1L), ("de", 2L)).toDF("lang", "n"),
      statsCols = Seq("lang"), numFiles = 1)
    (1 to 12).foreach { i =>
      t.merge(Seq(("en", i * 10L), ("fr", i.toLong)).toDF("lang", "n"),
        Seq("lang"), numFiles = 1)
    }
    // every merge rewrites the single live file; the emptied source
    // dir must be dropped so the list stays O(live dirs)
    assert(t.fileCount() <= 2L)
    val dirs = t.manifest().inputFiles.length // proxy is unreliable —
    // assert through the snapshot record instead
    val rec = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/_log/snapshot-v13.txt")),
      "UTF-8")
    val nDirs = rec.linesIterator.find(_.startsWith("manifests="))
      .map(_.count(_ == ',') + 1).getOrElse(-1)
    assert(nDirs >= 1 && nDirs <= 3,
      s"12 merges accreted $nDirs manifest dirs (dirs=$dirs) — " +
        "all-removed dirs must not be carried")
    // totals stay exact through all 12 merges
    val got = t.read().collect().map(r =>
      r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("en" -> 120L, "de" -> 2L, "fr" -> 12L))
  }

  /** Stage names of the jobs launched while `f` runs (listener-based;
    * the bus is async, so poll until the set is stable). */
  private def jobStages(f: => Unit): Seq[String] = {
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        js.stageInfos.foreach(si => names.add(si.name))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      f
      var last = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(200)
        if (names.size == last) stable += 1
        else { last = names.size; stable = 0 }
      }
    } finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    names.asScala.toSeq
  }

  test("a windowed replaceWhere with a mixed file runs no footer-" +
      "inference job and writes its manifest driver-locally") {
    val root = tmp()
    // range-clustered on m (numFiles = 0 keeps the layout): file 1
    // holds m in {0, 1}, file 2 m in {2, 3}, so the m = 1 window
    // makes file 1 MIXED — its m = 0 rows are rewritten as survivors
    val base = (0 until 400).map(i => (i / 100, i % 100, i.toLong))
      .toDF("m", "d", "v").repartitionByRange(2, col("m"))
    val t = GraftTable.create(spark, root, base, statsCols = Seq("m"),
      numFiles = 0)
    assert(t.fileCount() == 2L)
    val window = col("m") === 1
    val repl = (0 until 50).map(i => (1, i, -i.toLong)).toDF("m", "d", "v")
    CommitProfile.reset()
    CommitProfile.on.set(true)
    val stages =
      try jobStages { t.replaceWhere(window, repl, numFiles = 1); () }
      finally CommitProfile.on.set(false)
    val inferred = stages.filter(_.startsWith("parquet at GraftTable"))
    assert(inferred.isEmpty,
      s"replaceWhere ran parquet footer/write jobs: $inferred")
    val phases = CommitProfile.snapshotNs
    assert(phases.contains("manifest_write"), phases.keySet)
    assert(!phases.contains("manifest_job"),
      "survivor + replacement entries took the distributed manifest " +
        "write instead of the driver-local one")
    // the file set: file 2 carried, file 1 replaced by its survivors
    // plus the replacement — and the rows are exactly the window swap
    assert(t.fileCount() == 3L)
    val got = t.read().select("m", "d", "v").as[(Int, Int, Long)]
      .collect().toSet
    val want = base.where(!window).as[(Int, Int, Long)].collect().toSet ++
      repl.as[(Int, Int, Long)].collect().toSet
    assert(got == want)
    assert(t.outputRows() == Some(50L))
  }
}
