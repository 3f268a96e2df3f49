package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.format.GraftTable

/** Pins the r15 DRIVER-LOCAL MICRO-MERGE fast path (GraftTable
  * .mergeImpl): a LocalRelation update frame must (a) produce exactly
  * the rows the generic COW merge produces, (b) run the whole merge in
  * at most ONE Spark job beyond the write (the candidate-file scan —
  * previously ~6 micro-jobs of fixed cost), and (c) keep the
  * stats-envelope audit pruning observable. Float keys (whose java
  * equality diverges from SQL join equality on -0.0/NaN) must fall
  * back to the generic path and still merge correctly.
  */
class MicroMergeSpec extends AnyFunSuite with TempDirs {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(): String = tempDir("graft_micromerge_") + "/t"

  /** Jobs launched while `f` runs (listener-based; test-only). */
  private def countJobs(f: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      f
      // the listener bus is async: poll until the count is stable
      var last = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(200)
        if (n.get() == last) stable += 1 else { last = n.get(); stable = 0 }
      }
    } finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  /** A localized (LocalRelation) frame — what martDeltaMerge and the
    * streaming upserts hand to merge. */
  private def local(df: org.apache.spark.sql.DataFrame) =
    GraftTable.localFrame(spark, df)

  test("micro-merge: identical rows to the generic semantics, at most " +
      "one scan job, audit still envelope-pruned") {
    val root = tmp()
    // range-clustered files so the key envelope can prune (numFiles=0
    // keeps the caller's partitioning, like the lake tiers)
    val base = (1L to 100L).map(k => (k, s"v$k")).toDF("k", "s")
      .repartitionByRange(4, col("k"))
    val t = GraftTable.create(spark, root, base, statsCols = Seq("k"),
      numFiles = 0)
    // updates rewrite two keys in ONE file's range, as a LocalRelation
    val upd = local(Seq((5L, "NEW5"), (6L, "NEW6")).toDF("k", "s"))
    val jobs = countJobs { t.merge(upd, Seq("k"), numFiles = 1); () }
    // one candidate-file scan job; everything else driver-side (the
    // manifest is cache-resident after create, the survivor write is
    // the driver-local micro-append, removal resolves in-cache)
    assert(jobs <= 2, s"micro-merge ran $jobs jobs, expected <= 2")
    // stats envelope pruned the probe to the file that can hold 5..6
    assert(t.lastAuditTotal == 4, s"audit total ${t.lastAuditTotal}")
    assert(t.lastAuditScanned < t.lastAuditTotal,
      s"audit not pruned: ${t.lastAuditScanned}/${t.lastAuditTotal}")
    val got = t.read().orderBy("k").collect().map(r =>
      (r.getLong(0), r.getString(1)))
    val want = (1L to 100L).map(k => (k, if (k == 5) "NEW5"
      else if (k == 6) "NEW6" else s"v$k"))
    assert(got.toSeq == want, "merged rows must match the COW contract")
  }

  test("micro-merge null-key semantics match the generic join algebra: " +
      "a NULL update key matches nothing and inserts; a NULL table key " +
      "survives") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      Seq((Some(1L), "a"), (None, "tbl-null")).toDF("k", "s"),
      statsCols = Nil, numFiles = 1)
    t.merge(local(Seq((Some(1L), "A2"), (Option.empty[Long], "upd-null"))
      .toDF("k", "s")), Seq("k"), numFiles = 1)
    val got = t.read().select("s").as[String].collect().sorted.toSeq
    // table NULL row survives; update NULL row inserts; k=1 replaced
    assert(got == Seq("A2", "tbl-null", "upd-null"), got.toString)
  }

  test("float keys fall back to the generic path and still merge " +
      "correctly") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      Seq((1.5d, "a"), (2.5d, "b")).toDF("k", "s"),
      statsCols = Nil, numFiles = 1)
    t.merge(local(Seq((2.5d, "B2"), (3.5d, "c")).toDF("k", "s")),
      Seq("k"), numFiles = 1)
    val got = t.read().orderBy("k").collect()
      .map(r => (r.getDouble(0), r.getString(1))).toSeq
    assert(got == Seq((1.5d, "a"), (2.5d, "B2"), (3.5d, "c")),
      got.toString)
  }

  test("case-sensitive analysis: an update column whose case differs " +
      "from keyCol is NOT silently micro-merged (generic-path parity)") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      Seq((1L, "a")).toDF("k", "s"), statsCols = Seq("k"), numFiles = 1)
    spark.conf.set("spark.sql.caseSensitive", "true")
    try {
      // exact-case frame still merges (micro path stays eligible)
      t.merge(local(Seq((1L, "A2")).toDF("k", "s")), Seq("k"),
        numFiles = 1)
      assert(t.read().collect().map(_.getString(1)).toSeq == Seq("A2"))
      // a "K"-cased key column must behave like the generic path —
      // fail analysis — not silently merge via folded-name matching
      intercept[org.apache.spark.sql.AnalysisException] {
        t.merge(local(Seq((1L, "A3")).toDF("K", "s")), Seq("k"),
          numFiles = 1)
      }
      assert(t.read().collect().map(_.getString(1)).toSeq == Seq("A2"))
    } finally spark.conf.set("spark.sql.caseSensitive", "false")
  }

  test("localFrameBounded collects under the bound and refuses past " +
      "it (the driver-safety guard on mart totals)") {
    val small = GraftTable.localFrameBounded(spark,
      spark.range(10).toDF("k"), maxRows = 16)
    assert(small.isDefined && small.get.count() == 10)
    val big = GraftTable.localFrameBounded(spark,
      spark.range(100).toDF("k"), maxRows = 16)
    assert(big.isEmpty,
      "a frame past the bound must stay distributed, not collect")
  }

  test("micro-merge replays are ledger-idempotent (mergeIfAbsent)") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      Seq((1L, 10L)).toDF("k", "n"), statsCols = Seq("k"), numFiles = 1)
    t.mergeIfAbsent(local(Seq((1L, 11L)).toDF("k", "n")), Seq("k"),
      batchId = 7L, numFiles = 1)
    val v = t.currentVersion
    // replay of the same batch must be a no-op commit-wise
    t.mergeIfAbsent(local(Seq((1L, 999L)).toDF("k", "n")), Seq("k"),
      batchId = 7L, numFiles = 1)
    assert(t.currentVersion == v, "replayed batch must not commit")
    assert(t.read().collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq == Seq((1L, 11L)))
  }
}
