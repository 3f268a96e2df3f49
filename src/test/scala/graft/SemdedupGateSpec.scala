package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.format.{GraftTable, ReadCounter}
import graft.operators.SemdedupGate

/** The q257 CDC semantic-dedup pipeline: structural pins the DuckDB
  * hash gate can't see — the persisted vector index holds exactly
  * the novel vecs (with their vectors, batch-stamped), the scaled
  * re-posts are really caught as fuzzy dups, verdict/canonical
  * invariants, batch×index-sized access, crash-window exactly-once,
  * and full-feed replay as a no-op. */
class SemdedupGateSpec extends AnyFunSuite with TempDirs {
  import TestSpark.spark

  private val sfDir = "/root/testdata/sf0.001"

  private def tmp(): String = tempDir("graft_semdedup_")

  private def runPipeline(): (String, String, String, String) = {
    val base = tmp()
    val (ingest, idxR, verR, martR) =
      (s"$base/in", s"$base/idx", s"$base/ver", s"$base/mart")
    SemdedupGate.buildIngest(spark, sfDir, ingest)
    SemdedupGate.curate(spark, ingest, idxR, verR, martR,
      s"$base/ckpt1")
    (ingest, idxR, verR, martR)
  }

  test("index/verdict/mart invariants: novel-only vector index, " +
      "scaled re-posts caught as fuzzy dups, canonical rules, mart " +
      "equals a verdict recomputation, loop never reads verdicts") {
    val (_, idxR, verR, martR) = runPipeline()
    // O(batch) access, captured BEFORE this spec's own reads: the
    // batch loop never opened the verdict table; index/mart reads
    // are one per batch with prior state (batches 1 and 2)
    assert(ReadCounter.count(verR) == 0L,
      s"the loop read the verdict table ${ReadCounter.count(verR)}x")
    assert(ReadCounter.count(idxR) == 2L)
    assert(ReadCounter.count(martR) == 2L)
    val verT = GraftTable.forPath(spark, verR)
    val idxT = GraftTable.forPath(spark, idxR)
    assert(verT.appliedBatches == Set(0L, 1L, 2L))
    assert(idxT.appliedBatches == Set(0L, 1L, 2L))
    val ver = verT.read().cache()
    try {
      val statuses = ver.groupBy(col("status")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(statuses.getOrElse("novel", 0L) > 0)
      // a scaled re-post of a NOVEL original is always a dup: the
      // original is in the index (or the same batch) and scaling
      // preserves bucket and cosine (≈1). Re-posts of DROPPED
      // originals may legitimately be novel — cosine is not
      // transitive, so a dup whose canonical chain ended in a
      // non-indexed vec has nothing ≥ τ left to match (the same
      // property SemDeDup's greedy keep-list has).
      val novelOrig = ver.where(col("status") === "novel" &&
        col("vec_id") < 1000000L)
        .select((col("vec_id") % 1000000L).as("orig"))
      val slipped = ver.where(col("status") === "novel" &&
        col("vec_id") >= 1000000L)
        .select((col("vec_id") % 1000000L).as("orig"))
        .join(novelOrig, Seq("orig"), "left_semi").count()
      assert(slipped == 0L,
        s"$slipped re-posts of NOVEL originals classified novel")
      assert(ver.where(col("status") === "near_dup_of_history" &&
        col("vec_id") >= 1000000L).count() > 0)
      assert(ver.where(col("status") === "near_dup_in_batch" &&
        col("vec_id") >= 2000000L).count() > 0)
      // canonical: hist dups point at a novel vec of an earlier
      // batch; batch dups at a lower id in the same batch
      val novelKeys = ver.where(col("status") === "novel")
        .select(col("vec_id").as("canonical_id"), col("b").as("cb"))
      val badHist = ver.where(col("status") === "near_dup_of_history")
        .join(novelKeys, Seq("canonical_id"), "left")
        .where(col("cb").isNull || col("cb") >= col("b")).count()
      assert(badHist == 0L)
      val badBatch = ver.where(
        (col("status") === "near_dup_in_batch" &&
          (col("canonical_id").isNull ||
            col("canonical_id") >= col("vec_id"))) ||
        (col("status") === "novel" &&
          col("canonical_id").isNotNull)).count()
      assert(badBatch == 0L)
      // index: exactly the novel vecs, vectors intact, batch-stamped
      val idx = idxT.read()
      assert(idx.count() == statuses("novel"))
      val mism = idx.select(col("vec_id"), col("b").as("ib"),
          size(col("v")).as("nv"))
        .join(ver.where(col("status") === "novel")
          .select(col("vec_id"), col("b")), Seq("vec_id"), "full")
        .where(col("ib").isNull || col("b").isNull ||
          col("ib") =!= col("b") || col("nv") =!= 64).count()
      assert(mism == 0L, s"$mism index rows mismatch the novel set")
      // mart equals a per-label recomputation from verdicts
      val want = ver.where(col("status") === "novel")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), (count(lit(1)) * 64).as("c"))
        .collect()
        .map(r => (r.get(0), r.getLong(1), r.getLong(2))).toSet
      val got = GraftTable.forPath(spark, martR).read()
        .select(col("label"), col("n_docs"), col("n_chars"))
        .collect()
        .map(r => (r.get(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"mart drifted:\n$got\n$want")
    } finally { ver.unpersist(); () }
  }

  test("a crash between the index fold and the verdict append " +
      "replays exactly-once") {
    val c = SemdedupGate.corpus(spark, sfDir).cache()
    try {
      def bdf(k: Int) = c.where(col("b") === k).drop("b")
        .withColumn("_change_type", lit("insert"))
      def state(idxR: String, verR: String, martR: String) = (
        GraftTable.forPath(spark, verR).read()
          .select("vec_id", "b", "label", "status", "canonical_id")
          .collect().map(_.toSeq).toSet,
        GraftTable.forPath(spark, idxR).read()
          .select("vec_id", "bucket", "b")
          .collect().map(_.toSeq).toSet,
        GraftTable.forPath(spark, martR).read()
          .collect().map(_.toSeq).toSet)
      val a = tmp()
      (0 to 2).foreach(k => SemdedupGate.curateBatch(spark, bdf(k),
        k.toLong, s"$a/idx", s"$a/ver", s"$a/mart"))
      val want = state(s"$a/idx", s"$a/ver", s"$a/mart")
      val b = tmp()
      SemdedupGate.curateBatch(spark, bdf(0), 0L,
        s"$b/idx", s"$b/ver", s"$b/mart")
      intercept[RuntimeException] {
        SemdedupGate.curateBatch(spark, bdf(1), 1L,
          s"$b/idx", s"$b/ver", s"$b/mart",
          onAfterIndexFold = () => throw new RuntimeException("crash"))
      }
      assert(GraftTable.forPath(spark, s"$b/idx")
        .appliedBatches == Set(0L, 1L))
      assert(GraftTable.forPath(spark, s"$b/ver")
        .appliedBatches == Set(0L))
      SemdedupGate.curateBatch(spark, bdf(1), 1L,
        s"$b/idx", s"$b/ver", s"$b/mart")
      SemdedupGate.curateBatch(spark, bdf(2), 2L,
        s"$b/idx", s"$b/ver", s"$b/mart")
      assert(state(s"$b/idx", s"$b/ver", s"$b/mart") == want,
        "the crash-replayed run must land byte-identical state")
      val selfDup = GraftTable.forPath(spark, s"$b/ver").read()
        .where(col("canonical_id") === col("vec_id")).count()
      assert(selfDup == 0L)
    } finally { c.unpersist(); () }
  }

  test("replaying the FULL feed (fresh checkpoint, same state " +
      "roots) is a no-op through the three ledgers") {
    val (ingest, idxR, verR, martR) = runPipeline()
    def state() = (
      GraftTable.forPath(spark, verR).currentVersion,
      GraftTable.forPath(spark, idxR).currentVersion,
      GraftTable.forPath(spark, martR).currentVersion,
      GraftTable.forPath(spark, verR).read().count(),
      GraftTable.forPath(spark, idxR).read().count(),
      GraftTable.forPath(spark, martR).read()
        .agg(sum(col("n_docs")), sum(col("n_chars"))).head().toSeq)
    val before = state()
    SemdedupGate.curate(spark, ingest, idxR, verR, martR,
      s"${tmp()}/ckpt2")
    assert(state() == before)
  }
}
