package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.format.{GraftTable, ReadCounter}
import graft.operators.NeardupGate

/** The q256 CDC near-dup pipeline (VERDICT r14 #2): structural pins
  * the DuckDB hash gate can't see — the persisted band index holds
  * EXACTLY the novel docs' band rows (4 per doc, batch-stamped),
  * verdict/canonical invariants, batch×index-sized access (the loop
  * never reads the verdict table), the fuzzy catches are REAL
  * (mutated re-posts, not exact dups), and a full-feed replay is a
  * no-op through the ledgers. */
class NeardupGateSpec extends AnyFunSuite with TempDirs {
  import TestSpark.spark

  private val sfDir = "/root/testdata/sf0.001"

  private def tmp(): String = tempDir("graft_neardup_")

  private def runPipeline(): (String, String, String, String) = {
    val base = tmp()
    val (ingest, idxR, verR, martR) =
      (s"$base/in", s"$base/idx", s"$base/ver", s"$base/mart")
    NeardupGate.buildIngest(spark, sfDir, ingest)
    NeardupGate.curate(spark, ingest, idxR, verR, martR,
      s"$base/ckpt1")
    (ingest, idxR, verR, martR)
  }

  test("index/verdict/mart invariants: novel-only band index (4 " +
      "batch-stamped rows per novel doc), canonical ordering, mart " +
      "equals a verdict recomputation, fuzzy catches are real") {
    val (_, idxR, verR, martR) = runPipeline()
    val verT = GraftTable.forPath(spark, verR)
    val idxT = GraftTable.forPath(spark, idxR)
    assert(verT.appliedBatches == Set(0L, 1L, 2L))
    assert(idxT.appliedBatches == Set(0L, 1L, 2L))

    val ver = verT.read().cache()
    try {
      val statuses = ver.groupBy(col("status")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(statuses.getOrElse("near_dup_of_history", 0L) > 0)
      assert(statuses.getOrElse("near_dup_in_batch", 0L) > 0)
      assert(statuses.getOrElse("novel", 0L) > 0)
      // the history catches include MUTATED re-posts (doc_id >= 10^6
      // carries injected text edits) — the fuzzy stage caught a doc
      // no exact fingerprint could
      assert(ver.where(col("status") === "near_dup_of_history" &&
        col("doc_id") >= 1000000L).count() > 0,
        "no mutated re-post was caught as a history near-dup")
      // canonical invariants. Unlike q255's exact dups (a re-post
      // always carries a HIGHER id than its original), a banded
      // near-dup canonical is whatever indexed doc collided — two
      // unrelated docs can share a band by chance, so a history
      // canonical may have a higher id. The true invariants are:
      //   - near_dup_of_history → canonical is a NOVEL doc of a
      //     STRICTLY EARLIER batch;
      //   - near_dup_in_batch → canonical is a LOWER-id doc of the
      //     SAME batch;
      //   - novel → no canonical.
      val novelKeys = ver.where(col("status") === "novel")
        .select(col("doc_id").as("canonical_id"),
          col("b").as("cb"))
      val badHist = ver.where(col("status") === "near_dup_of_history")
        .join(novelKeys, Seq("canonical_id"), "left")
        .where(col("cb").isNull || col("cb") >= col("b")).count()
      assert(badHist == 0L, s"$badHist history near-dups do not " +
        "point at a novel doc of an earlier batch")
      val badBatch = ver.where(
        (col("status") === "near_dup_in_batch" &&
          (col("canonical_id").isNull ||
            col("canonical_id") >= col("doc_id"))) ||
        (col("status") === "novel" &&
          col("canonical_id").isNotNull)).count()
      assert(badBatch == 0L,
        s"$badBatch verdicts violate canonical invariants")
      // in-batch canonicals really are in the same batch
      val sameB = ver.where(col("status") === "near_dup_in_batch")
        .as("d")
        .join(ver.select(col("doc_id").as("canonical_id"),
          col("b").as("cb")).as("c"), Seq("canonical_id"))
        .where(col("cb") =!= col("d.b")).count()
      assert(sameB == 0L,
        s"$sameB in-batch canonicals point outside their batch")

      // index = exactly 4 band rows per novel doc, stamped with the
      // doc's own batch, nothing else
      val idx = idxT.read()
      val novel = ver.where(col("status") === "novel")
      assert(idx.count() == novel.count() * 4)
      val mism = idx.groupBy(col("canonical"), col("b"))
        .agg(count(lit(1)).as("n"))
        .join(novel.select(col("doc_id").as("canonical"),
          col("b").as("vb")), Seq("canonical"), "full")
        .where(col("n").isNull || col("n") =!= 4 ||
          col("vb").isNull || col("b") =!= col("vb"))
        .count()
      assert(mism == 0L,
        s"$mism index groups mismatch the novel verdict set")

      // mart equals a recomputation from the verdict table
      val want = novel.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nch")).as("n_chars"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val got = GraftTable.forPath(spark, martR).read()
        .select(col("lang"), col("n_docs"), col("n_chars"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"mart drifted from verdicts:\n$got\n$want")
    } finally { ver.unpersist(); () }
  }

  test("the batch loop is batch x index sized: it never reads the " +
      "verdict table; index/mart reads are one per batch with state") {
    val (_, idxR, verR, martR) = runPipeline()
    assert(ReadCounter.count(verR) == 0L,
      s"the loop read the verdict table ${ReadCounter.count(verR)}x")
    assert(ReadCounter.count(idxR) == 2L)
    assert(ReadCounter.count(martR) == 2L)
  }

  test("a crash BETWEEN the index fold and the verdict append " +
      "replays exactly-once: tonight's own band rows are not read " +
      "as history, the mart never double-adds") {
    val c = NeardupGate.corpus(spark, sfDir).cache()
    try {
      def bdf(k: Int) = c.where(col("b") === k).drop("b")
        .withColumn("_change_type", lit("insert"))
      def state(idxR: String, verR: String, martR: String) = (
        GraftTable.forPath(spark, verR).read()
          .select("doc_id", "b", "lang", "nch", "status",
            "canonical_id")
          .collect().map(_.toSeq).toSet,
        GraftTable.forPath(spark, idxR).read()
          .collect().map(_.toSeq).toSet,
        GraftTable.forPath(spark, martR).read()
          .collect().map(_.toSeq).toSet)

      val a = tmp()
      (0 to 2).foreach(k => NeardupGate.curateBatch(spark, bdf(k),
        k.toLong, s"$a/idx", s"$a/ver", s"$a/mart"))
      val want = state(s"$a/idx", s"$a/ver", s"$a/mart")

      val b = tmp()
      NeardupGate.curateBatch(spark, bdf(0), 0L,
        s"$b/idx", s"$b/ver", s"$b/mart")
      intercept[RuntimeException] {
        NeardupGate.curateBatch(spark, bdf(1), 1L,
          s"$b/idx", s"$b/ver", s"$b/mart",
          onAfterIndexFold = () => throw new RuntimeException("crash"))
      }
      // the crash window is real: the index holds batch 1, the
      // verdict ledger does not
      assert(GraftTable.forPath(spark, s"$b/idx")
        .appliedBatches == Set(0L, 1L))
      assert(GraftTable.forPath(spark, s"$b/ver")
        .appliedBatches == Set(0L))
      NeardupGate.curateBatch(spark, bdf(1), 1L,
        s"$b/idx", s"$b/ver", s"$b/mart")
      NeardupGate.curateBatch(spark, bdf(2), 2L,
        s"$b/idx", s"$b/ver", s"$b/mart")
      assert(state(s"$b/idx", s"$b/ver", s"$b/mart") == want,
        "the crash-replayed run must land byte-identical state")
      // replayed novels stayed novel: no doc is a near-dup of its
      // own just-folded band rows
      val selfDup = GraftTable.forPath(spark, s"$b/ver").read()
        .where(col("canonical_id") === col("doc_id")).count()
      assert(selfDup == 0L, s"$selfDup docs matched their own " +
        "batch's index rows on replay")
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
    NeardupGate.curate(spark, ingest, idxR, verR, martR,
      s"${tmp()}/ckpt2")
    assert(state() == before,
      "a full replay must change NOTHING through the batch ledgers")
  }
}
