package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.format.{CommitProfile, GraftTable}

/** Commit fixed-cost attribution (VERDICT r12 #3): 100 one-row
  * appends with the phase profiler on — prints where the per-commit
  * milliseconds go (data-write job, manifest write, fold, snapshot
  * IO) so regressions are attributable. Asserts only sanity (the
  * phases cover most of the wall), never absolute times — absolute
  * numbers belong to the bench, a shared host must not flake CI. */
class CommitProfileSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("commit phases account for the append wall time; breakdown " +
      "printed for the bench notebook") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_profile_").toString + "/t"
    val t = GraftTable.create(spark, root,
      Seq((0L, 0L)).toDF("k", "v"), Seq("k"), numFiles = 1)
    // warm the code paths before measuring
    (1 to 5).foreach(i => t.append(Seq((i.toLong, 1L)).toDF("k", "v"),
      numFiles = 1))
    val n = 100
    // the frames are built (and analysed) before the clock starts: the
    // wall is the appends' own, which the two phases must cover
    val batches = (6 to (5 + n)).map(i => Seq((i.toLong, 1L)).toDF("k", "v"))
    CommitProfile.reset()
    CommitProfile.on.set(true)
    val wall0 = System.nanoTime()
    try batches.foreach(t.append(_, numFiles = 1))
    finally CommitProfile.on.set(false)
    val wallMs = (System.nanoTime() - wall0) / 1e6
    val p = CommitProfile.snapshotNs.map { case (k, v) => k -> v / 1e6 }
    val perCommit = wallMs / n
    println(f"[commit-profile] $n appends: total $wallMs%.0f ms, " +
      f"${perCommit}%.1f ms/commit")
    p.toSeq.sortBy(-_._2).foreach { case (k, ms) =>
      println(f"[commit-profile]   $k%-16s ${ms / n}%8.2f ms/commit " +
        f"(${100 * ms / wallMs}%5.1f%% of wall)")
    }
    val covered = p.getOrElse("write_data", 0.0) +
      p.getOrElse("commit", 0.0)
    assert(covered >= wallMs * 0.7,
      f"instrumented phases cover only ${100 * covered / wallMs}%.0f%% " +
        "of the append wall — a new uninstrumented cost appeared")
    assert(t.read().count() == 1 + 5 + n)
  }
}
