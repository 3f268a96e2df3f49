package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.format.GraftTable
import graft.sources.{GraftTableMicroBatchStream, GraftTableOffset}

/** Streaming admission control (round 13): a restarted stream against
  * a deep commit backlog drains in RATE-LIMITED micro-batches —
  * `maxVersionsPerTrigger` caps versions per batch,
  * `maxFilesPerTrigger` caps by added-file count (snapshot-record
  * arithmetic, zero jobs) — and `Trigger.AvailableNow` is
  * first-class: target pinned at prepare, drained in bounded batches,
  * then termination. Delta's rate-limit contract restated. */
class StreamRateLimitSpec extends AnyFunSuite with TempDirs {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(): String = tempDir("graft_rate_") + "/t"

  private def drain(root: String, out: String,
      opts: Map[String, String]): Seq[Long] = {
    val ckpt = tempDir("graft_rate_ckpt_")
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    var reader = spark.readStream.format("gtable")
    opts.foreach { case (k, v) => reader = reader.option(k, v) }
    val q = reader.load(root)
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          val n = df.count()
          batchSizes.synchronized { batchSizes += n }
          df.write.mode("append").parquet(out); ()
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    batchSizes.toSeq
  }

  test("maxVersionsPerTrigger drains a 6-commit backlog in capped " +
      "batches under AvailableNow, losing and duplicating nothing") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 100L).map(k => (k, k)).toDF("k", "v"), Seq("k"),
      numFiles = 2)
    (1 to 5).foreach(i => t.append(
      (1L to 100L).map(k => (i * 1000L + k, k)).toDF("k", "v"),
      numFiles = 2))
    val out = s"$root-mv"
    val sizes = drain(root, out, Map("maxVersionsPerTrigger" -> "2"))
    // 6 versions / 2 per trigger = 3 non-empty batches (AvailableNow
    // may add a trailing empty batch; ignore zeros)
    assert(sizes.filter(_ > 0) == Seq(200L, 200L, 200L),
      s"got batches $sizes")
    val all = spark.read.parquet(out)
    assert(all.count() == 600L)
    assert(all.select("k").distinct().count() == 600L)
  }

  test("maxFilesPerTrigger caps batches by added-file count at " +
      "version granularity") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 50L).map(k => (k, k)).toDF("k", "v"), Seq("k"),
      numFiles = 2)
    (1 to 4).foreach(i => t.append(
      (1L to 50L).map(k => (i * 1000L + k, k)).toDF("k", "v"),
      numFiles = 2))
    val out = s"$root-mf"
    // 2 files per version, cap 3 → each batch takes 2 versions
    // (4 files — overshoot by at most the crossing version)
    val sizes = drain(root, out, Map("maxFilesPerTrigger" -> "3"))
    val nonEmpty = sizes.filter(_ > 0)
    assert(nonEmpty.length == 3, s"got batches $sizes")
    assert(nonEmpty.sum == 250L)
    assert(nonEmpty.max == 100L, "a batch holds at most 2 versions")
    assert(spark.read.parquet(out).select("k").distinct()
      .count() == 250L)
  }

  test("a FOLD version charges the rate cap only its OWN added " +
      "files, so a fold-crossing backlog keeps draining in capped " +
      "batches (ADVICE r13)") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 100L).map(k => (k, k)).toDF("k", "v"), Seq("k"),
      numFiles = 2)
    // 20 appends of 2 files push the manifest list past
    // MaxManifestListLen — at least one commit folds
    (1 to 20).foreach(i => t.append(
      (1L to 100L).map(k => (i * 1000L + k, k)).toDF("k", "v"),
      numFiles = 2))
    def snapTxt(v: Long) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/_log/snapshot-v$v.txt")), "UTF-8")
    val foldVs = (1L to t.currentVersion)
      .filter(v => snapTxt(v).contains("fold_dir="))
    assert(foldVs.nonEmpty, "backlog too shallow — no fold fired")
    // the fold version's cost is its own delta (2 files), not the
    // merged dir's full entry count
    foldVs.foreach(v => assert(t.addedEntryCountAt(v) == 2L,
      s"fold v$v over-charged: ${t.addedEntryCountAt(v)}"))
    // and the stream drains 2 versions per batch ACROSS the folds
    // (pre-fix: the fold version's whole-table cost forced it into a
    // lone batch)
    val out = s"$root-fold"
    val sizes = drain(root, out, Map("maxFilesPerTrigger" -> "4"))
    val nonEmpty = sizes.filter(_ > 0)
    assert(nonEmpty == Seq.fill(10)(200L) :+ 100L,
      s"fold must not break the cadence: $sizes")
    assert(spark.read.parquet(out).select("k").distinct()
      .count() == 2100L)
  }

  test("initial snapshot seeds ALONE, then the backlog drains under " +
      "the version cap") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 80L).map(k => (k, k)).toDF("k", "v"), Seq("k"),
      numFiles = 4)
    val seedV = t.currentVersion
    (1 to 4).foreach(i => t.append(
      (1L to 10L).map(k => (i * 100L + k, k)).toDF("k", "v"),
      numFiles = 1))
    val out = s"$root-snap"
    val sizes = drain(root, out, Map(
      "startingVersion" -> seedV.toString,
      "initialSnapshot" -> "true",
      "maxVersionsPerTrigger" -> "2"))
    val nonEmpty = sizes.filter(_ > 0)
    assert(nonEmpty == Seq(80L, 20L, 20L),
      s"seed batch must stand alone, then capped deltas: $sizes")
    assert(spark.read.parquet(out).count() == 120L)
  }

  test("latestOffset math: unlimited jumps to current; caps apply; " +
      "no-progress returns the start offset") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      Seq((1L, 1L)).toDF("k", "v"), Seq("k"), numFiles = 1)
    (1 to 9).foreach(i =>
      t.append(Seq((i + 1L, 1L)).toDF("k", "v"), numFiles = 1))
    val required = t.read().schema
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val unlimited = new GraftTableMicroBatchStream(root, required, 0L)
    assert(unlimited.latestOffset(GraftTableOffset(0L),
      ReadLimit.allAvailable()) == GraftTableOffset(10L))
    assert(unlimited.latestOffset(GraftTableOffset(10L),
      ReadLimit.allAvailable()) == GraftTableOffset(10L))
    val capped = new GraftTableMicroBatchStream(root, required, 0L,
      maxVersionsPerTrigger = 3L)
    assert(capped.latestOffset(GraftTableOffset(0L),
      ReadLimit.allAvailable()) == GraftTableOffset(3L))
    assert(capped.latestOffset(GraftTableOffset(9L),
      ReadLimit.allAvailable()) == GraftTableOffset(10L))
    val byFiles = new GraftTableMicroBatchStream(root, required, 0L,
      maxFilesPerTrigger = 2L)
    assert(byFiles.latestOffset(GraftTableOffset(0L),
      ReadLimit.allAvailable()) == GraftTableOffset(2L))
    // maxBytesPerTrigger: one-row commits of ~equal size — a cap of
    // 1.5 file-bytes takes 2 versions per batch (overshoot by at most
    // the crossing version)
    val oneBytes = GraftTable.forPath(spark, root)
      .manifest().agg(min(col("size_bytes"))).head().getLong(0)
    val byBytes = new GraftTableMicroBatchStream(root, required, 0L,
      maxBytesPerTrigger = oneBytes * 3L / 2L)
    assert(byBytes.latestOffset(GraftTableOffset(0L),
      ReadLimit.allAvailable()) == GraftTableOffset(2L))
    // AvailableNow pin: commits after prepare are not consumed
    val pinned = new GraftTableMicroBatchStream(root, required, 0L)
    pinned.prepareForTriggerAvailableNow()
    t.append(Seq((99L, 1L)).toDF("k", "v"), numFiles = 1)
    assert(pinned.latestOffset(GraftTableOffset(0L),
      ReadLimit.allAvailable()) == GraftTableOffset(10L),
      "the prepare-time cap must hold")
  }

  test("a commit whose fresh delta dir is swallowed by a manifest " +
      "fold still charges its true bytes (ADVICE r14: the dir-level " +
      "diff saw no new dir and admitted the version at zero cost)") {
    val root = tmp()
    // two-file sibling appends, then ONE strictly smaller (one-file)
    // append that tips the list over MaxManifestListLen: the fold
    // merges the smallest dirs, so the folding commit's own fresh
    // delta dir — the unique 1-entry dir — is always among them
    val t = GraftTable.create(spark, root,
      (1L to 16L).map((_, 1L)).toDF("k", "v"), Seq("k"), numFiles = 4)
    var foldV = -1L
    var v = 1L
    while (foldV < 0 && v < 64L) {
      val big = (1L to 16L).map(i => (v * 100L + i, 1L)).toDF("k", "v")
      v = t.append(big, numFiles = 4)
      if (t.foldDirAt(v).isDefined) foldV = v
      else if (v >= GraftTable.MaxManifestListLen) {
        // one dir below the threshold: the next (small) append folds
        v = t.append(Seq((9999L, 1L)).toDF("k", "v"), numFiles = 1)
        if (t.foldDirAt(v).isDefined) foldV = v
      }
    }
    assert(foldV > 0, "no fold triggered within 64 appends")
    val prevBytes = t.addedBytesAt(foldV - 1) // a 4-file append
    assert(prevBytes > 0L)
    val foldBytes = t.addedBytesAt(foldV)
    assert(foldBytes > 0L,
      s"fold version v$foldV charged $foldBytes bytes — the " +
        "pre-fold added_bytes record must survive the fold")
    // a one-file, one-row append: strictly smaller than the 4-file
    // sibling but the same order of magnitude
    assert(foldBytes < prevBytes && foldBytes >= prevBytes / 8,
      s"v$foldV charged $foldBytes vs 4-file sibling $prevBytes")
    // and a LEGACY record (added_bytes stripped) falls back to the
    // dir-diff — the documented over/under behavior, not a crash
    val p = java.nio.file.Paths.get(
      s"$root/_log/snapshot-v$foldV.txt")
    val stripped = new String(java.nio.file.Files.readAllBytes(p),
      "UTF-8").linesIterator
      .filterNot(_.startsWith("added_bytes="))
      .mkString("", "\n", "\n")
    java.nio.file.Files.write(p, stripped.getBytes("UTF-8"))
    GraftTable.invalidate(root)
    val t2 = GraftTable.forPath(spark, root)
    val rec = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      .linesIterator.filterNot(_.startsWith("schema="))
      .mkString(" | ")
    assert(t2.addedBytesAt(foldV) == 0L,
      s"legacy fold records keep the (documented) zero-charge " +
        s"dir-diff; v$foldV record: $rec")
  }
}
