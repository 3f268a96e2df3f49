package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.format.GraftTable

/** STREAMING CHANGE DATA FEED: `readStream.format("gtable")
  * .option("readChangeFeed", true)` emits every committed change as
  * an event — 'insert' rows for files added per version, 'delete'
  * rows for (file, ordinal) pairs that joined the deletion vector —
  * so a downstream table can be maintained incrementally from a
  * mutating source without rescans (the streaming twin of the batch
  * readCdc, Delta CDF's contract). Pins: both event types, exact
  * event payloads, fold-to-live equivalence, and checkpoint resume
  * delivering only new commits. */
class StreamingCdcSpec extends AnyFunSuite with TempDirs {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(): String = tempDir("graft_cdcstream_") + "/t"

  test("the CDC stream emits inserts and deletes exactly once, folds " +
      "to the live table, and a resumed stream sees only new commits") {
    val root = tmp()
    val ckpt = tempDir("graft_cdcstream_ckpt_")
    val t = GraftTable.create(spark, root,
      (1L to 100L).map(k => (k, k * 10L)).toDF("k", "v"),
      Seq("k"), numFiles = 2)                      // v1: 100 inserts
    t.deleteWhereMor(col("k") <= 10)               // v2: 10 deletes
    t.append((101L to 120L).map(k => (k, k * 10L)).toDF("k", "v"),
      numFiles = 1)                                // v3: 20 inserts

    // foreachBatch → parquet: unlike the memory sink it supports
    // checkpoint RECOVERY, which the resume half of this test needs
    def drain(outDir: String): Unit = {
      val q = spark.readStream.format("gtable")
        .option("readChangeFeed", "true")
        .load(root)
        .writeStream
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            df.write.mode("append").parquet(outDir); ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val out1 = s"$root-ev1"
    drain(out1)
    val ev1 = spark.read.parquet(out1)
    assert(ev1.columns.toSet == Set("k", "v", "_change_type"))
    assert(ev1.where(col("_change_type") === "insert").count() == 120)
    assert(ev1.where(col("_change_type") === "delete").count() == 10)
    // delete events carry the FULL deleted row (payload, not just id)
    assert(ev1.where(col("_change_type") === "delete" &&
      col("v") === 70L).count() == 1)
    // folding the feed reproduces the live table exactly
    val folded = ev1.groupBy(col("k"))
      .agg(sum(when(col("_change_type") === "insert", 1)
        .otherwise(-1)).as("net"))
      .where(col("net") > 0)
    assert(folded.count() == t.read().count())
    // resume: two more commits, a fresh drain over the SAME
    // checkpoint delivers exactly their events
    t.deleteWhereMor(col("k") > 100 && col("k") <= 105) // 5 deletes
    t.append(Seq((201L, 2010L)).toDF("k", "v"), numFiles = 1)
    val out2 = s"$root-ev2"
    drain(out2)
    val ev2 = spark.read.parquet(out2)
    assert(ev2.where(col("_change_type") === "insert").count() == 1)
    assert(ev2.where(col("_change_type") === "delete").count() == 5)
    assert(ev2.where(col("_change_type") === "delete")
      .agg(min(col("k"))).head().getLong(0) == 101L)
  }

  test("batch read with readChangeFeed declines with guidance; the " +
      "plain (non-CDC) stream is unaffected by the option's absence") {
    val root = tmp()
    GraftTable.create(spark, root, (1L to 10L).toDF("k"),
      Seq("k"), numFiles = 1)
    val e = intercept[Exception] {
      spark.read.format("gtable")
        .option("readChangeFeed", "true").load(root).count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("readChangesFrom")),
      s"expected batch-CDC guidance, got: ${msgs(e)}")
  }

  test("a compaction inside the CDC window emits ZERO events — the " +
      "feed skips dataChange=false commits, and the fold still " +
      "matches the live table (VERDICT r11 #1)") {
    val root = tmp()
    val ckpt = tempDir("graft_cdcstream_ckpt2_")
    val t = GraftTable.create(spark, root,
      (1L to 100L).map(k => (k, k * 10L)).toDF("k", "v"),
      Seq("k"), numFiles = 4)                      // v1
    val out = s"$root-ev"
    def drain(): Unit = {
      val q = spark.readStream.format("gtable")
        .option("readChangeFeed", "true").load(root)
        .writeStream
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            df.write.mode("append").parquet(out); ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()                                        // consumes v1
    t.deleteWhereMor(col("k") <= 5)                // v2: 5 deletes
    t.compact()                                    // v3: REWRITE, no data change
    t.append(Seq((201L, 2010L)).toDF("k", "v"), numFiles = 1) // v4
    drain()                                        // window (v1, v4]
    val ev = spark.read.parquet(out)
    // the compaction's rewritten survivor files must NOT re-emit:
    // exactly 100 + 1 inserts and 5 deletes across both drains
    assert(ev.where(col("_change_type") === "insert").count() == 101,
      "a compaction's survivor rows surfaced as fresh inserts")
    assert(ev.where(col("_change_type") === "delete").count() == 5)
    val folded = ev.groupBy(col("k"))
      .agg(sum(when(col("_change_type") === "insert", 1)
        .otherwise(-1)).as("net")).where(col("net") > 0)
    assert(folded.count() == t.read().count())
  }

  test("a copy-on-write rewrite inside the CDC window fails LOUDLY — " +
      "batch readCdc and the stream both refuse with MOR guidance " +
      "instead of emitting survivor rows as inserts") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 100L).map(k => (k, k * 10L)).toDF("k", "v"),
      Seq("k"), numFiles = 2)                      // v1
    t.deleteWhere(col("k") <= 10)                  // v2: COW rewrite
    val eb = intercept[IllegalStateException] { t.readCdc(1, 2) }
    assert(eb.getMessage.contains("copy-on-write") &&
      eb.getMessage.contains("deleteWhereMor"))
    intercept[IllegalStateException] { t.readChanges(1, 2) }
    // streaming: same refusal surfaces through the query
    val ckpt = tempDir("graft_cdcstream_ckpt3_")
    val q = spark.readStream.format("gtable")
      .option("readChangeFeed", "true")
      .option("startingVersion", "1").load(root)
      .writeStream
      .foreachBatch {
        (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) => ()
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    val es = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(es).exists(_.contains("copy-on-write")),
      s"stream must refuse the rewrite window, got: ${msgs(es)}")
    // an initial-snapshot feed (from v0) is still fine afterwards:
    // history collapses, no refusal
    assert(t.readCdc(0, t.currentVersion)
      .where(col("_change_type") === "insert").count() == 90)
  }

  test("refused feed restarts with startingVersion+initialSnapshot: " +
      "the first batch re-seeds the full live state, later commits " +
      "stream as deltas, and the fold equals the live table") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 100L).map(k => (k, k * 10L)).toDF("k", "v"),
      Seq("k"), numFiles = 2)                      // v1
    t.deleteWhereMor(col("k") <= 5)                // v2: MOR (feed-safe)
    t.deleteWhere(col("k") > 95)                   // v3: COW — refusal
    val vRewrite = t.currentVersion
    // a plain feed over the window refuses (the scenario under test)
    intercept[IllegalStateException] { t.readCdc(1, vRewrite) }
    // the restart verb the refusal message names: snapshot at the
    // rewrite version, deltas after it
    val out = s"$root-restart-ev"
    val ckpt = tempDir("graft_cdcstream_ckpt4_")
    def drain(): Unit = {
      val q = spark.readStream.format("gtable")
        .option("readChangeFeed", "true")
        .option("startingVersion", vRewrite.toString)
        .option("initialSnapshot", "true")
        .load(root)
        .writeStream
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            df.write.mode("append").parquet(out); ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    val snap = spark.read.parquet(out)
    // snapshot = live content at vRewrite: 100 − 5 MOR − 5 COW = 90
    // inserts, zero deletes (DV'd rows are skipped, not emitted)
    assert(snap.where(col("_change_type") === "insert").count() == 90)
    assert(snap.where(col("_change_type") === "delete").count() == 0)
    assert(snap.agg(min("k"), max("k")).head() ==
      org.apache.spark.sql.Row(6L, 95L))
    // later commits stream as ordinary deltas over the same checkpoint
    t.append(Seq((201L, 2010L)).toDF("k", "v"), numFiles = 1)
    t.deleteWhereMor(col("k") === 10L)
    drain()
    val all = spark.read.parquet(out)
    val folded = all.groupBy(col("k"))
      .agg(sum(when(col("_change_type") === "insert", 1)
        .otherwise(-1)).as("net"))
      .where(col("net") > 0)
    assert(folded.count() == t.read().count(),
      "restart-fold must land exactly on the live table")
    assert(all.where(col("_change_type") === "delete")
      .select("k").as[Long].collect().toSeq == Seq(10L))
  }

  test("mergeMor commits surface as update_preimage/update_postimage " +
      "pairs for matched keys and plain inserts for new keys (batch " +
      "readCdc; Delta CDF's MERGE contract)") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 50L).map(k => (k, k * 10L)).toDF("k", "v"),
      Seq("k"), numFiles = 2)                      // v1
    val from = t.currentVersion
    t.mergeMor(Seq((7L, 777L), (9L, 999L), (60L, 600L)).toDF("k", "v"),
      Seq("k"))                                    // v2: 2 matched, 1 new
    val cdc = t.readCdc(from, t.currentVersion).cache()
    assert(cdc.where(col("_change_type") === "update_preimage")
      .select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet == Set((7L, 70L), (9L, 90L)),
      "pre-images must carry the OLD row payloads")
    assert(cdc.where(col("_change_type") === "update_postimage")
      .select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet == Set((7L, 777L), (9L, 999L)),
      "post-images must carry the NEW row payloads")
    assert(cdc.where(col("_change_type") === "insert")
      .select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet == Set((60L, 600L)),
      "unmatched merge rows are genuine inserts")
    cdc.unpersist()
    // fold semantics unchanged: insert+postimage add, preimage+delete
    // subtract → live table
    val folded = t.readCdc(0, t.currentVersion)
      .groupBy(col("k"))
      .agg(sum(when(col("_change_type").isin("insert",
        "update_postimage"), 1).otherwise(-1)).as("net"))
      .where(col("net") > 0)
    assert(folded.count() == t.read().count())
  }
}
