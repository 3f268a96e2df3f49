package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.format.{GraftTable, StatsTrunc}

/** Bounded string/binary stats envelopes (round 13): long values
  * truncate to ≤64-byte bounds in the manifest (min = code-point
  * prefix, max = prefix with last code point incremented — valid
  * bounds in UTF-8 byte order, Iceberg's truncate contract), entries
  * carry a `trunc_<c>` marker, exactness consumers decline marked
  * columns, and snapshots that carry truncation demand reader
  * protocol 2. Without this a 1 MB document value writes two 1 MB
  * manifest values per file — at 100 TB the manifest becomes the
  * table. */
class StatsTruncSpec extends AnyFunSuite with TempDirs {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(): String = tempDir("graft_trunc_") + "/t"

  test("truncated bounds hold in UTF-8 byte order for adversarial " +
      "strings; short values pass through untouched") {
    val rnd = new scala.util.Random(7)
    val pool = "abé世😀z￿" // ascii, 2/3/4-byte
    val cases = (1 to 300).map { _ =>
      val n = 1 + rnd.nextInt(60)
      (1 to n).map(_ => pool(rnd.nextInt(pool.length))).mkString
    } ++ Seq("x" * 200, "￿" * 100, "😀" * 40,
      "a" * 63 + "世世")
    cases.foreach { s =>
      val u = UTF8String.fromString(s)
      val (mn, fMn) = StatsTrunc.minUtf8(u)
      val (mx, fMx) = StatsTrunc.maxUtf8(u)
      assert(mn.compareTo(u) <= 0, s"min bound broken for ${s.take(20)}")
      assert(mx.compareTo(u) >= 0, s"max bound broken for ${s.take(20)}")
      if (u.getBytes.length <= StatsTrunc.maxBytes) {
        assert(!fMn && !fMx && mn == u && mx == u)
      } else {
        assert(mn.getBytes.length <= StatsTrunc.maxBytes)
        assert(mx.getBytes.length <= StatsTrunc.maxBytes + 4)
      }
    }
    // binary: 0xFF carry
    val b = Array.fill[Byte](100)(0x41)
    val (bmx, bf) = StatsTrunc.maxBin(b)
    assert(bf && bmx.length <= StatsTrunc.maxBytes)
    assert(java.util.Arrays.compare(bmx, b) > 0)
    val ff = Array.fill[Byte](100)(0xFF.toByte)
    assert(StatsTrunc.maxBin(ff)._1.sameElements(ff),
      "an all-0xFF prefix keeps the full value")
  }

  test("one-pass writer: long-string envelopes are bounded and " +
      "flagged; pruning stays exact; metadata MIN/MAX declines; the " +
      "snapshot demands reader protocol 2") {
    val root = tmp()
    val doc = (i: Long) => f"doc-$i%05d-" + ("lorem" * 40) // ~210 B
    val t = GraftTable.create(spark, root,
      (1L to 100L).map(i => (i, doc(i))).toDF("k", "body"),
      Seq("k", "body"), numFiles = 4)
    val m = t.manifest()
    assert(m.columns.contains("trunc_body"))
    val rows = m.select(length(col("min_body")),
      length(col("max_body")), col("trunc_body")).collect()
    rows.foreach { r =>
      assert(r.getInt(0) <= 64 && r.getInt(1) <= 68,
        "manifest envelopes must be bounded")
      assert(r.getBoolean(2), "truncation must be flagged")
    }
    // non-string stats columns carry no marker at all (exact always)
    assert(!m.columns.contains("trunc_k"))
    // equality probe on a full-length value still finds its row (the
    // truncated envelope is a valid superset bound)
    val probe = doc(37L)
    val (df, kept, total) = t.prunedWhere(col("body") === probe)
    assert(df.count() == 1L && df.head().getLong(0) == 37L)
    assert(kept <= total)
    // range predicate over the truncated column stays exact
    assert(t.read().where(col("body") >= doc(90L)).count() == 11L)
    // metadata MIN/MAX declines the truncated column, answers the key
    val agg = t.metadataAggregates()
    assert(agg.select("min_body", "max_body").head() ==
      org.apache.spark.sql.Row(null, null),
      "a truncated envelope must not answer as an exact extreme")
    assert(agg.select("min_k", "max_k").head() ==
      org.apache.spark.sql.Row(1L, 100L))
    assert(agg.select("n_rows").head().getLong(0) == 100L)
    // protocol: the snapshot demands reader 2 and records the flag
    val snap = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/_log/snapshot-v1.txt")), "UTF-8")
    assert(snap.contains("min_reader_version=2"))
    assert(snap.contains("stats_truncated=1"))
    // the flag inherits across later short-string commits
    t.append(Seq((101L, "short")).toDF("k", "body"), numFiles = 1)
    val snap2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/_log/snapshot-v2.txt")), "UTF-8")
    assert(snap2.contains("min_reader_version=2"),
      "carried truncated dirs must keep the protocol demand")
  }

  test("two-pass (bloom) writer truncates identically") {
    val root = tmp()
    val doc = (i: Long) => f"blob-$i%04d-" + ("ipsum" * 50)
    val t = GraftTable.create(spark, root,
      (1L to 200L).map(i => (i, doc(i))).toDF("k", "body"),
      Seq("k", "body"), numFiles = 2, bloomCols = Seq("k"))
    val m = t.manifest()
    assert(m.select("trunc_body").collect().forall(_.getBoolean(0)))
    m.select(length(col("min_body")), length(col("max_body")))
      .collect().foreach { r =>
        assert(r.getInt(0) <= 64 && r.getInt(1) <= 68)
      }
    assert(t.read().where(col("body") === doc(123L)).count() == 1L)
    assert(t.read().count() == 200L)
  }

  test("invalid UTF-8 never corrupts a bound: maxUtf8 verifies its " +
      "decode and falls back to byte-level increment (ADVICE r13)") {
    // Spark stores/compares UTF8String byte-wise without validating;
    // decoding through java.lang.String replaces invalid sequences
    // with U+FFFD, and an incremented U+FFFD prefix can compare BELOW
    // the true value (0xFF > 0xEF) — the old path would prune a live
    // file. Adversarial byte soups:
    val rnd = new scala.util.Random(13)
    val cases = Seq(
      Array.fill[Byte](100)(0xFF.toByte),              // all-0xFF
      Array.fill[Byte](100)(0x80.toByte),              // bare continuations
      ("a" * 60).getBytes("UTF-8") ++
        Array.fill[Byte](40)(0xFE.toByte),             // valid→invalid
      Array.fill[Byte](63)(0x41.toByte) ++
        Array.fill[Byte](37)(0xF5.toByte)              // invalid at cut
    ) ++ (1 to 200).map { _ =>
      Array.fill[Byte](65 + rnd.nextInt(60))(rnd.nextInt(256).toByte)
    }
    cases.foreach { b =>
      val u = UTF8String.fromBytes(b)
      val (mn, _) = StatsTrunc.minUtf8(u)
      val (mx, _) = StatsTrunc.maxUtf8(u)
      assert(mn.compareTo(u) <= 0, "min bound broken on invalid UTF-8")
      assert(mx.compareTo(u) >= 0, "max bound broken on invalid UTF-8")
      assert(mn.getBytes.length <= StatsTrunc.maxBytes)
      assert(mx.getBytes.length <= StatsTrunc.maxBytes + 4 ||
        (mx eq u), "non-full max must stay bounded")
    }
  }

  test("end-to-end: invalid-UTF-8 string values keep pruning exact " +
      "through BOTH writers (one-pass nulls the lossy envelope; " +
      "two-pass stays byte-exact through binary casts)") {
    // 100-byte values of 96 raw 0xFF bytes + the id, built via
    // unhex → binary → string casts (byte-exact, no java.lang.String
    // anywhere). Every value sorts ABOVE every valid UTF-8 string —
    // the old lossy envelope (U+FFFD-based, EF BF BD…) sat BELOW
    // them, so `s >= "￿"` pruned away files that match.
    def mk(n: Int) = spark.range(1, n + 1)
      .selectExpr("id as k",
        "cast(unhex(concat(repeat('FF', 96), " +
          "lpad(hex(id), 8, '0'))) as string) as s")
    Seq(Seq.empty[String], Seq("k")).foreach { blooms =>
      val root = tmp()
      val t = GraftTable.create(spark, root, mk(80),
        Seq("k", "s"), numFiles = 4, bloomCols = blooms)
      assert(t.read().count() == 80L)
      // the dangerous direction: a pushable range predicate every
      // row satisfies — a corrupted max envelope would prune all 4
      // files and answer 0
      val (df, kept, total) = t.prunedWhere(col("s") >= "￿")
      assert(df.count() == 80L,
        s"bloom=$blooms: pruning dropped live files under invalid " +
          "UTF-8 envelopes")
      assert(kept <= total)
      // byte-exact equality probe still finds its row
      val probeBytes = Array.fill[Byte](96)(0xFF.toByte) ++
        Array[Byte](0, 0, 0, 37)
      assert(t.read()
        .where(col("s").cast("binary") === lit(probeBytes))
        .head().getLong(0) == 37L,
        s"bloom=$blooms: probe lost under invalid UTF-8")
      // metadata MIN/MAX must decline (inexact or nulled envelope)
      val agg = t.metadataAggregates()
      assert(agg.select("min_s", "max_s").head() ==
        org.apache.spark.sql.Row(null, null),
        s"bloom=$blooms: lossy envelope must not answer as exact")
    }
  }

  test("a rewrite that drops the last truncated dir DROPS the " +
      "protocol-2 demand (per-dir trunc recorded since r14)") {
    val root = tmp()
    val long = (i: Long) => f"doc-$i%05d-" + ("lorem" * 40)
    val t = GraftTable.create(spark, root,
      (1L to 40L).map(i => (i, long(i))).toDF("k", "body"),
      Seq("k", "body"), numFiles = 2)
    t.append((41L to 60L).map(i => (i, s"short-$i")).toDF("k", "body"),
      numFiles = 1)
    def snap(v: Long) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/_log/snapshot-v$v.txt")), "UTF-8")
    assert(snap(2).contains("min_reader_version=2"),
      "carried truncated dir must keep the demand")
    // COW-delete every long row, then compact: the rewrite's new dirs
    // hold only short values, so no live dir is truncated any more
    t.deleteWhere(col("k") <= 40L)
    t.compact()
    val v = t.currentVersion
    assert(snap(v).contains("min_reader_version=1"),
      s"v$v still demands protocol 2 after the truncated values left:" +
        s"\n${snap(v)}")
    assert(!snap(v).contains("stats_truncated"))
    assert(t.read().count() == 20L)
    // and exact metadata extremes come back
    val agg = t.metadataAggregates()
    assert(agg.select("min_body").head().getString(0) == "short-41")
  }

  test("short-string tables stay protocol 1 with exact metadata " +
      "extremes") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 50L).map(i => (i, s"v$i")).toDF("k", "s"),
      Seq("k", "s"), numFiles = 2)
    val agg = t.metadataAggregates()
    assert(agg.select("min_s", "max_s").head() ==
      org.apache.spark.sql.Row("v1", "v9"))
    val snap = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/_log/snapshot-v1.txt")), "UTF-8")
    assert(snap.contains("min_reader_version=1"))
    assert(!snap.contains("stats_truncated"))
  }
}
