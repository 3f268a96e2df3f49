package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.format.GraftTable
import graft.sources.GraftTableSource

/** Per-file BLOOM FILTER INDEX: point lookups on columns the table is
  * NOT clustered on prune through manifest blooms where min/max
  * envelopes can't. Pins: (1) write/read hash agreement (the pruned
  * file set still contains every true hit — zero false negatives),
  * (2) real skipping on a clustered-by-other-key layout, (3) null
  * blooms (files from writers that can't compute them) degrade to
  * keep, never mis-prune, (4) the catalog property surface. */
class BloomIndexSpec extends AnyFunSuite with TempDirs {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(): String = tempDir("graft_bloom_") + "/t"

  test("point lookup on a bloom-indexed NON-cluster column prunes " +
      "files and stays exact (format prunedWhere path)") {
    val root = tmp()
    // cluster on k; index u (a scrambled id — every file's u-envelope
    // spans the whole domain, so min/max alone can never skip)
    val df = spark.range(0, 100000).select(col("id").as("k"),
      (col("id") * 2654435761L % 100000L).as("u"))
      .repartitionByRange(10, col("k")).sortWithinPartitions(col("k"))
    val t = GraftTable.create(spark, root, df,
      statsCols = Seq("k", "u"), numFiles = 0,
      bloomCols = Seq("u"), bloomBits = 1 << 17)
    // a u value that exists: exactly one matching row, file set pruned
    val probe = (12345L * 2654435761L) % 100000L
    val (res, planned, total) = t.prunedWhere(col("u") === probe)
    assert(total == 10)
    assert(planned <= 3,
      s"bloom should prune a point lookup to ~1 file, planned $planned")
    assert(res.select("k").as[Long].collect().toSeq == Seq(12345L))
    // a u value that does NOT exist: bloom may false-positive a file
    // or two, but never loses the empty answer
    val (resNone, plannedNone, _) = t.prunedWhere(col("u") === 100001L)
    assert(resNone.count() == 0)
    assert(plannedNone <= 3)
  }

  test("the connector prunes SQL point lookups through the bloom " +
      "and IN-lists test per value") {
    val wh = tempDir("graft_bloom_wh_")
    spark.conf.set("spark.sql.catalog.blm",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.blm.warehouse", wh)
    spark.range(0, 50000).select(col("id").as("k"),
        (col("id") * 40503L % 50000L).as("u"))
      .createOrReplaceTempView("blm_src")
    spark.sql("""CREATE TABLE blm.t
                 TBLPROPERTIES('statsCols'='k',
                               'write.cluster-by'='k',
                               'bloom.cols'='u', 'bloom.bits'='131072')
                 AS SELECT * FROM blm_src""")
    val t = GraftTable.forPath(spark, s"$wh/t")
    assert(t.bloomCols == Seq("u") && t.bloomBits == (1 << 17))
    val totalFiles = t.manifest().count()
    assert(totalFiles >= 4)
    val probe = (777L * 40503L) % 50000L
    GraftTableSource.lastPlannedFiles = -1
    val hit = spark.sql(s"SELECT k FROM blm.t WHERE u = $probe")
      .as[Long].collect()
    assert(hit.toSeq == Seq(777L))
    assert(GraftTableSource.lastPlannedFiles < totalFiles,
      s"bloom must prune the scan: planned " +
        s"${GraftTableSource.lastPlannedFiles} of $totalFiles")
    // IN-list: union of per-value probes, still pruned, still exact
    val p2 = (12000L * 40503L) % 50000L
    GraftTableSource.lastPlannedFiles = -1
    val got = spark.sql(
        s"SELECT k FROM blm.t WHERE u IN ($probe, $p2)")
      .as[Long].collect().sorted
    assert(got.toSeq == Seq(777L, 12000L))
    assert(GraftTableSource.lastPlannedFiles < totalFiles)
  }

  test("files with NULL blooms are kept, never pruned: an index " +
      "enabled later still answers exactly over pre-index files") {
    val root = tmp()
    // v1 written WITHOUT the index
    val t0 = GraftTable.create(spark, root,
      (0L until 1000L).map(i => (i, i * 7 % 1000)).toDF("k", "u"),
      statsCols = Seq("k"), numFiles = 2)
    assert(t0.bloomCols.isEmpty)
    // re-open WITH the index declared: new files indexed, old ones null
    val t = GraftTable.openOrCreate(spark, root, Seq("k"),
      bloomCols = Seq("u"), bloomBits = 1 << 14)
    t.append((1000L until 2000L).map(i => (i, i * 7 % 1000 + 1000))
      .toDF("k", "u"), numFiles = 2)
    val m = GraftTable.forPath(spark, root)
    assert(m.bloomCols == Seq("u"))
    val nullBlooms = m.manifest().where(col("bloom_u").isNull).count()
    assert(nullBlooms == 2, "pre-index files must carry null blooms")
    // a probe that lives ONLY in a pre-index (null-bloom) file: the
    // null must KEEP the file — exactness beats skipping
    val (res, planned, total) = m.prunedWhere(col("u") === 7L)
    assert(total == 4)
    assert(res.count() == 1)
    assert(planned >= 2, "null-bloom files must survive the prune")
    // compaction rebuilds the index for every file
    m.compact(numFiles = 2)
    val m2 = GraftTable.forPath(spark, root)
    assert(m2.manifest().where(col("bloom_u").isNull).count() == 0,
      "compact must index every rewritten file")
    val (res2, _, _) = m2.prunedWhere(col("u") === 7L)
    assert(res2.count() == 1)
  }

  test("the SQL row-level write paths MAINTAIN the index: files " +
      "written by MERGE (MOR delta) and UPDATE (COW rewrite) carry " +
      "real blooms, and probes of merged-in values prune") {
    val wh = tempDir("graft_bloom_rlw_")
    spark.conf.set("spark.sql.catalog.brw",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.brw.warehouse", wh)
    spark.range(0, 20000).select(col("id").as("k"),
        (col("id") * 40503L % 20000L).as("u"))
      .createOrReplaceTempView("brw_src")
    spark.sql("""CREATE TABLE brw.t
                 TBLPROPERTIES('statsCols'='k', 'write.cluster-by'='k',
                               'bloom.cols'='u', 'bloom.bits'='65536',
                               'delete.mode'='mor')
                 AS SELECT * FROM brw_src""")
    // MOR MERGE: inserts flow through the delta writer
    spark.sql("""MERGE INTO brw.t USING
                   (SELECT 50000L AS k, 77777L AS u) s
                 ON t.k = s.k
                 WHEN NOT MATCHED THEN INSERT *""")
    val t = GraftTable.forPath(spark, s"$wh/t")
    assert(t.manifest().where(col("bloom_u").isNull).count() == 0,
      "delta-written files must carry real blooms")
    // the merged-in uid prunes to its one (tiny) insert file
    GraftTableSource.lastPlannedFiles = -1
    assert(spark.sql("SELECT k FROM brw.t WHERE u = 77777")
      .collect().map(_.getLong(0)).toSeq == Seq(50000L))
    assert(GraftTableSource.lastPlannedFiles == 1,
      s"probe of a merged-in value should plan exactly the insert " +
        s"file, planned ${GraftTableSource.lastPlannedFiles}")
    // COW rewrite (group-based UPDATE on a cow-mode table): flip the
    // mode, update a window, rewritten files must stay indexed
    spark.sql(
      "ALTER TABLE brw.t SET TBLPROPERTIES('delete.mode'='cow')")
    spark.sql("UPDATE brw.t SET u = u + 100000 WHERE k < 100")
    val t2 = GraftTable.forPath(spark, s"$wh/t")
    assert(t2.manifest().where(col("bloom_u").isNull).count() == 0,
      "COW-rewritten files must carry real blooms")
    val moved = (50L * 40503L) % 20000L + 100000L
    GraftTableSource.lastPlannedFiles = -1
    assert(spark.sql(s"SELECT k FROM brw.t WHERE u = $moved")
      .collect().map(_.getLong(0)).toSeq == Seq(50L))
    assert(GraftTableSource.lastPlannedFiles <
      t2.manifest().count())
  }

  test("write/read bit agreement on every scalar type family: string " +
      "and timestamp probes never lose their row") {
    val root = tmp()
    val df = (0L until 500L).map(i =>
        (i, s"user_$i", java.sql.Timestamp.valueOf(
          s"2024-01-${i % 28 + 1} 00:00:00")))
      .toDF("k", "name", "ts")
    val t = GraftTable.create(spark, root, df, statsCols = Seq("k"),
      numFiles = 4, bloomCols = Seq("name", "ts"), bloomBits = 1 << 14)
    val (r1, _, _) = t.prunedWhere(col("name") === "user_321")
    assert(r1.select("k").as[Long].collect().toSeq == Seq(321L))
    val (r2, p2, _) = t.prunedWhere(
      col("name") === "no_such_user_xyzzy")
    assert(r2.count() == 0)
    assert(p2 <= 2, "a missing string should prune nearly everything")
    val (r3, _, _) = t.prunedWhere(
      col("ts") === java.sql.Timestamp.valueOf("2024-01-11 00:00:00"))
    assert(r3.count() == df.where(
      col("ts") === java.sql.Timestamp.valueOf("2024-01-11 00:00:00"))
      .count())
  }

  test("sizing guardrail: a write whose files far exceed the declared " +
      "width auto-widens the per-file blooms (probe-safe — widths may " +
      "differ per file) and a point lookup still prunes") {
    val root = tmp()
    // 400k rows into 2 files = 200k values/file — a 2^14-bit (declared)
    // bloom would saturate at ~1.6k values and keep every file
    val df = spark.range(0, 400000).select(col("id").as("k"),
      (col("id") * 2654435761L % 400000L).as("u"))
      .repartitionByRange(2, col("k")).sortWithinPartitions(col("k"))
    val t = GraftTable.create(spark, root, df,
      statsCols = Seq("k"), numFiles = 0,
      bloomCols = Seq("u"), bloomBits = 1 << 14)
    import spark.implicits._
    val widths = t.manifest()
      .select(size(col("bloom_u")).as("w")).as[Int].collect()
    assert(widths.forall(_ * 64 >= 10 * 200000 / 2),
      s"blooms must auto-widen past the declared 2^14 bits: " +
        s"${widths.map(_ * 64).toSeq} bits")
    val probe = (54321L * 2654435761L) % 400000L
    val (res, planned, total) = t.prunedWhere(col("u") === probe)
    assert(total == 2)
    assert(res.count() >= 1)
    // the real guard: a MISSING value must actually prune — a
    // saturated bloom would keep both files for any probe
    var pruned = 0
    (400001L to 400020L).foreach { v =>
      val (r, p, _) = t.prunedWhere(col("u") === v)
      assert(r.count() == 0)
      if (p < total) pruned += 1
    }
    assert(pruned >= 15,
      s"auto-widened blooms at ~1% fpp must prune most missing " +
        s"probes; only $pruned/20 pruned (saturation?)")
  }

  test("every writer sizes a file's bloom from its own rows: a SQL " +
      "UPDATE rewrite and a streaming append get the width append " +
      "gives, and missing values prune") {
    val wh = tempDir("graft_bloom_width_")
    spark.conf.set("spark.sql.catalog.bwd",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.bwd.warehouse", wh)
    // 200k rows in one file; u scrambles k over [0, 200000)
    val big = spark.range(1000000L, 1200000L, 1, 1).select(
      col("id").as("k"), (col("id") * 40503L % 200000L).as("u"))
    val src = tempDir("graft_bloom_width_src_")
    big.write.mode("overwrite").parquet(src)
    def created(name: String): GraftTable = {
      spark.sql(s"""CREATE TABLE bwd.$name
                    TBLPROPERTIES('statsCols'='k', 'bloom.cols'='u',
                                  'bloom.bits'='16384')
                    AS SELECT id AS k, id AS u FROM RANGE(0, 10, 1, 1)""")
      GraftTable.forPath(spark, s"$wh/$name")
    }
    // width (bits) of the one 200k-row file, and how many of 10
    // missing values plan a file
    def bigWidth(t: GraftTable): Long = t.manifest()
      .where(col("row_count") === 200000L)
      .select(size(col("bloom_u"))).as[Int].collect().toSeq match {
        case Seq(w) => w * 64L
        case ws => fail(s"expected one 200k-row file, got $ws")
      }
    def planning(t: GraftTable): Int = (200001L to 200010L).count { v =>
      val (r, planned, _) = t.prunedWhere(col("u") === v)
      assert(r.count() == 0)
      planned > 0
    }

    val t = created("upd")
    t.append(big, numFiles = 1)
    val appended = bigWidth(t)
    // nextPow2(10 · 200,000) bits, past the declared 2^14
    assert(appended == (1L << 21))
    spark.sql("UPDATE bwd.upd SET k = k + 1 WHERE k >= 1000000")
    val updated = GraftTable.forPath(spark, s"$wh/upd")
    assert(updated.read().where(col("k") === 1200000L).count() == 1)
    assert(bigWidth(updated) == appended,
      s"UPDATE rewrote the file with a ${bigWidth(updated)}-bit bloom")
    assert(planning(updated) <= 1)

    val streamed = created("str")
    spark.readStream.schema("k LONG, u LONG").parquet(src)
      .writeStream.format("gtable")
      .option("statsCols", "k")
      .option("checkpointLocation", tempDir("graft_bloom_width_ckpt_"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(s"$wh/str").awaitTermination()
    val st = GraftTable.forPath(spark, s"$wh/str")
    assert(bigWidth(st) == appended,
      s"the stream wrote a ${bigWidth(st)}-bit bloom")
    assert(planning(st) <= 1)
  }
}
