package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.format.GraftTable

/** ONE-PASS commit path: every write rides the connector's
  * map-side-stats writer, so a commit's only Spark job is the data
  * write itself — stats and blooms come back in commit messages and
  * the delta-sized manifest is written driver-side. Pins (a) the job
  * count, with and without blooms, (b) stats equivalence with a
  * ground-truth aggregate across scalar and decimal types incl.
  * nulls, (c) bloom-indexed and array-carrying tables, and (d) a root
  * with a scheme writing what a plain path writes. */
class OnePassWriteSpec extends AnyFunSuite with TempDirs {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(): String = tempDir("graft_onepass_spec_") + "/t"

  /** Spark jobs started while `body` runs (tracked via a job group —
    * actions inside `body` are blocking, so the tracker is exact). */
  private def jobsDuring(body: => Unit): Int = {
    val group = s"onepass-${java.util.UUID.randomUUID}"
    spark.sparkContext.setJobGroup(group, "job-count pin")
    try body finally spark.sparkContext.clearJobGroup()
    spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
  }

  /** Jobs a 10-row append runs on a 100-row table indexing
    * `bloomCols`; the table holds 110 rows after it. */
  private def smallAppendJobs(bloomCols: Seq[String]): Int = {
    val t = GraftTable.create(spark, tmp(),
      (1L to 100L).toDF("k"), Seq("k"), numFiles = 2,
      bloomCols = bloomCols)
    val jobs = jobsDuring {
      t.append((101L to 110L).toDF("k"), numFiles = 1)
    }
    assert(t.read().count() == 110)
    jobs
  }

  test("an append on a scalar bloom-less table runs as ONE Spark job " +
      "(write+stats fused, manifest written driver-side)") {
    val jobs = smallAppendJobs(Nil)
    // the data write is ONE action; AQE materializes its repartition
    // shuffle stage as a separate tracked job, so the budget is 2.
    // The pre-round-12 path ran 5+ (write, schema inference, stats
    // re-read aggregate, manifest write, manifest count read-back).
    assert(jobs <= 2,
      s"a small append must cost only the data-write action, ran $jobs")
  }

  test("an append on a bloom-indexed table keeps the same job budget " +
      "(blooms are built by the writer)") {
    val jobs = smallAppendJobs(Seq("k"))
    assert(jobs <= 2,
      s"a small append must cost only the data-write action, ran $jobs")
  }

  test("one-pass manifest stats equal a ground-truth aggregate over " +
      "every supported scalar type, including null envelopes") {
    val root = tmp()
    val df = spark.sql("""
      SELECT id AS k,
             CAST(id AS INT)                             AS i,
             CAST(id * 1.5 AS DOUBLE)                    AS d,
             CONCAT('s', LPAD(CAST(id AS STRING), 3, '0')) AS s,
             DATE_ADD(DATE'2024-01-01', CAST(id AS INT)) AS dt,
             TIMESTAMP'2024-06-01 12:00:00' + make_interval(0,0,0,0,0,0, id) AS ts,
             CAST(NULL AS LONG)                          AS all_null,
             CAST(id * 1.25 - 100 AS DECIMAL(18,4))      AS dec
      FROM RANGE(1, 201)""")
    val stats = Seq("k", "i", "d", "s", "dt", "ts", "all_null", "dec")
    val t = GraftTable.create(spark, root, df, stats, numFiles = 3)
    val m = t.manifest()
    // per-file envelopes must bracket exactly the global min/max when
    // folded, and row counts must add up
    val got = m.agg(
      sum("row_count"), min("min_k"), max("max_k"), min("min_i"),
      max("max_i"), min("min_d"), max("max_d"), min("min_s"),
      max("max_s"), min("min_dt"), max("max_dt"), min("min_ts"),
      max("max_ts"), min("min_all_null"), max("max_all_null"),
      min("min_dec"), max("max_dec")).head()
    val want = df.agg(
      count(lit(1)), min("k"), max("k"), min("i"), max("i"), min("d"),
      max("d"), min("s"), max("s"), min("dt"), max("dt"), min("ts"),
      max("ts"), min("all_null"), max("all_null"), min("dec"),
      max("dec")).head()
    assert(got == want,
      s"one-pass envelopes drifted from ground truth:\n$got\n$want")
    assert(m.count() == 3)
  }

  test("bloom-indexed and array-carrying writes take the read-back " +
      "fallback and stay correct") {
    val bloomRoot = tmp()
    val tb = GraftTable.create(spark, bloomRoot,
      (1L to 500L).toDF("k").withColumn("tag", concat(lit("u"), col("k"))),
      Seq("k"), numFiles = 2, bloomCols = Seq("tag"))
    assert(tb.manifest().columns.contains("bloom_tag"))
    assert(tb.manifest().where(col("bloom_tag").isNull).count() == 0,
      "fallback path must still build blooms")
    assert(tb.read().count() == 500)

    val arrRoot = tmp()
    val ta = GraftTable.create(spark, arrRoot,
      (1L to 50L).toDF("k").withColumn("emb", array(col("k"), col("k") * 2)),
      Seq("k"), numFiles = 2)
    assert(ta.read().selectExpr("sum(emb[1])").as[Long].head() ==
      (1L to 50L).map(_ * 2).sum)
    assert(ta.manifest().agg(sum("row_count")).as[Long].head() == 50L)
  }

  test("NaN enters the one-pass envelope as the GREATEST double — " +
      "statsKeep never prunes a NaN-bearing file (ADVICE r12 high)") {
    val root = tmp()
    // file 1: plain values; file 2 (separate append): contains NaN.
    // Primitive '<' would leave file 2's max at 3.0 (NaN compares
    // false both ways), and 'd > 5' or 'd = NaN' would skip it.
    val t = GraftTable.create(spark, root,
      Seq(1.0, 2.0).toDF("d"), Seq("d"), numFiles = 1)
    t.append(Seq(3.0, Double.NaN).toDF("d"), numFiles = 1)
    val maxes = t.manifest().select("max_d").as[Double].collect()
    assert(maxes.exists(_.isNaN),
      s"NaN-bearing file must record max=NaN, got ${maxes.mkString(",")}")
    // upper-range predicate keeps the NaN file (Spark orders NaN > 5)
    val (gt, keptG, totG) = t.prunedWhere(col("d") > 5.0)
    assert(totG == 2 && keptG == 1, s"kept $keptG of $totG")
    assert(gt.count() == 1, "the NaN row satisfies d > 5 in Spark SQL")
    // equality probe on NaN itself keeps exactly the NaN file
    val (eq, keptE, _) = t.prunedWhere(col("d") === Double.NaN)
    assert(keptE == 1 && eq.count() == 1)
    // and an unrelated probe still prunes it (the envelope is real,
    // not degraded to keep-everything)
    val (_, keptLo, _) = t.prunedWhere(col("d") === 1.0)
    assert(keptLo == 1)
  }

  test("a BinaryType stats column rides the one-pass path with " +
      "unsigned lexicographic envelopes (ADVICE r12 medium)") {
    val root = tmp()
    // 0x80 > 0x7f only under UNSIGNED compare — pins the ordering
    val df = Seq(
      (1L, Array[Byte](0x10)), (2L, Array[Byte](0x7f)),
      (3L, Array[Byte](0x80.toByte)), (4L, Array[Byte](0x10, 0x01))
    ).toDF("k", "b")
    val t = GraftTable.create(spark, root, df, Seq("k", "b"),
      numFiles = 1)
    val jobs = jobsDuring { t.append(df, numFiles = 1) }
    assert(jobs <= 2, s"binary stats must stay one-pass, ran $jobs")
    val row = t.manifest().agg(min("min_b"), max("max_b")).head()
    assert(row.getAs[Array[Byte]](0).toSeq == Seq[Byte](0x10),
      "min must be the shortest-prefix smallest value")
    assert(row.getAs[Array[Byte]](1).toSeq == Seq(0x80.toByte),
      "max must rank 0x80 above 0x7f (unsigned order)")
    assert(t.read().count() == 8)
  }

  test("one-pass appends compose with COW delete and compact: counts " +
      "and envelopes stay exact through mixed commit kinds") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 100L).toDF("k"), Seq("k"), numFiles = 2)
    // a many-small-file append (70 partitions; empty ones write
    // nothing) still manifests driver-side
    t.append((101L to 200L).toDF("k"), numFiles = 70)
    t.deleteWhere(col("k") % 10 === 0) // COW rewrite of one-pass files
    t.compact(numFiles = 2)
    assert(t.read().count() == 180)
    assert(t.manifest().agg(sum("row_count")).as[Long].head() == 180L)
    assert(t.read().agg(min("k"), max("k")).head() ==
      org.apache.spark.sql.Row(1L, 199L))
  }

  test("a file:// root writes what a plain path writes: create, " +
      "append, replaceWhere and a SQL UPDATE give equal manifests") {
    // one file per slice
    def rows(lo: Long, hi: Long, slices: Int = 1) =
      spark.range(lo, hi, 1, slices).select(
        col("id").as("k"),
        concat(lit("name-"), lpad(col("id").cast("string"), 5, "0"))
          .as("s"),
        (col("id") * 7919L % 3600L).as("u"))
    def writes(cat: String, wh: String): Seq[org.apache.spark.sql.Row] = {
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val root = s"$wh/t"
      val t = GraftTable.create(spark, root, rows(0, 3000, 3),
        Seq("k", "s"), numFiles = 0, bloomCols = Seq("u"),
        bloomBits = 1 << 10)
      t.append(rows(3000, 3500), numFiles = 1)
      t.replaceWhere(col("k") >= 3400, rows(3400, 3600), numFiles = 1)
      spark.sql(s"UPDATE $cat.t SET s = concat(s, '-x') WHERE k < 500")
      val m = GraftTable.forPath(spark, root)
      assert(m.read().count() == 3600)
      assert(m.read().where(col("s").endsWith("-x")).count() == 500)
      m.manifest().select("row_count", "size_bytes", "min_k", "max_k",
          "nulls_k", "min_s", "max_s", "nulls_s", "trunc_s", "bloom_u")
        .orderBy("min_k").collect().toSeq
    }
    val plain = writes("plainfs", tempDir("graft_onepass_plain_"))
    val schemed =
      writes("schemefs", "file://" + tempDir("graft_onepass_scheme_"))
    assert(plain.map(_.getLong(0)).sum == 3600)
    assert(schemed == plain)
  }
}
