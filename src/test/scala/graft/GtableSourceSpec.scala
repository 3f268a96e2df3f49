package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.format.GraftTable
import graft.sources.GraftTableSource

/** The gtable DataSource V2 connector's engine invariants: result
  * parity with the native API read, manifest-pruned partition
  * planning under pushed filters, time travel via option, column
  * pruning reaching the scan, and schema evolution through per-file
  * footers. (Result correctness vs DuckDB is hash-gated by q219.) */
class GtableSourceSpec extends AnyFunSuite with TempDirs {
  import TestSpark.{spark, sfDir}
  import spark.implicits._

  private val fmt = classOf[GraftTableSource].getName

  private def tmp(): String = tempDir("gtable_src_spec_") + "/t"

  private def orders = Tables.load(spark, sfDir, "orders")

  test("connector read is row-identical to the native API read, " +
      "including time travel via versionAsOf") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      orders.where(col("o_orderkey") <= 2000), Seq("o_orderkey"))
    t.append(orders.where(col("o_orderkey") > 2000))
    val viaApi = t.read().agg(count(lit(1)), sum(col("o_orderkey")),
      sum(col("o_totalprice").cast("decimal(18,4)"))).head()
    val viaSrc = spark.read.format(fmt).load(root)
      .agg(count(lit(1)), sum(col("o_orderkey")),
        sum(col("o_totalprice").cast("decimal(18,4)"))).head()
    assert(viaSrc == viaApi)
    val v1Api = t.read(1).count()
    val v1Src = spark.read.format(fmt).option("versionAsOf", "1")
      .load(root).count()
    assert(v1Src == v1Api && v1Src ==
      orders.where(col("o_orderkey") <= 2000).count())
    // timestampAsOf: a cutoff at v1's RECORDED commit stamp resolves
    // v1 exactly (ADVICE r14: resolution is `ts <= t` with no
    // forward slack, so cutoffs come from the recorded timeline —
    // history()'s commit_ts — not from coarse file mtimes); accepts
    // epoch millis and SQL timestamp strings
    val v1Ts = t.commitTsMillis(1L).get
    val tsSrc = spark.read.format(fmt)
      .option("timestampAsOf", v1Ts.toString).load(root).count()
    assert(tsSrc == v1Api)
    val fmtTs = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS")
      .format(new java.util.Date(v1Ts))
    assert(spark.read.format(fmt).option("timestampAsOf", fmtTs)
      .load(root).count() == v1Api)
    // older than all retained history: explicit error, not a crash
    intercept[IllegalArgumentException](spark.read.format(fmt)
      .option("timestampAsOf", "1999-01-01").load(root).count())
  }

  test("a pushed key-range filter plans FEWER input partitions than " +
      "the live file total (manifest-stats pruning), and the result " +
      "stays exact") {
    val root = tmp()
    GraftTable.create(spark, root,
      orders.repartitionByRange(8, col("o_orderkey")),
      Seq("o_orderkey"), numFiles = 0)
    val lo = orders.agg(min(col("o_orderkey"))).head().getLong(0)
    val df = spark.read.format(fmt).load(root)
      .where(col("o_orderkey").between(lo, lo + 100))
    val n = df.count() // forces planning with the pushed range
    assert(n == orders.where(col("o_orderkey").between(lo, lo + 100))
      .count(), "pruning must stay lossless")
    assert(GraftTableSource.lastLiveFiles >= 8)
    assert(GraftTableSource.lastPlannedFiles <
      GraftTableSource.lastLiveFiles,
      s"range filter must prune planning: " +
        s"${GraftTableSource.lastPlannedFiles}/" +
        s"${GraftTableSource.lastLiveFiles}")
    // an unconstrained SCAN plans every live file (a non-stats
    // aggregate so the metadata-only pushdown doesn't intercept it)
    spark.read.format(fmt).load(root)
      .agg(sum(col("o_totalprice"))).collect()
    assert(GraftTableSource.lastPlannedFiles ==
      GraftTableSource.lastLiveFiles)
  }

  test("column pruning reaches the v2 scan: a two-column projection " +
      "reads a two-column schema") {
    val root = tmp()
    GraftTable.create(spark, root, orders, Seq("o_orderkey"))
    val df = spark.read.format(fmt).load(root)
      .select(col("o_orderkey"), col("o_totalprice"))
    val scanSchema = df.queryExecution.executedPlan.collectLeaves()
      .map(_.schema).head
    assert(scanSchema.fieldNames.toSet ==
      Set("o_orderkey", "o_totalprice"),
      s"scan must carry only the projected columns: $scanSchema")
    assert(df.agg(sum(col("o_orderkey"))).head().getLong(0) ==
      orders.agg(sum(col("o_orderkey"))).head().getLong(0))
  }

  test("schema evolution: files written before a column existed " +
      "surface it as null through the connector") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 50L).map(k => (k, s"a$k")).toDF("k", "name"),
      Seq("k"), numFiles = 1)
    t.append((51L to 80L).map(k => (k, s"b$k", k * 2))
      .toDF("k", "name", "extra"), numFiles = 1)
    val df = spark.read.format(fmt).load(root)
    assert(df.columns.toSet == Set("k", "name", "extra"))
    assert(df.count() == 80)
    assert(df.where(col("extra").isNull).count() == 50,
      "the pre-column half must surface extra as null")
    assert(df.agg(sum(col("extra"))).head().getLong(0) ==
      (51L to 80L).map(_ * 2).sum)
    // the native read takes the same recorded schema: same names,
    // types and order as the connector, and the same rows
    val api = t.read()
    def shape(d: org.apache.spark.sql.DataFrame) =
      d.schema.fields.map(f => (f.name, f.dataType)).toSeq
    assert(shape(api) == shape(df))
    assert(shape(api).map(_._1) == Seq("k", "name", "extra"))
    assert(api.collect().toSet == df.collect().toSet)
  }

  test("runtime filtering: a broadcast join against a narrow dim " +
      "re-plans the scan with the dim's key set — dynamic FILE " +
      "pruning below the live file total") {
    val root = tmp()
    GraftTable.create(spark, root,
      orders.repartitionByRange(8, col("o_orderkey")),
      Seq("o_orderkey"), numFiles = 0)
    val lo = orders.agg(min(col("o_orderkey"))).head().getLong(0)
    // small build side confined to the low key range. It must be a
    // FILTERED FILE SOURCE: DPP's "selective build side" heuristic
    // keys on a surviving Filter node — a local relation folds its
    // filter away and disqualifies the join.
    val dim = orders.where(col("o_orderkey") <= lo + 30L)
      .select("o_orderkey").distinct()
    val fact = spark.read.format(fmt).load(root)
    val joined = fact.join(broadcast(dim), Seq("o_orderkey"))
    val expected = orders
      .join(broadcast(dim), Seq("o_orderkey")).count()
    GraftTableSource.lastPlannedFiles = -1
    assert(joined.count() == expected, "runtime pruning must be lossless")
    assert(joined.queryExecution.executedPlan.toString
      .contains("dynamicpruningexpression"),
      "the scan must receive a runtime filter from the join")
    assert(GraftTableSource.lastLiveFiles >= 8)
    assert(GraftTableSource.lastPlannedFiles <
      GraftTableSource.lastLiveFiles,
      s"the join's key set must prune file planning: " +
        s"${GraftTableSource.lastPlannedFiles}/" +
        s"${GraftTableSource.lastLiveFiles}")
  }

  test("v2 write path: append creates atomic snapshots with the " +
      "declared stats columns, overwrite replaces content in one " +
      "commit, and history stays time-travelable") {
    val root = tmp()
    val slice1 = orders.where(col("o_orderkey") <= 2000)
    val slice2 = orders.where(col("o_orderkey") > 2000)
    slice1.write.format(fmt)
      .option("statsCols", "o_orderkey").mode("append").save(root)
    slice2.write.format(fmt).mode("append").save(root)
    val t = GraftTable.forPath(spark, root)
    assert(t.currentVersion == 2)
    assert(t.statsCols == Seq("o_orderkey"),
      "the option-declared stats columns must stick across appends")
    assert(t.read().count() == orders.count())
    // overwrite = one atomic whole-table replace; old versions remain
    // time-travelable until vacuum
    slice1.write.format(fmt).mode("overwrite").save(root)
    assert(t.currentVersion == 3)
    assert(t.read().count() == slice1.count())
    assert(t.read(2).count() == orders.count(),
      "pre-overwrite history must stay resolvable")
    // the overwritten table still zone-map-prunes on its stats column
    val (_, opened, total) = GraftTable.forPath(spark, root)
      .prunedRead("o_orderkey", lit(1), lit(10))
    assert(opened <= total)
  }

  test("aggregate pushdown: ungrouped COUNT(*)/MIN/MAX on stats " +
      "columns is answered from the manifest — zero data files " +
      "opened, proven by deleting them first") {
    val root = tmp()
    GraftTable.create(spark, root, orders, Seq("o_orderkey"),
      numFiles = 4)
    val expected = orders.agg(count(lit(1)), min(col("o_orderkey")),
      max(col("o_orderkey"))).head()
    // destroy the data; only the log remains
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$root/data")).deleteRecursively()
    val df = spark.read.format(fmt).load(root)
      .agg(count(lit(1)), min(col("o_orderkey")), max(col("o_orderkey")))
    assert(df.queryExecution.executedPlan.toString
      .contains("METADATA-ONLY"),
      s"the scan must be the manifest fold:\n${df.queryExecution}")
    assert(df.head() == expected)
    assert(GraftTableSource.lastPlannedFiles == 0,
      "no data file may be planned")
    // a grouped aggregate is NOT answerable and must scan (and here
    // fail, since the data is gone) — the decline path is honest
    intercept[Throwable] {
      spark.read.format(fmt).load(root)
        .groupBy(col("o_orderstatus")).agg(count(lit(1))).collect()
    }
  }

  test("CDC batch read: readChangesFrom plans only the files added " +
      "after the given snapshot") {
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 100L).toDF("k"), Seq("k"), numFiles = 2)
    t.append((101L to 180L).toDF("k"), numFiles = 2)
    t.append((181L to 220L).toDF("k"), numFiles = 2)
    val ch = spark.read.format(fmt)
      .option("readChangesFrom", "1").load(root)
    assert(ch.count() == 120)
    assert(ch.agg(min(col("k")), max(col("k"))).head().toSeq ==
      Seq(101L, 220L))
    assert(GraftTableSource.lastPlannedFiles == 4,
      "only the four post-v1 files may be planned")
    val window = spark.read.format(fmt)
      .option("readChangesFrom", "1").option("readChangesTo", "2")
      .load(root)
    assert(window.count() == 80)
  }

  test("streaming source: versions are the log — a resumed stream " +
      "reads exactly the commits that landed since its checkpoint") {
    import org.apache.spark.sql.streaming.Trigger
    val root = tmp()
    val t = GraftTable.create(spark, root,
      (1L to 100L).toDF("k"), Seq("k"), numFiles = 2)
    t.append((101L to 150L).toDF("k"), numFiles = 2)
    val ckpt = tempDir("gtable_stream_ckpt_")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    def drain(): Unit = {
      val q = spark.readStream.format(fmt).load(root)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized {
            seen ++= b.select("k").collect().map(_.getLong(0))
          }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    assert(seen.sorted.toSeq == (1L to 150L),
      "the first drain must deliver both existing commits")
    seen.clear()
    drain() // no new commits → nothing delivered
    assert(seen.isEmpty, "a caught-up stream must deliver nothing")
    t.append((151L to 170L).toDF("k"), numFiles = 1)
    drain() // resumes from the checkpointed version offset
    assert(seen.sorted.toSeq == (151L to 170L),
      "a resumed stream must deliver exactly the new commit")
  }

  test("short-name registration: format(\"gtable\") resolves through " +
      "the service loader, for reads and writes") {
    val root = tmp()
    GraftTable.create(spark, root,
      (1L to 40L).toDF("k"), Seq("k"), numFiles = 1)
    assert(spark.read.format("gtable").load(root).count() == 40)
    (41L to 50L).toDF("k").write.format("gtable")
      .mode("append").save(root)
    assert(spark.read.format("gtable").load(root).count() == 50)
    // (SQL-on-files `gtable.`path`` is a V1-FileFormat-only surface in
    // Spark — v2 TableProviders go through read.format, by design.)
  }

  test("the connector decodes every scalar type in the testdata " +
      "tables (date, timestamp, string, numerics) identically to " +
      "the native parquet read") {
    val root = tmp()
    val li = Tables.load(spark, sfDir, "lineitem")
      .where(col("l_orderkey") <= 500)
      .select("l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_returnflag", "l_shipdate")
    GraftTable.create(spark, root, li, Seq("l_orderkey"))
    // (l_orderkey, l_linenumber) is not unique in the synthetic data,
    // so compare as a full-row multiset, not a tie-ordered sequence
    val a = spark.read.format(fmt).load(root).collect()
      .map(_.toString).sorted.toSeq
    val b = li.collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("connector scans decode COLUMNAR (vectorized batches + " +
      "ColumnarToRow in the plan), including with the _file metadata " +
      "column attached") {
    val root = tmp()
    GraftTable.create(spark, root,
      (1L to 1000L).map(k => (k, s"s$k")).toDF("k", "s"), Seq("k"),
      numFiles = 2)
    val df = spark.read.format(fmt).load(root).select("k", "s")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"expected a columnar scan (ColumnarToRow), got:\n$plan")
    assert(df.count() == 1000)
    // with _file attached, the batch carries the per-file constant
    val withFile = spark.read.format(fmt).load(root)
      .select(col("k"), col("_file"))
    assert(withFile.queryExecution.executedPlan.toString
      .contains("ColumnarToRow"))
    assert(withFile.select("_file").distinct().count() == 2)
    // a projection-free read (pure count) stays on the row fallback
    // and still answers from footer row counts — exercised via a
    // filter that defeats agg pushdown
    assert(spark.read.format(fmt).load(root)
      .where(col("k").isNotNull).count() == 1000)
  }

  test("ARRAY columns read through the connector (r15: embedding " +
      "vectors through the change feed): row reader decodes the " +
      "3-level LIST; scalar-only projections keep the columnar path") {
    import spark.implicits._
    val root = tmp()
    val df = (1L to 50L).map(i =>
      (i, (0 until 4).map(j => i * 10.0 + j).toArray,
        if (i % 7 == 0) null else s"d$i"))
      .toDF("vec_id", "v", "tag")
    GraftTable.create(spark, root, df, Seq("vec_id"), numFiles = 2)
    val got = spark.read.format(fmt).load(root)
      .select(col("vec_id"), col("v"), col("tag"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toList,
        r.getString(2))).toSet
    val want = df.collect().map(r => (r.getLong(0),
      r.getSeq[Double](1).toList, r.getString(2))).toSet
    assert(got == want, "connector array read drifted from native")
    // element-level expressions work on the decoded arrays
    assert(spark.read.format(fmt).load(root)
      .select(org.apache.spark.sql.functions.aggregate(col("v"),
        org.apache.spark.sql.functions.lit(0.0), _ + _).as("s"))
      .agg(org.apache.spark.sql.functions.sum(col("s"))).head()
      .getDouble(0) ==
      want.toSeq.map(_._2.sum).sum)
    // a scalar-only projection must still plan COLUMNAR (arrays only
    // force the row reader when actually projected)
    val scalarScan = spark.read.format(fmt).load(root)
      .select("vec_id").queryExecution.executedPlan.toString
    assert(scalarScan.contains("ColumnarToRow"),
      s"scalar projection lost the columnar path:\n$scalarScan")
  }
}
