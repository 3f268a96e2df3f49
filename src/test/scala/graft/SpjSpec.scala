package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.format.GraftTable

/** STORAGE-PARTITIONED JOINS through the gtable connector: two tables
  * whose files are value-pure on the join column (manifest envelopes
  * min == max per file) report KeyGroupedPartitioning, and under
  * `spark.sql.sources.v2.bucketing.enabled` a join or aggregate on
  * that column plans with ZERO shuffle exchanges — Spark groups
  * same-key file partitions and aligns both sides by value. Purity is
  * re-checked per scan, so drift degrades to a normal shuffle plan,
  * never a wrong answer. */
class SpjSpec extends AnyFunSuite with TempDirs {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(): String = tempDir("graft_spj_") + "/t"

  /** A table whose files are value-pure on `c` by construction: one
    * single-file append per distinct value. (In a real pipeline the
    * same purity falls out of range-clustered writes on a
    * low-cardinality key — e.g. the retail lake's (year, month)
    * tiers; this helper just makes it deterministic for the spec.) */
  private def createPure(root: String, df: DataFrame, c: String)
      : GraftTable = {
    val vals = df.select(c).distinct().orderBy(col(c)).collect()
      .map(_.get(0))
    val t = GraftTable.openOrCreate(spark, root, Seq(c))
    vals.foreach(v => t.append(df.where(col(c) === v), numFiles = 1))
    t
  }

  private def withSpj[A](body: => A): A = {
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) =>
      k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("two gtables value-pure on the join key join with ZERO shuffle " +
      "exchanges and exact results; an aggregate on the key is also " +
      "exchange-free") {
    val rootA = tmp(); val rootB = tmp()
    val a = (1L to 5000L).map(i => (i % 5, i, s"a$i"))
      .toDF("k", "id", "pa")
    val b = (1L to 3000L).map(i => (i % 5, i * 10, s"b$i"))
      .toDF("k", "ts", "pb")
    createPure(rootA, a, "k")
    createPure(rootB, b, "k")

    withSpj {
      val sa = spark.read.format("gtable").load(rootA)
      val sb = spark.read.format("gtable").load(rootB)
      val joined = sa.join(sb, Seq("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"SPJ join+agg must plan zero exchanges, got:\n$plan")
      val got = joined.collect().map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      val want = a.groupBy("k").count().as[(Long, Long)].collect().toMap
        .map { case (k, na) =>
          k -> na * b.where(col("k") === k).count() }
      assert(got == want, "SPJ join result must be exact")
    }
  }

  test("an impure table (any file spanning several key values) " +
      "degrades to a normal shuffle plan with the same exact result") {
    val rootA = tmp(); val rootB = tmp()
    val a = (1L to 1000L).map(i => (i % 5, i)).toDF("k", "id")
    GraftTable.create(spark, rootA, a.repartition(4), Seq("k"),
      numFiles = 0) // hash layout: files span many k values
    createPure(rootB, (0L to 4L).map(k => (k, s"d$k")).toDF("k", "d"),
      "k")
    withSpj {
      val joined = spark.read.format("gtable").load(rootA)
        .join(spark.read.format("gtable").load(rootB), Seq("k"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("Exchange"),
        "impure side must fall back to a shuffle")
      assert(joined.count() == 1000)
    }
  }

  test("SPJ reporting leaves normal sessions untouched: with v2 " +
      "bucketing off, the same tables plan the ordinary way and DPP/" +
      "runtime filtering stays armed") {
    val root = tmp()
    createPure(root, (1L to 100L).map(i => (i % 4, i)).toDF("k", "id"),
      "k")
    val df = spark.read.format("gtable").load(root)
      .where(col("k") === 2)
    assert(df.count() == 25)
  }
}
