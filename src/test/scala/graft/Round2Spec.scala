package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import graft.operators._

/** Round-2 operator semantics: as-of join, binned range join, connected
  * components, sessionization boundaries, argmax ties, quantiles,
  * approx-distinct accuracy, TF-IDF determinism. Synthetic micro-cases
  * pin the edge semantics the DuckDB oracle can't isolate. */
class Round2Spec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}
  import spark.implicits._

  // ---- AsofJoin.backward -------------------------------------------------

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("asof backward picks latest right row at-or-before, inclusive") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "l1"),
      (1L, ts("2024-01-01 12:00:00"), "l2"),
      (2L, ts("2024-01-01 10:00:00"), "l3")) // key 2 has no right rows
      .toDF("k", "t", "lname")
    val right = Seq(
      (1L, ts("2024-01-01 09:00:00"), 100L),
      (1L, ts("2024-01-01 10:00:00"), 200L), // equal ts -> inclusive
      (1L, ts("2024-01-01 11:00:00"), 300L))
      .toDF("k", "t", "rid")
    val out = AsofJoin.backward(left, right, "k", "t", Seq("rid"))
      .select("lname", "rid").as[(String, Option[Long])].collect().toMap
    assert(out("l1") === Some(200L)) // equal timestamp matches
    assert(out("l2") === Some(300L)) // latest prior, not first
    assert(out("l3") === None)       // no right row -> null payload
  }

  test("asof backward resolves equal-time right ties to max payload struct") {
    val left = Seq((1L, ts("2024-01-01 10:00:00"), "l"))
      .toDF("k", "t", "lname")
    val right = Seq(
      (1L, ts("2024-01-01 09:00:00"), 7L),
      (1L, ts("2024-01-01 09:00:00"), 9L))
      .toDF("k", "t", "rid")
    val out = AsofJoin.backward(left, right, "k", "t", Seq("rid"))
      .select("rid").as[Long].head()
    assert(out === 9L)
  }

  test("asof join plans exactly one shuffle (union + single window pass)") {
    val df = AsofJoin.q37AsofJoin(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 1, s"asof should shuffle once, saw $exchanges:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("NestedLoop"),
      s"no join fallback expected:\n$p")
  }

  // ---- RangeJoin.binned --------------------------------------------------

  test("binned range join: [lo, hi) boundaries, bin-aligned and not") {
    val facts = Seq((1L, 0.0), (2L, 24999.99), (3L, 25000.0), (4L, 99.5),
      (5L, 499999.99), (6L, 500000.0)).toDF("id", "v")
    val ivs = RangeJoin.priceBands.toDF("band", "lo", "hi")
    val out = RangeJoin.binned(facts, "v", ivs, "lo", "hi", 20000.0)
      .select("id", "band").as[(Long, String)].collect().toMap
    assert(out(1L) === "p00_micro")  // lo inclusive
    assert(out(2L) === "p00_micro")  // just below boundary
    assert(out(3L) === "p01_small")  // hi exclusive -> next band
    assert(out(4L) === "p00_micro")
    assert(out(5L) === "p04_jumbo")
    assert(!out.contains(6L))        // above all bands -> dropped (inner)
  }

  test("range join broadcasts the replicated interval side (fact never " +
      "shuffles before the join)") {
    val df = RangeJoin.q38RangeJoin(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoop"),
      s"the rewrite must avoid the nested-loop range join:\n$p")
  }

  // ---- Cluster.connectedComponents --------------------------------------

  test("connected components: chain, clique, and isolated pair (both paths)") {
    // chain 1-2-3-4, pair 10-11, and 20-21-22 clique
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("a", "b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
    // driver union-find path (default threshold)
    val duf = Cluster.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(duf === expected)
    // distributed pointer-doubling path (threshold forced to 0)
    val dist = Cluster.connectedComponents(edges, driverMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(dist === expected)
  }

  test("distributed CC converges on a long chain (pointer doubling)") {
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = Cluster.connectedComponents(chain, driverMaxEdges = 0L)
      .as[(Long, Long)].collect()
    assert(labels.length === 201)
    assert(labels.forall(_._2 === 0L), "all chain members label to min id 0")
  }

  test("q39 cluster sizes are consistent with membership") {
    val rows = Cluster.q39DedupClusters(spark, sfDir)
      .groupBy("cluster_id").agg(
        count(lit(1)).as("n"), first("cluster_size").as("sz"))
      .where(col("n") =!= col("sz")).count()
    assert(rows === 0L)
  }

  test("q184 canonical is the max-quality (min doc_id tie-break) member " +
      "and savings are bytes_total minus the canonical's bytes") {
    import graft.functions.TextFunctions.qualityScore
    val members = Cluster.q39DedupClusters(spark, sfDir)
      .join(Tables.load(spark, sfDir, "documents"),
        col("vec_id") === col("doc_id"))
      .select(col("cluster_id"), col("doc_id"), col("n_chars"),
        qualityScore(col("text")).as("quality"))
      .collect()
      .groupBy(_.getAs[Long]("cluster_id"))
    val got = Cluster.q184CanonicalDedup(spark, sfDir).collect()
    assert(got.nonEmpty && got.length === members.size)
    got.foreach { r =>
      val cid = r.getAs[Long]("cluster_id")
      val m = members(cid)
      val best = m.minBy(x =>
        (-x.getAs[Double]("quality"), x.getAs[Long]("doc_id")))
      assert(r.getAs[Long]("canonical_doc") === best.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_members") === m.length.toLong)
      val total = m.map(_.getAs[Long]("n_chars")).sum
      assert(r.getAs[Long]("bytes_total") === total)
      assert(r.getAs[Long]("bytes_saved") ===
        total - best.getAs[Long]("n_chars"))
    }
  }

  // ---- Sessionization ----------------------------------------------------

  test("sessionize splits strictly above the 30-min gap, not at it") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0, "{}"),
      (1L, ts("2024-01-01 10:30:00"), 2L, "view", 1.0, "{}"), // gap = 1800 -> same
      (1L, ts("2024-01-01 11:00:01"), 3L, "view", 1.0, "{}")) // gap = 1801 -> new
      .toDF("user_id", "ts", "event_id", "event_type", "value", "props")
    ev.createOrReplaceTempView("events_sess_test")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sess = ev
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_sess", when(col("prev_ts").isNull ||
        (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")))
          > Analytics.SessionGapSec, 1).otherwise(0))
      .agg(sum("new_sess")).as[Long].head()
    assert(sess === 2L, "1800s gap stays in-session; 1801s opens a new one")
  }

  test("q41 session stats: every session has n_events >= 1 and " +
      "non-negative duration") {
    val bad = Analytics.q41Sessionize(spark, sfDir)
      .where(col("n_events") < 1 || col("duration_sec") < 0).count()
    assert(bad === 0L)
  }

  // ---- Argmax / quantiles / approx-distinct ------------------------------

  test("argmax ties resolve deterministically via the struct tiebreak") {
    val df = Seq(("b1", 1L, 10.0), ("b1", 2L, 10.0), ("b1", 3L, 5.0))
      .toDF("brand", "key", "rev")
    val got = df.groupBy("brand").agg(
      max_by(col("key"), struct(col("rev"), col("key"))).as("amax"),
      min_by(col("key"), struct(col("rev"), col("key"))).as("amin"))
      .as[(String, Long, Long)].head()
    assert(got._2 === 2L, "max tie -> larger key")
    assert(got._3 === 3L, "min revenue wins argmin")
  }

  test("q46 quantiles are ordered p25 <= p50 <= p90") {
    val bad = Analytics.q46Quantiles(spark, sfDir)
      .where(col("p25") > col("p50") || col("p50") > col("p90")).count()
    assert(bad === 0L)
  }

  test("q47 HLL distinct stays within 5% of exact") {
    val bad = Analytics.q47ApproxDistinct(spark, sfDir)
      .where(col("rel_err") > 0.05).count()
    assert(bad === 0L)
  }

  // ---- Pivot / set ops / cube -------------------------------------------

  test("q44 pivot emits exactly the declared priority columns") {
    val cols = Analytics.q44Pivot(spark, sfDir).columns.toSeq
    assert(cols === "o_orderstatus" +: Analytics.Priorities)
  }

  test("q42 set-op tags partition the union of buyer sets") {
    val counts = Analytics.q42SetOps(spark, sfDir)
      .groupBy("tag").count().as[(String, Long)].collect().toMap
    // a custkey appears under exactly one tag
    val total = Analytics.q42SetOps(spark, sfDir)
      .select("o_custkey").distinct().count()
    assert(counts.values.sum === total)
  }

  test("q43 cube contains all four grouping sets incl. grand total") {
    val flags = Analytics.q43Cube(spark, sfDir)
      .select("g_flag", "g_status").distinct()
      .as[(Int, Int)].collect().toSet
    assert(flags === Set((0, 0), (0, 1), (1, 0), (1, 1)))
  }

  // ---- Plan shapes (the 100 TB claims) -----------------------------------

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  private def exchanges(p: String): Int =
    "Exchange hashpartitioning".r.findAllIn(p).length

  test("q41 sessionization: both window passes and the final aggregate " +
      "ride ONE user_id shuffle") {
    val p = finalPlan(Analytics.q41Sessionize(spark, sfDir))
    assert(exchanges(p) === 1, s"expected 1 exchange:\n$p")
  }

  test("q43 cube: all four grouping sets in one Expand + one shuffle") {
    val p = finalPlan(Analytics.q43Cube(spark, sfDir))
    assert(p.contains("Expand"), s"cube must expand grouping sets:\n$p")
    assert(exchanges(p) <= 1, s"cube should shuffle once:\n$p")
  }

  test("q50 grouped arrays: window and final group-by share the brand " +
      "partitioning (no third shuffle)") {
    val p = finalPlan(Analytics.q50GroupArrays(spark, sfDir))
    assert(exchanges(p) <= 2,
      s"per-part agg + brand window only; final group-by must reuse:\n$p")
  }

  // ---- Whole-operator invariants ----------------------------------------

  test("q37 asof preserves left cardinality exactly (one row per click)") {
    val clicks = Tables.load(spark, sfDir, "events")
      .where(col("event_type") === "click").count()
    assert(AsofJoin.q37AsofJoin(spark, sfDir).count() === clicks)
  }

  test("q38 bands partition the order space: per-band counts sum to all " +
      "orders") {
    val total = Tables.load(spark, sfDir, "orders").count()
    val banded = RangeJoin.q38RangeJoin(spark, sfDir)
      .agg(sum("n_orders")).as[Long].head()
    assert(banded === total,
      "price bands cover [0, 500k) so every order lands in exactly one")
  }

  // ---- Stratified sample / grouped arrays -----------------------------

  test("q49 hash-bucket sample is repartition-stable and ~20% per segment") {
    val base = Analytics.q49StratifiedSample(spark, sfDir)
    val again = Analytics.q49StratifiedSample(spark, sfDir)
      .repartition(17) // different physical layout, same rows
    assert(base.collect().toSet === again.collect().toSet)
    val total = Tables.load(spark, sfDir, "customer").count()
    val frac = base.count().toDouble / total
    assert(frac > 0.10 && frac < 0.30, s"expected ~0.2, got $frac")
  }

  test("q50 top_parts lists are rank-ordered and size <= 3") {
    val rows = Analytics.q50GroupArrays(spark, sfDir)
      .select("top_parts").as[String].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.split(",").length <= 3))
  }

  test("q53 trained-IVF keeps >=80% recall vs brute-force ground truth") {
    // At sf0.001 k (16) is a third of the corpus (50), so stub-vs-
    // trained differences are pure noise — assert absolute recall
    // against the exact top-k instead.
    def topk(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = topk(Similarity.q23KnnBruteForce(spark, sfDir))
    val trained = topk(Similarity.q53AnnIvfTrained(spark, sfDir))
    val recall = (trained & truth).size.toDouble / truth.size
    assert(recall >= 0.8, s"trained-IVF recall $recall below 0.8")
  }

  // ---- TF-IDF ------------------------------------------------------------

  test("q48 returns exactly top-3 terms per doc, ranks 1..3, scores " +
      "non-increasing") {
    val rows = TextQueries.q48TfIdf(spark, sfDir)
      .select("doc_id", "rank", "tfidf")
      .as[(Long, Int, Double)].collect()
    val byDoc = rows.groupBy(_._1)
    assert(byDoc.values.forall(_.map(_._2).sorted.toSeq == Seq(1, 2, 3)))
    assert(byDoc.values.forall { g =>
      val sorted = g.sortBy(_._2).map(_._3)
      sorted.zip(sorted.tail).forall { case (a, b) => a >= b }
    })
  }
}
