package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import graft.operators.CoreQueries

/** Guards SURVEY §4's "Catalyst does it" claims: the physical plans
  * must actually show pushdown, pruning, and broadcast — on 100 TB these
  * plan shapes are the difference between minutes and days. */
class PlanShapeSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02 filter is pushed to the parquet scan") {
    val p = plan(CoreQueries.q02FilteredScan(spark, sfDir))
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"expected shipdate pushdown in:\n$p")
  }

  test("q02 scan reads only the projected columns") {
    val p = plan(CoreQueries.q02FilteredScan(spark, sfDir))
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_comment") && !p.contains("l_tax"),
      "scan should prune unprojected columns")
  }

  test("q03 denormalization uses broadcast joins only (fact never shuffles)") {
    val p = plan(CoreQueries.q03DenormJoin(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      s"dim joins must broadcast, not sort-merge:\n$p")
  }

  test("q01 aggregate is two-phase (partial then final)") {
    val p = plan(CoreQueries.q01PrunedAgg(spark, sfDir))
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_sum") || p.contains("partial"),
      s"expected partial aggregation in:\n$p")
  }

  test("q10 top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(CoreQueries.q10TopK(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), s"got:\n$p")
  }

  test("whole-stage codegen covers the aggregation pipeline") {
    // AQE hides the final plan until execution; run the query first.
    val df = CoreQueries.q01PrunedAgg(spark, sfDir)
    df.collect()
    // codegen'd stages print as "*(<id>)" in the tree form
    assert(plan(df).contains("*(1)"), s"no codegen stage in:\n${plan(df)}")
  }

  test("q01 date filter pushes into the parquet scan") {
    val p = plan(CoreQueries.q01PrunedAgg(spark, sfDir))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"shipdate range must reach PushedFilters:\n$p")
  }

  test("T0 fact ingest pushes its date window into the parquet scan " +
      "(native timestamp range, not the derived yyyyMMdd string)") {
    val p = plan(graft.etl.Pipeline.Tpch(spark, sfDir)
      .fact(graft.etl.Medallion.Span("1994", "01", "1994", "12")))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"T0 window lower bound must reach PushedFilters:\n$p")
    assert(p.contains("LessThan(l_shipdate"),
      s"T0 window upper bound must reach PushedFilters:\n$p")
  }

  test("q31 near-dup join broadcasts its build side (no block-key " +
      "exchange on the probe side)") {
    val df = graft.operators.Similarity.q31CosineNearDup(spark, sfDir)
    df.collect() // AQE finalizes the plan on execution
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      s"build side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a 10-value block key must never sort-merge:\n$p")
  }

  test("q34 IVF probe join broadcasts the tiny query/centroid sides") {
    val df = graft.operators.Similarity.q34AnnIvf(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"probe join must broadcast:\n$p")
  }

  test("q36 rollup plans a single shuffle (one Expand + one exchange " +
      "pair of aggregates)") {
    val df = CoreQueries.q36Rollup(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(p.contains("Expand"), s"rollup must expand grouping sets:\n$p")
    // AQE's toString prints the Initial Plan below the Final Plan —
    // count exchanges in the final section only
    val finalSection = p.split("== Initial Plan ==").head
    val exchanges =
      "Exchange hashpartitioning".r.findAllIn(finalSection).length
    assert(exchanges <= 1, s"rollup should shuffle once, saw $exchanges:\n$p")
  }

  // ---- Round-3 corpus/ANN operators ---------------------------------

  test("q58 contamination joins the eval-gram set by broadcast " +
      "(training grams never shuffle for the lookup)") {
    val df = graft.operators.CorpusOps.q58Contamination(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"eval grams must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"gram lookup must not sort-merge:\n$p")
  }

  test("q56 span counting aggregates in two phases (map-side partial)") {
    val df = graft.operators.CorpusOps.q56BoilerplateSpans(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(p.contains("HashAggregate") && p.contains("partial"),
      s"expected partial aggregation before the span shuffle:\n$p")
  }

  test("q61 weighted sample plans as TakeOrderedAndProject (bottom-k, " +
      "no global sort materialization)") {
    val p = plan(graft.operators.CorpusOps.q61WeightedSample(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), s"got:\n$p")
  }

  test("q66 LSH candidate join broadcasts the probed queries; " +
      "the corpus side computes buckets map-only (no corpus exchange)") {
    val df = graft.operators.Similarity.q66AnnRademacher(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"queries must broadcast:\n$p")
    val finalSection = p.split("== Initial Plan ==").head
    // the only exchange allowed is the per-query window's repartition
    // AFTER candidate scoring — never one feeding the join
    val joinIdx = finalSection.indexOf("BroadcastHashJoin")
    val corpusSide = finalSection.substring(joinIdx)
    assert(!corpusSide.contains("Exchange hashpartitioning"),
      s"corpus must not shuffle before the bucket join:\n$p")
  }

  test("q68 column profile is one pass: a single scan feeding one " +
      "Expand-based aggregate") {
    val df = graft.operators.Profiling.q68ColumnProfile(spark, sfDir)
    df.collect()
    val p = plan(df)
    val finalSection = p.split("== Initial Plan ==").head
    val scans = "FileScan parquet".r.findAllIn(finalSection).length
    assert(scans === 1, s"profile must scan the table once, saw $scans:\n$p")
    assert(finalSection.contains("Expand"),
      s"multi-column distinct should plan as one Expand:\n$p")
  }

  test("q69 edit-distance blocking joins without shuffling either side " +
      "(block tables broadcast at this scale)") {
    val df = graft.operators.Dedup.q69EditDistancePairs(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"blocked self-join should " +
      s"broadcast the build side:\n$p")
    assert(p.contains("levenshtein"),
      s"distance filter must run inside the join stage:\n$p")
  }

  test("q70 centroids aggregate partially before the label-dim exchange") {
    val df = graft.operators.Similarity.q70EmbeddingCentroids(spark, sfDir)
    df.collect()
    val p = plan(df)
    val finalSection = p.split("== Initial Plan ==").head
    assert(finalSection.contains("partial_"),
      s"posexplode must feed a partial aggregate (map-side collapse):\n$p")
    val exchanges =
      "Exchange hashpartitioning".r.findAllIn(finalSection).length
    assert(exchanges === 1,
      s"only the label-dim state exchange is allowed, saw $exchanges:\n$p")
  }

  test("q74 histogram shuffles bucket states, not rows") {
    val df = graft.operators.Profiling.q74Histogram(spark, sfDir)
    df.collect()
    val p = plan(df)
    val finalSection = p.split("== Initial Plan ==").head
    assert(finalSection.contains("partial_"),
      s"bucketing must partial-aggregate map-side:\n$p")
    assert(finalSection.contains("BroadcastExchange") ||
      finalSection.contains("BroadcastNestedLoopJoin"),
      s"the 1-row grand total must broadcast:\n$p")
  }

  test("q64 SCD2 reuses one sort for both window passes") {
    val df = graft.operators.CorpusOps.q64Scd2History(spark, sfDir)
    df.collect()
    val p = plan(df)
    val finalSection = p.split("== Initial Plan ==").head
    val sorts = "Sort \\[".r.findAllIn(finalSection).length
    assert(sorts <= 1,
      s"lag+lead over the same order must share one sort, saw $sorts:\n$p")
    val exchanges =
      "Exchange hashpartitioning".r.findAllIn(finalSection).length
    assert(exchanges <= 1,
      s"both windows must share one user_id shuffle, saw $exchanges:\n$p")
  }

  test("q90 point-in-time lookup is one user_id shuffle over " +
      "probes+changes (no interval join blow-up)") {
    val df = graft.operators.Stats.q90PointInTime(spark, sfDir)
    df.collect()
    val p = plan(df)
    val finalSection = p.split("== Initial Plan ==").head
    assert(!finalSection.contains("SortMergeJoin") &&
      !finalSection.contains("BroadcastNestedLoop"),
      s"as-of reuse must not plan a join:\n$p")
    val exchanges =
      "Exchange hashpartitioning".r.findAllIn(finalSection).length
    assert(exchanges <= 2,
      s"union + one keyed window pass, saw $exchanges exchanges:\n$p")
  }

  test("q94 co-purchase top-50 plans as TakeOrderedAndProject over a " +
      "two-phase pair aggregate, with no self-join") {
    val df = graft.operators.Stats.q94CopurchasePairs(spark, sfDir)
    df.collect()
    val p = plan(df)
    val finalSection = p.split("== Initial Plan ==").head
    assert(finalSection.contains("TakeOrderedAndProject"), s"got:\n$p")
    assert(!finalSection.contains("SortMergeJoin") &&
      !finalSection.contains("BroadcastHashJoin"),
      s"pairs must expand map-side from per-order arrays, not join:\n$p")
  }

  test("q101 PageRank iterations read the cached edge list, not the " +
      "pair explosion (regression: lazy unpersist emptied the cache " +
      "before execution)") {
    spark.catalog.clearCache()
    val df = graft.operators.Graph.q101Pagerank(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(p.contains("InMemoryTableScan"),
      s"iterations must read the edge cache:\n${p.take(4000)}")
    spark.catalog.clearCache()
  }

  test("q102 similarity join verifies by broadcast array-intersect — " +
      "the token stream is never sort-merge self-joined") {
    val df = graft.operators.Dedup.q102PrefixJaccardJoin(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("array_intersect"), s"broadcast verify missing:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no sort-merge join belongs in this plan at test scale:\n$p")
    // the global token-rarity rank must come from the bucketed
    // prefix-count pass, never a vocabulary-sized single-partition sort
    assert(!p.contains("Exchange SinglePartition"),
      s"token rank must not gather the vocabulary to one task:\n$p")
  }

  test("q176 padding-audit ranks come from the bucketed prefix-count " +
      "pass, never a corpus-sized single-partition sort") {
    val df = graft.operators.CorpusOps.q176PaddingAudit(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // the old shape: row_number() over a partition-less window — the
    // corpus through one task. The fixed shape ranks inside bucket-
    // partitioned windows only; the surviving SinglePartition
    // exchanges carry batch-count aggregate rows, not docs.
    assert(!p.contains("row_number"),
      s"q176 rank must be the bucketed prefix-count, not row_number:\n$p")
    assert(p.contains("windowspecdefinition(_bkt"),
      s"expected bucket-partitioned windows:\n$p")
  }

  test("q107 triples expand map-side: three chained generates, " +
      "no self-join anywhere") {
    val df = graft.operators.Stats.q107FrequentTriples(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert("Generate explode".r.findAllIn(p).length >= 3,
      s"expected 3 explodes:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"triple mining must not join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-30 must heap:\n$p")
  }

  test("q110 outlier screen: centroids broadcast back, per-doc " +
      "aggregate is partial, top-50 heaps") {
    val df = graft.operators.Similarity.q110EmbeddingOutliers(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"centroid join must broadcast:\n$p")
    assert(p.contains("partial_sum"), s"distance agg must be two-phase:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"got:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffle join belongs here:\n$p")
  }

  test("q112 attribution joins once on user_id with the time window " +
      "as a residual predicate") {
    val df = graft.operators.Analytics.q112FirstTouch(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    val joins = "SortMergeJoin".r.findAllIn(p).length +
      "BroadcastHashJoin".r.findAllIn(p).length
    assert(joins == 1, s"expected exactly one lookback join, got $joins:\n$p")
    // the scalar n_total broadcast is a 1-row BroadcastNestedLoopJoin
    // (like q95's bounds) — only an unkeyed CartesianProduct is banned
    assert(!p.contains("CartesianProduct"),
      s"time window must ride the equi-join as a residual:\n$p")
  }

  test("q95 rolling distinct fans out map-side: one distinct exchange, " +
      "bounds broadcast") {
    val df = graft.operators.Stats.q95RollingDistinct(spark, sfDir)
    df.collect()
    val p = plan(df)
    val finalSection = p.split("== Initial Plan ==").head
    assert(finalSection.contains("BroadcastNestedLoopJoin"),
      s"the 1-row bounds must broadcast:\n$p")
    assert(!finalSection.contains("SortMergeJoin"),
      s"no keyed join belongs in this plan:\n$p")
  }

  test("q120 bloom prefilter sits under the semi-join, which broadcasts") {
    val df = graft.operators.ScaleOps.q120BloomJoin(spark, sfDir)
    df.collect()
    val p = plan(df)
    // the mightContain UDF must filter the fact BEFORE the join
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"exact semi-join must broadcast:\n$p")
    val filterIdx = p.indexOf("UDF(knownnotnull(o_custkey")
    val joinIdx = p.indexOf("BroadcastHashJoin")
    assert(filterIdx > joinIdx && joinIdx >= 0,
      "bloom filter must appear under (after, in tree print) the join")
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
  }

  test("q121 sketch filter is map-side: no exchange below the recount " +
      "aggregate's partial phase") {
    val df = graft.operators.ScaleOps.q121SketchHeavyHitters(spark, sfDir)
    df.collect()
    val p = plan(df)
    // partial aggregate directly over the filtered scan: the UDF filter
    // and partial_count must be in the same pre-exchange stage.
    assert(p.contains("partial_count"), s"no map-side combine:\n$p")
    val udfIdx = p.indexOf("UDF(knownnotnull(user_id")
    val partialIdx = p.indexOf("partial_count")
    assert(udfIdx > partialIdx && partialIdx >= 0,
      "sketch filter must evaluate below the partial aggregate")
  }

  test("q134 rendezvous winner computes map-side with one shuffle to " +
      "the rollup") {
    val df = graft.operators.ScaleOps.q134RendezvousRouting(spark, sfDir)
    df.collect()
    val p = plan(df)
    val finalSection = p.split("== Initial Plan ==").head
    assert(!finalSection.contains("Join"),
      s"routing must not join:\n$finalSection")
    assert(finalSection.contains("partial_count"),
      s"rollup must combine map-side:\n$finalSection")
  }

  test("silver join survives a 100× scale-up: orders/customer/part fall " +
      "back to shuffle joins when they exceed the broadcast threshold, " +
      "while the hinted fixed-size dims (nation/region) still broadcast") {
    val tpch = graft.etl.Pipeline.Tpch(spark, sfDir)
    val fact = tpch.fact(graft.etl.Medallion.Span("1992", "01", "2002", "12"))
    // Simulate "dims too big to broadcast" (the 100 TB stats point):
    // with the threshold off, ONLY explicit hints may broadcast.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(tpch.silver(fact))
      assert(p.contains("SortMergeJoin [l_orderkey") ||
        p.contains("SortMergeJoin [cast(l_orderkey"),
        s"fact⋈orders must sort-merge when orders can't broadcast:\n$p")
      assert(!p.contains("BroadcastHashJoin [l_orderkey"),
        s"orders must NOT be forced onto the driver:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"hinted nation/region must still broadcast:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // And at SMALL stats (default threshold, sf0.001 dims), size-based
    // planning must still broadcast everything — dropping the forced
    // hints costs nothing where they used to apply. custGeo is a join
    // RESULT whose planning-time estimate is conservative, so the
    // broadcast decision lands at runtime via AQE: execute, then check
    // the FINAL plan.
    val dfSmall = tpch.silver(fact)
    dfSmall.collect() // count() would execute a different wrapped query
    val pSmall = plan(dfSmall).split("== Initial Plan ==").head
    assert(!pSmall.contains("SortMergeJoin"),
      s"small dims must (auto-)broadcast without hints:\n$pSmall")
  }

  test("q60 vocab top-k: the limit pushes BELOW the window " +
      "(TakeOrderedAndProject feeds it) — the vocabulary is never " +
      "globally sorted") {
    val df = graft.operators.CorpusOps.q60VocabTopK(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // LimitPushDownThroughWindow: rank<=50 over an empty partition spec
    // becomes a top-50 heap under the window
    assert(p.contains("TakeOrderedAndProject(limit=50"),
      s"rank filter must become a pushed top-50 heap:\n$p")
    val windowIdx = p.indexOf("Window [row_number")
    val topkIdx = p.indexOf("TakeOrderedAndProject")
    assert(windowIdx >= 0 && topkIdx > windowIdx,
      s"the heap must sit BELOW the window (window input = 50 rows):\n$p")
    assert(!p.contains("Sort [n"),
      s"no global vocabulary sort belongs in this plan:\n$p")
  }

  test("q77 heavy hitters plans as TakeOrderedAndProject, not a " +
      "single-partition global window") {
    val df = graft.operators.Profiling.q77HeavyHitters(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must heap per-partition:\n$p")
  }

  test("q170 semantic dedup joins within-bucket by broadcast — the " +
      "probe side keeps its partitioning, no sort-merge on a " +
      "16-value key") {
    val df = graft.operators.Similarity.q170SemanticDedup(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"build side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a 16-value bucket key must not drive a sort-merge exchange:\n$p")
  }

  test("q171 PQ ANN: encode and ADC scan are map-side against " +
      "broadcast queries — no corpus sort-merge, no cartesian") {
    val df = graft.operators.Similarity.q171PqAnn(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"query side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the encoded corpus must never sort-merge:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("q172 hybrid RRF: every rank limit pushes BELOW its window as a " +
      "top-K heap — no leg is ever globally sorted") {
    val df = graft.operators.TextQueries.q172HybridRrf(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // LimitPushDownThroughWindow (q60's shape): lexical top-30,
    // semantic top-30, fused top-20 each become a heap under the window
    assert(p.contains("TakeOrderedAndProject(limit=30"),
      s"leg top-30s must heap below their windows:\n$p")
    assert(p.contains("TakeOrderedAndProject(limit=20"),
      s"fused top-20 must heap below its window:\n$p")
  }

  test("q123 merge re-groups aggregate STATES: a union of two " +
      "aggregates feeds the final merge, each two-phase") {
    val df = graft.operators.ScaleOps.q123IncrementalAgg(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(p.contains("Union"), s"state merge must union:\n$p")
    // base, delta, and the merge each aggregate -> >=3 HashAggregate
    // pairs; the scans carry the date split as a pushed filter.
    assert("HashAggregate".r.findAllIn(p).length >= 6,
      s"expected three two-phase aggregates:\n$p")
    assert(p.contains("LessThan(o_orderdate") ||
      p.contains("GreaterThanOrEqual(o_orderdate"),
      s"date split must push to the scans:\n$p")
  }

  test("q183 audio features stay in-row: no Generate fan-out, no join, " +
      "and the blob never transits an exchange") {
    val df = graft.multimodal.Multimodal.q183AudioFrames(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(!p.contains("Generate"),
      s"framing must be in-row arrays, not explode:\n$p")
    assert(!p.toLowerCase.contains("join"), s"single-table map path:\n$p")
    // exchange-free: the blob is decoded inside the scan stage, so
    // nothing blob-sized ever shuffles
    assert(!p.contains("Exchange"), s"expected an exchange-free plan:\n$p")
  }

  test("q190 video shots stay in-row: no Generate fan-out, no join, " +
      "and the blob never transits an exchange") {
    val df = graft.multimodal.Multimodal.q190VideoShots(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(!p.contains("Generate"),
      s"framing must be in-row arrays, not explode:\n$p")
    assert(!p.toLowerCase.contains("join"), s"single-table map path:\n$p")
    assert(!p.contains("Exchange"), s"expected an exchange-free plan:\n$p")
  }

  test("q186 all-pairs: no cartesian product — candidates come from the " +
      "term-keyed index join; the 1-row corpus total broadcasts") {
    val df = graft.operators.TextQueries.q186AllPairsTfidf(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      s"pair generation must ride the inverted index:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"the corpus-total scalar must broadcast:\n$p")
    // both the doc_a<doc_b candidate filter and the threshold must sit
    // in the plan (not silently optimized away)
    assert(p.contains("doc_a") && p.contains("doc_b"), s"got:\n$p")
  }
}
