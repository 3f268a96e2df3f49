package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.math.BigDecimal.RoundingMode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, count, lit, max, sum}
import org.json4s.{JArray, JBool, JDecimal, JDouble, JField, JInt, JLong,
  JObject, JString, JValue}
import org.json4s.jackson.JsonMethods.{compact, render}
import graft.etl.{Pipeline, RetailPipeline}
import graft.etl.Medallion.Span
import graft.format.{CommitProfile, GraftTable, LogStore,
  S3ConditionalPutLogStore, S3FakeServer}
import graft.operators.{CurationGate, Dedup, RetailQueries, Similarity}

/** Benchmark main — one JSON result line on stdout.
  *
  * Each registry query runs once for warmup (file listing, plan,
  * codegen, JIT) and twice measured. Then the [[legs]] run, each
  * sample in a fresh session: `etl_pipeline` is the full T0→T1→T2
  * medallion DAG into a temp warehouse, the direct analogue of the
  * reference's end-to-end Step Functions run (BASELINE.md: ≈20 min
  * initial load at 28.6M rows on 2–4 G.1X workers); the others are
  * scale smokes, reported per key and left out of the `total`.
  *
  * Env: `SPARK_GRAFT_SF_DIR` (default: the sf0.1 testdata dir),
  * `SPARK_GRAFT_CPUS` ([[GraftSession.localMaster]]), `SPARK_GRAFT_ONLY`
  * (a comma list of query, leg or key names: only those run, see
  * [[legOn]]) and `SPARK_GRAFT_ETL_X` (the etl smoke's replication
  * factor, default 10; 48 reproduces the reference's own 28.6M-row
  * volume from sf0.1, SURVEY.md).
  */
object Bench {

  // Quiet-host protocol: ambient load distorts timings up to 8×. The run
  // waits up to LoadWaitSec for the 1-minute loadavg to fall to
  // MaxLoad, then proceeds anyway (refusing would cost the artifact)
  // and stamps `load_ok`. Each sample then waits up to LegLoadWaitSec
  // for a quiet host: at most MaxExtCores cores busy outside this JVM
  // and at most MaxIoPct of time stalled on IO ([[Runner.quiet]]).
  private val MaxLoad = 4.0
  private val LoadWaitSec = 120
  private val LegLoadWaitSec = 60
  private val MaxExtCores = 2.0
  // External SYSTEM time counts only above this: kernel writeback
  // threads flush the leg's own page-cache writes in system time and
  // would read as ~2.5 external cores during every write-heavy leg.
  private val SysAllowanceCores = 2.5
  private val MaxIoPct = 10.0
  // Samples per leg, and the extra budget that unlocks only while fewer
  // than two quiet samples exist (a bounded re-queue on a busy host).
  private val LegSamples = 3
  private val LegSamplesDirty = 5
  /** The reference's purchase rows at full scale (FIXTURES A.4). */
  private val RetailRows = 28593030L
  private val OutFile = "bench_result.json"

  /** How a leg's samples are taken. */
  sealed trait Passes
  /** Re-sampled until two quiet samples agree ([[Runner.run]]). */
  case object Sampled extends Passes
  /** One untimed pass first, then [[Sampled]]: it moves the cold
    * file-system and page-cache state out of every measured sample
    * (the first retail sample ran 1.4–2.4× its quiet twin at zero
    * external CPU). */
  case object Warmed extends Passes
  /** One quiet-gated sample: a ratio instrument, not a headline. */
  case object Once extends Passes

  /** One bench leg. `body` takes a fresh session and an empty temp dir
    * (deleted after the sample) and returns one value per key: the
    * timed components first, then `gauges` readings (task counts, heap
    * peaks) that take no part in convergence. `smoke` legs stay out of
    * the `total`. */
  final case class Leg(name: String, keys: Seq[String],
      smoke: Boolean = true, passes: Passes = Sampled, gauges: Int = 0)(
      val body: (SparkSession, String) => Seq[Double])

  /** Artifact fields that legs fill beside their values. */
  final class Notes {
    /** Every `curation_history` sample's per-batch seconds. */
    val curationBatches = mutable.Buffer.empty[JValue]
    /** The last good `commit_throughput` sample's attempt histogram,
      * `[[attempts, commits], …]`. */
    var commitTputAttempts: JValue = JArray(Nil)
  }

  /** The dev filter: with `SPARK_GRAFT_ONLY` unset every leg runs; set,
    * a leg runs when the list names the leg or one of its keys. */
  def legOn(only: Option[Set[String]], leg: Leg): Boolean =
    only.forall(names => names(leg.name) || leg.keys.exists(names))

  /** Printed form of a value in seconds: whole numbers bare, the rest
    * at ms precision (sub-ms digits of a wall clock are noise). */
  def fmtSec(v: Double): JValue =
    if (v == math.rint(v) && math.abs(v) < 1e15) JLong(v.toLong)
    else num(v, 3)

  private def num(v: Double, scale: Int): JValue =
    JDecimal(BigDecimal(v).setScale(scale, RoundingMode.HALF_UP))

  /** The headline: the queries plus the 1× etl pair, the definition
    * kept since before the smokes existed so totals compare across
    * runs. A -1 (not run or failed) counts as nothing. */
  def total(results: Seq[(String, Double)], legs: Seq[Leg]): Double = {
    val smoke = legs.filter(_.smoke).flatMap(_.keys).toSet
    results.collect { case (k, v) if !smoke(k) && v >= 0 => v }.sum
  }

  /** One result line: `value` renders the headline and each result;
    * `diagnostics` follow the core fields. The printed line is the core
    * alone at [[fmtSec]] precision (~8 KB): readers that tail-capture
    * stdout once truncated a ~50 KB diagnostics-laden line.
    * The artifact file carries everything at full precision. */
  def resultLine(results: Seq[(String, Double)], total: Double,
      sfDir: String, loadOk: Boolean, value: Double => JValue,
      diagnostics: List[JField] = Nil): String =
    compact(render(JObject(List[JField](
      "metric" -> JString("total"), "value" -> value(total),
      "unit" -> JString("sec"),
      "queries" -> JObject(results.map { case (k, v) => k -> value(v) }
        .toList),
      "sf" -> JString(sfDir), "load_ok" -> JBool(loadOk)) ++ diagnostics)))

  /** The legs in run and report order. */
  def legs(sfDir: String, etlX: Int, notes: Notes): Seq[Leg] = Seq(
    // BASELINE.md's initial/incremental pair over the sf dir: the full
    // history, then one year re-run, where dynamic partition overwrite
    // rewrites only the touched partitions.
    Leg("etl_pipeline", Seq("etl_pipeline", "etl_incremental"),
        smoke = false) { (sp, tmp) => etlPair(sp, sfDir, tmp) },
    // lineitem+orders replicated with shifted order keys: the same
    // join and partition structure at etlX× the fact, where a partition
    // strategy that only works at test scale blows up superlinearly
    Leg(s"etl_pipeline_${etlX}x",
        Seq(s"etl_pipeline_${etlX}x", s"etl_incremental_${etlX}x")) {
      (sp, tmp) =>
        val ord = Tables.load(sp, sfDir, "orders")
        val stride = keyStride(ord, "o_orderkey")
        replicate(Tables.load(sp, sfDir, "lineitem"), "l_orderkey", etlX,
          stride).write.parquet(s"$tmp/src/lineitem.parquet")
        replicate(ord, "o_orderkey", etlX, stride)
          .write.parquet(s"$tmp/src/orders.parquet")
        Seq("customer", "nation", "region", "part", "supplier").foreach {
          d => Tables.load(sp, sfDir, d).write.parquet(s"$tmp/src/$d.parquet")
        }
        etlPair(sp, s"$tmp/src", s"$tmp/wh")
    },
    // documents 10×, each replica a near-dup (one prefixed version
    // token), through the full MinHash-LSH pipeline (q21): the load a
    // post-crawl dedup faces — 10× the corpus and dense candidates
    Leg("dedup_10x", Seq("dedup_10x")) { (sp, tmp) =>
      val docs = Tables.load(sp, sfDir, "documents")
      replicate(docs, "doc_id", 10, keyStride(docs, "doc_id"),
        (d, i) => if (i == 0) d
          else d.withColumn("text", concat(lit(s"v$i "), col("text"))))
        .write.parquet(s"$tmp/documents.parquet")
      Seq(timed { Dedup.q21LshPairs(sp, tmp).count(); () })
    },
    // embeddings 50× (exact copies: plan scaling, not recall) through
    // the IVF index and probe (q34): a probe whose cost is secretly
    // corpus-shaped instead of probed-cells-shaped shows here
    Leg("ann_50x", Seq("ann_50x")) { (sp, tmp) =>
      val emb = Tables.load(sp, sfDir, "embeddings")
      replicate(emb, "vec_id", 50, keyStride(emb, "vec_id"))
        .write.parquet(s"$tmp/embeddings.parquet")
      Seq(timed { Similarity.q34AnnIvf(sp, tmp).count(); () })
    },
    // the table format's write/maintain/read surface over orders 10×:
    // range-clustered create, a range-local merge (COW rewrites only
    // the files it must), a pruned read, then one OPTIMIZE ZORDER and a
    // pruned read on the dimension only the z-layout can skip for
    Leg("gtable_10x", Seq("gtable_10x")) { (sp, tmp) =>
      val (big, stride) = ordersX(sp, sfDir, 10)
      val root = s"$tmp/t"
      Seq(timed {
        val t = GraftTable.create(sp, root,
          big.repartitionByRange(32, col("o_orderkey")),
          statsCols = Seq("o_orderkey", "o_custkey"), numFiles = 0)
        t.merge(big.where(col("o_orderkey") < stride &&
            col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2),
          keyCols = Seq("o_orderkey"), numFiles = 4)
        GraftTable.forPath(sp, root)
          .prunedRead("o_orderkey", lit(0), lit(stride / 10))._1.count()
        t.optimizeZorder("o_custkey", "o_orderkey", numFiles = 32)
        GraftTable.forPath(sp, root)
          .prunedRead("o_custkey", lit(0), lit(100))._1.count()
        ()
      })
    },
    // two equivalent sparse deletes that hit every file (the COW worst
    // case) on one 10× table, as a file rewrite and as a deletion-vector
    // commit, each followed by a full live read so MOR pays its
    // read-side price
    Leg("mor_10x", Seq("cow_delete_10x", "mor_delete_10x")) { (sp, tmp) =>
      val t = GraftTable.create(sp, s"$tmp/t",
        ordersX(sp, sfDir, 10)._1.repartitionByRange(32, col("o_orderkey")),
        statsCols = Seq("o_orderkey"), numFiles = 0)
      val cow = timed {
        t.deleteWhere(col("o_orderkey") % 1000 === 1); t.read().count(); ()
      }
      val mor = timed {
        t.deleteWhereMor(col("o_orderkey") % 1000 === 2); t.read().count()
        ()
      }
      Seq(cow, mor)
    },
    // a point lookup on a unique non-cluster column (a scrambled row id:
    // every file's envelope spans the domain, so min/max never skips)
    // over two identical 50× tables in 512 files, one bloom-indexed, one
    // envelopes-only. What the bloom saves at scale is per-file open,
    // footer and decode; at 10× the fixed planning jobs still rival it.
    Leg("bloom_50x", Seq("bloom_probe_50x", "fullscan_probe_50x")) {
      (sp, tmp) =>
        val (orders50, stride) = ordersX(sp, sfDir, 50)
        val dom = stride * 50
        val big = orders50
          .withColumn("uid", col("o_orderkey") * 2654435761L % dom)
          .repartitionByRange(512, col("o_orderkey"))
        GraftTable.create(sp, s"$tmp/indexed", big,
          statsCols = Seq("o_orderkey"), numFiles = 0,
          bloomCols = Seq("uid"), bloomBits = 1 << 18)
        GraftTable.create(sp, s"$tmp/plain", big,
          statsCols = Seq("o_orderkey"), numFiles = 0)
        val probe = (12345L * 2654435761L) % dom
        def lookup(root: String): Long = sp.read.format("gtable")
          .load(root).where(col("uid") === probe).count()
        val expected = lookup(s"$tmp/indexed")
        Seq(timed { lookup(s"$tmp/indexed"); () },
          timed { require(lookup(s"$tmp/plain") == expected); () })
    },
    // the reference's own schema at its own volume (seed CSVs + the
    // FIXTURES A.4 fact generator): the pair BASELINE.md's ≈20 min /
    // ≈10 min describe, on both tiers
    Leg("retail_fullscale",
        Seq("retail_fullscale", "retail_incremental_fullscale"),
        passes = Warmed) { (sp, tmp) =>
      retailPair(sp, tmp, lake = false, RetailRows)
    },
    // the lake tier writes a different warehouse, so it warms its own
    Leg("retail_fullscale_lake",
        Seq("retail_fullscale_lake", "retail_incremental_fullscale_lake"),
        passes = Warmed) { (sp, tmp) =>
      retailPair(sp, tmp, lake = true, RetailRows)
    },
    // the lake pair at 2× the rows: a stable 2×/1× ratio across runs
    // says a win was fixed cost, a falling one that it was scale
    Leg("retail_lake_2x", Seq("retail_fullscale_lake_2x",
        "retail_incremental_fullscale_lake_2x"), passes = Once) {
      (sp, tmp) => retailPair(sp, tmp, lake = true, RetailRows * 2)
    },
    // 200 one-file appends then one incremental maintain: the fixed
    // cost per commit (201 / seconds = commits/s) and metadata KB per
    // commit
    Leg("commit_micro", Seq("commit_micro_200", "commit_micro_meta_kb")) {
      (sp, tmp) =>
        import sp.implicits._
        val root = s"$tmp/t"
        val n = 200
        val secs = timed {
          val t = GraftTable.create(sp, root, Seq((0L, 0L)).toDF("k", "v"),
            statsCols = Seq("k"), numFiles = 1)
          (1 until n).foreach { i =>
            t.append(Seq((i.toLong, i * 10L)).toDF("k", "v"), numFiles = 1)
          }
          // the mixed-maintenance commit a scheduler would issue
          t.compactSmall(maxRows = 1000L, numFiles = 4)
          ()
        }
        Seq(secs, dirBytes(new java.io.File(s"$root/_log")) / 1024.0 / (n + 1))
    },
    // 2048 small files, the many-micro-commits read shape
    Leg("packed_scan", Seq("packed_scan_2048", "per_file_scan_2048")) {
      (sp, tmp) => packedVsPerFile(sp, s"$tmp/t", 2048, reps = 3,
        tasks = false)
    },
    // 2×10⁴ tiny files, the streaming-sink debt shape the packer was
    // built for; task counts show the win is tasks, not cache luck
    Leg("packed_scan_20k", Seq("packed_scan_20k", "per_file_scan_20k",
        "packed_tasks_20k", "per_file_tasks_20k"), gauges = 2) {
      (sp, tmp) => packedVsPerFile(sp, s"$tmp/t", 20000, reps = 2,
        tasks = true)
    },
    Leg("manifest_plan_200k", Seq("manifest_plan_200k_collect",
        "manifest_plan_200k_stream", "manifest_plan_200k_collect_mb",
        "manifest_plan_200k_stream_mb"), gauges = 2) {
      (sp, tmp) => manifestPlanning(sp, s"$tmp/t", 200000L)
    },
    // the streamed branch's design regime: at 200k entries it saves
    // only ~18-35 MB for ~3× the wall
    Leg("manifest_plan_1m", Seq("manifest_plan_1m_collect",
        "manifest_plan_1m_stream", "manifest_plan_1m_collect_mb",
        "manifest_plan_1m_stream_mb"), gauges = 2) {
      (sp, tmp) => manifestPlanning(sp, s"$tmp/t", 1000000L)
    },
    // ten nightly batches of the documents table (1 doc in 5 an exact
    // re-post of night 0) through q255's change-feed drain and
    // curateBatch: history grows each night while the batch does not,
    // so a flat per-batch series is the O(batch) maintenance claim.
    // Reports the first and last batch.
    Leg("curation_history",
        Seq("curation_hist_first_s", "curation_hist_last_s")) { (sp, tmp) =>
      val times = CurationGate.benchHistory(sp, sfDir, tmp, nBatches = 10,
        mult = 8)
      notes.curationBatches += JArray(times.map(num(_, 2)).toList)
      if (times.exists(_ < 0)) Seq(-1.0, -1.0)
      else Seq(times.head, times.last)
    },
    // 6 writer threads × 20 one-file appends race one table whose
    // commits linearize through S3ConditionalPutLogStore against the
    // in-process conditional-PUT fake, 2 ms wire latency per attempt:
    // wall seconds (commits/s = 120 / s) and mean attempts per commit.
    // Any failed commit fails the sample.
    Leg("commit_throughput",
        Seq("commit_tput_120_s", "commit_tput_attempts_mean")) { (sp, tmp) =>
      val fake = new S3FakeServer
      val prevProvider = LogStore.provider
      try {
        fake.latencyMs.set(2)
        val store = new S3ConditionalPutLogStore(fake.endpoint,
          () => sp.sparkContext.hadoopConfiguration)
        LogStore.provider =
          r => if (r.startsWith(tmp)) store else prevProvider(r)
        import sp.implicits._
        val root = s"$tmp/t"
        GraftTable.create(sp, root, Seq((0L, 0L)).toDF("k", "v"),
          statsCols = Seq("k"), numFiles = 1)
        val (writers, per) = (6, 20)
        CommitProfile.reset()
        CommitProfile.on.set(true)
        val errors = new AtomicInteger(0)
        val secs = timed {
          val ths = (0 until writers).map { w =>
            new Thread(() => {
              try {
                val t = GraftTable.forPath(sp, root)
                (0 until per).foreach { i =>
                  t.append(Seq((w * 1000L + i + 1L, i.toLong)).toDF("k", "v"),
                    numFiles = 1); ()
                }
              } catch {
                case e: Throwable =>
                  errors.incrementAndGet()
                  System.err.println(s"BENCH commit_tput writer $w FAILED: $e")
              }
            })
          }
          ths.foreach(_.start()); ths.foreach(_.join())
        }
        CommitProfile.on.set(false)
        val attempts = CommitProfile.attemptCounts
        if (errors.get() > 0 || attempts.length != writers * per)
          Seq(-1.0, -1.0)
        else {
          notes.commitTputAttempts = JArray(attempts.groupBy(identity)
            .toList.sortBy(_._1)
            .map { case (k, v) => JArray(List(JInt(k), JInt(v.size))) })
          Seq(secs, attempts.sum.toDouble / attempts.size)
        }
      } finally {
        LogStore.provider = prevProvider
        CommitProfile.on.set(false)
        fake.stop()
      }
    })

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Waits for `sync`: the writeback of earlier writes (a previous leg,
    * a pair's initial load) lands outside the next timed window instead
    * of inside it. It evicts nothing, so warm read-back state stays. */
  private def settle(): Unit =
    try {
      Runtime.getRuntime.exec(Array("sync")).waitFor(120, TimeUnit.SECONDS)
      ()
    } catch { case _: Throwable => () }

  /** The TPC-H DAG's initial load (1992–2002), then a re-run of 1995. */
  private def etlPair(sp: SparkSession, src: String, wh: String)
      : Seq[Double] = {
    val initial = timed {
      Pipeline.run(sp, src, wh, Span("1992", "01", "2002", "12"))
    }
    settle()
    val incremental = timed {
      Pipeline.run(sp, src, wh, Span("1995", "01", "1995", "12"))
    }
    Seq(initial, incremental)
  }

  /** The retail DAG's initial load, then its monthly re-run of 2014-11. */
  private def retailPair(sp: SparkSession, wh: String, lake: Boolean,
      rows: Long): Seq[Double] = {
    val data = RetailQueries.DataDir
    val initial = timed {
      if (lake) RetailPipeline.runLake(sp, data, wh, rows)
      else RetailPipeline.run(sp, data, wh, rows)
      ()
    }
    settle()
    val incremental = timed {
      if (lake)
        RetailPipeline.runIncrementalLake(sp, data, wh, rows, "2014", "11")
      else RetailPipeline.runIncremental(sp, data, wh, rows, "2014", "11")
      ()
    }
    Seq(initial, incremental)
  }

  /** One more than the largest `key`: the shift between replicas. */
  private def keyStride(df: DataFrame, key: String): Long =
    df.agg(max(col(key)).cast("long")).head().getLong(0) + 1L

  /** `df` stacked `n` times, copy `i` with `key` shifted by `i * stride`
    * and then passed through `copy`. */
  private def replicate(df: DataFrame, key: String, n: Int, stride: Long,
      copy: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
    (0 until n).map(i => copy(
        df.withColumn(key, col(key).cast("long") + lit(i * stride)), i))
      .reduce(_ unionByName _)

  /** orders replicated `n`×, and the key stride. */
  private def ordersX(sp: SparkSession, sfDir: String, n: Int)
      : (DataFrame, Long) = {
    val ord = Tables.load(sp, sfDir, "orders")
    val stride = keyStride(ord, "o_orderkey")
    (replicate(ord, "o_orderkey", n, stride), stride)
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
    else f.length()

  /** A 10⁶-row table in `files` files, then the same aggregate scan
    * `reps` times under bin-packed planning and `reps` times under the
    * `graft.scan.pack.enabled` kill-switch (one task per file, the
    * plan before packing): (packed s, per-file s), then, with `tasks`, each
    * arm's task count. */
  private def packedVsPerFile(sp: SparkSession, root: String, files: Int,
      reps: Int, tasks: Boolean): Seq[Double] = {
    GraftTable.create(sp, root,
      sp.range(0L, 1000000L).selectExpr("id as k", "id % 97 as v"),
      statsCols = Seq("k"), numFiles = files)
    def df() = sp.read.format("gtable").load(root)
    def scanOnce(): Unit = { df().agg(sum("v"), count("*")).collect(); () }
    def taskCount(): Seq[Double] =
      if (tasks) Seq(df().rdd.getNumPartitions.toDouble) else Nil
    scanOnce() // warm: plan caches + page cache for both arms
    val packedTasks = taskCount()
    val packed = timed((1 to reps).foreach(_ => scanOnce()))
    try {
      sp.conf.set("graft.scan.pack.enabled", "false")
      val perFileTasks = taskCount()
      Seq(packed, timed((1 to reps).foreach(_ => scanOnce()))) ++
        packedTasks ++ perFileTasks
    } finally sp.conf.unset("graft.scan.pack.enabled")
  }

  /** A synthetic manifest of `nEntries` + 1 files (fabricated entries
    * through the real commit path; planning opens no data file) planned
    * under both branches of [[GraftTable.PlanCollectLimit]]:
    * whole-result collect and partition-streamed `toLocalIterator`.
    * Returns (collect s, stream s, collect MB, stream MB), the MB being
    * each branch's driver live-heap peak over baseline: what says a
    * 10⁶-commit table is plannable without sizing the driver by its
    * manifest. */
  private def manifestPlanning(sp: SparkSession, root: String,
      nEntries: Long): Seq[Double] = {
    val prevLimit = GraftTable.PlanCollectLimit
    try {
      val t = GraftTable.create(sp, root,
        sp.range(0L, 1000L).selectExpr("id as k", "id as v"),
        statsCols = Seq("k"), numFiles = 1)
      val fake = sp.range(0L, nEntries).selectExpr(
        "concat('data/cfake/part-', lpad(cast(id as string), 7, " +
          "'0'), '.parquet') as path",
        "cast(50 as bigint) as row_count",
        "cast(4096 as bigint) as size_bytes",
        "id * 50 + 1000000 as min_k", "id * 50 + 1000049 as max_k",
        "cast(0 as bigint) as nulls_k")
      t.commitReplaceFiles("append", Nil, fake, expectedParent = 1L)
      require(t.fileCount() == nEntries + 1L,
        s"fabricated manifest holds ${t.fileCount()} entries")
      def planOnce(): Unit = {
        sp.read.format("gtable").load(root).rdd.getNumPartitions; ()
      }
      val rt = Runtime.getRuntime
      // The sampler forces a GC before each reading so it tracks
      // retained buffers (the collect arm's whole-result rows), not
      // allocation noise: raw used-heap sampling read the stream arm
      // higher from eden churn alone. It runs as its own pass so the
      // GC pounding never touches the wall time.
      def livePeakMb(f: => Unit): Double = {
        System.gc(); Thread.sleep(200)
        val base0 = rt.totalMemory - rt.freeMemory
        @volatile var run = true
        @volatile var peak = 0L
        val th = new Thread(() => while (run) {
          System.gc()
          val u = rt.totalMemory - rt.freeMemory - base0
          if (u > peak) peak = u
          Thread.sleep(50)
        })
        th.setDaemon(true); th.start()
        f
        run = false; th.join()
        peak / 1e6
      }
      planOnce() // warm manifest footers + plan machinery
      GraftTable.PlanCollectLimit = 10000000L
      val collectSec = timed(planOnce())
      val collectMb = livePeakMb(planOnce())
      GraftTable.PlanCollectLimit = 0L
      val streamSec = timed(planOnce())
      Seq(collectSec, streamSec, collectMb, livePeakMb(planOnce()))
    } finally GraftTable.PlanCollectLimit = prevLimit
  }

  private def newSession(): SparkSession = {
    val spark = GraftSession.build(GraftSession.localMaster, "graft-bench")
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** `parse` of a /proc file's text; `orElse` off Linux or on any
    * read or parse error. */
  private def proc[T](path: String, orElse: T)(parse: String => T): T =
    try {
      val src = scala.io.Source.fromFile(path)
      try parse(src.mkString) finally src.close()
    } catch { case _: Throwable => orElse }

  /** The "1m 5m 15m" loadavg fields, context for every sample. */
  private def loadavg(): String = proc("/proc/loadavg", "")(
    _.trim.split("\\s+").take(3).mkString(" "))

  private def load1m(): Double =
    proc("/proc/loadavg", 0.0)(_.trim.split("\\s+").head.toDouble)

  /** Page-cache size (MB): says whether a warm pass's cache survived
    * to the sample, or which phase displaced it. */
  private def cachedMb(): Double = proc("/proc/meminfo", -1.0)(
    _.linesIterator.find(_.startsWith("Cached:"))
      .map(_.trim.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0))

  /** Host (user+nice, system) jiffies. */
  private def hostJiffies(): (Long, Long) = proc("/proc/stat", (-1L, -1L)) {
    t =>
      val v = t.linesIterator.next().split("\\s+").drop(1).map(_.toLong)
      (v(0) + v(1), v(2))
  }

  /** This JVM's (user, system) jiffies, reaped children included, so
    * what the bench spawns (`sync`) never reads as external load. */
  private def selfJiffies(): (Long, Long) =
    proc("/proc/self/stat", (-1L, -1L)) { t =>
      // fields 14-17 = utime stime cutime cstime; field 2 may hold
      // spaces inside its parens, so split after the closing one
      val v = t.substring(t.lastIndexOf(')') + 2).split("\\s+")
      (v(11).toLong + v(13).toLong, v(12).toLong + v(14).toLong)
    }

  /** IO pressure "some" line: (avg10 %, total stall µs). */
  private def psiIo(): (Double, Long) = proc("/proc/pressure/io", (-1.0, -1L)) {
    t =>
      val kv = t.linesIterator.next().split("\\s+").drop(1).map { f =>
        val a = f.split("="); a(0) -> a(1)
      }.toMap
      (kv("avg10").toDouble, kv("total").toLong)
  }

  /** `f`'s result, its wall seconds, and the cores other processes
    * kept busy meanwhile: what contaminates a sample is their CPU, not
    * loadavg, which a heavy leg raises by itself. External user time
    * counts fully, external system time above [[SysAllowanceCores]]. */
  private def withExtCores[T](f: => T): (T, Double, Double) = {
    val h0 = hostJiffies(); val s0 = selfJiffies()
    val t0 = System.nanoTime()
    val r = f
    val sec = (System.nanoTime() - t0) / 1e9
    val h1 = hostJiffies(); val s1 = selfJiffies()
    val ext =
      if (h0._1 < 0 || h1._1 < 0 || s0._1 < 0 || s1._1 < 0 || sec <= 0) 0.0
      else {
        def cores(h0: Long, h1: Long, s0: Long, s1: Long): Double =
          math.max(0.0, ((h1 - h0) - (s1 - s0)) / 100.0 / sec)
        cores(h0._1, h1._1, s0._1, s1._1) +
          math.max(0.0, cores(h0._2, h1._2, s0._2, s1._2) - SysAllowanceCores)
      }
    (r, sec, ext)
  }

  /** Samples legs behind the quiet gate and keeps every sample's host
    * readings for the artifact. */
  private final class Runner {
    /** Per-sample diagnostics: artifact field → sample tag → value. */
    val diag = mutable.LinkedHashMap.from(
      Seq("leg_loadavg", "leg_loadavg_end", "leg_ext_cores", "leg_samples",
        "leg_quiet", "leg_io_stall_pct", "leg_cached_mb", "warm_info")
        .map(_ -> mutable.LinkedHashMap.empty[String, JValue]))

    /** One sample of `leg` in a fresh session and temp dir, both gone
      * afterwards. A sample that throws prints `BENCH FAIL <leg>` and
      * reads -1 for every key. */
    private def sample(leg: Leg): Seq[Double] = {
      val spark = newSession()
      val dir = Files.createTempDirectory(s"graft_bench_${leg.name}_")
      try leg.body(spark, dir.toString)
      catch {
        case e: Throwable =>
          System.err.println(s"BENCH FAIL ${leg.name}: $e")
          leg.keys.map(_ => -1.0)
      } finally {
        new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
        stop(spark)
      }
    }

    /** `f` once the host is quiet or [[LegLoadWaitSec]] has passed, and
      * whether the sample was quiet: before and throughout, at most
      * [[MaxExtCores]] external cores busy and, before, at most
      * [[MaxIoPct]] IO stall (during the sample the leg's own writes
      * stall too, so that reading is stamped, not gated). */
    def quiet[T](tag: String)(f: => T): (T, Boolean) = {
      settle()
      def ioBusy(pct: Double) = pct >= 0 && pct > MaxIoPct
      // idle between samples, so this is ambient load
      def extNow() = withExtCores(Thread.sleep(500))._3
      val deadline = System.nanoTime() + LegLoadWaitSec * 1000000000L
      var ext = extNow()
      var ioPct = psiIo()._1
      while ((ext > MaxExtCores || ioBusy(ioPct)) &&
          System.nanoTime() < deadline) {
        System.err.println(
          f"BENCH LEG WAIT [$tag]: external busy cores $ext%.2f " +
            f"(max $MaxExtCores%.1f), io some-avg10 $ioPct%.1f%% " +
            f"(max $MaxIoPct%.1f)")
        Thread.sleep(5000)
        ext = extNow()
        ioPct = psiIo()._1
      }
      diag("leg_loadavg")(tag) = num(load1m(), 2)
      diag("leg_cached_mb")(tag) = num(cachedMb(), 0)
      val io0 = psiIo()._2
      val (r, sec, legExt) = withExtCores(f)
      val io1 = psiIo()._2
      diag("leg_loadavg_end")(tag) = num(load1m(), 2)
      if (io0 >= 0 && io1 >= io0 && sec > 0)
        diag("leg_io_stall_pct")(tag) = num((io1 - io0) / 1e4 / sec, 1)
      diag("leg_ext_cores")(tag) = num(legExt, 2)
      (r, ext <= MaxExtCores && legExt <= MaxExtCores && !ioBusy(ioPct))
    }

    /** `leg`'s values. Samples repeat, up to [[LegSamples]] (or
      * [[LegSamplesDirty]] while fewer than two are quiet), until every
      * timed component's two best quiet samples agree within 1.5×; a
      * failed sample ends the leg. Each timed component reports its
      * own minimum over the quiet samples (over all when none is
      * quiet), so a spike in one component never rides in on another's
      * good run; each gauge reports its largest reading. */
    def run(leg: Leg): Seq[Double] = {
      if (leg.passes == Warmed) {
        System.err.println(s"BENCH WARM ${leg.name} (untimed)")
        val before = cachedMb()
        val sec = timed { sample(leg); () }
        diag("warm_info")(leg.name) = JObject("warm_sec" -> num(sec, 1),
          "cached_mb_before" -> num(before, 0),
          "cached_mb_after" -> num(cachedMb(), 0))
      }
      val nTimed = leg.keys.size - leg.gauges
      val (budget, dirtyBudget) =
        if (leg.passes == Once) (1, 1) else (LegSamples, LegSamplesDirty)
      def converged(ss: Seq[(Seq[Double], Boolean)]): Boolean =
        (0 until nTimed).forall { j =>
          val s = ss.filter(_._2).map(_._1(j)).sorted
          s.length >= 2 && s(1) <= s(0) * 1.5
        }
      var samples = Vector.empty[(Seq[Double], Boolean)]
      var done = false
      while (!done && (samples.size < budget ||
          (samples.count(_._2) < 2 && samples.size < dirtyBudget))) {
        val tag =
          if (samples.isEmpty) leg.name else s"${leg.name}#${samples.size + 1}"
        val s = quiet(tag)(sample(leg))
        val failed = s._1.take(nTimed).exists(_ < 0)
        if (!failed || samples.isEmpty) samples :+= s
        done = failed || converged(samples)
      }
      (0 until nTimed).foreach { j =>
        val tag = if (j == 0) leg.name else s"${leg.name}.${('a' + j).toChar}"
        diag("leg_samples")(tag) =
          JArray(samples.map(s => num(s._1(j), 1)).toList)
      }
      diag("leg_quiet")(leg.name) = JBool(samples.exists(_._2))
      val pool = if (samples.exists(_._2)) samples.filter(_._2) else samples
      def valid(xs: Seq[Double]) = xs.filter(_ >= 0)
      leg.keys.indices.map { j =>
        if (j < nTimed) valid(pool.map(_._1(j))).minOption.getOrElse(-1.0)
        else valid(samples.map(_._1(j))).maxOption.getOrElse(-1.0)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val etlX = sys.env.getOrElse("SPARK_GRAFT_ETL_X", "10").toInt
    val loadDeadline = System.nanoTime() + LoadWaitSec * 1000000000L
    while (load1m() > MaxLoad && System.nanoTime() < loadDeadline) {
      System.err.println(
        f"BENCH WAIT: 1m loadavg ${load1m()}%.2f > $MaxLoad%.1f, sleeping 10s")
      Thread.sleep(10000)
    }
    val loadOk = load1m() <= MaxLoad
    val loadStart = loadavg()

    val spark = newSession()
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).count()
      catch { case e: Throwable =>
        System.err.println(s"BENCH WARMUP FAIL $name: $e") }
    }
    // Two full measured passes, min-merged per query: ambient load
    // spikes on shared hosts last minutes, so a query's two samples
    // must be far apart in time. Each pass publishes its own times and
    // the external cores and loadavg it ran under.
    def measurePass(): (Map[String, Double], Double, String) = {
      // queries that persist intermediates (LSH signatures) would leak
      // a cached copy per execution: drop them between passes
      spark.catalog.clearCache()
      val (times, _, ext) = withExtCores(queries.map { case (name, fn) =>
        try name -> timed { fn(spark, sfDir).count(); () }
        catch {
          case e: Throwable =>
            System.err.println(s"BENCH FAIL $name: $e")
            name -> -1.0
        }
      }.toMap)
      (times, ext, loadavg())
    }
    val (p1, p1Ext, p1Load) = measurePass()
    val (p2, p2Ext, p2Load) = measurePass()
    spark.catalog.clearCache()
    val queryTimes = queries.map { case (name, _) =>
      val (a, b) = (p1(name), p2(name))
      name -> (if (a < 0) b else if (b < 0) a else math.min(a, b))
    }
    // The query passes age the SparkContext (scheduler, listener bus,
    // AQE state): a long pipeline in the same context read 4–5× its
    // clean time. Every leg sample gets a fresh context and keeps the
    // JVM's JIT warmth — on a cluster, each pipeline run is its own
    // application, as the reference's Glue jobs are.
    stop(spark)

    val notes = new Notes
    val runner = new Runner
    val table = legs(sfDir, etlX, notes)
    val results = queryTimes ++ table.flatMap { leg =>
      leg.keys.zip(
        if (legOn(only, leg)) runner.run(leg) else leg.keys.map(_ => -1.0))
    }
    val headline = total(results, table)
    val loadEnd = loadavg()
    def passJson(m: Map[String, Double]): JValue =
      JObject(m.toList.sortBy(_._1).map { case (k, v) => k -> JDouble(v) })
    val artifact = resultLine(results, headline, sfDir, loadOk, JDouble(_),
      List[JField]("loadavg_start" -> JString(loadStart),
        "loadavg_end" -> JString(loadEnd)) ++
        runner.diag.map { case (f, m) => f -> JObject(m.toList) } ++
        List("curation_batches" -> JArray(notes.curationBatches.toList),
          "commit_tput_attempts" -> notes.commitTputAttempts,
          "query_passes" -> JObject("p1" -> passJson(p1),
            "p2" -> passJson(p2), "p1_ext_cores" -> num(p1Ext, 2),
            "p2_ext_cores" -> num(p2Ext, 2),
            "p1_loadavg" -> JString(p1Load), "p2_loadavg" -> JString(p2Load))))
    println(resultLine(results, headline, sfDir, loadOk, fmtSec))
    // The artifact file is the machine-parseable source of truth: stdout
    // tails can truncate mid-stream.
    def write(path: String): Unit =
      try Files.write(Paths.get(path), (artifact + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"BENCH RESULT FILE WRITE FAIL $path: $e") }
    write(OutFile)
    // Full runs only: a filtered dev run must not add a round's artifact.
    if (only.isEmpty)
      try writeRoundCopy(new java.io.File("."), artifact + "\n")
      catch { case e: Throwable =>
        System.err.println(s"BENCH RESULT FILE WRITE FAIL round copy: $e") }
  }

  private val RoundFile = """(?:BENCH|bench_result)_r(\d+)(?:_.*)?\.json""".r

  /** Writes `text` to a per-round copy in `dir` that no later run
    * clobbers: `bench_result_r<N>.json`, N one past the highest round a
    * `BENCH_r<N>*.json` or `bench_result_r<N>*.json` there names. The
    * file is created new; an existing one is never overwritten. */
  private[graft] def writeRoundCopy(dir: java.io.File,
      text: String): java.io.File = {
    val seen = Option(dir.listFiles()).toSeq.flatten.map(_.getName)
      .collect { case RoundFile(n) => n.toInt }
    val f = new java.io.File(dir,
      f"bench_result_r${seen.maxOption.getOrElse(0) + 1}%02d.json")
    Files.write(f.toPath, text.getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    f
  }
}
