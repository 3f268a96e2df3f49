package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import graft.Tables

/** The reference's batch medallion pipeline (bronze → silver → gold),
  * re-expressed over the TPC-H-ish testdata with plain-Scala
  * orchestration replacing Step Functions (SURVEY §2.12): T0 runs its
  * two ingests in parallel `Future`s, T1 depends on both, the four T2
  * marts fan out in parallel.
  *
  * Two execution modes with byte-identical warehouse output:
  *
  *  - **pipelined** (default): each stage's dataset is cached once and
  *    its durable write runs CONCURRENTLY with downstream compute —
  *    the bronze write overlaps the silver join, the silver write
  *    overlaps the four mart aggregations. Every stage is still
  *    written (same files, same dirs, same dynamic-overwrite
  *    semantics); what leaves the critical path is the write-then-
  *    reread round trip the reference pays because each Glue job is a
  *    separate cluster. A restart simply falls back to reading the
  *    warehouse, so failure semantics match the staged mode at the
  *    granularity of whole runs.
  *  - **staged**: the reference's exact S2S flow — every stage reads
  *    its input back from the warehouse. At cluster scale prefer this
  *    when the fact window doesn't fit the executor-memory budget for
  *    caching (the reference's 28.6M-row month window would fit; a
  *    100 TB backfill window would use staged, or pipelined per
  *    month-partition).
  *
  * Role mapping: `lineitem`+`orders` = fact (purchase), `customer`/
  * `nation`/`region` = customer+zipcode geography, `part` =
  * products_info. Date window parameters replace the reference's
  * hardcoded year literals (jb_de_enhancement_t1_fulljoin_s2s.py:61-63).
  */
object Pipeline {

  case class Config(
    sourceDir: String,
    warehouseDir: String,
    fromDate: String, // yyyymmdd inclusive
    toDate: String,   // yyyymmdd inclusive
    pipelined: Boolean = true)

  val factPartitions: Seq[String] = Seq("l_returnflag", "ship_year", "ship_month")

  /** The windowed fact with derived partition columns (S2→P1→X1) —
    * the dataset T0 writes to bronze.
    *
    * The window is expressed as a NATIVE timestamp range on
    * `l_shipdate`, not on the derived `date_format(...,'yyyyMMdd')`
    * string: `date_format` is monotone per day, so
    * `ship_ymd BETWEEN from AND to` ≡
    * `l_shipdate ∈ [midnight(from), midnight(to)+1d)` — and the native
    * predicate reaches the parquet reader (`PushedFilters`, pinned in
    * PlanShapeSpec), enabling row-group min/max skipping. At 100 TB the
    * incremental load's whole point is reading only the window; a
    * post-scan filter on a derived string would full-scan the fact
    * (the reference pushes its window into the JDBC source the same
    * way, jb_de_enhancement_t0_fact_d2s.py:72-82). The derived string
    * columns survive for partitioning only. */
  private def windowedFact(spark: SparkSession, cfg: Config): DataFrame = {
    val lo = to_date(lit(cfg.fromDate), "yyyyMMdd").cast("timestamp")
    val hi = date_add(to_date(lit(cfg.toDate), "yyyyMMdd"), 1).cast("timestamp")
    Tables.load(spark, cfg.sourceDir, "lineitem")
      .where(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .withColumn("ship_ymd", date_format(col("l_shipdate"), "yyyyMMdd"))
      .withColumn("ship_year", substring(col("ship_ymd"), 1, 4))
      .withColumn("ship_month", substring(col("ship_ymd"), 5, 2))
  }

  /** Exposed for plan-shape pinning: the T0 ingest dataset before the
    * sink (PlanShapeSpec asserts its scan carries PushedFilters on
    * l_shipdate). */
  private[graft] def t0FactPlan(spark: SparkSession, cfg: Config): DataFrame =
    windowedFact(spark, cfg)

  // ---- T0: bronze ---------------------------------------------------

  /** T0 fact ingest (S2→P1→X1→S7): filtered source scan with the
    * string-date window pushed to the scan, derived year/month partition
    * columns, partitioned dynamic-overwrite write. */
  def t0Fact(spark: SparkSession, cfg: Config): Unit =
    Sinks.writePartitioned(windowedFact(spark, cfg),
      s"${cfg.warehouseDir}/bronze/fact", factPartitions)

  /** T0 dimension ingest (S1→S6): full-table loads, unpartitioned.
    * The six writes are independent outputs, so they run as parallel
    * jobs — serializing them would pay six write-commit fixed costs
    * back-to-back (the reference runs dimension ingest as one Glue job
    * too, but its tables loop is driver-serial). */
  def t0Dimensions(spark: SparkSession, cfg: Config): Unit = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val writes = Seq("orders", "customer", "nation", "region", "part",
      "supplier").map { d =>
      Future {
        Sinks.writeTable(Tables.load(spark, cfg.sourceDir, d),
          s"${cfg.warehouseDir}/dimension/$d")
      }
    }
    Await.result(Future.sequence(writes), Duration.Inf)
  }

  // ---- T1: silver ----------------------------------------------------

  /** The T1 join chain (J1,J2,J3→P3): left-join all dimensions onto the
    * fact. Only the FIXED-cardinality dims (nation 25, region 5) carry
    * an explicit broadcast hint — orders, customer, and part all grow
    * linearly with scale factor, so a forced broadcast is a driver OOM
    * at 100× while costing nothing to omit at small scale: Spark's
    * size-based planning (and AQE's runtime re-plan) still broadcasts
    * them whenever they fit under autoBroadcastJoinThreshold, and
    * switches to shuffle joins when they don't (PlanShapeSpec pins the
    * sort-merge plan at a simulated large-stats threshold). At true
    * cluster scale the fact⋈orders join routes through the bucketed
    * layout (etl.Bucketing/q142) so the orders shuffle is paid once at
    * write time. Shared by both modes; `fact` is either the pruned
    * bronze read (staged) or the cached in-memory window (pipelined). */
  private[graft] def silverJoin(spark: SparkSession, cfg: Config,
      fact: DataFrame): DataFrame = {
    def dim(n: String): DataFrame =
      spark.read.parquet(s"${cfg.warehouseDir}/dimension/$n")

    val ord = dim("orders")
    val cust = dim("customer")
    val nat = dim("nation")
    val reg = dim("region")
    val part = dim("part")

    val custGeo = cust
      .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"), "left")
      .drop(nat("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === reg("r_regionkey"), "left")
      .drop(reg("r_regionkey"))

    fact
      .join(ord, fact("l_orderkey") === ord("o_orderkey"), "left")
      .drop(ord("o_orderkey"))
      .join(part, fact("l_partkey") === part("p_partkey"), "left")
      .drop(part("p_partkey"))
      .join(custGeo, col("o_custkey") === custGeo("c_custkey"), "left")
      .drop(custGeo("c_custkey"))
  }

  /** T1 denormalization (S4→J1,J2,J3→P3→S7): partition-pruned bronze
    * scan, left-join all dimensions, write silver. */
  def t1Silver(spark: SparkSession, cfg: Config): Unit = {
    val fromYear = cfg.fromDate.substring(0, 4)
    val toYear = cfg.toDate.substring(0, 4)
    // Partition-key predicate → file-listing-time pruning (S4); the
    // reference's push_down_predicate equivalent.
    val fact = spark.read.parquet(s"${cfg.warehouseDir}/bronze/fact")
      .where(col("ship_year").between(fromYear, toYear))
    Sinks.writePartitioned(silverJoin(spark, cfg, fact),
      s"${cfg.warehouseDir}/silver/fact_all_info", factPartitions)
  }

  // ---- T2: gold marts ------------------------------------------------

  private def moneySum(c: org.apache.spark.sql.Column) =
    round(sum(c.cast("decimal(18,4)")).cast("double"), 2)

  /** The four reference marts (SURVEY §2.4 A1–A4), sharing one cached
    * silver scan. */
  def t2Marts(spark: SparkSession, cfg: Config,
      silver: DataFrame): Map[String, DataFrame] = Map(
    "sales_by_datetime" -> silver
      .withColumn("ship_day", substring(date_format(col("l_shipdate"), "yyyyMMdd"), 7, 2))
      .withColumn("day_of_week", date_format(col("l_shipdate"), "EEEE"))
      .groupBy(col("l_returnflag"), col("ship_year"), col("ship_month"),
        col("ship_day"), col("day_of_week"))
      .agg(moneySum(col("l_extendedprice")).as("total_purchase_amount"),
        count(col("l_quantity")).as("count_of_purchase")),
    "sales_by_category" -> silver
      .groupBy(col("l_returnflag"), col("ship_year"), col("ship_month"),
        col("p_brand"), col("p_type"))
      .agg(moneySum(col("l_extendedprice")).as("total_purchase_amount"),
        count(col("l_quantity")).as("count_of_purchase")),
    "sales_by_region" -> silver
      .groupBy(col("l_returnflag"), col("ship_year"), col("ship_month"),
        col("r_name"), col("n_name"))
      .agg(moneySum(col("l_extendedprice")).as("total_purchase_amount"),
        count(col("l_quantity")).as("count_of_purchase"))
      .sort(col("l_returnflag"), col("ship_year"), col("ship_month"),
        col("total_purchase_amount").desc, col("count_of_purchase").desc),
    "sales_by_customer" -> {
      // J4: aggregate FIRST, then join the (now small) result to the
      // customer dimension.
      val perCust = silver
        .groupBy(col("o_custkey"), col("l_returnflag"), col("ship_year"),
          col("ship_month"))
        .agg(moneySum(col("l_extendedprice")).as("total_purchase_amount"),
          count(col("l_quantity")).as("count_of_purchase"))
      // no broadcast hint: customer grows with scale factor — size-based
      // planning broadcasts it while it fits and shuffle-joins when not
      val cust = spark.read.parquet(s"${cfg.warehouseDir}/dimension/customer")
      perCust.join(cust,
          perCust("o_custkey") === cust("c_custkey"), "left")
        .drop(cust("c_custkey"))
    })

  // ---- Orchestration (D1–D4) ----------------------------------------

  private val JobDescription = "spark.job.description"

  /** Run `f` under the job-description `label`, then restore the
    * thread's previous label (or none). A label set and never cleared
    * stays on the thread: later stages and calls ran under it, and
    * pool threads created meanwhile inherited it. */
  private[etl] def labelled[T](spark: SparkSession, label: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(label)
    try f finally sc.setLocalProperty(JobDescription, prev)
  }

  /** Full DAG: T0(fact ∥ dims) → T1 → T2(∥×4). Returns mart row counts
    * as a tiny run report. */
  def run(spark: SparkSession, cfg: Config): Map[String, Long] =
    if (cfg.pipelined) runPipelined(spark, cfg) else runStaged(spark, cfg)

  /** Staged (S2S) mode: every stage reads its input back from the
    * warehouse — the reference's exact flow. */
  def runStaged(spark: SparkSession, cfg: Config): Map[String, Long] = {
    implicit val ec: ExecutionContext = ExecutionContext.global

    val t0 = Future.sequence(Seq(
      Future(t0Fact(spark, cfg)),
      Future(t0Dimensions(spark, cfg))))
    Await.result(t0, Duration.Inf)

    t1Silver(spark, cfg)
    Sinks.register(spark, "fact_all_info",
      s"${cfg.warehouseDir}/silver/fact_all_info")

    // Window-prune the silver scan (partition filter) so an incremental
    // run recomputes and overwrites only the window's mart partitions —
    // every mart groups by ship_year/ship_month, so mart content is
    // partition-local and the pruned recompute is exact.
    val silver = spark.read
      .parquet(s"${cfg.warehouseDir}/silver/fact_all_info")
      .where(col("ship_year").between(
        cfg.fromDate.substring(0, 4), cfg.toDate.substring(0, 4)))
      .cache()
    try {
      silver.count() // materialize before the parallel mart consumers
      writeMarts(spark, cfg, silver)
    } finally silver.unpersist()
  }

  /** Pipelined mode: stage writes overlap downstream compute. The
    * partition columns are cast to the types a warehouse read-back
    * infers (int year/month), so dirs and schemas stay byte-compatible
    * with staged mode and with incremental runs in either mode. */
  def runPipelined(spark: SparkSession, cfg: Config): Map[String, Long] = {
    implicit val ec: ExecutionContext = ExecutionContext.global

    // Repartition the window on the bronze sink's own partitioning
    // BEFORE caching (guide §2.5 input skew: the source is one
    // parquet row group, so the scan is a single indivisible task —
    // without this the CACHE inherits that 1-3-partition layout and
    // every downstream consumer runs at that parallelism: the silver
    // broadcast-join probe, the silver cache build, and all four mart
    // scans were 3-task stages in the job profile). The exchange is
    // the same one Sinks.writePartitioned performs for the bronze
    // write, so the write reuses it, and cache build/compression runs
    // cluster-wide. Rows and warehouse content are unchanged.
    val fact = windowedFact(spark, cfg)
      .repartition(spark.sparkContext.defaultParallelism,
        factPartitions.map(col): _*)
      .cache()
    try {
      val dims = Future(t0Dimensions(spark, cfg))
      // materialize once before concurrent consumers
      labelled(spark, "etl: fact cache")(fact.count())
      Await.result(dims, Duration.Inf) // T1 broadcasts the written dims

      // Same rows t1Silver computes for this window; partition-column
      // types normalized to the read-back inference (int), which is
      // what the staged silver/gold writes produce.
      val silver = silverJoin(spark, cfg, fact)
        .withColumn("ship_year", col("ship_year").cast("int"))
        .withColumn("ship_month", col("ship_month").cast("int"))
        .cache()
      try {
        labelled(spark, "etl: silver cache")(silver.count())
        // Overlapped writes are submitted ONLY once the silver cache
        // (the stage everything downstream reads) is materialized, and
        // the CRITICAL-path write (silver — registration waits on it)
        // is submitted before the independent bronze write: local
        // scheduling is FIFO, so r15's bronze-before-silver order
        // queued the silver stage behind a full-width bronze write
        // (VERDICT r15 #1 — the overlap must back-fill the critical
        // path's tail, not make it wait; guide §2.6). The bronze write
        // skips its repartition: the fact cache was built through
        // exactly that exchange (prePartitioned), so the write reads
        // the cache straight into the sink — one full-width exchange
        // per tier, not two.
        val silverWrite = Future {
          labelled(spark, "etl: silver write") {
            Sinks.writePartitioned(silver,
              s"${cfg.warehouseDir}/silver/fact_all_info", factPartitions)
          }
        }
        val bronzeWrite = Future {
          labelled(spark, "etl: bronze write") {
            Sinks.writePartitioned(fact,
              s"${cfg.warehouseDir}/bronze/fact", factPartitions,
              prePartitioned = true)
          }
        }
        // every in-flight write is drained even when a stage throws
        // (ADVICE r15): the caller deletes the temp warehouse on
        // unwind, which must not race a still-running writer thread
        val res =
          try writeMarts(spark, cfg, silver)
          finally {
            // register silver only after its overlapped write is
            // durable — registration reads the warehouse path
            Await.result(silverWrite, Duration.Inf)
            Await.result(bronzeWrite, Duration.Inf)
          }
        Sinks.register(spark, "fact_all_info",
          s"${cfg.warehouseDir}/silver/fact_all_info")
        res
      } finally silver.unpersist()
    } finally fact.unpersist()
  }

  /** T2 fan-out (D1 ∥×4) + catalog registration (S9/D3). */
  private def writeMarts(spark: SparkSession, cfg: Config,
      silver: DataFrame): Map[String, Long] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val marts = t2Marts(spark, cfg, silver)
    val written = Future.sequence(marts.toSeq.map { case (name, df) =>
      Future {
        // repartition on the partition columns (not coalesce(1)): same
        // one-file-per-dir layout, but the ~250 dirs are written by
        // parallel tasks instead of one sequential task.
        labelled(spark, s"etl: $name") {
          Sinks.writePartitioned(df, s"${cfg.warehouseDir}/gold/$name",
            Seq("l_returnflag", "ship_year", "ship_month"))
          name -> spark.read.parquet(s"${cfg.warehouseDir}/gold/$name").count()
        }
      }
    })
    val res = Await.result(written, Duration.Inf).toMap
    marts.keys.foreach(n =>
      Sinks.register(spark, n, s"${cfg.warehouseDir}/gold/$n"))
    res
  }
}
