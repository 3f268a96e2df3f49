package graft.etl

import graft.etl.Medallion.{DirTier, Full, LakeTier, Month, Star, Window,
  runDag}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField,
  StructType}

/** The reference's OWN retail star schema on the [[Medallion]] chain —
  * the golden end-to-end path (SURVEY §5.2.2); [[Pipeline]] runs the
  * same chain over the TPC-H-ish testdata for oracle checking.
  *
  * Sources are the reference's seed CSVs (customer / products_info /
  * zipcode; README.md:224-314 DDL) plus a synthesized purchase fact —
  * the original 28.6M-row parquet is an absent large blob, so
  * [[synthPurchase]] generates a deterministic fact honoring the DDL's
  * contracts (FIXTURES.md A.4): composite product keys drawn from
  * products_info with a small miss rate, nullable customer_id,
  * `yyyymmdd`/`HH` STRING dates and times, long-tailed amounts.
  *
  * Semantics mirrored from the reference scripts:
  *  - customer ⟕ zipcode on residence = short_zipcode, dropping the
  *    join key (jb_de_enhancement_t1_fulljoin_s2s.py:53-55) — the
  *    21 duplicated short_zipcodes FAN OUT (19,383 → 20,239 rows;
  *    RetailGoldenSpec pins it);
  *  - purchase ⟕ products_info on the 4-column composite key, dup keys
  *    dropped (t1_fulljoin_s2s.py:74-82);
  *  - the four T2 marts' exact grouping keys, aggregate aliases,
  *    column order, and the residence mart's sort
  *    (t2_*_s2s.py:55-86) — including salesbycustomer aggregating the
  *    RAW purchase table, not the silver join (t2_salesbycustomer
  *    _s2s.py:54-56);
  *  - the weekday UDF with the reference's exact fallback literal
  *    (functions.Udfs, U1).
  *
  * One deliberate upgrade: `sum(amount)` runs through DECIMAL(18,4)
  * and rounds once (the pattern every TPC-H mart uses) instead of a raw
  * double sum — a double Σ is shuffle-order-dependent, which at 100 TB
  * means two runs of the same mart can differ in the last ulp.
  */
object RetailPipeline {

  val customerSchema: StructType = StructType(Seq(
    StructField("customer_id", StringType),
    StructField("sex", StringType),
    StructField("age_group", StringType),
    StructField("residence", StringType)))

  val productsSchema: StructType = StructType(Seq(
    StructField("affiliate", StringType),
    StructField("division_cd", StringType),
    StructField("main_category_cd", StringType),
    StructField("sub_category_cd", StringType),
    StructField("main_category_desc", StringType),
    StructField("sub_category_desc", StringType)))

  val zipcodeSchema: StructType = StructType(Seq(
    StructField("zipcode", StringType),
    StructField("province_city", StringType),
    StructField("province_city_eng", StringType),
    StructField("city_county", StringType),
    StructField("city_county_eng", StringType),
    StructField("eup_myeon", StringType),
    StructField("eup_myeon_eng", StringType),
    StructField("road_nm", StringType),
    StructField("road_nm_eng", StringType),
    StructField("short_zipcode", StringType)))

  def customer(spark: SparkSession, dataDir: String): DataFrame =
    Sources.csv(spark, s"$dataDir/customer.csv", customerSchema)

  def productsInfo(spark: SparkSession, dataDir: String): DataFrame =
    Sources.csv(spark, s"$dataDir/products_info.csv", productsSchema)

  def zipcode(spark: SparkSession, dataDir: String): DataFrame =
    Sources.csv(spark, s"$dataDir/zipcode.csv", zipcodeSchema)

  /** Deterministic purchase fact per the DDL + FIXTURES.md A.4:
    * every column derives from xxhash64(id, salt) — no RNG state, so
    * any executor count reproduces identical bytes. ~1/50 product keys
    * miss products_info (left-join misses), ~1/40 customer_ids are
    * NULL (anonymous purchases), dates span 2014-01-01..2015-12-31 as
    * `yyyymmdd` STRINGS, amounts are long-tailed (1% × 50 spike). */
  def synthPurchase(spark: SparkSession, products: DataFrame,
      nRows: Long, nCustomers: Int = 19383): DataFrame = {
    val nProducts = products.count()
    val prodIdx = products
      .withColumn("pidx",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("affiliate", "division_cd", "main_category_cd",
            "sub_category_cd")) - 1)
      .select(col("pidx"), col("affiliate"), col("division_cd"),
        col("main_category_cd"), col("sub_category_cd"))

    def h(salt: Int) = xxhash64(col("id"), lit(salt))

    val base = spark.range(nRows)
      // ~2% of keys deliberately miss products_info: pidx == nProducts
      // maps to no product row and becomes the synthetic miss key below
      .withColumn("pidx",
        when(pmod(h(1), lit(50)) === 0, lit(nProducts))
          .otherwise(pmod(h(2), lit(nProducts))).cast("int"))
      .withColumn("customer_id",
        when(pmod(h(3), lit(40)) === 0, lit(null).cast("string"))
          .otherwise(lpad(
            (pmod(h(4), lit(nCustomers)) + 1).cast("string"), 5, "0")))
      .withColumn("purchase_date", date_format(
        date_add(to_date(lit("2014-01-01")),
          pmod(h(5), lit(730)).cast("int")), "yyyyMMdd"))
      .withColumn("purchase_time",
        lpad(pmod(h(6), lit(24)).cast("string"), 2, "0"))
      .withColumn("store_cd",
        lpad(pmod(h(7), lit(100)).cast("string"), 3, "0"))
      .withColumn("receipt_no", concat(lit("R"),
        lpad(col("id").cast("string"), 10, "0")))
      .withColumn("amount",
        round((pmod(h(8), lit(99000)) + 1000).cast(DoubleType) / 100.0 *
          when(pmod(h(9), lit(100)) === 0, 50.0).otherwise(1.0), 2))

    base.join(broadcast(prodIdx), Seq("pidx"), "left")
      .select(
        // misses get a composite key absent from products_info
        coalesce(col("affiliate"), lit("Z")).as("affiliate"),
        col("receipt_no"),
        coalesce(col("division_cd"), lit("99")).as("division_cd"),
        coalesce(col("main_category_cd"), lit("9999"))
          .as("main_category_cd"),
        coalesce(col("sub_category_cd"), lit("Z999999"))
          .as("sub_category_cd"),
        col("customer_id"), col("store_cd"),
        col("purchase_date"), col("purchase_time"), col("amount"))
      // T0's derived-at-ingest partition columns
      // (jb_de_enhancement_t0_fact_d2s.py:86-87)
      .withColumn("purchase_year", substring(col("purchase_date"), 1, 4))
      .withColumn("purchase_month", substring(col("purchase_date"), 5, 2))
  }

  /** customer ⟕ zipcode (T1's dimension enrich; the duplicated
    * short_zipcodes fan out — preserved, exactly as the reference). */
  def customerWithZipcode(cust: DataFrame, zip: DataFrame): DataFrame =
    cust.join(zip, cust("residence") === zip("short_zipcode"), "left")
      .drop(zip("short_zipcode"))

  /** T1 silver: purchase ⟕ products_info (4-col composite key) ⟕
    * (customer ⟕ zipcode), duplicate join keys dropped. */
  def silver(purchase: DataFrame, products: DataFrame,
      custZip: DataFrame): DataFrame = {
    // prefix the product side's columns before joining: the fact can
    // share attribute lineage with products_info (synthPurchase draws
    // its composite keys from it), and a drop-after-join on shared
    // attribute ids is ambiguous
    val prod = broadcast(products.columns.foldLeft(products)((d, c) =>
      d.withColumnRenamed(c, s"pi_$c")))
    val withProduct = purchase.join(prod,
        purchase("affiliate") === col("pi_affiliate") &&
          purchase("division_cd") === col("pi_division_cd") &&
          purchase("main_category_cd") === col("pi_main_category_cd") &&
          purchase("sub_category_cd") === col("pi_sub_category_cd"),
        "left")
      .drop("pi_affiliate", "pi_division_cd", "pi_main_category_cd",
        "pi_sub_category_cd")
      .withColumnRenamed("pi_main_category_desc", "main_category_desc")
      .withColumnRenamed("pi_sub_category_desc", "sub_category_desc")
    // both join sides are dimension-sized (catalog / customer master)
    // vs the 28.6M-row fact: broadcast them EXPLICITLY (guide §3.1) so
    // the silver join never re-exchanges the fact — which also makes
    // the fact's partitioning a provable invariant of the silver frame
    // (the chain's prePartitioned silver write depends on it:
    // [[Medallion.Star.silverKeepsFactLayout]]).
    withProduct.join(broadcast(custZip),
        withProduct("customer_id") === custZip("customer_id"), "left")
      .drop(custZip("customer_id"))
  }

  private def amountAggs(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(
        round(sum(col("amount").cast("decimal(18,4)")).cast("double"), 2)
          .as("total_purchase_amount"),
        count(col("amount")).as("count_of_purchase"))

  /** The four T2 marts, keyed by the reference's mart names. */
  def marts(purchase: DataFrame, silverDf: DataFrame,
      custZip: DataFrame): Map[String, DataFrame] = Map(
    "mart_salesbydatetime" -> {
      val byTime = amountAggs(
        silverDf.withColumn("purchase_day",
          substring(col("purchase_date"), 7, 2)),
        Seq("affiliate", "purchase_year", "purchase_month",
          "purchase_day", "purchase_time"))
      byTime
        .withColumn("day_of_week", graft.functions.Udfs.dayOfWeekExpr(
          col("purchase_year"), col("purchase_month"), col("purchase_day")))
        .select(col("affiliate"), col("purchase_year"),
          col("purchase_month"), col("purchase_day"), col("day_of_week"),
          col("purchase_time"), col("total_purchase_amount"),
          col("count_of_purchase"))
    },
    "mart_salesbyageproducts" -> amountAggs(silverDf,
      Seq("affiliate", "purchase_year", "purchase_month", "age_group",
        "division_cd", "main_category_desc", "sub_category_desc")),
    "mart_salesbyresidence" -> amountAggs(silverDf,
      Seq("affiliate", "purchase_year", "purchase_month",
        "province_city", "city_county"))
      .sort(col("affiliate"), col("purchase_year"), col("purchase_month"),
        col("total_purchase_amount").desc, col("count_of_purchase").desc),
    // aggregates the RAW fact (not silver), THEN joins the enriched
    // customer dim — the reference's J4 aggregate-then-join
    "mart_salesbycustomer" -> {
      val perCust = amountAggs(purchase,
        Seq("customer_id", "affiliate", "purchase_year", "purchase_month"))
      perCust.join(custZip,
          perCust("customer_id") === custZip("customer_id"), "left")
        .drop(custZip("customer_id"))
    })

  /** The initial load into hive-partitioned directories: bronze →
    * silver purchase_all_info → four gold marts, each mart registered
    * persistently (`spark.table(mart)` in any session of the same
    * catalog). Returns each mart's rows as its write counted them. */
  def run(spark: SparkSession, dataDir: String, warehouseDir: String,
      nPurchaseRows: Long): Map[String, Long] =
    runDag(spark, new Retail(spark, dataDir, nPurchaseRows), Full,
      DirTier(warehouseDir))

  /** The reference's monthly re-run (document/eventbridge.md:12): ONE
    * month of the fact re-ingested, only that month's partitions
    * overwritten in each tier, and the marts recomputed for the month
    * alone — every mart groups by year/month, so that IS the mart
    * delta. Untouched months are never rewritten or read. Returns each
    * mart's rows for the month as its write counted them. */
  def runIncremental(spark: SparkSession, dataDir: String,
      warehouseDir: String, nPurchaseRows: Long,
      year: String, month: String): Map[String, Long] =
    runDag(spark, new Retail(spark, dataDir, nPurchaseRows),
      Month(year, month), DirTier(warehouseDir))

  /** [[run]] with every table a [[graft.format.GraftTable]] (VERDICT
    * r9 #8): one atomic overwrite per table, zone-map stats on the
    * month key — same dataflow and rows, the storage contract is what
    * changes. Returns each mart's rows as its commit recorded them
    * (`output_rows`), not by a re-scan. */
  def runLake(spark: SparkSession, dataDir: String, warehouseDir: String,
      nPurchaseRows: Long): Map[String, Long] =
    runDag(spark, new Retail(spark, dataDir, nPurchaseRows), Full,
      LakeTier(warehouseDir))

  /** [[runIncremental]] on the lake tier: one atomic
    * [[graft.format.GraftTable.replaceWhere]] per table — the
    * format-native restatement of the reference's dynamic partition
    * overwrite (`jb_de_enhancement_t0_fact_d2s.py:23`), zone maps
    * confining the COW audit to the month's files. Returns each mart's
    * rows for the month as its commit recorded them. */
  def runIncrementalLake(spark: SparkSession, dataDir: String,
      warehouseDir: String, nPurchaseRows: Long,
      year: String, month: String): Map[String, Long] =
    runDag(spark, new Retail(spark, dataDir, nPurchaseRows),
      Month(year, month), LakeTier(warehouseDir))

  /** The retail star on the [[Medallion]] chain: the synthesized
    * purchase fact over the seed CSVs under `dataDir`, both dimensions
    * broadcast into silver. */
  private final class Retail(spark: SparkSession, dataDir: String,
      nRows: Long) extends Star {
    val label = "retail"
    val factName = "purchase"
    val partCols = Seq("affiliate", "purchase_year", "purchase_month")
    val silverKeepsFactLayout = true
    private val products = productsInfo(spark, dataDir)
    private lazy val custZip = customerWithZipcode(
      customer(spark, dataDir), zipcode(spark, dataDir))
    def fact(window: Window): DataFrame =
      slice(synthPurchase(spark, products, nRows), window)
    def silver(fact: DataFrame): DataFrame =
      RetailPipeline.silver(fact, products, custZip)
    def marts(fact: DataFrame, silver: DataFrame): Map[String, DataFrame] =
      RetailPipeline.marts(fact, silver, custZip)
  }
}
