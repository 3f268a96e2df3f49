package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl.RetailPipeline

/** Golden end-to-end over the reference's OWN seed data
  * (the CSVs under [[graft.operators.RetailQueries.DataDir]]) + the
  * FIXTURES.md-contract purchase fact — SURVEY §5.2.2. The
  * retail-specific traps (zipcode fan-out, nullable customer_id,
  * null-residence customers, product-key misses, weekday naming) are
  * asserted on the real reference rows, not by analogy on the
  * TPC-H-ish testdata. Each test cancels where those CSVs are absent. */
class RetailGoldenSpec extends AnyFunSuite {
  import TestSpark.{spark, assumeRetailSeedCsvs}

  private val dataDir = graft.operators.RetailQueries.DataDir
  private val NPurchase = 100000L

  private lazy val cust = RetailPipeline.customer(spark, dataDir).cache()
  private lazy val zip = RetailPipeline.zipcode(spark, dataDir).cache()
  private lazy val products =
    RetailPipeline.productsInfo(spark, dataDir).cache()
  private lazy val custZip =
    RetailPipeline.customerWithZipcode(cust, zip).cache()
  private lazy val purchase =
    RetailPipeline.synthPurchase(spark, products, NPurchase).cache()

  test("seed CSVs load with the documented profiles") {
    assumeRetailSeedCsvs()
    assert(cust.count() === 19383L)
    assert(cust.where(col("residence").isNull).count() === 178L,
      "empty residence strings must read as NULL")
    assert(products.count() === 4386L)
    assert(zip.count() === 473L)
    assert(zip.select(col("short_zipcode")).distinct().count() === 452L,
      "the 21 duplicated short_zipcodes must be preserved, not deduped")
    // zero-padded ids stay strings: '00001' would be destroyed by an
    // int read
    assert(cust.agg(min(col("customer_id"))).head.getString(0) === "00001")
  }

  test("customer ⟕ zipcode fans out exactly as the reference: " +
      "19,383 customers → 20,239 joined rows") {
    assumeRetailSeedCsvs()
    assert(custZip.count() === 20239L)
    // every customer survives the left join; null-residence rows keep
    // null geography
    assert(custZip.select(col("customer_id")).distinct().count() === 19383L)
    assert(custZip.where(col("residence").isNull &&
      col("province_city").isNull).count() === 178L)
  }

  test("T1 silver preserves left-join row semantics: fan-out rows from " +
      "duplicated zipcodes, null dims for product misses and " +
      "anonymous purchases") {
    assumeRetailSeedCsvs()
    val silverDf =
      RetailPipeline.silver(purchase, products, custZip).cache()
    // expected rows = purchases + one extra per purchase whose customer
    // resides in a duplicated short_zipcode (computed independently)
    val dupCodes = zip.groupBy(col("short_zipcode")).count()
      .where(col("count") > 1).select(col("short_zipcode"))
    val dupCustomers = cust.join(dupCodes,
      cust("residence") === dupCodes("short_zipcode")).select("customer_id")
    val extra = purchase.join(dupCustomers, Seq("customer_id")).count()
    assert(silverDf.count() === NPurchase + extra)
    assert(extra > 0L, "fixture must exercise the fan-out")
    // product misses keep their purchase row, null descriptions
    val misses = silverDf.where(col("affiliate") === "Z")
    assert(misses.count() > 0L)
    assert(misses.where(col("main_category_desc").isNotNull).count() === 0L)
    // anonymous purchases survive with null customer dims
    val anon = silverDf.where(col("customer_id").isNull)
    assert(anon.count() > 0L)
    assert(anon.where(col("sex").isNotNull).count() === 0L)
    silverDf.unpersist()
    ()
  }

  test("monthly incremental re-run rebuilds exactly the window's " +
      "partitions — idempotent results, untouched months' files " +
      "never rewritten") {
    assumeRetailSeedCsvs()
    val wh = java.nio.file.Files
      .createTempDirectory("graft_retail_inc_").toString
    try {
      RetailPipeline.run(spark, dataDir, wh, NPurchase)
      def monthRows(name: String): Seq[String] =
        spark.read.parquet(s"$wh/gold/$name")
          .where(col("purchase_year") === "2014" &&
            col("purchase_month") === "11")
          .collect().map(_.toString).sorted.toSeq
      def filesOfOtherMonths(): Set[String] = {
        def walk(f: java.io.File): Iterator[java.io.File] =
          if (f.isDirectory)
            Option(f.listFiles()).iterator.flatten.flatMap(walk)
          else Iterator(f)
        walk(new java.io.File(wh))
          .map(_.getPath)
          .filter(p => p.contains("purchase_year=") &&
            !p.contains("purchase_year=2014/purchase_month=11"))
          .toSet
      }
      val beforeTime = monthRows("mart_salesbydatetime")
      val beforeCust = monthRows("mart_salesbycustomer")
      val beforeTotal =
        spark.read.parquet(s"$wh/silver/purchase_all_info").count()
      val untouchedBefore = filesOfOtherMonths()
      assert(beforeTime.nonEmpty && untouchedBefore.nonEmpty)

      RetailPipeline.runIncremental(spark, dataDir, wh, NPurchase,
        "2014", "11")
      // the window rebuild reproduces the full run bit-for-bit …
      assert(monthRows("mart_salesbydatetime") === beforeTime)
      assert(monthRows("mart_salesbycustomer") === beforeCust)
      assert(spark.read.parquet(s"$wh/silver/purchase_all_info")
        .count() === beforeTotal)
      // … and every file outside the month survives by identity:
      // dynamic overwrite must not have touched other partitions
      assert(filesOfOtherMonths() === untouchedBefore,
        "files outside the reloaded month must not be rewritten")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(wh)).deleteRecursively()
      ()
    }
  }

  test("full DAG writes the four marts with the reference's shapes " +
      "and the weekday UDF's exact naming") {
    assumeRetailSeedCsvs()
    val wh = java.nio.file.Files
      .createTempDirectory("graft_retail_wh_").toString
    try {
      val counts = RetailPipeline.run(spark, dataDir, wh, NPurchase)
      assert(counts.keySet === Set("mart_salesbydatetime",
        "mart_salesbyageproducts", "mart_salesbyresidence",
        "mart_salesbycustomer"))
      assert(counts.values.forall(_ > 0L))

      val byTime = spark.table("mart_salesbydatetime")
      // column ORDER is part of the reference contract
      // (t2_salesbydatetime_s2s.py:82); partitionBy moves the partition
      // columns to the END on read-back, so compare the data columns
      assert(byTime.columns.toSeq ===
        Seq("purchase_day", "day_of_week", "purchase_time",
          "total_purchase_amount", "count_of_purchase",
          "affiliate", "purchase_year", "purchase_month"))
      // the reference's own doc-test: 2014-11-12 is a Wednesday
      val wed = byTime.where(col("purchase_year") === "2014" &&
        col("purchase_month") === "11" && col("purchase_day") === "12")
      assert(wed.count() > 0L)
      assert(wed.select(col("day_of_week")).distinct().collect()
        .map(_.getString(0)).toSeq === Seq("Wednesday"))

      // salesbycustomer keeps anonymous purchases as a NULL-id group
      val byCust = spark.table("mart_salesbycustomer")
      assert(byCust.where(col("customer_id").isNull).count() > 0L)
      // and its amounts roll up from the RAW fact (aggregate-then-join);
      // the zipcode fan-out then duplicates the aggregate row of every
      // customer residing in a duplicated code — the reference's exact
      // (surprising) semantics, reproduced and accounted for here
      val martTotal = byCust
        .agg(sum(col("total_purchase_amount").cast("decimal(18,4)")))
        .head.getDecimal(0)
      val perCust = purchase
        .groupBy(col("customer_id"), col("affiliate"),
          col("purchase_year"), col("purchase_month"))
        .agg(round(sum(col("amount").cast("decimal(18,4)"))
          .cast("double"), 2).as("t"))
      val dupCodes = zip.groupBy(col("short_zipcode")).count()
        .where(col("count") > 1).select(col("short_zipcode"))
      val dupCustomers = cust.join(dupCodes,
        cust("residence") === dupCodes("short_zipcode"))
        .select("customer_id")
      val factTotal = perCust
        .agg(sum(col("t").cast("decimal(18,4)"))).head.getDecimal(0)
      val dupExtra = perCust.join(dupCustomers, Seq("customer_id"))
        .agg(coalesce(sum(col("t").cast("decimal(18,4)")),
          lit(java.math.BigDecimal.ZERO).cast("decimal(18,4)")))
        .head.getDecimal(0)
      assert(martTotal === factTotal.add(dupExtra))

      // residence mart groups on zipcode geography from the fan-out join
      val byRes = spark.table("mart_salesbyresidence")
      assert(byRes.where(col("province_city").isNotNull).count() > 0L)

      // crawler-equivalent CROSS-SESSION semantics on the reference's
      // own path: a brand-new session (fresh temp-view registry, same
      // metastore) must see every mart by name with matching counts
      val fresh = spark.newSession()
      counts.foreach { case (name, n) =>
        assert(fresh.table(name).count() === n,
          s"$name must be visible from a fresh session")
      }
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(wh)).deleteRecursively()
    }
  }

  test("the LAKEHOUSE-tier DAG (every tier a GraftTable) lands marts " +
      "row-identical to the directory DAG, and the monthly " +
      "incremental replaceWhere matches the dynamic-overwrite rerun") {
    assumeRetailSeedCsvs()
    val whDir = java.nio.file.Files
      .createTempDirectory("retail_dirs_").toString
    val whLake = java.nio.file.Files
      .createTempDirectory("retail_lake_").toString
    try {
      RetailPipeline.run(spark, dataDir, whDir, NPurchase)
      RetailPipeline.runLake(spark, dataDir, whLake, NPurchase)
      // hive-partitioned read-back reorders partition columns to the
      // end AND type-infers their directory values ("08" → 8); the
      // lake table preserves the written strings. Compare under a
      // canonical column order with the partition keys cast.
      def norm(df: org.apache.spark.sql.DataFrame) = {
        val d = df
          .withColumn("purchase_year", col("purchase_year").cast("int"))
          .withColumn("purchase_month", col("purchase_month").cast("int"))
        d.select(d.columns.sorted.map(col): _*)
      }
      def dirsMart(n: String) =
        norm(spark.read.parquet(s"$whDir/gold/$n"))
      def lakeMart(n: String) =
        norm(graft.format.GraftTable
          .forPath(spark, s"$whLake/gold_$n").read())
      val mart = "mart_salesbydatetime"
      val a = dirsMart(mart).collect().map(_.toString).sorted.toSeq
      val b = lakeMart(mart).collect().map(_.toString).sorted.toSeq
      assert(a == b, "lakehouse mart must equal directory mart")
      // monthly incremental: both paths re-run 2014/11 and must agree
      RetailPipeline.runIncremental(
        spark, dataDir, whDir, NPurchase, "2014", "11")
      RetailPipeline.runIncrementalLake(
        spark, dataDir, whLake, NPurchase, "2014", "11")
      val a2 = dirsMart(mart).collect().map(_.toString).sorted.toSeq
      val b2 = lakeMart(mart).collect().map(_.toString).sorted.toSeq
      assert(a2 == b2,
        "post-incremental lakehouse mart must equal directory mart")
      // the lake incremental is window-scoped: each tier advanced by
      // exactly ONE replaceWhere snapshot
      val bronze = graft.format.GraftTable
        .forPath(spark, s"$whLake/bronze_purchase")
      assert(bronze.history().where(col("op") === "replace").count() == 1)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(whDir)).deleteRecursively()
      new Directory(new java.io.File(whLake)).deleteRecursively()
    }
  }
}
