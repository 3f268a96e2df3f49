package graft.etl

import graft.Tables
import graft.etl.Medallion.{DirTier, Full, LakeTier, Span, Star, Window,
  runDag}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's batch medallion pipeline (bronze → silver → gold)
  * over the TPC-H-ish testdata: the second star on the [[Medallion]]
  * chain, next to [[RetailPipeline]]'s own retail star.
  *
  * Role mapping: `lineitem` = fact (purchase), `orders` the order
  * header, `customer`/`nation`/`region` = customer+zipcode geography,
  * `part` = products_info. Date window parameters replace the
  * reference's hardcoded year literals
  * (jb_de_enhancement_t1_fulljoin_s2s.py:61-63).
  */
object Pipeline {

  /** The directory-tier DAG over `sourceDir`'s tables into
    * `warehouseDir`, loading `window`'s months. Months are the
    * partitions a run overwrites, so a run loads whole ones. Dynamic
    * partition overwrite makes a first run and a re-run the same call.
    * Returns the rows this run wrote to each mart, counted by the write
    * itself: the whole mart on a first run, the window's partitions on
    * a re-run (the same report `RetailPipeline` returns). */
  def run(spark: SparkSession, sourceDir: String, warehouseDir: String,
      window: Span): Map[String, Long] =
    runDag(spark, Tpch(spark, sourceDir), window, DirTier(warehouseDir))

  /** The DAG with every table a [[graft.format.GraftTable]] under
    * `warehouseDir`: `Full` is the initial load (one atomic overwrite
    * per table), a [[Span]] the re-run of its months (one replaceWhere
    * per table, untouched files carried forward). Returns each mart's
    * rows as its commit recorded them. */
  def runLake(spark: SparkSession, sourceDir: String,
      warehouseDir: String, window: Window): Map[String, Long] =
    runDag(spark, Tpch(spark, sourceDir), window, LakeTier(warehouseDir))

  /** The TPC-H star: `lineitem` with its dimensions read from
    * `sourceDir`, partitioned by (l_returnflag, ship_year, ship_month). */
  final case class Tpch(spark: SparkSession, sourceDir: String)
      extends Star {
    val label = "tpch"
    val factName = "fact"
    val partCols = Seq("l_returnflag", "ship_year", "ship_month")
    // orders, customer and part grow with the fact: the planner may
    // shuffle-join them, which re-partitions the fact by join key
    val silverKeepsFactLayout = false

    private def dim(name: String): DataFrame =
      Tables.load(spark, sourceDir, name)

    /** The windowed fact with derived partition columns (S2→P1→X1).
      * A span is a NATIVE timestamp range on `l_shipdate`, not a
      * predicate on the derived yyyyMMdd string, so it reaches the
      * parquet reader (`PushedFilters`, pinned in PlanShapeSpec) and
      * skips row groups: a re-run reads only its window, as the
      * reference pushes its window into the JDBC source
      * (jb_de_enhancement_t0_fact_d2s.py:72-82). */
    def fact(window: Window): DataFrame = {
      val lineitem = dim("lineitem")
      val windowed = window match {
        case Full => lineitem
        case s: Span =>
          def firstDay(y: String, m: String) =
            to_date(lit(s"$y${m}01"), "yyyyMMdd")
          val lo = firstDay(s.fromYear, s.fromMonth).cast("timestamp")
          val hi = add_months(firstDay(s.toYear, s.toMonth), 1)
            .cast("timestamp")
          lineitem.where(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      }
      windowed
        .withColumn("ship_ymd", date_format(col("l_shipdate"), "yyyyMMdd"))
        .withColumn("ship_year", substring(col("ship_ymd"), 1, 4))
        .withColumn("ship_month", substring(col("ship_ymd"), 5, 2))
    }

    /** The T1 join chain (J1,J2,J3→P3): left-join all dimensions onto
      * the fact. Only the FIXED-cardinality dims (nation 25, region 5)
      * carry a broadcast hint — orders, customer and part grow with
      * the scale factor, so forcing them is a driver OOM at 100×.
      * Size-based planning (and AQE) still broadcasts them while they
      * fit and shuffle-joins them when not (PlanShapeSpec pins both);
      * at cluster scale fact⋈orders routes through the bucketed
      * layout (etl.Bucketing/q142). */
    def silver(fact: DataFrame): DataFrame = {
      val ord = dim("orders")
      val cust = dim("customer")
      val nat = dim("nation")
      val reg = dim("region")
      val part = dim("part")

      val custGeo = cust
        .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"),
          "left")
        .drop(nat("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === reg("r_regionkey"),
          "left")
        .drop(reg("r_regionkey"))

      fact
        .join(ord, fact("l_orderkey") === ord("o_orderkey"), "left")
        .drop(ord("o_orderkey"))
        .join(part, fact("l_partkey") === part("p_partkey"), "left")
        .drop(part("p_partkey"))
        .join(custGeo, col("o_custkey") === custGeo("c_custkey"), "left")
        .drop(custGeo("c_custkey"))
    }

    private def amountAggs(df: DataFrame, keys: String*): DataFrame =
      df.groupBy(keys.map(col): _*)
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,4)"))
            .cast("double"), 2).as("total_purchase_amount"),
          count(col("l_quantity")).as("count_of_purchase"))

    /** The four reference marts (SURVEY §2.4 A1–A4), all over silver. */
    def marts(fact: DataFrame, silver: DataFrame): Map[String, DataFrame] =
      Map(
        "sales_by_datetime" -> amountAggs(silver
          .withColumn("ship_day",
            substring(date_format(col("l_shipdate"), "yyyyMMdd"), 7, 2))
          .withColumn("day_of_week", date_format(col("l_shipdate"), "EEEE")),
          "l_returnflag", "ship_year", "ship_month", "ship_day",
          "day_of_week"),
        "sales_by_category" -> amountAggs(silver,
          "l_returnflag", "ship_year", "ship_month", "p_brand", "p_type"),
        "sales_by_region" -> amountAggs(silver,
          "l_returnflag", "ship_year", "ship_month", "r_name", "n_name")
          .sort(col("l_returnflag"), col("ship_year"), col("ship_month"),
            col("total_purchase_amount").desc,
            col("count_of_purchase").desc),
        "sales_by_customer" -> {
          // J4: aggregate FIRST, then join the (now small) result to the
          // customer dimension — no broadcast hint: customer grows with
          // scale factor, so size-based planning decides
          val perCust = amountAggs(silver,
            "o_custkey", "l_returnflag", "ship_year", "ship_month")
          val cust = dim("customer")
          perCust.join(cust,
              perCust("o_custkey") === cust("c_custkey"), "left")
            .drop(cust("c_custkey"))
        })
  }
}
