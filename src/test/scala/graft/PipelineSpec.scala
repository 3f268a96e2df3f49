package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl.{Pipeline, Sinks}
import graft.etl.Medallion.Span

class PipelineSpec extends AnyFunSuite with TempDirs {
  import TestSpark.{spark, sfDir}

  private def freshDir(): String = tempDir("graft_wh_")

  test("full DAG produces all marts and preserves fact rows in silver") {
    val wh = freshDir()
    val window = Span("1995", "01", "2001", "12")
    val report = Pipeline.run(spark, sfDir, wh, window)
    assert(report.keySet === Set("sales_by_datetime", "sales_by_category",
      "sales_by_region", "sales_by_customer"))
    report.values.foreach(n => assert(n > 0))

    val factRows = spark.read.parquet(s"$wh/bronze/fact").count()
    val silverRows = spark.read.parquet(s"$wh/silver/fact_all_info").count()
    // every dim key is unique → left joins must not fan out
    assert(silverRows === factRows)
  }

  test("pipeline is idempotent (second run, same window, same output)") {
    val wh = freshDir()
    val window = Span("1995", "01", "1995", "12")
    Pipeline.run(spark, sfDir, wh, window)
    val first = spark.read.parquet(s"$wh/gold/sales_by_region").collect().toSet
    Pipeline.run(spark, sfDir, wh, window)
    val second = spark.read.parquet(s"$wh/gold/sales_by_region").collect().toSet
    assert(first === second)
  }

  test("dynamic partition overwrite only replaces touched partitions") {
    val wh = freshDir()
    Pipeline.run(spark, sfDir, wh, Span("1995", "01", "1995", "12"))
    val y1995 = spark.read.parquet(s"$wh/bronze/fact")
      .where(col("ship_year") === "1995").count()
    assert(y1995 > 0)
    // incremental load of 1996 must keep 1995's partitions intact
    Pipeline.run(spark, sfDir, wh, Span("1996", "01", "1996", "12"))
    val fact = spark.read.parquet(s"$wh/bronze/fact")
    assert(fact.where(col("ship_year") === "1995").count() === y1995)
    assert(fact.where(col("ship_year") === "1996").count() > 0)
  }

  test("run leaves the caller's job-description label unchanged") {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("pipeline-spec: caller")
    try {
      Pipeline.run(spark, sfDir, freshDir(), Span("1995", "01", "1995", "12"))
      assert(sc.getLocalProperty("spark.job.description") ==
        "pipeline-spec: caller")
    } finally sc.setLocalProperty("spark.job.description", prev)
  }

  test("silver read prunes partitions (plan shows PartitionFilters)") {
    val wh = freshDir()
    Pipeline.run(spark, sfDir, wh, Span("1995", "01", "1996", "12"))
    val plan = spark.read.parquet(s"$wh/silver/fact_all_info")
      .where(col("ship_year") === "1995")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(ship_year"))
  }

  test("run reports the rows it wrote to each mart: the whole mart on " +
      "a first run, the window's rows on a re-run") {
    val wh = freshDir()
    def mart(m: String) = spark.read.parquet(s"$wh/gold/$m")
    val full = Pipeline.run(spark,
      sfDir, wh, Span("1994", "01", "1996", "12"))
    full.foreach { case (m, n) => assert(n === mart(m).count(), m) }
    val rerun = Pipeline.run(spark,
      sfDir, wh, Span("1995", "01", "1995", "12"))
    assert(rerun.keySet === full.keySet)
    rerun.foreach { case (m, n) =>
      val rows1995 = mart(m).where(col("ship_year") === 1995).count()
      assert(rows1995 > 0 && rows1995 < mart(m).count(), m)
      assert(n === rows1995, m)
    }
  }

  test("writePartitioned leaves the caller's session and Hadoop conf " +
      "alone, yet replaces only touched partitions and writes no _SUCCESS") {
    import spark.implicits._
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val markerKey = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    val hconf = spark.sparkContext.hadoopConfiguration
    val (prevMode, prevMarker) = (spark.conf.get(modeKey), hconf.get(markerKey))
    val path = s"${freshDir()}/t"
    try {
      spark.conf.set(modeKey, "static")
      hconf.set(markerKey, "true")
      assert(Sinks.writePartitioned(
        Seq((1, "a"), (2, "b")).toDF("p", "v"), path, Seq("p")) === 2L)
      assert(Sinks.writePartitioned(
        Seq((2, "c")).toDF("p", "v"), path, Seq("p")) === 1L)
      assert(spark.read.parquet(path).as[(String, Int)].collect().toSet ===
        Set(("a", 1), ("c", 2)), "p=1 kept, p=2 replaced")
      assert(!new java.io.File(s"$path/_SUCCESS").exists())
      assert(spark.conf.get(modeKey) === "static")
      assert(hconf.get(markerKey) === "true")
    } finally {
      spark.conf.set(modeKey, prevMode)
      hconf.set(markerKey, prevMarker)
    }
  }
}
