package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl.Pipeline
import java.nio.file.Files

class PipelineSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}

  private def freshDir(): String =
    Files.createTempDirectory("graft_wh_").toString

  test("full DAG produces all marts and preserves fact rows in silver") {
    val wh = freshDir()
    val cfg = Pipeline.Config(sfDir, wh, "19950101", "20011231")
    val report = Pipeline.run(spark, cfg)
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
    val cfg = Pipeline.Config(sfDir, wh, "19950101", "19951231")
    Pipeline.run(spark, cfg)
    val first = spark.read.parquet(s"$wh/gold/sales_by_region").collect().toSet
    Pipeline.run(spark, cfg)
    val second = spark.read.parquet(s"$wh/gold/sales_by_region").collect().toSet
    assert(first === second)
  }

  test("dynamic partition overwrite only replaces touched partitions") {
    val wh = freshDir()
    Pipeline.run(spark, Pipeline.Config(sfDir, wh, "19950101", "19951231"))
    val y1995 = spark.read.parquet(s"$wh/bronze/fact")
      .where(col("ship_year") === "1995").count()
    assert(y1995 > 0)
    // incremental load of 1996 must keep 1995's partitions intact
    Pipeline.run(spark, Pipeline.Config(sfDir, wh, "19960101", "19961231"))
    val fact = spark.read.parquet(s"$wh/bronze/fact")
    assert(fact.where(col("ship_year") === "1995").count() === y1995)
    assert(fact.where(col("ship_year") === "1996").count() > 0)
  }

  test("run leaves the caller's job-description label unchanged, " +
      "pipelined and staged") {
    val sc = spark.sparkContext
    Seq(true, false).foreach { pipelined =>
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription("pipeline-spec: caller")
      try {
        Pipeline.run(spark, Pipeline.Config(sfDir, freshDir(), "19950101",
          "19951231", pipelined))
        assert(sc.getLocalProperty("spark.job.description") ==
          "pipeline-spec: caller", s"pipelined = $pipelined")
      } finally sc.setLocalProperty("spark.job.description", prev)
    }
  }

  test("silver read prunes partitions (plan shows PartitionFilters)") {
    val wh = freshDir()
    Pipeline.run(spark, Pipeline.Config(sfDir, wh, "19950101", "19961231"))
    val plan = spark.read.parquet(s"$wh/silver/fact_all_info")
      .where(col("ship_year") === "1995")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(ship_year"))
  }
}
