package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl.Medallion.{Full, Span}
import graft.etl.Pipeline
import graft.format.GraftTable

/** The TPC-H chain on the table format: silver row-identity with the
  * directory tier, snapshot-per-load accounting, and file-granular
  * COW on the re-run. */
class LakehousePipelineSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}
  import spark.implicits._

  test("lakehouse bronze produces row-identical silver to the classic " +
      "dynamic-overwrite pipeline; an incremental reload is one atomic " +
      "snapshot that carries untouched files forward") {
    val whClassic = java.nio.file.Files
      .createTempDirectory("graft_lake_classic_").toString
    val whLake = java.nio.file.Files
      .createTempDirectory("graft_lake_fmt_").toString
    try {
      // classic: the directory tier over every ship date
      Pipeline.run(spark,
        sfDir, whClassic, Span("1992", "01", "2002", "12"))
      val classicFact = spark.read.parquet(s"$whClassic/bronze/fact")
      val classicSilver =
        spark.read.parquet(s"$whClassic/silver/fact_all_info")

      // lakehouse: the same chain, every table through the format
      Pipeline.runLake(spark, sfDir, whLake, Full)
      def table(name: String) = GraftTable.forPath(spark, s"$whLake/$name")
      val lakeSilver = table("silver_fact_all_info").read()

      assert(lakeSilver.count() == classicSilver.count())
      val cols = classicSilver.columns.map(col).toSeq
      assert(lakeSilver.select(cols: _*)
        .exceptAll(classicSilver).isEmpty &&
        classicSilver.exceptAll(lakeSilver.select(cols: _*)).isEmpty,
        "silver must be row-identical across storage contracts")

      // incremental reload of ONE year = exactly one new snapshot per
      // table, with every out-of-window file carried forward by
      // reference
      val tables = Seq("bronze_fact", "silver_fact_all_info",
        "gold_sales_by_datetime", "gold_sales_by_category",
        "gold_sales_by_region", "gold_sales_by_customer")
      val before = table("bronze_fact").manifest().select("path")
        .as[String].collect().toSet
      Pipeline.runLake(spark, sfDir, whLake,
        Span("1996", "01", "1996", "12"))
      val t1 = table("bronze_fact")
      val after = t1.manifest().select("path").as[String].collect().toSet
      assert(before.intersect(after).nonEmpty,
        "files outside the reloaded window must carry forward")
      // content unchanged: the reload re-ingested the same source year
      assert(t1.read().count() == classicFact.count())
      tables.foreach { name =>
        val h = table(name).history().collect()
          .map(r => (r.getLong(0), r.getString(1)))
        assert(h.toSeq == Seq((2L, "replace"), (1L, "overwrite")), name)
      }
    } finally {
      import scala.reflect.io.Directory
      Seq(whClassic, whLake).foreach(d =>
        new Directory(new java.io.File(d)).deleteRecursively())
    }
  }
}
