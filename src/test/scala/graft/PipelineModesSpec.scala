package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.etl.Medallion.{Full, Span}
import graft.etl.Pipeline
import graft.format.GraftTable

/** The TPC-H star runs one chain on both storage tiers: the lake
  * tier's silver and marts equal the directory tier's, and carry the
  * same partition types, so the directory tier's Hive layout (string
  * bronze months, int silver and gold months) is what the lake
  * tables' partition values name. */
class PipelineModesSpec extends AnyFunSuite with TempDirs {
  import TestSpark.{spark, sfDir}

  private def freshDir(): String = tempDir("graft_modes_")

  private def dirNames(root: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f +: f.listFiles.toSeq.flatMap(walk) else Seq.empty
    walk(new java.io.File(root))
      .map(_.getPath.stripPrefix(root)).filter(_.nonEmpty).toSet
  }

  /** The Hive partition dirs a table with `df`'s partition values has. */
  private def hiveDirs(df: DataFrame): Set[String] =
    df.select(Pipeline.Tpch(spark, sfDir).partCols.map(col): _*).distinct()
      .collect().toSet.flatMap { r: org.apache.spark.sql.Row =>
        val Seq(f, y, m) = Seq(0, 1, 2).map(r.get)
        Set(s"/l_returnflag=$f", s"/l_returnflag=$f/ship_year=$y",
          s"/l_returnflag=$f/ship_year=$y/ship_month=$m")
      }

  /** `lake` holds the rows of `dir` with the same column types. */
  private def assertSameTable(dir: DataFrame, lake: DataFrame,
      what: String): Unit = {
    val l = lake.select(dir.columns.toSeq.map(col): _*)
    assert(l.schema === dir.schema, s"$what schema diverged")
    assert(l.collect().map(_.toString).sorted.toSeq ===
      dir.collect().map(_.toString).sorted.toSeq, s"$what content diverged")
  }

  private def lakeTable(wh: String, rel: String): DataFrame =
    GraftTable.forPath(spark, s"$wh/${rel.replace('/', '_')}").read()

  test("lake and directory tiers produce identical silver, marts and " +
      "layout") {
    val (whD, whL) = (freshDir(), freshDir())
    // the span covers every ship date of the testdata: both tiers load
    // the whole fact
    val reportD = Pipeline.run(spark,
      sfDir, whD, Span("1992", "01", "2002", "12"))
    val reportL = Pipeline.runLake(spark, sfDir, whL, Full)
    assert(reportD === reportL)

    for (rel <- reportD.keys.map(m => s"gold/$m").toSeq ++
        Seq("silver/fact_all_info", "bronze/fact")) {
      val d = spark.read.parquet(s"$whD/$rel")
      val l = lakeTable(whL, rel)
      if (rel != "bronze/fact") assertSameTable(d, l, rel)
      // identical Hive dir layout (same partition value formatting)
      assert(dirNames(s"$whD/$rel") === hiveDirs(l), s"$rel layout")
    }
    // bronze keeps the fact's string months ("01"); silver and gold
    // carry the int ones the directory read-back infers
    assert(dirNames(s"$whD/bronze/fact").exists(_.endsWith("ship_month=01")))
    assert(dirNames(s"$whD/silver/fact_all_info")
      .exists(_.endsWith("ship_month=1")))
    assert(lakeTable(whL, "bronze/fact").count() ===
      spark.read.parquet(s"$whD/bronze/fact").count())
  }

  test("a lake re-run over the initial load leaves the other months " +
      "untouched") {
    val wh = freshDir()
    Pipeline.runLake(spark, sfDir, wh, Full)
    def mart = lakeTable(wh, "gold/sales_by_region")
    val before = mart.collect().toSet
    val y1994 = mart.where(col("ship_year") === 1994).collect().toSet
    val rerun = Pipeline.runLake(spark, sfDir, wh,
      Span("1995", "01", "1995", "12"))
    assert(mart.where(col("ship_year") === 1994).collect().toSet === y1994)
    // the re-run re-ingests the same source rows: the mart is unchanged
    assert(mart.collect().toSet === before)
    assert(rerun("sales_by_region") ===
      mart.where(col("ship_year") === 1995).count())
  }
}
