package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl.{Medallion, Pipeline, Sinks}

/** S9's cross-job half: the reference's crawler registers partitioned
  * tables in a shared catalog that OTHER jobs then read by name
  * (document/glue_t0.md:95-117). `Sinks.registerPersistent` must make
  * a table visible to a different session (shared metastore), with
  * partitions recovered so pruning still works there. */
class PersistentCatalogSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}

  test("a second session sees a persistently registered partitioned " +
      "table, with its partitions recovered and prunable") {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_catalog_wh_").toString
    val tpch = Pipeline.Tpch(spark, sfDir)
    Sinks.writePartitioned(
      tpch.fact(Medallion.Span("1995", "01", "1996", "12")),
      s"$wh/bronze/fact", tpch.partCols)

    Sinks.registerPersistent(spark, "fact_persist", s"$wh/bronze/fact")
    try {
      // a FRESH session (own session state, shared metastore) — a temp
      // view would be invisible here; a catalog table must not be
      val s2 = spark.newSession()
      val viaS2 = s2.table("fact_persist")
      assert(viaS2.count() ===
        spark.read.parquet(s"$wh/bronze/fact").count())
      // partition columns survived registration…
      assert(viaS2.columns.contains("ship_year") &&
        viaS2.columns.contains("ship_month"))
      // …and a partition-key predicate prunes in the second session
      val pruned = viaS2.where(col("ship_year") === 1995)
      val p = pruned.queryExecution.executedPlan.toString
      assert(p.contains("PartitionFilters") && p.contains("ship_year"),
        s"expected partition pruning via the catalog table:\n$p")
      assert(pruned.count() > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS `fact_persist`")
      import scala.reflect.io.Directory
      new Directory(new java.io.File(wh)).deleteRecursively()
    }
  }

  test("registerPersistent accepts unpartitioned dirs (nothing to " +
      "recover) and a second session reads them too") {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_catalog_dim_").toString
    Sinks.writeTable(Tables.load(spark, sfDir, "nation"), s"$wh/nation")
    Sinks.registerPersistent(spark, "nation_persist", s"$wh/nation")
    try {
      assert(spark.newSession().table("nation_persist").count() === 25)
    } finally {
      spark.sql("DROP TABLE IF EXISTS `nation_persist`")
      import scala.reflect.io.Directory
      new Directory(new java.io.File(wh)).deleteRecursively()
    }
  }
}
