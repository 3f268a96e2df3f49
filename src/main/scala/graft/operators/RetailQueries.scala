package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.etl.RetailPipeline

/** q164–q167 — the reference's own retail golden path, hash-checked.
  *
  * [[graft.etl.RetailPipeline]] mirrors the reference's T1→T2 dataflow
  * (jb_de_enhancement_t1_fulljoin_s2s.py, t2_*_s2s.py:55-86) and
  * RetailGoldenSpec pins its shapes (zipcode fan-out 19,383 → 20,239,
  * null geography, column order, the weekday doc-test) — but until this
  * family, no mart ran through the DuckDB hash oracle the way q01–q163
  * do. These four queries close that gap: each computes one T2 mart
  * over the reference's seed CSVs plus the FIXTURES.md-contract
  * synthesized purchase fact, and its oracle recomputes the identical
  * mart in DuckDB SQL — zipcode fan-out, product-key misses, anonymous
  * NULL-customer groups and all.
  *
  * Oracle mechanics: the driver's DuckDB session only registers the
  * TPC-H-ish sf tables, so the retail inputs are STAGED — the
  * Spark-parsed dims and the synthesized fact are written once per JVM
  * as plain parquet under [[StageDir]], and the oracle SQL reads those
  * files via `read_parquet(...)`. Both engines therefore consume
  * byte-identical input rows; CSV-parsing fidelity itself is pinned
  * separately by RetailGoldenSpec on the raw seed files. Verify runs
  * before the driver's DuckDB pass, so staging is always fresh.
  *
  * The queries deliberately compute marts straight from the staged
  * fact rather than via the partitioned warehouse round-trip
  * ([[RetailPipeline.run]] covers that path): a Hive-layout read-back
  * re-infers partition-column types ("2014" → INT), which is a write
  * concern, not mart semantics, and would make the oracle assert the
  * inference rule instead of the aggregate.
  */
object RetailQueries {

  /** Reference seed CSVs (read-only). */
  val DataDir = "/root/reference/data"

  /** Where the oracle-visible parquet copies land: `target/retail_stage`
    * under the process's working directory, so each checkout stages
    * into itself. Single source of truth: [[graft.OracleSql]]
    * interpolates this constant into the q164–q167 oracle SQL at dump
    * time. */
  val StageDir: String = java.nio.file.Paths.get("target", "retail_stage")
    .toAbsolutePath.toString

  /** Same fact size RetailGoldenSpec exercises. */
  val NPurchase = 100000L

  @volatile private var stagedByThisJvm = false

  /** Write the Spark-parsed dims + synthesized fact as unpartitioned
    * parquet, once per JVM (content is deterministic — xxhash64-derived
    * fact, seed CSVs — so concurrent JVMs converge to identical bytes).
    * The marker file is written last; a half-staged dir from a killed
    * run is re-staged on the next call. */
  private def stage(s: SparkSession): Unit = synchronized {
    val marker = java.nio.file.Paths.get(StageDir, "_STAGED")
    if (stagedByThisJvm && java.nio.file.Files.exists(marker)) return
    java.nio.file.Files.deleteIfExists(marker)
    val products = RetailPipeline.productsInfo(s, DataDir)
    val toStage: Seq[(String, DataFrame)] = Seq(
      "customer" -> RetailPipeline.customer(s, DataDir),
      "products_info" -> products,
      "zipcode" -> RetailPipeline.zipcode(s, DataDir),
      "purchase" -> RetailPipeline.synthPurchase(s, products, NPurchase))
    toStage.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$StageDir/$name")
    }
    java.nio.file.Files.createFile(marker)
    stagedByThisJvm = true
  }

  /** (purchase fact, products dim, customer⟕zipcode dim), all read back
    * from the staged parquet — the exact rows the oracle sees. */
  private def inputs(s: SparkSession): (DataFrame, DataFrame, DataFrame) = {
    stage(s)
    val purchase = s.read.parquet(s"$StageDir/purchase")
    val products = s.read.parquet(s"$StageDir/products_info")
    val custZip = RetailPipeline.customerWithZipcode(
      s.read.parquet(s"$StageDir/customer"),
      s.read.parquet(s"$StageDir/zipcode"))
    (purchase, products, custZip)
  }

  private def mart(s: SparkSession, name: String): DataFrame = {
    val (purchase, products, custZip) = inputs(s)
    val silverDf = RetailPipeline.silver(purchase, products, custZip)
    RetailPipeline.marts(purchase, silverDf, custZip)(name)
  }

  /** q164 — mart_salesbydatetime: sales by (day, hour) with the weekday
    * UDF's naming (t2_salesbydatetime_s2s.py:59-85). `dir` is unused —
    * the retail path has its own fixed inputs. */
  def q164RetailDatetime(s: SparkSession, dir: String): DataFrame =
    mart(s, "mart_salesbydatetime")

  /** q165 — mart_salesbyageproducts: sales by age group × product
    * hierarchy descriptions (t2_salesbyageproducts_s2s.py). */
  def q165RetailAgeProducts(s: SparkSession, dir: String): DataFrame =
    mart(s, "mart_salesbyageproducts")

  /** q166 — mart_salesbyresidence: sales by customer geography from the
    * fan-out zipcode join (t2_salesbyresidence_s2s.py). */
  def q166RetailResidence(s: SparkSession, dir: String): DataFrame =
    mart(s, "mart_salesbyresidence")

  /** q167 — mart_salesbycustomer: the J4 aggregate-then-join — per
    * (customer, affiliate, month) rollup of the RAW fact, then the
    * enriched customer dim joined on, duplicating the aggregate row of
    * every customer in a duplicated short_zipcode
    * (t2_salesbycustomer_s2s.py:54-56; the reference's exact,
    * surprising semantics). */
  def q167RetailCustomer(s: SparkSession, dir: String): DataFrame =
    mart(s, "mart_salesbycustomer")
}
