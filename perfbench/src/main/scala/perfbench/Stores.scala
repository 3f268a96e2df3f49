package perfbench

import graft.etl.RetailPipeline
import graft.format.GraftTable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One storage tier of the retail DAG, driven only through the
  * program's public entry points. */
sealed trait Store {
  def name: String
  def initial(spark: SparkSession, dims: String, wh: String,
      rows: Long): Map[String, Long]
  def incremental(spark: SparkSession, dims: String, wh: String,
      rows: Long, year: String, month: String): Map[String, Long]
  /** Root directory of each table, keyed by the name queries use. */
  def tables(wh: String): Map[String, String]
  /** Binds a table for one query, the way a fresh reader would. */
  def bind(spark: SparkSession, root: String): DataFrame
  /** Parquet files holding the table's live rows (for DuckDB). */
  def liveFiles(spark: SparkSession, root: String): Seq[String]
}

object Store {
  val Marts: Seq[String] = Seq("mart_salesbydatetime",
    "mart_salesbyageproducts", "mart_salesbyresidence",
    "mart_salesbycustomer")

  val Tiers: Seq[String] = Seq("bronze", "silver", "gold")

  /** Tier of a warehouse-relative path: its first segment names it in
    * both layouts (`silver/purchase_all_info`, `silver_purchase_all_info`). */
  def tierOf(relative: String): Option[String] =
    Tiers.find(relative.startsWith)
}

/** Hive-partitioned parquet directories with dynamic partition
  * overwrite and persistent catalog registration. */
object DirStore extends Store {
  val name = "dir"
  def initial(spark: SparkSession, dims: String, wh: String, rows: Long) =
    RetailPipeline.run(spark, dims, wh, rows)
  def incremental(spark: SparkSession, dims: String, wh: String,
      rows: Long, year: String, month: String) =
    RetailPipeline.runIncremental(spark, dims, wh, rows, year, month)
  def tables(wh: String): Map[String, String] =
    Map("bronze" -> s"$wh/bronze/purchase",
      "silver" -> s"$wh/silver/purchase_all_info") ++
      Store.Marts.map(m => m -> s"$wh/gold/$m")
  def bind(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(root)
  def liveFiles(spark: SparkSession, root: String): Seq[String] = {
    val dir = java.nio.file.Paths.get(root)
    val files = Seq.newBuilder[String]
    java.nio.file.Files.walk(dir)
      .filter(p => p.toString.endsWith(".parquet") &&
        !dir.relativize(p).toString.split('/').exists(_.startsWith(".")))
      .forEach(p => files += p.toString)
    files.result().sorted
  }
}

/** GraftTable tier: atomic overwrite, then window replaceWhere. */
object LakeStore extends Store {
  val name = "lake"
  def initial(spark: SparkSession, dims: String, wh: String, rows: Long) =
    RetailPipeline.runLake(spark, dims, wh, rows)
  def incremental(spark: SparkSession, dims: String, wh: String,
      rows: Long, year: String, month: String) =
    RetailPipeline.runIncrementalLake(spark, dims, wh, rows, year, month)
  def tables(wh: String): Map[String, String] =
    Map("bronze" -> s"$wh/bronze_purchase",
      "silver" -> s"$wh/silver_purchase_all_info") ++
      Store.Marts.map(m => m -> s"$wh/gold_$m")
  def bind(spark: SparkSession, root: String): DataFrame =
    GraftTable.forPath(spark, root).read()
  def liveFiles(spark: SparkSession, root: String): Seq[String] =
    GraftTable.forPath(spark, root).manifest().select("path").collect()
      .map(r => s"$root/${r.getString(0)}").toSeq.sorted
}
