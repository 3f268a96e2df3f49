package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table support: pre-shuffle once at write time so repeated
  * big-table ⋈ big-table joins run with NO exchange at read time.
  *
  * At 100 TB the lineitem ⋈ orders (fact ⋈ fact-header) join cannot
  * broadcast either side; without bucketing every query pays a full
  * shuffle of both. Writing both tables bucketed by the join key into
  * the session warehouse makes Catalyst plan a SortMergeJoin over the
  * co-located buckets — zero Exchange nodes (guarded by BucketingSpec).
  */
object Bucketing {

  /** Write a table bucketed (and sorted) by `key` into the session
    * catalog. Bucket count should approximate (table size / target
    * partition size) at deployment scale. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit = {
    val spark = df.sparkSession
    // drop stale metadata AND any orphaned managed location (a killed
    // session can leave the dir behind without the catalog entry, which
    // LOCATION_ALREADY_EXISTS then rejects)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    val loc = new java.io.File(wh, table)
    if (loc.exists()) {
      import scala.reflect.io.Directory
      new Directory(loc).deleteRecursively()
    }
    df.write
      .mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Join two same-bucketed tables on their bucket key — exchange-free
    * when bucket counts match. */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
      leftKey: String, rightKey: String,
      joinType: String = "inner"): DataFrame = {
    val l = spark.table(left)
    val r = spark.table(right)
    l.join(r, l(leftKey) === r(rightKey), joinType)
  }

  /** [[writeBucketed]] variant that pins the table data under an
    * explicit path (EXTERNAL table) instead of the session warehouse —
    * for callers whose working directory must stay clean. */
  def writeBucketedAt(df: DataFrame, table: String, key: String,
      buckets: Int, path: String): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new java.io.File(path)
    if (loc.exists()) {
      import scala.reflect.io.Directory
      new Directory(loc).deleteRecursively()
    }
    df.write
      .mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .option("path", path)
      .format("parquet")
      .saveAsTable(table)
  }

  /** q142 — the exchange-free big ⋈ big join as an end-to-end query:
    * lineitem and orders (fact ⋈ fact-header — at 100 TB NEITHER side
    * broadcasts) are written bucketed by the join key, and the join
    * then plans as a SortMergeJoin over co-located buckets with ZERO
    * Exchange nodes — the shuffle was paid ONCE at write time and is
    * amortized over every subsequent join, which is the entire
    * economics of bucketed layouts. The bucketing write is included
    * in this query's own runtime (same amortization framing as
    * q124's clustering). The oracle is the plain join+aggregate, so
    * the layout provably changes nothing. BucketingSpec asserts the
    * zero-exchange plan; the revenue rollup keeps the output
    * status-sized. */
  def q142BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // scratch path AND table names carry the per-context token: two
    // concurrent drivers (Bench ∥ Verify) must not overwrite each
    // other's bucket files or catalog entries mid-read
    val base = graft.Scratch.dir(s, "bucketed")
    val tok = graft.Scratch.token(s)
    val (tl, to) = (s"q142_lineitem_$tok", s"q142_orders_$tok")
    // The two bucketed writes are independent outputs and each uses
    // only `buckets` (8) write tasks — run them as parallel jobs so
    // the setup overlaps instead of serializing two mostly-idle
    // stages (guide §2.6).
    Medallion.fanOut(s)(Seq(
      "q142: bucket lineitem" -> (() =>
        writeBucketedAt(graft.Tables.load(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_extendedprice"),
              col("l_quantity")),
          tl, "l_orderkey", 8, s"$base/lineitem")),
      "q142: bucket orders" -> (() =>
        writeBucketedAt(graft.Tables.load(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderpriority")),
          to, "o_orderkey", 8, s"$base/orders"))))
    bucketedJoin(s, tl, to,
        "l_orderkey", "o_orderkey")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice").cast("decimal(18,4)"))
          .cast("double"), 2).as("revenue"),
        round(sum(col("l_quantity").cast("decimal(18,4)"))
          .cast("double"), 2).as("sum_qty"))
      .orderBy(col("o_orderpriority"))
  }
}
