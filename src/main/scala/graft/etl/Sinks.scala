package graft.etl

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Partitioned parquet sinks with the reference's write semantics
  * (SURVEY §2.1-S6/S7/S8).
  *
  * Dynamic partition overwrite is load-bearing
  * (jb_de_enhancement_t0_fact_d2s.py:23): an incremental run replaces
  * only the partitions present in the incoming DataFrame, which is what
  * makes the monthly date-window reruns idempotent without rewriting
  * 100 TB of history.
  */
object Sinks {

  /** An overwriting parquet writer with the reference's write semantics
    * as per-write options, so the caller's session and the shared
    * Hadoop conf stay untouched: dynamic partition overwrite, and no
    * `_SUCCESS` marker (the reference's committer tuning, S8). The
    * write command puts the committer key into its own job's Hadoop
    * conf. */
  private def overwrite(df: DataFrame) = df.write.mode("overwrite")
    .option("partitionOverwriteMode", "dynamic")
    .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")

  /** Hive-partitioned parquet write, replacing only touched partitions.
    * `numFiles` caps files per partition dir (the reference's
    * `coalesce(1)` small-files control, glue_t1.md:82) — at cluster
    * scale prefer repartition on the partition columns so each writer
    * task owns whole partitions instead of a single-task bottleneck.
    *
    * The repartition pins an EXPLICIT task count: a bare
    * `repartition(cols)` is a flexible REPARTITION_BY_COL that AQE
    * freely coalesces — for a small mart it collapses to ~1 task that
    * then creates all ~250 partition dirs SEQUENTIALLY, turning a
    * parallel write into a file-creation crawl. Pinning keeps dir
    * creation spread across the cluster while each dir still gets
    * exactly one file (dirs are hash-owned by one task either way).
    *
    * Returns the rows written, counted by an observation on the frame
    * the sink writes: no count job, no re-read. It sits ABOVE the
    * sink's exchange because an observation below it would keep a
    * sort the exchange otherwise drops (a mart's `.sort`), changing
    * the written files. */
  def writePartitioned(
      df: DataFrame, path: String, partitionCols: Seq[String],
      numFiles: Int = 0, prePartitioned: Boolean = false): Long = {
    val spark = df.sparkSession
    val out =
      if (prePartitioned) df // caller guarantees the frame is already
        // hash-grouped by partitionCols (e.g. a cache built through this
        // very exchange) — re-shuffling it would pay the full-width
        // exchange twice for the same layout
      else if (numFiles > 0) df.coalesce(numFiles)
      else df.repartition(spark.sparkContext.defaultParallelism,
        partitionCols.map(df.col): _*)
    val written = Observation()
    overwrite(out.observe(written, count(lit(1)).as("rows")))
      .partitionBy(partitionCols: _*)
      .parquet(path)
    written.get("rows").asInstanceOf[Long]
  }

  /** Unpartitioned overwrite (dimension tables, S6). */
  def writeTable(df: DataFrame, path: String): Unit =
    overwrite(df).parquet(path)

  /** Crawler replacement (S9): (re)register an output directory as a
    * session-catalog table; partition columns are rediscovered from the
    * Hive-style directory layout by the parquet source. */
  def register(spark: SparkSession, name: String, path: String): Unit =
    spark.read.parquet(path).createOrReplaceTempView(name)

  /** Persistent crawler registration (S9's cross-job half): the
    * reference's crawler writes partitioned table metadata into the
    * Glue Data Catalog, where EVERY subsequent job/session sees it
    * (document/glue_t0.md:95-117) — a temp view only lives in one
    * session. This variant registers an EXTERNAL datasource table in
    * the shared catalog and recovers Hive-layout partitions, so any
    * other session on the same metastore reads it by name with
    * partition pruning intact (PersistentCatalogSpec proves a fresh
    * `newSession()` sees it; on a cluster the same call against a
    * Hive/Glue metastore survives driver restarts too). */
  def registerPersistent(spark: SparkSession, name: String,
      path: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    spark.catalog.createTable(name, "parquet", Map("path" -> path))
    // partitioned layouts need an explicit partition recovery (MSCK);
    // unpartitioned tables reject it — that's fine, nothing to recover
    try spark.catalog.recoverPartitions(name)
    catch { case _: org.apache.spark.sql.AnalysisException => () }
  }

  /** ORC sink — interop with ORC-standardized warehouses. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** CSV export (header + gzip) — the lowest-common-denominator handoff;
    * never an analytics-side format (row-oriented, schemaless on read). */
  def writeCsv(df: DataFrame, path: String,
      compression: String = "gzip"): Unit =
    df.write.mode("overwrite")
      .option("header", "true").option("compression", compression)
      .csv(path)

  /** JSON-lines sink (gzip by default — JSONL is ~5-10× parquet's size
    * uncompressed, and most downstream tokenizer/export consumers read
    * compressed shards natively). */
  def writeJsonl(df: DataFrame, path: String,
      compression: String = "gzip"): Unit =
    df.write.mode("overwrite").option("compression", compression).json(path)
}
