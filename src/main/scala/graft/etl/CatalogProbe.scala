package graft.etl

import org.apache.spark.sql.functions.col

/** Cross-PROCESS catalog durability probe (S9's strongest claim): the
  * reference's crawler writes table metadata into the Glue Data
  * Catalog, where a job in a DIFFERENT driver later reads it by name
  * (document/glue_t0.md:95-117). `newSession()` in one JVM shares the
  * external catalog object, so it cannot prove that; this main is
  * forked twice by CrossProcessCatalogSpec — once in `write` mode
  * (ingest + registerPersistent against a derby-backed Hive
  * metastore), once in `read` mode from a genuinely separate JVM that
  * resolves the table purely from the on-disk metastore and pins that
  * partition pruning still works there.
  *
  * stdout protocol (one token pair per line, parsed by the spec):
  *   write → `PROBE WROTE <row-count>`
  *   read  → `PROBE COUNT <n>`, `PROBE PRUNE <bool>`,
  *           `PROBE PRUNED_COUNT <n>`
  */
object CatalogProbe {

  val TableName = "fact_crossproc"

  def main(args: Array[String]): Unit = {
    val (mode, metaDir, wh) = (args(0), args(1), args(2))
    val spark = graft.GraftSession.build("local[4]",
      s"graft-catalog-probe-$mode", Map(
        "spark.sql.warehouse.dir" -> s"$metaDir/warehouse",
        // derby metastore at a caller-chosen path: the durable artifact
        // both processes share (a cluster swaps this one URL for its
        // Hive/Glue metastore endpoint; nothing else changes)
        "javax.jdo.option.ConnectionURL" ->
          s"jdbc:derby:;databaseName=$metaDir/metastore_db;create=true",
        "spark.sql.catalogImplementation" -> "hive"))
    try {
      mode match {
        case "write" =>
          val tpch = Pipeline.Tpch(spark, args(3))
          Sinks.writePartitioned(
            tpch.fact(Medallion.Span("1995", "01", "1996", "12")),
            s"$wh/bronze/fact", tpch.partCols)
          Sinks.registerPersistent(spark, TableName, s"$wh/bronze/fact")
          println(s"PROBE WROTE ${spark.table(TableName).count()}")
        case "read" =>
          val t = spark.table(TableName)
          println(s"PROBE COUNT ${t.count()}")
          val pruned = t.where(col("ship_year") === 1995)
          val plan = pruned.queryExecution.executedPlan.toString
          println("PROBE PRUNE " +
            (plan.contains("PartitionFilters") && plan.contains("ship_year")))
          println(s"PROBE PRUNED_COUNT ${pruned.count()}")
      }
    } finally spark.stop()
  }
}
