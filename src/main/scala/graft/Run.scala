package graft

/** Ad-hoc CLI: run any named query from [[SparkEntry.queries]] against
  * a testdata dir, print the first rows, and optionally the physical
  * plan and the [[Metrics]] cost summary — the library's "try one
  * operator" front door.
  *
  * {{{
  * sbt "runMain graft.Run q01_pruned_agg /root/testdata/sf0.01 --explain --metrics"
  * sbt "runMain graft.Run --list"
  * }}}
  */
object Run {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty || args(0) == "--list") {
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      return
    }
    val name = args(0)
    val dir = args.lift(1).filterNot(_.startsWith("--"))
      .getOrElse("/root/testdata/sf0.01")
    val flags = args.filter(_.startsWith("--")).toSet
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name' — try --list"))

    val spark = GraftSession.build(
      master = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]",
      appName = s"graft-run-$name")
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val df = fn(spark, dir)
      df.show(flags.find(_.startsWith("--rows=")).map(_.drop(7).toInt)
        .getOrElse(20), truncate = false)
      if (flags.contains("--explain")) df.explain("formatted")
      if (flags.contains("--metrics")) {
        // show() executes a LIMITed copy of the plan; SQLMetrics hang
        // off df's own QueryExecution, so materialize that one.
        val n = df.collect().length
        println(s"-- full result: $n rows; executed-plan cost:")
        Metrics.summary(df).toSeq.sortBy(_._1).foreach { case (k, v) =>
          println(f"$k%-26s $v%,d")
        }
      }
    } finally spark.stop()
  }
}
