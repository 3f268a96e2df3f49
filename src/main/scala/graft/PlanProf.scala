package graft

/** Optimization-round measurement harness (guide §1): for each named
  * registry query, dump `.explain("formatted")` to a file and time the
  * computation against the NOOP sink (guide §1.4 — eagerly computes
  * every column of every row without paying or hiding behind an output
  * write), repeated so JIT/page-cache warmup is visible. Prints one
  * line per query: name, warm noop seconds (min of N), Exchange count,
  * and the Metrics volume summary (scan/shuffle bytes).
  *
  * Usage: PlanProf <outDir> <query>[,query…] [reps]
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 32) — same contract as Bench.
  */
object PlanProf {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 2) args(2).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", "graft-planprof")
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      spark.sparkContext.setJobDescription(name)
      // Bench-identical timed region: fn() + the action (several
      // queries do eager setup inside fn); noop sink instead of
      // count() so column pruning can't hide work (guide §1.4).
      def once(): Double = {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val profCommits = sys.env.contains("SPARK_GRAFT_PROFILE_COMMITS")
      if (profCommits) {
        graft.format.CommitProfile.reset()
        graft.format.CommitProfile.on.set(true)
      }
      val times = (1 to reps).map(_ => once())
      if (profCommits) {
        graft.format.CommitProfile.on.set(false)
        val snap = graft.format.CommitProfile.snapshotNs
        System.err.println(s"COMMITPROF $name " + snap.toSeq
          .sortBy(-_._2)
          .map { case (k, v) => f"$k=${v / 1e9}%.2f" }.mkString(" "))
      }
      // executed-plan dump (AQE-final) from one more run
      val df = fn(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/$name.txt"),
        plan.getBytes("UTF-8"))
      val executed = df.queryExecution.executedPlan.toString
      val nExchange = executed.linesIterator.count(l =>
        l.contains("Exchange ") && !l.contains("BroadcastExchange"))
      val nBroadcast = executed.linesIterator.count(
        _.contains("BroadcastExchange"))
      val m = Metrics.summary(df)
      println(f"$name%-32s min=${times.min}%7.3f all=${
        times.map(t => f"$t%.2f").mkString(",")} exch=$nExchange bcast=$nBroadcast " +
        f"scanMB=${m.getOrElse("scan_bytes", 0L) / 1e6}%.1f " +
        f"shufMB=${m.getOrElse("shuffle_bytes_written", 0L) / 1e6}%.1f " +
        f"spillMB=${m.getOrElse("spill_bytes", 0L) / 1e6}%.1f " +
        f"outRows=${m.getOrElse("output_rows", 0L)}")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
