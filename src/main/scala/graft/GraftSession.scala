package graft

import java.lang.ref.WeakReference
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Turnkey session factory — the one-call entry point for a user
  * switching from the reference stack, and the only place the engine
  * builds a session: every main (`Bench`, `Verify`, `PlanProf`, `Run`,
  * `etl.CatalogProbe`) and the test harness call [[build]], so the
  * configuration the oracle verifies is the one the benchmark times.
  *
  * The merged configuration ([[conf]]) has three layers, later ones
  * winning:
  *
  *  - [[defaults]], for every master: the reference's write semantics
  *    (dynamic partition overwrite), AQE with skew-join handling, UTC,
  *    and a codegen cache sized for a query pack;
  *  - for a `local[n]` or `local[*]` master, the single-machine
  *    settings of [[localConf]];
  *  - the caller's `extraConf`, for deployment settings (a metastore,
  *    a warehouse dir) or an explicit override.
  *
  * `build` also suppresses `_SUCCESS` markers, registers the engine's
  * SQL functions, and, when `SPARK_GRAFT_PROFILE_JOBS` is set, prints
  * one stderr line per Spark job.
  *
  * Cluster deployments that build their own session instead can use
  * `--conf spark.sql.extensions=graft.GraftExtensions` and copy
  * [[defaults]].
  */
object GraftSession {

  /** Conf defaults the engine assumes on every master. */
  val defaults: Map[String, String] = Map(
    // the reference's load-bearing write semantics (SURVEY §1.4)
    "spark.sql.sources.partitionOverwriteMode" -> "dynamic",
    // runtime re-planning: partition coalescing + skew-join splitting
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // engine sessions are UTC end-to-end (string-date semantics depend
    // on it; so does oracle parity)
    "spark.sql.session.timeZone" -> "UTC",
    // a query pack runs hundreds of codegen stages: the 100-entry
    // default causes steady Janino recompilation in later passes
    "spark.sql.codegen.cache.maxEntries" -> "1000")

  private val LocalMaster = """local\[(\d+|\*)\]""".r

  /** Settings that only make sense when the whole application runs on
    * one machine, derived from a `local[n]` master (n = the core count
    * for `local[*]`); empty for any other master.
    *
    *  - one shuffle partition per core instead of 200: a local stage
    *    can run no more tasks at once, and each extra partition costs
    *    every map task one more shuffle block;
    *  - `RawLocalFileSystem` skips the `.crc` checksum sidecars, which
    *    halves FS operations on many-small-file partitioned writes;
    *  - committer v2 commits task output in parallel from the tasks
    *    instead of in a serial driver rename pass;
    *  - no web UI.
    *
    * A cluster master gets none of these: there the shuffle width is a
    * property of the cluster, and the cloud-store committers
    * (magic/S3A) play the role of the two file-system knobs. */
  private[graft] def localConf(master: String): Map[String, String] =
    master match {
      case LocalMaster(n) =>
        val cores =
          if (n == "*") Runtime.getRuntime.availableProcessors.toString
          else n
        Map(
          "spark.sql.shuffle.partitions" -> cores,
          "spark.hadoop.fs.file.impl" ->
            "org.apache.hadoop.fs.RawLocalFileSystem",
          "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" ->
            "2",
          "spark.ui.enabled" -> "false")
      case _ => Map.empty
    }

  /** The confs [[build]] applies for `master`; `extraConf` wins. Pure:
    * it starts no session. */
  private[graft] def conf(master: String,
      extraConf: Map[String, String] = Map.empty): Map[String, String] =
    defaults ++ localConf(master) ++ extraConf

  def build(master: String = "local[*]",
      appName: String = "graft",
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder().master(master).appName(appName)
    conf(master, extraConf).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    // suppress _SUCCESS markers (reference committer tuning, S8)
    spark.sparkContext.hadoopConfiguration
      .set("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    GraftExtensions.register(spark)
    if (sys.env.contains("SPARK_GRAFT_PROFILE_JOBS"))
      profileJobs(spark.sparkContext)
    spark
  }

  // the context the job profiler is attached to; weak, so a stopped
  // context is not kept alive by it
  private var profiled = new WeakReference[SparkContext](null)

  /** Attaches the job profiler to `sc` once, however often `build` is
    * called on a live context: one stderr line per job, with its wall
    * time, stage and task counts and `spark.job.description`. */
  private def profileJobs(sc: SparkContext): Unit = synchronized {
    if (profiled.get ne sc) {
      sc.addSparkListener(new SparkListener {
        private val starts =
          new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
        override def onJobStart(js: SparkListenerJobStart): Unit = {
          val d = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          starts.put(js.jobId, (System.nanoTime(),
            s"stages=${js.stageInfos.size} " +
              s"tasks=${js.stageInfos.map(_.numTasks).sum} $d"))
          ()
        }
        override def onJobEnd(je: SparkListenerJobEnd): Unit =
          Option(starts.remove(je.jobId)).foreach { case (t0, d) =>
            System.err.println(
              f"JOB ${je.jobId}%5d ${(System.nanoTime() - t0) / 1e9}%7.3f s  $d")
          }
      })
      profiled = new WeakReference(sc)
    }
  }
}
