package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, named
  * `<module>.<phase>[.<tier>].<metric>` after the program's modules:
  * `spark` (the substrate), `etl` (the retail DAG's tiers), `format`
  * (GraftTable commits), `plans` and `sources` (query planning and
  * scans). Metrics that do not apply to the workload's storage tier
  * read 0 and are listed as not applicable. */
object Layers {
  type Metrics = Seq[(String, (Double, String))]

  private val Phases = Seq("initial", "incremental")

  import Main.{median, mixP50}
  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def build(t: Trace, store: Store, cores: Int,
      wh: String, tables: Map[String, String], ops: Seq[Main.Op],
      format: Seq[(String, Map[String, Snap])], months: Seq[(String, String)],
      samples: Seq[Main.QuerySample], bindMs: Seq[Double], peakRssMb: Double)
      : (Metrics, Seq[String]) = {
    val whPath = Paths.get(wh).toAbsolutePath
    val dataFiles =
      if (!Files.exists(whPath)) Nil
      else Files.walk(whPath).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map(p => whPath.relativize(p).toString ->
          Files.getLastModifiedTime(p).toMillis).toSeq
    val opLayers = ops.map(o =>
      o -> Trace.layers(t, cores, wh, o.start, o.end, dataFiles))
    def ofKind(k: String) = opLayers.filter(_._1.kind == k)
    val lake = store == LakeStore
    val out = Seq.newBuilder[(String, (Double, String))]
    val na = Seq.newBuilder[String]
    def put(name: String, v: Double, unit: String, applies: Boolean = true)
        : Unit = {
      out += name -> ((if (applies && !v.isNaN) v else 0.0, unit))
      if (!applies) na += name
    }

    // spark substrate, per phase (mean over the phase's calls)
    put("spark.peak_rss_mb", peakRssMb, "MB")
    for (phase <- Phases :+ "query") {
      val ls = ofKind(phase)
      def m(f: Trace.OpLayers => Double) = mean(ls.map(x => f(x._2)))
      put(s"spark.$phase.tasks", m(_.tasks.toDouble), "count")
      put(s"spark.$phase.task_cpu_s", m(_.cpuS), "s")
      put(s"spark.$phase.slot_util", m(_.slotUtil), "ratio")
      put(s"spark.$phase.shuffle_write_mb", m(_.shuffleMb), "MB")
      put(s"spark.$phase.spill_mb", m(_.spillMb), "MB")
      put(s"spark.$phase.gc_s", mean(ls.map(_._1.gcMs / 1000.0)), "s")
      put(s"spark.$phase.driver_only_s", m(_.driverOnlyS), "s")
    }

    // etl tiers; on the lake tier the data files are written outside
    // SQL write commands, so rows/files/bytes come from the manifests
    val commits = format.sliding(2).collect { case Seq(a, b) => b._1 -> (a._2, b._2) }
      .toSeq
    def lakeOut(phase: String, tier: String): (Double, Double, Double) = {
      val per = commits.filter(c => phase == "initial" == (c._1 == "initial"))
        .map { case (_, (before, after)) =>
          val added = tables.keys.filter(n => Store.tierOf(
            if (n.startsWith("mart_")) "gold" else n).contains(tier))
            .toSeq.flatMap(n => (after(n).files -- before(n).files.keys).values)
          (added.map(_.rows).sum.toDouble, added.size.toDouble,
            added.map(_.bytes).sum / 1048576.0)
        }
      (mean(per.map(_._1)), mean(per.map(_._2)), mean(per.map(_._3)))
    }
    for (phase <- Phases) {
      val ls = ofKind(phase).map(_._2)
      for (tier <- Store.Tiers) {
        def m(f: Trace.TierStats => Double) = mean(ls.map(l => f(l.tiers(tier))))
        val (rows, files, mb) =
          if (lake) lakeOut(phase, tier)
          else (m(_.rows.toDouble), m(_.files.toDouble), m(_.mb))
        val p = s"etl.$phase.$tier"
        put(s"$p.wall_s", m(_.wallS), "s")
        put(s"$p.task_cpu_s", m(_.cpuS), "s")
        put(s"$p.shuffle_write_mb", m(_.shuffleMb), "MB")
        put(s"$p.output_rows", rows, "count")
        put(s"$p.output_files", files, "count")
        put(s"$p.output_mb", mb, "MB")
      }
      put(s"etl.$phase.catalog_s", mean(ls.map(_.catalogS)), "s")
      put(s"etl.$phase.coverage", mean(ls.map(_.coverage)), "ratio")
    }

    // format: commits, files added/removed, rewrite efficiency, log size
    for (phase <- Phases) {
      val cs = commits.filter(c => phase == "initial" == (c._1 == "initial"))
      def m(f: (Snap, Snap) => Double) = mean(cs.map { case (_, (b, a)) =>
        tables.keys.toSeq.map(n => f(b(n), a(n))).sum })
      put(s"format.$phase.commits", m((b, a) => (a.version - b.version).toDouble),
        "count", lake)
      put(s"format.$phase.files_added",
        m((b, a) => (a.files.keySet -- b.files.keySet).size.toDouble), "count", lake)
      put(s"format.$phase.files_removed",
        m((b, a) => (b.files.keySet -- a.files.keySet).size.toDouble), "count", lake)
    }
    val rewrite = commits.filterNot(_._1 == "initial").zip(months).map {
      case ((_, (before, after)), (y, mo)) =>
        val (yi, mi) = (y.toInt, mo.toInt)
        val overlap = tables.keys.toSeq.map(n => before(n).files.values.count(e =>
          e.years._1 <= yi && yi <= e.years._2 &&
            e.months._1 <= mi && mi <= e.months._2)).sum
        val removed = tables.keys.toSeq
          .map(n => (before(n).files.keySet -- after(n).files.keySet).size).sum
        if (overlap == 0) 1.0 else removed.toDouble / overlap
    }
    put("format.incremental.rewrite_ratio", mean(rewrite), "ratio", lake)
    val logBytes = tables.values.toSeq.map(r => Paths.get(r, "_log"))
      .filter(Files.exists(_)).map(p => Files.walk(p).iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size).sum).sum
    put("format.log_kb", logBytes / 1024.0, "KB", lake)
    put("format.read_plan_ms", median(bindMs), "ms", lake)

    // queries: planning, binding and execution, per store
    for (s <- Seq(DirStore, LakeStore)) {
      val mine = s == store
      val n = math.max(1, samples.size).toDouble
      put(s"plans.${s.name}.plan_ms_p50", mixP50(samples)(_.planMs), "ms", mine)
      put(s"sources.${s.name}.exec_ms_p50", mixP50(samples)(_.execMs), "ms", mine)
      put(s"sources.${s.name}.files_read", samples.map(_.filesRead).sum / n,
        "count", mine)
      put(s"sources.${s.name}.scan_mb",
        samples.map(_.scanBytes).sum / n / 1048576.0, "MB", mine)
      put(s"sources.${s.name}.rows_read_per_row_out",
        samples.map(_.rowsRead).sum.toDouble /
          math.max(1L, samples.map(_.rowsOut).sum), "ratio", mine)
    }

    // the traced run's own walls: traced minus untraced is the overhead
    put("trace.initial_s", mean(ofKind("initial").map(_._2.wallS)), "s")
    put("trace.incremental_s", mean(ofKind("incremental").map(_._2.wallS)), "s")
    (out.result(), na.result())
  }
}
