package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.GraftSession
import graft.format.GraftTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** One benchmark run in one JVM: set-up, the retail DAG on one storage
  * tier (initial load, then a monthly re-run), then the Athena-style
  * query mix over what it wrote. Writes `result.json` and
  * `answers.json` into the work directory; `run.py` adds the DuckDB
  * check and prints the metrics.
  *
  * Usage: Main --workload retail_dir|retail_lake --seed N --seconds S
  *   --trace 0|1 --rows N --work DIR --queries FILE
  */
object Main extends AdaptiveSparkPlanHelper {

  final case class Query(name: String, sql: String, tables: Seq[String])
  final case class Op(kind: String, start: Long, end: Long, gcMs: Long)
  final case class QuerySample(name: String, planMs: Double,
      execMs: Double, rowsOut: Long, filesRead: Long, scanBytes: Long,
      rowsRead: Long) {
    def totalMs: Double = planMs + execMs
  }

  private val checks = mutable.LinkedHashMap.empty[String, String]
  private val jvmStart = System.nanoTime
  private val timeline = mutable.LinkedHashMap.empty[String, Double]
  private def mark(label: String): Unit =
    timeline(label) = (System.nanoTime - jvmStart) / 1e9
  private var attempted = 0L
  private var failed = 0L

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private def seconds(ns: Long): Double = ns / 1e9

  /** Collects the previous call's garbage before the next timed call,
    * so one call's leftovers do not land in the next one's time. */
  private def quiesce(): Unit = System.gc()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Each query's median over the timed rounds, averaged over the query
    * mix. A pooled median of all samples would fall into the gap between
    * the fast and the slow queries and jump with single samples. */
  def mixP50(samples: Seq[QuerySample])(f: QuerySample => Double): Double = {
    val perQuery = samples.groupBy(_.name).values.map(q => median(q.map(f)))
    if (perQuery.isEmpty) Double.NaN else perQuery.sum / perQuery.size
  }

  def loadQueries(file: Path, lit: Map[String, String],
      known: Seq[String]): Seq[Query] = {
    val text = new String(Files.readAllBytes(file), StandardCharsets.UTF_8)
    text.split("(?m)^-- name: ").toSeq.tail.map { block =>
      val name = block.linesIterator.next().trim
      val body = lit.foldLeft(block.linesIterator.drop(1).mkString("\n")) {
        case (s, (k, v)) => s.replace("${" + k + "}", v)
      }.trim
      Query(name, body,
        known.filter(t => s"(?s).*\\b$t\\b.*".r.matches(body)))
    }
  }

  private def canonical(rows: Seq[Row]): String =
    rows.map(_.toSeq.mkString("\u0001")).sorted.mkString("\n").hashCode.toString

  /** Copies `files` (under `root`) to `dest`, keeping their paths
    * relative to `root`; returns the copies. */
  private def copyFiles(files: Seq[String], root: String, dest: Path)
      : Seq[String] = files.map { f =>
    val to = dest.resolve(Paths.get(root).relativize(Paths.get(f)))
    Files.createDirectories(to.getParent)
    Files.copy(Paths.get(f), to).toString
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val store = workload match {
      case "retail_dir" => DirStore
      case "retail_lake" => LakeStore
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val seed = opt("seed").toLong
    val runSeconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val rows = opt("rows").toLong
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors

    // ---- inputs from the seed ---------------------------------------------
    val rnd = new Random(seed)
    val months = rnd.shuffle(for (y <- Seq(2014, 2015); m <- 1 to 12)
      yield (y.toString, f"$m%02d")).take(ReRuns)
    val (qYear, qMonth) = months.head match {
      case (y, m) => (y, m.toInt.toString)
    }
    val literals = Map("year" -> qYear, "month" -> qMonth)
    val wh = work.resolve("warehouse").toString
    val tables = store.tables(wh)
    val queries = loadQueries(Paths.get(opt("queries")), literals,
      tables.keys.toSeq)

    // ---- set-up, three times: session + dimensions ------------------------
    var spark: SparkSession = null
    val setupS = (1 to 3).map { i =>
      val t0 = System.nanoTime
      spark = GraftSession.build(master = s"local[$cores]")
      DimGen.write(work.resolve(s"dims$i"), seed)
      val s = seconds(System.nanoTime - t0)
      if (i < 3) spark.stop()
      s
    }
    val dims = work.resolve("dims3").toString
    mark("setup")

    val trace = if (traced) Some(new Trace) else None
    trace.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }

    // ---- the DAG: initial load, then the monthly re-run ---------------------
    val ops = mutable.ArrayBuffer.empty[Op]
    val format = mutable.ArrayBuffer.empty[(String, Map[String, Snap])]
    def snapshotFormat(label: String): Unit =
      if (traced && store == LakeStore) format += label -> tables.map {
        case (name, root) => name -> Snap.of(spark, root)
      }
    def op(kind: String)(f: => Map[String, Long]): Boolean = {
      val gc0 = gcMs
      val t0 = System.currentTimeMillis
      val ok = try { f; true } catch {
        case e: Exception =>
          checks(s"$kind failed") = e.toString.take(300); false
      }
      ops += Op(kind, t0, System.currentTimeMillis, gcMs - gc0)
      attempted += 1
      if (!ok) failed += 1
      ok
    }
    val measureStart = System.nanoTime
    snapshotFormat("before")
    var ok = op("initial")(store.initial(spark, dims, wh, rows))
    // keep a copy of each mart's files as the initial load left them;
    // run.py checks that the re-runs reproduce them exactly
    val martsBefore = if (ok) Store.Marts.map(m =>
      m -> copyFiles(store.liveFiles(spark, tables(m)), tables(m),
        work.resolve("initial_marts").resolve(m))).toMap
      else Map.empty[String, Seq[String]]
    mark("initial")
    snapshotFormat("initial")
    for ((y, m) <- months if ok) {
      quiesce()
      ok = op("incremental")(store.incremental(spark, dims, wh, rows, y, m))
      mark(s"incremental $y-$m")
      snapshotFormat(s"incremental $y-$m")
    }

    // ---- Athena-style queries: one client, closed loop ---------------------
    // The client binds the tables once, runs untimed rounds to warm the
    // query path (code generation, JIT) and then timed rounds of every
    // query. Every round's answers are checked.
    val samples = mutable.ArrayBuffer.empty[QuerySample]
    val bindMs = mutable.ArrayBuffer.empty[Double]
    val firstAnswer = mutable.Map.empty[String, String]
    val lastRows = mutable.Map.empty[String, Seq[Row]]
    var rounds = 0
    def bind(): Double = {
      val t0 = System.nanoTime
      queries.flatMap(_.tables).distinct.foreach(t =>
        store.bind(spark, tables(t)).createOrReplaceTempView(t))
      (System.nanoTime - t0) / 1e6
    }
    def round(timed: Boolean): Unit = {
      queries.foreach { q =>
        attempted += 1
        try {
          val t1 = System.nanoTime
          val df = spark.sql(q.sql)
          df.queryExecution.executedPlan
          val t2 = System.nanoTime
          val result = df.collect().toSeq
          val t3 = System.nanoTime
          val scans = if (traced) collect(df.queryExecution.executedPlan) {
            case s: FileSourceScanExec => s.metrics
          } else Nil
          def m(k: String) = scans.flatMap(_.get(k)).map(_.value).sum
          if (timed) samples += QuerySample(q.name, (t2 - t1) / 1e6,
            (t3 - t2) / 1e6, result.size, m("numFiles"), m("filesSize"),
            m("numOutputRows"))
          val fp = canonical(result)
          if (firstAnswer.getOrElseUpdate(q.name, fp) != fp) {
            failed += 1
            checks(s"${q.name} round $rounds") = "answer differs from round 0"
          }
          lastRows(q.name) = result
        } catch {
          case e: Exception =>
            failed += 1
            checks(s"${q.name} round $rounds") = e.toString.take(300)
        }
      }
      rounds += 1
    }
    quiesce()
    if (ok) bindMs += bind()
    while (ok && rounds < WarmupRounds) round(timed = false)
    mark("query warm-up")
    val queryGc0 = gcMs
    val queryStart = System.currentTimeMillis
    while (ok && (rounds < WarmupRounds + MinRounds ||
        seconds(System.nanoTime - measureStart) < runSeconds)) round(timed = true)
    ops += Op("query", queryStart, System.currentTimeMillis, gcMs - queryGc0)
    mark("queries")

    // ---- results ------------------------------------------------------------
    val initialS = ops.filter(_.kind == "initial").map(o => (o.end - o.start) / 1000.0)
    val incS = ops.filter(_.kind == "incremental").map(o => (o.end - o.start) / 1000.0)
    val measured = samples.toSeq
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (median(setupS), "s"),
      "initial_s" -> (median(initialS.toSeq), "s"),
      "incremental_s" -> (median(incS.toSeq), "s"),
      "query_p50_ms" -> (mixP50(measured)(_.totalMs), "ms"),
      "warehouse_mb" -> (dirBytes(Paths.get(wh)) / 1048576.0, "MB"),
    )

    val layers = trace.map { t =>
      t.settle()
      Layers.build(t, store, cores, wh, tables, ops.toSeq, format.toSeq,
        months, measured, bindMs.toSeq, peakRssMb)
    }

    val live = tables.filter { case (n, _) => n != "bronze" }
      .map { case (n, root) => n -> (if (ok) store.liveFiles(spark, root) else Nil) }
    val answers = Map(
      "store" -> store.name,
      "tables" -> live.filter { case (n, _) => queries.exists(_.tables.contains(n)) },
      "queries" -> queries.map(q => Map("name" -> q.name, "sql" -> q.sql,
        "rows" -> lastRows.getOrElse(q.name, Nil).map(_.toSeq))),
      "marts" -> martsBefore.map { case (m, before) =>
        m -> Map("initial" -> before, "final" -> live(m)) })
    Files.write(work.resolve("answers.json"),
      Json(answers).getBytes(StandardCharsets.UTF_8))
    mark("layers + answers")
    spark.stop()

    val result = Map(
      "timeline_s" -> timeline,
      "workload" -> workload, "seed" -> seed, "rows" -> rows,
      "cores" -> cores, "traced" -> traced,
      "months" -> months.map { case (y, m) => s"$y-$m" },
      "literals" -> literals,
      "setup_runs_s" -> setupS, "initial_runs_s" -> initialS,
      "incremental_runs_s" -> incS, "query_samples" -> measured.size,
      "query_ms" -> measured.map(q => s"${q.name} ${q.totalMs.round}"),
      "peak_rss_mb" -> peakRssMb,
      "query_rounds" -> math.max(0, rounds - WarmupRounds),
      "warmup_rounds" -> math.min(rounds, WarmupRounds),
      "end_to_end" -> e2e.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> mutable.LinkedHashMap(layers.toSeq.flatMap(_._1).map {
        case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }: _*),
      "not_applicable" -> layers.map(_._2).getOrElse(Nil),
      "attempted" -> attempted, "failed" -> failed, "failures" -> checks)
    Files.write(work.resolve("result.json"),
      Json(result).getBytes(StandardCharsets.UTF_8))
  }

  /** Untimed query rounds before the timed ones. */
  val WarmupRounds = 2
  /** Timed query rounds every run makes even when the DAG used up the time. */
  val MinRounds = 3
  /** Monthly re-runs after the initial load. */
  val ReRuns = 1
}

/** A lake table's committed state: version and live files. */
final case class Snap(version: Long, files: Map[String, Snap.Entry])

object Snap {
  final case class Entry(rows: Long, bytes: Long, years: (Int, Int),
      months: (Int, Int))

  def of(spark: SparkSession, root: String): Snap = {
    if (!Files.exists(Paths.get(root, "_log"))) return Snap(0, Map.empty)
    val t = GraftTable.forPath(spark, root)
    val version = t.history().agg(max("version")).head().getLong(0)
    val m = t.manifest(version)
    def range(c: String) = (col(s"min_$c").cast("int"), col(s"max_$c").cast("int"))
    val (y0, y1) = range("purchase_year")
    val (m0, m1) = range("purchase_month")
    Snap(version, m.select(col("path"), col("row_count"),
        col("size_bytes"), y0, y1, m0, m1).collect().map { r =>
      def i(k: Int) = if (r.isNullAt(k)) Int.MinValue else r.getInt(k)
      r.getString(0) -> Entry(r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2), (i(3), i(4)), (i(5), i(6)))
    }.toMap)
  }
}
