package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources
  .InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Records Spark jobs, tasks and SQL executions, and the write and
  * scan commands each execution ran, so every second of a pipeline call
  * can be assigned to the tier whose output it produced.
  *
  * Attribution never reads `spark.job.description`. A job belongs to
  * the SQL execution named by its `spark.sql.execution.id` property; an
  * execution belongs to the tier of the path its write command writes
  * (or, for an execution that only reads, the deepest tier it scans).
  * The write and scan paths come from the executed plans handed to the
  * QueryExecutionListener, linked to executions through the metric
  * accumulator ids the execution-start events carry. Jobs that run
  * outside any SQL execution (the table format's data-file writers)
  * are assigned by matching their final tasks' end times to the
  * modification times of the data files they left in the warehouse; a
  * job that writes nothing (a range partitioner's sampling pass) takes
  * the tier of an assigned job that computes the same RDDs.
  */
final class Trace extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  import Trace._

  private val events = new AtomicLong
  val jobs = TrieMap.empty[Int, JobRec]
  private val stageJob = TrieMap.empty[Int, Int]
  val execs = TrieMap.empty[Long, ExecRec]
  private val accumExec = TrieMap.empty[Long, Long]
  private val commands = new ConcurrentLinkedQueue[CommandRec]

  // ---- SparkListener ---------------------------------------------------

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = new JobRec(e.jobId, e.time, exec,
      if (e.stageIds.isEmpty) -1 else e.stageIds.max,
      e.stageInfos.flatMap(_.rddInfos.map(_.id)).toSet)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    for (jobId <- stageJob.get(e.stageId); j <- jobs.get(jobId)) {
      val m = e.taskMetrics
      j.synchronized {
        j.tasks += 1
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.runMs += m.executorRunTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spillDisk += m.diskBytesSpilled
        }
        if (e.stageId == j.finalStage) j.finalTaskEnds += e.taskInfo.finishTime
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      events.incrementAndGet()
      execs(s.executionId) = new ExecRec(s.executionId, s.time)
      link(s.executionId, s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      events.incrementAndGet()
      link(u.executionId, u.sparkPlanInfo)
    case x: SparkListenerSQLExecutionEnd =>
      events.incrementAndGet()
      execs.get(x.executionId).foreach(_.end = x.time)
    case _ => ()
  }

  private def link(exec: Long, info: SparkPlanInfo): Unit = {
    info.metrics.foreach(m => accumExec.putIfAbsent(m.accumulatorId, exec))
    info.children.foreach(link(exec, _))
  }

  // ---- QueryExecutionListener --------------------------------------------

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    events.incrementAndGet()
    val plan = qe.executedPlan
    val writes = collectWithSubqueries(plan) {
      case w: DataWritingCommandExec => w.cmd match {
        case c: InsertIntoHadoopFsRelationCommand =>
          def v(k: String) = c.metrics.get(k).map(_.value).getOrElse(0L)
          Some(WriteRec(c.outputPath.toUri.getPath, v("numOutputRows"),
            v("numFiles"), v("numOutputBytes")))
        case _ => None
      }
    }.flatten
    val scans = collectWithSubqueries(plan) {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toUri.getPath)
    }.flatten
    val ids = collectWithSubqueries(plan) {
      case p => p.metrics.values.map(_.id)
    }.flatten
    commands.add(CommandRec(ids.toSet, writes, scans))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = events.incrementAndGet()

  /** Waits until the listener bus has delivered everything posted so
    * far (no new event for half a second, at most ten seconds). */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis + 10000
    var last = -1L
    while (events.get != last && System.currentTimeMillis < deadline) {
      last = events.get
      Thread.sleep(500)
    }
  }

  /** Write and scan commands, keyed by the execution that ran them. */
  def commandsByExec: Map[Long, Seq[CommandRec]] =
    commands.asScala.toSeq.flatMap { c =>
      c.metricIds.iterator.flatMap(accumExec.get).toSeq.headOption
        .map(_ -> c)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
}

object Trace {
  final class JobRec(val id: Int, val start: Long, val exec: Long,
      val finalStage: Int, val rdds: Set[Int]) {
    @volatile var end: Long = -1L
    var tasks = 0L
    var cpuNs = 0L
    var runMs = 0L
    var shuffleWrite = 0L
    var spillDisk = 0L
    val finalTaskEnds = mutable.ArrayBuffer.empty[Long]
  }
  final class ExecRec(val id: Long, val start: Long) {
    @volatile var end: Long = -1L
  }
  final case class WriteRec(path: String, rows: Long, files: Long,
      bytes: Long)
  final case class CommandRec(metricIds: Set[Long], writes: Seq[WriteRec],
      scans: Seq[String])

  /** What one pipeline call did, split by tier. */
  final case class TierStats(wallS: Double, cpuS: Double,
      shuffleMb: Double, rows: Long, files: Long, mb: Double)
  final case class OpLayers(wallS: Double, tasks: Long, cpuS: Double,
      slotUtil: Double, shuffleMb: Double, spillMb: Double,
      driverOnlyS: Double, catalogS: Double, tiers: Map[String, TierStats],
      coverage: Double)

  private val MB = 1024.0 * 1024.0

  /** Layers of the call that ran in [start, end] against warehouse
    * `wh`. `dataFiles` lists the warehouse's data files as
    * (path relative to `wh`, modification time). */
  def layers(t: Trace, cores: Int, wh: String, start: Long, end: Long,
      dataFiles: Seq[(String, Long)]): OpLayers = {
    val byExec = t.commandsByExec
    val whPath = new java.io.File(wh).getAbsolutePath + "/"
    def tierOfPath(p: String): Option[String] =
      if (p.startsWith(whPath)) Store.tierOf(p.stripPrefix(whPath)) else None
    val order = Store.Tiers
    def execTier(e: Long): Option[String] = {
      val cmds = byExec.getOrElse(e, Nil)
      cmds.flatMap(_.writes).flatMap(w => tierOfPath(w.path)).headOption
        .orElse(cmds.flatMap(_.scans).flatMap(tierOfPath)
          .sortBy(x => -order.indexOf(x)).headOption)
    }
    val sortedFiles = dataFiles.sortBy(_._2).toArray
    def nearestTier(ts: Long): Option[String] = {
      // binary search for the data file closed closest to `ts`
      var lo = 0
      var hi = sortedFiles.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (sortedFiles(mid)._2 < ts) lo = mid + 1 else hi = mid
      }
      Seq(lo - 1, lo).filter(i => i >= 0 && i < sortedFiles.length)
        .map(sortedFiles(_)).filter(f => math.abs(f._2 - ts) <= 250)
        .sortBy(f => math.abs(f._2 - ts)).headOption
        .flatMap(f => Store.tierOf(f._1))
    }
    val opJobs = t.jobs.values.filter(j => j.start >= start && j.start <= end)
      .toSeq
    def majority(xs: Seq[String]) =
      if (xs.isEmpty) None else Some(xs.groupBy(identity).maxBy(_._2.size)._1)
    val direct: Map[Int, Option[String]] = opJobs.map { j =>
      j.id -> (if (j.exec >= 0) execTier(j.exec)
        else majority(j.synchronized(j.finalTaskEnds.toList)
          .flatMap(nearestTier)))
    }.toMap
    val jobTier: Map[Int, Option[String]] = opJobs.map { j =>
      j.id -> direct(j.id).orElse(
        if (j.exec >= 0) None
        else majority(opJobs.filter(k => k.id != j.id &&
          (k.rdds & j.rdds).nonEmpty).flatMap(k => direct(k.id))))
    }.toMap
    def jobEnd(j: JobRec) = if (j.end < 0) end else j.end
    def span(j: JobRec): (Long, Long) =
      t.execs.get(j.exec).filter(_.end >= 0) match {
        case Some(x) => (math.min(x.start, j.start), math.max(x.end, jobEnd(j)))
        case None => (j.start, jobEnd(j))
      }
    val tiers = order.map { tier =>
      val js = opJobs.filter(j => jobTier(j.id).contains(tier))
      val spans = js.map(span)
      val writes = byExec.filter { case (e, _) =>
          t.execs.get(e).exists(x => x.start >= start && x.start <= end)
        }.values.flatten.flatMap(_.writes)
        .filter(w => tierOfPath(w.path).contains(tier))
      tier -> TierStats(
        if (spans.isEmpty) 0.0
        else (spans.map(_._2).max - spans.map(_._1).min) / 1000.0,
        js.map(_.cpuNs).sum / 1e9, js.map(_.shuffleWrite).sum / MB,
        writes.map(_.rows).sum, writes.map(_.files).sum,
        writes.map(_.bytes).sum / MB)
    }.toMap
    // wall time with no job running
    val intervals = opJobs.map(j => (math.max(j.start, start),
      math.min(jobEnd(j), end))).filter(i => i._2 > i._1).sortBy(_._1)
    var busy = 0L
    var cur = (0L, -1L)
    intervals.foreach { case (s, e) =>
      if (s > cur._2) { busy += math.max(0L, cur._2 - cur._1); cur = (s, e) }
      else cur = (cur._1, math.max(cur._2, e))
    }
    busy += math.max(0L, cur._2 - cur._1)
    val wall = (end - start) / 1000.0
    val driverOnly = math.max(0.0, wall - busy / 1000.0)
    val lastTierEnd = opJobs.filter(j => jobTier(j.id).isDefined)
      .map(j => span(j)._2)
    val catalog =
      if (lastTierEnd.isEmpty) 0.0
      else math.max(0.0, (end - lastTierEnd.max) / 1000.0)
    OpLayers(wall, opJobs.map(_.tasks).sum, opJobs.map(_.cpuNs).sum / 1e9,
      opJobs.map(_.runMs).sum / 1000.0 / math.max(1e-9, wall * cores),
      opJobs.map(_.shuffleWrite).sum / MB, opJobs.map(_.spillDisk).sum / MB,
      driverOnly, catalog, tiers,
      (tiers.values.map(_.wallS).sum + catalog + driverOnly) /
        math.max(1e-9, wall))
  }
}
