package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the listener saw it, with the task metrics of the
  * stages it ran. Times are epoch milliseconds. */
final class JobRec(val id: Int, val startMs: Long, val callSite: String) {
  var endMs: Long = startMs
  var tasks, runMs, cpuNs, gcMs, readBytes, shuffleBytes, writtenBytes,
      rowsWritten, spillBytes, taskFailures = 0L
}

/** Records jobs and their task metrics, and the long call site of every SQL
  * execution so a job run from a helper thread (a broadcast, a subquery)
  * is attributed to the action that caused it. */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val execSite = mutable.Map.empty[Long, String]
  private val execRoot = mutable.Map.empty[Long, Long]

  private def hasGraft(site: String) = site != null && site.contains("graft.")

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execSite(s.executionId) = s.details
      s.rootExecutionId.foreach(r => execRoot(s.executionId) = r)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val sites = exec.toSeq.flatMap(x => Seq(execSite.get(x),
      execRoot.get(x).flatMap(execSite.get)).flatten) ++
      e.stageInfos.sortBy(-_.stageId).map(_.details)
    val site = sites.find(hasGraft).orElse(sites.headOption).getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, e.time, site)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (e.taskInfo != null && e.taskInfo.failed) j.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.readBytes += m.inputMetrics.bytesRead
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead
        j.writtenBytes += m.outputMetrics.bytesWritten
        j.rowsWritten += m.outputMetrics.recordsWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Jobs recorded since the last call, in start order; forgets them. */
  def take(): Seq[JobRec] = synchronized {
    val out = jobs.values.toVector.sortBy(j => (j.startMs, j.id))
    jobs.clear(); stageJob.clear(); execSite.clear(); execRoot.clear()
    out
  }
}

/** Records, for every query execution that completes, when its analysis
  * started and how long analysis, optimization and planning took. */
final class PlanningListener extends QueryExecutionListener {
  private val seen = mutable.ArrayBuffer.empty[(Long, Double)]
  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
    if (ph.nonEmpty) seen += ((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum / 1e3))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  /** (start epoch ms, planning seconds) since the last call; forgets them. */
  def take(): Seq[(Long, Double)] = synchronized { val s = seen.toVector; seen.clear(); s }
}

/** Call-site → migration phase. A job belongs to the OUTERMOST engine
  * function on its call-site stack that this table names; of the actions
  * `Orchestrator.migrateContainer` calls itself, a `collect` is the classify
  * counters and a write is the dead-letter file; every other job is
  * `other`. Names only, never line numbers, so edits inside a function keep
  * the mapping. */
object Attribution {
  val Phases: Seq[String] =
    Seq("classify", "deadletter", "expected", "prune", "sink", "verify")

  private val named: Map[(String, String), String] = Map(
    ("graft.core.FileAccount", "readRawBucketsFor") -> "prune",
    ("graft.core.FileAccount", "upsertRaw") -> "sink",
    ("graft.core.FileAccount", "countRows") -> "verify",
    // the content check runs before the sink (expected) and after (verify)
    ("graft.Orchestrator", "stateStats") -> "state")
  private val container = ("graft.Orchestrator", "migrateContainer")

  /** (class, function) of each frame of a long call site, innermost
    * first; compiler suffixes (`$anonfun$`, `$1`, `$adapted`) removed. */
  def frames(longForm: String): Seq[(String, String)] =
    longForm.split('\n').toSeq.map(_.trim).filter(_.contains("(")).map { line =>
      val q = line.substring(0, line.indexOf('('))
      val qualified = q.substring(q.lastIndexOf('/') + 1)
      val dot = qualified.lastIndexOf('.')
      val cls = qualified.substring(0, math.max(dot, 0)).stripSuffix("$")
      val fn = qualified.substring(dot + 1).replace("$anonfun$", "")
        .split('$').find(_.nonEmpty).getOrElse("")
      (cls, fn)
    }

  /** Phase of one job before the expected/verify split: a named phase,
    * "state", "classify" (a `Dataset.collect` called by `migrateContainer`:
    * the counters over the classified frame), "deadletter" (a
    * `DataFrameWriter` call from `migrateContainer`), or "other". */
  def rawPhase(longForm: String): String = {
    val fs = frames(longForm)
    val caller = fs.indexWhere(_._1.startsWith("graft."))
    val action = fs.take(math.max(caller, 0))
    fs.reverse.filter(_._1.startsWith("graft."))
      .collectFirst { case f if named.contains(f) => named(f) }
      .getOrElse(
        if (caller < 0 || fs(caller) != container) "other"
        else if (action.exists { case (c, f) => c.endsWith(".Dataset") && f == "collect" }) "classify"
        else if (action.exists(_._1.endsWith(".DataFrameWriter"))) "deadletter"
        else "other")
  }

  /** Phases of the jobs of one migrate call, in start order. A content
    * check belongs to `verify` once the container's sink has run, else to
    * `expected`; the next container starts at its prune or classify job. */
  def phases(callSites: Seq[String]): Seq[String] = {
    var afterSink = false
    callSites.map(rawPhase).map {
      case "sink" => afterSink = true; "sink"
      case p @ ("classify" | "prune") => if (afterSink) afterSink = false; p
      case "state" => if (afterSink) "verify" else "expected"
      case p => p
    }
  }
}

object Intervals {
  /** Length of the union of [start, end) intervals, clipped to [lo, hi). */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
