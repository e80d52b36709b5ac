package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did during a traced run, recorded from outside the library by
  * one `SparkListener` (jobs, stages, tasks) and one `QueryExecutionListener`
  * (planning phases). Everything stays in memory and is written out once, at
  * the end of the run, as JSON rows that `perfbench/analyze.py` turns into
  * per-layer metrics.
  */
final class Trace extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, group: String, start: Long, var end: Long,
                       stages: Seq[Int], module: String)
  final class Stage(val id: Int) {
    var submitted = 0L; var completed = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
    var spill = 0L; var inBytes = 0L; var inRows = 0L
    var outBytes = 0L; var outRows = 0L
    var schedDelayMs = 0L; var failedTasks = 0
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }
  final case class SqlExec(start: Long, end: Long, analysisMs: Long,
                           optimizerMs: Long, physicalMs: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val sqlExecs = mutable.ArrayBuffer.empty[SqlExec]

  private def stage(id: Int): Stage = stages.getOrElseUpdate(id, new Stage(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val details = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, group, e.time, e.time, e.stageIds, Trace.module(details))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stage(e.stageInfo.stageId).submitted =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    val info = e.taskInfo
    if (info.failed || info.killed) s.failedTasks += 1
    else s.taskMs += info.duration
    if (s.submitted > 0) s.schedDelayMs += math.max(0L, info.launchTime - s.submitted)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId)
    s.completed = i.completionTime.getOrElse(System.currentTimeMillis())
    val m = i.taskMetrics
    if (m != null) {
      s.runMs = m.executorRunTime; s.cpuNs = m.executorCpuTime; s.gcMs = m.jvmGCTime
      s.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead = m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime
      s.spill = m.memoryBytesSpilled + m.diskBytesSpilled
      s.inBytes = m.inputMetrics.bytesRead; s.inRows = m.inputMetrics.recordsRead
      s.outBytes = m.outputMetrics.bytesWritten; s.outRows = m.outputMetrics.recordsWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val starts = phases.values.map(_.startTimeMs)
    val ends = phases.values.map(_.endTimeMs)
    if (starts.nonEmpty) synchronized {
      sqlExecs += SqlExec(starts.min, ends.max, ms("analysis"), ms("optimization"), ms("planning"))
    }
  }

  def json: String = synchronized {
    val js = jobs.values.map { j =>
      s"""{"id":${j.id},"group":${Json.str(j.group)},"t0":${j.start},"t1":${j.end},""" +
        s""""module":${Json.str(j.module)},"stages":${j.stages.mkString("[", ",", "]")}}"""
    }
    val ss = stages.values.map { s =>
      val sorted = s.taskMs.sorted
      val maxMs = if (sorted.isEmpty) 0L else sorted.last
      val medMs = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
      s"""{"id":${s.id},"t0":${s.submitted},"t1":${s.completed},"tasks":${sorted.size},""" +
        s""""failed_tasks":${s.failedTasks},"run_ms":${s.runMs},"cpu_ns":${s.cpuNs},""" +
        s""""gc_ms":${s.gcMs},"shuffle_write":${s.shuffleWrite},"shuffle_read":${s.shuffleRead},""" +
        s""""fetch_wait_ms":${s.fetchWaitMs},"spill":${s.spill},"in_bytes":${s.inBytes},""" +
        s""""in_rows":${s.inRows},"out_bytes":${s.outBytes},"out_rows":${s.outRows},""" +
        s""""sched_delay_ms":${s.schedDelayMs},"max_task_ms":$maxMs,"median_task_ms":$medMs}"""
    }
    val qs = sqlExecs.map { q =>
      s"""{"t0":${q.start},"t1":${q.end},"analysis_ms":${q.analysisMs},""" +
        s""""optimizer_ms":${q.optimizerMs},"physical_ms":${q.physicalMs}}"""
    }
    s"""{"jobs":${js.mkString("[", ",", "]")},"stages":${ss.mkString("[", ",", "]")},""" +
      s""""sql_execs":${qs.mkString("[", ",", "]")}}"""
  }
}

object Trace {
  private val Frame = """^\s*graft\.([A-Za-z]+)[.$]""".r.unanchored

  /** The module of the first repository frame in a job's call site:
    * `graft.<pkg>.X` gives `<pkg>`, the top-level `graft.SparkEntry` gives
    * `entry`, and a job with no repository frame (the benchmark's own final
    * action) gives `action`.
    */
  def module(callSite: String): String =
    callSite.linesIterator.collectFirst { case Frame(m) => m } match {
      case Some(m) if m.head.isUpper => "entry"
      case Some(m) => m
      case None => "action"
    }
}
