package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-layer recorder for traced runs, registered from outside the
  * program: a SparkListener for jobs, stages and tasks, and a
  * QueryExecutionListener for Catalyst's analysis, optimization and
  * planning phases. Every record carries its wall-clock time (epoch ms),
  * so a caller slices the record by the time window of the operation it
  * timed. Untraced runs never register it. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  /** `callSite` is the long form (user frames, innermost first) of the
    * action that caused the job: a job that adaptive execution submits
    * from its own thread carries no user frames, so it takes the call
    * site of its SQL execution. `execution` is that execution's id. */
  final case class Job(id: Int, start: Long, var end: Long, description: String,
                       callSite: String, execution: Long, resultStage: Int)
  final case class Task(stage: Int, durationMs: Long, cpuNs: Long, runMs: Long,
                        shuffleWrite: Long, shuffleRead: Long, spill: Long,
                        inputBytes: Long, inputRows: Long, peakMem: Long)

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobOfStage = mutable.Map.empty[Int, Int]
  private val stagesDone = mutable.ArrayBuffer.empty[(Int, Int)] // (stage, jobId)
  private val tasks = mutable.ArrayBuffer.empty[(Int, Task)]     // (jobId, task)
  private val planning = mutable.ArrayBuffer.empty[(Long, Double)]
  private val executionSite = mutable.Map.empty[Long, String]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(): Unit = org.apache.spark.perfbench.ListenerBusShim.drain(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    val result = if (e.stageInfos.isEmpty) -1 else e.stageInfos.map(_.stageId).max
    val execution = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val site = executionSite.getOrElse(execution,
      e.stageInfos.find(_.stageId == result).map(_.details).getOrElse(""))
    e.stageIds.foreach(s => jobOfStage(s) = e.jobId)
    jobs += Job(e.jobId, e.time, -1L, desc, site, execution, result)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { executionSite(s.executionId) = s.details }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo.stageId
    stagesDone += ((s, jobOfStage.getOrElse(s, -1)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += ((jobOfStage.getOrElse(e.stageId, -1), Task(e.stageId,
      e.taskInfo.duration, m.executorCpuTime, m.executorRunTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
      m.inputMetrics.recordsRead, m.peakExecutionMemory)))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlanning(qe)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    recordPlanning(qe)

  private def recordPlanning(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) planning += ((phases.values.map(_.startTimeMs).min,
      phases.values.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3))
  }

  /** Jobs started in [t0, t1] (epoch ms). */
  def jobsIn(t0: Long, t1: Long): Seq[Job] = synchronized {
    jobs.filter(j => j.start >= t0 && j.start <= t1).toSeq
  }

  /** The engine metrics of the traced operations, whose wall-clock
    * windows (epoch ms) are given. */
  def engine(windows: Seq[(Long, Long)], cores: Int): Seq[(String, Double)] = synchronized {
    val js = windows.flatMap { case (t0, t1) => jobsIn(t0, t1) }.distinctBy(_.id)
    val ids = js.map(_.id).toSet
    val ts = tasks.collect { case (j, t) if ids(j) => t }.toSeq
    val stages = stagesDone.count { case (_, j) => ids(j) }
    val wall = math.max(windows.map { case (t0, t1) => t1 - t0 }.sum, 1L) / 1e3
    // wall time covered by no running job: the driver planning, waiting
    // or doing its own work between actions
    val covered = windows.map { case (t0, t1) =>
      var sum = 0L
      var reach = t0
      jobsIn(t0, t1).filter(_.end >= 0).sortBy(_.start).foreach { j =>
        val s = math.max(j.start, reach)
        val e = math.min(j.end, t1)
        if (e > s) { sum += e - s; reach = e }
      }
      sum
    }.sum
    val cpu = ts.map(_.cpuNs).sum / 1e9
    val skew = ts.groupBy(_.stage).values.filter(_.size >= 2).map { st =>
      val med = Summary.median(st.map(_.durationMs.toDouble))
      st.map(_.durationMs).max / math.max(med, 1.0)
    }
    Seq(
      "engine.jobs" -> js.size.toDouble,
      "engine.stages" -> stages.toDouble,
      "engine.tasks" -> ts.size.toDouble,
      "engine.planning_s" -> planning.collect {
        case (t, s) if windows.exists { case (t0, t1) => t >= t0 && t <= t1 } => s }.sum,
      "engine.driver_gap_s" -> (wall - covered / 1e3),
      "engine.executor_cpu_s" -> cpu,
      "engine.executor_run_s" -> ts.map(_.runMs).sum / 1e3,
      "engine.cpu_utilization" -> cpu / (wall * cores),
      "engine.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "engine.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "engine.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "engine.input_bytes" -> ts.map(_.inputBytes).sum.toDouble,
      "engine.input_rows" -> ts.map(_.inputRows).sum.toDouble,
      "engine.peak_execution_memory_bytes" ->
        (if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max.toDouble),
      "engine.task_skew" -> (if (skew.isEmpty) 1.0 else skew.max))
  }

  /** Number of tasks a stage ran. */
  def stageTasks(stage: Int): Int = synchronized {
    tasks.count { case (_, t) => t.stage == stage }
  }

  def jobOf(stage: Int): Option[Int] = synchronized { jobOfStage.get(stage) }

  def tasksOf(jobIds: Set[Int]): Int = synchronized {
    tasks.count { case (j, _) => jobIds(j) }
  }
}
