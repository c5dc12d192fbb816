package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-side trace for a traced run: one SparkListener plus one
  * QueryExecutionListener, registered by the benchmark (the program
  * has no tracing of its own yet). Every Spark job is attributed to
  * the job group the benchmark set around the layer call that caused
  * it, so per-layer task counts need no cooperation from the program.
  *
  * Counters accumulate from [[reset]] until [[snapshot]]; callers
  * drain the listener bus first (see [[org.apache.spark.BusDrain]]).
  */
final class EngineTrace extends SparkListener with QueryExecutionListener {

  private val lock = new Object
  private var jobs = 0L
  private var stages = 0L
  private var tasks = 0L
  private var runMs = 0L
  private var cpuNs = 0L
  private var shuffleWrite = 0L
  private var shuffleRead = 0L
  private var spill = 0L
  private var input = 0L
  private var queries = 0L
  private var planMs = 0L
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val groupOfStage = mutable.Map.empty[Int, String]
  private val tasksByGroup = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val inputByGroup = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val taskMsByStage = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  def reset(): Unit = lock.synchronized {
    jobs = 0; stages = 0; tasks = 0; runMs = 0; cpuNs = 0
    shuffleWrite = 0; shuffleRead = 0; spill = 0; input = 0
    queries = 0; planMs = 0
    jobStartMs.clear(); jobSpans.clear(); tasksByGroup.clear(); inputByGroup.clear()
    taskMsByStage.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    jobs += 1
    jobStartMs(e.jobId) = e.time
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(groupOfStage(_) = group)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobStartMs.remove(e.jobId).foreach(t0 => jobSpans += (t0 -> e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    tasks += 1
    val group = groupOfStage.getOrElse(e.stageId, "")
    tasksByGroup(group) += 1
    taskMsByStage.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
      inputByGroup(group) += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlanning(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlanning(qe)

  private def recordPlanning(qe: QueryExecution): Unit = {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum
    lock.synchronized { queries += 1; planMs += ms }
  }

  /** Tasks run under job groups whose name starts with `prefix`. */
  def tasksOf(prefix: String): Long = lock.synchronized {
    tasksByGroup.collect { case (g, n) if g.startsWith(prefix) => n }.sum
  }

  /** Bytes read from files by tasks under job groups starting with `prefix`. */
  def inputBytesOf(prefix: String): Double = lock.synchronized {
    inputByGroup.collect { case (g, n) if g.startsWith(prefix) => n }.sum.toDouble
  }

  /** Wall time of `[fromMs, toMs]` not covered by any job. */
  def driverGapMs(fromMs: Long, toMs: Long): Long = lock.synchronized {
    var covered = 0L
    var end = fromMs
    jobSpans.sortBy(_._1).foreach { case (s0, e0) =>
      val s = math.max(s0, end)
      val e = math.min(e0, toMs)
      if (e > s) { covered += e - s; end = e }
    }
    math.max(0L, (toMs - fromMs) - covered)
  }

  /** Max over stages (>= 2 tasks, slowest >= 10 ms) of slowest / median task. */
  def taskSkew: Double = lock.synchronized {
    taskMsByStage.values.iterator
      .filter(ts => ts.size >= 2 && ts.max >= 10)
      .map { ts => val s = ts.sorted; s.last.toDouble / math.max(1L, s(s.size / 2)) }
      .foldLeft(1.0)(math.max)
  }

  def snapshot: Map[String, Double] = lock.synchronized {
    Map(
      "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
      "executor_run_s" -> runMs / 1e3, "executor_cpu_s" -> cpuNs / 1e9,
      "shuffle_write_bytes" -> shuffleWrite.toDouble,
      "shuffle_read_bytes" -> shuffleRead.toDouble,
      "spill_bytes" -> spill.toDouble, "input_bytes" -> input.toDouble,
      "queries" -> queries.toDouble, "plan_ms" -> planMs.toDouble)
  }
}
