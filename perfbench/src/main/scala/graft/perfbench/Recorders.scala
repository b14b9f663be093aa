package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Execution counters of one job group (the benchmark sets one group per
  * operation). Times are milliseconds as Spark reports them.
  */
final class GroupExec {
  var jobsStarted = 0
  var jobsEnded = 0
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var schedMs = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  /** Executor run time of tasks in each job's final (result) stage. */
  var resultStageRunMs = 0L
  /** (start, end) of each finished job, epoch milliseconds. */
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** SparkListener that sums job, stage, task, shuffle and spill counts per
  * job group. Spark delivers events on its listener thread; read the
  * results only after [[org.apache.spark.ListenerBusDrain.drain]].
  */
final class ExecRecorder extends SparkListener {
  private val groups = mutable.HashMap.empty[String, GroupExec]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val resultStages = mutable.HashSet.empty[Int]
  private val jobInfo = mutable.HashMap.empty[Int, (String, Long)]

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  private def agg(g: String): GroupExec = groups.getOrElseUpdate(g, new GroupExec)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    val a = agg(g)
    a.jobsStarted += 1
    e.stageIds.foreach(stageGroup(_) = g)
    if (e.stageIds.nonEmpty) resultStages += e.stageIds.max
    jobInfo(e.jobId) = (g, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (g, t0) =>
      val a = agg(g)
      a.jobsEnded += 1
      a.jobs += ((t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    agg(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageGroup.getOrElse(e.stageId, ""))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      a.spillB += m.memoryBytesSpilled
      if (resultStages.contains(e.stageId)) a.resultStageRunMs += m.executorRunTime
      val info = e.taskInfo
      if (info != null && info.finished) {
        // the scheduler delay Spark's UI shows: task wall time not spent
        // deserializing, running, serializing or fetching the result
        a.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      }
    }
  }

  def group(g: String): GroupExec = synchronized(groups.getOrElse(g, new GroupExec))

}

/** Query planning time: sums the analysis, optimization and planning
  * phases of every query execution Spark reports through its
  * QueryExecutionListener bus.
  */
final class PlanRecorder extends QueryExecutionListener {
  private val phases = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  /** Query executions already counted, weakly held. */
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[QueryExecution, java.lang.Boolean])

  private def add(qe: QueryExecution): Unit = synchronized {
    if (seen.add(qe)) qe.tracker.phases.foreach { case (phase, s) => phases(phase) += s.durationMs }
  }

  /** Add the analysis a frame ran when it was built. A sink that runs an
    * action on the frame itself (`collect`) reports its query execution
    * whole, and then nothing is added here; a sink that wraps the frame
    * in a command (the noop write) plans a new one, and the frame's own
    * analysis would be missed. Call after the bus has drained.
    */
  def addFrame(qe: QueryExecution): Unit = synchronized {
    if (seen.add(qe)) qe.tracker.phases.get("analysis").foreach(s => phases("analysis") += s.durationMs)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)

  def snapshot: Map[String, Long] = synchronized(phases.toMap.withDefaultValue(0L))
}
