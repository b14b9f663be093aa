package graft.perfbench

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation of a pass. `seconds` covers building the frame,
  * writing it to its sink and releasing what it left behind; failed
  * operations carry no time.
  */
final case class OpRec(pass: Int, name: String, family: String, group: String,
    seconds: Double, ok: Boolean, traced: Boolean)

/** Drives operations one at a time (a closed loop with one client) and,
  * on traced passes, records spans around each call into the program
  * plus Spark's job, stage, task and planning counts.
  */
final class Harness(val spark: SparkSession, val traceRun: Boolean) {
  val tracer = new Tracer(traceRun)
  val exec = new ExecRecorder
  val plans = new PlanRecorder
  val ops = mutable.ArrayBuffer.empty[OpRec]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var tracing = false
  /** Planning phase totals per traced operation group. */
  val planOf = mutable.HashMap.empty[String, Map[String, Long]]
  /** Offset that maps Spark's epoch-millisecond job times onto the
    * tracer's nanosecond clock.
    */
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def epochMsToNs(ms: Long): Long = ms * 1000000L + clockOffsetNs

  def drain(): Unit = ListenerBusDrain.drain(spark.sparkContext)

  /** Turn span and listener recording on for the next pass. */
  def startTracing(): Unit = if (traceRun && !tracing) {
    drain()
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(plans)
    tracing = true
  }

  def stopTracing(): Unit = if (tracing) {
    drain()
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(plans)
    tracing = false
  }

  def isTracing: Boolean = tracing

  def span[A](name: String, trace: String = null)(body: => A): A =
    if (tracing) tracer.span(name, trace)(body) else body

  /** Count one checked or timed operation; record a failure by name. */
  def attempt(name: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok =
      try body
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name threw: ${e.getClass.getSimpleName}: ${e.getMessage}")
        false
      }
    if (!ok) failures += name
    ok
  }

  def attemptedCount: Int = attempted
  def failed: Seq[String] = failures.toSeq

  /** Time one operation: build its frame, hand it to `sink` (by default
    * the noop sink, which consumes the full output), then run `release`,
    * which frees what the operation left behind; all three count in its
    * time. `check` runs untimed on the sink's result; a check that fails
    * counts the operation as failed.
    */
  def run(pass: Int, name: String, family: String,
      sink: DataFrame => Any = Harness.noop,
      release: () => Unit = () => (),
      check: Any => Boolean = _ => true)(build: => DataFrame): OpRec = {
    val group = s"$pass|$name"
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
    var secs = Double.NaN
    var frame: DataFrame = null
    // the previous operation drained the bus, so this snapshot holds
    // exactly the planning phases of everything before this operation
    val before = if (tracing) plans.snapshot else Map.empty[String, Long]
    val ok = attempt(name) {
      span(name, trace = group) {
        val t0 = System.nanoTime()
        val out =
          try {
            frame = span("build")(build)
            span("execute")(sink(frame))
          } finally span("release")(release())
        secs = (System.nanoTime() - t0) / 1e9
        check(out)
      }
    }
    if (tracing) {
      // planning events ride the listener bus: drain so this group's
      // phases are complete before the next operation adds its own
      drain()
      if (frame != null) plans.addFrame(frame.queryExecution)
      val after = plans.snapshot
      planOf(group) = after.keySet.map(k => k -> (after(k) - before(k))).toMap
    }
    spark.sparkContext.clearJobGroup()
    val rec = OpRec(pass, name, family, group, if (ok) secs else Double.NaN, ok, tracing)
    ops += rec
    rec
  }

  /** Attach each traced operation's Spark jobs as child spans of the
    * build or execute span they started in. Call after a drain.
    */
  def attachJobSpans(): Unit = {
    val byTrace = tracer.all.groupBy(_.trace)
    ops.filter(_.traced).foreach { op =>
      val spans = byTrace.getOrElse(op.group, Nil)
      spans.find(_.name == op.name).foreach { root =>
        val phases = spans.filter(_.parent == root.id)
        exec.group(op.group).jobs.zipWithIndex.foreach { case ((s, e), i) =>
          val (sNs, eNs) = (epochMsToNs(s), epochMsToNs(e))
          val parent = phases.find(p => sNs >= p.startNs && sNs <= p.endNs).getOrElse(root)
          tracer.add(parent, s"job$i", sNs, eNs)
        }
      }
    }
  }

  /** Driver time in an operation's build and execute spans that no Spark
    * job covers: planning, driver-side collection and waits between jobs.
    */
  def driverGapNs(op: OpRec): Long = {
    val spans = tracer.all.filter(_.trace == op.group)
    val phases = spans.filter(s => s.name == "build" || s.name == "execute")
    val jobs = exec.group(op.group).jobs.map { case (s, e) => (epochMsToNs(s), epochMsToNs(e)) }
    phases.map(p => p.durNs - Spans.coveredNs(p.startNs, p.endNs, jobs.toSeq)).sum
  }
}

object Harness {
  val noop: DataFrame => Any = _.write.format("noop").mode("overwrite").save()
}
