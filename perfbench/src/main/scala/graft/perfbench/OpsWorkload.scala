package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange

import graft.{Sessions, SparkEntry}

final case class Metric(name: String, value: Double, unit: String)

/** What Main needs from a workload. */
trait Workload {
  /** Build fixtures and run the checked warm-up pass. */
  def setup(): Unit
  def pass(p: Int): Unit
  /** Passes an untraced run always runs; each operation reports its
    * fastest time over them.
    */
  def minPasses: Int = 1
  /** Operations whose latencies make the op_* metrics. */
  def isQuery(op: OpRec): Boolean
  def layerMetrics(traced: Seq[OpRec], passes: Int): Seq[Metric]
}

/** ops_iterative and ops_onepass: registered keys of the workload's
  * operator families, each run to its full output through the noop sink,
  * in a seeded order, with Sessions.releaseCheckpoints after every key.
  * A traced run also counts, in set-up, the keys whose `.count()` plan
  * prunes work the full output does.
  */
final class OpsWorkload(h: Harness, seed: Long, keys: Seq[String], sfDir: String,
    expected: Map[String, Digest]) extends Workload {
  import OpsWorkload._

  private val spark = h.spark
  private val fns = SparkEntry.queries
  private val order = new scala.util.Random(seed).shuffle(keys)
  private var tracedReleased = 0
  private val pruned = mutable.HashSet.empty[String]

  private def release(): Unit = {
    if (h.isTracing) tracedReleased += spark.sparkContext.getPersistentRDDs.size
    Sessions.releaseCheckpoints(spark)
  }

  def setup(): Unit = order.foreach { k =>
    h.attempt(k) {
      try {
        val fn = fns.getOrElse(k, throw new NoSuchElementException(s"$k is not a registered key"))
        val want = expected.getOrElse(k, throw new NoSuchElementException(s"no expected output for $k"))
        val df = fn(spark, sfDir)
        // plan-only, on query executions of its own, so neither the
        // frame nor a timed pass carries this planning
        if (h.traceRun && countPrunes(df)) pruned += k
        val got = Canon.digest(df)
        got.mismatch(want).foreach(m => System.err.println(s"[perfbench] $k: $m"))
        got.mismatch(want).isEmpty
      } finally release()
    }
  }

  /** A handful of keys make op_p50_ms, so each key takes its best of two
    * passes to step around a slow spell on a shared host.
    */
  override def minPasses: Int = 2

  def pass(p: Int): Unit = order.foreach { k =>
    h.run(p, k, family(k), release = () => release())(fns(k)(spark, sfDir))
  }

  def isQuery(op: OpRec): Boolean = true

  def layerMetrics(traced: Seq[OpRec], passes: Int): Seq[Metric] = {
    val tracedNames = traced.map(_.group).toSet
    val n = math.max(1, passes)
    val relMs = h.tracer.all.filter(s => s.name == "release" && tracedNames.contains(s.trace))
      .map(_.durNs / 1e6).sum
    Seq(
      Metric("plan.count_pruned_keys", pruned.size.toDouble, "count"),
      Metric("ckpt.release_ms", relMs / n, "ms"),
      Metric("ckpt.rdds_released", tracedReleased.toDouble / n, "count")) ++
      Families.flatMap { f =>
        val mine = traced.filter(_.family == f)
        Seq(Metric(s"fam.${f}_s", mine.map(_.seconds).sum / n, "s"),
          Metric(s"fam.${f}_jobs", mine.map(o => h.exec.group(o.group).jobsEnded).sum.toDouble / n, "count"))
      }
  }
}

object OpsWorkload {
  /** The iterative families make ops_iterative; ops_onepass holds every
    * other key.
    */
  val Iterative: Seq[String] = Seq("graph", "sim", "dedup", "eval")
  /** Families with a per-layer metric of their own; keys of no named
    * family are `other`.
    */
  val Families: Seq[String] = Iterative ++
    Seq("mm", "agg", "text", "pipeline", "ts", "join", "dq", "win", "gdx", "other")

  def family(key: String): String = {
    val f = key.takeWhile(_ != '_')
    if (Families.contains(f)) f else "other"
  }

  def workloadOf(key: String): String =
    if (Iterative.contains(family(key))) "ops_iterative" else "ops_onepass"

  /** Walk a physical plan, seeing through adaptive wrappers and into
    * subqueries.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.inputPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def shape(p: SparkPlan): (Int, Int) = {
    val ns = nodes(p)
    (ns.count(_.children.isEmpty), ns.count(_.isInstanceOf[Exchange]))
  }

  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.inputPlan)
    case w if w.children.size == 1 &&
        (w.nodeName.startsWith("WholeStageCodegen") || w.nodeName == "InputAdapter") =>
      unwrap(w.children.head)
    case other => other
  }

  private def globalAgg(p: SparkPlan): Option[SparkPlan] = p match {
    case a: BaseAggregateExec if a.groupingExpressions.isEmpty => Some(unwrap(a.child))
    case _ => None
  }

  /** Strip what `.count()` adds on top of a plan: the final global
    * aggregate, the exchange under it if any, and the partial aggregate.
    */
  private def belowCount(p: SparkPlan): SparkPlan = {
    val top = unwrap(p)
    globalAgg(top).map {
      case e: Exchange => unwrap(e.child)
      case other => other
    }.map(c => globalAgg(c).getOrElse(c)).getOrElse(top)
  }

  /** Plan-only: does `.count()` plan fewer scans or exchanges than the
    * full output? Nothing is executed, and the frame's own query
    * execution is left unplanned: both plans are made on new ones.
    */
  def countPrunes(df: DataFrame): Boolean = {
    val full = df.sparkSession.sessionState.executePlan(df.queryExecution.analyzed)
    val (fullScans, fullExch) = shape(full.executedPlan)
    val (cntScans, cntExch) = shape(belowCount(df.groupBy().count().queryExecution.executedPlan))
    cntScans < fullScans || cntExch < fullExch
  }
}
