package graft

import java.net.URLClassLoader

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Spark's generated-class cache holds a session's working set
  * ([[Sessions.build]] sizes it): the ops_iterative keys, run a second
  * time, compile almost none of their classes again.
  */
class CodegenCacheSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.build("local[4]", "4")

  private val dir = "/root/testdata/sf0.001"

  // perfbench/keys/ops_iterative.txt
  private val keys = Seq("dedup_candidates_verified", "eval_auc_bootstrap",
    "graph_adamic_adar", "sim_ann_filtered")

  /** Classes compiled while every key runs once to its full output. */
  private def round(): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    keys.foreach { k =>
      SparkEntry.queries(k)(spark, dir).write.format("noop").mode("overwrite").save()
      Sessions.releaseCheckpoints(spark)
    }
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("a second round of the ops_iterative keys compiles under 10% of the first round's classes") {
    spark
    // classes are cached per (context class loader, source): a fresh
    // loader makes the first round's driver-side compiles cold, whatever
    // earlier suites in this JVM left in the cache
    val thread = Thread.currentThread
    val saved = thread.getContextClassLoader
    thread.setContextClassLoader(new URLClassLoader(Array.empty, saved))
    val (first, second) =
      try { val f = round(); (f, round()) }
      finally thread.setContextClassLoader(saved)
    info(s"the first round compiled $first classes, the second $second")
    assert(first > 0)
    assert(second * 10 < first, s"the first round compiled $first classes, the second $second")
  }
}
