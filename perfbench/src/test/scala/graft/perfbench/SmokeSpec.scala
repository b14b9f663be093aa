package graft.perfbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Sessions

/** Tiny-config runs of every workload, traced and untraced, plus the
  * plan-only count comparison.
  */
class SmokeSpec extends AnyFunSuite {
  private lazy val spark = Sessions.build("local[4]", "4")
  private lazy val sf = new File(Main.dataRoot(spark), "sf0.001").getPath
  private val benchmark = new ObjectMapper().readTree(new File("../BENCHMARK.json"))

  private def names(key: String): Set[String] = {
    val it = benchmark.get(key).elements()
    var s = Set.empty[String]
    while (it.hasNext) s += it.next().get("name").asText
    s
  }

  private def run(workload: String, trace: Int): (Int, com.fasterxml.jackson.databind.JsonNode, File) = {
    val out = Files.createTempDirectory("perfbench-smoke").toFile
    val buf = new ByteArrayOutputStream()
    val code = Console.withOut(buf) {
      Main.run(spark, Map("workload" -> workload, "seed" -> "5", "seconds" -> "1",
        "trace" -> trace.toString, "tiny" -> "true", "sf" -> sf, "bench-dir" -> ".",
        "out" -> out.getPath, "work" -> new File(out, "work").getPath))
    }
    val last = new String(buf.toByteArray, "UTF-8").trim.split("\n").last
    (code, new ObjectMapper().readTree(last), out)
  }

  private def rm(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rm))
    f.delete()
  }

  test("BENCHMARK.json names workloads Main runs, and every per-layer metric") {
    assert(names("workloads").subsetOf(Main.Workloads.toSet))
    assert(names("per_layer") == Main.LayerUnits.map(_._1).toSet)
  }

  for (w <- Main.Workloads; trace <- Seq(0, 1)) test(s"$w runs, checks its outputs and reports (trace $trace)") {
    val (code, res, out) = run(w, trace)
    assert(code == 0)
    assert(res.get("correct").asBoolean, res.toString)
    assert(res.get("failed").asInt == 0 && res.get("attempted").asInt > 0)
    val metrics = res.get("metrics")
    val want = if (trace == 0) names("end_to_end") else names("per_layer")
    var got = Set.empty[String]
    metrics.fieldNames().forEachRemaining(n => got += n)
    assert(got == want)
    if (trace == 0) got.foreach(n => assert(metrics.get(n).get("value").asDouble > 0, n))
    else assert(new File(out, s"spans-$w-seed5.jsonl").length > 0)
    rm(out)
  }

  test("count-pruned detection sees a scalar subquery the count drops") {
    spark.range(10).createOrReplaceTempView("pb_r")
    val df = spark.sql("SELECT id, (SELECT max(id) FROM range(5)) AS m FROM pb_r")
    assert(OpsWorkload.countPrunes(df))
    assert(!OpsWorkload.countPrunes(spark.range(10).groupBy((col("id") % 3).as("k")).count()))
  }

  test("planning phases of a collected frame are counted once") {
    val plans = new PlanRecorder
    spark.listenerManager.register(plans)
    try {
      val df = spark.range(100).groupBy((col("id") % 7).as("k")).count()
      df.collect()
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
      plans.addFrame(df.queryExecution)
      val want = df.queryExecution.tracker.phases.map { case (p, s) => p -> s.durationMs }
      assert(want.keySet == Set("analysis", "optimization", "planning"))
      assert(want.forall { case (p, ms) => plans.snapshot(p) == ms })
    } finally spark.listenerManager.unregister(plans)
  }

  test("an operation's time includes its release step") {
    val h = new Harness(spark, traceRun = false)
    val rec = h.run(0, "sleepy", "other", release = () => Thread.sleep(200))(spark.range(3).toDF())
    assert(rec.ok && rec.seconds >= 0.2)
  }
}
