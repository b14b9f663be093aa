package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{Sessions, SparkEntry}

/** Benchmark entry point; `perfbench/run.py` builds the classpath and
  * launches it. Usage:
  *
  *   --workload gdx_io|ops_iterative|ops_onepass --seed N --seconds S
  *   --trace 0|1 [--out DIR] [--work DIR] [--sf DIR] [--bench-dir DIR] [--tiny]
  *
  * Prints the result as the last stdout line. Maintenance modes:
  * `--list-keys` writes the committed key lists, `--dump-oracles FILE`
  * writes the oracle SQL and column kinds `gen_expected.py` needs, and
  * `--count-pruned` runs the plan-only pruning check on every key.
  */
object Main {
  val Workloads: Seq[String] = Seq("gdx_io", "ops_iterative", "ops_onepass")

  /** Every per-layer metric and its unit; a workload that does not
    * exercise a layer reports 0 for it.
    */
  val LayerUnits: Seq[(String, String)] = Seq(
    "codec.encode_rec_s" -> "rec/s", "codec.decode_rec_s" -> "rec/s",
    "codec.decode_raw_rec_s" -> "rec/s", "codec.bytes_per_rec" -> "B/rec",
    "codec.header_ms" -> "ms",
    "scan.columnar_rec_s" -> "rec/s", "scan.row_rec_s" -> "rec/s",
    "scan.partitions" -> "count", "scan.dim1_decoded_per_row" -> "ratio",
    "scan.dim2_decoded_per_row" -> "ratio",
    "write.shards" -> "count", "write.encode_task_s" -> "s", "write.sort_shuffle_mb" -> "MB",
    "slice.dim1_ms" -> "ms", "slice.dim2_ms" -> "ms", "slice.plan_ms" -> "ms",
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms", "plan.planning_ms" -> "ms",
    "plan.count_pruned_keys" -> "count",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_busy_s" -> "s", "exec.sched_wait_s" -> "s", "exec.driver_gap_s" -> "s",
    "exec.shuffle_write_mb" -> "MB", "exec.spill_mb" -> "MB",
    "ckpt.release_ms" -> "ms", "ckpt.rdds_released" -> "count") ++
    OpsWorkload.Families.flatMap(f => Seq(s"fam.${f}_s" -> "s", s"fam.${f}_jobs" -> "count")) ++
    Seq("trace.overhead_pct" -> "%")

  /** The committed key subsets: every `Stride`-th key of each family of
    * the workload in sorted order, starting with the first. The rule
    * reads no timings; it keeps every family in a run that fits the
    * benchmark's time budget.
    */
  val Stride: Map[String, Int] = Map("ops_iterative" -> 30, "ops_onepass" -> 50)

  def subset(workload: String, keys: Seq[String]): Seq[String] =
    keys.filter(OpsWorkload.workloadOf(_) == workload)
      .groupBy(OpsWorkload.family).values
      .flatMap(_.sorted.zipWithIndex.collect { case (k, i) if i % Stride(workload) == 0 => k })
      .toSeq.sorted

  private def parse(args: Array[String]): Map[String, String] = {
    val m = mutable.LinkedHashMap.empty[String, String]
    var i = 0
    while (i < args.length) {
      require(args(i).startsWith("--"), s"unexpected argument ${args(i)}")
      val k = args(i).stripPrefix("--")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) { m(k) = args(i + 1); i += 2 }
      else { m(k) = "true"; i += 1 }
    }
    m.toMap
  }

  /** The program's own test-data root: where its flagship entry query
    * reads from. The sf0.1 tables sit beside that scale's directory.
    */
  def dataRoot(spark: SparkSession): File = {
    val f = new File(new java.net.URI(SparkEntry.entry(spark).inputFiles.head).getPath)
    Iterator.iterate(f)(_.getParentFile).takeWhile(_ != null)
      .find(_.getName.startsWith("sf")).getOrElse(f.getParentFile).getParentFile
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val spark = Sessions.build("local[4]", "4")
    System.err.println(f"[perfbench] session ready at ${sinceJvmStartS()}%.2f s")
    val code =
      try run(spark, a)
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] error: $e")
        e.printStackTrace()
        2
      }
      finally spark.stop()
    sys.exit(code)
  }

  def sinceJvmStartS(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def benchDir(a: Map[String, String]): File = new File(a.getOrElse("bench-dir", "perfbench"))

  def sfDir(spark: SparkSession, a: Map[String, String]): String =
    a.get("sf").orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(new File(dataRoot(spark), "sf0.1").getPath)

  def keyFile(a: Map[String, String], workload: String): File =
    new File(benchDir(a), s"keys/$workload.txt")

  def keysOf(a: Map[String, String], workload: String): Seq[String] = {
    val all = Files.readAllLines(keyFile(a, workload).toPath).asScala
      .map(_.trim).filter(_.nonEmpty).toSeq
    if (a.contains("tiny")) all.groupBy(OpsWorkload.family).values.map(_.min).toSeq.sorted
    else all
  }

  def run(spark: SparkSession, a: Map[String, String]): Int = {
    val opsWorkloads = Seq("ops_iterative", "ops_onepass")
    if (a.contains("list-keys")) {
      opsWorkloads.foreach(w =>
        Files.write(keyFile(a, w).toPath, subset(w, SparkEntry.queries.keys.toSeq).asJava))
      return 0
    }
    if (a.contains("count-pruned")) {
      // the plan-only check of plan.count_pruned_keys over every
      // registered key, not only the committed subsets
      val keys = SparkEntry.queries.keys.toSeq.sorted
      val pruned = keys.filter { k =>
        try OpsWorkload.countPrunes(SparkEntry.queries(k)(spark, sfDir(spark, a)))
        finally Sessions.releaseCheckpoints(spark)
      }
      println(s"${pruned.size} of ${keys.size} keys prune work under .count(): ${pruned.mkString(", ")}")
      return 0
    }
    if (a.contains("dump-oracles")) {
      Oracles.dump(spark, sfDir(spark, a), opsWorkloads.flatMap(keysOf(a, _)),
        new File(a("dump-oracles")))
      return 0
    }
    val workload = a.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = a.getOrElse("seed", "1").toLong
    val seconds = a.getOrElse("seconds", "10").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val out = new File(a.getOrElse("out", ".perfbench/out"))
    val work = new File(a.getOrElse("work", new File(out, "work").getPath))

    val h = new Harness(spark, trace)
    val wl: Workload =
      if (workload == "gdx_io")
        new GdxWorkload(h, seed, if (a.contains("tiny")) GdxWorkload.Tiny else GdxWorkload.Full, work)
      else {
        val sf = sfDir(spark, a)
        new OpsWorkload(h, seed, keysOf(a, workload), sf, Expected.load(benchDir(a), sf))
      }
    val result = h.tracer.span(workload, trace = workload) {
      wl.setup()
      val setupS = sinceJvmStartS()
      val passes = mutable.ArrayBuffer.empty[(Double, Boolean)]
      var peakHeap = 0.0
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val hardStop = System.nanoTime() + 120L * 1000000000L
      // set-up ran every operation once (the checked warm-up), so the
      // first pass is warm. Passes run while the next one fits in the
      // window, at least the workload's minimum; a traced run runs an
      // untraced pass and then the traced one, and the overhead compares
      // the two
      def more: Boolean =
        passes.size < (if (trace) 2 else wl.minPasses) || !trace && {
          val next = System.nanoTime() + (Stats.median(passes.map(_._1).toSeq) * 1e9).toLong
          next <= deadline && next <= hardStop
        }
      while (more) {
        val p = passes.size
        val traced = trace && p % 2 == 1
        if (traced) h.startTracing() else h.stopTracing()
        val t0 = System.nanoTime()
        h.span("pass")(wl.pass(p))
        passes += (((System.nanoTime() - t0) / 1e9, traced))
        System.err.println(f"[perfbench] pass $p: ${passes.last._1}%.3f s${if (traced) " (traced)" else ""}")
        h.stopTracing()
        peakHeap = math.max(peakHeap, heapAfterGcMb())
      }
      (setupS, passes.toSeq, peakHeap)
    }
    val (setupS, passes, peakHeap) = result
    val ops = h.ops.toSeq
    // each operation's fastest time in the run's untraced passes
    val best = ops.filter(o => o.ok && !o.traced).groupBy(_.name).values
      .map(os => os.head -> os.map(_.seconds).min).toSeq
    val queryBestMs = best.collect { case (o, s) if wl.isQuery(o) => s * 1e3 }

    val metrics: Seq[Metric] =
      if (!trace) {
        val tail = Stats.tail(queryBestMs)
        System.err.println(s"[perfbench] op_tail_ms is ${tail.label}")
        Seq(Metric("setup_s", setupS, "s"),
          Metric("pass_s", best.map(_._2).sum, "s"),
          Metric("op_p50_ms", Stats.median(queryBestMs), "ms"),
          Metric("op_tail_ms", tail.value, "ms"),
          Metric("peak_heap_mb", peakHeap, "MB"))
      } else layerMetrics(h, wl, passes)
    if (trace) {
      val f = new File(out, s"spans-$workload-seed$seed.jsonl")
      h.tracer.write(f)
      System.err.println(s"[perfbench] spans written to ${f.getPath}")
    }
    val failed = h.failed
    if (failed.nonEmpty)
      System.err.println(s"[perfbench] FAILED ${failed.size}: ${failed.mkString(", ")}")
    System.err.println(f"[perfbench] fail_frac ${failed.size.toDouble / h.attemptedCount}%.4f " +
      s"(${failed.size} of ${h.attemptedCount}); passes ${passes.size}")
    // the slowest operations, so a regression can be traced to one of them
    ops.filter(o => o.ok && !o.traced).groupBy(_.name).toSeq
      .map { case (n, os) => n -> Stats.median(os.map(_.seconds)) }.sortBy(-_._2).take(12)
      .foreach { case (n, s) => System.err.println(f"[perfbench] slowest: $n%-40s ${s * 1e3}%9.1f ms") }
    metrics.foreach(m => System.err.println(s"[perfbench] ${m.name} = ${Json.num(m.value)} ${m.unit}"))
    val ms = metrics.map(m =>
      s"${Json.str(m.name)}: {\"value\": ${Json.num(m.value)}, \"unit\": ${Json.str(m.unit)}}")
    println(s"""{"correct": ${failed.isEmpty}, "attempted": ${h.attemptedCount}, """ +
      s""""failed": ${failed.size}, "metrics": {${ms.mkString(", ")}}}""")
    0
  }

  /** Heap in use after a full collection, once Spark's asynchronous
    * cleanup has caught up: checkpoint blocks are unpersisted without
    * blocking, and the ContextCleaner frees broadcast and shuffle state
    * only after a collection has found its owners unreachable. Collect
    * until a round frees less than 1 MB (at most ten rounds).
    */
  private def heapAfterGcMb(): Double = {
    def collect(): Double = {
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }
    var prev = collect()
    var cur = collect()
    var rounds = 0
    while (prev - cur > 1.0 && rounds < 10) { prev = cur; cur = collect(); rounds += 1 }
    cur
  }

  /** Per-layer metrics from the traced passes, per pass. */
  private def layerMetrics(h: Harness, wl: Workload, passes: Seq[(Double, Boolean)]): Seq[Metric] = {
    h.attachJobSpans()
    val traced = h.ops.filter(_.traced).toSeq
    // the bus has drained (stopTracing): every job that started must have
    // ended under the same group, or the counts below are incomplete
    traced.map(_.group).distinct.foreach { g =>
      val e = h.exec.group(g)
      h.attempt(s"job count of $g") {
        if (e.jobsEnded != e.jobsStarted)
          System.err.println(s"[perfbench] $g: ${e.jobsStarted} jobs started, ${e.jobsEnded} ended")
        e.jobsEnded == e.jobsStarted
      }
    }
    val n = passes.count(_._2)
    val execs = traced.map(o => h.exec.group(o.group))
    def phase(p: String) = traced.map(o => h.planOf.getOrElse(o.group, Map.empty[String, Long]).getOrElse(p, 0L)).sum.toDouble / n
    val (tracedS, plainS) = passes.partition(_._2)
    val overhead = (Stats.median(tracedS.map(_._1)) / Stats.median(plainS.map(_._1)) - 1) * 100
    System.err.println(f"[perfbench] tracing overhead $overhead%.1f%% of pass time")
    // where the traced pass's time went, per operation family: the share
    // of the pass, and how much of it was driver time no job covered and
    // query planning (both on the driver)
    val passS = tracedS.map(_._1).sum
    traced.groupBy(_.family).toSeq.sortBy(-_._2.map(_.seconds).sum).foreach { case (f, os) =>
      val secs = os.map(_.seconds).sum
      val gap = os.map(h.driverGapNs).sum / 1e9
      val planS = os.map(o => h.planOf.getOrElse(o.group, Map.empty[String, Long]).values.sum).sum / 1e3
      System.err.println(f"[perfbench] share $f%-9s ${secs}%7.2f s = ${secs / passS * 100}%5.1f%% of the pass; " +
        f"driver gap ${gap}%6.2f s, planning ${planS}%6.2f s, ${os.map(o => h.exec.group(o.group).jobsEnded).sum} jobs")
    }
    val common = Seq(
      Metric("plan.analysis_ms", phase("analysis"), "ms"),
      Metric("plan.optimization_ms", phase("optimization"), "ms"),
      Metric("plan.planning_ms", phase("planning"), "ms"),
      Metric("exec.jobs", execs.map(_.jobsEnded).sum.toDouble / n, "count"),
      Metric("exec.stages", execs.map(_.stages).sum.toDouble / n, "count"),
      Metric("exec.tasks", execs.map(_.tasks).sum.toDouble / n, "count"),
      Metric("exec.task_busy_s", execs.map(_.runMs).sum / 1e3 / n, "s"),
      Metric("exec.sched_wait_s", execs.map(_.schedMs).sum / 1e3 / n, "s"),
      Metric("exec.driver_gap_s", traced.map(h.driverGapNs).sum / 1e9 / n, "s"),
      Metric("exec.shuffle_write_mb", execs.map(_.shuffleWriteB).sum / 1e6 / n, "MB"),
      Metric("exec.spill_mb", execs.map(_.spillB).sum / 1e6 / n, "MB"),
      Metric("trace.overhead_pct", overhead, "%"))
    val got = (common ++ wl.layerMetrics(traced, n)).map(m => m.name -> m).toMap
    LayerUnits.map { case (name, unit) => got.getOrElse(name, Metric(name, 0.0, unit)) }
  }
}
