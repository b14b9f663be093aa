package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

object Bench {

  /** Per-query seconds from a previous run's record — used only to flag
    * re-time candidates, never to report. BENCH_LOCAL.json (cwd,
    * untracked, freshest) wins; the COMMITTED BENCH_PRIOR.json is the
    * fallback because the round driver git-cleans untracked files at
    * round start, which would otherwise disarm the 1.35x stall-retry
    * gate on exactly the run that matters (the per-round driver bench —
    * the r10 text_* false regression was an undetected host stall).
    * Hand-rolled parse (no JSON lib in the build): the file is our own
    * single-line format.
    */
  private def priorTimes(sfDir: String): Map[String, Double] =
    try {
      // a prior from a DIFFERENT dataset/scale would flag everything
      // (or nothing) as suspect — only same-sf records are comparable.
      // The sf check runs PER CANDIDATE: a stale BENCH_LOCAL.json from
      // an sf0.01 subset run must fall through to the committed
      // same-sf prior, not disarm the gate by merely existing.
      Seq("BENCH_LOCAL.json", "BENCH_PRIOR.json")
        .map(java.nio.file.Paths.get(_))
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.readString(_))
        .find(_.contains("\"sf\":\"" + sfDir + "\""))
        .map { s =>
          val qs = s.indexOf("\"queries\":{")
          if (qs < 0) Map.empty[String, Double]
          else """"([a-z0-9_]+)":([0-9]+\.[0-9]+)""".r
            .findAllMatchIn(s.substring(qs))
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }.getOrElse(Map.empty)
    } catch { case _: Throwable => Map.empty }

  /** One timed execution; NaN on failure. A failure must NOT record
    * elapsed-to-exception as the query's time: an analysis error
    * throws in milliseconds, and min-of-reps would then report a
    * near-zero "speedup" (and poison the stall-gate prior) for a
    * BROKEN query — breakage reading as improvement. Also returns the
    * classes Spark compiled during it: a rep whose code is all in the
    * generated-class cache compiles none.
    */
  private def timeOnce(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Long) = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.nanoTime()
    val ok =
      try { fn(spark, sfDir).count(); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] query failed: ${e.getMessage}")
        false
      }
    val t = (System.nanoTime() - t0) / 1e9
    // free the query's checkpoints between reps so a query's time
    // never includes (or suffers from) another run's dead blocks
    Sessions.releaseCheckpoints(spark)
    (if (ok) t else Double.NaN, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Optional subset run for A/B bisects (e.g. "is this family slow in
    // isolation or only inside the full session?"): SPARK_GRAFT_ONLY is
    // an anchored regex over query keys; unset = full registry. Parsed
    // BEFORE the warmup so a typo'd filter fails fast and legibly
    // instead of looking like a crashed bench.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map { p =>
      try p.r
      catch { case e: java.util.regex.PatternSyntaxException =>
        System.err.println(s"[bench] bad SPARK_GRAFT_ONLY regex: ${e.getMessage}")
        sys.exit(2)
      }
    }
    val spark = Sessions.build(s"local[$cpus]", cpus)
    // Untimed warmup: JIT/codegen/broadcast machinery + parquet footers,
    // so per-query numbers measure the plan, not first-use JVM costs.
    SparkEntry.entry(spark).count()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => T(spark, sfDir, t).count())
    val prior = priorTimes(sfDir)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.pattern.matcher(name).matches()) }
    // Deterministic (sorted) order → per-query times comparable across
    // runs. Each query is timed three times and the min reported: this
    // host shows sporadic multi-second external stalls (observed moving
    // between queries run-to-run with GC quiet; a whole 2-pass run was
    // seen uniformly ~1.5× slower), and min-of-3 keeps a stall from
    // misattributing tens of seconds to whatever query it lands on.
    // The compile counts go to stderr: the first rep pays the key's cold
    // compiles, a warm rep only what the generated-class cache misses.
    val firstPass = selected.map { case (name, fn) =>
      val reps = (1 to 3).map(_ => timeOnce(spark, sfDir, fn))
      System.err.println(s"[bench] compiles $name: first ${reps.head._2}, " +
        s"warm ${reps.tail.map(_._2).mkString("/")}")
      (name, fn, reps.map(_._1))
    }
    // A stall that covers a query's whole 3-rep window inflates even the
    // min — the r5 verdict measured ~2.5 s of such noise landing on
    // unchanged queries. Signatures: the reps disagree by >1.5× (the
    // stall hit mid-window), or the min is >2× the previous run's record
    // for the same key. Those queries get a SPACED second pass at the
    // end of the run — the same external stall does not straddle both
    // windows — and the overall min is reported.
    val results = firstPass.map { case (name, fn, ts) =>
      val m = ts.min
      // Prior threshold 1.35x (was 2x): the r10 driver run inflated the
      // whole text_* family 1.5-1.9x — a sustained slow host window —
      // and every key sat just under the old 2x gate, so no retry
      // fired. 1.35x still never triggers on quiet same-host reruns
      // (observed run-to-run jitter on sub-second keys is <1.3x).
      val suspect = (m > 0.3 && ts.max / m > 1.5) ||
        prior.get(name).exists(p => m > 1.35 * p && m - p > 0.1)
      val best =
        if (suspect) math.min(m, (1 to 2).map(_ => timeOnce(spark, sfDir, fn)._1).min)
        else m
      name -> best
    }.filter { case (name, best) =>
      // every rep failed (NaN): EXCLUDE the key rather than emit NaN —
      // a missing key is a visible anomaly to every consumer (driver
      // diff, prior merge), where a bare NaN breaks strict JSON parsers
      // and a near-zero elapsed-to-exception would read as a speedup
      val ok = !best.isNaN
      if (!ok) System.err.println(s"[bench] EXCLUDED (all reps failed): $name")
      ok
    }
    // Times rounded to 3 decimals: the driver captures only the tail of
    // the sbt output and parses the JSON line out of it — r01's full-
    // precision line (~3.4 KB) was cut mid-line and recorded parsed:null.
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    spark.stop()
    val json =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    // Printed after spark.stop() so no executor log lines follow; also
    // written to a file so the full per-query detail survives any
    // tail-capture cut. SUBSET runs (SPARK_GRAFT_ONLY bisects) must NOT
    // overwrite the record: they would wipe the full-registry priors the
    // 1.35x stall-retry gate depends on and leave a misleading partial
    // total for any log consumer.
    if (only.isEmpty)
      try java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_LOCAL.json"), json)
      catch { case _: Throwable => () }
    // Total FIRST as well as last (below): whichever side of the
    // output a capture window lands on, a complete headline line is
    // inside it — r6/r7 bench attribution had to be reconstructed
    // from BENCH_LOCAL after the big per-query line was cut.
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","sf":"$sfDir"}""")
    println(json)
    // The driver captures only the ~2.9 KB TAIL of sbt stdout: with 100
    // queries the per-query line above starts before the window and its
    // leading `{"metric":...` is cut → BENCH_r01/r02 recorded
    // parsed:null. This short (<100 B) total-only line is the
    // second-to-last stdout line, so it always fits the tail intact
    // and parses; the fam_* subtotal line below is the final one.
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","sf":"$sfDir"}""")
    // r19 measurement-channel fix (no timing change): the 410-key
    // per-query line above is ~10 KB, so the driver's ~2.9 KB tail
    // window ALWAYS cuts its head and PERF_rNN.json came out with
    // per_query empty / geomean null every round (r18 verdict item 1).
    // Emit one LAST, tail-sized (~700 B) line of the same contract
    // shape whose `queries` map holds per-FAMILY subtotals (prefix up
    // to the first '_', fam_* keys so they can never collide with real
    // query keys). The full per-query line and BENCH_LOCAL.json record
    // are unchanged — this ADDS a driver-parseable summary, the old
    // numbers all still print. Total is identical to the line above.
    val fams = results
      .groupBy { case (k, _) => k.takeWhile(_ != '_') }.toSeq.sortBy(_._1)
      .map { case (f, kv) => "\"fam_" + f + "\":" + f3(kv.map(_._2).sum) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$fams,"sf":"$sfDir"}""")
  }
}
