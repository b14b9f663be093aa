package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Executable form of SCALE.md §1's plan invariants: these are the
  * properties that make the suite viable at 100 TB, asserted on the
  * physical plan rather than hoped for. If an optimizer upgrade or a
  * query edit silently turns a broadcast join into a shuffle or drops
  * a pushed filter, this suite fails before any benchmark does.
  */
class PlanInvariantsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.build("local[4]", "4")
  private val d = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("entry(): dimension joins broadcast, filters reach the lineitem scan") {
    val p = plan(graft.SparkEntry.entry(spark))
    assert(p.contains("BroadcastHashJoin"), "dimension joins must broadcast")
    assert(!p.contains("SortMergeJoin"), "no fact-side shuffle for dimension joins")
    assert(p.contains("PushedFilters: ["), "filter must push into the parquet scan")
  }

  test("filter_label_eq: predicate pushed to the parquet scan, pruned schema") {
    val p = plan(graft.SparkEntry.queries("filter_label_eq")(spark, d))
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)]")
      || p.contains("EqualTo(c_mktsegment,BUILDING)"), s"missing pushdown in:\n$p")
    // projection pruning: only the two selected columns + filter column read
    assert(p.contains("ReadSchema: struct<c_custkey:bigint,c_name:string,c_mktsegment:string>"),
      "scan must read only selected columns")
  }

  test("topk_global plans TakeOrderedAndProject, not a global sort") {
    val p = plan(graft.SparkEntry.queries("topk_global")(spark, d))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k physical op in:\n$p")
  }

  test("agg_sum_over_dim is two-phase (partial then final hash aggregate)") {
    val p = plan(graft.SparkEntry.queries("agg_sum_over_dim")(spark, d))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expected partial+final aggregation")
    assert(p.contains("partial_sum") || p.contains("partial"), s"expected map-side combine in:\n$p")
  }

  test("join_shuffle_equi large-large join shuffles on the key (SMJ or AQE-broadcast)") {
    val p = plan(graft.SparkEntry.queries("join_shuffle_equi")(spark, d))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("AdaptiveSparkPlan"), s"unexpected join shape:\n$p")
  }

  test("sink_partitioned_parquet: the read-back scan prunes partitions on lang") {
    val df = graft.SparkEntry.queries("sink_partitioned_parquet")(spark, d)
    val p = plan(df)
    assert(p.contains("PartitionFilters") && p.contains("lang"),
      s"expected a lang partition filter on the hive-layout scan in:\n$p")
  }

  test("report-sized results end in a single-partition sort, not a range exchange") {
    val df = graft.SparkEntry.queries("text_ngram_freq")(spark, d)
    val p = plan(df)
    assert(!p.contains("rangepartitioning"),
      "report query must not pay the range-sort sampling pass")
    assert(p.contains("SinglePartition"), s"expected repartition(1) in:\n$p")
  }

  test("data-sized sort_by_key keeps the distributed range sort") {
    val p = plan(graft.SparkEntry.queries("sort_by_key")(spark, d))
    assert(p.contains("rangepartitioning"), "data-sized output must range-sort")
  }

  test("agg_approx_distinct: HLL estimate within rsd bounds of the exact count") {
    // hash-checked since r11 (md5-portable HLL, m=4096 → rsd ≈ 1.6%);
    // this pins the ACCURACY contract the hash equality can't express
    val approx = graft.SparkEntry.queries("agg_approx_distinct")(spark, d)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = graft.T(spark, d, "lineitem")
      .groupBy("l_returnflag").agg(countDistinct(col("l_partkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, n) =>
      val err = math.abs(approx(k) - n).toDouble / n
      assert(err <= 0.05, s"group $k: approx=${approx(k)} exact=$n err=$err (rsd=0.01)")
    }
  }

  test("bucketed co-located join: no join-side shuffle once broadcast is off") {
    // at test scale AQE broadcasts both variants, hiding the property —
    // disable broadcast so the join must co-partition its inputs
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      def joinSideExchanges(name: String): Int =
        ("Exchange hashpartitioning\\((l_orderkey|o_orderkey)"
          .r.findAllIn(plan(graft.SparkEntry.queries(name)(spark, d))).size)
      assert(joinSideExchanges("join_shuffle_equi") == 2,
        "plain large-large join shuffles both sides on the key")
      assert(joinSideExchanges("join_bucketed_colocated") == 0,
        "bucketed join must read co-partitioned scans with no key shuffle")
      val p = plan(graft.SparkEntry.queries("join_bucketed_colocated")(spark, d))
      assert(p.contains("Bucketed: true"), s"scans must report bucketed reads:\n$p")
      // bucket pruning: an equality filter on the bucket column reads
      // ONE bucket, not all eight. The planner auto-disables bucketed
      // scans that avoid no shuffle, so force the bucketed read here.
      val abs = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
      val absPrev = spark.conf.get(abs)
      spark.conf.set(abs, "false")
      try {
        val pruned = plan(spark.table(RelationalOps.liTable).filter(col("l_orderkey") === 1L))
        assert(pruned.contains("SelectedBucketsCount: 1 out of 8"),
          s"equality on the bucket key must prune to one bucket:\n$pruned")
      } finally spark.conf.set(abs, absPrev)
    } finally spark.conf.set(key, prev)
  }

  test("win_ntile_percent: no single-partition global sort of the input") {
    // pass 1 of the shared globalPrefixSums (range bucket + per-bucket
    // window), over the rank this key runs, must keep full parallelism
    // — the old Window.orderBy-with-no-partition plan put the entire
    // table through one task
    val cust = graft.T(spark, d, "customer")
      .select(col("c_custkey"), col("c_acctbal"), lit(1L).as("one"))
    val p1 = plan(WindowOps.rangeBucketSums(cust,
      Seq(col("c_acctbal").asc, col("c_custkey").asc), Seq("one")))
    assert(p1.contains("rangepartitioning"), s"expected range bucketing in:\n$p1")
    assert(!p1.contains("SinglePartition"), s"pass 1 must not collapse to one partition:\n$p1")
    // the assembled query (offset lookup + final sort) too
    val p2 = plan(graft.SparkEntry.queries("win_ntile_percent")(spark, d))
    assert(!p2.contains("SinglePartition"), s"no single-partition exchange in:\n$p2")
  }

  test("agg_approx_percentile: sketch estimate lands near the exact rank") {
    val approx = graft.SparkEntry.queries("agg_approx_percentile")(spark, d)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the sketch estimates the value at rank ⌈q·n⌉ — compare against
    // THAT (not the interpolated quantile_cont, whose midpoint between
    // sparse ranks can legitimately sit > δ from any data value)
    val exact = graft.T(spark, d, "documents")
      .select("lang", "n_chars").collect()
      .groupBy(_.getString(0))
      .map { case (lang, rows) =>
        val sorted = rows.map(_.getLong(1)).sorted
        def atRank(q: Double): Long = sorted(math.ceil(q * sorted.length).toInt - 1)
        lang -> (atRank(0.5), atRank(0.95))
      }
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (lang, (p50, p95)) =>
      val (a50, a95) = approx(lang)
      // δ=8 grid: the rank value lies in the reported bucket, so the
      // bucket midpoint is within δ of it
      assert(math.abs(a50 - p50) <= 8.0, s"$lang p50: $a50 vs rank-value $p50")
      assert(math.abs(a95 - p95) <= 8.0, s"$lang p95: $a95 vs rank-value $p95")
    }
  }

  test("ANN self-joins reuse their exchanges at the scale plan shape (map stages run once)") {
    // At test scale AQE broadcasts the self-join build side, which
    // re-executes the map-side bucket/decode stage — cheap there. At
    // production scale the joins are SMJ with identical exchanges on
    // both sides, and exchange reuse makes the expensive stage run
    // ONCE; pin that by planning without AQE/broadcast.
    val bcast = "spark.sql.autoBroadcastJoinThreshold"
    val aqe = "spark.sql.adaptive.enabled"
    val pb = spark.conf.get(bcast)
    val pa = spark.conf.get(aqe)
    spark.conf.set(bcast, "-1")
    spark.conf.set(aqe, "false")
    try {
      val p = plan(graft.SparkEntry.queries("sim_ann_lsh_multi")(spark, d))
      assert("Scan parquet".r.findAllIn(p).size == 2,
        s"expected 1 bucket scan + 1 verify scan (reused for both sides):\n$p")
      assert("ReusedExchange".r.findAllIn(p).size >= 2,
        s"bucket stage and verify side must be exchange-reused:\n$p")
      // the decode+extract stage is a typed mapPartitions (object
      // plan), which exchange-reuse canonicalization cannot match —
      // mm_ann_topk therefore materializes the bucketed feature frame
      // before the self-join, and NO MapPartitions may remain in the
      // executed plan (both sides read the checkpointed blocks)
      val pm = plan(graft.SparkEntry.queries("mm_ann_topk")(spark, d))
      assert("MapPartitions".r.findAllIn(pm).size == 0,
        s"PNG decode + feature extract must be materialized once, not re-run per side:\n$pm")
    } finally {
      spark.conf.set(bcast, pb)
      spark.conf.set(aqe, pa)
    }
  }

  test("similarity hot path runs the native codegen'd cosine, not HOF lambdas") {
    val p = plan(graft.SparkEntry.queries("sim_cosine_topk")(spark, d))
    assert(p.contains("veccosine") || p.contains("vec_cosine"),
      s"expected native vector expression in:\n$p")
    assert(!p.toLowerCase.contains("lambdafunction"),
      "hot path must not evaluate interpreted lambdas per pair")
  }

  test("pipeline_mix_weighted: rates join is a broadcast, corpus side never shuffles pre-filter") {
    val p = plan(graft.SparkEntry.queries("pipeline_mix_weighted")(spark, d))
    assert(p.contains("BroadcastHashJoin"),
      s"O(#domains) rates table must broadcast onto the corpus scan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "the corpus must not shuffle to meet a dozens-row rates table")
  }

  test("sim_centroid_outlier: scoring is a broadcast join, embeddings never explode twice") {
    val p = plan(graft.SparkEntry.queries("sim_centroid_outlier")(spark, d))
    assert(p.contains("BroadcastHashJoin"),
      s"packed centroids (O(labels×dim)) must broadcast onto the scan:\n$p")
    assert("posexplode".r.findAllIn(p).size == 1,
      "only the TRAIN pass may explode; scoring must stay a packed map-side fold")
  }

  test("dedup_incremental: batch-vs-corpus membership is a hash anti-join, not NOT IN") {
    val p = plan(graft.SparkEntry.queries("dedup_incremental")(spark, d))
    assert(p.contains("LeftAnti"), s"expected anti-join against the corpus hash set:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "anti-join must stay an equi hash join (a nested-loop NOT IN dies at corpus scale)")
  }

  test("text_redact_pii: pure map-side — the only exchange is the final ORDER BY") {
    val p = plan(graft.SparkEntry.queries("text_redact_pii")(spark, d))
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"scrub must not shuffle (beyond the report sort):\n$p")
  }

  test("sim_ann_quantized: candidate join carries int8 vectors, not floats") {
    val df = graft.SparkEntry.queries("sim_ann_quantized")(spark, d)
    val p = plan(df)
    assert(p.contains("tinyint") || df.queryExecution.analyzed.toString.contains("qemb"),
      s"expected quantized byte vectors in the join:\n$p")
    // the float embedding column must NOT survive past quantization
    // into the self-join (that would double the shuffled payload)
    val joined = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joined.nonEmpty)
    joined.foreach { j =>
      val cols = (j.left.output ++ j.right.output).map(a => (a.name, a.dataType.simpleString))
      assert(!cols.exists { case (n, t) => n.contains("emb") && t == "array<float>" },
        s"float embeddings leaked into the candidate join: $cols")
    }
  }

  test("dedup_substring: gram keys are 8-byte hashes and the gram count is two-phase") {
    val df = graft.SparkEntry.queries("dedup_substring")(spark, d)
    val p = plan(df)
    assert(p.contains("xxhash64"), s"grams must travel as 64-bit hashes:\n$p")
    assert(p.contains("partial_count"), s"distinct-doc count must map-side combine:\n$p")
  }

  test("gdx_diff plans one distributed full-outer join per compared symbol") {
    val dir = graft.SparkEntry.queries("gdx_diff")(spark, d) // builds fixtures
    val p = plan(dir)
    assert(p.contains("FullOuter"), s"expected full-outer record alignment in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "record alignment must stay an equi join")
  }

  test("sim_ann_pq: candidate join carries 8 int codes — no vectors past the encode") {
    val df = graft.SparkEntry.queries("sim_ann_pq")(spark, d)
    val joined = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joined.nonEmpty)
    joined.foreach { j =>
      val cols = (j.left.output ++ j.right.output).map(a => (a.name, a.dataType.simpleString))
      // r16: the duplicate-collapse device's member join carries a
      // BOUNDED array<bigint> id list (≤ k+1 entries) — that is not a
      // vector leak; the pin's contract is no FLOAT/DOUBLE vectors
      // (embeddings or residuals) past the encode
      assert(!cols.exists(c =>
        c._2.startsWith("array<float") || c._2.startsWith("array<double")),
        s"vectors leaked past the PQ encode into the candidate join: $cols")
    }
  }

  test("text_unigram_logprob: LM lookup broadcasts, token stream never shuffles for it") {
    // the vocab table carries NO broadcast() hint (a pin would OOM the
    // driver on an open-web vocabulary) — the broadcast must come from
    // AQE's runtime size check, so execute first and assert on the
    // FINAL adaptive plan
    val df = graft.SparkEntry.queries("text_unigram_logprob")(spark, d)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      s"AQE must broadcast the small vocab logprob table at this SF:\n$p")
    assert(!p.contains("CartesianProduct"),
      "the one-row total must broadcast (nested-loop on a 1-row side is fine, cartesian is not)")
  }

  test("text_tfidf_topk: unhinted df table still broadcasts via AQE at this SF") {
    val df = graft.SparkEntry.queries("text_tfidf_topk")(spark, d)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      s"AQE must broadcast the small document-frequency table:\n$p")
  }

  test("ts_ewma: streaming fold — one hash exchange + in-partition sort, no collect_list") {
    val df = graft.SparkEntry.queries("ts_ewma")(spark, d)
    val p = plan(df)
    // "Window" alone would also match the module name in the lambda's
    // class (graft.ops.WindowOps$$$Lambda...) — match the physical
    // window operator's frame spec instead
    assert(!p.contains("windowspecdefinition"),
      s"the EWMA fold must not be shoehorned into a window:\n$p")
    // r11 unbounded-group form: repartition(user) + sortWithinPartitions
    // + O(1)-state mapPartitions — a collect_list aggregate would
    // reintroduce the group-fits-in-memory contract
    assert(!p.contains("collect_list"),
      s"no per-group sequence materialization allowed:\n$p")
    assert(p.contains("hashpartitioning(user_id"),
      s"fold must ride a user_id hash exchange:\n$p")
    // Sort prints `Sort [cols], global, shuffles` — global must be false
    // (in-partition spillable sort under the fold, not a range exchange)
    assert(raw"Sort \[user_id#\d+L ASC NULLS FIRST, us#\d+L ASC NULLS FIRST, event_id#\d+L ASC NULLS FIRST\], false".r
      .findFirstIn(p).nonEmpty,
      s"expected an in-partition (spillable) (user,ts,event) sort:\n$p")
    assert(p.contains("MapPartitions"),
      s"expected the streaming fold operator:\n$p")
  }

  test("agg_moments: power sums are one two-phase aggregate, no join, no window") {
    val df = graft.SparkEntry.queries("agg_moments")(spark, d)
    val p = plan(df)
    assert(!p.contains("Join") && !p.contains("Window"),
      s"moments must come from a single aggregation pass:\n$p")
    assert(p.contains("partial_sum"),
      s"map-side partial sums expected (two-phase aggregation):\n$p")
  }

  test("sim_knn_graph: LSH candidates stay an equi join, one window over mirrored edges") {
    val df = graft.SparkEntry.queries("sim_knn_graph")(spark, d)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"kNN-graph candidates must equi-join on (table, bucket), never all-pairs:\n$p")
    assert(p.contains("Window"), "top-k per vector must be a window, not a collect")
  }

  test("pipeline_remove_boilerplate: no window, reassembly is a per-doc aggregate") {
    val df = graft.SparkEntry.queries("pipeline_remove_boilerplate")(spark, d)
    val p = plan(df)
    assert(!p.contains("Window"),
      s"in-order reassembly must ride array_sort inside the per-doc aggregate, not a window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the boilerplate join must stay an equi join on chunk:\n$p")
  }

  test("mm_phash_neardup: banded candidates stay an equi join, verify is integer bit math") {
    val df = graft.SparkEntry.queries("mm_phash_neardup")(spark, d)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must equi-join on (band, value), never all-pairs:\n$p")
    assert(p.contains("bit_count"), s"verify must be codegen'd bit_count(xor):\n$p")
  }

  test("mm_audio_fingerprint: embarrassingly parallel — only the report sort exchanges") {
    val p = plan(graft.SparkEntry.queries("mm_audio_fingerprint")(spark, d))
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"fingerprinting must not shuffle (beyond the report sort):\n$p")
  }

  test("agg_mode: rank runs over the two-phase count table, not the raw rows") {
    val p = plan(graft.SparkEntry.queries("agg_mode")(spark, d))
    assert(p.contains("partial_count"), s"counts must map-side combine:\n$p")
    assert(p.contains("Window"), "mode selection is a window over the count table")
  }

  test("join_bloom_prefilter: the bloom probe filters the fact scan BEFORE the join") {
    val p = plan(graft.SparkEntry.queries("join_bloom_prefilter")(spark, d))
    assert(p.contains("might_contain"), s"bloom probe missing from the plan:\n$p")
    // the probe must sit below the join: everything after the join
    // operates on joined rows, where prefiltering is pointless
    val probeAt = p.indexOf("might_contain")
    val joinAt = math.max(p.indexOf("BroadcastHashJoin"), p.indexOf("SortMergeJoin"))
    assert(joinAt >= 0 && probeAt > joinAt,
      "probe filter must appear under the join in the plan tree " +
        s"(probe@$probeAt join@$joinAt)") // tree prints parents first
  }

  test("pipeline_token_budget: ONE exchange serves rank + running sum") {
    val p = plan(graft.SparkEntry.queries("pipeline_token_budget")(spark, d))
    assert("Window".r.findAllIn(p).size >= 1, s"expected window:\n$p")
    // one source-hash exchange + the output range sort — nothing else
    assert("Exchange".r.findAllIn(p).size <= 2,
      s"rank and cumulative sum must share the (source) sort:\n$p")
  }

  test("sim_vector_pool_mean: per-(group,pos) average is two-phase") {
    val p = plan(graft.SparkEntry.queries("sim_vector_pool_mean")(spark, d))
    assert(p.contains("partial_avg"),
      s"component averages must map-side combine before the shuffle:\n$p")
  }

  test("text_gopher_filter: pure map-side — the only exchange is the report sort") {
    val p = plan(graft.SparkEntry.queries("text_gopher_filter")(spark, d))
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"rule gate must not shuffle (beyond the output sort):\n$p")
  }

  test("text_zipf_fit: rank-window input capped by TakeOrderedAndProject") {
    val p = plan(graft.SparkEntry.queries("text_zipf_fit")(spark, d))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-1000 cap must ride the sort, never a global vocab sort:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"word count must be two-phase:\n$p")
  }

  test("agg_reservoir_sample: rank filter pushes down as WindowGroupLimit") {
    val p = plan(graft.SparkEntry.queries("agg_reservoir_sample")(spark, d))
    assert(p.contains("WindowGroupLimit"),
      s"per-group top-k must prune map-side before the shuffle:\n$p")
  }

  test("agg_trimmed_mean: both window functions share one partition sort") {
    val p = plan(graft.SparkEntry.queries("agg_trimmed_mean")(spark, d))
    // one hash exchange for the (event_type) windows + the report sort;
    // the closed-form winsorized mean must not add a second pass
    assert("Exchange".r.findAllIn(p).size <= 3,
      s"rank + count + aggregate must reuse the group partitioning:\n$p")
  }

  test("dq_drift_ks: the only single-partition exchange is the 1-row totals agg") {
    // the prefix-sum pass itself sits behind globalPrefixSums'
    // localCheckpoint (Scan ExistingRDD below), whose range-bucket shape
    // win_ntile_percent pins on the shared rangeBucketSums — here we
    // assert the assembled query never funnels DATA through one task:
    // the single SinglePartition exchange allowed is the (n_a, n_b)
    // global aggregate, which carries exactly two longs
    val p = plan(graft.SparkEntry.queries("dq_drift_ks")(spark, d))
    assert("Exchange SinglePartition".r.findAllIn(p).size <= 1,
      s"only the 2-long totals aggregate may collapse:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"ECDF side must ride the checkpointed prefix sums:\n$p")
  }

  test("stream_windowed_topk: per-window rank pushes down as WindowGroupLimit") {
    val p = plan(graft.SparkEntry.queries("stream_windowed_topk")(spark, d))
    assert(p.contains("WindowGroupLimit"),
      s"map tasks must prune to local top-k per window before the shuffle:\n$p")
  }

  test("agg_topn_share: top-5 cut is TakeOrderedAndProject, never a global sort of parts") {
    val p = plan(graft.SparkEntry.queries("agg_topn_share")(spark, d))
    assert(p.contains("TakeOrderedAndProject"),
      s"expected map-local top-k for the contribution cut:\n$p")
  }

  test("dq_outlier_iqr: group-sized fence frame broadcasts onto the fact scan") {
    val p = plan(graft.SparkEntry.queries("dq_outlier_iqr")(spark, d))
    assert(p.contains("BroadcastHashJoin"),
      s"fences must broadcast, not shuffle the fact side:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no fact shuffle for the fence probe:\n$p")
  }

  test("sim_range_search: probe set broadcasts; corpus is never cartesian-shuffled") {
    val p = plan(graft.SparkEntry.queries("sim_range_search")(spark, d))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probes must broadcast over one corpus pass:\n$p")
    assert(!p.contains("CartesianProduct"), s"no shuffled cartesian:\n$p")
  }

  test("join_point_in_time: interval probe plans as an equi join with residual, no nested loop") {
    val p = plan(graft.SparkEntry.queries("join_point_in_time")(spark, d))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      s"user_id equi key must anchor a hash/merge join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"validity residual must stay a post-join filter:\n$p")
  }

  test("AQE splits a planted hot key on join_skew_salted's unsalted twin") {
    // SCALE.md §4+§6: explicit salting (join_skew_salted) is for keys AQE
    // cannot fix; this pins the complementary claim — a merely-SKEWED key
    // (hot but splittable) IS handled by AQE's skew-join split, so the
    // production guidance "salt only past AQE's reach" rests on verified
    // behavior, not folklore. Planted ~100x hot key, thresholds scaled to
    // test data volume (the defaults gate on 256 MB partitions).
    val c = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      .map(k => k -> c.getOption(k)).toMap
    try {
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ: skew split targets shuffle joins
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32k")
      c.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      val big = spark.range(0, 120000)
        .select(when(col("id") < 100000, 0L).otherwise(col("id") % 64).as("k"),
          col("id").as("payload"))
      val small = spark.range(0, 64).select(col("id").as("k"), (col("id") * 2).as("v"))
      val j = big.join(small, "k")
      // execute THIS frame's own QueryExecution (count() would build a
      // separate aggregated plan and leave j's AQE un-finalized)
      assert(j.collect().length == 120000)
      val p = plan(j)
      assert(p.contains("isFinalPlan=true"), s"AQE must have re-planned:\n$p")
      assert(p.contains("skew=true"),
        s"expected the hot key split across tasks (skew=true join):\n$p")
    } finally saved.foreach { case (k, v) =>
      v.fold(c.unset(k))(c.set(k, _))
    }
  }

  test("agg_mann_whitney: rank machinery never funnels data through one task") {
    // distinct-value frame rides globalPrefixSums (checkpointed range
    // buckets); the only SinglePartition exchange allowed is the final
    // 1-row statistic aggregate
    val p = plan(graft.SparkEntry.queries("agg_mann_whitney")(spark, d))
    assert("Exchange SinglePartition".r.findAllIn(p).size <= 1,
      s"only the 1-row statistic aggregate may collapse:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"avg ranks must ride the checkpointed prefix sums:\n$p")
  }

  test("pipeline_mix_temperature: rates broadcast onto the corpus scan, no data-sized shuffle join") {
    // the #domains-sized rate table must never shuffle the corpus:
    // selection is a map-side filter behind a broadcast join
    val p = plan(graft.SparkEntry.queries("pipeline_mix_temperature")(spark, d))
    assert(p.contains("BroadcastHashJoin"), s"rates must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no shuffle join may touch the document stream:\n$p")
  }

  test("pipeline_pref_pairs: rank zip is an equi join, never a nested loop") {
    // (group, i) pairing must plan as a hash/sort-merge equi join;
    // a cartesian or nested-loop shape would be quadratic in groups
    val p = plan(graft.SparkEntry.queries("pipeline_pref_pairs")(spark, d))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair zip must stay an equi join:\n$p")
    assert(p.contains("SinglePartition"),
      s"bounded pair report must end in the single-partition sort:\n$p")
  }

  test("dedup_cross_source_overlap: capped self-join is equi, totals broadcast") {
    val p = plan(graft.SparkEntry.queries("dedup_cross_source_overlap")(spark, d))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"gram self-join must stay an equi join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"catalog-sized totals must broadcast:\n$p")
    // df-cap rides a two-phase count: partial then final aggregate
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"df-cap count must be two-phase:\n$p")
  }

  test("ts_page_cusum: ONE user_id exchange serves all three windows and the final agg") {
    // the closed-form CUSUM's whole point is replacing a per-group fold
    // with windows on the user's natural partitioning — a second
    // hashpartitioning exchange (or any mapGroups node) would mean the
    // reflection identity stopped paying for itself
    val p = plan(graft.SparkEntry.queries("ts_page_cusum")(spark, d))
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"expected exactly one user_id exchange in:\n$p")
    assert(!p.contains("MapGroups"), s"no per-group fold allowed:\n$p")
    // the 1-row reference mean broadcasts; the event stream never
    // joins it by shuffle
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"1-row k frame must broadcast:\n$p")
  }

  test("text_lz_complexity: map-only before the output sort (zero data shuffles)") {
    val p = plan(graft.SparkEntry.queries("text_lz_complexity")(spark, d))
    assert(!p.contains("hashpartitioning"),
      s"LZ parse is per-doc map work; no hash shuffle belongs here:\n$p")
    assert("Exchange".r.findAllIn(p).size == 1,
      s"only the data-sized output range sort may exchange:\n$p")
    // r12: native Lz78Stats expression — no typed-encoder round trip
    // breaking the codegen span (the suite's last Dataset.map hot path)
    assert(!p.contains("DeserializeToObject") && !p.contains("MapElements"),
      s"LZ parse must run as a native expression, not an object plan:\n$p")
  }

  test("sim_ann_lsh_auto: bucketed equi self-join, never a cartesian; planes derive from count") {
    val p = plan(graft.SparkEntry.queries("sim_ann_lsh_auto")(spark, d))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"auto-planes candidates must stay an equi join on the bucket:\n$p")
    // the derived plane count is a plan literal: the bucket expression
    // concatenates exactly autoPlanes(n) sign bits
    val n = graft.T(spark, d, "embeddings").count()
    val want = LlmOps.autoPlanes(n)
    assert("(?i)vec_?dot".r.findAllIn(p).size >= want,
      s"expected >= $want plane dot-products in the plan:\n${p.take(2000)}")
  }

  test("dq_mutual_information: cell-frame joins never sort-merge shuffle the corpus") {
    val p = plan(graft.SparkEntry.queries("dq_mutual_information")(spark, d))
    assert(!p.contains("SortMergeJoin"),
      s"marginal joins run on the catalog-bounded cell frame:\n$p")
  }

  test("dedup_incremental_minhash: index probe is an equi join, never batch x corpus") {
    val p = plan(graft.SparkEntry.queries("dedup_incremental_minhash")(spark, d))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"band-index probe must stay an equi join:\n$p")
    // the band table is checkpointed once and probed from both sides —
    // the signature pipeline must not appear as a live parquet subtree
    // feeding the candidate join twice (localCheckpoint truncates it)
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"),
      s"band index must come from the checkpointed table:\n$p")
  }

  test("ts_rsi: both window layers ride ONE series exchange+sort") {
    val p = plan(graft.SparkEntry.queries("ts_rsi")(spark, d))
    // lag + the two frame averages share partitioning and order — a
    // second hashpartitioning exchange would mean the stacked windows
    // re-shuffled the series
    assert("hashpartitioning\\(event_type".r.findAllIn(p).size <= 1,
      s"stacked windows must share one series exchange:\n$p")
    assert("Window".r.findAllIn(p).nonEmpty, s"expected window operators in:\n$p")
  }

  test("text_readability: pure map-side — the only exchange is the final ORDER BY") {
    val p = plan(graft.SparkEntry.queries("text_readability")(spark, d))
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"per-row scoring must not shuffle (beyond the report sort):\n$p")
  }

  test("dedup_exact_normalized: digest group and map-back join share the hash key") {
    val p = plan(graft.SparkEntry.queries("dedup_exact_normalized")(spark, d))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"map-back must stay an equi join on the digest:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_count") || p.contains("partial"),
      s"canonical-id aggregation must map-side combine:\n$p")
  }

  test("graph_copurchase_lift: ONE basket subtree feeds all four consumers " +
      "via exchange reuse; pairing stays an equi join") {
    // preview the at-scale (sort-merge) plan — AQE's local broadcasts
    // would hide whether the basket exchange is genuinely reusable
    val bcast = "spark.sql.autoBroadcastJoinThreshold"
    val aqe = "spark.sql.adaptive.enabled"
    val pb = spark.conf.get(bcast)
    val pa = spark.conf.get(aqe)
    spark.conf.set(bcast, "-1")
    spark.conf.set(aqe, "false")
    try {
      val p = plan(graft.SparkEntry.queries("graph_copurchase_lift")(spark, d))
      assert("Scan parquet".r.findAllIn(p).size == 2,
        s"expected 2 lineitem scans (basket build), everything else reused:\n$p")
      assert("ReusedExchange".r.findAllIn(p).size >= 3,
        s"pair self-join second side, totals, and basket count must reuse:\n$p")
      assert(!p.contains("CartesianProduct"), s"no cartesian pairing:\n$p")
      // the ONLY nested-loop is the 1-row global basket count cross
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1,
        s"only the 1-row baskets cross may nested-loop:\n$p")
    } finally {
      spark.conf.set(bcast, pb)
      spark.conf.set(aqe, pa)
    }
  }

  test("dq_fdr_bh: one grouped aggregate reduces to the nation frame; " +
      "only the 1-row global crosses") {
    val p = plan(graft.SparkEntry.queries("dq_fdr_bh")(spark, d))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1,
      s"only the 1-row global-mix cross may nested-loop:\n$p")
    assert(p.contains("partial"), s"cell counting must map-side combine:\n$p")
    assert("Window".r.findAllIn(p).size >= 2,
      s"rank + reverse running-min windows expected (bounded frame):\n$p")
  }

  test("ts_bollinger: both framed co-moments ride ONE series exchange " +
      "in ONE window operator") {
    val p = plan(graft.SparkEntry.queries("ts_bollinger")(spark, d))
    assert("hashpartitioning\\(event_type".r.findAllIn(p).size <= 1,
      s"stacked frame aggregates must share one series exchange:\n$p")
    assert("Window".r.findAllIn(p).size == 1,
      s"avg and stddev must group into a single WindowExec:\n$p")
  }

  test("ts_holt_winters: the seasonal fold rides ONE user exchange like ts_holt") {
    val p = plan(graft.SparkEntry.queries("ts_holt_winters")(spark, d))
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"bounded-group fold must repartition exactly once:\n$p")
    // the fold's sort is partition-local (global=false); the only range
    // exchange is the final input-sized output orderBy
    assert("Sort \\[user_id[^\\n]*, false, 0".r.findAllIn(p).nonEmpty,
      s"expected a partition-local fold sort in:\n$p")
  }

  test("agg_hhi: supplier join stays equi, share math on the supplier frame") {
    val p = plan(graft.SparkEntry.queries("agg_hhi")(spark, d))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"revenue join must stay an equi join:\n$p")
    assert(p.contains("partial"), s"revenue aggregation must map-side combine:\n$p")
  }

  test("graph_bfs_distance: rounds are checkpoint-materialized; the final " +
      "plan reads the checkpointed frame, no lineage replay") {
    val p = plan(graft.SparkEntry.queries("graph_bfs_distance")(spark, d))
    // the 8 frontier rounds ran eagerly under RoundCheckpoints — the
    // final plan must be the checkpointed RDD + the output sort ONLY
    // (a join or parquet scan here would mean the whole cascade
    // replays per action, the anti-scale failure mode)
    assert(p.contains("Scan ExistingRDD"),
      s"final frame must come from the round checkpoint:\n$p")
    assert(!p.contains("Join") && !p.contains("Scan parquet"),
      s"no lineage replay past the checkpoint:\n$p")
  }

  test("agg_rfm_segments: quartile ranks never funnel data through one task") {
    // three globalPrefixSums passes over the checkpointed customer
    // aggregate replace the unpartitioned ntile window — the plan must
    // show the checkpoint + offset lookups and NO SinglePartition
    // data exchange at all (even the clock is a 1-row broadcast cross)
    val p = plan(graft.SparkEntry.queries("agg_rfm_segments")(spark, d))
    assert(!p.contains("Exchange SinglePartition"),
      s"no single-task rank pass allowed anywhere:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"segments must ride the checkpointed prefix sums:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"only the 1-row clock cross may nested-loop:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("graph_clustering_coefficient: all joins equi; per-corner credits map-side combine") {
    val p = plan(graft.SparkEntry.queries("graph_clustering_coefficient")(spark, d))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"degree/orientation/corner joins must all stay equi:\n$p")
    assert(p.contains("partial"),
      s"degree and per-vertex triangle counts must map-side combine:\n$p")
  }

  test("sim_ndcg_eval: retrieval rank prunes map-side; only the probe cross nested-loops") {
    val p = plan(graft.SparkEntry.queries("sim_ndcg_eval")(spark, d))
    assert(p.contains("WindowGroupLimit"),
      s"pos <= 10 must push down as WindowGroupLimit:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // the corpus×probes ground-truth pass is checkpointed: DCG and
    // IDCG both read the materialized frame, so the brute-force cross
    // runs ZERO times in the final plan (and once overall)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"ground truth must ride the checkpoint, not re-cross:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"both consumers must read the checkpointed exact frame:\n$p")
  }

  test("text_collocation_pmi: vocab joins equi; only the two 1-row totals cross") {
    val p = plan(graft.SparkEntry.queries("text_collocation_pmi")(spark, d))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      s"only the two 1-row totals crosses may nested-loop:\n$p")
    assert(p.contains("partial"),
      s"token/bigram counting must map-side combine:\n$p")
  }

  test("pipeline_balance_ipf: one corpus agg; the fit lives on the cell frame") {
    val p = plan(graft.SparkEntry.queries("pipeline_balance_ipf")(spark, d))
    assert(p.contains("partial"),
      s"the corpus-sized cell count must map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"only the 1-row totals cross may nested-loop:\n$p")
    assert("Scan parquet".r.findAllIn(p).size <= 2,
      s"cells + totals must come from at most two document scans:\n$p")
  }

  test("graph_adamic_adar: wedge generation and edge removal are all equi joins") {
    val p = plan(graft.SparkEntry.queries("graph_adamic_adar")(spark, d))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"degree/wedge/anti joins must all stay equi:\n$p")
    assert(p.contains("partial"),
      s"degree and per-pair aggregation must map-side combine:\n$p")
  }

  test("pipeline_span_corruption: map-only corpus pass — no join, no aggregate exchange") {
    val p = plan(graft.SparkEntry.queries("pipeline_span_corruption")(spark, d))
    assert(!p.contains("Join"), s"span corruption must not join:\n$p")
    assert(!p.contains("hashpartitioning"),
      s"no aggregate/shuffle — all array algebra is per-row:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"exactly one documents scan:\n$p")
    // the output sort is the ONLY exchange
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"only the input-sized report sort may exchange:\n$p")
  }

  test("dq_referential_integrity: five equi anti-joins; only 1-row totals cross") {
    val p = plan(graft.SparkEntry.queries("dq_referential_integrity")(spark, d))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert("LeftAnti".r.findAllIn(p).size >= 5,
      s"each relation must audit via an anti-join:\n$p")
    // each relation crosses its two 1-row aggregates — nothing else
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 5,
      s"only the five 1-row totals crosses may nested-loop:\n$p")
    assert(p.contains("partial"), s"orphan counting must map-side combine:\n$p")
  }

  test("text_hashed_features: one scan, one two-phase count, no join") {
    val p = plan(graft.SparkEntry.queries("text_hashed_features")(spark, d))
    assert(!p.contains("Join"), s"the hashing trick must not join:\n$p")
    assert(p.contains("partial"),
      s"(doc, slot) counting must map-side combine:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"exactly one documents scan:\n$p")
  }

  test("win_event_pattern: capped DFA fold shape + join-free common path") {
    // the fold subtree itself (lazy, pre-checkpoint): one user exchange,
    // spillable in-partition sort, O(1)-state DFA mapPartitions, no
    // collect_list — the r13 unbounded-group contract, now with the
    // r14 candidate-buffer cap
    val f = plan(graft.ops.WindowOps.eventPatternFolded(
      graft.T(spark, d, "events"), graft.ops.WindowOps.EventPatternCap))
    assert(!f.contains("Join"), s"the fold must not join:\n$f")
    assert("hashpartitioning\\(user_id".r.findAllIn(f).size <= 1,
      s"exactly one user-keyed exchange expected:\n$f")
    assert(!f.contains("collect_list"),
      s"no per-user sequence materialization in the fold:\n$f")
    assert(raw"Sort \[user_id#\d+L ASC NULLS FIRST, us#\d+L ASC NULLS FIRST, event_id#\d+L ASC NULLS FIRST\], false".r
      .findFirstIn(f).nonEmpty,
      s"expected an in-partition (spillable) (user,ts,event) sort:\n$f")
    assert(f.contains("MapPartitions"),
      s"expected the streaming DFA fold operator:\n$f")
    // the registered query on real data: no user overflows the 64 KiB
    // cap, so the rescue subtree must not be attached at all — the
    // common-case plan is checkpoint-scan → project → sort
    val p = plan(graft.SparkEntry.queries("win_event_pattern")(spark, d))
    assert(!p.contains("Join") && !p.contains("collect_list"),
      s"rescue subtree must be absent when nothing overflows:\n$p")
  }

  test("ts_kalman: same streaming-fold shape as ts_ewma — no window, no collect_list") {
    val p = plan(graft.SparkEntry.queries("ts_kalman")(spark, d))
    assert(!p.contains("windowspecdefinition"),
      s"the Kalman fold must not be shoehorned into a window:\n$p")
    assert(!p.contains("collect_list"),
      s"no per-group sequence materialization allowed:\n$p")
    assert(p.contains("hashpartitioning(user_id"),
      s"fold must ride a user_id hash exchange:\n$p")
    assert(p.contains("MapPartitions"),
      s"expected the streaming fold operator:\n$p")
  }

  test("win_rolling_slope: both window passes share ONE event_type exchange") {
    val p = plan(graft.SparkEntry.queries("win_rolling_slope")(spark, d))
    assert(!p.contains("Join"), s"rolling OLS must not join:\n$p")
    assert("hashpartitioning\\(event_type".r.findAllIn(p).size == 1,
      s"exactly one series-keyed exchange expected:\n$p")
  }

  test("sim_ann_nndescent: rounds are checkpoint-materialized; final plan reads the checkpoint") {
    val p = plan(graft.SparkEntry.queries("sim_ann_nndescent")(spark, d))
    assert(p.contains("Scan ExistingRDD"),
      s"final edges must come from the round checkpoint:\n$p")
    assert(!p.contains("Join") && !p.contains("Scan parquet"),
      s"no lineage replay past the checkpoint:\n$p")
  }

  test("text_keyword_rake: every exchange is doc-keyed; no cartesian") {
    val p = plan(graft.SparkEntry.queries("text_keyword_rake")(spark, d))
    assert(!p.contains("CartesianProduct"), s"no all-pairs stage:\n$p")
    val keys = "hashpartitioning\\((\\w+)".r.findAllMatchIn(p).map(_.group(1)).toSet
    assert(keys == Set("doc_id"),
      s"all shuffles must co-partition on doc_id, got $keys:\n$p")
  }

  test("graph_ppr_seeded: rounds are checkpoint-materialized; final plan reads the checkpoint") {
    val p = plan(graft.SparkEntry.queries("graph_ppr_seeded")(spark, d))
    assert(p.contains("Scan ExistingRDD"),
      s"final ranks must come from the round checkpoint:\n$p")
    assert(!p.contains("Join") && !p.contains("Scan parquet"),
      s"no lineage replay past the checkpoint:\n$p")
  }

  test("sort_hilbert_cluster: the curve index is map-side; one scan, one two-phase agg") {
    val p = plan(graft.SparkEntry.queries("sort_hilbert_cluster")(spark, d))
    assert(!p.contains("Join"), s"the curve transform must not join:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"exactly one lineitem scan:\n$p")
    assert(p.contains("partial"), s"file stats must map-side combine:\n$p")
  }

  test("agg_delta_method_ratio: two chained two-phase aggs, no join") {
    val p = plan(graft.SparkEntry.queries("agg_delta_method_ratio")(spark, d))
    assert(!p.contains("Join"), s"the moment chain must not join:\n$p")
    assert(p.contains("partial"),
      s"user and variant aggregation must map-side combine:\n$p")
  }

  test("graph_hits: rounds are checkpoint-materialized; final plan joins two checkpoints") {
    val p = plan(graft.SparkEntry.queries("graph_hits")(spark, d))
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 2,
      s"final hub and authority frames must both read checkpoints:\n$p")
    assert(!p.contains("Scan parquet"),
      s"no lineage replay past the checkpoints:\n$p")
  }

  test("text_bigram_kn: vocab-keyed equi joins back to the doc grain; counts combine map-side") {
    val p = plan(graft.SparkEntry.queries("text_bigram_kn")(spark, d))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"only the 1-row type-total cross may nested-loop:\n$p")
    assert(p.contains("partial"), s"count frames must map-side combine:\n$p")
  }

  test("agg_hll_intersection: one register pass feeds all three estimates") {
    val p = plan(graft.SparkEntry.queries("agg_hll_intersection")(spark, d))
    // A, B, and the union merge must all read the checkpointed register
    // frame — re-sketching the corpus per estimate is the anti-scale move
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 3,
      s"all three estimates must ride the checkpointed registers:\n$p")
    // the events scans left are the exact-audit companion's two sides
    assert("Scan parquet".r.findAllIn(p).size <= 2,
      s"only the exact-audit companion may rescan events:\n$p")
  }

  test("graph_modularity: one edge build feeds all three count frames via checkpoint") {
    val p = plan(graft.SparkEntry.queries("graph_modularity")(spark, d))
    assert(p.contains("Scan ExistingRDD"),
      s"counts must ride the checkpointed edge/contribution frames:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // the 1-row q_total broadcast is the only nested-loop
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"only the 1-row q_total cross may nested-loop:\n$p")
  }

  test("win_time_weighted_avg: one series exchange serves the lead and the aggregate") {
    val p = plan(graft.SparkEntry.queries("win_time_weighted_avg")(spark, d))
    assert(!p.contains("Join"), s"the integral must not join:\n$p")
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size <= 1,
      s"lead window and user aggregate must share one exchange:\n$p")
    assert(p.contains("partial"), s"interval sums must map-side combine:\n$p")
  }

  test("ts_pacf: the recursion adds one user-sized pivot on top of the ACF pass") {
    val p = plan(graft.SparkEntry.queries("ts_pacf")(spark, d))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pivot + algebra must not join:\n$p")
    assert(p.contains("partial"), s"ACF moments must map-side combine:\n$p")
  }

  test("graph_assortativity: degree joins equi; moments combine map-side") {
    val p = plan(graft.SparkEntry.queries("graph_assortativity")(spark, d))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"degree joins must stay equi:\n$p")
    assert(p.contains("partial"), s"edge-pair moments must map-side combine:\n$p")
  }

  test("text_burstiness: token counting combines map-side; only the 1-row doc count crosses") {
    val p = plan(graft.SparkEntry.queries("text_burstiness")(spark, d))
    assert(p.contains("partial"), s"(w, doc) counting must map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"only the 1-row doc-count cross may nested-loop:\n$p")
  }

  test("agg_power_analysis: two chained two-phase aggs, no join") {
    val p = plan(graft.SparkEntry.queries("agg_power_analysis")(spark, d))
    assert(!p.contains("Join"), s"the calculator must not join:\n$p")
    assert(p.contains("partial"),
      s"user and type aggregation must map-side combine:\n$p")
  }

  test("ts_decay_sum: one map pass + one two-phase grouped aggregate") {
    val p = plan(graft.SparkEntry.queries("ts_decay_sum")(spark, d))
    assert(p.contains("partial"),
      s"decayed terms must map-side combine before the user shuffle:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"only the 1-row clock cross may nested-loop:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size <= 1,
      s"exactly one user-keyed exchange expected:\n$p")
  }

  test("win_attribution: window-only — the purchases-x-touches join is forbidden") {
    val p = plan(graft.SparkEntry.queries("win_attribution")(spark, d))
    assert(!p.contains("Join"),
      s"attribution must ride windows, never a per-user join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // one user exchange (both windows on (user,pid) reuse nothing
    // heavier than user-prefixed hash partitioning) + final agg
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size <= 2,
      s"touch windows must stay user-keyed:\n$p")
    assert(p.contains("partial"),
      s"per-channel totals must map-side combine:\n$p")
  }

  test("codec rows are map-only: no shuffle except the output sort") {
    for (key <- Seq("mm_png_decode", "mm_jpeg_color_decode",
        "mm_flac_fingerprint")) {
      val p = plan(graft.SparkEntry.queries(key)(spark, d))
      assert(!p.contains("Join"), s"$key must not join:\n$p")
      assert(!p.contains("hashpartitioning"),
        s"$key decode must be embarrassingly parallel:\n$p")
    }
  }

  test("graph_betweenness: equi-joins only, no cartesian") {
    val p = plan(graft.SparkEntry.queries("graph_betweenness")(spark, d))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"Brandes passes must stay vertex-keyed equi-joins:\n$p")
  }

  test("dedup_paragraph: keeper min combines map-side; no window over the line key") {
    val p = plan(graft.SparkEntry.queries("dedup_paragraph")(spark, d))
    // the hot-boilerplate skew defense: the keeper is a partial-agg min,
    // NOT a row_number window partitioned by line (which would funnel a
    // 10^9-occurrence line through one task)
    assert(!p.contains("Window"), s"keeper rule must be an aggregate, not a window:\n$p")
    assert("partial_min|min#".r.findFirstIn(p).isDefined || p.contains("partial"),
      s"keeper min must partial-combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("mm_audio_vad is map-only: the frame walk never shuffles PCM") {
    val p = plan(graft.SparkEntry.queries("mm_audio_vad")(spark, d))
    assert(!p.contains("Join"), s"VAD must not join:\n$p")
    assert(!p.contains("hashpartitioning"),
      s"VAD must be embarrassingly parallel:\n$p")
  }

  test("graph_katz/sssp/scc: equi-joins only, never cartesian") {
    for (key <- Seq("graph_katz_centrality", "graph_sssp_weighted", "graph_scc")) {
      val p = plan(graft.SparkEntry.queries(key)(spark, d))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$key rounds must stay vertex-keyed equi-joins:\n$p")
    }
  }

  test("ts_macd rides the ewma streaming-fold shape: one user exchange, spillable sort, no window") {
    val p = plan(graft.SparkEntry.queries("ts_macd")(spark, d))
    assert(p.contains("MapPartitions"), s"fold must be the O(1)-state mapPartitions:\n$p")
    // "Window" alone would match the WindowOps lambda class name —
    // match the physical operator's frame spec (the ts_ewma device)
    assert(!p.contains("windowspecdefinition"),
      s"no window machinery in the fold path:\n$p")
    assert(!p.contains("collect_list"),
      s"no per-group sequence materialization allowed:\n$p")
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"exactly one user-keyed exchange:\n$p")
  }

  test("pipeline_dsir: the scored frame checkpoints once; the mean is a 1-row broadcast") {
    // The scoring stage (tokens ⋈ broadcast vocab) runs INSIDE the
    // localCheckpoint (added r14 after the plan audit showed the mean
    // re-running the corpus pass), so the registered plan's visible
    // contract is: one ExistingRDD scan of the checkpointed scores, the
    // 1-row mean as the only nested-loop (cross) join, no cartesian.
    val p = plan(graft.SparkEntry.queries("pipeline_dsir")(spark, d))
    assert(p.contains("Scan ExistingRDD"),
      s"scores must come from the single checkpointed pass:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1,
      s"only the 1-row mean may nested-loop:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // the vocab join itself is pinned at build time: the artifact is a
    // broadcast()-hinted local frame, which Spark must honor
    val vdf = LlmOps.dsirVocab(spark, d)
    assert(vdf.length <= 256)
  }

  test("eval threshold-sweep rows: prefix machinery only, no single-partition window") {
    for (key <- Seq("eval_auc_roc", "eval_pr_auc", "eval_f1_sweep")) {
      val p = plan(graft.SparkEntry.queries(key)(spark, d))
      // globalPrefixSums windows partition by pid; a bare global-order
      // window would print an empty partition spec over SinglePartition
      assert(!p.contains("Window [") ||
        !"windowspecdefinition\\(\\w+#\\d+ ASC".r.findFirstIn(p).exists(_ => p.contains("Exchange SinglePartition\n")),
        s"$key must not run a single-partition global window:\n$p")
      assert(!p.contains("CartesianProduct"), s"$key: no cartesian:\n$p")
    }
  }

  test("agg_kruskal_wallis: rank machinery is the grouped prefix, not a global window") {
    val p = plan(graft.SparkEntry.queries("agg_kruskal_wallis")(spark, d))
    // the prefix pass itself ran at localCheckpoint time (it shows as a
    // Scan ExistingRDD here); the final plan may only single-partition
    // its SCALAR aggregates (tie/h/n 1-row frames), never data
    assert("Exchange SinglePartition".r.findAllIn(p).size <= 4,
      s"only the scalar-result exchanges may single-partition:\n$p")
    assert(!"windowspecdefinition".r.findFirstIn(p).isDefined,
      s"no window machinery may replace the prefix ranks:\n$p")
  }

  test("pipeline_fim and text_unicode_normalize are map-only corpus passes") {
    for (key <- Seq("pipeline_fim", "text_unicode_normalize")) {
      val p = plan(graft.SparkEntry.queries(key)(spark, d))
      assert(!p.contains("Join"), s"$key must not join:\n$p")
      assert(!p.contains("hashpartitioning"),
        s"$key must stay embarrassingly parallel (output sort aside):\n$p")
    }
  }

  test("ts_dtw: the 144-cell DP stays inside one projection chain, no loop joins") {
    val p = plan(graft.SparkEntry.queries("ts_dtw")(spark, d))
    assert(!p.contains("CartesianProduct"),
      s"the 1-row pivots must broadcast, not cartesian:\n$p")
    // the DP must not have exploded into per-cell joins
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 4,
      s"DP cells leaked into the join graph:\n$p")
  }

  test("sim_ann_ivfpq: candidates stay cell-keyed; PQ scoring never touches embeddings") {
    val p = plan(graft.SparkEntry.queries("sim_ann_ivfpq")(spark, d))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // cell-keyed equi-join: shuffled on the cell at scale, or broadcast
    // when one side fits (this sf) — never a loop join
    assert(p.contains("hashpartitioning(bucket") || p.contains("BroadcastHashJoin"),
      s"the SDC self-join must stay a cell-keyed equi-join:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"top-k per anchor must rank-prune map-side before the shuffle:\n$p")
  }

  test("sim_ann_ivf_hier: two-level assignment and candidates stay equi-joined") {
    val p = plan(graft.SparkEntry.queries("sim_ann_ivf_hier")(spark, d))
    // neither the coarse-cell sub-centroid join nor the (cell,si)
    // candidate self-join may degrade to a loop join — at 100 TB both
    // must be shuffle-equi (broadcast here where a side fits)
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"no loop join:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"top-k must rank-prune map-side before the shuffle:\n$p")
  }

  test("mm_training_set: composition stays one plan — broadcast dims, no cartesian blowup") {
    val p = plan(graft.SparkEntry.queries("mm_training_set")(spark, d))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // the 5-row bucket table may ride a broadcast loop join; anything
    // more means the embedding join degraded
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"only the 5-row bucket argmin may loop-join:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("hashpartitioning(doc_id") ||
      p.contains("hashpartitioning(vec_id"),
      s"the embedding join must be an equi-join:\n$p")
  }

  test("sim_ann_ivfpq_trained: the trained path keeps the flat IVFADC plan shape") {
    val p = plan(graft.SparkEntry.queries("sim_ann_ivfpq_trained")(spark, d))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(p.contains("hashpartitioning(bucket") || p.contains("BroadcastHashJoin"),
      s"the SDC self-join must stay a cell-keyed equi-join:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"top-k must rank-prune map-side before the shuffle:\n$p")
  }
}
