package graft.ops

import graft.{Checkpoints, QueryModule, T}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** SURVEY.md §2.E (window functions) + §2.F (sorts/limits/top-k).
  *
  * All window orderings carry a unique tiebreak column (event_id /
  * p_partkey / c_custkey) so frames are deterministic for the hash oracle.
  * Scale: windows shuffle once on their partition key; global ranks
  * and running sums go through [[WindowOps.globalPrefixSums]], so no
  * operator here ever funnels the table through a single task.
  */
object WindowOps extends QueryModule {

  // ---------------------------------------------------------------- E

  q("win_rank_topk_per_group",
    """SELECT p_brand, p_partkey, p_retailprice FROM (
      |  SELECT p_brand, p_partkey, p_retailprice,
      |         row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
      |  FROM part) t WHERE rn <= 3 ORDER BY p_brand, p_partkey""") { (s, d) =>
    val w = Window.partitionBy("p_brand")
      .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
    T(s, d, "part")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("p_brand", "p_partkey", "p_retailprice")
      .orderBy("p_brand", "p_partkey")
  }

  // Same result as win_rank_topk_per_group, computed with the bounded
  // TopKAgg Aggregator instead of a window: the shuffle carries at most
  // k rows per group (map-side partial top-k) and nothing sorts whole
  // partitions — the 100 TB formulation. Identical DuckDB oracle.
  q("topk_per_group_agg",
    """SELECT p_brand, p_partkey, p_retailprice FROM (
      |  SELECT p_brand, p_partkey, p_retailprice,
      |         row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
      |  FROM part) t WHERE rn <= 3 ORDER BY p_brand, p_partkey""") { (s, d) =>
    import graft.functions.{TopKAgg, TopKEntry}
    import s.implicits._
    val topk = udaf(TopKAgg(3))
    T(s, d, "part")
      .groupBy("p_brand")
      .agg(topk(col("p_retailprice"), col("p_partkey")).as("top"))
      .select(col("p_brand"), explode(col("top.items")).as("e"))
      .select(col("p_brand"), col("e.id").as("p_partkey"), col("e.value").as("p_retailprice"))
      .orderBy("p_brand", "p_partkey")
  }

  // pointwise subtraction of identical doubles is bitwise deterministic —
  // no rounding (rounding would ADD half-boundary risk, not remove it)
  q("win_lag_delta",
    """SELECT event_id,
      |       value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
      |FROM events ORDER BY event_id""") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    T(s, d, "events")
      .select(col("event_id"),
        (col("value") - lag(col("value"), 1).over(w)).as("delta"))
      .orderBy("event_id")
  }

  q("win_moving_avg",
    """SELECT event_id,
      |       round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS mov_avg
      |FROM events ORDER BY event_id""") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(-6, 0)
    T(s, d, "events")
      .select(col("event_id"), round(avg(col("value")).over(w), 6).as("mov_avg"))
      .orderBy("event_id")
  }

  q("win_range_frame",
    """SELECT event_id,
      |       round(sum(value) OVER (PARTITION BY user_id ORDER BY (epoch_us(ts) // 1000000)
      |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 4) AS sum_1h
      |FROM events ORDER BY event_id""") { (s, d) =>
    val e = T(s, d, "events")
      // integer floor division (`div`) matching the oracle's `//` —
      // double `/` + cast truncates toward zero, which differs from
      // floor for pre-epoch timestamps (checklist rule 6)
      .withColumn("sec", expr("unix_micros(ts) div 1000000"))
    val w = Window.partitionBy("user_id").orderBy(col("sec").asc)
      .rangeBetween(-3600, 0)
    e.select(col("event_id"), round(sum(col("value")).over(w), 4).as("sum_1h"))
      .orderBy("event_id")
  }

  /** Rolling exact median (robust smoothing — the outlier-resistant
    * twin of win_moving_avg): continuous-interpolation percentile over
    * a trailing 7-row frame. Exact is fine HERE because the frame is
    * O(1) rows; an unbounded-frame median would swap in the KLL
    * sketch like agg_approx_percentile.
    */
  q("win_median_window",
    """SELECT event_id,
      |       round(quantile_cont(value, 0.5) OVER (
      |         PARTITION BY user_id ORDER BY ts, event_id
      |         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS med
      |FROM events ORDER BY event_id""") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(-6, 0)
    T(s, d, "events")
      .select(col("event_id"),
        round(percentile(col("value"), lit(0.5)).over(w), 6).as("med"))
      .orderBy("event_id")
  }

  /** Rolling z-score — the standard streaming-adjacent anomaly signal
    * over a metric series: (x − trailing mean) / trailing stddev per
    * user. One shuffle on the partition key; windows <2 rows have no
    * sample stddev and score null (DuckDB agrees). Rounded to 6: the
    * two engines' stddev accumulations differ at the ulp level.
    */
  q("ts_zscore_window",
    """SELECT event_id,
      |       round((value - avg(value) OVER w) /
      |             nullif(stddev_samp(value) OVER w, 0), 6) AS zscore
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(-10, 0)
    T(s, d, "events")
      .select(col("event_id"),
        round((col("value") - avg(col("value")).over(w)) /
          nullif(stddev_samp(col("value")).over(w), lit(0.0)), 6).as("zscore"))
      .orderBy("event_id")
  }

  q("win_cume",
    """SELECT event_id,
      |       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS cume
      |FROM events ORDER BY event_id""") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    T(s, d, "events")
      .select(col("event_id"), round(sum(col("value")).over(w), 4).as("cume"))
      .orderBy("event_id")
  }

  /** Scale-safe global INCLUSIVE prefix sums of `sumCols` (integer
    * columns) over the total order `sortCols`, WITHOUT the
    * single-partition global window (`Window.orderBy` with no partition
    * key moves the whole table through one task — the scale-killer this
    * replaces). Two passes:
    *   1. [[rangeBucketSums]]: `repartitionByRange` on the sort key →
    *      partition i's keys all precede partition j's for i<j; running
    *      sums from ONE window PARTITIONED BY the bucket id (max task
    *      size = one range bucket, never the table).
    *   2. per-bucket totals (#partitions rows) → driver-side exclusive
    *      offsets (O(#partitions), like IVF's centroid pull), added by
    *      a literal-array lookup on the bucket id.
    * Pass 1 is localCheckpoint'd so the totals action and the final
    * result share one execution. No Exchange SinglePartition anywhere —
    * asserted in PlanInvariantsSpec. Returns the input columns, then
    * `cum_<c>` (long) in `sumCols` order. The global row_number is the
    * running count of a `one` = 1 column: every caller sorts on a total
    * order, so the ROWS frame has no tie plateaus.
    */
  private[ops] def globalPrefixSums(df: DataFrame, sortCols: Seq[Column],
      sumCols: Seq[String]): DataFrame = {
    val ranked = Checkpoints.take(rangeBucketSums(df, sortCols, sumCols))
    val totals = ranked.groupBy("pid")
      .agg(sum(col(sumCols.head)).cast("long"),
        sumCols.tail.map(c => sum(col(c)).cast("long")): _*)
      .collect()
    val nPids = totals.map(_.getInt(0) + 1).maxOption.getOrElse(0)
    val cums = sumCols.zipWithIndex.map { case (c, i) =>
      val t = new Array[Long](nPids) // empty range buckets hold no rows
      totals.foreach(r => t(r.getInt(0)) = r.getLong(i + 1))
      val offsets = t.scanLeft(0L)(_ + _).init
      (col(s"ic_$c") + element_at(typedLit(offsets), col("pid") + 1)).as(s"cum_$c")
    }
    ranked.select(df.columns.toSeq.map(col) ++ cums: _*)
  }

  /** Pass 1 of [[globalPrefixSums]], before its checkpoint: range-bucket
    * on the sort key, then the intra-bucket running sum `ic_<c>` of
    * every `sumCols` column in one projection over one partition sort.
    */
  private[ops] def rangeBucketSums(df: DataFrame, sortCols: Seq[Column],
      sumCols: Seq[String]): DataFrame = {
    val parts = df.sparkSession.sparkContext.defaultParallelism
    val wIntra = Window.partitionBy("pid").orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.repartitionByRange(parts, sortCols: _*)
      .withColumn("pid", spark_partition_id())
      .select(col("*") +:
        sumCols.map(c => sum(col(c)).over(wIntra).cast("long").as(s"ic_$c")): _*)
  }

  /** ntile(k) from a 1-based global `rank` over `n` rows, closed form:
    * the first n mod k tiles get ceil(n/k) rows, the rest floor(n/k).
    */
  private[ops] def ntileBucket(rank: Column, n: Long, k: Long): Column = {
    val q0 = n / k
    val rem = n % k
    when(lit(rem) > 0 && rank <= lit(rem * (q0 + 1)),
      floor((rank - 1) / lit(q0 + 1)) + 1)
      .otherwise(lit(rem) +
        floor((rank - lit(rem * (q0 + 1)) - 1) / lit(math.max(q0, 1L))) + 1)
      .cast("int")
  }

  q("win_ntile_percent",
    """SELECT c_custkey,
      |       ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS bucket,
      |       round(percent_rank() OVER (ORDER BY c_acctbal, c_custkey), 6) AS pr
      |FROM customer ORDER BY c_custkey""") { (s, d) =>
    val cust = T(s, d, "customer").select("c_custkey", "c_acctbal")
    val n = cust.count()
    // percent_rank = (rank-1)/(n-1), exact since the (c_acctbal,
    // c_custkey) order is unique (no tie plateaus)
    val rank = col("cum_one")
    val pr =
      if (n <= 1) lit(0.0)
      else round((rank - 1).cast("double") / lit((n - 1).toDouble), 6)
    globalPrefixSums(cust.withColumn("one", lit(1L)),
        Seq(col("c_acctbal").asc, col("c_custkey").asc), Seq("one"))
      .select(col("c_custkey"), ntileBucket(rank, n, 4).as("bucket"), pr.as("pr"))
      .orderBy("c_custkey")
  }

  /** RFM quartile segmentation per customer (SPEC: the
    * recency/frequency/monetary scoring standard of database
    * marketing — Hughes 1994; the canonical "score every entity by
    * quantile rank on three behavioral axes" op): R = whole days since
    * the customer's last order (vs the global max order date — LONG µs
    * arithmetic, rule 6), F = order count, M = lifetime spend in
    * integer cents (exact at any accumulation order), each mapped to a
    * 1–4 quartile via ntile(4) over (metric, custkey). Spark side
    * reproduces ntile's closed form ([[ntileBucket]]) from a
    * DISTRIBUTED global rank — three [[globalPrefixSums]] passes over
    * the customer-sized aggregate frame (range-partition +
    * intra-partition running count + O(#partitions) offset lookup),
    * NEVER an unpartitioned window:
    * at 100 TB the single-partition ntile sort is the anti-scale
    * move, the rank passes are each one bounded-frame shuffle.
    * rfm_code packs the three digits (444 = best-ish corner by the
    * ascending-metric convention documented here: segment 4 = highest
    * metric value, so R-segment 4 = LONGEST inactivity).
    */
  q("agg_rfm_segments",
    """WITH mx AS (SELECT max(o_orderdate) AS m FROM orders),
      |c AS (
      |  SELECT o_custkey,
      |         (epoch_us((SELECT m FROM mx)) - epoch_us(max(o_orderdate)))
      |           // 86400000000 AS r_days,
      |         CAST(count(*) AS BIGINT) AS f,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |           AS m_cents
      |  FROM orders GROUP BY o_custkey),
      |s AS (
      |  SELECT o_custkey, CAST(r_days AS BIGINT) AS r_days, f, m_cents,
      |         CAST(ntile(4) OVER (ORDER BY r_days, o_custkey) AS INTEGER) AS r_seg,
      |         CAST(ntile(4) OVER (ORDER BY f, o_custkey) AS INTEGER) AS f_seg,
      |         CAST(ntile(4) OVER (ORDER BY m_cents, o_custkey) AS INTEGER) AS m_seg
      |  FROM c)
      |SELECT o_custkey, r_days, f, m_cents, r_seg, f_seg, m_seg,
      |       CAST(r_seg * 100 + f_seg * 10 + m_seg AS INTEGER) AS rfm_code
      |FROM s ORDER BY o_custkey""") { (s, d) =>
    val mx = T(s, d, "orders").agg(max("o_orderdate").as("m"))
    val c = T(s, d, "orders")
      .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
      .crossJoin(broadcast(mx)) // 1-row global clock
      .groupBy("o_custkey")
      .agg(
        // o_orderdate is TIMESTAMP_NTZ; the NTZ→TZ cast is a bijection
        // because Sessions pins spark.sql.session.timeZone=UTC, and it
        // matches DuckDB's epoch_us over its own naive timestamp
        expr("""(unix_micros(cast(max(m) as timestamp))
                 - unix_micros(cast(max(o_orderdate) as timestamp)))
                div 86400000000""")
          .as("r_days"),
        count(lit(1)).cast("long").as("f"),
        sum(expr("cast(round(o_totalprice * 100) as bigint)")).cast("long").as("m_cents"))
      .transform(Checkpoints.take) // three rank passes + the count read one materialization
    val n = c.count()
    def seg(df: DataFrame, metric: String, alias: String): DataFrame =
      globalPrefixSums(df.withColumn("one", lit(1L)),
          Seq(col(metric).asc, col("o_custkey").asc), Seq("one"))
        .select(df.columns.toSeq.map(col) :+ ntileBucket(col("cum_one"), n, 4).as(alias): _*)
    val segd = seg(seg(seg(c, "r_days", "r_seg"), "f", "f_seg"), "m_cents", "m_seg")
    segd.select(col("o_custkey"), col("r_days").cast("long").as("r_days"),
      col("f"), col("m_cents"), col("r_seg"), col("f_seg"), col("m_seg"),
      (col("r_seg") * 100 + col("f_seg") * 10 + col("m_seg")).cast("int").as("rfm_code"))
      .orderBy("o_custkey") // one row per customer = input-sized
  }

  /** Exponentially time-decayed value sum per user (SPEC: the standard
    * recency-weighted engagement/feature score — e.g. Ditto/feature-
    * store "decayed sum" aggregates; half-life form w = 2^(−age)):
    * score = Σ value·2^(−floor(age_days)), age relative to the global
    * max timestamp. DELIBERATELY TRANSCENDENTAL-FREE: ages floor to
    * whole days and the half-life base is 2, so every weight is an
    * EXACT negative power of two (shiftleft arithmetic, capped at
    * 2⁻³³ like the HLL ranks), value scales by it EXACTLY (powers of
    * two only shift the exponent), and the per-row term snaps to the
    * dy20 grid before the per-user sum — order-exact under rule 12
    * (bound: per-user decayed total < 2³³). An exp(−λΔt) variant
    * would put a libm call on every row (ulp-skew × row count, the
    * checklist-12 degradation); the dyadic ladder is the scale-stable
    * form. Age arithmetic stays in LONG µs (rule 6). Shape: one map
    * pass + ONE two-phase grouped aggregate; the global max is a
    * 1-row broadcast.
    */
  q("ts_decay_sum",
    s"""WITH mx AS (SELECT max(ts) AS m FROM events),
      |t AS (
      |  SELECT user_id, value,
      |         least((epoch_us((SELECT m FROM mx)) - epoch_us(ts)) // 86400000000, 33)
      |           AS age_d
      |  FROM events)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |       round(sum(${Grid.dy20Sql(
             "value / CAST(CAST(1 AS BIGINT) << age_d AS DOUBLE)")}), 6) AS score
      |FROM t GROUP BY user_id ORDER BY user_id""") { (s, d) =>
    val mx = T(s, d, "events").agg(max("ts").as("m"))
    T(s, d, "events")
      .select(col("user_id"), col("value"), col("ts"))
      .crossJoin(broadcast(mx)) // 1-row global clock: genuinely bounded
      .withColumn("age_d",
        least(expr("(unix_micros(m) - unix_micros(ts)) div 86400000000"), lit(33L)))
      .withColumn("term", Grid.dy20(col("value") /
        expr("cast(shiftleft(cast(1 as bigint), cast(age_d as int)) as double)")))
      .groupBy("user_id")
      .agg(count(lit(1)).cast("long").as("n"), round(sum("term"), 6).as("score"))
      .orderBy("user_id") // one row per user = input-sized
  }

  /** Row-pattern matching over per-user event sequences (SQL:2016
    * MATCH_RECOGNIZE semantics, the CEP primitive Spark SQL lacks —
    * Flink CEP / Trino MATCH_RECOGNIZE territory): encode each user's
    * time-ordered events as a symbol string (one DISTINCT initial per
    * event_type here) and run the pattern as a regex — the pattern is
    * the conversion journey `v[^p]*c[^p]*p` (view, later a click,
    * later a purchase, with NO intervening purchase), counted
    * non-overlapping leftmost-greedy (exactly MATCH_RECOGNIZE's
    * AFTER MATCH SKIP PAST LAST ROW). The pattern class (no backrefs,
    * no lookaround) makes the match a 4-state DFA, so since round 13
    * this runs on the UNBOUNDED-GROUP streaming-fold rung — the same
    * shape as [[ts_ewma]] (see its scaladoc): repartition(user_id) +
    * spillable sortWithinPartitions on (user_id, µs, event_id) — a
    * total order, so the fold sees exactly the oracle's ORDER BY
    * sequence — + an O(1)-state mapPartitions DFA walk. Per in-flight
    * user the state is (dfa state, event count, match count, segment
    * start ordinal) plus a buffer of the CURRENT candidate segment,
    * HARD-CAPPED at [[WindowOps.EventPatternCap]] chars (r14: a user
    * whose candidate never terminates — a 'v' followed by a p-free
    * tail — previously accumulated O(user history); the cap restores
    * the bounded-memory contract). A first match longer than the cap
    * is still counted exactly by the O(1) counters; only its TEXT is
    * reconstructed by the rare-path rescue: the fold records the
    * match's (start, end) ordinals, and a broadcast join + positional
    * window slice re-reads exactly that segment (collect_list bounded
    * by ONE match's length, and only for overflowed users — the rescue
    * subtree is attached only when the checkpointed fold output shows
    * an overflow, so the common-case plan carries no join at all). DFA ≡
    * leftmost-greedy regex: a match from a given 'v' must end at the
    * FIRST 'p' after it ([^p]* cannot cross a 'p'), and if the segment
    * up to that 'p' has no 'c' then EVERY start before that 'p' fails,
    * so candidates reset on the kill — which is precisely
    * (idle →v→ armed →c→ primed →p→ match; armed →p→ idle).
    */
  q("win_event_pattern",
    """WITH sq AS (
      |  SELECT user_id,
      |         array_to_string(list(substring(event_type, 1, 1)
      |           ORDER BY ts, event_id), '') AS seq
      |  FROM events GROUP BY user_id)
      |SELECT user_id, CAST(length(seq) AS INTEGER) AS seq_len,
      |       CAST(len(regexp_extract_all(seq, 'v[^p]*c[^p]*p')) AS INTEGER)
      |         AS n_matches,
      |       coalesce(regexp_extract_all(seq, 'v[^p]*c[^p]*p')[1], '')
      |         AS first_match
      |FROM sq ORDER BY user_id""") { (s, d) =>
    eventPatternMatch(T(s, d, "events"), EventPatternCap)
  }

  /** Candidate-segment buffer cap for [[eventPatternMatch]] — 64 KiB of
    * symbol chars per in-flight user before the fold switches from
    * buffering text to tracking ordinals (rescue path).
    */
  private[graft] val EventPatternCap = 65536

  /** The win_event_pattern engine, cap-parameterized so the rescue path
    * is testable on small crafted fixtures (OpsSemanticsSpec drives it
    * with cap=4). `events` needs (user_id, ts, event_id, event_type).
    * The folded frame is checkpointed (it is user-sized and feeds both
    * the rescue probe and the final result) and the rescue subtree is
    * attached only when some user actually overflowed the cap — the
    * common-case plan is checkpoint-scan → project → sort, no join.
    */
  private[graft] def eventPatternMatch(events: DataFrame, cap: Int): DataFrame = {
    val folded = Checkpoints.take(eventPatternFolded(events, cap))
    val need = folded.filter(col("fm").isNull)
      .select(col("user_id"), col("m_start"), col("m_end"))
    val plain = folded.select(col("user_id"), col("seq_len"),
      col("n_matches"), col("fm").as("first_match"))
    val resolved =
      if (need.isEmpty) plain
      else {
        val sym = eventPatternSymbols(events)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("us", "event_id")
        val rescued = sym.withColumn("pos", row_number().over(w))
          .join(broadcast(need), Seq("user_id"))
          .filter(col("pos").between(col("m_start"), col("m_end")))
          .groupBy("user_id")
          .agg(array_join(
            transform(array_sort(collect_list(struct(col("pos"), col("ch")))),
              x => x.getField("ch")), "").as("fm_rescued"))
        folded.join(broadcast(rescued), Seq("user_id"), "left")
          .select(col("user_id"), col("seq_len"), col("n_matches"),
            coalesce(col("fm"), col("fm_rescued")).as("first_match"))
      }
    resolved.orderBy("user_id") // one row per user = input-sized
  }

  private def eventPatternSymbols(events: DataFrame): DataFrame =
    events.select(col("user_id"), unix_micros(col("ts")).as("us"),
      col("event_id"), substring(col("event_type"), 1, 1).as("ch"))

  /** The capped single-pass DFA fold — kept lazy and join-free so
    * PlanInvariantsSpec can pin its shape (one user exchange +
    * spillable in-partition sort + MapPartitions) independently of the
    * rescue machinery layered on top by [[eventPatternMatch]].
    */
  private[graft] def eventPatternFolded(events: DataFrame, cap: Int): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    eventPatternSymbols(events)
      .repartition(col("user_id"))
      .sortWithinPartitions("user_id", "us", "event_id")
      .select(col("user_id"), col("ch"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val rows = it.buffered
        new Iterator[(Long, Int, Int, String, Int, Int)] {
          def hasNext: Boolean = rows.hasNext
          def next(): (Long, Int, Int, String, Int, Int) = {
            val u = rows.head._1
            var len = 0
            var matches = 0
            var state = 0 // 0 idle, 1 armed (v seen), 2 primed (v..c seen)
            var first: String = null
            var overflow = false // candidate text outgrew cap pre-match
            var segStart = -1    // 1-based ordinal of the candidate's 'v'
            var mStart = -1      // first match's [start, end] ordinals
            var mEnd = -1
            val buf = new java.lang.StringBuilder
            while (rows.hasNext && rows.head._1 == u) {
              val c = rows.next()._2.charAt(0)
              len += 1
              // buffer/track the candidate segment only until the first
              // match lands; past the cap keep ordinals only
              if (first == null && mStart < 0 && (state != 0 || c == 'v')) {
                if (state == 0) segStart = len // this 'v' opens the candidate
                if (!overflow) {
                  if (buf.length() < cap) buf.append(c)
                  else { overflow = true; buf.setLength(0) }
                }
              }
              if (c == 'p') {
                if (state == 2) {
                  matches += 1
                  if (first == null && mStart < 0) {
                    mStart = segStart; mEnd = len
                    if (!overflow) first = buf.toString
                  }
                }
                state = 0
                if (first == null && mStart < 0) { // candidate killed
                  buf.setLength(0); overflow = false; segStart = -1
                }
              } else if (c == 'c') {
                if (state == 1) state = 2
              } else if (c == 'v') {
                if (state == 0) state = 1
              }
            }
            // first: exact text ("" = no match at all, null = overflowed
            // match needing positional rescue via (mStart, mEnd))
            val fm = if (first != null) first
                     else if (mStart < 0) "" else null
            (u, len, matches, fm, mStart, mEnd)
          }
        }
      }
      .toDF("user_id", "seq_len", "n_matches", "fm", "m_start", "m_end")
  }

  /** Gaps-and-islands: consecutive runs of the same event_type per
    * user (the VALUE-run twin of time-gap sessionization): island id =
    * running count of type CHANGES (lag + growing-frame sum) — both
    * windows share ONE (user_id) partition sort, unlike the classic
    * rank-difference trick whose per-type row_number forces a second
    * shuffle on (user_id, type). One shuffle, two window passes, then
    * a two-phase aggregate per island.
    */
  q("win_gap_islands",
    """WITH c AS (
      |  SELECT user_id, event_type, ts, event_id,
      |         CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |                   IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
      |  FROM events),
      |     x AS (
      |  SELECT user_id, event_type, ts,
      |         CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
      |  FROM c)
      |SELECT user_id, event_type, island, count(*) AS run_len,
      |       CAST(epoch_us(min(ts)) AS BIGINT) AS run_start_us
      |FROM x GROUP BY user_id, event_type, island
      |ORDER BY user_id, island""") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    T(s, d, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        when(!(lag(col("event_type"), 1).over(w) <=> col("event_type")), 1)
          .otherwise(0).as("chg"))
      .select(col("user_id"), col("event_type"), col("ts"),
        sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding, 0)).as("island"))
      .groupBy("user_id", "event_type", "island")
      .agg(count(lit(1)).as("run_len"),
        unix_micros(min(col("ts"))).as("run_start_us"))
      // islands are input-sized in the worst case (alternating types):
      // keep the distributed sort per the ReportSort STRICT RULE
      .orderBy("user_id", "island")
  }

  /** first/last/nth frame navigation — completes the window-function
    * surface next to rank/lag/moving-agg: each user's first, latest,
    * and second event value over the full partition frame.
    */
  q("win_first_last",
    """SELECT event_id,
      |       first_value(value) OVER w AS first_v,
      |       last_value(value) OVER
      |         (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_v,
      |       nth_value(value, 2) OVER w AS second_v
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""") { (s, d) =>
    val grow = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val full = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    T(s, d, "events")
      .select(col("event_id"),
        first(col("value")).over(grow).as("first_v"),
        last(col("value")).over(full).as("last_v"),
        nth_value(col("value"), 2).over(grow).as("second_v"))
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------- F

  q("sort_by_key",
    "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity") {
    (s, d) =>
      T(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
  }

  q("limit_n",
    "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 100") { (s, d) =>
    T(s, d, "orders")
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")
      .limit(100)
      .orderBy("o_orderkey") // re-sort after limit so the written order is total
  }

  // orderBy+limit plans as TakeOrderedAndProject — no full global sort.
  q("topk_global",
    "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10") {
    (s, d) =>
      T(s, d, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
  }

  /** Time-series resample + gap-fill — regularize each user's event
    * stream onto a fixed day grid (avg within bucket, forward-fill
    * empty buckets from the last observation), the standard prep
    * before any longitudinal model. Shape: one bucket agg (map-side
    * partial), a per-user `sequence()` explode spanning only that
    * user's own [min, max] bucket range (grid size = active span, not
    * global span × users), a left join back, and one per-user window
    * for the fill. Everything partitions by user_id; at 100 TB the
    * grid explode is generated data (no scan), and no stage ever sees
    * more than span-per-user rows for one key.
    */
  q("ts_resample_ffill",
    """WITH b AS (SELECT user_id, date_trunc('day', ts) AS h, avg(value) AS av
      |           FROM events GROUP BY 1, 2),
      |     span AS (SELECT user_id, min(h) AS lo, max(h) AS hi FROM b GROUP BY 1),
      |     grid AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS h
      |              FROM span),
      |     j AS (SELECT g.user_id, g.h, b.av FROM grid g
      |           LEFT JOIN b ON b.user_id = g.user_id AND b.h = g.h)
      |SELECT user_id, CAST(epoch_us(h) AS BIGINT) AS day_us,
      |       round(last_value(av IGNORE NULLS) OVER (
      |         PARTITION BY user_id ORDER BY h
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS v
      |FROM j ORDER BY user_id, day_us""") { (s, d) =>
    val b = T(s, d, "events")
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("h"))
      .agg(avg("value").as("av"))
    val grid = b.groupBy("user_id")
      .agg(min("h").as("lo"), max("h").as("hi"))
      .select(col("user_id"),
        explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("h"))
    val w = Window.partitionBy("user_id").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(b, Seq("user_id", "h"), "left")
      .select(col("user_id"), unix_micros(col("h")).as("day_us"),
        round(last(col("av"), ignoreNulls = true).over(w), 6).as("v"))
      .orderBy("user_id", "day_us") // user×active-day grid = input-sized
  }

  /** Exponential moving average per user (α = 0.25) — the classic
    * recursive smoother (EWMA_t = α·x_t + (1−α)·EWMA_{t−1}, seeded
    * with the first observation). The recurrence has no closed window
    * form, so it runs as ONE per-user ordered fold — UNBOUNDED-GROUP
    * form since round 11 (the r10 verdict's #5): repartition on
    * user_id, spillable sortWithinPartitions on (user_id, ts,
    * event_id), then a STREAMING mapPartitions fold holding one
    * (acc, n) pair per in-flight user — task memory is O(1) per
    * group regardless of group size, where the previous
    * collect_list-per-user aggregate made a single hot user's whole
    * sequence an executor allocation (the documented OOM contract
    * this replaces). The fold order is identical to the old
    * sort_array walk (event_id disambiguates equal timestamps), so
    * values — and the oracle's list_reduce replay — are unchanged to
    * the bit; rounding happens in DataFrame land (Spark round
    * semantics, same as before). mapPartitions is the right tool
    * here per the custom-op ladder: an ordered streaming fold has no
    * Expression/window form, and the exchange+sort it rides is the
    * plan Spark would pay for ANY grouped ordered computation.
    * Parallelism ∝ #users (hash partitioning); a skewed hot user
    * costs sort spill, not memory.
    */
  /** Wilder's relative strength index per event_type series (SPEC:
    * Wilder 1978 "New Concepts in Technical Trading Systems", the
    * simple-moving-average variant over a 14-row trailing frame — the
    * bounded-momentum score monitoring stacks reuse well beyond
    * finance). delta = value − lag(value) ordered by (ts, event_id),
    * the unique total order (checklist rule 3). Gains/losses snap
    * onto the dyadic 2⁻²⁰ grid BEFORE the frame average (rule 12:
    * the windowed avg is a chained double aggregation; grid multiples
    * sum exactly in any accumulation order, |value| ≪ 2³³), so
    * cross-engine hash equality is structural, with one final
    * round(·,6) per row (rule 5). avg_loss = 0 → RSI = 100 (division
    * guard, rule 7); a series' first row has no delta → NULL. Two
    * stacked windows over ONE partitioning = one exchange+sort; at
    * 100 TB parallelism ∝ #series and a hot series costs sort spill,
    * not memory.
    */
  q("ts_rsi",
    s"""WITH d AS (
      |  SELECT event_id, event_type, ts,
      |         value - lag(value) OVER
      |           (PARTITION BY event_type ORDER BY ts, event_id) AS delta
      |  FROM events),
      |gl AS (
      |  SELECT event_id, event_type, ts,
      |         CASE WHEN delta IS NULL THEN NULL
      |              WHEN delta > 0 THEN ${Grid.dy20Sql("delta")}
      |              ELSE 0.0 END AS gain,
      |         CASE WHEN delta IS NULL THEN NULL
      |              WHEN delta < 0 THEN ${Grid.dy20Sql("-delta")}
      |              ELSE 0.0 END AS loss
      |  FROM d),
      |a AS (
      |  SELECT event_id, event_type,
      |         avg(gain) OVER w AS ag, avg(loss) OVER w AS al
      |  FROM gl
      |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
      |               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
      |SELECT event_id, event_type,
      |       CASE WHEN al IS NULL THEN NULL
      |            WHEN al = 0.0 THEN 100.0
      |            ELSE round(100.0 - 100.0 / (1.0 + ag / al), 6) END AS rsi
      |FROM a ORDER BY event_id""") { (s, d) =>
    val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    val wf = w.rowsBetween(-13, 0)
    val base = T(s, d, "events")
      .select(col("event_id"), col("event_type"), col("ts"), col("value"))
      .withColumn("delta", col("value") - lag("value", 1).over(w))
    val gl = base
      .withColumn("gain",
        when(col("delta").isNull, lit(null).cast("double"))
          .when(col("delta") > 0, Grid.dy20(col("delta")))
          .otherwise(lit(0.0)))
      .withColumn("loss",
        when(col("delta").isNull, lit(null).cast("double"))
          .when(col("delta") < 0, Grid.dy20(-col("delta")))
          .otherwise(lit(0.0)))
    gl.withColumn("ag", avg("gain").over(wf))
      .withColumn("al", avg("loss").over(wf))
      .select(col("event_id"), col("event_type"),
        when(col("al").isNull, lit(null).cast("double"))
          .when(col("al") === 0.0, lit(100.0))
          .otherwise(round(lit(100.0) - lit(100.0) / (lit(1.0) + col("ag") / col("al")), 6))
          .as("rsi"))
      .orderBy("event_id") // one row per event = input-sized
  }

  q("ts_ewma",
    """SELECT user_id, CAST(count(*) AS INTEGER) AS n,
      |       round(list_reduce(list(value ORDER BY ts, event_id),
      |                         (acc, x) -> acc * 0.75 + x * 0.25), 6) AS ewma
      |FROM events GROUP BY user_id ORDER BY user_id""") { (s, d) =>
    import s.implicits._
    T(s, d, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .repartition(col("user_id"))
      .sortWithinPartitions("user_id", "us", "event_id")
      .select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .mapPartitions { it =>
        val rows = it.buffered
        new Iterator[(Long, Int, Double)] {
          def hasNext: Boolean = rows.hasNext
          def next(): (Long, Int, Double) = {
            val (u, v0) = rows.next()
            var acc = v0
            var n = 1
            while (rows.hasNext && rows.head._1 == u) {
              acc = acc * 0.75 + rows.next()._2 * 0.25
              n += 1
            }
            (u, n, acc)
          }
        }
      }
      .toDF("user_id", "n", "acc")
      .select(col("user_id"), col("n"), round(col("acc"), 6).as("ewma"))
      .orderBy("user_id") // one row per user = input-sized
  }

  /** Holt's linear-trend smoothing per user (SPEC: Holt 1957 double
    * exponential smoothing; the trend-aware upgrade of [[ts_ewma]] and
    * the standard one-step forecaster for trending series):
    * l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1}),
    * b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}, seeded l₁ = x₁, b₁ = 0;
    * forecast = l_n + b_n. α = 0.5 and β = 0.25 are exact binary
    * fractions. Same UNBOUNDED-GROUP streaming-fold shape as
    * [[ts_ewma]] (see its scaladoc for the repartition + spillable
    * sort + O(1)-state mapPartitions rationale): the state is a
    * (level, trend) pair per in-flight user, fold order identical to
    * the old sort_array walk, so equality with the oracle's
    * list_reduce replay is bitwise before the safety rounding.
    */
  /** Local-level Kalman filter per user (SPEC: Kalman 1960 via the
    * structural-time-series local-level form, Harvey 1989 §3.2 — the
    * random-walk-plus-noise smoother that generalizes [[ts_ewma]] with
    * an ADAPTIVE gain: K_t = P/(P+R) starts high while the level is
    * uncertain and settles toward the steady state, where EWMA's α is
    * fixed forever):
    *   K = P/(P+R);  l ← l + K·(x − l);  P ← (1−K)·P + Q
    * with Q = 0.25, R = 1.0 (exact binary fractions), seeded l₁ = x₁,
    * P₁ = 1.0. Every update is the SAME IEEE expression in the same
    * association order on both engines (÷ is correctly rounded like
    * ·/+), so the fold is bitwise-identical to the oracle's
    * list_reduce replay before the safety rounding — the ts_holt
    * discipline with a division in the loop. Same UNBOUNDED-GROUP
    * streaming-fold shape as [[ts_ewma]]: repartition + spillable sort
    * + O(1)-state-per-user mapPartitions; at 100 TB the per-user state
    * is an (l, P) pair regardless of history length.
    */
  q("ts_kalman",
    // 2-element DOUBLE[] [level, P] state — the ts_holt struct-vs-list
    // quirk note applies unchanged (list elements all see the ORIGINAL
    // accumulator). K appears twice textually; it is the same IEEE
    // value both times, so factoring it in Scala is sound.
    """WITH f AS (
      |  SELECT user_id, count(*) AS n,
      |         list_reduce(list_transform(list(value ORDER BY ts, event_id),
      |             x -> [CAST(x AS DOUBLE), CAST(1.0 AS DOUBLE)]),
      |           (acc, e) -> [acc[1] + acc[2] / (acc[2] + 1.0) * (e[1] - acc[1]),
      |                        (1.0 - acc[2] / (acc[2] + 1.0)) * acc[2] + 0.25]) AS st
      |  FROM events GROUP BY user_id)
      |SELECT user_id, CAST(n AS INTEGER) AS n, round(st[1], 6) AS level,
      |       round(st[2], 6) AS p_var
      |FROM f ORDER BY user_id""") { (s, d) =>
    import s.implicits._
    T(s, d, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .repartition(col("user_id"))
      .sortWithinPartitions("user_id", "us", "event_id")
      .select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .mapPartitions { it =>
        val rows = it.buffered
        new Iterator[(Long, Int, Double, Double)] {
          def hasNext: Boolean = rows.hasNext
          def next(): (Long, Int, Double, Double) = {
            val (u, v0) = rows.next()
            var l = v0
            var p = 1.0
            var n = 1
            while (rows.hasNext && rows.head._1 == u) {
              val x = rows.next()._2
              val k = p / (p + 1.0)
              l = l + k * (x - l)
              p = (1.0 - k) * p + 0.25
              n += 1
            }
            (u, n, l, p)
          }
        }
      }
      .toDF("user_id", "n", "l", "p")
      .select(col("user_id"), col("n"), round(col("l"), 6).as("level"),
        round(col("p"), 6).as("p_var"))
      .orderBy("user_id") // one row per user = input-sized
  }

  /** MACD momentum indicator per user (SPEC: Appel's Moving Average
    * Convergence/Divergence — fast EMA minus slow EMA, plus a signal
    * EMA of that difference and the histogram their gap forms; THE
    * standard momentum/crossover feature a quant or anomaly pipeline
    * derives per series). Smoothing factors are exact binary fractions
    * (fast α=1/4, slow α=1/16, signal α=1/8 — the dyadic stand-ins for
    * the classic 12/26/9 periods' 2/(n+1), keeping every fold step an
    * exact-coefficient IEEE expression): with three accumulators
    * (e_f, e_s, sig) the update is e_f←¾e_f+¼x, e_s←(15/16)e_s+(1/16)x,
    * sig←⅞sig+⅛(e_f−e_s) — identical association order both engines,
    * so the fold is bitwise-equal to the oracle's list_reduce replay
    * before the safety rounding (the ts_holt discipline, one state
    * element wider). Same UNBOUNDED-GROUP streaming-fold shape as
    * [[ts_ewma]]: repartition + spillable sort + O(1)-state
    * mapPartitions; at 100 TB the per-user state is 3 doubles
    * regardless of history length.
    */
  q("ts_macd",
    // 3-element DOUBLE[] [e_fast, e_slow, signal] state — the ts_holt
    // struct-vs-list quirk note applies (list elements all see the
    // ORIGINAL accumulator, so e_f'/e_s' are textually expanded inside
    // the signal element; they are the same IEEE values)
    """WITH f AS (
      |  SELECT user_id, count(*) AS n,
      |         list_reduce(list_transform(list(value ORDER BY ts, event_id),
      |             x -> [CAST(x AS DOUBLE), CAST(x AS DOUBLE), CAST(0.0 AS DOUBLE)]),
      |           (acc, e) -> [acc[1] * 0.75 + e[1] * 0.25,
      |                        acc[2] * 0.9375 + e[1] * 0.0625,
      |                        acc[3] * 0.875
      |                          + ((acc[1] * 0.75 + e[1] * 0.25)
      |                             - (acc[2] * 0.9375 + e[1] * 0.0625)) * 0.125]) AS st
      |  FROM events GROUP BY user_id)
      |SELECT user_id, CAST(n AS INTEGER) AS n,
      |       round(st[1] - st[2], 6) AS macd,
      |       round(st[3], 6) AS signal,
      |       round((st[1] - st[2]) - st[3], 6) AS histogram
      |FROM f ORDER BY user_id""") { (s, d) =>
    import s.implicits._
    T(s, d, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .repartition(col("user_id"))
      .sortWithinPartitions("user_id", "us", "event_id")
      .select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .mapPartitions { it =>
        val rows = it.buffered
        new Iterator[(Long, Int, Double, Double)] {
          def hasNext: Boolean = rows.hasNext
          def next(): (Long, Int, Double, Double) = {
            val (u, v0) = rows.next()
            var ef = v0
            var es = v0
            var sig = 0.0
            var n = 1
            while (rows.hasNext && rows.head._1 == u) {
              val x = rows.next()._2
              ef = ef * 0.75 + x * 0.25
              es = es * 0.9375 + x * 0.0625
              sig = sig * 0.875 + (ef - es) * 0.125
              n += 1
            }
            (u, n, ef - es, sig)
          }
        }
      }
      .toDF("user_id", "n", "macd", "sig")
      .select(col("user_id"), col("n"), round(col("macd"), 6).as("macd"),
        round(col("sig"), 6).as("signal"),
        round(col("macd") - col("sig"), 6).as("histogram"))
      .orderBy("user_id") // one row per user = input-sized
  }

  q("ts_holt",
    // state is a 2-element DOUBLE[] [level, trend], NOT a struct: DuckDB
    // evaluates struct-literal fields in a reduce lambda sequentially
    // with `acc` rebound to the partially-built struct (the 'b' field
    // would see the NEW acc.l — observed, version-quirk territory);
    // list-literal elements all see the original accumulator
    """WITH f AS (
      |  SELECT user_id, count(*) AS n,
      |         list_reduce(list_transform(list(value ORDER BY ts, event_id),
      |             x -> [CAST(x AS DOUBLE), CAST(0.0 AS DOUBLE)]),
      |           (acc, e) -> [0.5 * e[1] + 0.5 * (acc[1] + acc[2]),
      |                        0.25 * (0.5 * e[1] + 0.5 * (acc[1] + acc[2]) - acc[1])
      |                          + 0.75 * acc[2]]) AS st
      |  FROM events GROUP BY user_id)
      |SELECT user_id, CAST(n AS INTEGER) AS n, round(st[1], 6) AS level,
      |       round(st[2], 6) AS trend, round(st[1] + st[2], 6) AS forecast
      |FROM f ORDER BY user_id""") { (s, d) =>
    import s.implicits._
    T(s, d, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .repartition(col("user_id"))
      .sortWithinPartitions("user_id", "us", "event_id")
      .select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .mapPartitions { it =>
        val rows = it.buffered
        new Iterator[(Long, Int, Double, Double)] {
          def hasNext: Boolean = rows.hasNext
          def next(): (Long, Int, Double, Double) = {
            val (u, v0) = rows.next()
            var l = v0
            var b = 0.0
            var n = 1
            while (rows.hasNext && rows.head._1 == u) {
              val x = rows.next()._2
              val l2 = 0.5 * x + 0.5 * (l + b)
              b = 0.25 * (l2 - l) + 0.75 * b
              l = l2
              n += 1
            }
            (u, n, l, b)
          }
        }
      }
      .toDF("user_id", "n", "l", "b")
      .select(col("user_id"), col("n"), round(col("l"), 6).as("level"),
        round(col("b"), 6).as("trend"),
        round(col("l") + col("b"), 6).as("forecast"))
      .orderBy("user_id") // one row per user = input-sized
  }

  /** Holt–Winters additive triple exponential smoothing per user
    * (SPEC: Winters 1960 — [[ts_holt]] plus a seasonal ring of period
    * m=4, the standard forecaster for trending series WITH a repeating
    * cycle): with s the seasonal component indexed mod m,
    * l_t = α(x_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1}),
    * b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1},
    * s_t = γ(x_t − l_t) + (1−γ)s_{t−m},
    * seeded l₁ = x₁, b₁ = 0, s ring all-zero; one-step forecast =
    * l_n + b_n + s_{n+1−m}. α = 0.5, β = γ = 0.25 — exact binary
    * fractions, and every update is the SAME IEEE expression in the
    * same association order on both engines, so (as with ts_holt) the
    * fold is bitwise-identical to the oracle's list_reduce replay
    * before the safety rounding. State is a 6-element DOUBLE list
    * [l, b, s₁..s₄] with s₁ the factor due NEXT — the ring rotation is
    * a list literal referencing only the ORIGINAL accumulator (the
    * ts_holt struct-vs-list quirk note applies unchanged). Same
    * UNBOUNDED-GROUP streaming-fold shape as ts_ewma: repartition +
    * spillable sort + O(1)-state-per-user mapPartitions — at 100 TB
    * the per-user state is 6 doubles regardless of history length.
    */
  q("ts_holt_winters",
    """WITH f AS (
      |  SELECT user_id, count(*) AS n,
      |         list_reduce(list_transform(list(value ORDER BY ts, event_id),
      |             x -> [CAST(x AS DOUBLE), CAST(0.0 AS DOUBLE),
      |                   CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
      |                   CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)]),
      |           (acc, e) -> [
      |             0.5 * (e[1] - acc[3]) + 0.5 * (acc[1] + acc[2]),
      |             0.25 * ((0.5 * (e[1] - acc[3]) + 0.5 * (acc[1] + acc[2])) - acc[1])
      |               + 0.75 * acc[2],
      |             acc[4], acc[5], acc[6],
      |             0.25 * (e[1] - (0.5 * (e[1] - acc[3]) + 0.5 * (acc[1] + acc[2])))
      |               + 0.75 * acc[3]]) AS st
      |  FROM events GROUP BY user_id)
      |SELECT user_id, CAST(n AS INTEGER) AS n, round(st[1], 6) AS level,
      |       round(st[2], 6) AS trend, round(st[3], 6) AS seasonal_next,
      |       round(st[1] + st[2] + st[3], 6) AS forecast
      |FROM f ORDER BY user_id""") { (s, d) =>
    import s.implicits._
    T(s, d, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .repartition(col("user_id"))
      .sortWithinPartitions("user_id", "us", "event_id")
      .select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .mapPartitions { it =>
        val rows = it.buffered
        new Iterator[(Long, Int, Double, Double, Double)] {
          def hasNext: Boolean = rows.hasNext
          def next(): (Long, Int, Double, Double, Double) = {
            val (u, v0) = rows.next()
            var l = v0
            var b = 0.0
            val ring = Array(0.0, 0.0, 0.0, 0.0) // ring(idx) is s due NEXT
            var idx = 0
            var n = 1
            while (rows.hasNext && rows.head._1 == u) {
              val x = rows.next()._2
              val l2 = 0.5 * (x - ring(idx)) + 0.5 * (l + b)
              b = 0.25 * (l2 - l) + 0.75 * b
              ring(idx) = 0.25 * (x - l2) + 0.75 * ring(idx)
              l = l2
              idx = (idx + 1) % 4
              n += 1
            }
            (u, n, l, b, ring(idx))
          }
        }
      }
      .toDF("user_id", "n", "l", "b", "sn")
      .select(col("user_id"), col("n"), round(col("l"), 6).as("level"),
        round(col("b"), 6).as("trend"), round(col("sn"), 6).as("seasonal_next"),
        round(col("l") + col("b") + col("sn"), 6).as("forecast"))
      .orderBy("user_id") // one row per user = input-sized
  }

  /** Batch time-gap sessionization — the TIME-gap twin of
    * `win_gap_islands`' value runs (and the batch form of the
    * streaming `stream_session`): a >30-minute silence starts a new
    * session. Same one-shuffle shape as gap_islands: lag + growing-
    * frame break count share ONE (user_id) partition sort, then a
    * two-phase per-session aggregate. Output is session-sized →
    * distributed orderBy, never a single-partition collapse.
    */
  q("win_sessionize",
    """WITH g AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |                OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
      |                   > 1800000000 THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |     s AS (
      |  SELECT user_id, ts,
      |         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM g)
      |SELECT user_id, session_id, count(*) AS n_events,
      |       CAST(epoch_us(min(ts)) AS BIGINT) AS start_us,
      |       CAST(epoch_us(max(ts)) AS BIGINT) AS end_us
      |FROM s GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    T(s, d, "events")
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("brk", when(col("prev").isNull ||
        unix_micros(col("ts")) - unix_micros(col("prev")) > 1800L * 1000000L, 1)
        .otherwise(0))
      .withColumn("session_id",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        unix_micros(min(col("ts"))).as("start_us"),
        unix_micros(max(col("ts"))).as("end_us"))
      .orderBy("user_id", "session_id")
  }

  /** Funnel analysis — per user, the first strictly-ordered
    * view → click → purchase chain (each step's FIRST occurrence
    * after the previous step), the product-analytics staple. ONE
    * shuffle: three full-frame conditional mins chain over the same
    * (user_id) partitioning (each step's threshold is a per-partition
    * constant from the previous Window pass — no self-joins, no
    * per-step shuffles), then a per-user collapse. Users without a
    * view never enter the funnel.
    */
  /** Multi-touch attribution per conversion (the marketing-analytics
    * standard trio — first-touch / last-touch / linear position
    * credit; Shapley-regression variants reduce to reweighting the
    * same per-conversion touch groups): every non-purchase event
    * (the "channel" touch — event_type stands in for the channel
    * dimension) is assigned to its user's NEXT purchase in strict
    * (ts, event_id) order via one IGNORE-NULLS forward-looking window
    * — the deployed form of "which purchase does this touch convert
    * to" without a purchases⋈touches join (the quadratic-per-user
    * trap). Unconverted touches (no later purchase) drop by contract.
    * Per conversion group: first = earliest touch, last = latest,
    * linear = 1/n each (snapped to the dy20 grid pre-sum — rule 12,
    * so the per-channel totals are order-exact); then ONE global
    * per-channel aggregate. Scale: one user-keyed window + one
    * (user, purchase) window + a catalog-sized final agg — no join
    * anywhere, both window partitions are user-bounded.
    */
  q("win_attribution",
    """WITH np AS (SELECT user_id, ts, event_id, event_type,
      |              first_value(CASE WHEN event_type = 'purchase'
      |                               THEN event_id END IGNORE NULLS)
      |                OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
      |                AS pid
      |            FROM events),
      |     t AS (SELECT user_id, ts, event_id, event_type, pid FROM np
      |           WHERE event_type <> 'purchase' AND pid IS NOT NULL),
      |     g AS (SELECT *,
      |             count(*) OVER (PARTITION BY user_id, pid) AS n,
      |             row_number() OVER (PARTITION BY user_id, pid
      |                                ORDER BY ts, event_id) AS rk
      |           FROM t)
      |SELECT event_type AS channel,
      |       CAST(count(*) AS BIGINT) AS n_touches,
      |       CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS first_touch,
      |       CAST(sum(CASE WHEN rk = n THEN 1 ELSE 0 END) AS BIGINT)
      |         AS last_touch,
      |       round(sum(floor(1.0 / n * 1048576 + 0.5) / 1048576), 6)
      |         AS linear_credit
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val ev = T(s, d, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
    val wNext = Window.partitionBy("user_id").orderBy("us", "event_id")
      .rowsBetween(1, Window.unboundedFollowing)
    val touches = ev
      .withColumn("pid",
        first(when(col("event_type") === "purchase", col("event_id")),
          ignoreNulls = true).over(wNext))
      .filter(col("event_type") =!= "purchase" && col("pid").isNotNull)
    val wGrp = Window.partitionBy("user_id", "pid")
    val wRk = Window.partitionBy("user_id", "pid").orderBy("us", "event_id")
    touches
      .withColumn("n", count(lit(1)).over(wGrp))
      .withColumn("rk", row_number().over(wRk))
      .groupBy(col("event_type").as("channel"))
      .agg(count(lit(1)).cast("long").as("n_touches"),
        sum(when(col("rk") === 1, 1L).otherwise(0L)).cast("long").as("first_touch"),
        sum(when(col("rk") === col("n"), 1L).otherwise(0L)).cast("long")
          .as("last_touch"),
        round(sum(Grid.dy20(lit(1.0) / col("n"))), 6).as("linear_credit"))
      .reportSorted("channel") // |channels| rows = catalog-sized
  }

  q("win_funnel_steps",
    """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
      |           WHERE event_type = 'view' GROUP BY 1),
      |     c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
      |           JOIN v ON v.user_id = e.user_id AND e.ts > v.t1
      |           WHERE e.event_type = 'click' GROUP BY 1),
      |     p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
      |           JOIN c ON c.user_id = e.user_id AND e.ts > c.t2
      |           WHERE e.event_type = 'purchase' GROUP BY 1)
      |SELECT v.user_id, CAST(epoch_us(v.t1) AS BIGINT) AS view_us,
      |       CAST(epoch_us(c.t2) AS BIGINT) AS click_us,
      |       CAST(epoch_us(p.t3) AS BIGINT) AS purchase_us,
      |       CASE WHEN p.t3 IS NOT NULL THEN 3
      |            WHEN c.t2 IS NOT NULL THEN 2 ELSE 1 END AS depth
      |FROM v LEFT JOIN c ON c.user_id = v.user_id
      |       LEFT JOIN p ON p.user_id = v.user_id
      |ORDER BY v.user_id""") { (s, d) =>
    val wAll = Window.partitionBy("user_id")
    T(s, d, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("t1",
        min(when(col("event_type") === "view", col("ts"))).over(wAll))
      .withColumn("t2",
        min(when(col("event_type") === "click" && col("ts") > col("t1"), col("ts"))).over(wAll))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && col("ts") > col("t2"), col("ts"))).over(wAll))
      .groupBy("user_id")
      .agg(unix_micros(max("t1")).as("view_us"),
        unix_micros(max("t2")).as("click_us"),
        unix_micros(max("t3")).as("purchase_us"),
        max(when(col("t3").isNotNull, 3)
          .when(col("t2").isNotNull, 2).otherwise(1)).as("depth"))
      .filter(col("view_us").isNotNull)
      .orderBy("user_id") // one row per funnel-entered user = input-sized
  }

  /** Cohort retention — users bucketed by first-seen week, activity
    * counted per (cohort week, week offset): the growth-analytics
    * matrix every events warehouse reports. Two aggregates co-
    * partitioned on user_id (first-seen + distinct active weeks), one
    * equi-join, then a two-phase count over the tiny (cohort, offset)
    * grid — bounded by calendar-weeks², never user- or event-sized,
    * so the single-partition report sort is legitimate.
    */
  q("agg_cohort_retention",
    """WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
      |           FROM events GROUP BY 1),
      |     a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS aw FROM events)
      |SELECT CAST(epoch_us(f.cw) AS BIGINT) AS cohort_week_us,
      |       CAST((epoch_us(a.aw) - epoch_us(f.cw)) // 604800000000 AS BIGINT) AS week_offset,
      |       count(*) AS n_users
      |FROM a JOIN f ON f.user_id = a.user_id
      |GROUP BY 1, 2 ORDER BY cohort_week_us, week_offset""") { (s, d) =>
    val e = T(s, d, "events").select("user_id", "ts")
    val f = e.groupBy("user_id").agg(date_trunc("week", min(col("ts"))).as("cw"))
    val a = e.select(col("user_id"), date_trunc("week", col("ts")).as("aw")).distinct()
    a.join(f, Seq("user_id"))
      .select(unix_micros(col("cw")).as("cohort_week_us"),
        // week-truncated stamps differ by exact multiples of a week
        // (no-timezone timestamps), so the double division is exact
        ((unix_micros(col("aw")) - unix_micros(col("cw"))) / lit(604800000000L))
          .cast("long").as("week_offset"))
      .groupBy("cohort_week_us", "week_offset")
      .agg(count(lit(1)).as("n_users"))
      .reportSorted("cohort_week_us", "week_offset")
  }

  /** Dyadic-grid quantization — the shared [[Grid]] device (one
    * definition across modules; see its scaladoc for the exactness
    * argument and magnitude bound). Local aliases keep this file's
    * call sites unchanged. History: this is the structural cure for
    * the chained-average hazard the r11 sf0.1 sweep surfaced on
    * ts_seasonal_decompose / ts_cusum_changepoint — "raw continuous
    * values hit round-6 boundaries with ~0 probability" degrades with
    * row count (3 of 40k rows straddled at sf0.1), whereas
    * first-aggregate-exact (integer cents) +
    * grid-quantize-between-aggregations makes cross-engine equality a
    * theorem, not a probability.
    */
  private def dy20(c: Column): Column = Grid.dy20(c)
  private def dy20Sql(x: String): String = Grid.dy20Sql(x)
  private def dy12(c: Column): Column = Grid.dy12(c)
  private def dy12Sql(x: String): String = Grid.dy12Sql(x)
  /** events.value carries exactly 2 decimals: Σ round(100·v) as BIGINT
    * is the exact first aggregation; one division rebuilds the mean.
    */
  private val centsAvgSql =
    "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / (count(*) * CAST(100.0 AS DOUBLE))"
  private def centsAvg: Column =
    sum(expr("cast(round(value * 100) as bigint)")).cast("double") /
      (count(lit(1)) * lit(100.0))

  /** Additive seasonal decomposition on the daily series — the
    * classic trend/seasonal/residual split (the moving-average
    * variant of STL) a forecasting pipeline runs before modeling:
    * trend = centered 7-day moving average, seasonal = per-day-of-week
    * mean of the detrended series, residual = the rest. Three passes
    * that never re-shuffle raw events: ONE (user, day) bucket
    * aggregate, ONE user-partitioned centered window, ONE tiny
    * (user, dow) aggregate joined back (AQE broadcasts it). Edges
    * where the centered window is truncated keep their partial-frame
    * trend (both engines compute the same truncated avg). Output =
    * the daily grid. Every aggregation is order-exact ([[dy20]]):
    * daily means from integer cents, the 7-day window and the dow
    * mean over grid-quantized inputs.
    */
  q("ts_seasonal_decompose",
    s"""WITH b AS (SELECT user_id, date_trunc('day', ts) AS h,
      |                  ${dy20Sql(centsAvgSql)} AS v
      |           FROM events GROUP BY 1, 2),
      |     t AS (SELECT user_id, h, v,
      |                  avg(v) OVER (PARTITION BY user_id ORDER BY h
      |                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
      |                  dayofweek(h) AS dow
      |           FROM b),
      |     s AS (SELECT user_id, dow,
      |                  avg(${dy20Sql("v - trend")}) AS seasonal
      |           FROM t GROUP BY 1, 2)
      |SELECT t.user_id, CAST(epoch_us(t.h) AS BIGINT) AS day_us,
      |       round(t.v, 6) AS v, round(t.trend, 6) AS trend,
      |       round(s.seasonal, 6) + 0.0 AS seasonal,
      |       round(t.v - t.trend - s.seasonal, 6) + 0.0 AS residual
      |FROM t JOIN s ON s.user_id = t.user_id AND s.dow = t.dow
      |ORDER BY t.user_id, day_us""") { (s, d) =>
    val b = T(s, d, "events")
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("h"))
      .agg(dy20(centsAvg).as("v"))
    val w = Window.partitionBy("user_id").orderBy("h").rowsBetween(-3, 3)
    val t = b
      .withColumn("trend", avg(col("v")).over(w))
      .withColumn("dow", dayofweek(col("h")))
    val sea = t.groupBy("user_id", "dow")
      .agg(avg(dy20(col("v") - col("trend"))).as("seasonal"))
    t.join(sea, Seq("user_id", "dow"))
      .select(col("user_id"), unix_micros(col("h")).as("day_us"),
        round(col("v"), 6).as("v"), round(col("trend"), 6).as("trend"),
        (round(col("seasonal"), 6) + lit(0.0)).as("seasonal"),
        (round(col("v") - col("trend") - col("seasonal"), 6) + lit(0.0)).as("residual"))
      .orderBy("user_id", "day_us") // daily-grid-sized output
  }

  /** Trend / seasonal strength of each user's daily series (SPEC:
    * Wang, Smith & Hyndman 2006 — the feature pair behind the
    * `tsfeatures`/M4 workflows: F_T = max(0, 1 − Var(R)/Var(T+R)),
    * F_S = max(0, 1 − Var(R)/Var(S+R)); the one-number-per-series
    * answers to "is this series trendy / seasonal enough to bother
    * modeling those components", computed over the SAME decomposition
    * the [[q ts_seasonal_decompose]] row registers). All three
    * component series are deterministic doubles from the shared
    * exact-cents/dy20 machinery; variances come from one per-user
    * power-sum aggregate (two-phase, user-keyed) and the two ratios
    * round once at 4dp — ulp-order effects across ≤|days| terms sit
    * far under the grid (the anova precedent). The max(0,·) clamps on
    * the ROUND-4 values so the boundary cannot ulp-flip.
    */
  q("ts_seasonal_strength",
    s"""WITH b AS (SELECT user_id, date_trunc('day', ts) AS h,
      |                  ${dy20Sql(centsAvgSql)} AS v
      |           FROM events GROUP BY 1, 2),
      |     t AS (SELECT user_id, h, v,
      |                  avg(v) OVER (PARTITION BY user_id ORDER BY h
      |                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
      |                  dayofweek(h) AS dow
      |           FROM b),
      |     s AS (SELECT user_id, dow,
      |                  avg(${dy20Sql("v - trend")}) AS seasonal
      |           FROM t GROUP BY 1, 2),
      |     c AS (SELECT t.user_id,
      |                  t.v - t.trend - s.seasonal AS r,
      |                  t.v - s.seasonal AS tr,
      |                  t.v - t.trend AS sr
      |           FROM t JOIN s ON s.user_id = t.user_id AND s.dow = t.dow),
      |     a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |                  sum(r) AS s_r, sum(r * r) AS q_r,
      |                  sum(tr) AS s_t, sum(tr * tr) AS q_t,
      |                  sum(sr) AS s_s, sum(sr * sr) AS q_s
      |           FROM c GROUP BY user_id)
      |SELECT user_id, n AS n_days,
      |       greatest(0.0, round(1.0 - (q_r - s_r * s_r / n)
      |         / nullif(q_t - s_t * s_t / n, 0), 4)) AS f_trend,
      |       greatest(0.0, round(1.0 - (q_r - s_r * s_r / n)
      |         / nullif(q_s - s_s * s_s / n, 0), 4)) AS f_seasonal
      |FROM a ORDER BY user_id""") { (s, d) =>
    val b = T(s, d, "events")
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("h"))
      .agg(dy20(centsAvg).as("v"))
    val w = Window.partitionBy("user_id").orderBy("h").rowsBetween(-3, 3)
    val t = b
      .withColumn("trend", avg(col("v")).over(w))
      .withColumn("dow", dayofweek(col("h")))
    val sea = t.groupBy("user_id", "dow")
      .agg(avg(dy20(col("v") - col("trend"))).as("seasonal"))
    val c = t.join(sea, Seq("user_id", "dow"))
      .select(col("user_id"),
        (col("v") - col("trend") - col("seasonal")).as("r"),
        (col("v") - col("seasonal")).as("tr"),
        (col("v") - col("trend")).as("sr"))
    val a = c.groupBy("user_id").agg(count(lit(1)).cast("long").as("n"),
      sum("r").as("s_r"), sum(col("r") * col("r")).as("q_r"),
      sum("tr").as("s_t"), sum(col("tr") * col("tr")).as("q_t"),
      sum("sr").as("s_s"), sum(col("sr") * col("sr")).as("q_s"))
    def strength(q: Column, sx: Column): Column =
      greatest(lit(0.0), round(lit(1.0) -
        (col("q_r") - col("s_r") * col("s_r") / col("n")) /
          nullif(q - sx * sx / col("n"), lit(0.0)), 4))
    a.select(col("user_id"), col("n").as("n_days"),
        strength(col("q_t"), col("s_t")).as("f_trend"),
        strength(col("q_s"), col("s_s")).as("f_seasonal"))
      .orderBy("user_id") // one row per user = input-sized
  }

  /** Rolling distinct count — how many DISTINCT event types a user
    * touched in their last 20 events, the behavioral-breadth signal
    * fraud/engagement monitors watch. Exact is right here because the
    * frame is O(1) rows: collect the frame, dedup in-row
    * (array_distinct is per-row compute, not state). Neither engine
    * supports COUNT(DISTINCT) as a window aggregate natively — the
    * list-then-dedup form is the portable shape, and at unbounded
    * frames the HLL sketch row (agg_approx_distinct) takes over.
    * One user_id shuffle, same as every window op here.
    */
  q("win_rolling_distinct",
    """SELECT event_id,
      |       CAST(len(list_distinct(list(event_type) OVER (
      |         PARTITION BY user_id ORDER BY ts, event_id
      |         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))) AS INTEGER) AS n_types
      |FROM events ORDER BY event_id""") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(-19, 0)
    T(s, d, "events")
      .select(col("event_id"),
        size(array_distinct(collect_list(col("event_type")).over(w))).as("n_types"))
      .orderBy("event_id") // row per input row = input-sized
  }

  /** SCD2 history build — collapse an event stream into type-2
    * slowly-changing-dimension intervals: per user, each CHANGE of the
    * tracked attribute (event_type here) opens a validity interval
    * [valid_from, valid_to), closed by the next change, NULL = still
    * current. The companion of pipeline_snapshot_upsert (that one
    * keeps latest state; this one keeps full history — together
    * they're the warehouse CDC pair). ONE (user_id) sort serves both
    * windows: lag detects the change rows, lead over the FILTERED
    * change rows closes the intervals — the second window runs on the
    * interval-sized frame, never re-sorting raw events. Output ∝
    * attribute changes → distributed orderBy.
    */
  q("pipeline_scd2_history",
    """WITH chg AS (
      |  SELECT user_id, event_type, ts, event_id FROM (
      |    SELECT user_id, event_type, ts, event_id,
      |           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |    FROM events) t
      |  WHERE prev IS NULL OR prev <> event_type)
      |SELECT user_id, event_type,
      |       CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
      |       CAST(epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS BIGINT) AS valid_to_us
      |FROM chg ORDER BY user_id, valid_from_us, event_type, valid_to_us NULLS FIRST""") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    T(s, d, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("valid_from_us"),
        unix_micros(lead(col("ts"), 1).over(w)).as("valid_to_us"))
      .orderBy(col("user_id"), col("valid_from_us"), col("event_type"),
        col("valid_to_us").asc_nulls_first) // interval-sized output
  }

  /** Rolling lag-1 autocorrelation — the serial-dependence drift
    * signal a metric monitor watches (white noise ≈ 0, trending ≈ 1):
    * corr(value, previous value) per user over a trailing 20-row
    * frame. ONE (user_id) sort serves both the lag and the framed
    * co-moments. corr is composed from covar/stddev because ANSI-mode
    * corr() raises DIVIDE_BY_ZERO on degenerate frames — the nullif
    * guard yields NULL like the oracle; and the current value is
    * MASKED to the lag's null pattern (partition-head rows) so all
    * three co-moment aggregates see the identical row set — unmasked,
    * stddev(value) would count a row covar excludes. Rounded to 6 for
    * cross-engine accumulation ulps.
    */
  /** Forecast backtest per user — seasonal-naive MAE + MASE (SPEC:
    * Hyndman & Koehler 2006 "Another look at measures of forecast
    * accuracy": MASE = holdout MAE over the in-sample seasonal-naive
    * MAE, the scale-free error every forecasting bake-off reports;
    * season m = 4 matching [[ts_holt_winters]]'s ring): hold out each
    * user's LAST 4 observations, forecast each with the value 4 steps
    * earlier, and scale by the same lag-4 error over the training
    * prefix. MASE < 1 ⇒ the candidate beats naive — the acceptance
    * bar a ts_holt_winters deployment would be held to. Exactness:
    * values snap to the dy20 grid BEFORE differencing (rule 12 —
    * |a−b| of grid multiples is a grid multiple, sums are order-free),
    * each mean is one division of exact operands, MASE is one more
    * (rule 5 rounding; rule 7 NULL guards for short series and
    * zero-error training prefixes). ONE user exchange serves the lag,
    * the reverse rank, and the final per-user aggregate.
    */
  q("ts_forecast_eval",
    s"""WITH b AS (
      |  SELECT user_id, ts, event_id, ${Grid.dy20Sql("value")} AS y,
      |         row_number() OVER (PARTITION BY user_id
      |           ORDER BY ts DESC, event_id DESC) AS rd
      |  FROM events),
      |l AS (
      |  SELECT user_id, rd,
      |         abs(y - lag(y, 4) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id)) AS d
      |  FROM b),
      |a AS (
      |  SELECT user_id, count(*) AS n,
      |         sum(CASE WHEN rd <= 4 THEN d END) AS s_test,
      |         count(CASE WHEN rd <= 4 THEN d END) AS c_test,
      |         sum(CASE WHEN rd > 4 THEN d END) AS s_train,
      |         count(CASE WHEN rd > 4 THEN d END) AS c_train
      |  FROM l GROUP BY user_id)
      |SELECT user_id, CAST(n AS INTEGER) AS n,
      |       CASE WHEN c_test = 0 THEN NULL
      |            ELSE round(s_test / c_test, 6) END AS mae_naive,
      |       CASE WHEN c_test = 0 OR c_train = 0 OR s_train = 0 THEN NULL
      |            ELSE round((s_test / c_test) / (s_train / c_train), 6)
      |       END AS mase
      |FROM a ORDER BY user_id""".stripMargin) { (s, d) =>
    val wAsc = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val wDesc = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    val l = T(s, d, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        Grid.dy20(col("value")).as("y"))
      .withColumn("rd", row_number().over(wDesc))
      .withColumn("d", abs(col("y") - lag("y", 4).over(wAsc)))
    val a = l.groupBy("user_id")
      .agg(count(lit(1)).cast("int").as("n"),
        sum(when(col("rd") <= 4, col("d"))).as("s_test"),
        count(when(col("rd") <= 4, col("d"))).as("c_test"),
        sum(when(col("rd") > 4, col("d"))).as("s_train"),
        count(when(col("rd") > 4, col("d"))).as("c_train"))
    a.select(col("user_id"), col("n"),
        when(col("c_test") === 0, lit(null).cast("double"))
          .otherwise(round(col("s_test") / col("c_test"), 6)).as("mae_naive"),
        when(col("c_test") === 0 || col("c_train") === 0 || col("s_train") === 0,
          lit(null).cast("double"))
          .otherwise(round((col("s_test") / col("c_test"))
            / (col("s_train") / col("c_train")), 6)).as("mase"))
      .orderBy("user_id") // one row per user = input-sized
  }

  /** Rolling OLS trend slope per event_type series (20-row trailing
    * frame) — the windowed least-squares fit behind every "is this
    * metric trending" monitor, the regression upgrade of
    * [[win_moving_avg]]: slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) with
    * x = the row's position in its series. EXACT by construction
    * (rule 12): x is an integer (row_number), y snaps to the dy20 grid
    * before any product, so every windowed sum is a sum of exact
    * grid multiples (all magnitudes ≪ 2⁵³) — identical in any
    * accumulation order — and the slope is ONE fixed-shape ratio per
    * row (rule 5) with a zero-denominator guard (frame of one row →
    * NULL). Both window passes share the one (event_type) exchange;
    * at 100 TB parallelism ∝ #series, a hot series costs sort spill.
    */
  q("win_rolling_slope",
    s"""WITH b AS (
      |  SELECT event_id, event_type,
      |         CAST(row_number() OVER (PARTITION BY event_type
      |           ORDER BY ts, event_id) AS DOUBLE) AS x,
      |         ${Grid.dy20Sql("value")} AS y
      |  FROM events),
      |s AS (
      |  SELECT event_id, event_type,
      |         CAST(count(*) OVER w AS DOUBLE) AS n,
      |         sum(x) OVER w AS sx, sum(x * x) OVER w AS sxx,
      |         sum(y) OVER w AS sy, sum(x * y) OVER w AS sxy
      |  FROM b
      |  WINDOW w AS (PARTITION BY event_type ORDER BY x
      |               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
      |SELECT event_id, event_type,
      |       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
      |            ELSE round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
      |       END AS slope
      |FROM s ORDER BY event_id""".stripMargin) { (s, d) =>
    val wo = Window.partitionBy("event_type").orderBy("ts", "event_id")
    val wf = Window.partitionBy("event_type").orderBy("x").rowsBetween(-19, 0)
    T(s, d, "events")
      .select(col("event_id"), col("event_type"), col("ts"),
        Grid.dy20(col("value")).as("y"))
      .withColumn("x", row_number().over(wo).cast("double"))
      .select(col("event_id"), col("event_type"),
        count(lit(1)).over(wf).cast("double").as("n"),
        sum(col("x")).over(wf).as("sx"),
        sum(col("x") * col("x")).over(wf).as("sxx"),
        sum(col("y")).over(wf).as("sy"),
        sum(col("x") * col("y")).over(wf).as("sxy"))
      .select(col("event_id"), col("event_type"),
        when(col("n") * col("sxx") - col("sx") * col("sx") === 0.0,
          lit(null).cast("double"))
          .otherwise(round((col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx")), 6))
          .as("slope"))
      .orderBy("event_id") // one row per event = input-sized
  }

  q("win_rolling_corr",
    """WITH l AS (
      |  SELECT user_id, ts, event_id, value,
      |         lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |     m AS (
      |  SELECT user_id, ts, event_id, prev,
      |         CASE WHEN prev IS NOT NULL THEN value END AS v
      |  FROM l)
      |SELECT event_id,
      |       round(covar_samp(v, prev) OVER w /
      |             nullif(stddev_samp(v) OVER w * stddev_samp(prev) OVER w, 0), 6) AS autocorr
      |FROM m
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""") { (s, d) =>
    val ord = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val w = ord.rowsBetween(-19, 0)
    val e = T(s, d, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("prev", lag(col("value"), 1).over(ord))
      .withColumn("v", when(col("prev").isNotNull, col("value")))
    val c = covar_samp(col("v"), col("prev")).over(w) /
      nullif(stddev_samp(col("v")).over(w) * stddev_samp(col("prev")).over(w), lit(0.0))
    e.select(col("event_id"), round(c, 6).as("autocorr"))
      .orderBy("event_id") // row per input row = input-sized
  }

  /** Bollinger bands (SPEC: Bollinger 1980s volatility envelope — the
    * mean-reversion / breakout monitor beside [[ts_rsi]]'s momentum):
    * per event_type series, 20-row trailing mean ± 2σ plus %B, the
    * position of the value inside the band ((x−lower)/(4σ) — >1 above,
    * <0 below). ONE (event_type) partition sort serves both framed
    * co-moments (same single-WindowExec grouping as win_rolling_corr,
    * whose round-6 device for framed stddev accumulation ulps this
    * reuses; rule 7's nullif guards the σ=0 degenerate frame, and the
    * frame head's single-row stddev_samp is NULL in both engines so
    * the whole band row nulls identically). Input-sized output →
    * distributed orderBy.
    */
  q("ts_bollinger",
    """SELECT event_id,
      |       round(m, 6) AS mid,
      |       round(m + 2 * sd, 6) AS upper_band,
      |       round(m - 2 * sd, 6) AS lower_band,
      |       round((value - (m - 2 * sd)) / nullif(4 * sd, 0), 6) AS pct_b
      |FROM (
      |  SELECT event_id, value,
      |         avg(value) OVER w AS m,
      |         stddev_samp(value) OVER w AS sd
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
      |               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)) t
      |ORDER BY event_id""") { (s, d) =>
    val w = Window.partitionBy("event_type").orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(-19, 0)
    T(s, d, "events")
      .select(col("event_id"), col("event_type"), col("ts"), col("value"))
      .withColumn("m", avg(col("value")).over(w))
      .withColumn("sd", stddev_samp(col("value")).over(w))
      .select(col("event_id"), round(col("m"), 6).as("mid"),
        round(col("m") + lit(2) * col("sd"), 6).as("upper_band"),
        round(col("m") - lit(2) * col("sd"), 6).as("lower_band"),
        round((col("value") - (col("m") - lit(2) * col("sd"))) /
          nullif(lit(4) * col("sd"), lit(0.0)), 6).as("pct_b"))
      .orderBy("event_id") // row per input row = input-sized
  }

  /** Linear gap interpolation on the resample grid — the model-prep
    * upgrade of ts_resample_ffill: empty day buckets take the
    * line between the surrounding observations instead of a step.
    * Shape: identical to resample (bucket agg → per-user span grid →
    * join back) plus FOUR frame navigations that all share ONE
    * (user_id, h) sort: last-known value+position over the growing
    * frame, first-known value+position over the shrinking frame —
    * Spark groups same-partitioning same-ordering window expressions
    * into a single WindowExec, so the extra lookups cost no extra
    * shuffle. Edges clamp (head ← next, tail ← prev); interior gaps
    * interpolate by micros position (position deltas subtract in
    * LONG — exact at any unit). Grid size = per-user active span,
    * never global-span × users.
    */
  q("ts_interpolate_linear",
    """WITH b AS (SELECT user_id, date_trunc('day', ts) AS h, avg(value) AS av
      |           FROM events GROUP BY 1, 2),
      |     span AS (SELECT user_id, min(h) AS lo, max(h) AS hi FROM b GROUP BY 1),
      |     grid AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS h
      |              FROM span),
      |     j AS (SELECT g.user_id, g.h, b.av FROM grid g
      |           LEFT JOIN b ON b.user_id = g.user_id AND b.h = g.h),
      |     nav AS (
      |  SELECT user_id, CAST(epoch_us(h) AS BIGINT) AS day_us, av,
      |         last_value(av IGNORE NULLS) OVER wb AS pv,
      |         last_value(CASE WHEN av IS NOT NULL THEN epoch_us(h) END IGNORE NULLS) OVER wb AS pt,
      |         first_value(av IGNORE NULLS) OVER wf AS nv,
      |         first_value(CASE WHEN av IS NOT NULL THEN epoch_us(h) END IGNORE NULLS) OVER wf AS nt
      |  FROM j
      |  WINDOW wb AS (PARTITION BY user_id ORDER BY h
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         wf AS (PARTITION BY user_id ORDER BY h
      |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT user_id, day_us,
      |       round(CASE
      |         WHEN pv IS NULL THEN nv
      |         WHEN nv IS NULL THEN pv
      |         WHEN nt = pt THEN pv
      |         ELSE pv + (nv - pv) * (day_us - pt) / (nt - pt) END, 6) AS v
      |FROM nav ORDER BY user_id, day_us""") { (s, d) =>
    val b = T(s, d, "events")
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("h"))
      .agg(avg("value").as("av"))
    val grid = b.groupBy("user_id")
      .agg(min("h").as("lo"), max("h").as("hi"))
      .select(col("user_id"),
        explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("h"))
    val wb = Window.partitionBy("user_id").orderBy("day_us")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy("user_id").orderBy("day_us")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    grid.join(b, Seq("user_id", "h"), "left")
      .select(col("user_id"), unix_micros(col("h")).as("day_us"), col("av"))
      .withColumn("pv", last(col("av"), ignoreNulls = true).over(wb))
      .withColumn("pt", last(when(col("av").isNotNull, col("day_us")), ignoreNulls = true).over(wb))
      .withColumn("nv", first(col("av"), ignoreNulls = true).over(wf))
      .withColumn("nt", first(when(col("av").isNotNull, col("day_us")), ignoreNulls = true).over(wf))
      .select(col("user_id"), col("day_us"),
        round(when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .when(col("nt") === col("pt"), col("pv"))
          // subtract in LONG first: exact at any timestamp unit
          // (epoch ns would exceed double's 2^53; the day-scale
          // DIFFERENCE never does)
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            (col("day_us") - col("pt")) / (col("nt") - col("pt"))), 6).as("v"))
      .orderBy("user_id", "day_us") // user×active-day grid = input-sized
  }

  /** Autocorrelation at lags 1–3 of each user's daily series — the
    * seasonality probe a forecasting pipeline runs before choosing a
    * model (high ACF at lag 7 ⇒ weekly structure, etc.). Row-lag over
    * the observed daily grid (gaps collapse, documented). ONE daily
    * bucket aggregate, ONE user-partitioned window sort producing all
    * three lags, then a two-phase aggregate over (user, lag) — cost is
    * lags × series length, shuffle is the single (user) partition
    * sort. ACF composed from co-moments with a nullif guard (checklist
    * item 7: a constant series has zero variance — both engines emit
    * NULL, not a DIVIDE_BY_ZERO or NaN divergence). Aggregations are
    * order-exact (checklist rule 12): daily means from integer cents,
    * then the 2⁻¹² grid ([[dy12]]) so the co-moment sums of PRODUCTS
    * stay within double's exact span.
    */
  /** Time-weighted average value per user (TWAP — the feature-store /
    * market-data standard: a plain avg over irregular events
    * over-weights bursts, the time integral ∫v·dt / ∫dt weights each
    * observation by how long it HELD): piecewise-constant-forward
    * integral via one lead() window. ENTIRELY INTEGER until the final
    * division (rule 6/12 without needing the grid): weights are LONG
    * µs deltas, values integer cents, so every product and both
    * per-user sums are exact BIGINTs in both engines at any
    * accumulation order (cents·µs ≈ 1e14/term — a per-user history
    * needs ~10⁴ YEARS of per-second events to threaten the 2⁶³
    * bound); the single double division + round happens once per
    * user. One series exchange; same-timestamp ties broken by
    * event_id.
    */
  q("win_time_weighted_avg",
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us,
      |             CAST(round(value * 100) AS BIGINT) AS cents, event_id
      |           FROM events),
      |w AS (SELECT user_id, cents,
      |        lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us AS dt
      |      FROM e),
      |f AS (SELECT user_id, count(*) AS n_intervals,
      |        CAST(sum(dt) AS BIGINT) AS span_us,
      |        CAST(sum(cents * dt) AS BIGINT) AS wsum
      |      FROM w WHERE dt IS NOT NULL GROUP BY 1)
      |SELECT user_id, CAST(n_intervals AS BIGINT) AS n_intervals, span_us,
      |       round(CAST(wsum AS DOUBLE) / nullif(100.0 * span_us, 0), 6) AS twap
      |FROM f ORDER BY user_id""") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    T(s, d, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        expr("cast(round(value * 100) as bigint)").as("cents"), col("event_id"))
      .withColumn("dt", lead("us", 1).over(w) - col("us"))
      .filter(col("dt").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum("dt").cast("long").as("span_us"),
        sum(col("cents") * col("dt")).cast("long").as("wsum"))
      .select(col("user_id"), col("n_intervals"), col("span_us"),
        round(col("wsum").cast("double")
          / nullif(lit(100.0) * col("span_us"), lit(0.0)), 6).as("twap"))
      .orderBy("user_id") // one row per user = input-sized
  }

  /** Shared lag-1..3 Pearson ACF CTE text (`acfv(user_id, lag_k,
    * acf)`) — consumed by the ts_autocorr oracle and replayed by the
    * ts_pacf oracle so both keys' inputs are the SAME rounded values.
    */
  private def acfOracleCtes: String =
    s"""b AS (SELECT user_id, date_trunc('day', ts) AS d,
      |             ${dy12Sql(centsAvgSql)} AS v
      |           FROM events GROUP BY 1, 2),
      |w AS (SELECT user_id, d, v,
      |        lag(v, 1) OVER (PARTITION BY user_id ORDER BY d) AS l1,
      |        lag(v, 2) OVER (PARTITION BY user_id ORDER BY d) AS l2,
      |        lag(v, 3) OVER (PARTITION BY user_id ORDER BY d) AS l3 FROM b),
      |p AS (SELECT user_id, 1 AS lag_k, v, l1 AS lv FROM w WHERE l1 IS NOT NULL
      |      UNION ALL SELECT user_id, 2, v, l2 FROM w WHERE l2 IS NOT NULL
      |      UNION ALL SELECT user_id, 3, v, l3 FROM w WHERE l3 IS NOT NULL),
      |a AS (SELECT user_id, lag_k, count(*) AS n, sum(v) AS sx, sum(lv) AS sy,
      |             sum(v*lv) AS sxy, sum(v*v) AS sx2, sum(lv*lv) AS sy2
      |      FROM p GROUP BY 1, 2),
      |acfv AS (SELECT user_id, lag_k,
      |  round((n*sxy - sx*sy) / nullif(sqrt(greatest((n*sx2 - sx*sx) * (n*sy2 - sy*sy), 0)), 0), 6) + 0.0 AS acf
      |FROM a)""".stripMargin

  /** Spark twin of [[acfOracleCtes]]: (user_id, lag_k, acf) with the
    * same rounding — ONE body for both ACF consumers.
    */
  private def acfFrame(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val b = T(s, d, "events")
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
      .agg(dy12(centsAvg).as("v"))
    val w = Window.partitionBy("user_id").orderBy("d")
    val withLags = b
      .withColumn("l1", lag("v", 1).over(w))
      .withColumn("l2", lag("v", 2).over(w))
      .withColumn("l3", lag("v", 3).over(w))
    val pairs = (1 to 3).map { k =>
      withLags.filter(col(s"l$k").isNotNull)
        .select(col("user_id"), lit(k.toLong).as("lag_k"),
          col("v"), col(s"l$k").as("lv"))
    }.reduce(_.unionByName(_))
    pairs.groupBy("user_id", "lag_k")
      .agg(count(lit(1)).as("n"), sum("v").as("sx"), sum("lv").as("sy"),
        sum(col("v") * col("lv")).as("sxy"),
        sum(col("v") * col("v")).as("sx2"),
        sum(col("lv") * col("lv")).as("sy2"))
      .select(col("user_id"), col("lag_k"),
        expr("round((n*sxy - sx*sy) / nullif(sqrt(greatest((n*sx2 - sx*sx) * (n*sy2 - sy*sy), 0)), 0), 6) + 0.0")
          .as("acf"))
  }

  q("ts_autocorr",
    s"""WITH $acfOracleCtes
      |SELECT user_id, CAST(lag_k AS BIGINT) AS lag_k, acf
      |FROM acfv ORDER BY user_id, lag_k""") { (s, d) =>
    acfFrame(s, d)
      .orderBy("user_id", "lag_k") // user×lag rows = input-sized
  }

  /** Partial autocorrelation via Durbin–Levinson (Durbin 1960; Box &
    * Jenkins' AR-order identification tool — ACF says "correlated at
    * lag k", PACF says "correlated at lag k AFTER removing the shorter
    * lags", and the cutoff picks the AR order): φ₁₁ = r₁,
    * φ₂₂ = (r₂−r₁²)/(1−r₁²), φ₂₁ = r₁(1−φ₂₂),
    * φ₃₃ = (r₃−φ₂₁r₂−φ₂₂r₁)/(1−φ₂₁r₁−φ₂₂r₂). The recursion runs on
    * the ROUNDED ACF values both engines already agree on bit-for-bit
    * (shared [[acfFrame]]/[[acfOracleCtes]] body), so the fixed-shape
    * algebra is engine-identical by construction; rule-7 nullif on the
    * constant-series denominators, the autocorr `+0.0` device on the
    * outputs. Shape: the ACF pass + one |users|-sized pivot — nothing
    * new touches the event grain.
    */
  q("ts_pacf",
    s"""WITH $acfOracleCtes,
      |piv AS (SELECT user_id,
      |          max(CASE WHEN lag_k = 1 THEN acf END) AS r1,
      |          max(CASE WHEN lag_k = 2 THEN acf END) AS r2,
      |          max(CASE WHEN lag_k = 3 THEN acf END) AS r3
      |        FROM acfv GROUP BY 1),
      |dl AS (SELECT user_id, r1, r2, r3,
      |         (r2 - r1*r1) / nullif(1.0 - r1*r1, 0) AS p22 FROM piv),
      |dl2 AS (SELECT *, r1 * (1.0 - p22) AS p21 FROM dl)
      |SELECT user_id, r1 AS acf1, r2 AS acf2, r3 AS acf3,
      |       r1 AS pacf1,
      |       round(p22, 6) + 0.0 AS pacf2,
      |       round((r3 - p21*r2 - p22*r1)
      |             / nullif(1.0 - p21*r1 - p22*r2, 0), 6) + 0.0 AS pacf3
      |FROM dl2 ORDER BY user_id""") { (s, d) =>
    val piv = acfFrame(s, d).groupBy("user_id").agg(
      max(when(col("lag_k") === 1, col("acf"))).as("r1"),
      max(when(col("lag_k") === 2, col("acf"))).as("r2"),
      max(when(col("lag_k") === 3, col("acf"))).as("r3"))
    val dl = piv
      .withColumn("p22", (col("r2") - col("r1") * col("r1"))
        / nullif(lit(1.0) - col("r1") * col("r1"), lit(0.0)))
      .withColumn("p21", col("r1") * (lit(1.0) - col("p22")))
    dl.select(col("user_id"),
      col("r1").as("acf1"), col("r2").as("acf2"), col("r3").as("acf3"),
      col("r1").as("pacf1"),
      (round(col("p22"), 6) + lit(0.0)).as("pacf2"),
      (round((col("r3") - col("p21") * col("r2") - col("p22") * col("r1"))
        / nullif(lit(1.0) - col("p21") * col("r1") - col("p22") * col("r2"),
          lit(0.0)), 6) + lit(0.0)).as("pacf3"))
      .orderBy("user_id") // one row per user = input-sized
  }

  /** Ljung–Box portmanteau whiteness test per user series (SPEC:
    * Ljung & Box 1978 — the Box–Jenkins residual-diagnostic standard:
    * Q = n(n+2)·Σ_{k≤h} r_k²/(n−k) against χ²(h); h = 3, the suite's
    * ACF horizon): third member of the ACF family, riding the SAME
    * [[acfFrame]]/[[acfOracleCtes]] body as ts_autocorr/ts_pacf, so
    * the r_k inputs are bit-identical on both engines by construction
    * and the Q algebra is one fixed-shape expression over them
    * (rule 5). n = the user's daily-bucket count (integer, one extra
    * per-user aggregate); the whiteness verdict derives from the
    * ROUND-6 Q vs the χ²₃ 5% critical value 7.815 (the SPRT lesson:
    * never gate a boolean on an unrounded transcendental). Users with
    * fewer than 4 buckets (some r_k undefined) drop by contract.
    */
  q("ts_ljung_box",
    s"""WITH $acfOracleCtes,
      |nb AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1),
      |piv AS (SELECT user_id,
      |          max(CASE WHEN lag_k = 1 THEN acf END) AS r1,
      |          max(CASE WHEN lag_k = 2 THEN acf END) AS r2,
      |          max(CASE WHEN lag_k = 3 THEN acf END) AS r3
      |        FROM acfv GROUP BY 1),
      |q AS (SELECT p.user_id, nb.n, p.r1, p.r2, p.r3,
      |        round(nb.n * (nb.n + 2) * (r1*r1 / (nb.n - 1)
      |              + r2*r2 / (nb.n - 2) + r3*r3 / (nb.n - 3)), 6) AS lb_q
      |      FROM piv p JOIN nb ON nb.user_id = p.user_id
      |      WHERE r1 IS NOT NULL AND r2 IS NOT NULL AND r3 IS NOT NULL
      |        AND nb.n > 3)
      |SELECT user_id, n AS n_obs, r1 AS acf1, r2 AS acf2, r3 AS acf3,
      |       lb_q, lb_q > 7.815 AS reject_white_noise
      |FROM q ORDER BY user_id""") { (s, d) =>
    val nb = T(s, d, "events")
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
      .agg(count(lit(1)).as("dummy"))
      .groupBy("user_id").agg(count(lit(1)).cast("long").as("n"))
    val piv = acfFrame(s, d).groupBy("user_id").agg(
      max(when(col("lag_k") === 1, col("acf"))).as("r1"),
      max(when(col("lag_k") === 2, col("acf"))).as("r2"),
      max(when(col("lag_k") === 3, col("acf"))).as("r3"))
    val q = piv.join(nb, Seq("user_id"))
      .filter(col("r1").isNotNull && col("r2").isNotNull &&
        col("r3").isNotNull && col("n") > 3)
      .withColumn("lb_q", round(col("n") * (col("n") + 2)
        * (col("r1") * col("r1") / (col("n") - 1)
           + col("r2") * col("r2") / (col("n") - 2)
           + col("r3") * col("r3") / (col("n") - 3)), 6))
    q.select(col("user_id"), col("n").as("n_obs"),
        col("r1").as("acf1"), col("r2").as("acf2"), col("r3").as("acf3"),
        col("lb_q"), (col("lb_q") > 7.815).as("reject_white_noise"))
      .orderBy("user_id") // one row per user = input-sized
  }

  /** CUSUM changepoint detection per user series: the day where the
    * cumulative sum of deviations from the series mean peaks in
    * absolute value — the classic single-changepoint location
    * statistic (Page 1954's CUSUM, the offline max-|S_k| form). ONE
    * daily bucket aggregate, a per-user mean joined back (AQE
    * broadcasts the user-sized side), ONE running-sum window and ONE
    * rank window sharing the (user) partitioning, argmax row kept.
    * The |cusum| that feeds the rank is rounded first (checklist item
    * 5) and tie-broken by day, so both engines pick the same peak;
    * every aggregation is order-exact ([[dy20]]): daily means from
    * integer cents, the user mean and the running sum over
    * grid-quantized inputs.
    */
  q("ts_cusum_changepoint",
    s"""WITH b AS (SELECT user_id, date_trunc('day', ts) AS d,
      |             ${dy20Sql(centsAvgSql)} AS v
      |           FROM events GROUP BY 1, 2),
      |m AS (SELECT user_id, avg(v) AS mu, count(*) AS n_days FROM b GROUP BY 1),
      |cs AS (SELECT b.user_id, b.d, m.n_days,
      |         sum(${dy20Sql("b.v - m.mu")}) OVER (PARTITION BY b.user_id ORDER BY b.d) AS cusum
      |       FROM b JOIN m USING (user_id)),
      |r AS (SELECT user_id, d, round(abs(cusum), 6) AS ac, n_days,
      |        row_number() OVER (PARTITION BY user_id ORDER BY round(abs(cusum), 6) DESC, d ASC) AS rn
      |      FROM cs)
      |SELECT user_id, CAST(epoch_us(d) AS BIGINT) AS cp_day_us, ac AS max_abs_cusum,
      |       CAST(n_days AS BIGINT) AS n_days
      |FROM r WHERE rn = 1 ORDER BY user_id""") { (s, d) =>
    val b = T(s, d, "events")
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
      .agg(dy20(centsAvg).as("v"))
    val m = b.groupBy("user_id")
      .agg(avg("v").as("mu"), count(lit(1)).as("n_days"))
    val cw = Window.partitionBy("user_id").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cs = b.join(m, Seq("user_id"))
      .withColumn("cusum", sum(dy20(col("v") - col("mu"))).over(cw))
      .select(col("user_id"), col("d"),
        round(abs(col("cusum")), 6).as("ac"), col("n_days"))
    cs.withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy(col("ac").desc, col("d").asc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), unix_micros(col("d")).as("cp_day_us"),
        col("ac").as("max_abs_cusum"), col("n_days"))
      .orderBy("user_id") // one row per user = input-sized
  }
}
