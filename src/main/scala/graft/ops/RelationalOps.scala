package graft.ops

import graft.{Checkpoints, QueryModule, T}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** SURVEY.md §2.B (projection/filter), §2.C (joins), §2.D (aggregations).
  *
  * Every query carries a total ORDER BY on a unique key so the driver's
  * hash compare sees identical row order from Spark and DuckDB; every
  * floating aggregate is rounded identically on both sides.
  *
  * Scale notes (100 TB): filters/projections push into the parquet scan
  * (verified via explain: PushedFilters/ReadSchema); joins against the
  * dimension tables are explicit `broadcast()`; large-large joins shuffle
  * on their equi keys and rely on AQE for skew; theta-range join keeps an
  * equi prefix (nationkey) so it plans as a hash/merge join plus residual
  * predicate, never a pure nested loop.
  */
object RelationalOps extends QueryModule {

  // ---------------------------------------------------------------- B

  // NB: (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
  // row-level lineitem queries order by every output column for totality.
  // SURVEY §2.A parquet_scan: the builtin columnar scan every other
  // query builds on, registered explicitly so the inventory is 1:1.
  q("parquet_scan",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey") { (s, d) =>
    T(s, d, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
      .orderBy("n_nationkey")
  }

  q("project_fields",
    "SELECT l_orderkey AS i, l_linenumber AS j, l_quantity AS v FROM lineitem ORDER BY i, j, v") {
    (s, d) =>
      T(s, d, "lineitem")
        .select(col("l_orderkey").as("i"), col("l_linenumber").as("j"),
          col("l_quantity").as("v"))
        .orderBy("i", "j", "v")
  }

  q("filter_label_eq",
    "SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey") {
    (s, d) =>
      T(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
  }

  q("filter_label_pattern",
    "SELECT p_partkey, p_brand FROM part WHERE regexp_matches(p_brand, 'Brand#1[0-3]$') ORDER BY p_partkey") {
    (s, d) =>
      T(s, d, "part")
        .filter(col("p_brand").rlike("Brand#1[0-3]$"))
        .select("p_partkey", "p_brand")
        .orderBy("p_partkey")
  }

  q("filter_value_range",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
      |WHERE l_quantity BETWEEN 10 AND 20 AND l_discount > 0.05
      |ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount""") { (s, d) =>
    T(s, d, "lineitem")
      .filter(col("l_quantity").between(10, 20) && col("l_discount") > 0.05)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
  }

  q("case_insensitive_lookup",
    "SELECT c_custkey, c_mktsegment FROM customer WHERE lower(c_mktsegment) = lower('Building') ORDER BY c_custkey") {
    (s, d) =>
      T(s, d, "customer")
        .filter(lower(col("c_mktsegment")) === lower(lit("Building")))
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
  }

  // ---------------------------------------------------------------- C

  q("join_broadcast",
    """SELECT r.r_name, count(*) AS n_cust
      |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY r.r_name ORDER BY r.r_name""") { (s, d) =>
    T(s, d, "customer")
      .join(broadcast(T(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(T(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_cust"))
      .reportSorted("r_name")
  }

  q("join_shuffle_equi",
    """SELECT o.o_orderpriority, count(*) AS n_items, round(sum(l.l_quantity), 4) AS sum_qty
      |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""") { (s, d) =>
    T(s, d, "orders")
      .join(T(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 4).as("sum_qty"))
      .reportSorted("o_orderpriority")
  }

  q("join_multikey",
    """WITH g AS (SELECT l_orderkey, l_partkey, sum(l_quantity) AS grp_qty
      |           FROM lineitem GROUP BY l_orderkey, l_partkey)
      |SELECT l.l_orderkey, l.l_linenumber, round(g.grp_qty, 4) AS grp_qty
      |FROM lineitem l JOIN g ON l.l_orderkey = g.l_orderkey AND l.l_partkey = g.l_partkey
      |ORDER BY l.l_orderkey, l.l_linenumber, grp_qty""") { (s, d) =>
    // Deliberately a real 2-key equi-join (the §2.C MultiIndex-align
    // pattern), not the cheaper window formulation: AQE plans the
    // post-aggregation side as the build side, and the same keys
    // partition both shuffles so the join itself is co-located.
    val li = T(s, d, "lineitem")
    val g = li.groupBy("l_orderkey", "l_partkey")
      .agg(sum("l_quantity").as("grp_qty"))
    li.join(g, Seq("l_orderkey", "l_partkey"))
      .select(col("l_orderkey"), col("l_linenumber"), round(col("grp_qty"), 4).as("grp_qty"))
      .orderBy("l_orderkey", "l_linenumber", "grp_qty")
  }

  q("join_left",
    """SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
      |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      |GROUP BY c.c_custkey ORDER BY c.c_custkey""") { (s, d) =>
    T(s, d, "customer")
      .join(T(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"))
      // one row per customer = input-sized → distributed range sort,
      // not the single-task reportSorted collapse
      .orderBy("c_custkey")
  }

  q("join_semi",
    "SELECT c_custkey FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders) ORDER BY c_custkey") {
    (s, d) =>
      T(s, d, "customer")
        .join(T(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey")
        .orderBy("c_custkey") // input-sized output → distributed sort
  }

  q("join_anti",
    """SELECT c_custkey FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |ORDER BY c_custkey""") { (s, d) =>
    T(s, d, "customer")
      .join(T(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey")
      .orderBy("c_custkey") // input-sized output → distributed sort
  }

  // Equi prefix (nationkey) keeps this a hash join + residual range
  // predicate instead of a nested loop — the scalable band-join shape.
  q("join_theta_range",
    """SELECT s.s_suppkey, count(*) AS n_poorer
      |FROM supplier s JOIN customer c
      |  ON s.s_nationkey = c.c_nationkey AND s.s_acctbal > c.c_acctbal
      |GROUP BY s.s_suppkey ORDER BY s.s_suppkey""") { (s, d) =>
    val sup = T(s, d, "supplier")
    val cust = T(s, d, "customer")
    sup.join(cust,
        sup("s_nationkey") === cust("c_nationkey") && sup("s_acctbal") > cust("c_acctbal"))
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_poorer"))
      .reportSorted("s_suppkey")
  }

  // Pure range join, bucketized: probe-side events explode into the two
  // 1-minute buckets their window can overlap; the join is then an
  // equi-join on (event_type, bucket) with the exact range as residual.
  // A build-side row has exactly one bucket → no duplicate pairs, no
  // distinct. This is the scale shape for intervals with no equi
  // prefix — candidate count ∝ bucket density, never |A|×|B|.
  q("join_range_bucketed",
    """SELECT a.event_type, count(*) AS n_pairs
      |FROM events a JOIN events b
      |  ON a.event_type = b.event_type
      | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 MINUTE
      | AND a.event_id <> b.event_id
      |GROUP BY a.event_type ORDER BY a.event_type""") { (s, d) =>
    val e = T(s, d, "events")
      .select(col("event_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val bucket = (col("us") / lit(60000000L)).cast("long")
    val probe = e
      .withColumn("bkt", explode(array(bucket, bucket + 1)))
      .select(col("event_type"), col("bkt"),
        col("event_id").as("a_id"), col("us").as("a_us"))
    val build = e.select(col("event_type"), bucket.as("bkt"),
      col("event_id").as("b_id"), col("us").as("b_us"))
    probe.join(build, Seq("event_type", "bkt"))
      .filter(col("b_us") >= col("a_us") &&
        col("b_us") <= col("a_us") + lit(60000000L) &&
        col("a_id") =!= col("b_id"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"))
      .reportSorted("event_type")
  }

  // As-of join via single-pass union+window (one shuffle on user_id) —
  // scales linearly, unlike the join+groupBy oracle formulation.
  q("join_asof",
    """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |     c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
      |SELECT p.event_id, CAST(epoch_us(max(c.ts)) AS BIGINT) AS click_ts_us
      |FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
      |GROUP BY p.event_id ORDER BY p.event_id""") { (s, d) =>
    val e = T(s, d, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        (col("event_type") === "click").cast("int").as("is_click"))
    // clicks sort before purchases at equal ts → at-or-before includes ties
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("is_click").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    e.withColumn("click_ts_us",
        max(when(col("is_click") === 1, unix_micros(col("ts")))).over(w))
      .filter(col("event_type") === "purchase")
      .select("event_id", "click_ts_us")
      .orderBy("event_id") // one row per purchase = input-sized
  }

  /** Tolerance-bounded as-of (pandas merge_asof `tolerance=`): each
    * purchase matches its latest prior click only if it happened
    * within the last hour. Same single-pass union+window shape as
    * [[join_asof]] — the backward max IS the only candidate, so the
    * tolerance is a post-hoc null-out on the matched timestamp (if
    * the latest prior click is older than the window, no click in the
    * window exists). One user_id shuffle, zero joins.
    */
  q("join_asof_tolerance",
    """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |     c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
      |SELECT p.event_id, CAST(epoch_us(max(c.ts)) AS BIGINT) AS click_ts_us
      |FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
      |   AND c.ts >= p.ts - INTERVAL 1 HOUR
      |GROUP BY p.event_id ORDER BY p.event_id""") { (s, d) =>
    val e = T(s, d, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        (col("event_type") === "click").cast("int").as("is_click"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("is_click").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    e.withColumn("last_click",
        max(when(col("is_click") === 1, unix_micros(col("ts")))).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"),
        when(col("last_click") >= unix_micros(col("ts")) - lit(3600L * 1000000L),
          col("last_click")).as("click_ts_us"))
      .orderBy("event_id") // one row per purchase = input-sized
  }

  /** Full-outer alignment — the reconciliation join (both-sides-keep;
    * the record-alignment core of gdx_diff, registered standalone to
    * complete the join matrix): suppliers and customers aligned on
    * nationkey, unmatched sides surviving as nulls.
    */
  q("join_full_outer",
    """SELECT n_nationkey, ns, nc FROM (
      |  SELECT coalesce(s.nk, c.nk) AS n_nationkey, s.ns, c.nc
      |  FROM (SELECT s_nationkey AS nk, count(*) AS ns FROM supplier
      |        WHERE s_acctbal > 9000 GROUP BY 1) s
      |  FULL OUTER JOIN
      |       (SELECT c_nationkey AS nk, count(*) AS nc FROM customer
      |        WHERE c_acctbal > 9000 GROUP BY 1) c
      |  ON s.nk = c.nk) t
      |ORDER BY n_nationkey""") { (s, d) =>
    val sup = T(s, d, "supplier").filter(col("s_acctbal") > 9000)
      .groupBy(col("s_nationkey").as("nk")).agg(count(lit(1)).as("ns"))
    val cust = T(s, d, "customer").filter(col("c_acctbal") > 9000)
      .groupBy(col("c_nationkey").as("nk2")).agg(count(lit(1)).as("nc"))
    sup.join(cust, col("nk") === col("nk2"), "full_outer")
      .select(coalesce(col("nk"), col("nk2")).as("n_nationkey"), col("ns"), col("nc"))
      .orderBy("n_nationkey")
  }

  /** Nearest-direction as-of (pandas merge_asof direction="nearest"):
    * each purchase matches its closest click in EITHER direction,
    * ties → the earlier click. Same single-pass union+window shape as
    * [[join_asof]] — one shuffle on user_id, then a backward max and a
    * forward min over the SAME sort order (Spark runs both frames in
    * one Window stage). A click at the purchase's exact timestamp
    * lands in the backward frame (clicks sort first at equal ts) and
    * wins with Δ=0.
    */
  q("join_asof_nearest",
    """WITH p AS (SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS us
      |           FROM events WHERE event_type = 'purchase'),
      |     c AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us
      |           FROM events WHERE event_type = 'click'),
      |     pv AS (SELECT p.event_id, max(c.us) AS prev_us
      |            FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.us <= p.us
      |            GROUP BY p.event_id),
      |     nx AS (SELECT p.event_id, min(c.us) AS next_us
      |            FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.us >= p.us
      |            GROUP BY p.event_id)
      |SELECT p.event_id,
      |       CASE WHEN prev_us IS NULL THEN next_us
      |            WHEN next_us IS NULL THEN prev_us
      |            WHEN p.us - prev_us <= next_us - p.us THEN prev_us
      |            ELSE next_us END AS click_ts_us
      |FROM p JOIN pv USING (event_id) JOIN nx USING (event_id)
      |ORDER BY p.event_id""") { (s, d) =>
    val e = T(s, d, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), (col("event_type") === "click").cast("int").as("is_click"))
    val order = Seq(col("us").asc, col("is_click").desc)
    val back = Window.partitionBy("user_id").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val fwd = Window.partitionBy("user_id").orderBy(order: _*)
      .rowsBetween(0, Window.unboundedFollowing)
    val clickUs = when(col("is_click") === 1, col("us"))
    e.withColumn("prev_us", max(clickUs).over(back))
      .withColumn("next_us", min(clickUs).over(fwd))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"),
        when(col("prev_us").isNull, col("next_us"))
          .when(col("next_us").isNull, col("prev_us"))
          .when(col("us") - col("prev_us") <= col("next_us") - col("us"), col("prev_us"))
          .otherwise(col("next_us")).as("click_ts_us"))
      .orderBy("event_id") // one row per purchase = input-sized
  }

  // ---------------------------------------------------- bucketed join

  private val bucketLock = new Object
  // The bucketed tables hold exactly ONE dataset's rows at a time:
  // remember which, and rebuild on change — a per-dataset "built" set
  // would serve stale data on A → B → A.
  private var bucketHolds: Option[String] = None
  // Process-unique names: the intra-JVM lock cannot serialize a
  // CONCURRENT harness JVM (Verify and Bench do run side by side from
  // the same cwd), and a fixed name would let one JVM drop/overwrite
  // warehouse files the other is mid-scan on — the same reason
  // FormatOps.scratch is per-PID.
  private val bucketPid = ProcessHandle.current().pid()
  private[graft] def liTable = s"graft_li_bucketed_p$bucketPid"
  private[graft] def orTable = s"graft_or_bucketed_p$bucketPid"

  /** One-time per session: write both join sides bucketed (and
    * bucket-sorted) on the join key into the session warehouse. At
    * 100 TB this is the ingestion-time layout decision that removes the
    * join shuffle from EVERY downstream query; here it is rebuilt per
    * session because the default in-memory catalog does not persist
    * bucket specs across JVMs.
    */
  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  private def ensureBucketed(s: org.apache.spark.sql.SparkSession, d: String): Unit =
    bucketLock.synchronized {
      if (!bucketHolds.contains(d)) {
        // the default in-memory catalog forgets tables across JVMs but
        // their warehouse locations survive — clear orphans first
        val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath
        // clear THIS process's leftovers (catalog forgets across JVMs
        // but warehouse dirs survive) plus any orphan left by a DEAD
        // pid — never a live sibling's tables (the cross-JVM race)
        s.sql(s"DROP TABLE IF EXISTS $liTable")
        s.sql(s"DROP TABLE IF EXISTS $orTable")
        Option(new java.io.File(wh).listFiles).foreach(_.foreach { f =>
          val n = f.getName
          val mine = n == liTable || n == orTable
          val orphan = n.startsWith("graft_li_bucketed_p") ||
            n.startsWith("graft_or_bucketed_p")
          val dead = orphan && !mine && (n.split("_p").lastOption
            .flatMap(x => scala.util.Try(x.toLong).toOption)
            .forall(pid => !ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false)))
          if (mine || dead) deleteRecursively(f)
        })
        T(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .saveAsTable(liTable)
        T(s, d, "orders").select("o_orderkey", "o_orderpriority")
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable(orTable)
        bucketHolds = Some(d)
      }
    }

  /** Co-located large-large join: both sides pre-bucketed on the join
    * key, so the join plans with NO shuffle exchange on either side
    * (asserted in PlanInvariantsSpec) — the bucketing answer to
    * `join_shuffle_equi`'s per-query exchange.
    */
  q("join_bucketed_colocated",
    """SELECT o.o_orderpriority, count(*) AS n_items, round(sum(l.l_quantity), 4) AS sum_qty
      |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""") { (s, d) =>
    ensureBucketed(s, d)
    s.table(liTable)
      .join(s.table(orTable), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 4).as("sum_qty"))
      .reportSorted("o_orderpriority")
  }

  q("join_cross",
    "SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n ORDER BY r.r_name, n.n_name") {
    (s, d) =>
      T(s, d, "region").select("r_name")
        .crossJoin(T(s, d, "nation").select("n_name"))
        .reportSorted("r_name", "n_name")
  }

  // ---------------------------------------------------------------- D

  q("agg_sum_over_dim",
    "SELECT l_returnflag, round(sum(l_quantity), 4) AS sum_qty FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag") {
    (s, d) =>
      T(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(sum("l_quantity"), 4).as("sum_qty"))
        .reportSorted("l_returnflag")
  }

  q("agg_multi",
    """SELECT l_linestatus, count(*) AS n, round(min(l_quantity), 4) AS mn,
      |       round(max(l_quantity), 4) AS mx, round(avg(l_quantity), 6) AS av,
      |       round(stddev_samp(l_quantity), 6) AS sd
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""") { (s, d) =>
    T(s, d, "lineitem")
      .groupBy("l_linestatus")
      .agg(count(lit(1)).as("n"),
        round(min("l_quantity"), 4).as("mn"),
        round(max("l_quantity"), 4).as("mx"),
        round(avg("l_quantity"), 6).as("av"),
        round(stddev("l_quantity"), 6).as("sd"))
      .reportSorted("l_linestatus")
  }

  q("agg_distinct",
    "SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority") {
    (s, d) =>
      T(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("n_cust"))
        .reportSorted("o_orderpriority")
  }

  /** Engine-portable HyperLogLog (Flajolet et al. 2007, with the
    * Flajolet-Martin lowest-set-bit rank instead of leading zeros —
    * same geometric(1/2) distribution, arithmetic in any SQL engine).
    * HASH-CHECKED since round 11 by the agg_count_min md5 device:
    * the 60-bit item hash is the first 15 hex chars of md5 (identical
    * in both engines), register j = h mod 4096, rank rho = lowest set
    * bit of h div 4096 (capped at 33). Registers are MAXes and the
    * harmonic sum Σ 2^-M_j is EXACT in double (terms are multiples of
    * 2^-33 with total < 2^13 → 46-bit span < 53), so the whole
    * estimate is merge-order-free — what kept the seeded built-in
    * `approx_count_distinct` rows-only. The only inexact step is the
    * linear-counting `ln` (≤1 ulp engine skew); the 1e-6-shifted floor
    * absorbs it (residual flip probability ~1e-8, see the LlmOps
    * quantization note). Scale: register extraction is map-side; the
    * shuffle after partial max carries ≤ m=4096 rows per group —
    * state KBs per group at any input size, rsd ≈ 1.04/√4096 ≈ 1.6%.
    * The DataSketches built-ins (`hll_sketch_agg`/`hll_union_agg`)
    * remain the zero-code alternative — demonstrated and
    * accuracy-pinned in SketchSpec, not registered, because their
    * binary sketches are engine-specific.
    */
  /** FROZEN at 4096: the value is mirrored as a literal inside the
    * oracle SQL builders ([[hllOracleCtes]]/[[hllEstSql]]) and their
    * derived constants (2.5·m, α(m), ln(m/V)) — resizing the sketch
    * means touching Spark expressions AND oracle SQL together, so the
    * constant exists to NAME the size, not to tune it.
    */
  private[graft] val hllM = 4096
  /** (group cols preserved) → one (j, mrho) row per occupied register. */
  private[graft] def hllRegisters(df: DataFrame, valueCol: String, groupCols: String*): DataFrame = {
    val h = conv(substring(md5(col(valueCol).cast("string")), 1, 15), 16, 10)
      .cast("long")
    val withJ = df
      .withColumn("hv", h)
      .withColumn("j", pmod(col("hv"), lit(hllM.toLong)))
      .withColumn("sfx", expr(s"hv div $hllM"))
      .withColumn("rho", coalesce(
        expr("array_min(filter(sequence(1, 33), " +
          "k -> ((sfx div shiftleft(cast(1 as bigint), k - 1)) % 2) = 1))"),
        lit(33)))
    withJ.groupBy((groupCols.map(col) :+ col("j")): _*)
      .agg(max(col("rho")).as("mrho"))
  }
  /** Registers → per-group BIGINT estimate column named `alias`. The
    * global (no-group) case aggregates under a constant key so empty
    * input yields ZERO rows — matching the oracle's GROUP BY, where a
    * bare `regs.agg(...)` would emit one NULL-estimate row.
    */
  private[graft] def hllEstimate(regs: DataFrame, alias: String, groupCols: String*): DataFrame = {
    val grouped =
      (if (groupCols.isEmpty) regs.groupBy(lit(0).as("_g"))
       else regs.groupBy(groupCols.map(col): _*))
        .agg(count(lit(1)).as("vp"),
          sum(expr("cast(1.0 as double) / cast(shiftleft(cast(1 as bigint), cast(mrho as int)) as double)")).as("sp"))
        .drop("_g")
    val mD = lit(hllM.toDouble)
    val alphaMM = (lit(0.7213) / (lit(1.0) + lit(1.079) / mD)) * mD * mD
    val e = alphaMM / (col("sp") + (mD - col("vp")))
    val v = lit(hllM.toLong) - col("vp")
    val est = when(e <= lit(2.5) * mD && v > 0, mD * log(mD / v)).otherwise(e)
    grouped.withColumn(alias, floor(est + lit(1e-6)).cast("long"))
      .drop("vp", "sp")
  }
  /** Registers → (grp, est BIGINT) — the ONE place the estimate
    * formula lives in SQL (mirroring [[hllEstimate]]); `regCte` is any
    * CTE exposing (grp, mrho).
    */
  private def hllEstSql(regCte: String): String =
    s"""SELECT grp, CAST(floor(
       |    CASE WHEN e <= CAST(2.5 AS DOUBLE) * 4096 AND (4096 - vp) > 0
       |         THEN CAST(4096 AS DOUBLE) * ln(CAST(4096 AS DOUBLE) / (4096 - vp))
       |         ELSE e END + CAST(0.000001 AS DOUBLE)) AS BIGINT) AS est
       |  FROM (SELECT grp, vp,
       |          (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(4096.0 AS DOUBLE))
       |            * CAST(4096.0 AS DOUBLE) * CAST(4096.0 AS DOUBLE))
       |          / (sp + (4096 - vp)) AS e
       |        FROM (SELECT grp, count(*) AS vp,
       |                sum(CAST(1.0 AS DOUBLE) / CAST(CAST(1 AS BIGINT) << mrho AS DOUBLE)) AS sp
       |              FROM $regCte GROUP BY grp))""".stripMargin

  /** Shared DuckDB mirror: CTEs `hreg` (group, j, mrho) and `hest`
    * (group, est BIGINT) over `$src(grp, v)`; grp is any expression
    * aliased upstream.
    */
  private def hllOracleCtes(src: String): String =
    s"""hraw AS (
       |  SELECT grp, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           [CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)
       |            FOR ch IN string_split_regex(substr(md5(CAST(v AS VARCHAR)), 1, 15), '')]),
       |           (a, b) -> a * 16 + b) AS hv
       |  FROM $src),
       |     hreg AS (
       |  SELECT grp, hv % 4096 AS j,
       |         max(coalesce(list_min([k FOR k IN generate_series(1, 33)
       |               IF ((hv // 4096) // (CAST(1 AS BIGINT) << (k - 1))) % 2 = 1]), 33)) AS mrho
       |  FROM hraw GROUP BY grp, hv % 4096),
       |     hest AS (
       |  ${hllEstSql("hreg")})""".stripMargin

  q("agg_approx_distinct",
    s"""WITH src AS (SELECT l_returnflag AS grp, l_partkey AS v FROM lineitem),
       |     ${hllOracleCtes("src")}
       |SELECT grp AS l_returnflag, est AS approx_parts FROM hest ORDER BY l_returnflag""") {
    (s, d) =>
      val regs = hllRegisters(
        T(s, d, "lineitem").select(col("l_returnflag"), col("l_partkey")),
        "l_partkey", "l_returnflag")
      hllEstimate(regs, "approx_parts", "l_returnflag")
        .select(col("l_returnflag"), col("approx_parts"))
        .reportSorted("l_returnflag")
  }

  /** HLL set-operation algebra: |A ∩ B| by inclusion–exclusion over
    * sketches (the audience-overlap / cross-segment-reach primitive —
    * HLL unions are EXACT on registers, intersections are NOT
    * expressible in register space, so |A|+|B|−|A∪B| is the standard
    * estimator, e.g. Dasgupta et al. 2016's theta-sketch motivation):
    * A = view users, B = purchase users, union = register-max of the
    * SAME one-pass register frame all three estimates share
    * (localCheckpointed — the sketch is built once). The
    * `exact_intersection` companion column is the audit the small
    * tiers afford (two distinct sets + a semi-join); at 100 TB the
    * production path is the three O(4096)-state sketches and the
    * exact column is what you drop, not the other way around.
    * Inclusion–exclusion error compounds (difference of three ±1.6%
    * estimates) — the spec pins the observed error band.
    */
  q("agg_hll_intersection",
    s"""WITH src AS (SELECT event_type AS grp, user_id AS v FROM events
       |             WHERE event_type IN ('view', 'purchase')),
       |     ${hllOracleCtes("src")},
       |     ureg AS (SELECT 'u' AS grp, j, max(mrho) AS mrho FROM hreg GROUP BY 1, 2),
       |     uest AS (${hllEstSql("ureg")}),
       |     ex AS (SELECT count(*) AS exact_intersection FROM
       |       (SELECT DISTINCT user_id FROM events WHERE event_type = 'view') a
       |       JOIN (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase') b
       |       USING (user_id))
       |SELECT (SELECT est FROM hest WHERE grp = 'view') AS est_view,
       |       (SELECT est FROM hest WHERE grp = 'purchase') AS est_purchase,
       |       (SELECT est FROM uest) AS est_union,
       |       greatest((SELECT est FROM hest WHERE grp = 'view')
       |                + (SELECT est FROM hest WHERE grp = 'purchase')
       |                - (SELECT est FROM uest), 0) AS est_intersection,
       |       (SELECT exact_intersection FROM ex) AS exact_intersection""") { (s, d) =>
    val ev = T(s, d, "events")
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_type").as("grp"), col("user_id"))
    // ONE register pass feeds A, B, and the union merge
    val regs = Checkpoints.take(hllRegisters(ev, "user_id", "grp"))
    val estA = hllEstimate(regs.filter(col("grp") === "view"), "est_view")
      .select("est_view")
    val estB = hllEstimate(regs.filter(col("grp") === "purchase"), "est_purchase")
      .select("est_purchase")
    val estU = hllEstimate(regs.groupBy("j").agg(max("mrho").as("mrho")), "est_union")
      .select("est_union")
    val e = T(s, d, "events")
    val exact = e.filter(col("event_type") === "view").select("user_id").distinct()
      .join(e.filter(col("event_type") === "purchase").select("user_id").distinct(),
        Seq("user_id"), "left_semi")
      .agg(count(lit(1)).as("exact_intersection"))
    estA.crossJoin(estB).crossJoin(estU).crossJoin(exact) // four 1-row frames
      .select(col("est_view"), col("est_purchase"), col("est_union"),
        greatest(col("est_view") + col("est_purchase") - col("est_union"), lit(0L))
          .as("est_intersection"),
        col("exact_intersection"))
  }

  /** Sketch REUSE — the production distinct-count pattern at 100 TB:
    * materialize one register table per source slice (here: per
    * returnflag), then answer the global question by MERGING sketches
    * (register-wise max) — KBs of state, no second scan of the data.
    * Same portable HLL as agg_approx_distinct, so since round 11 the
    * merge itself is hash-checked: the oracle rebuilds the per-flag
    * registers, maxes them into a global register table, and replays
    * the estimate. Max is associative/commutative/idempotent — the
    * merge tree shape (per-partition, per-day, per-datacenter) never
    * changes the answer.
    */
  q("agg_hll_partial_merge",
    s"""WITH src AS (SELECT l_returnflag AS grp, l_partkey AS v FROM lineitem),
       |     ${hllOracleCtes("src")},
       |     merged AS (SELECT 0 AS grp, j, max(mrho) AS mrho FROM hreg GROUP BY j),
       |     gest AS (
       |  ${hllEstSql("merged")})
       |SELECT est AS global_distinct FROM gest""") { (s, d) =>
    val perFlag = hllRegisters(
      T(s, d, "lineitem").select(col("l_returnflag"), col("l_partkey")),
      "l_partkey", "l_returnflag")
    val merged = perFlag.groupBy("j").agg(max("mrho").as("mrho"))
    hllEstimate(merged, "global_distinct")
      .select(col("global_distinct"))
  }

  /** Heavy hitters over the corpus token stream — the production
    * TWO-PASS architecture: pass 1 runs the native Misra-Gries sketch
    * ([[graft.functions.MisraGriesTopK]], the Agarwal 2013
    * mergeable-summaries TypedImperativeAggregate; k−1 = 63 counters
    * per partition regardless of vocabulary size) to surface a
    * candidate superset — the MG guarantee says every token with
    * frequency > n/64 is present no matter how partials merged; pass 2
    * broadcasts the ≤63 candidates back over the stream for EXACT
    * counts and keeps freq·64 > n. HASH-CHECKED since r11: the
    * candidate set varies with merge order, but the exact-verified
    * output is precisely the true heavy-hitter set {token : freq >
    * n/64} — deterministic, and the integer-only threshold is
    * DuckDB-replayable (the oracle skips the sketch and filters the
    * exact counts directly, which is the same set BY THE GUARANTEE).
    * Counter values stay internal (merge-order lower bounds — pinned
    * in HeavyHitterSpec); the shuffle story stays vocab-independent:
    * 63 counters/partition in pass 1, ≤63 count rows in pass 2 —
    * `topk_global`/`text_ngram_freq` shuffle the whole distinct-token
    * space instead.
    */
  q("agg_heavy_hitters",
    """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |     wc AS (SELECT w, count(*) AS c FROM tk WHERE length(w) > 0 GROUP BY w),
      |     tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM wc)
      |SELECT w AS item, CAST(c AS BIGINT) AS freq
      |FROM wc, tot WHERE c * 64 > n ORDER BY item""") { (s, d) =>
    val toks = T(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val sk = toks.agg(graft.functions.agg.mgTopK(col("w"), 64).as("hh"),
      count(lit(1)).as("n"))
    val cand = sk.select(col("n"),
      explode(expr("transform(hh, e -> e.item)")).as("w"))
    toks.join(broadcast(cand), Seq("w")) // candidates are ≤63 rows: genuinely bounded
      .groupBy("w", "n").agg(count(lit(1)).as("freq"))
      .filter(col("freq") * 64 > col("n"))
      .select(col("w").as("item"), col("freq"))
      .reportSorted("item")
  }

  /** The two-pass heavy hitters GROUPED — per-language frequent items,
    * exercising the native TypedImperativeAggregate through
    * hash-aggregate grouping (one k-counter buffer per group, map-side
    * partials merge per group key), then the same broadcast
    * exact-verify per (lang, candidate). Deterministic and
    * hash-checked like the global row: the output is {token : freq >
    * n_lang/64} per language, independent of how the per-group sketch
    * buffers merged.
    */
  q("agg_heavy_hitters_grouped",
    """WITH tk AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
      |     wc AS (SELECT lang, w, count(*) AS c FROM tk WHERE length(w) > 0 GROUP BY lang, w),
      |     tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM wc GROUP BY lang)
      |SELECT wc.lang AS lang, w AS item, CAST(c AS BIGINT) AS freq
      |FROM wc JOIN tot ON tot.lang = wc.lang
      |WHERE c * 64 > n ORDER BY wc.lang, item""") { (s, d) =>
    val toks = T(s, d, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val sk = toks.groupBy("lang")
      .agg(graft.functions.agg.mgTopK(col("w"), 64).as("hh"),
        count(lit(1)).as("n"))
    val cand = sk.select(col("lang"), col("n"),
      explode(expr("transform(hh, e -> e.item)")).as("w"))
    toks.join(broadcast(cand), Seq("lang", "w")) // ≤63 rows per language
      .groupBy("lang", "w", "n").agg(count(lit(1)).as("freq"))
      .filter(col("freq") * 64 > col("n"))
      .select(col("lang"), col("w").as("item"), col("freq"))
      .reportSorted("lang", "item")
  }

  /** Count-min sketch point-frequency estimates (Cormode &
    * Muthukrishnan 2005) — the fourth sketch beside HLL (distinct),
    * Misra-Gries (top-k) and bloom (membership): answers "how often
    * does THIS item occur" from d×w counters regardless of vocabulary
    * size, with one-sided error (never undercounts, overcounts by
    * ≤ εN w.h.p., ε = e/w ≈ 1.3e-3 at w = 2048). HASH-CHECKED since
    * round 11: the d row-hashes are md5-derived (first 8 hex chars →
    * int mod w, row index salted into the digest) — md5 is available
    * and bit-identical in both engines, so DuckDB rebuilds the exact
    * counter table and estimates; and the counters are SUMS, so the
    * sketch is merge-order-free by construction (what kept the
    * seeded built-in rows-only). Also the better scale shape than the
    * built-in stat helper it replaced: ONE vocab-sized two-phase
    * count, then the d-cell explode runs on the DISTINCT-WORD frame
    * (cell counters from Σ word counts ≡ per-occurrence increments,
    * addition commutes), so the shuffle after the word count carries
    * ≤ d·w counter rows and the probe lookup is a broadcast-scale
    * join — no token-space re-shuffle, no driver-side probing.
    */
  q("agg_count_min", {
    val hashCell = (src: String) =>
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |           [CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)
         |            FOR ch IN string_split_regex(
         |              substr(md5(CAST(i.i AS VARCHAR) || '#' || $src), 1, 8), '')]),
         |           (a, b) -> a * 16 + b) % 2048""".stripMargin
    s"""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       |     wc AS (SELECT w, count(*) AS c FROM tk WHERE length(w) > 0 GROUP BY w),
       |     cells AS (
       |  SELECT wc.c, i.i AS r, ${hashCell("wc.w")} AS cell
       |  FROM wc, unnest(generate_series(0, 3)) i(i)),
       |     counters AS (
       |  SELECT r, cell, CAST(sum(c) AS BIGINT) AS n FROM cells GROUP BY r, cell),
       |     top AS (SELECT w AS token, c AS exact FROM wc
       |             ORDER BY c DESC, w LIMIT 10),
       |     pc AS (
       |  SELECT t.token, t.exact, i.i AS r, ${hashCell("t.token")} AS cell
       |  FROM top t, unnest(generate_series(0, 3)) i(i))
       |SELECT p.token, min(co.n) AS cms_estimate, CAST(p.exact AS BIGINT) AS exact
       |FROM pc p JOIN counters co ON co.r = p.r AND co.cell = p.cell
       |GROUP BY p.token, p.exact ORDER BY token""".stripMargin
  }) { (s, d) =>
    val depth = 4
    val width = 2048
    def cellsOf(word: org.apache.spark.sql.Column) =
      explode(array((0 until depth).map { i =>
        struct(lit(i).as("r"),
          (conv(substring(md5(concat_ws("#", lit(i.toString), word)), 1, 8), 16, 10)
            .cast("long") % width).as("cell"))
      }: _*))
    val wc = T(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
    val counters = wc
      .select(col("c"), cellsOf(col("w")).as("rc"))
      .select(col("c"), col("rc.r").as("r"), col("rc.cell").as("cell"))
      .groupBy("r", "cell").agg(sum("c").as("n"))
    val top = wc.orderBy(col("c").desc, col("w").asc).limit(10)
      .select(col("w").as("token"), col("c").as("exact"))
    top
      .select(col("token"), col("exact"), cellsOf(col("token")).as("rc"))
      .select(col("token"), col("exact"), col("rc.r").as("r"), col("rc.cell").as("cell"))
      .join(counters, Seq("r", "cell"))
      .groupBy("token", "exact")
      .agg(min("n").as("cms_estimate"))
      .select(col("token"), col("cms_estimate"), col("exact"))
      .reportSorted("token")
  }

  /** Per-group mode with a deterministic tie (smallest value wins) —
    * the categorical summary statistic. Two-phase by construction:
    * (group, value) counts with map-side combine (shuffle ∝ distinct
    * values per group), then a window rank over the COUNT table (tiny),
    * never over the raw rows.
    */
  q("agg_mode",
    """SELECT l_returnflag, mode_qty, n FROM (
      |  SELECT l_returnflag, round(l_quantity, 4) AS mode_qty, n,
      |         row_number() OVER (PARTITION BY l_returnflag
      |                            ORDER BY n DESC, l_quantity) AS rn
      |  FROM (SELECT l_returnflag, l_quantity, count(*) AS n
      |        FROM lineitem GROUP BY 1, 2) c) t
      |WHERE rn = 1 ORDER BY l_returnflag""") { (s, d) =>
    val counts = T(s, d, "lineitem")
      .groupBy("l_returnflag", "l_quantity")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("n").desc, col("l_quantity").asc)
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), round(col("l_quantity"), 4).as("mode_qty"), col("n"))
      .reportSorted("l_returnflag")
  }

  /** Fixed-width histogram per group — the profiling/EDA staple. Bin
    * assignment is map-side arithmetic; one two-phase count on
    * (group, bin) — never a sort, never a collect. Quantity values are
    * exact integers in double, so the floor is engine-deterministic.
    */
  q("agg_histogram",
    """SELECT l_returnflag, CAST(floor(l_quantity / 10) AS INTEGER) AS bin, count(*) AS n
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    T(s, d, "lineitem")
      .groupBy(col("l_returnflag"),
        floor(col("l_quantity") / 10).cast("int").as("bin"))
      .agg(count(lit(1)).as("n"))
      .reportSorted("l_returnflag", "bin")
  }

  /** Deterministic per-group string aggregation (LISTAGG): members
    * sort inside the aggregated array before concatenation, so the
    * result is order-stable under any partitioning — the form that
    * stays correct when the group's rows arrive from 1000 executors.
    */
  q("agg_string_agg",
    """SELECT o_orderpriority, string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, d) =>
    T(s, d, "orders")
      .groupBy("o_orderpriority")
      .agg(array_join(array_sort(collect_set(col("o_orderstatus"))), ",").as("statuses"))
      .reportSorted("o_orderpriority")
  }

  /** Per-group correlation/covariance — the bivariate summary pair.
    * Single two-phase aggregate (co-moment accumulators are fixed-size
    * map-side state); round-6 absorbs the engines' accumulation-order
    * ulps.
    */
  q("agg_corr",
    """SELECT l_returnflag,
      |       round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
      |       round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qp
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, d) =>
    T(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(round(corr("l_quantity", "l_extendedprice"), 6).as("corr_qp"),
        round(covar_samp("l_quantity", "l_extendedprice"), 4).as("covar_qp"))
      .reportSorted("l_returnflag")
  }

  /** Higher central moments per group — the distribution-profiling
    * aggregate (EDA / drift monitoring): population variance and
    * skewness derived from raw POWER SUMS (Σx, Σx², Σx³) rather than
    * the built-in skewness()/kurtosis() aggregates, because the two
    * engines disagree on bias correction while the power-sum algebra
    * is identical on both — same fixed-size two-phase aggregation
    * state, cross-engine hash-stable at 6 dp (error analysis: values
    * ≤ ~500 → Σx³ ≲ 10¹²; partition-order double drift ≲ √n·ulp
    * propagates to ≲ 10⁻¹² in the final skew). Single two-phase pass.
    */
  q("agg_moments",
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |       round(sum(value) / count(*), 6) AS mean,
      |       round(sum(value * value) / count(*)
      |             - (sum(value) / count(*)) ^ 2, 6) + 0.0 AS var_pop,
      |       round((sum(value * value * value) / count(*)
      |              - 3 * (sum(value) / count(*)) * (sum(value * value) / count(*))
      |              + 2 * (sum(value) / count(*)) ^ 3)
      |             / (CASE WHEN (sum(value * value) / count(*)
      |                           - (sum(value) / count(*)) ^ 2) <= 1e-9 THEN NULL
      |                     ELSE (sum(value * value) / count(*)
      |                           - (sum(value) / count(*)) ^ 2) ^ 1.5 END), 6) AS skew_pop
      |FROM events GROUP BY event_type ORDER BY event_type""") { (s, d) =>
    val n = count(lit(1)).cast("double")
    val m1 = sum(col("value")) / n
    val m2 = sum(col("value") * col("value")) / n
    val m3 = sum(col("value") * col("value") * col("value")) / n
    T(s, d, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(m1, 6).as("mean"),
        // + 0.0 washes a cancellation-noise −0.0 to +0.0 (an
        // all-identical group leaves m2 − m1² at ±1e-18, whose SIGN is
        // summation-order-dependent; the two engines could render
        // round(−0.0) as "-0" vs "0")
        (round(m2 - m1 * m1, 6) + lit(0.0)).as("var_pop"),
        // threshold guard, not nullif-at-exactly-0: the degenerate
        // group's variance is cancellation NOISE (~±1e-18), never an
        // exact 0.0, and O(eps)/eps^1.5 is engine-divergent garbage —
        // below the 1e-9 noise floor skew is undefined on both engines
        // (checklist 7, same idea as agg_linreg's denominator guard)
        round((m3 - lit(3) * m1 * m2 + lit(2) * m1 * m1 * m1)
          / when(m2 - m1 * m1 <= 1e-9, lit(null))
            .otherwise(pow(m2 - m1 * m1, 1.5)), 6).as("skew_pop"))
      .reportSorted("event_type")
  }

  q("agg_grouping_sets",
    """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 4) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""") { (s, d) =>
    T(s, d, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 4).as("sum_qty"))
      .reportSorted(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  q("agg_pivot",
    """SELECT l_returnflag,
      |       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4) AS F,
      |       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4) AS O
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, d) =>
    T(s, d, "lineitem")
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum("l_quantity"), 4))
      .reportSorted("l_returnflag")
  }

  q("agg_weighted",
    """SELECT l_returnflag,
      |       round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 6) AS wavg_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, d) =>
    T(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(round(sum(col("l_extendedprice") * col("l_quantity")) / sum(col("l_quantity")), 6)
        .as("wavg_price"))
      .reportSorted("l_returnflag")
  }

  /** Per-group Shannon entropy of the token distribution — the
    * corpus-diversity profile (a collapsed/templated source scores
    * low, a diverse one approaches ln(vocab)). Algebra avoids a
    * second pass: H = ln N − (Σ n·ln n)/N from one (group, token)
    * count table, so the shape is exactly two two-phase aggregates —
    * shuffle ∝ per-group distinct tokens, then ∝ groups. The n·ln n
    * sum is a double accumulation → 6-dp rounding absorbs partition-
    * order ulps; N casts from DuckDB's HUGEINT per the q() checklist.
    */
  q("agg_entropy",
    """WITH c AS (SELECT source, w, count(*) AS n FROM (
      |             SELECT source, unnest(str_split(text, ' ')) AS w FROM documents)
      |           GROUP BY 1, 2)
      |SELECT source,
      |       round(ln(CAST(sum(n) AS DOUBLE)) - sum(n * ln(n)) / CAST(sum(n) AS DOUBLE), 6) AS entropy,
      |       CAST(count(*) AS BIGINT) AS vocab,
      |       CAST(sum(n) AS BIGINT) AS n_tokens
      |FROM c GROUP BY source ORDER BY source""") { (s, d) =>
    val c = T(s, d, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy("source", "w")
      .agg(count(lit(1)).as("n"))
    c.groupBy("source")
      .agg(
        round(log(sum(col("n")).cast("double")) -
          sum(col("n") * log(col("n"))) / sum(col("n")).cast("double"), 6).as("entropy"),
        count(lit(1)).as("vocab"),
        sum(col("n")).as("n_tokens"))
      .reportSorted("source")
  }

  /** Per-group OLS trend line — slope/intercept of value over time,
    * completing the bivariate family (corr/covar measure association;
    * this fits the line a drift monitor alarms on). Same power-sum
    * discipline as agg_moments: one two-phase aggregate of
    * (n, Σx, Σy, Σxy, Σx²), closed-form solve — identical algebra on
    * both engines, fixed-size state. x is epoch DAYS shifted by a
    * fixed 19700 (≈ the data's epoch-day base): without centering,
    * n·Σx² − (Σx)² cancels ~10 of double's 15 digits on clustered
    * timestamps and the 6-dp round flips cross-engine; after the
    * shift x ∈ O(100) and the difference is exact to working
    * precision. A constant shift leaves the slope untouched
    * (intercept is AT day 19700 by definition).
    */
  q("agg_linreg",
    """WITH p AS (
      |  SELECT event_type,
      |         CAST(count(*) AS DOUBLE) AS n,
      |         sum(CAST(epoch_us(ts) // 86400000000 - 19700 AS DOUBLE)) AS sx,
      |         sum(value) AS sy,
      |         sum(CAST(epoch_us(ts) // 86400000000 - 19700 AS DOUBLE) * value) AS sxy,
      |         sum(CAST(epoch_us(ts) // 86400000000 - 19700 AS DOUBLE)
      |           * CAST(epoch_us(ts) // 86400000000 - 19700 AS DOUBLE)) AS sxx
      |  FROM events GROUP BY 1)
      |SELECT event_type,
      |       round((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0), 6) AS slope,
      |       round((sy - (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0) * sx) / n, 6) AS intercept
      |FROM p ORDER BY event_type""") { (s, d) =>
    val x = (expr("unix_micros(ts) div 86400000000L") - lit(19700L)).cast("double")
    val p = T(s, d, "events")
      .select(col("event_type"), x.as("x"), col("value").as("y"))
      .groupBy("event_type")
      .agg(count(lit(1)).cast("double").as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    // nullif: a group whose events all share one epoch day has zero
    // x-variance — an undefined slope is null, not an ANSI error or a
    // cross-engine inf/nan formatting divergence
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      nullif(col("n") * col("sxx") - col("sx") * col("sx"), lit(0.0))
    p.select(col("event_type"), round(slope, 6).as("slope"),
        round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"))
      .reportSorted("event_type")
  }

  /** Bloom-prefiltered selective join — the runtime-filter pattern as
    * a first-class operator: build ONE bloom filter over the selective
    * dim's join keys (KBs of state via Spark's own sketch, injected as
    * `bloom_agg`/`bloom_contains` — the engine uses the same pair
    * internally for runtime join filters), broadcast it, and drop
    * non-matching fact rows MAP-SIDE before the join. When the dim is
    * broadcastable the prefilter is redundant (the hash join already
    * probes map-side); it pays when the dim is too big to broadcast
    * but still selective — the fact shuffle then carries matching
    * rows + the false-positive rate instead of the whole table, and
    * one built filter can prefilter any number of downstream scans.
    * Keys pass through xxhash64 on BOTH sides (the filter inserts
    * longs; same-hash pairing preserves no-false-negatives), so the
    * real join afterwards removes the false positives and the result
    * is EXACTLY the plain join — which is what the oracle asserts.
    */
  q("join_bloom_prefilter",
    """SELECT p.p_brand, count(*) AS n, round(sum(l.l_quantity), 4) AS sum_qty
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE p.p_retailprice > 995
      |GROUP BY p.p_brand ORDER BY p.p_brand""") { (s, d) =>
    import graft.functions.agg.{bloomAgg, bloomContains}
    val dim = T(s, d, "part")
      .filter(col("p_retailprice") > 995)
      .select("p_partkey", "p_brand")
    // might_contain requires a CONSTANT filter (same restriction the
    // engine's own runtime-filter rewrite satisfies with a scalar
    // subquery) — the one-row collect is the filter's KB-sized sketch
    // bytes, the bounded-driver-state class the IVF centroids set
    val bfBytes = dim.agg(bloomAgg(xxhash64(col("p_partkey")), 100000L).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    T(s, d, "lineitem")
      .select("l_partkey", "l_quantity")
      .filter(bloomContains(lit(bfBytes), xxhash64(col("l_partkey"))))
      .join(dim, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("sum_qty"))
      .reportSorted("p_brand")
  }

  /** Interval-overlap join — BOTH sides are interval relations (user
    * sessions × global error-incident hours), completing the range
    * family: theta_range is point-vs-band with an equi prefix,
    * range_bucketed is point-vs-window, this is interval-vs-interval.
    * Production shape for two BIG sides: each interval explodes into
    * the hour buckets it covers (explode factor = interval length /
    * bucket, bounded by the session gap), candidates equi-join on the
    * bucket, the exact overlap predicate filters, and DISTINCT
    * collapses pairs that met in several buckets — candidate volume ∝
    * per-bucket density, never |A|·|B|. The oracle is the quadratic
    * theta join (fine at oracle scale): proving the bucketed plan ≡
    * the naive one is the point. Incidents are data-derived (hours
    * with above-average error count), so the query is SF-agnostic.
    */
  q("join_interval_overlap",
    """WITH g AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |                OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
      |                   > 1800000000 THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |     sess AS (
      |  SELECT user_id, session_id,
      |         min(epoch_us(ts)) AS s_lo, max(epoch_us(ts)) AS s_hi
      |  FROM (SELECT user_id, ts,
      |               CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |        FROM g) x GROUP BY 1, 2),
      |     hr AS (
      |  SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS h_lo, count(*) AS n
      |  FROM events WHERE event_type = 'error' GROUP BY 1),
      |     inc AS (
      |  SELECT h_lo, h_lo + 3600000000 AS h_hi FROM hr
      |  WHERE n > (SELECT avg(n) FROM hr))
      |SELECT s.user_id, s.session_id, CAST(i.h_lo AS BIGINT) AS incident_us
      |FROM sess s JOIN inc i
      |  ON s.s_lo < i.h_hi AND i.h_lo <= s.s_hi
      |ORDER BY user_id, session_id, incident_us""") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val e = T(s, d, "events")
    val sess = e
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("brk", when(col("prev").isNull ||
        unix_micros(col("ts")) - unix_micros(col("prev")) > 1800L * 1000000L, 1)
        .otherwise(0))
      .withColumn("session_id",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(min(unix_micros(col("ts"))).as("s_lo"), max(unix_micros(col("ts"))).as("s_hi"))
    val hr = e.filter(col("event_type") === "error")
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("h_lo"))
      .agg(count(lit(1)).as("n"))
    val inc = hr.crossJoin(broadcast(hr.agg(avg("n").as("avg_n"))))
      .filter(col("n") > col("avg_n"))
      .select(col("h_lo"), (col("h_lo") + lit(3600000000L)).as("h_hi"))
    // bucket = covered hour (integer `div` — exact at any timestamp
    // unit, where a float floor could misbucket boundary sessions at
    // ns precision); sessions explode across their span, incidents
    // are exactly one bucket wide by construction
    // FLOOR division for the session endpoints: `div` truncates toward
    // zero, which for pre-epoch (negative-µs) timestamps lands one
    // bucket HIGH while the incident hours are date_trunc-FLOORED —
    // the equi-join would then miss genuinely overlapping pairs the
    // theta-join oracle emits. (h_lo is an exact hour multiple, so its
    // div == floor always.)
    def floorHour(c: String) = expr(
      s"($c div 3600000000L) + (CASE WHEN $c % 3600000000L < 0 THEN -1 ELSE 0 END)")
    val sb = sess.withColumn("bkt",
      explode(sequence(floorHour("s_lo"), floorHour("s_hi"))))
    val ib = inc.withColumn("bkt", expr("h_lo div 3600000000L"))
    sb.join(ib, Seq("bkt"))
      .filter(col("s_lo") < col("h_hi") && col("h_lo") <= col("s_hi"))
      // no DISTINCT needed HERE: incidents are hour-aligned and exactly
      // one bucket wide, so each qualifying pair meets in exactly one
      // bucket. General interval×interval (both sides multi-bucket)
      // adds a distinct on the pair key — candidates would then carry
      // min(spanA, spanB) copies per pair.
      .select(col("user_id"), col("session_id"), col("h_lo").as("incident_us"))
      .orderBy("user_id", "session_id", "incident_us")
  }

  /** Incremental aggregate maintenance — the daily-rollup pattern at
    * 100 TB: when a delta batch arrives, merge its PARTIAL aggregate
    * into the standing rollup instead of rescanning the base (sum/
    * count merge by addition, avg re-derives from them — the same
    * algebra Spark's own two-phase aggregation uses between map and
    * reduce). The query computes base and delta partials from the two
    * event half-ranges, merges via one tiny full-outer join, and the
    * oracle checks the merged result IS the full-scan aggregate —
    * the mergeability contract. The split is the same data-derived
    * integer-µs midpoint as pipeline_snapshot_upsert.
    */
  q("agg_incremental_rollup",
    """SELECT event_type, count(*) AS n,
      |       round(sum(value), 4) AS sum_v,
      |       round(sum(value) / count(*), 6) AS avg_v
      |FROM events GROUP BY event_type ORDER BY event_type""") { (s, d) =>
    val x = T(s, d, "events")
      .select(col("event_type"), col("value"), unix_micros(col("ts")).as("us"))
    val cut = x.agg(expr("min(us) + (max(us) - min(us)) div 2").as("cut"))
    val withCut = x.crossJoin(broadcast(cut))
    def partial(side: DataFrame): DataFrame =
      side.groupBy("event_type")
        .agg(count(lit(1)).as("pn"), sum("value").as("psum"))
    // the split must be EXHAUSTIVE: a NULL ts fails both `us < cut`
    // and `us >= cut`, silently dropping the row from the merged
    // rollup while the oracle's plain GROUP BY counts it — route
    // NULL-ts rows (and the all-NULL case where cut itself is NULL)
    // into the base half
    val base = partial(withCut.filter(col("cut").isNull ||
        coalesce(col("us"), lit(Long.MinValue)) < col("cut")))
      .select(col("event_type"), col("pn").as("bn"), col("psum").as("bsum"))
    val delta = partial(withCut.filter(col("cut").isNotNull &&
        coalesce(col("us"), lit(Long.MinValue)) >= col("cut")))
      .select(col("event_type"), col("pn").as("dn"), col("psum").as("dsum"))
    base.join(delta, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("bsum"), lit(0.0)) + coalesce(col("dsum"), lit(0.0))).as("s"))
      .select(col("event_type"), col("n"),
        round(col("s"), 4).as("sum_v"),
        round(col("s") / col("n"), 6).as("avg_v"))
      .reportSorted("event_type")
  }

  /** Gini coefficient per group — the concentration/inequality summary
    * (0 = uniform, →1 = one row holds everything): the complement of
    * agg_entropy's diversity view, the standard skew report for spend/
    * contribution distributions. Closed form over ascending ranks
    * G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n: ONE group-partitioned sort for
    * the rank (i), then a two-phase sum — never a quadratic pairwise
    * |xᵢ−xⱼ| formulation. Ties are order-invariant (equal values make
    * Σ i·xᵢ independent of their mutual order), so the event_id
    * tiebreak only pins the hash, not the value.
    */
  q("agg_gini",
    """WITH r AS (
      |  SELECT event_type, value,
      |         CAST(row_number() OVER (PARTITION BY event_type
      |                ORDER BY value, event_id) AS DOUBLE) AS i
      |  FROM events)
      |SELECT event_type,
      |       round(2 * sum(i * value) / nullif(count(*) * sum(value), 0)
      |             - (count(*) + 1.0) / count(*), 6) AS gini
      |FROM r GROUP BY event_type ORDER BY event_type""") { (s, d) =>
    val w = Window.partitionBy("event_type").orderBy(col("value").asc, col("event_id").asc)
    T(s, d, "events")
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("i", row_number().over(w).cast("double"))
      .groupBy("event_type")
      // a group whose values sum to 0: IEEE x/0 renders
      // engine-specifically (Inf/NaN vs NULL) — nullif pins both to NULL
      .agg(round(lit(2) * sum(col("i") * col("value")) /
          nullif(count(lit(1)) * sum(col("value")), lit(0.0)) -
          (count(lit(1)) + lit(1.0)) / count(lit(1)), 6).as("gini"))
      .reportSorted("event_type")
  }

  /** Median absolute deviation per group — the robust scale estimate
    * (stddev is wrecked by one outlier; MAD isn't). Two exact
    * percentile aggregates with a broadcast-sized join between them:
    * per-group median, then the median of |x − median|. Exact
    * percentile is the right tool while groups are report-sized; an
    * unbounded stream swaps in the KLL sketch
    * (agg_approx_percentile) exactly like the median-window note.
    */
  q("agg_mad",
    """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS m
      |             FROM events GROUP BY 1)
      |SELECT e.event_type,
      |       round(any_value(med.m), 6) AS median_v,
      |       round(quantile_cont(abs(e.value - med.m), 0.5), 6) AS mad
      |FROM events e JOIN med ON med.event_type = e.event_type
      |GROUP BY e.event_type ORDER BY e.event_type""") { (s, d) =>
    val e = T(s, d, "events").select("event_type", "value")
    val med = e.groupBy("event_type")
      .agg(percentile(col("value"), lit(0.5)).as("m"))
    e.join(broadcast(med), Seq("event_type"))
      .groupBy("event_type")
      .agg(round(first(col("m")), 6).as("median_v"),
        round(percentile(abs(col("value") - col("m")), lit(0.5)), 6).as("mad"))
      .reportSorted("event_type")
  }

  /** Data-quality audit (the Deequ/expectations analyzer pass): one
    * scan computes completeness, emptiness, distinctness, and range
    * metrics for the documents table in a SINGLE aggregate row.
    * Multiple DISTINCT aggregates plan as one Expand + two-phase
    * aggregate (one shuffle, expand factor = #distinct columns) —
    * never one job per metric, which is the naive profiler's O(cols)
    * scans. At 100 TB the exact distincts on high-cardinality columns
    * would swap to the HLL sketch (agg_approx_distinct shape); the
    * low-cardinality audit columns here are the exact-is-cheap case.
    */
  q("dq_profile",
    """SELECT count(*) AS n_rows,
      |       CAST(count(text) AS BIGINT) AS text_nonnull,
      |       CAST(sum(CASE WHEN text = '' THEN 1 ELSE 0 END) AS BIGINT) AS text_empty,
      |       CAST(count(DISTINCT lang) AS BIGINT) AS lang_distinct,
      |       CAST(count(DISTINCT source) AS BIGINT) AS source_distinct,
      |       CAST(min(n_chars) AS BIGINT) AS chars_min,
      |       CAST(max(n_chars) AS BIGINT) AS chars_max,
      |       round(avg(n_chars), 6) AS chars_avg,
      |       CAST(sum(CASE WHEN n_chars <> len(text) THEN 1 ELSE 0 END) AS BIGINT) AS chars_mismatch
      |FROM documents""") { (s, d) =>
    T(s, d, "documents").agg(
      count(lit(1)).as("n_rows"),
      count(col("text")).as("text_nonnull"),
      sum(when(col("text") === "", 1).otherwise(0)).as("text_empty"),
      countDistinct(col("lang")).as("lang_distinct"),
      countDistinct(col("source")).as("source_distinct"),
      min(col("n_chars")).as("chars_min"),
      max(col("n_chars")).as("chars_max"),
      round(avg(col("n_chars")), 6).as("chars_avg"),
      sum(when(col("n_chars") =!= length(col("text")), 1).otherwise(0)).as("chars_mismatch"))
  }

  /** Declarative constraint suite (the Deequ `check` counterpart to
    * dq_profile's analyzer pass): completeness, uniqueness, range,
    * set-membership and pattern constraints evaluated in ONE aggregate
    * scan of orders — adding a constraint adds a column to the
    * aggregate, never a scan — plus referential integrity as a
    * LEFT-ANTI join count against customer (AQE picks broadcast while
    * the dimension fits, shuffle-join beyond). Output is the
    * (constraint, metric, passed) report a data contract gate
    * consumes; `passed` is 0/1 so the comparison is type-stable
    * across engines.
    */
  q("dq_constraint_check",
    """WITH m AS (SELECT count(*) AS n,
      |    sum(CASE WHEN o_orderdate IS NOT NULL THEN 1 ELSE 0 END) AS c_date,
      |    count(DISTINCT o_orderkey) AS u_key,
      |    sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS c_price,
      |    sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) AS c_status,
      |    sum(CASE WHEN o_orderpriority LIKE '_-%' THEN 1 ELSE 0 END) AS c_prio
      |  FROM orders),
      |v AS (SELECT count(*) AS nv FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
      |      WHERE c.c_custkey IS NULL)
      |SELECT * FROM (
      |  SELECT 'completeness_o_orderdate' AS constraint_name, round(CAST(c_date AS DOUBLE)/n, 6) AS metric, CAST(c_date = n AS BIGINT) AS passed FROM m
      |  UNION ALL SELECT 'uniqueness_o_orderkey', round(CAST(u_key AS DOUBLE)/n, 6), CAST(u_key = n AS BIGINT) FROM m
      |  UNION ALL SELECT 'range_o_totalprice_pos', round(CAST(c_price AS DOUBLE)/n, 6), CAST(c_price = n AS BIGINT) FROM m
      |  UNION ALL SELECT 'set_o_orderstatus', round(CAST(c_status AS DOUBLE)/n, 6), CAST(c_status = n AS BIGINT) FROM m
      |  UNION ALL SELECT 'pattern_o_orderpriority', round(CAST(c_prio AS DOUBLE)/n, 6), CAST(c_prio = n AS BIGINT) FROM m
      |  UNION ALL SELECT 'referential_o_custkey', CAST(nv AS DOUBLE), CAST(nv = 0 AS BIGINT) FROM v
      |) ORDER BY constraint_name""") { (s, d) =>
    val o = T(s, d, "orders")
    val m = o.agg(
      count(lit(1)).as("n"),
      sum(when(col("o_orderdate").isNotNull, 1).otherwise(0)).as("c_date"),
      countDistinct(col("o_orderkey")).as("u_key"),
      sum(when(col("o_totalprice") > 0, 1).otherwise(0)).as("c_price"),
      sum(when(col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)).as("c_status"),
      sum(when(col("o_orderpriority").like("_-%"), 1).otherwise(0)).as("c_prio"))
    val v = o.join(T(s, d, "customer").select("c_custkey"),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("nv"))
    def report(src: DataFrame, name: String, metric: Column,
        passed: Column): DataFrame =
      src.select(lit(name).as("constraint_name"), metric.as("metric"),
        passed.cast("long").as("passed"))
    def frac(c: String): Column = round(col(c).cast("double") / col("n"), 6)
    def all(c: String): Column = col(c) === col("n")
    Seq(
      report(m, "completeness_o_orderdate", frac("c_date"), all("c_date")),
      report(m, "uniqueness_o_orderkey", frac("u_key"), all("u_key")),
      report(m, "range_o_totalprice_pos", frac("c_price"), all("c_price")),
      report(m, "set_o_orderstatus", frac("c_status"), all("c_status")),
      report(m, "pattern_o_orderpriority", frac("c_prio"), all("c_prio")),
      report(v, "referential_o_custkey", col("nv").cast("double"), col("nv") === 0))
      .reduce(_.unionByName(_))
      .reportSorted("constraint_name")
  }

  /** Whole-schema referential-integrity audit — orphan counts for
    * every foreign-key relation in the star schema at once (the
    * cross-TABLE completion of [[dq_constraint_check]]'s single
    * referential row; deequ/GE-style "relationship" checks): per
    * relation, total child rows, child rows whose key finds no
    * parent, and how many DISTINCT orphan keys there are (one bad
    * key repeated 10⁹ times vs 10⁹ bad keys is the triage question).
    * The driver schema is fully consistent (all five relations audit
    * to 0 orphans — itself a pinned fact), so the COUNTING path is
    * exercised by a crafted broken-FK fixture in OpsSemanticsSpec
    * rather than trusted on faith. Scale: each relation is ONE
    * anti-join on the key
    * (AQE broadcasts the dim-sized distinct parent side) + 1-row
    * aggregates — all integer, no data-sized collect; relations run
    * independently and union 5 single rows.
    */
  q("dq_referential_integrity",
    """WITH pc AS (SELECT DISTINCT c_custkey AS k FROM customer),
      |     po AS (SELECT DISTINCT o_orderkey AS k FROM orders),
      |     pp AS (SELECT DISTINCT p_partkey AS k FROM part),
      |     ps AS (SELECT DISTINCT s_suppkey AS k FROM supplier)
      |SELECT * FROM (
      |  SELECT 'events.user_id->customer' AS relation,
      |    (SELECT count(*) FROM events) AS n_child,
      |    (SELECT count(*) FROM events e LEFT JOIN pc ON pc.k = e.user_id
      |     WHERE pc.k IS NULL) AS n_orphans,
      |    (SELECT count(DISTINCT e.user_id) FROM events e LEFT JOIN pc ON pc.k = e.user_id
      |     WHERE pc.k IS NULL) AS n_orphan_keys
      |  UNION ALL SELECT 'lineitem.l_orderkey->orders',
      |    (SELECT count(*) FROM lineitem),
      |    (SELECT count(*) FROM lineitem l LEFT JOIN po ON po.k = l.l_orderkey
      |     WHERE po.k IS NULL),
      |    (SELECT count(DISTINCT l.l_orderkey) FROM lineitem l LEFT JOIN po ON po.k = l.l_orderkey
      |     WHERE po.k IS NULL)
      |  UNION ALL SELECT 'lineitem.l_partkey->part',
      |    (SELECT count(*) FROM lineitem),
      |    (SELECT count(*) FROM lineitem l LEFT JOIN pp ON pp.k = l.l_partkey
      |     WHERE pp.k IS NULL),
      |    (SELECT count(DISTINCT l.l_partkey) FROM lineitem l LEFT JOIN pp ON pp.k = l.l_partkey
      |     WHERE pp.k IS NULL)
      |  UNION ALL SELECT 'lineitem.l_suppkey->supplier',
      |    (SELECT count(*) FROM lineitem),
      |    (SELECT count(*) FROM lineitem l LEFT JOIN ps ON ps.k = l.l_suppkey
      |     WHERE ps.k IS NULL),
      |    (SELECT count(DISTINCT l.l_suppkey) FROM lineitem l LEFT JOIN ps ON ps.k = l.l_suppkey
      |     WHERE ps.k IS NULL)
      |  UNION ALL SELECT 'orders.o_custkey->customer',
      |    (SELECT count(*) FROM orders),
      |    (SELECT count(*) FROM orders o LEFT JOIN pc ON pc.k = o.o_custkey
      |     WHERE pc.k IS NULL),
      |    (SELECT count(DISTINCT o.o_custkey) FROM orders o LEFT JOIN pc ON pc.k = o.o_custkey
      |     WHERE pc.k IS NULL)
      |) ORDER BY relation""") { (s, d) =>
    def rel(name: String, child: DataFrame, key: String,
        parent: DataFrame, pk: String): DataFrame = {
      val orphans = child.select(col(key).as("k"))
        .join(parent.select(col(pk).as("k")).distinct(), Seq("k"), "left_anti")
      child.agg(count(lit(1)).as("n_child"))
        .crossJoin(orphans.agg(count(lit(1)).as("n_orphans"),
          countDistinct(col("k")).as("n_orphan_keys")))
        .select(lit(name).as("relation"), col("n_child"),
          col("n_orphans"), col("n_orphan_keys"))
    }
    val cust = T(s, d, "customer")
    val li = T(s, d, "lineitem")
    Seq(
      rel("events.user_id->customer", T(s, d, "events"), "user_id", cust, "c_custkey"),
      rel("lineitem.l_orderkey->orders", li, "l_orderkey", T(s, d, "orders"), "o_orderkey"),
      rel("lineitem.l_partkey->part", li, "l_partkey", T(s, d, "part"), "p_partkey"),
      rel("lineitem.l_suppkey->supplier", li, "l_suppkey", T(s, d, "supplier"), "s_suppkey"),
      rel("orders.o_custkey->customer", T(s, d, "orders"), "o_custkey", cust, "c_custkey"))
      .reduce(_.unionByName(_))
      .reportSorted("relation") // 5 relations = catalog-sized
  }

  /** Robust central tendency per group: 10%-trimmed and winsorized
    * means (SPEC: Tukey; the standard outlier-resistant summaries a
    * metrics pipeline reports next to the raw mean). The cut is
    * RANK-based — drop/clamp rows whose row_number lies in the outer
    * n/10 tails — never a quantile-value threshold, so membership is
    * integer-deterministic where interpolated-percentile boundaries
    * could ulp-flip across engines. One (event_type) partition sort
    * serves both window functions; the winsorized mean needs NO second
    * pass: it is (kept_sum + t·lo + t·hi)/n in closed form from the
    * same grouped aggregate. At 100 TB: group-sized windows over the
    * grouping key's natural partitioning, fixed-state aggregate after.
    */
  q("agg_trimmed_mean",
    """WITH r AS (
      |  SELECT event_type, value,
      |         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |         count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events),
      |     g AS (
      |  SELECT event_type, n, n // 10 AS t,
      |         avg(CASE WHEN rn > n // 10 AND rn <= n - n // 10 THEN value END) AS tmean,
      |         sum(CASE WHEN rn > n // 10 AND rn <= n - n // 10 THEN value END) AS skept,
      |         max(CASE WHEN rn = n // 10 + 1 THEN value END) AS vlo,
      |         max(CASE WHEN rn = n - n // 10 THEN value END) AS vhi
      |  FROM r GROUP BY event_type, n)
      |SELECT event_type, CAST(n AS BIGINT) AS n, round(tmean, 6) AS trimmed_mean,
      |       round((skept + t * vlo + t * vhi) / n, 6) AS winsor_mean,
      |       round(vlo, 6) AS lo_clamp, round(vhi, 6) AS hi_clamp
      |FROM g ORDER BY event_type""") { (s, d) =>
    val w = Window.partitionBy("event_type").orderBy(col("value").asc, col("event_id").asc)
    val wc = Window.partitionBy("event_type")
    val r = T(s, d, "events").select("event_type", "event_id", "value")
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wc))
      .withColumn("t", expr("n div 10"))
    val kept = col("rn") > col("t") && col("rn") <= col("n") - col("t")
    r.groupBy("event_type")
      .agg(max("n").cast("long").as("n"),
        round(avg(when(kept, col("value"))), 6).as("trimmed_mean"),
        sum(when(kept, col("value"))).as("skept"),
        max(when(col("rn") === col("t") + 1, col("value"))).as("vlo"),
        max(when(col("rn") === col("n") - col("t"), col("value"))).as("vhi"),
        max("t").as("tt"))
      .select(col("event_type"), col("n"), col("trimmed_mean"),
        round((col("skept") + col("tt") * col("vlo") + col("tt") * col("vhi"))
          / col("n"), 6).as("winsor_mean"),
        round(col("vlo"), 6).as("lo_clamp"), round(col("vhi"), 6).as("hi_clamp"))
      .reportSorted("event_type")
  }

  /** Deterministic per-group k-sample — the restart-stable stand-in for
    * reservoir sampling (SPEC: Vitter 1985 semantics, derandomized):
    * rank by an LCG hash of the row key (the pipeline_epoch_shuffle
    * key rule) and keep the first k per group, so the sample is
    * uniform-ish, reproducible across retries/engines, and
    * oracle-expressible. Spark plans the rank-filter as
    * WindowGroupLimit: each map task keeps only its local top-k per
    * group BEFORE the shuffle — at 100 TB the exchange carries
    * O(k · groups · partitions), never the corpus.
    */
  q("agg_reservoir_sample",
    """SELECT event_type, CAST(rn AS INTEGER) AS slot, event_id, value FROM (
      |  SELECT event_type, event_id, value,
      |         row_number() OVER (PARTITION BY event_type
      |           ORDER BY ((event_id % 2147483648) * 1103515245 + 12345) % 2147483648,
      |                    event_id) AS rn
      |  FROM events) t WHERE rn <= 5 ORDER BY event_type, slot""") { (s, d) =>
    // reduce the key below 2^31 BEFORE the multiply: the product then
    // tops out at ~2.3e18 < Long.Max, so the hash never overflows
    // (ANSI crash) no matter how large event_id grows; identity for
    // keys already < 2^31
    val h = pmod(pmod(col("event_id"), lit(2147483648L)) * lit(1103515245L)
      + lit(12345L), lit(2147483648L))
    val w = Window.partitionBy("event_type").orderBy(h.asc, col("event_id").asc)
    T(s, d, "events").select("event_type", "event_id", "value")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("event_type"), col("rn").cast("int").as("slot"),
        col("event_id"), col("value"))
      .reportSorted("event_type", "slot")
  }

  /** Poisson-bootstrap confidence interval for the mean (SPEC: the
    * bag-of-little-bootstraps lineage — Kleiner et al. 2012; classic
    * resampling draws n rows WITH replacement B times, which cannot be
    * done in one pass, so the scale formulation gives every row an
    * independent ~Poisson(1) weight per replicate and computes all B
    * weighted means in ONE corpus pass): explode ×B, two-phase
    * aggregate on the B replicate keys — the shuffle carries B rows
    * per partition, never the data. Weights come from the LCG key
    * rule via the inverse Poisson CDF (truncated at 3, P≈0.019 tail —
    * documented), so the resample is deterministic and
    * engine-reproducible. The CI is RANK-based over the B=32 rounded
    * replicate means (2nd smallest / 2nd largest ≈ the 3%/97% band) —
    * integer-deterministic, no interpolation.
    */
  q("agg_bootstrap_ci",
    """WITH w AS (
      |  SELECT b.i AS b, e.value,
      |         CASE WHEN u < 0.367879 THEN 0 WHEN u < 0.735759 THEN 1
      |              WHEN u < 0.919699 THEN 2 ELSE 3 END AS wt
      |  FROM (SELECT value, event_id FROM events) e
      |  CROSS JOIN generate_series(1, 32) b(i)
      |  CROSS JOIN LATERAL (SELECT ((((e.event_id * 131 + b.i) % 2147483648)
      |                               * 1103515245 + 12345)
      |                              % 2147483648 + 0.5) / 2147483648.0 AS u) t),
      |     reps AS (SELECT b, round(sum(wt * value) / nullif(sum(wt), 0), 6) AS m
      |             FROM w GROUP BY b),
      |     r AS (SELECT m, row_number() OVER (ORDER BY m, b) AS rn FROM reps),
      |     full_m AS (SELECT count(*) AS n, round(avg(value), 6) AS mean FROM events)
      |SELECT CAST(full_m.n AS BIGINT) AS n, full_m.mean,
      |       max(CASE WHEN rn = 2 THEN m END) AS ci_lo,
      |       max(CASE WHEN rn = 31 THEN m END) AS ci_hi
      |FROM r, full_m GROUP BY full_m.n, full_m.mean""") { (s, d) =>
    val ev = T(s, d, "events").select("event_id", "value")
    val reps = ev.withColumn("b", explode(sequence(lit(1), lit(32))))
      .withColumn("u", Replicates.uniform(col("event_id"), col("b")))
      .withColumn("wt", Replicates.poissonWeight(col("u")))
      .groupBy("b")
      .agg(round(sum(col("wt") * col("value"))
        / nullif(sum(col("wt")).cast("double"), lit(0.0)), 6).as("m"))
    val wOrd = Window.orderBy(col("m").asc, col("b").asc) // 32 rows: bounded
    val ranked = reps.withColumn("rn", row_number().over(wOrd))
    val full = ev.agg(count(lit(1)).as("n"), round(avg("value"), 6).as("mean"))
    ranked.crossJoin(broadcast(full))
      .groupBy("n", "mean")
      .agg(max(when(col("rn") === 2, col("m"))).as("ci_lo"),
        max(when(col("rn") === 31, col("m"))).as("ci_hi"))
      .select("n", "mean", "ci_lo", "ci_hi")
  }

  /** Population Stability Index between a reference and a current
    * value distribution (SPEC: the credit-risk-standard drift score —
    * PSI = Σ (p_i − q_i)·ln(p_i/q_i) over reference-decile buckets;
    * <0.1 stable, >0.25 action — reported beside [[q dq_drift_ks]]:
    * KS is the max pointwise gap, PSI the mass-weighted divergence).
    * Decile BOUNDARIES are reference values at rank ⌈i·n/10⌉ (the
    * two-pass global rank — integer-deterministic, no interpolation);
    * bucket assignment is a broadcast join against the 9 boundary
    * rows counting strict `bv < value` — one rule, both engines, no
    * width_bucket dialect drift. Only buckets populated on BOTH sides
    * enter the sum (the standard zero-cell guard), and the ≤10-term
    * log sum is rounded once.
    */
  q("dq_drift_psi",
    """WITH r AS (SELECT event_id, value FROM events WHERE event_type = 'view'),
      |     c AS (SELECT event_id, value FROM events WHERE event_type = 'click'),
      |     rr AS (SELECT value, row_number() OVER (ORDER BY value, event_id) AS rn,
      |                   count(*) OVER () AS n FROM r),
      |     b AS (SELECT value AS bv FROM rr
      |           WHERE rn IN (SELECT CAST(ceil(i * n / 10.0) AS BIGINT)
      |                        FROM (SELECT DISTINCT n FROM rr), generate_series(1, 9) t(i))),
      |     rb AS (SELECT x.event_id, 1 + sum(CASE WHEN b.bv < x.value THEN 1 ELSE 0 END) AS bucket
      |            FROM r x CROSS JOIN b GROUP BY x.event_id),
      |     cb AS (SELECT x.event_id, 1 + sum(CASE WHEN b.bv < x.value THEN 1 ELSE 0 END) AS bucket
      |            FROM c x CROSS JOIN b GROUP BY x.event_id),
      |     p AS (SELECT bucket, count(*) AS np FROM rb GROUP BY 1),
      |     q AS (SELECT bucket, count(*) AS nq FROM cb GROUP BY 1),
      |     t AS (SELECT (SELECT count(*) FROM r) AS n_ref, (SELECT count(*) FROM c) AS n_cur)
      |SELECT CAST(t.n_ref AS BIGINT) AS n_ref, CAST(t.n_cur AS BIGINT) AS n_cur,
      |       CAST(count(*) AS INTEGER) AS n_buckets,
      |       round(sum((CAST(p.np AS DOUBLE) / nullif(t.n_ref, 0)
      |                  - CAST(q.nq AS DOUBLE) / nullif(t.n_cur, 0))
      |                 * ln((CAST(p.np AS DOUBLE) / nullif(t.n_ref, 0))
      |                      / (CAST(q.nq AS DOUBLE) / nullif(t.n_cur, 0)))), 6) AS psi
      |FROM p JOIN q USING (bucket), t
      |GROUP BY t.n_ref, t.n_cur""") { (s, d) =>
    val ev = T(s, d, "events")
    val ref = ev.filter(col("event_type") === "view").select("event_id", "value")
    val cur = ev.filter(col("event_type") === "click").select("event_id", "value")
    val nAgg = ref.agg(count(lit(1)).as("n"))
    // asc_nulls_last: DuckDB's ASC default ranks NULLs last, Spark's
    // ranks them first — a NULL value would shift every decile
    // boundary by one
    val boundaries = WindowOps.globalPrefixSums(ref.withColumn("one", lit(1L)),
        Seq(col("value").asc_nulls_last, col("event_id").asc), Seq("one"))
      .crossJoin(broadcast(nAgg))
      .filter((1 to 9).map(i =>
        col("cum_one") === ceil(lit(i) * col("n") / 10.0).cast("long"))
        .reduce(_ || _))
      .select(col("value").as("bv"))
    def buckets(side: org.apache.spark.sql.DataFrame) =
      side.crossJoin(broadcast(boundaries))
        .groupBy("event_id")
        .agg((lit(1) + sum(when(col("bv") < col("value"), 1).otherwise(0))).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
    val p = buckets(ref).withColumnRenamed("cnt", "np")
    val q_ = buckets(cur).withColumnRenamed("cnt", "nq")
    val tot = ref.agg(count(lit(1)).as("n_ref"))
      .crossJoin(cur.agg(count(lit(1)).as("n_cur")))
    p.join(q_, Seq("bucket"))
      .crossJoin(broadcast(tot))
      .select(col("n_ref"), col("n_cur"),
        (col("np").cast("double") / nullif(col("n_ref"), lit(0L))).as("pp"),
        (col("nq").cast("double") / nullif(col("n_cur"), lit(0L))).as("qq"))
      .groupBy("n_ref", "n_cur")
      .agg(count(lit(1)).cast("int").as("n_buckets"),
        round(sum((col("pp") - col("qq")) * log(col("pp") / col("qq"))), 6).as("psi"))
      .select("n_ref", "n_cur", "n_buckets", "psi")
  }

  /** Two-sample Kolmogorov–Smirnov distance between the value
    * distributions of two event families (SPEC: the standard
    * data-drift gate a training pipeline runs between yesterday's and
    * today's feature distributions). D = max |F_a − F_b| evaluated at
    * every observation. The ECDFs come from GLOBAL prefix sums of the
    * two membership indicators over the (value, event_id) total order —
    * [[WindowOps.globalPrefixSums]]: range-bucket + intra-bucket
    * running sums + O(#partitions) offset lookup, so unlike the
    * textbook single ORDER BY window there is no single-partition
    * exchange at any scale. Every per-row term is a division of exact
    * integers; the max is rounded once.
    */
  q("dq_drift_ks",
    """WITH ev AS (
      |  SELECT event_id, value,
      |         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
      |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |     c AS (
      |  SELECT sum(a) OVER (ORDER BY value, event_id ROWS UNBOUNDED PRECEDING) AS ca,
      |         sum(b) OVER (ORDER BY value, event_id ROWS UNBOUNDED PRECEDING) AS cb
      |  FROM ev),
      |     t AS (SELECT CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(b) AS BIGINT) AS n_b FROM ev)
      |SELECT t.n_a, t.n_b,
      |       round(max(abs(CAST(c.ca AS DOUBLE) / nullif(t.n_a, 0)
      |                     - CAST(c.cb AS DOUBLE) / nullif(t.n_b, 0))), 6) AS ks_d
      |FROM c, t GROUP BY t.n_a, t.n_b""") { (s, d) =>
    val ev = T(s, d, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("value"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("a"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("b"))
    val cum = WindowOps.globalPrefixSums(ev,
      Seq(col("value").asc_nulls_last, col("event_id").asc), Seq("a", "b"))
    val tot = ev.agg(sum("a").cast("long").as("n_a"), sum("b").cast("long").as("n_b"))
    cum.crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_b"),
        // one side empty -> n = 0: IEEE x/0 diverges cross-engine
        abs(col("cum_a").cast("double") / nullif(col("n_a"), lit(0L))
          - col("cum_b").cast("double") / nullif(col("n_b"), lit(0L))).as("diff"))
      .groupBy("n_a", "n_b")
      .agg(round(max(col("diff")), 6).as("ks_d"))
  }
}
