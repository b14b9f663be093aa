package graft.ops

import graft.{Checkpoints, QueryModule, T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-10 additions: inferential statistics, temporal (point-in-time)
  * joins, lexical-diversity text signals, threshold vector retrieval,
  * and signal-shape detection — the analytics surface a data-quality /
  * experimentation team runs beside the §2.L curation pipelines.
  *
  * Every row follows the registry rules (QueryModule scaladoc): total
  * deterministic order, identical aliases both sides, floats rounded
  * identically, integer arithmetic wherever a boundary could ulp-flip.
  */
object AnalyticsOps extends QueryModule {

  /** Welch's unequal-variance two-sample t (SPEC: Welch 1947, the
    * default A/B-test statistic — pooled-variance Student t is wrong
    * under variance heterogeneity). Everything derives from ONE
    * fixed-state grouped aggregate (n, mean, s²) per arm — the same
    * two-phase partial-merge shape as agg_moments, so at 100 TB the
    * shuffle carries 2 rows. The t and Welch–Satterthwaite df are
    * closed-form driver-free arithmetic on that 2-row frame (1-row
    * crossJoin of two 1-row sides — broadcast by size, no data motion).
    */
  q("agg_welch_ttest",
    """WITH g AS (
      |  SELECT event_type, count(*) AS n, avg(value) AS m, var_samp(value) AS v
      |  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY event_type)
      |SELECT CAST(a.n AS BIGINT) AS n_click, CAST(b.n AS BIGINT) AS n_purchase,
      |       round(a.m - b.m, 6) AS mean_diff,
      |       round((a.m - b.m) / nullif(sqrt(a.v / a.n + b.v / b.n), 0), 4) AS t_stat,
      |       round(pow(a.v / a.n + b.v / b.n, 2) /
      |             nullif(pow(a.v / a.n, 2) / (a.n - 1) + pow(b.v / b.n, 2) / (b.n - 1), 0), 2) AS df_welch
      |FROM (SELECT * FROM g WHERE event_type = 'click') a,
      |     (SELECT * FROM g WHERE event_type = 'purchase') b""") { (s, d) =>
    val g = T(s, d, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), avg("value").as("m"), var_samp("value").as("v"))
    val a = g.filter(col("event_type") === "click")
      .select(col("n").as("na"), col("m").as("ma"), col("v").as("va"))
    val b = g.filter(col("event_type") === "purchase")
      .select(col("n").as("nb"), col("m").as("mb"), col("v").as("vb"))
    val se2 = col("va") / col("na") + col("vb") / col("nb")
    // both arms constant -> zero variance: IEEE would give +-Inf/NaN
    // with engine-specific rendering — nullif pins BOTH engines to NULL
    a.crossJoin(b).select(
      col("na").cast("long").as("n_click"),
      col("nb").cast("long").as("n_purchase"),
      round(col("ma") - col("mb"), 6).as("mean_diff"),
      round((col("ma") - col("mb")) / nullif(sqrt(se2), lit(0.0)), 4).as("t_stat"),
      round(pow(se2, 2) /
        nullif(pow(col("va") / col("na"), 2) / (col("na") - 1) +
          pow(col("vb") / col("nb"), 2) / (col("nb") - 1), lit(0.0)), 2).as("df_welch"))
  }

  /** Pearson chi-square test of independence between event_type and a
    * fixed value band (SPEC: Pearson 1900). The contingency table is
    * ONE grouped count on integer cell keys; marginals re-aggregate
    * the CELL frame (≤ types × bands rows), never the input; expected
    * counts come from a dense marginal cross join so EMPTY observed
    * cells still contribute (O−E)²/E = E — the classic bug a sparse
    * formulation hides. At 100 TB: one corpus pass, then arithmetic
    * on a catalog-sized grid. Band edges are integer `floor(value/50)`
    * clipped to 3 — no interpolated boundaries to ulp-flip.
    */
  q("agg_chi2_independence",
    """WITH c AS (
      |  SELECT event_type, least(CAST(floor(value / 50) AS INTEGER), 3) AS band,
      |         count(*) AS o
      |  FROM events GROUP BY event_type, band),
      |rt AS (SELECT event_type, sum(o) AS r FROM c GROUP BY event_type),
      |ct AS (SELECT band, sum(o) AS cc FROM c GROUP BY band),
      |tot AS (SELECT sum(o) AS n FROM c),
      |grid AS (SELECT rt.event_type, ct.band, rt.r * ct.cc * 1.0 / tot.n AS e
      |         FROM rt, ct, tot),
      |j AS (SELECT grid.event_type, grid.band, grid.e, coalesce(c.o, 0) AS o
      |      FROM grid LEFT JOIN c ON grid.event_type = c.event_type AND grid.band = c.band)
      |SELECT round(sum(pow(o - e, 2) / e), 6) AS chi2,
      |       CAST((count(DISTINCT event_type) - 1) * (count(DISTINCT band) - 1) AS BIGINT) AS dof
      |FROM j""") { (s, d) =>
    val c = T(s, d, "events")
      .select(col("event_type"),
        least(floor(col("value") / 50).cast("int"), lit(3)).as("band"))
      .groupBy("event_type", "band").agg(count(lit(1)).as("o"))
    val rt = c.groupBy("event_type").agg(sum("o").as("r"))
    val ct = c.groupBy("band").agg(sum("o").as("cc"))
    val tot = c.agg(sum("o").as("n"))
    val grid = rt.crossJoin(broadcast(ct)).crossJoin(broadcast(tot))
      .select(col("event_type"), col("band"),
        (col("r") * col("cc") * lit(1.0) / col("n")).as("e"))
    grid.join(c, Seq("event_type", "band"), "left")
      .select(col("event_type"), col("band"), col("e"),
        coalesce(col("o"), lit(0L)).as("o"))
      .agg(round(sum(pow(col("o") - col("e"), 2) / col("e")), 6).as("chi2"),
        ((countDistinct("event_type") - 1) * (countDistinct("band") - 1))
          .cast("long").as("dof"))
  }

  /** Per-group Tukey-fence outlier profile (SPEC: Tukey 1977 — the
    * boxplot rule every DQ dashboard reports): exact q1/q3, IQR
    * fences at 1.5·IQR, and the count outside each fence. Fences are
    * rounded to 6dp BEFORE the comparison on both engines, so an
    * interpolated-quantile ulp difference cannot flip a row's
    * outlier membership. Plan: one group-sized quantile aggregate →
    * broadcast fences (group-cardinality rows) back onto the fact
    * scan → ONE conditional-count pass. Two corpus passes total
    * (quantiles are holistic), zero driver loops — at 100 TB swap
    * pass 1 to approx_percentile without touching the probe pass.
    */
  q("dq_outlier_iqr",
    """WITH s AS (
      |  SELECT event_type,
      |         round(quantile_cont(value, 0.25), 6) AS q1,
      |         round(quantile_cont(value, 0.75), 6) AS q3
      |  FROM events GROUP BY event_type),
      |f AS (SELECT event_type, q1, q3,
      |             round(q1 - 1.5 * (q3 - q1), 6) AS lo,
      |             round(q3 + 1.5 * (q3 - q1), 6) AS hi FROM s)
      |SELECT f.event_type, f.q1, f.q3, f.lo, f.hi,
      |       CAST(sum(CASE WHEN e.value < f.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
      |       CAST(sum(CASE WHEN e.value > f.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_above
      |FROM f JOIN events e ON f.event_type = e.event_type
      |GROUP BY f.event_type, f.q1, f.q3, f.lo, f.hi
      |ORDER BY f.event_type""") { (s, d) =>
    val e = T(s, d, "events").select("event_type", "value")
    val fences = e.groupBy("event_type")
      .agg(round(expr("percentile(value, 0.25)"), 6).as("q1"),
        round(expr("percentile(value, 0.75)"), 6).as("q3"))
      .select(col("event_type"), col("q1"), col("q3"),
        round(col("q1") - lit(1.5) * (col("q3") - col("q1")), 6).as("lo"),
        round(col("q3") + lit(1.5) * (col("q3") - col("q1")), 6).as("hi"))
    e.join(broadcast(fences), Seq("event_type"))
      .groupBy("event_type", "q1", "q3", "lo", "hi")
      .agg(sum(when(col("value") < col("lo"), 1L).otherwise(0L)).cast("long").as("n_below"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L)).cast("long").as("n_above"))
      .reportSorted("event_type")
  }

  /** Node-similarity on the user↔event_type bipartite graph: Jaccard
    * of the user neighborhoods of every behavior pair (SPEC: common-
    * neighbors similarity, the SimRank/recommender building block).
    * Shape: DISTINCT incidence → self-join keyed on the shared user —
    * at 100 TB the join fans out per-user degree² where degree is
    * bounded by the behavior catalog (NOT by corpus size), then one
    * pair-keyed count; degrees come from re-aggregating the distinct
    * incidence, not the raw events. All-integer arithmetic until the
    * final rounded ratio.
    */
  q("graph_jaccard_neighbors",
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |deg AS (SELECT event_type, count(*) AS n FROM ut GROUP BY event_type),
      |pair AS (
      |  SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS c
      |  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY ta, tb)
      |SELECT ta, tb, CAST(c AS BIGINT) AS n_common,
      |       CAST(da.n + db.n - c AS BIGINT) AS n_union,
      |       round(c * 1.0 / (da.n + db.n - c), 6) AS jaccard
      |FROM pair
      |JOIN deg da ON da.event_type = pair.ta
      |JOIN deg db ON db.event_type = pair.tb
      |ORDER BY ta, tb""") { (s, d) =>
    val ut = T(s, d, "events").select("user_id", "event_type").distinct()
    val deg = ut.groupBy("event_type").agg(count(lit(1)).as("n"))
    val a = ut.select(col("user_id"), col("event_type").as("ta"))
    val b = ut.select(col("user_id"), col("event_type").as("tb"))
    a.join(b, Seq("user_id")).filter(col("ta") < col("tb"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("c"))
      .join(broadcast(deg.select(col("event_type").as("ta"), col("n").as("na"))), Seq("ta"))
      .join(broadcast(deg.select(col("event_type").as("tb"), col("n").as("nb"))), Seq("tb"))
      .select(col("ta"), col("tb"), col("c").cast("long").as("n_common"),
        (col("na") + col("nb") - col("c")).cast("long").as("n_union"),
        round(col("c") * lit(1.0) / (col("na") + col("nb") - col("c")), 6).as("jaccard"))
      .reportSorted("ta", "tb")
  }

  /** Point-in-time (temporal validity) join — the SCD2 lookup every
    * feature store calls "as-of the event": each purchase opens a
    * per-user version valid until the user's NEXT purchase; clicks
    * join to the version whose [from, to) interval covers them.
    * Differs from join_asof (nearest-key) in semantics: validity
    * intervals are materialized once with lead() (non-overlapping by
    * construction) and the probe is an equi join on the entity key
    * plus an interval residual — Spark plans hash-join-with-filter,
    * never a theta-only nested loop. The open tail is NULL-checked,
    * not a sentinel timestamp, so no cross-engine literal coercion.
    * At 100 TB both sides shuffle once on user_id; version frames are
    * dim-sized and AQE broadcast-gates them when small.
    */
  q("join_point_in_time",
    """WITH v AS (
      |  SELECT user_id, ts AS valid_from, event_id AS version_id,
      |         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click')
      |SELECT c.user_id, c.event_id, v.version_id
      |FROM c JOIN v ON c.user_id = v.user_id
      |  AND c.ts >= v.valid_from AND (v.valid_to IS NULL OR c.ts < v.valid_to)
      |ORDER BY c.user_id, c.event_id""") { (s, d) =>
    val e = T(s, d, "events")
    val v = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("vu"), col("ts").as("valid_from"),
        col("event_id").as("version_id"))
      .withColumn("valid_to",
        lead(col("valid_from"), 1).over(
          Window.partitionBy("vu").orderBy(col("valid_from").asc, col("version_id").asc)))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"))
    c.join(v, col("user_id") === col("vu") && col("ts") >= col("valid_from") &&
        (col("valid_to").isNull || col("ts") < col("valid_to")))
      .select(col("user_id"), col("event_id"), col("version_id"))
      .orderBy("user_id", "event_id")
  }

  /** Lexical diversity per document: type-token ratio and hapax-
    * legomenon ratio (SPEC: Herdan's TTR / Zipf hapax analysis — the
    * vocabulary-richness signals corpus linguists and data-quality
    * filters both use; low TTR ⇒ templated/repetitive text). Shape:
    * explode to (doc, token) → per-doc token multiset counts →
    * per-doc fixed-state aggregate. Both shuffles key on doc-local
    * keys with map-side partial aggregation; output is one row per
    * document (input-sized ⇒ distributed sort, not reportSorted).
    */
  q("text_ttr",
    """WITH cnt AS (
      |  SELECT doc_id, tok, count(*) AS c
      |  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY doc_id, tok)
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |       CAST(count(*) AS BIGINT) AS n_types,
      |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      |       round(count(*) * 1.0 / sum(c), 6) AS ttr,
      |       round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / sum(c), 6) AS hapax_ratio
      |FROM cnt GROUP BY doc_id ORDER BY doc_id""") { (s, d) =>
    T(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).cast("long").as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
        round(col("n_types") * lit(1.0) / col("n_tokens"), 6).as("ttr"),
        round(col("n_hapax") * lit(1.0) / col("n_tokens"), 6).as("hapax_ratio"))
      .orderBy("doc_id")
  }

  /** Fixed-weight logistic quality gate in LOGIT space (SPEC: the
    * fastText-style linear quality classifier — Joulin 2017 — that
    * curation stacks run when a learned model is overkill; weights
    * here are the documented hand-set prior). Reporting the LOGIT
    * (not sigmoid(x)) keeps the row exactly engine-portable: every
    * feature is integer length/count arithmetic, so the linear
    * combination is bit-identical IEEE math on both engines — no
    * libm exp() in the hash path. keep = logit > 0 ⇔ p > 0.5.
    * Map-only over the corpus: no shuffle at any scale.
    */
  q("pipeline_quality_logistic",
    """WITH f AS (
      |  SELECT doc_id,
      |         len(str_split(text, ' ')) AS t,
      |         length(text) AS ch
      |  FROM documents)
      |SELECT doc_id, CAST(t AS BIGINT) AS n_tokens,
      |       round(CAST(-2.0 AS DOUBLE) + CAST(0.015 AS DOUBLE) * t
      |             + CAST(0.45 AS DOUBLE) * ((ch - t + 1) * 1.0 / t), 6) AS logit,
      |       (CAST(-2.0 AS DOUBLE) + CAST(0.015 AS DOUBLE) * t
      |        + CAST(0.45 AS DOUBLE) * ((ch - t + 1) * 1.0 / t)) > 0 AS keep
      |FROM f ORDER BY doc_id""") { (s, d) =>
    val f = T(s, d, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("t"),
        length(col("text")).as("ch"))
    // mean word length = (chars − (t−1) separators) / t, exact integer inputs
    val mwl = (col("ch") - col("t") + 1) * lit(1.0) / col("t")
    val logit = lit(-2.0) + lit(0.015) * col("t") + lit(0.45) * mwl
    f.select(col("doc_id"), col("t").cast("long").as("n_tokens"),
        round(logit, 6).as("logit"), (logit > 0).as("keep"))
      .orderBy("doc_id")
  }

  /** Mixture sequential probability ratio test per event_type (SPEC:
    * Johari, Koomen, Pekelis & Walsh 2017 "Peeking at A/B tests" —
    * the mSPRT behind always-valid p-values: unlike [[agg_welch_ttest]]
    * a user may CHECK CONTINUOUSLY and stop the moment the mixture
    * likelihood ratio Λ crosses 1/α, without inflating false
    * positives). Arms split deterministically by user parity (the
    * [[agg_cuped]] assignment); with δ̂ the mean difference, s² = its
    * variance estimate (pooled σ²·(1/n_t + 1/n_c)) and a N(0, τ²)
    * mixing prior: Λ = √(s²/(s²+τ²)) · exp(δ̂²τ² / (2s²(s²+τ²))).
    * τ = 0.25 (exact binary fraction). Determinism: values snap to the
    * dy20 grid before the moment sums (rule 12), every derived
    * quantity is ONE fixed-shape expression (rule 5, exp/libm washes
    * under the final round-6 like the logit/power rows), and the
    * stop decision compares the ROUND-6 Λ (the same value the hash
    * pins) to 1/α = 20 — deriving it from the unrounded Λ would let a
    * cross-engine libm ulp flip the boolean when Λ lands within ulps
    * of the threshold (r13 advisory). One two-phase conditional-moments
    * pass, no join — per-type grain at any scale.
    */
  q("agg_sprt_mixture",
    s"""WITH m AS (
      |  SELECT event_type,
      |         count(*) FILTER (user_id % 2 = 0) AS nt,
      |         count(*) FILTER (user_id % 2 = 1) AS nc,
      |         sum(CASE WHEN user_id % 2 = 0 THEN ${Grid.dy20Sql("value")} END) AS st,
      |         sum(CASE WHEN user_id % 2 = 1 THEN ${Grid.dy20Sql("value")} END) AS sc,
      |         sum(CASE WHEN user_id % 2 = 0
      |              THEN ${Grid.dy20Sql("value")} * ${Grid.dy20Sql("value")} END) AS qt,
      |         sum(CASE WHEN user_id % 2 = 1
      |              THEN ${Grid.dy20Sql("value")} * ${Grid.dy20Sql("value")} END) AS qc
      |  FROM events GROUP BY event_type),
      |g AS (
      |  SELECT event_type, nt, nc,
      |         st / nt - sc / nc AS dhat,
      |         ((qt - st * st / nt) + (qc - sc * sc / nc))
      |           / (nt + nc - 2) * (1.0 / nt + 1.0 / nc) AS s2
      |  FROM m WHERE nt > 1 AND nc > 1),
      |lr AS (
      |  SELECT event_type, nt, nc, dhat, s2,
      |         sqrt(s2 / (s2 + 0.0625))
      |           * exp(dhat * dhat * 0.0625 / (2 * s2 * (s2 + 0.0625))) AS lam
      |  FROM g)
      |SELECT event_type, CAST(nt AS BIGINT) AS n_treat,
      |       CAST(nc AS BIGINT) AS n_control,
      |       round(dhat, 6) AS mean_diff, round(lam, 6) AS lambda,
      |       round(lam, 6) > 20.0 AS can_stop
      |FROM lr ORDER BY event_type""".stripMargin) { (s, d) =>
    val y = Grid.dy20(col("value"))
    val t = col("user_id") % 2 === 0
    val m = T(s, d, "events")
      .groupBy("event_type")
      .agg(count(when(t, 1)).as("nt"), count(when(!t, 1)).as("nc"),
        sum(when(t, y)).as("st"), sum(when(!t, y)).as("sc"),
        sum(when(t, y * y)).as("qt"), sum(when(!t, y * y)).as("qc"))
      .filter(col("nt") > 1 && col("nc") > 1)
    val g = m.select(col("event_type"), col("nt"), col("nc"),
      (col("st") / col("nt") - col("sc") / col("nc")).as("dhat"),
      (((col("qt") - col("st") * col("st") / col("nt"))
        + (col("qc") - col("sc") * col("sc") / col("nc")))
        / (col("nt") + col("nc") - 2)
        * (lit(1.0) / col("nt") + lit(1.0) / col("nc"))).as("s2"))
    g.select(col("event_type"), col("nt").cast("long").as("n_treat"),
        col("nc").cast("long").as("n_control"),
        round(col("dhat"), 6).as("mean_diff"),
        round(sqrt(col("s2") / (col("s2") + lit(0.0625)))
          * exp(col("dhat") * col("dhat") * lit(0.0625)
            / (lit(2) * col("s2") * (col("s2") + lit(0.0625)))), 6).as("lambda"),
        (round(sqrt(col("s2") / (col("s2") + lit(0.0625)))
          * exp(col("dhat") * col("dhat") * lit(0.0625)
            / (lit(2) * col("s2") * (col("s2") + lit(0.0625)))), 6) > 20.0)
          .as("can_stop"))
      .reportSorted("event_type")
  }

  /** Capture–recapture population estimate per language (SPEC:
    * Lincoln 1930 / Petersen with the Chapman 1951 bias correction —
    * the "how big is the corpus we HAVEN'T crawled" estimator: two
    * independent samples, overlap size ⇒ N̂ = (n₁+1)(n₂+1)/(m+1) − 1;
    * the same arithmetic teams use to size undiscovered duplicates or
    * un-scraped domains from two crawl snapshots): samples here are
    * the deterministic doc_id residue classes %5 and %3 (independent
    * by CRT), so the estimate is replayable and should recover ~the
    * true per-lang count. All counts are integers from ONE conditional
    * aggregation pass; the estimate is a fixed-shape ratio (rule 5),
    * m+1 ≥ 1 so no division guard is needed.
    */
  q("agg_capture_recapture",
    """SELECT lang,
      |       CAST(count(*) AS BIGINT) AS n_true,
      |       CAST(count(*) FILTER (doc_id % 5 = 0) AS BIGINT) AS n1,
      |       CAST(count(*) FILTER (doc_id % 3 = 0) AS BIGINT) AS n2,
      |       CAST(count(*) FILTER (doc_id % 5 = 0 AND doc_id % 3 = 0) AS BIGINT) AS m,
      |       round((count(*) FILTER (doc_id % 5 = 0) + 1.0)
      |             * (count(*) FILTER (doc_id % 3 = 0) + 1.0)
      |             / (count(*) FILTER (doc_id % 5 = 0 AND doc_id % 3 = 0) + 1.0)
      |             - 1.0, 6) AS n_chapman
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    val s1 = col("doc_id") % 5 === 0
    val s2 = col("doc_id") % 3 === 0
    T(s, d, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_true"),
        count(when(s1, 1)).as("n1"),
        count(when(s2, 1)).as("n2"),
        count(when(s1 && s2, 1)).as("m"))
      .select(col("lang"), col("n_true"), col("n1"), col("n2"), col("m"),
        round((col("n1") + lit(1.0)) * (col("n2") + lit(1.0))
          / (col("m") + lit(1.0)) - lit(1.0), 6).as("n_chapman"))
      .reportSorted("lang")
  }

  /** Statistical-process-control anomaly flags on daily event volumes
    * (SPEC: Shewhart 1931 3σ control chart, the c-chart form — the
    * canonical "did ingest volume spike/collapse today" monitor every
    * pipeline DQ stack runs): per event_type, flag days whose count
    * falls outside mean ± 3σ of that type's daily counts. Exactness:
    * daily counts are integers, Σc and Σc² are exact integer sums at
    * any partitioning (≪ 2⁵³), and mean/σ/limits are the SAME
    * fixed-shape IEEE expression on both engines (σ from the
    * population moment identity with a greatest(…,0) guard — the
    * exact sums can leave a −ε variance); the flag compares an integer
    * against identically-computed limits, so membership cannot drift
    * (limits round only for display, rule 5). Two two-phase aggregates
    * + one broadcast-sized limits join — day×type grain at any scale.
    */
  q("dq_anomaly_spc",
    """WITH dc AS (
      |  SELECT event_type, date_trunc('day', ts) AS d,
      |         CAST(count(*) AS DOUBLE) AS c
      |  FROM events GROUP BY 1, 2),
      |st AS (
      |  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
      |         sum(c) AS sx, sum(c * c) AS sxx
      |  FROM dc GROUP BY 1),
      |lim AS (
      |  SELECT event_type, sx / n AS m,
      |         sqrt(greatest(sxx / n - (sx / n) * (sx / n), 0.0)) AS sd
      |  FROM st)
      |SELECT dc.event_type, CAST(epoch_us(dc.d) AS BIGINT) AS day_us,
      |       CAST(dc.c AS BIGINT) AS n_events,
      |       round(l.m - 3 * l.sd, 6) AS lo, round(l.m + 3 * l.sd, 6) AS hi,
      |       dc.c < l.m - 3 * l.sd OR dc.c > l.m + 3 * l.sd AS is_out
      |FROM dc JOIN lim l ON l.event_type = dc.event_type
      |ORDER BY dc.event_type, day_us""".stripMargin) { (s, d) =>
    val dc = T(s, d, "events")
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
      .agg(count(lit(1)).cast("double").as("c"))
    val lim = dc.groupBy("event_type")
      .agg(count(lit(1)).cast("double").as("n"),
        sum("c").as("sx"), sum(col("c") * col("c")).as("sxx"))
      .select(col("event_type"), (col("sx") / col("n")).as("m"),
        sqrt(greatest(col("sxx") / col("n")
          - (col("sx") / col("n")) * (col("sx") / col("n")), lit(0.0))).as("sd"))
    dc.join(lim, Seq("event_type"))
      .select(col("event_type"), unix_micros(col("d")).as("day_us"),
        col("c").cast("long").as("n_events"),
        round(col("m") - lit(3) * col("sd"), 6).as("lo"),
        round(col("m") + lit(3) * col("sd"), 6).as("hi"),
        (col("c") < col("m") - lit(3) * col("sd") ||
          col("c") > col("m") + lit(3) * col("sd")).as("is_out"))
      .orderBy("event_type", "day_us") // day x type grain = bounded
  }

  /** Theil–Sen robust trend slope per event_type (SPEC: Theil 1950 /
    * Sen 1968 — the median of all pairwise slopes, the
    * breakdown-point-29% alternative to OLS that one outlier day
    * cannot drag; the standard robust "is this metric drifting"
    * estimator): over each series' DAILY mean values, slope =
    * median{ (y_j − y_i)/(x_j − x_i) : i < j } with x = epoch day.
    * Exactness: x is an integer; the daily mean is sum(dy20-snapped
    * values)/count — grid multiples sum exactly in any order (rule
    * 12), one division of identical exact operands is IEEE-identical
    * cross-engine; each pair slope is then one subtraction + one
    * division of identical doubles; the median interpolation rides
    * the established percentile↔quantile_cont agreement
    * ([[agg_percentile]]'s device) with one final round (rule 5).
    * Scale: pairs are DAYS², not rows — the daily pre-aggregation is
    * the two-phase shuffle, the self-join runs on the |types|×|days|
    * frame (calendar-bounded, thousands of pairs per series at any
    * corpus size).
    */
  q("agg_theil_sen",
    s"""WITH dd AS (
      |  SELECT event_type,
      |         CAST(CAST(date_trunc('day', ts) AS DATE)
      |              - DATE '1970-01-01' AS DOUBLE) AS x,
      |         sum(${Grid.dy20Sql("value")}) / count(*) AS y
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT a.event_type, (b.y - a.y) / (b.x - a.x) AS sl
      |  FROM dd a JOIN dd b
      |    ON b.event_type = a.event_type AND b.x > a.x),
      |nd AS (SELECT event_type, CAST(count(*) AS INTEGER) AS n_days
      |       FROM dd GROUP BY 1)
      |SELECT p.event_type, nd.n_days,
      |       CAST(count(*) AS BIGINT) AS n_pairs,
      |       round(quantile_cont(p.sl, 0.5), 6) AS slope
      |FROM p JOIN nd ON nd.event_type = p.event_type
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin) { (s, d) =>
    val daily = T(s, d, "events")
      .groupBy(col("event_type"),
        datediff(date_trunc("day", col("ts")).cast("date"),
          lit("1970-01-01").cast("date")).cast("double").as("x"))
      .agg((sum(Grid.dy20(col("value"))) / count(lit(1))).as("y"))
    val pairs = daily.as("a").join(daily.as("b"),
        col("b.event_type") === col("a.event_type") && col("b.x") > col("a.x"))
      .select(col("a.event_type").as("event_type"),
        ((col("b.y") - col("a.y")) / (col("b.x") - col("a.x"))).as("sl"))
    val nd = daily.groupBy("event_type")
      .agg(count(lit(1)).cast("int").as("n_days"))
    pairs.join(nd, Seq("event_type"))
      .groupBy("event_type", "n_days")
      .agg(count(lit(1)).as("n_pairs"),
        round(expr("percentile(sl, 0.5)"), 6).as("slope"))
      .reportSorted("event_type")
  }

  /** Strict local-maximum detection per user signal (SPEC: the
    * scipy.signal find_peaks contract, plateau-free form): a peak is
    * a sample strictly above BOTH neighbors in event-time order.
    * Purely comparative — no derived thresholds — so both engines
    * compare identical parquet doubles and membership cannot drift.
    * ONE per-user partition sort serves both lag and lead; emitted
    * rows are the peaks only. At 100 TB: window over the entity
    * key's natural partitioning, output ∝ peak density.
    */
  q("ts_peak_detect",
    """SELECT user_id, event_id, value FROM (
      |  SELECT user_id, event_id, value,
      |         lag(value) OVER w AS pv, lead(value) OVER w AS nv
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) t
      |WHERE pv IS NOT NULL AND nv IS NOT NULL AND value > pv AND value > nv
      |ORDER BY user_id, event_id""") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    T(s, d, "events")
      .select(col("user_id"), col("event_id"), col("value"),
        lag("value", 1).over(w).as("pv"), lead("value", 1).over(w).as("nv"))
      .filter(col("pv").isNotNull && col("nv").isNotNull &&
        col("value") > col("pv") && col("value") > col("nv"))
      .select("user_id", "event_id", "value")
      .orderBy("user_id", "event_id")
  }

  /** Threshold (range) vector retrieval: ALL neighbors with cosine ≥ τ
    * for each probe — the dedup/recall companion to top-k ANN (top-k
    * bounds k, range search bounds QUALITY; production dedup wants the
    * latter). Exact one-pass form: broadcast the probe set over a
    * single corpus scan of codegen'd VecCosine — the same shape the
    * banded-LSH variants accelerate; at 100 TB swap the scan for the
    * LSH-bucketed candidate generator without touching the contract.
    * Output is (probe, match) pairs above τ — candidate-bounded.
    */
  q("sim_range_search",
    """WITH probes AS (
      |  SELECT vec_id AS qid, embedding AS qemb FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4))
      |SELECT p.qid, e.vec_id AS nbr,
      |       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |                                    CAST(p.qemb AS DOUBLE[])), 6) AS cos
      |FROM embeddings e, probes p
      |WHERE e.vec_id <> p.qid
      |  AND round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |                                   CAST(p.qemb AS DOUBLE[])), 6) >= 0.30
      |ORDER BY qid, nbr""") { (s, d) =>
    val all = T(s, d, "embeddings").select("vec_id", "embedding")
    val probes = all.filter(col("vec_id").isin(0L, 1L, 2L, 3L, 4L))
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    all.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", round(graft.functions.vec.cosine(col("embedding"), col("qemb")), 6))
      .filter(col("cos") >= 0.30)
      .select(col("qid"), col("vec_id").as("nbr"), col("cos"))
      .orderBy("qid", "nbr")
  }

  /** CUPED variance reduction (SPEC: Deng et al. 2013 — the standard
    * experimentation-platform trick: regress the experiment metric on
    * a pre-period covariate; the adjusted metric keeps the same mean
    * but sheds ρ² of the variance, shrinking required sample size).
    * Per-user pre/post metrics come from ONE conditional grouped
    * aggregate over events; θ, the variances, and the realized
    * reduction are closed-form from var/cov two-phase aggregates on
    * the user frame — no second corpus pass, no driver math. At
    * 100 TB: corpus pass → user-sized frame → 1-row moments.
    */
  q("agg_cuped",
    """WITH u AS (
      |  SELECT user_id,
      |         avg(CASE WHEN event_type = 'view' THEN value END) AS pre,
      |         avg(CASE WHEN event_type = 'purchase' THEN value END) AS post
      |  FROM events GROUP BY user_id),
      |f AS (SELECT pre, post FROM u WHERE pre IS NOT NULL AND post IS NOT NULL)
      |SELECT CAST(count(*) AS BIGINT) AS n_users,
      |       round(covar_samp(pre, post) / nullif(var_samp(pre), 0), 6) AS theta,
      |       round(var_samp(post), 6) AS var_post,
      |       round(var_samp(post) - pow(covar_samp(pre, post), 2) / nullif(var_samp(pre), 0), 6) AS var_adj,
      |       round(pow(covar_samp(pre, post), 2) / nullif(var_samp(pre) * var_samp(post), 0), 6) AS var_reduction
      |FROM f""") { (s, d) =>
    val u = T(s, d, "events")
      .groupBy("user_id")
      .agg(avg(when(col("event_type") === "view", col("value"))).as("pre"),
        avg(when(col("event_type") === "purchase", col("value"))).as("post"))
      .filter(col("pre").isNotNull && col("post").isNotNull)
    // all-identical pre averages -> var_samp(pre)=0: 0/0 renders
    // engine-specifically (NaN vs NULL) — nullif pins both to NULL
    u.agg(count(lit(1)).cast("long").as("n_users"),
      round(covar_samp("pre", "post") / nullif(var_samp("pre"), lit(0.0)), 6).as("theta"),
      round(var_samp("post"), 6).as("var_post"),
      round(var_samp("post") - pow(covar_samp("pre", "post"), 2)
        / nullif(var_samp("pre"), lit(0.0)), 6).as("var_adj"),
      round(pow(covar_samp("pre", "post"), 2)
        / nullif(var_samp("pre") * var_samp("post"), lit(0.0)), 6).as("var_reduction"))
  }

  /** A/B sample-size calculation (the standard two-sample normal
    * approximation: n per arm = 2(z_{α/2}+z_β)²σ²/δ², α = 0.05
    * two-sided, power 80% — the "how long must this experiment run"
    * answer every platform computes BEFORE launching; completes the
    * design→run→analyze arc beside [[agg_cuped]] (variance reduction)
    * and [[agg_delta_method_ratio]] (analysis)): per event_type, the
    * user-level revenue metric's m/mean/variance and the users-per-arm
    * needed to detect a 5% relative lift. z quantiles are LITERALS
    * (1.959964, 0.841621 — constants of the test, not data), so the
    * whole formula is one fixed-shape expression over the user-frame
    * moments (var_samp round-6 absorption per the agg_corr precedent;
    * round-6 BEFORE ceil so the integer step sits on an
    * engine-identical value). Two chained two-phase aggs; nothing
    * bigger than the user frame ever shuffles.
    */
  q("agg_power_analysis",
    """WITH u AS (SELECT event_type, user_id, sum(value) AS x
      |           FROM events GROUP BY 1, 2),
      |v AS (SELECT event_type, count(*) AS m, avg(x) AS mu, var_samp(x) AS s2
      |      FROM u GROUP BY 1)
      |SELECT event_type, CAST(m AS BIGINT) AS m_users,
      |       round(mu, 6) AS mean_x, round(s2, 6) AS var_x,
      |       CAST(ceil(round(
      |         2 * ((1.959964 + 0.841621) * (1.959964 + 0.841621)) * s2
      |         / nullif((0.05 * mu) * (0.05 * mu), 0), 6)) AS BIGINT) AS n_per_arm
      |FROM v ORDER BY event_type""") { (s, d) =>
    val u = T(s, d, "events")
      .groupBy("event_type", "user_id").agg(sum("value").as("x"))
    u.groupBy("event_type")
      .agg(count(lit(1)).as("m"), avg("x").as("mu"), var_samp("x").as("s2"))
      .select(col("event_type"), col("m").as("m_users"),
        round(col("mu"), 6).as("mean_x"), round(col("s2"), 6).as("var_x"),
        ceil(round(lit(2) * ((lit(1.959964) + lit(0.841621))
            * (lit(1.959964) + lit(0.841621))) * col("s2")
          / nullif((lit(0.05) * col("mu")) * (lit(0.05) * col("mu")), lit(0.0)), 6))
          .cast("long").as("n_per_arm"))
      .reportSorted("event_type") // 5 event types = report-sized
  }

  /** Delta-method standard error for RATIO metrics under user-level
    * randomization (Deng, Knoblich & Lu 2017 — the experimentation-
    * platform standard beside [[agg_cuped]]'s variance reduction):
    * revenue-per-event R = Σx/Σn is a ratio of USER-cluster sums, so
    * the naive event-level SE is wrong (events within a user
    * correlate); the delta method gives
    * var(R) ≈ (σ²_x + R²σ²_n − 2Rσ_xn) / (m·n̄²) from user-level
    * moments. Variant assignment = user_id mod 2 (deterministic, the
    * hash-split convention of train_test_split). Two chained
    * two-phase aggs (events→users→variants, both map-side combining);
    * built-in var_samp/covar_samp on the user frame with round-6
    * absorption (the agg_corr co-moment precedent); rule-7 nullif on
    * the degenerate zero-denominator cases.
    */
  q("agg_delta_method_ratio",
    """WITH u AS (
      |  SELECT user_id % 2 AS variant, user_id,
      |         sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS x,
      |         CAST(count(*) AS DOUBLE) AS n
      |  FROM events GROUP BY 1, 2),
      |v AS (SELECT variant, count(*) AS m, sum(x) AS sx, sum(n) AS sn,
      |             var_samp(x) AS vx, var_samp(n) AS vn,
      |             covar_samp(x, n) AS cxn
      |      FROM u GROUP BY 1)
      |SELECT variant, CAST(m AS BIGINT) AS m_users,
      |       round(sx / nullif(sn, 0), 6) AS ratio,
      |       round(sqrt((vx + (sx / sn) * (sx / sn) * vn
      |                   - 2 * (sx / sn) * cxn) / m)
      |             / nullif(sn / m, 0), 6) AS se
      |FROM v ORDER BY variant""") { (s, d) =>
    val u = T(s, d, "events")
      .groupBy((col("user_id") % 2).as("variant"), col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", col("value"))
        .otherwise(lit(0.0))).as("x"),
        count(lit(1)).cast("double").as("n"))
    val v = u.groupBy("variant")
      .agg(count(lit(1)).as("m"), sum("x").as("sx"), sum("n").as("sn"),
        var_samp("x").as("vx"), var_samp("n").as("vn"),
        covar_samp("x", "n").as("cxn"))
    val r = col("sx") / col("sn")
    v.select(col("variant"), col("m").as("m_users"),
      round(col("sx") / nullif(col("sn"), lit(0.0)), 6).as("ratio"),
      round(sqrt((col("vx") + r * r * col("vn") - lit(2) * r * col("cxn"))
        / col("m")) / nullif(col("sn") / col("m"), lit(0.0)), 6).as("se"))
      .reportSorted("variant") // 2 variants = report-sized
  }

  /** Jackknife standard error of a ratio-of-sums (SPEC: Quenouille/
    * Tukey leave-one-out jackknife, Efron & Tibshirani 1993 ch.11 —
    * the RESAMPLING companion of [[agg_delta_method_ratio]]'s
    * closed-form SE; methods teams run both and compare). Statistic:
    * the click share of total event value Σv·1[click]/Σv. Each
    * replicate θ₍ᵢ₎ = (S_c − cᵢ)/(S_t − vᵢ) is a CLOSED FORM of the
    * totals — no n re-aggregations, ONE broadcast of the 1-row totals
    * joined back and one two-phase pass over the events (the
    * poor-man's-jackknife-at-scale shape). Determinism: inputs snap to
    * the dy20 grid (exact totals), each replicate is one double
    * division snapped to dy12 before the Σθ/Σθ² sums (rule-12 grids ⇒
    * order-exact), variance via s2 − s1²/n with a greatest(…,0) guard
    * for the ulp the division can shave at ~zero variance.
    */
  q("agg_jackknife_ratio",
    s"""WITH e AS (SELECT ${Grid.dy20Sql("value")} AS v,
      |            CASE WHEN event_type = 'click'
      |                 THEN ${Grid.dy20Sql("value")} ELSE 0.0 END AS c
      |       FROM events),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(v) AS st, sum(c) AS sc FROM e),
      |th AS (SELECT ${Grid.dy12Sql("(t.sc - e.c) / (t.st - e.v)")} AS th
      |       FROM e, t),
      |a AS (SELECT sum(th) AS s1, sum(th * th) AS s2 FROM th)
      |SELECT t.n AS n, round(t.sc / t.st, 6) AS ratio,
      |       round(sqrt((t.n - 1.0) / t.n *
      |                  greatest(a.s2 - a.s1 * a.s1 / t.n, 0)), 6) AS se_jack
      |FROM a, t""") { (s, d) =>
    val e = T(s, d, "events").select(
      Grid.dy20(col("value")).as("v"),
      when(col("event_type") === "click", Grid.dy20(col("value")))
        .otherwise(lit(0.0)).as("c"))
      .transform(Checkpoints.take) // feeds totals AND the replicate pass
    val t = e.agg(count(lit(1)).cast("long").as("n"),
      sum("v").as("st"), sum("c").as("sc"))
    val th = e.crossJoin(broadcast(t))
      .select(Grid.dy12((col("sc") - col("c")) / (col("st") - col("v"))).as("th"),
        col("n"), col("st"), col("sc"))
    th.groupBy("n", "st", "sc")
      .agg(sum("th").as("s1"), sum(col("th") * col("th")).as("s2"))
      .select(col("n"), round(col("sc") / col("st"), 6).as("ratio"),
        round(sqrt((col("n") - lit(1.0)) / col("n") *
          greatest(col("s2") - col("s1") * col("s1") / col("n"), lit(0.0))), 6)
          .as("se_jack"))
  }

  /** Kaplan–Meier survival over per-user lifetimes with right
    * censoring (SPEC: Kaplan & Meier 1958): lifetime = minutes
    * between a user's first and last event; users still active near
    * the observation end (last event within 60 min of the global max)
    * are CENSORED — they leave the risk set at their lifetime without
    * counting as an event, the defining KM subtlety. Risk counts come
    * from one cumulative window over the distinct-lifetime frame
    * (user-cardinality-bounded), never a correlated per-time rescan;
    * the product-limit is exp∘cumsum∘ln — each factor an exact small
    * rational, the identical composition on both engines, rounded
    * once at the end.
    */
  q("agg_survival_km",
    """WITH life AS (
      |  SELECT user_id,
      |         (epoch_us(max(ts)) - epoch_us(min(ts))) // 60000000 AS t,
      |         CASE WHEN epoch_us(max(ts)) >=
      |                   (SELECT epoch_us(max(ts)) - 3600000000 FROM events)
      |              THEN 0 ELSE 1 END AS died
      |  FROM events GROUP BY user_id),
      |ev AS (SELECT t, count(*) AS m, sum(died) AS d FROM life GROUP BY t),
      |o AS (SELECT t, m, d,
      |             sum(m) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) - m AS gone,
      |             (SELECT count(*) FROM life) AS total FROM ev),
      |r AS (SELECT t, d, total - gone AS n FROM o WHERE d > 0)
      |SELECT CAST(t AS BIGINT) AS t_min, CAST(n AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d,
      |       round(CASE WHEN max(CASE WHEN d = n THEN 1 ELSE 0 END)
      |                       OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) = 1
      |             THEN 0.0
      |             ELSE exp(sum(ln(nullif(1 - d * 1.0 / n, 0)))
      |                  OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)) END, 6) AS survival
      |FROM r ORDER BY t_min""") { (s, d) =>
    val e = T(s, d, "events")
    val life = e.groupBy("user_id")
      // integer floor division (`div`), matching the oracle's `//` —
      // checklist rule 6: timestamp arithmetic stays integral (a double
      // Divide+cast truncates and could ulp-flip a bucket boundary)
      .agg(expr("(unix_micros(max(ts)) - unix_micros(min(ts))) div 60000000").as("t"),
        unix_micros(max(col("ts"))).as("last_us"))
    val cutoff = e.agg((unix_micros(max(col("ts"))) - lit(3600000000L)).as("cut"))
    val lf = life.crossJoin(broadcast(cutoff))
      .select(col("t"), when(col("last_us") >= col("cut"), 0L).otherwise(1L).as("died"))
    val ev = lf.groupBy("t").agg(count(lit(1)).as("m"), sum("died").as("d"))
    val total = lf.agg(count(lit(1)).as("total"))
    val wo = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.crossJoin(broadcast(total))
      .withColumn("gone", sum("m").over(wo) - col("m"))
      .filter(col("d") > 0)
      .select(col("t"), col("d"), (col("total") - col("gone")).as("n"))
      // the terminal point can have d == n (everyone remaining dies):
      // the product hits an exact 0 factor, but ln(0) is NULL in Spark
      // (sum would silently SKIP it) and an error/-inf in DuckDB — so
      // flag the zero via a window max and emit 0.0 explicitly, with
      // nullif keeping the ln argument strictly positive on both
      // engines (d == n is only possible at the last at-risk point)
      .withColumn("survival",
        round(when(max(when(col("d") === col("n"), 1).otherwise(0)).over(wo) === 1,
          lit(0.0)).otherwise(
          exp(sum(log(nullif(lit(1) - col("d") * lit(1.0) / col("n"), lit(0.0)))).over(wo))), 6))
      .select(col("t").cast("long").as("t_min"), col("n").cast("long").as("n_risk"),
        col("d").cast("long").as("d"), col("survival"))
      .reportSorted("t_min")
  }

  /** Contribution (share-of-total) report: top-5 revenue parts with
    * their share, everything else rolled into 'other' — the classic
    * OLAP concentration readout beside agg_gini. The Spark plan NEVER
    * global-sorts the part frame: the top-5 cut is
    * TakeOrderedAndProject (map-local top-k, driver merges k rows per
    * partition) and 'other' is total − Σtop via two broadcast 1-row
    * frames; per-part revenue is rounded to 4dp on both engines
    * BEFORE the total/other subtraction so the rollup arithmetic
    * operates on identical doubles.
    */
  q("agg_topn_share",
    """WITH rev AS (
      |  SELECT l_partkey, round(sum(l_extendedprice * (1 - l_discount)), 4) AS r
      |  FROM lineitem GROUP BY l_partkey),
      |tot AS (SELECT round(sum(r), 4) AS t, count(*) AS np FROM rev),
      |top AS (SELECT l_partkey, r,
      |               row_number() OVER (ORDER BY r DESC, l_partkey) AS rk FROM rev)
      |SELECT grp, round(sum(r), 4) AS revenue, round(sum(r) / max(t), 6) AS share
      |FROM (SELECT CASE WHEN rk <= 5 THEN CAST(l_partkey AS VARCHAR) ELSE 'other' END AS grp,
      |             r, t FROM top, tot) x
      |GROUP BY grp ORDER BY grp""") { (s, d) =>
    val rev = T(s, d, "lineitem")
      .groupBy("l_partkey")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("r"))
    val tot = rev.agg(round(sum("r"), 4).as("t"), count(lit(1)).as("np"))
    val top5 = rev.orderBy(col("r").desc, col("l_partkey").asc).limit(5)
      .select(col("l_partkey").cast("string").as("grp"), col("r"))
    val topSum = top5.agg(sum("r").as("ts"))
    // the oracle's CASE only yields 'other' when rank>5 rows exist —
    // on <=5 distinct parts an unconditional row would be an extra
    // ('other', 0.0) the oracle never produces
    val other = tot.crossJoin(broadcast(topSum))
      .filter(col("np") > 5)
      .select(lit("other").as("grp"), (col("t") - col("ts")).as("r"))
    top5.unionByName(other).crossJoin(broadcast(tot))
      .groupBy("grp")
      .agg(round(sum("r"), 4).as("revenue"), round(sum("r") / max("t"), 6).as("share"))
      .reportSorted("grp")
  }

  /** External cluster-quality evaluation: purity of the deterministic
    * first-K IVF cells against the ground-truth label column (SPEC:
    * purity, the standard external clustering metric — Manning IR
    * §16.3). Reuses the EXACT registered assignment (LlmOps.ivfAssign:
    * codegen'd argmax-cosine over broadcast centroid literals, cell
    * DESC tie rule) so the eval measures the production clustering,
    * not a reimplementation. After assignment everything is integer:
    * (cell, label) counts → per-cell argmax via one catalog-sized rank
    * window → exact ratio rounded once. At 100 TB: one map-side
    * assignment pass + one (cell,label)-keyed count.
    */
  q("sim_cluster_purity",
    """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cemb
      |           FROM embeddings ORDER BY vec_id LIMIT 8),
      |ranked AS (
      |  SELECT e.vec_id, e.label, c.cid,
      |         row_number() OVER (PARTITION BY e.vec_id
      |           ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cemb) DESC,
      |                    c.cid DESC) AS cr
      |  FROM embeddings e CROSS JOIN c),
      |cells AS (SELECT vec_id, label, cid AS cell FROM ranked WHERE cr = 1),
      |cl AS (SELECT cell, label, count(*) AS cnt FROM cells GROUP BY cell, label),
      |best AS (SELECT cell, label, cnt,
      |                row_number() OVER (PARTITION BY cell ORDER BY cnt DESC, label) AS rk,
      |                sum(cnt) OVER (PARTITION BY cell) AS n
      |         FROM cl)
      |SELECT CAST(cell AS INTEGER) AS cell, CAST(n AS BIGINT) AS n,
      |       CAST(label AS INTEGER) AS top_label, CAST(cnt AS BIGINT) AS top_n,
      |       round(cnt * 1.0 / n, 6) AS purity
      |FROM best WHERE rk = 1 ORDER BY cell""") { (s, d) =>
    val emb = T(s, d, "embeddings").select("vec_id", "embedding", "label")
    val centroids = emb.orderBy("vec_id").limit(8).collect()
      .map(_.getSeq[Float](1).toArray)
    val cl = LlmOps.ivfAssign(emb, centroids)
      .groupBy("cell", "label").agg(count(lit(1)).as("cnt"))
    val rk = Window.partitionBy("cell").orderBy(col("cnt").desc, col("label").asc)
    val wc = Window.partitionBy("cell")
    cl.withColumn("rk", row_number().over(rk))
      .withColumn("n", sum("cnt").over(wc))
      .filter(col("rk") === 1)
      .select(col("cell").cast("int").as("cell"), col("n").cast("long").as("n"),
        col("label").cast("int").as("top_label"), col("cnt").cast("long").as("top_n"),
        round(col("cnt") * lit(1.0) / col("n"), 6).as("purity"))
      .reportSorted("cell")
  }

  /** Forward (look-ahead) as-of join — completes the as-of family
    * (backward / nearest / tolerance already registered in
    * RelationalOps): each purchase matches the user's EARLIEST click
    * at-or-after it, the attribution direction "which follow-up did
    * this conversion trigger". Same single-window-pass shape as
    * join_asof, mirrored: a min-over-following frame with clicks
    * sorted AFTER purchases at equal ts so the at-or-after tie is
    * included. One partition sort per user at any scale — never a
    * per-row probe join.
    */
  q("join_asof_forward",
    """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |     c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
      |SELECT p.event_id, CAST(epoch_us(min(c.ts)) AS BIGINT) AS click_ts_us
      |FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts >= p.ts
      |GROUP BY p.event_id ORDER BY p.event_id""") { (s, d) =>
    val e = T(s, d, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        (col("event_type") === "click").cast("int").as("is_click"))
    // purchases sort before clicks at equal ts → at-or-after includes ties
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("is_click").asc)
      .rowsBetween(0, Window.unboundedFollowing)
    e.withColumn("click_ts_us",
        min(when(col("is_click") === 1, unix_micros(col("ts")))).over(w))
      .filter(col("event_type") === "purchase")
      .select("event_id", "click_ts_us")
      .orderBy("event_id") // one row per purchase = input-sized
  }

  /** Running-max drawdown per user (SPEC: the maximum-drawdown risk
    * statistic every monitoring/finance stack computes over a
    * cumulative series): cumulative value sum → running peak →
    * drawdown = peak − level, reported as each user's worst trough
    * and its position. ONE partition sort serves the cumulative sum,
    * the running max, and the argmax rank; output is user-bounded.
    * All sums are raw-parquet doubles accumulated in the SAME
    * in-order prefix walk both engines use (window frames fix the
    * order), rounded once at the report.
    */
  q("win_drawdown",
    """WITH s AS (
      |  SELECT user_id, event_id, ts,
      |         sum(value) OVER w AS level
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |                           ROWS UNBOUNDED PRECEDING)),
      |dd AS (
      |  SELECT user_id, event_id,
      |         round(max(level) OVER w2 - level, 6) AS drawdown
      |  FROM s WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
      |                       ROWS UNBOUNDED PRECEDING)),
      |best AS (
      |  SELECT user_id, event_id, drawdown,
      |         row_number() OVER (PARTITION BY user_id
      |           ORDER BY drawdown DESC, event_id) AS rk
      |  FROM dd)
      |SELECT user_id, event_id AS trough_event, drawdown AS max_drawdown
      |FROM best WHERE rk = 1 ORDER BY user_id""") { (s, d) =>
    val wo = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dd = T(s, d, "events")
      .withColumn("level", sum("value").over(wo))
      .withColumn("drawdown", round(max("level").over(wo) - col("level"), 6))
    val rk = Window.partitionBy("user_id").orderBy(col("drawdown").desc, col("event_id").asc)
    dd.withColumn("rk", row_number().over(rk))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("event_id").as("trough_event"),
        col("drawdown").as("max_drawdown"))
      .orderBy("user_id")
  }

  /** OHLC resampling: open/high/low/close + volume bars per 15-minute
    * window (SPEC: the universal finance/monitoring downsample; the
    * lossy-but-shape-preserving summary dashboards draw). Open/close
    * are ORDER-dependent — taken via min_by/max_by on a fixed-width
    * string composite of (ts, event_id) (lexicographic = chronological;
    * DuckDB's min_by takes no struct/list key), not first()/last()
    * whose result is partition-order-defined in Spark. ONE grouped
    * aggregate, shuffle carries (window × user) rows.
    */
  q("ts_resample_ohlc",
    """SELECT CAST(epoch_us(ts) // 900000000 * 900000000 AS BIGINT) AS win_start,
      |       user_id,
      |       min_by(value, printf('%020d-%010d', epoch_us(ts), event_id)) AS open,
      |       max(value) AS high, min(value) AS low,
      |       max_by(value, printf('%020d-%010d', epoch_us(ts), event_id)) AS close,
      |       CAST(count(*) AS BIGINT) AS volume
      |FROM events GROUP BY win_start, user_id
      |ORDER BY win_start, user_id""") { (s, d) =>
    val key = format_string("%020d-%010d", unix_micros(col("ts")), col("event_id"))
    T(s, d, "events")
      .groupBy(window(col("ts"), "15 minutes").as("w"), col("user_id"))
      .agg(min_by(col("value"), key).as("open"),
        max("value").as("high"), min("value").as("low"),
        max_by(col("value"), key).as("close"),
        count(lit(1)).cast("long").as("volume"))
      .select(unix_micros(col("w.start")).as("win_start"), col("user_id"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))
      .orderBy("win_start", "user_id")
  }

  /** First-order Markov transition matrix over per-user behavior
    * sequences (SPEC: the user-journey transition model — P(next
    * behavior | current), the input to funnel simulation and
    * next-action prediction): consecutive event pairs via ONE
    * per-user lag window, then integer pair counts row-normalized.
    * Shuffle: one partition sort + one (from,to) count on a
    * catalog² key space.
    */
  q("agg_markov_transition",
    """WITH pairs AS (
      |  SELECT event_type AS from_t,
      |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_t
      |  FROM events),
      |c AS (SELECT from_t, to_t, count(*) AS n FROM pairs WHERE to_t IS NOT NULL
      |      GROUP BY from_t, to_t),
      |r AS (SELECT from_t, sum(n) AS tot FROM c GROUP BY from_t)
      |SELECT c.from_t, c.to_t, CAST(c.n AS BIGINT) AS n,
      |       round(c.n * 1.0 / r.tot, 6) AS p
      |FROM c JOIN r ON r.from_t = c.from_t
      |ORDER BY c.from_t, c.to_t""") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val pairs = T(s, d, "events")
      .select(col("event_type").as("from_t"),
        lead(col("event_type"), 1).over(w).as("to_t"))
      .filter(col("to_t").isNotNull)
      .groupBy("from_t", "to_t").agg(count(lit(1)).as("n"))
    val tot = pairs.groupBy("from_t").agg(sum("n").as("tot"))
    pairs.join(broadcast(tot), Seq("from_t"))
      .select(col("from_t"), col("to_t"), col("n").cast("long").as("n"),
        round(col("n") * lit(1.0) / col("tot"), 6).as("p"))
      .reportSorted("from_t", "to_t")
  }

  /** Mann–Whitney U rank-sum test (SPEC: Mann & Whitney 1947 — the
    * nonparametric sibling of agg_welch_ttest, the right tool when
    * normality can't be assumed), WITH the tie-corrected normal
    * approximation: the 2dp-quantized values DO tie, so ranks are
    * textbook AVERAGE ranks and σ carries the Σ(t³−t) correction.
    * Scale shape: group to the distinct-value frame first (counts per
    * value), then average ranks come from ONE pass of
    * [[WindowOps.globalPrefixSums]] over that frame — range-bucket
    * running sums + O(#partitions) offset lookup, NO
    * single-partition window anywhere, input-sized nothing. Rank sums
    * are exact dyadic halves (≪ 2^53) so both engines sum them
    * exactly; only z is rounded.
    */
  q("agg_mann_whitney",
    """WITH e AS (SELECT event_type, value, event_id FROM events
      |           WHERE event_type IN ('click', 'purchase')),
      |r AS (SELECT event_type, value, avg(rn) OVER (PARTITION BY value) AS ar
      |      FROM (SELECT event_type, value,
      |                   row_number() OVER (ORDER BY value, event_id) AS rn FROM e) t),
      |s1 AS (SELECT sum(CASE WHEN event_type = 'click' THEN ar END) AS r1,
      |              sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n1,
      |              sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n2
      |       FROM r),
      |tt AS (SELECT sum(CAST(c AS DOUBLE) * c * c - c) AS tie3
      |       FROM (SELECT count(*) AS c FROM e GROUP BY value) x)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |       round(r1 - n1 * (n1 + 1) / 2.0, 1) AS u1,
      |       round((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0) /
      |             sqrt(n1 * n2 / 12.0 *
      |                  ((n1 + n2 + 1) - tie3 * 1.0 / ((n1 + n2) * (n1 + n2 - 1.0)))), 4) AS z
      |FROM s1, tt""") { (s, d) =>
    val e = T(s, d, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select("event_type", "value")
    // distinct-value frame: per-value total count + click count
    val g = e.groupBy("value")
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n1v"),
        count(lit(1)).as("nv"))
    val cum = WindowOps.globalPrefixSums(g, Seq(col("value").asc), Seq("nv"))
    val ranked = cum.withColumn("ar",
      col("cum_nv") - col("nv") + (col("nv") + 1) / lit(2.0))
    val st = ranked.agg(
      sum("n1v").as("n1"), sum(col("nv") - col("n1v")).as("n2"),
      sum(col("n1v") * col("ar")).as("r1"),
      // cube in DOUBLE: a hot value with >2.09M ties would overflow the
      // Long cube (ANSI crash); doubles stay integer-exact to 2^53 and
      // degrade gracefully past it (tie3 only feeds the 4dp-rounded z)
      sum(col("nv").cast("double") * col("nv") * col("nv") - col("nv")).as("tie3"))
    val n1 = col("n1"); val n2 = col("n2"); val n = n1 + n2
    st.select(n1.cast("long").as("n1"), n2.cast("long").as("n2"),
      round(col("r1") - n1 * (n1 + 1) / lit(2.0), 1).as("u1"),
      round((col("r1") - n1 * (n1 + 1) / lit(2.0) - n1 * n2 / lit(2.0)) /
        sqrt(n1 * n2 / lit(12.0) *
          ((n + 1) - col("tie3") * lit(1.0) / (n * (n - lit(1.0))))), 4).as("z"))
  }

  /** Benford first-digit conformance profile (SPEC: Benford 1938 /
    * Nigrini's fraud-audit standard): the leading-digit distribution
    * of order totals beside the Benford expectation. The digit is
    * extracted through INTEGER formatting (floor → BIGINT → string
    * head) — never double formatting, which engines render
    * differently — and the expected probabilities are shared 6dp
    * literals, not per-engine log10 calls. One map-side digit pass +
    * a 9-row aggregate; at 100 TB the shuffle carries 9 rows.
    */
  q("dq_benford_digits",
    """WITH digits AS (
      |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
      |              AS INTEGER) AS digit
      |  FROM orders WHERE o_totalprice >= 1),
      |tot AS (SELECT count(*) AS t FROM digits)
      |SELECT digit, CAST(count(*) AS BIGINT) AS n,
      |       round(count(*) * 1.0 / max(tot.t), 6) AS share,
      |       CAST(CASE digit WHEN 1 THEN 0.301030 WHEN 2 THEN 0.176091 WHEN 3 THEN 0.124939
      |            WHEN 4 THEN 0.096910 WHEN 5 THEN 0.079181 WHEN 6 THEN 0.066947
      |            WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153 ELSE 0.045757 END
      |            AS DOUBLE) AS benford_p
      |FROM digits, tot GROUP BY digit ORDER BY digit""") { (s, d) =>
    val benford = Seq(1 -> 0.301030, 2 -> 0.176091, 3 -> 0.124939, 4 -> 0.096910,
      5 -> 0.079181, 6 -> 0.066947, 7 -> 0.057992, 8 -> 0.051153, 9 -> 0.045757)
    val digits = T(s, d, "orders")
      .filter(col("o_totalprice") >= 1)
      .select(substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
    val tot = digits.agg(count(lit(1)).as("t"))
    val pExpr = benford.foldLeft(lit(0.045757)) { case (acc, (dg, p)) =>
      when(col("digit") === dg, p).otherwise(acc)
    }
    digits.crossJoin(broadcast(tot))
      .groupBy("digit")
      .agg(count(lit(1)).cast("long").as("n"),
        round(count(lit(1)) * lit(1.0) / max("t"), 6).as("share"))
      .withColumn("benford_p", pExpr)
      .reportSorted("digit")
  }

  /** Herfindahl–Hirschman concentration index of supplier revenue per
    * nation (SPEC: Herfindahl 1950 / Hirschman 1945 — the antitrust
    * and portfolio-concentration standard, Σ share²; the
    * concentration sibling of agg_gini's inequality and
    * agg_topn_share's head share). Shares are snapped onto the dyadic
    * 2⁻²⁰ grid BEFORE squaring (rule 12): each share² is then an
    * exact multiple of 2⁻⁴⁰, and since Σ share² ≤ 1 the grid-unit
    * total stays ≤ 2⁴⁰ ≪ 2⁵³ — the per-nation sum is order-exact at
    * ANY supplier count, so the chained double aggregation is
    * structurally engine-equal. Scale shape: supplier-keyed equi-join
    * (AQE-sized, rule 11) + bounded nation catalog broadcast; ONE
    * two-phase aggregate reduces to the (nation, supplier) frame and
    * everything after runs there — at 100 TB the shuffle carries one
    * row per active supplier.
    */
  q("agg_hhi",
    s"""WITH rev AS (
      |  SELECT n.n_name, l.l_suppkey,
      |         round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS r
      |  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  JOIN nation n ON n.n_nationkey = s.s_nationkey
      |  GROUP BY n.n_name, l.l_suppkey),
      |tot AS (SELECT n_name, round(sum(r), 4) AS t,
      |               CAST(count(*) AS BIGINT) AS ns
      |        FROM rev GROUP BY n_name)
      |SELECT rev.n_name, max(tot.ns) AS n_suppliers,
      |       round(sum(${Grid.dy20Sql("rev.r / tot.t")} *
      |                 (${Grid.dy20Sql("rev.r / tot.t")})), 6) AS hhi,
      |       round(max(rev.r / tot.t), 6) AS top_share
      |FROM rev JOIN tot ON tot.n_name = rev.n_name
      |GROUP BY rev.n_name ORDER BY rev.n_name""") { (s, d) =>
    val rev = T(s, d, "lineitem")
      .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
      .join(T(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(T(s, d, "nation").select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name", "l_suppkey")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("r"))
    val tot = rev.groupBy("n_name")
      .agg(round(sum("r"), 4).as("t"), count(lit(1)).cast("long").as("ns"))
    rev.join(broadcast(tot), Seq("n_name")) // nation-sized: genuinely bounded
      .withColumn("share", col("r") / col("t"))
      .groupBy("n_name")
      .agg(max("ns").as("n_suppliers"),
        round(sum(Grid.dy20(col("share")) * Grid.dy20(col("share"))), 6).as("hhi"),
        round(max("share"), 6).as("top_share"))
      .reportSorted("n_name")
  }

  /** Benjamini–Hochberg FDR adjustment over a family of per-nation
    * chi-square goodness-of-fit tests (SPEC: Benjamini & Hochberg
    * 1995 step-up procedure — THE multiple-comparisons control for
    * screening pipelines that run one test per segment; the companion
    * consumer of this module's test statistics). Per nation: does its
    * order-status mix (O/F/P) match the global mix? X² over the 3
    * cells has 2 degrees of freedom, and χ²₂ is the ONE chi-square
    * whose survival function is elementary — p = exp(−x/2) — so the
    * p-value is SQL-replayable without an incomplete-gamma (the reason
    * the other tests here report only z/t; exp+round-6 has house
    * precedent in agg_survival_km). BH: rank p ascending (ranked by
    * the exact X² DESC + name tie-break — exp is monotone, and X² is
    * the same IEEE expression in fixed association order on both
    * engines, so the rank order is bitwise-stable), then
    * p_adj(i) = min_{j≥i} m·p(j)/j clamped at 1 — the running min is
    * a reverse-frame window over the ROUNDED p (rule 5).
    *
    * Scale shape: orders→customer is an equi-join on the customer key
    * (AQE-sized — customer is data-sized, rule 11), nation is a
    * genuinely bounded 25-row catalog (broadcast). ONE grouped
    * aggregate reduces everything to a 25-row frame; the windows and
    * the 1-row global cross-join live on that bounded frame, so at
    * 100 TB the shuffle past the first aggregate carries 25 rows.
    */
  q("dq_fdr_bh",
    """WITH oc AS (
      |  SELECT n.n_name, o.o_orderstatus AS st
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN nation n ON n.n_nationkey = c.c_nationkey),
      |cells AS (
      |  SELECT n_name,
      |         sum(CASE WHEN st = 'F' THEN 1 ELSE 0 END) AS cf,
      |         sum(CASE WHEN st = 'O' THEN 1 ELSE 0 END) AS co,
      |         sum(CASE WHEN st = 'P' THEN 1 ELSE 0 END) AS cp
      |  FROM oc GROUP BY n_name),
      |e AS (SELECT n_name, cf, co, cp, CAST(cf + co + cp AS BIGINT) AS ni FROM cells),
      |g AS (SELECT CAST(sum(cf) AS BIGINT) AS gf, CAST(sum(co) AS BIGINT) AS go,
      |             CAST(sum(cp) AS BIGINT) AS gp,
      |             CAST(sum(cf) + sum(co) + sum(cp) AS BIGINT) AS tot,
      |             CAST(count(*) AS BIGINT) AS m
      |      FROM e),
      |t AS (SELECT e.n_name, e.ni, e.cf, e.co, e.cp, g.m,
      |             CAST(e.ni AS DOUBLE) * g.gf / g.tot AS e_f,
      |             CAST(e.ni AS DOUBLE) * g.go / g.tot AS e_o,
      |             CAST(e.ni AS DOUBLE) * g.gp / g.tot AS e_p
      |      FROM e CROSS JOIN g),
      |x AS (SELECT n_name, ni, m,
      |             (CAST(cf AS DOUBLE) - e_f) * (CAST(cf AS DOUBLE) - e_f) / e_f
      |             + (CAST(co AS DOUBLE) - e_o) * (CAST(co AS DOUBLE) - e_o) / e_o
      |             + (CAST(cp AS DOUBLE) - e_p) * (CAST(cp AS DOUBLE) - e_p) / e_p AS x2
      |      FROM t),
      |r AS (SELECT n_name, ni, m, x2,
      |             CAST(row_number() OVER (ORDER BY x2 DESC, n_name) AS BIGINT) AS rk,
      |             round(exp(-x2 / 2.0), 6) AS p
      |      FROM x),
      |a AS (SELECT n_name, ni, x2, p,
      |             min(m * p / rk) OVER (ORDER BY rk
      |               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS rawadj
      |      FROM r)
      |SELECT n_name, CAST(ni AS BIGINT) AS n, round(x2, 6) AS x2, p,
      |       round(least(1.0, rawadj), 6) AS p_adj,
      |       CAST(CASE WHEN round(least(1.0, rawadj), 6) < 0.05 THEN 1 ELSE 0 END
      |            AS INTEGER) AS significant
      |FROM a ORDER BY n_name""") { (s, d) =>
    val cells = T(s, d, "orders")
      .select(col("o_custkey"), col("o_orderstatus").as("st"))
      .join(T(s, d, "customer").select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(T(s, d, "nation").select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum(when(col("st") === "F", 1L).otherwise(0L)).as("cf"),
        sum(when(col("st") === "O", 1L).otherwise(0L)).as("co"),
        sum(when(col("st") === "P", 1L).otherwise(0L)).as("cp"))
    val withNi = cells.withColumn("ni", col("cf") + col("co") + col("cp"))
    val g = withNi.agg(sum("cf").as("gf"), sum("co").as("go"), sum("cp").as("gp"),
      sum("ni").as("tot"), count(lit(1)).as("m"))
    val t = withNi.crossJoin(broadcast(g)) // 25-row frame × 1-row global
      .withColumn("e_f", col("ni").cast("double") * col("gf") / col("tot"))
      .withColumn("e_o", col("ni").cast("double") * col("go") / col("tot"))
      .withColumn("e_p", col("ni").cast("double") * col("gp") / col("tot"))
    val x = t.withColumn("x2",
      (col("cf").cast("double") - col("e_f")) * (col("cf").cast("double") - col("e_f")) / col("e_f")
        + (col("co").cast("double") - col("e_o")) * (col("co").cast("double") - col("e_o")) / col("e_o")
        + (col("cp").cast("double") - col("e_p")) * (col("cp").cast("double") - col("e_p")) / col("e_p"))
    // unpartitioned windows are legal here: the frame is nation-sized
    // (25 rows), the same bounded-output exemption as reportSorted
    val byP = Window.orderBy(col("x2").desc, col("n_name"))
    val r = x
      .withColumn("rk", row_number().over(byP).cast("long"))
      .withColumn("p", round(exp(-col("x2") / lit(2.0)), 6))
      .withColumn("rawadj", min(col("m") * col("p") / col("rk"))
        .over(Window.orderBy("rk")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
    r.select(col("n_name"), col("ni").cast("long").as("n"),
      round(col("x2"), 6).as("x2"), col("p"),
      round(least(lit(1.0), col("rawadj")), 6).as("p_adj"),
      when(round(least(lit(1.0), col("rawadj")), 6) < 0.05, 1)
        .otherwise(0).cast("int").as("significant"))
      .reportSorted("n_name")
  }

  /** One-way ANOVA across ALL event types (SPEC: Fisher 1925 — the
    * k-group generalization of [[agg_welch_ttest]]'s two arms; the
    * omnibus "do any of these k variants differ" gate an experiment
    * platform runs before pairwise tests). Everything derives from ONE
    * grouped power-sum aggregate (n, Σv, Σv²) per type — fixed-size
    * mergeable state, the agg_moments shape, so the 100 TB plan is a
    * two-phase aggregate whose shuffle carries k rows. SSB/SSW/SST are
    * closed-form on that k-row frame via the standard decomposition
    * SSB = Σ S_g²/n_g − S²/N, SSW = Σv² − Σ S_g²/n_g (identical
    * algebra both engines; the effect size η² = SSB/SST rides free).
    * Guards: nullif on SSW (all groups constant → F undefined, not a
    * cross-engine Inf render) and on SST.
    */
  q("agg_anova_oneway",
    """WITH g AS (
      |  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
      |         sum(value) AS s, sum(value * value) AS ss
      |  FROM events GROUP BY event_type),
      |t AS (SELECT count(*) AS k, sum(n) AS nn, sum(s) AS st,
      |             sum(ss) AS sst_raw, sum(s * s / n) AS sgr
      |      FROM g)
      |SELECT CAST(k AS INTEGER) AS k, CAST(nn AS BIGINT) AS n,
      |       round(sgr - st * st / nn, 4) AS ss_between,
      |       round(sst_raw - sgr, 4) AS ss_within,
      |       round(((sgr - st * st / nn) / (k - 1))
      |             / nullif((sst_raw - sgr) / (nn - k), 0), 4) AS f_stat,
      |       round((sgr - st * st / nn)
      |             / nullif(sst_raw - st * st / nn, 0), 6) AS eta_sq
      |FROM t""") { (s, d) =>
    val g = T(s, d, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).cast("double").as("n"),
        sum("value").as("s"), sum(col("value") * col("value")).as("ss"))
    val t = g.agg(count(lit(1)).as("k"), sum("n").as("nn"), sum("s").as("st"),
      sum("ss").as("sst_raw"), sum(col("s") * col("s") / col("n")).as("sgr"))
    val ssb = col("sgr") - col("st") * col("st") / col("nn")
    t.select(col("k").cast("int").as("k"), col("nn").cast("long").as("n"),
      round(ssb, 4).as("ss_between"),
      round(col("sst_raw") - col("sgr"), 4).as("ss_within"),
      round((ssb / (col("k") - 1)) /
        nullif((col("sst_raw") - col("sgr")) / (col("nn") - col("k")), lit(0.0)), 4)
        .as("f_stat"),
      round(ssb / nullif(col("sst_raw") - col("st") * col("st") / col("nn"),
        lit(0.0)), 6).as("eta_sq"))
  }

  /** Two-sample Cramér–von Mises drift statistic between the click and
    * purchase value distributions (SPEC: Anderson 1962 two-sample CvM —
    * the integrated-squared-ECDF-gap companion of [[dq_drift_ks]]'s
    * supremum: KS sees the single worst point, CvM accumulates drift
    * across the whole distribution, so a broad small shift that never
    * crosses KS's threshold still moves T). Rank form: with pooled
    * ranks r_i of the N 'a'-observations and s_j of the M 'b'-ones,
    * U = N·Σ(r_i−i)² + M·Σ(s_j−j)², T = U/(NM(N+M)) − (4NM−1)/(6(N+M)).
    * Both the pooled rank (global row number) and the within-sample
    * index (cumulative indicator) come from ONE
    * [[WindowOps.globalPrefixSums]] pass over the (value, event_id)
    * total order — range-bucket + intra-bucket window + O(#partitions)
    * offset lookup, no single-partition exchange at any scale. Every
    * U term is exact BIGINT (U ≤ N·M²+M·N² keeps headroom to ~10⁶×10⁶
    * samples; past that, sample the arms first — the statistic is
    * rank-based, so a uniform subsample is the standard move); T is two
    * divisions of exact integers, rounded once.
    */
  q("dq_drift_cvm",
    """WITH ev AS (
      |  SELECT event_id, value,
      |         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
      |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |c AS (
      |  SELECT a, b,
      |         row_number() OVER (ORDER BY value, event_id) AS rn,
      |         sum(a) OVER (ORDER BY value, event_id ROWS UNBOUNDED PRECEDING) AS ca,
      |         sum(b) OVER (ORDER BY value, event_id ROWS UNBOUNDED PRECEDING) AS cb
      |  FROM ev),
      |t AS (SELECT CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(b) AS BIGINT) AS n_b FROM ev),
      |u AS (SELECT CAST(sum(CASE WHEN a = 1 THEN (rn - ca) * (rn - ca) END) AS BIGINT) AS ua,
      |             CAST(sum(CASE WHEN b = 1 THEN (rn - cb) * (rn - cb) END) AS BIGINT) AS ub
      |      FROM c)
      |SELECT t.n_a, t.n_b,
      |       CAST(t.n_a * u.ua + t.n_b * u.ub AS BIGINT) AS u_stat,
      |       round(CAST(t.n_a * u.ua + t.n_b * u.ub AS DOUBLE)
      |               / (t.n_a * t.n_b * (t.n_a + t.n_b))
      |             - CAST(4 * t.n_a * t.n_b - 1 AS DOUBLE)
      |               / (6 * (t.n_a + t.n_b)), 6) AS cvm_t
      |FROM t, u""") { (s, d) => cvmOn(T(s, d, "events")) }

  /** The CvM body over any frame with (event_id, event_type, value) —
    * the registered row binds it to the events table; the semantic
    * spec feeds crafted aligned/shifted samples.
    */
  private[ops] def cvmOn(events: DataFrame): DataFrame = {
    val ev = events
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("value"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("a"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("b"),
        lit(1L).as("one"))
    val cum = WindowOps.globalPrefixSums(ev,
      Seq(col("value").asc_nulls_last, col("event_id").asc), Seq("a", "b", "one"))
    val u = cum.agg(
      sum(when(col("a") === 1L,
        (col("cum_one") - col("cum_a")) * (col("cum_one") - col("cum_a"))))
        .cast("long").as("ua"),
      sum(when(col("b") === 1L,
        (col("cum_one") - col("cum_b")) * (col("cum_one") - col("cum_b"))))
        .cast("long").as("ub"))
    val tot = ev.agg(sum("a").cast("long").as("n_a"), sum("b").cast("long").as("n_b"))
    tot.crossJoin(broadcast(u))
      .select(col("n_a"), col("n_b"),
        (col("n_a") * col("ua") + col("n_b") * col("ub")).cast("long").as("u_stat"),
        round((col("n_a") * col("ua") + col("n_b") * col("ub")).cast("double")
          / (col("n_a") * col("n_b") * (col("n_a") + col("n_b")))
          - (lit(4L) * col("n_a") * col("n_b") - 1L).cast("double")
          / (lit(6L) * (col("n_a") + col("n_b"))), 6).as("cvm_t"))
  }

  /** Granger causality F-test between two daily event series (SPEC:
    * Granger 1969 — "do yesterday's views help predict today's clicks
    * beyond clicks' own history": restricted AR(1) y_t~y_{t−1} vs the
    * augmented y_t~y_{t−1}+x_{t−1}, F = (RSS_r−RSS_u)/(RSS_u/(n−3))
    * with 1 numerator df — the standard lead-lag screen a metrics
    * platform runs across KPI pairs). The series are DAILY COUNTS
    * (exact integers at any scale — the aggregation that makes a
    * 100 TB event log a 365-row regression), so all ten power sums are
    * exact BIGINT and both engines compute F from identical integer
    * inputs through one fixed expression shape. Plan: one grouped
    * count (two-phase), one calendar-sized self-join on day−1, one
    * 10-sum aggregate over ≤365 rows; the two OLS solves are
    * closed-form 2×2 algebra on that 1-row frame. nullif guards the
    * degenerate constant-series cases.
    */
  q("ts_granger",
    """WITH dc AS (
      |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS y,
      |         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x
      |  FROM events GROUP BY 1),
      |r AS (
      |  SELECT cur.y AS y, prev.y AS y1, prev.x AS x1
      |  FROM dc cur JOIN dc prev ON prev.day = cur.day - 1),
      |p AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n,
      |         CAST(sum(y) AS DOUBLE) AS sy, CAST(sum(y1) AS DOUBLE) AS s1,
      |         CAST(sum(x1) AS DOUBLE) AS s2, CAST(sum(y * y) AS DOUBLE) AS syy,
      |         CAST(sum(y1 * y1) AS DOUBLE) AS s11, CAST(sum(x1 * x1) AS DOUBLE) AS s22,
      |         CAST(sum(y * y1) AS DOUBLE) AS sy1, CAST(sum(y * x1) AS DOUBLE) AS sy2,
      |         CAST(sum(y1 * x1) AS DOUBLE) AS s12
      |  FROM r),
      |m AS (
      |  SELECT n, syy - sy * sy / n AS cyy, s11 - s1 * s1 / n AS c11,
      |         s22 - s2 * s2 / n AS c22, sy1 - sy * s1 / n AS cy1,
      |         sy2 - sy * s2 / n AS cy2, s12 - s1 * s2 / n AS c12
      |  FROM p),
      |f AS (
      |  SELECT n, cyy - cy1 * cy1 / nullif(c11, 0) AS rss_r,
      |         cyy - ((cy1 * c22 - cy2 * c12) * cy1 + (cy2 * c11 - cy1 * c12) * cy2)
      |               / nullif(c11 * c22 - c12 * c12, 0) AS rss_u,
      |         (cy2 * c11 - cy1 * c12) / nullif(c11 * c22 - c12 * c12, 0) AS beta_x
      |  FROM m)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |       round(rss_r, 4) AS rss_restricted, round(rss_u, 4) AS rss_unrestricted,
      |       round(beta_x, 6) AS beta_xlag,
      |       round((rss_r - rss_u) / nullif(rss_u / (n - 3), 0), 4) AS f_stat
      |FROM f""") { (s, d) => grangerOn(T(s, d, "events")) }

  /** The Granger body over any frame with (event_id, ts, event_type) —
    * the registered row binds it to the events table; the semantic
    * spec feeds a series where x_{t−1} predicts y_t exactly.
    */
  private[ops] def grangerOn(events: DataFrame): DataFrame = {
    val dc = events
      .groupBy(expr("unix_micros(ts) div 86400000000L").cast("long").as("day"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("y"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x"))
    val r = dc.select(col("day"), col("y"))
      .join(dc.select((col("day") + 1L).as("day"), col("y").as("y1"), col("x").as("x1")),
        Seq("day"))
    val p = r.agg(count(lit(1)).cast("double").as("n"),
      sum("y").cast("double").as("sy"), sum("y1").cast("double").as("s1"),
      sum("x1").cast("double").as("s2"),
      sum(col("y") * col("y")).cast("double").as("syy"),
      sum(col("y1") * col("y1")).cast("double").as("s11"),
      sum(col("x1") * col("x1")).cast("double").as("s22"),
      sum(col("y") * col("y1")).cast("double").as("sy1"),
      sum(col("y") * col("x1")).cast("double").as("sy2"),
      sum(col("y1") * col("x1")).cast("double").as("s12"))
    val m = p.select(col("n"),
      (col("syy") - col("sy") * col("sy") / col("n")).as("cyy"),
      (col("s11") - col("s1") * col("s1") / col("n")).as("c11"),
      (col("s22") - col("s2") * col("s2") / col("n")).as("c22"),
      (col("sy1") - col("sy") * col("s1") / col("n")).as("cy1"),
      (col("sy2") - col("sy") * col("s2") / col("n")).as("cy2"),
      (col("s12") - col("s1") * col("s2") / col("n")).as("c12"))
    val det = nullif(col("c11") * col("c22") - col("c12") * col("c12"), lit(0.0))
    val rssR = col("cyy") - col("cy1") * col("cy1") / nullif(col("c11"), lit(0.0))
    val rssU = col("cyy") -
      ((col("cy1") * col("c22") - col("cy2") * col("c12")) * col("cy1") +
        (col("cy2") * col("c11") - col("cy1") * col("c12")) * col("cy2")) / det
    m.select(col("n").cast("long").as("n_days"),
      round(rssR, 4).as("rss_restricted"), round(rssU, 4).as("rss_unrestricted"),
      round((col("cy2") * col("c11") - col("cy1") * col("c12")) / det, 6).as("beta_xlag"),
      round((rssR - rssU) / nullif(rssU / (col("n") - 3), lit(0.0)), 4).as("f_stat"))
  }

  /** Augmented Dickey–Fuller unit-root test, lag 1 (SPEC: Dickey &
    * Fuller 1979 / Said–Dickey 1984: Δy_t = α + β·y_{t−1} + γ·Δy_{t−1},
    * H₀ β = 0 ⇒ unit root; the stationarity screen run before any
    * ARIMA/forecast fit — [[ts_granger]]'s regression machinery turned
    * on the series' own level). The series is the DAILY CLICK COUNT
    * (exact integers at any scale — the [[ts_granger]] aggregation
    * argument), so all ten power sums are exact BIGINT and β, its
    * standard error and t all come from identical integer inputs
    * through one fixed closed form (3-regressor OLS via centered
    * co-moments; Var(β) = s²·c₂₂/det). The verdict compares the
    * ROUND-4 t to the n→∞ 5% MacKinnon critical value −2.86 (deriving
    * it from the unrounded t would let an ulp flip the boolean — the
    * r13 sprt lesson). One grouped count + one calendar self-join +
    * one 10-sum aggregate over ≤365 rows.
    */
  q("ts_adf",
    """WITH dc AS (
      |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |r AS (
      |  SELECT cur.y - p1.y AS dy, p1.y AS ly, p1.y - p2.y AS dl
      |  FROM dc cur JOIN dc p1 ON p1.day = cur.day - 1
      |              JOIN dc p2 ON p2.day = cur.day - 2),
      |p AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(dy) AS BIGINT) AS sy, CAST(sum(ly) AS BIGINT) AS s1,
      |             CAST(sum(dl) AS BIGINT) AS s2,
      |             CAST(sum(dy * dy) AS BIGINT) AS syy,
      |             CAST(sum(ly * ly) AS BIGINT) AS s11,
      |             CAST(sum(dl * dl) AS BIGINT) AS s22,
      |             CAST(sum(dy * ly) AS BIGINT) AS sy1,
      |             CAST(sum(dy * dl) AS BIGINT) AS sy2,
      |             CAST(sum(ly * dl) AS BIGINT) AS s12
      |      FROM r),
      |m AS (SELECT n,
      |             syy - sy * sy * 1.0 / n AS cyy,
      |             s11 - s1 * s1 * 1.0 / n AS c11,
      |             s22 - s2 * s2 * 1.0 / n AS c22,
      |             sy1 - sy * s1 * 1.0 / n AS cy1,
      |             sy2 - sy * s2 * 1.0 / n AS cy2,
      |             s12 - s1 * s2 * 1.0 / n AS c12
      |      FROM p),
      |f AS (SELECT n, cyy, c11, c22, cy1, cy2, c12,
      |             nullif(c11 * c22 - c12 * c12, 0) AS det
      |      FROM m),
      |b AS (SELECT n, det, c22,
      |             (cy1 * c22 - cy2 * c12) / det AS beta,
      |             cyy - ((cy1 * c22 - cy2 * c12) * cy1
      |                    + (cy2 * c11 - cy1 * c12) * cy2) / det AS rss
      |      FROM f)
      |SELECT CAST(n AS BIGINT) AS n_obs, round(beta, 6) AS beta,
      |       round(beta / nullif(sqrt(rss / (n - 3) * c22 / det), 0), 4) AS t_adf,
      |       round(beta / nullif(sqrt(rss / (n - 3) * c22 / det), 0), 4) < -2.86
      |         AS stationary
      |FROM b""") { (s, d) =>
    val dc = T(s, d, "events")
      .groupBy(expr("unix_micros(ts) div 86400000000L").cast("long").as("day"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
        .cast("long").as("y"))
    val cur = dc.select(col("day"), col("y"))
    val p1 = dc.select((col("day") + 1).as("d1"), col("y").as("y1"))
    val p2 = dc.select((col("day") + 2).as("d2"), col("y").as("y2"))
    val r = cur.join(p1, col("day") === col("d1"))
      .join(p2, col("day") === col("d2"))
      .select((col("y") - col("y1")).as("dy"), col("y1").as("ly"),
        (col("y1") - col("y2")).as("dl"))
    val p = r.agg(count(lit(1)).cast("long").as("n"),
      sum("dy").cast("long").as("sy"), sum("ly").cast("long").as("s1"),
      sum("dl").cast("long").as("s2"),
      sum(col("dy") * col("dy")).cast("long").as("syy"),
      sum(col("ly") * col("ly")).cast("long").as("s11"),
      sum(col("dl") * col("dl")).cast("long").as("s22"),
      sum(col("dy") * col("ly")).cast("long").as("sy1"),
      sum(col("dy") * col("dl")).cast("long").as("sy2"),
      sum(col("ly") * col("dl")).cast("long").as("s12"))
    val n = col("n")
    val m = p.select(n,
      (col("syy") - col("sy") * col("sy") * lit(1.0) / n).as("cyy"),
      (col("s11") - col("s1") * col("s1") * lit(1.0) / n).as("c11"),
      (col("s22") - col("s2") * col("s2") * lit(1.0) / n).as("c22"),
      (col("sy1") - col("sy") * col("s1") * lit(1.0) / n).as("cy1"),
      (col("sy2") - col("sy") * col("s2") * lit(1.0) / n).as("cy2"),
      (col("s12") - col("s1") * col("s2") * lit(1.0) / n).as("c12"))
    val det = nullif(col("c11") * col("c22") - col("c12") * col("c12"), lit(0.0))
    val beta = (col("cy1") * col("c22") - col("cy2") * col("c12")) / det
    val rss = col("cyy") -
      ((col("cy1") * col("c22") - col("cy2") * col("c12")) * col("cy1") +
        (col("cy2") * col("c11") - col("cy1") * col("c12")) * col("cy2")) / det
    val t = round(beta / nullif(
      sqrt(rss / (n - 3) * col("c22") / det), lit(0.0)), 4)
    m.select(n.as("n_obs"), round(beta, 6).as("beta"),
      t.as("t_adf"), (t < -2.86).as("stationary"))
  }

  /** Sample-ratio mismatch check (SPEC: the Kohavi/Fabijan SRM guard —
    * "the most useful A/B-test alarm": a χ²(1df) of observed arm
    * sizes against the designed 50/50 split; a mismatch means broken
    * randomization/logging and invalidates the experiment BEFORE any
    * metric is read — the gate platforms run ahead of
    * [[agg_welch_ttest]]/[[agg_sprt_mixture]]). Assignment is the
    * standing user-parity split (the cuped/sprt device) over DISTINCT
    * users. All integer until the single χ² ratio; the alarm compares
    * the ROUND-4 χ² to the 3.8415 (α=0.05, 1df) critical value — the
    * sprt rounded-threshold discipline. One distinct + one 2-row agg.
    */
  q("dq_ab_srm",
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |c AS (SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
      |             CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nc
      |      FROM u)
      |SELECT nt AS n_treat, nc AS n_control,
      |       round((nt - nc) * (nt - nc) * 1.0 / (nt + nc), 4) AS chi2,
      |       round((nt - nc) * (nt - nc) * 1.0 / (nt + nc), 4) > 3.8415 AS srm_alarm
      |FROM c""") { (s, d) =>
    val u = T(s, d, "events").select("user_id").distinct()
    val c = u.agg(
      sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).cast("long").as("nt"),
      sum(when(col("user_id") % 2 === 1, 1L).otherwise(0L)).cast("long").as("nc"))
    val chi2 = round((col("nt") - col("nc")) * (col("nt") - col("nc")) * lit(1.0) /
      (col("nt") + col("nc")), 4)
    c.select(col("nt").as("n_treat"), col("nc").as("n_control"),
      chi2.as("chi2"), (chi2 > 3.8415).as("srm_alarm"))
  }

  /** Cohen's d / Hedges' g effect size between the click and purchase
    * arms (SPEC: Cohen 1988 pooled-SD standardized mean difference +
    * Hedges 1981 small-sample correction g = d·(1 − 3/(4N−9)) — the
    * magnitude number reported beside [[agg_welch_ttest]]'s
    * significance: p says "real", d says "big enough to matter").
    * Same two-phase grouped power-sum shape as welch — the shuffle
    * carries 2 rows at any scale; d and g are one closed form each,
    * rounded once.
    */
  q("agg_cohens_d",
    """WITH g AS (
      |  SELECT event_type, count(*) AS n, avg(value) AS m, var_samp(value) AS v
      |  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY event_type)
      |SELECT CAST(a.n AS BIGINT) AS n_click, CAST(b.n AS BIGINT) AS n_purchase,
      |       round(a.m - b.m, 6) AS mean_diff,
      |       round((a.m - b.m) / nullif(sqrt(((a.n - 1) * a.v + (b.n - 1) * b.v)
      |                                       / (a.n + b.n - 2)), 0), 4) AS cohens_d,
      |       round((a.m - b.m) / nullif(sqrt(((a.n - 1) * a.v + (b.n - 1) * b.v)
      |                                       / (a.n + b.n - 2)), 0)
      |             * (1.0 - 3.0 / (4.0 * (a.n + b.n) - 9.0)), 4) AS hedges_g
      |FROM (SELECT * FROM g WHERE event_type = 'click') a,
      |     (SELECT * FROM g WHERE event_type = 'purchase') b""") { (s, d) =>
    val g = T(s, d, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), avg("value").as("m"), var_samp("value").as("v"))
    val a = g.filter(col("event_type") === "click")
      .select(col("n").as("na"), col("m").as("ma"), col("v").as("va"))
    val b = g.filter(col("event_type") === "purchase")
      .select(col("n").as("nb"), col("m").as("mb"), col("v").as("vb"))
    val sp = sqrt(((col("na") - 1) * col("va") + (col("nb") - 1) * col("vb")) /
      (col("na") + col("nb") - 2))
    val dEff = (col("ma") - col("mb")) / nullif(sp, lit(0.0))
    a.crossJoin(b).select(
      col("na").cast("long").as("n_click"), col("nb").cast("long").as("n_purchase"),
      round(col("ma") - col("mb"), 6).as("mean_diff"),
      round(dEff, 4).as("cohens_d"),
      round(dEff * (lit(1.0) - lit(3.0) /
        (lit(4.0) * (col("na") + col("nb")) - 9.0)), 4).as("hedges_g"))
  }

  /** Kruskal–Wallis H (SPEC: Kruskal & Wallis 1952 — the k-group
    * rank ANOVA: [[agg_anova_oneway]] without the normality
    * assumption, [[agg_mann_whitney]] generalized past two arms),
    * tie-corrected. Scale shape is mann_whitney's: collapse to the
    * distinct-value frame (two-phase agg), ONE
    * [[WindowOps.globalPrefixSums]] pass for average ranks (no
    * single-partition window), join the per-(value, group) counts
    * back on the value key, per-group rank sums, then H on the
    * k-row frame. Rank sums are exact dyadic halves; ΣR²/n sums k≤5
    * deterministic doubles under a round-4 output (the anova
    * precedent — ulp-order effects sit ~10 orders below the grid).
    */
  q("agg_kruskal_wallis",
    """WITH e AS (SELECT event_type, value, event_id FROM events),
      |r AS (SELECT event_type, avg(rn) OVER (PARTITION BY value) AS ar
      |      FROM (SELECT event_type, value,
      |                   row_number() OVER (ORDER BY value, event_id) AS rn FROM e) t),
      |g AS (SELECT event_type, count(*) AS n_j, sum(ar) AS r_j FROM r GROUP BY event_type),
      |tt AS (SELECT sum(CAST(c AS DOUBLE) * c * c - c) AS tie3,
      |              CAST(sum(c) AS BIGINT) AS n
      |       FROM (SELECT count(*) AS c FROM e GROUP BY value) x),
      |h AS (SELECT sum(r_j * r_j / n_j) AS s2, CAST(count(*) AS INTEGER) AS k FROM g)
      |SELECT tt.n AS n, h.k AS k,
      |       round(12.0 / (tt.n * (tt.n + 1.0)) * h.s2 - 3.0 * (tt.n + 1), 4) AS h_stat,
      |       round((12.0 / (tt.n * (tt.n + 1.0)) * h.s2 - 3.0 * (tt.n + 1))
      |             / nullif(1.0 - tt.tie3 /
      |                (CAST(tt.n AS DOUBLE) * tt.n * tt.n - tt.n), 0), 4) AS h_tie_corrected
      |FROM tt, h""") { (s, d) =>
    val e = T(s, d, "events").select("event_type", "value")
    // checkpoint: g1 feeds BOTH the per-value totals and the rank join
    val g1 = e.groupBy("value", "event_type").agg(count(lit(1)).as("c"))
      .transform(Checkpoints.take)
    val g2 = g1.groupBy("value").agg(sum("c").as("nv"))
    val cum = WindowOps.globalPrefixSums(g2, Seq(col("value").asc), Seq("nv"))
    val ar = cum.select(col("value"),
      (col("cum_nv") - col("nv") + (col("nv") + 1) / lit(2.0)).as("ar"))
    val g = g1.join(ar, "value").groupBy("event_type")
      .agg(sum("c").as("n_j"), sum(col("c") * col("ar")).as("r_j"))
    val h = g.agg(sum(col("r_j") * col("r_j") / col("n_j")).as("s2"),
      count(lit(1)).cast("int").as("k"))
    val tt = cum.agg(
      sum(col("nv").cast("double") * col("nv") * col("nv") - col("nv")).as("tie3"),
      sum("nv").cast("long").as("n"))
    val n = col("n")
    val hRaw = lit(12.0) / (n * (n + lit(1.0))) * col("s2") - lit(3.0) * (n + 1)
    tt.crossJoin(broadcast(h))
      .select(n.as("n"), col("k"), round(hRaw, 4).as("h_stat"),
        // rule-7 nullif guard: an all-tied value column makes the tie
        // divisor exactly 0 — Spark renders Infinity, DuckDB errors;
        // both engines pin to NULL instead
        round(hRaw / nullif(lit(1.0) - col("tie3") /
          (n.cast("double") * n * n - n), lit(0.0)), 4).as("h_tie_corrected"))
  }

  /** Mann–Kendall trend test on the daily mean value (SPEC: Mann 1945
    * / Kendall 1975 with the Kendall 1975 tie-corrected variance and
    * continuity correction — THE nonparametric monotone-trend screen
    * hydrology/metrics teams run where a linear-regression slope would
    * assume normal errors; the significance companion of
    * [[agg_theil_sen]]'s slope). The daily aggregation is what makes a
    * 100 TB event log a calendar-sized problem: per-day means are
    * EXACT (dy20-snapped values → order-exact grid sums, one exact
    * division), S counts sign comparisons of exact doubles over the
    * |days|² self-join (calendar-bounded like theil_sen), and S/tie
    * terms stay BIGINT.
    */
  q("ts_mann_kendall",
    s"""WITH dm AS (
      |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |         sum(${Grid.dy20Sql("value")}) / count(*) AS m
      |  FROM events GROUP BY 1),
      |p AS (SELECT CAST(sum(CASE WHEN b.m > a.m THEN 1
      |                           WHEN b.m < a.m THEN -1 ELSE 0 END) AS BIGINT) AS s
      |      FROM dm a JOIN dm b ON b.day > a.day),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dm),
      |t AS (SELECT CAST(coalesce(sum(c * (c - 1) * (2 * c + 5)), 0) AS BIGINT) AS tie
      |      FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM dm
      |            GROUP BY m HAVING count(*) > 1) x)
      |SELECT nn.n AS n_days, p.s AS s_stat,
      |       round((nn.n * (nn.n - 1) * (2 * nn.n + 5) - t.tie) / 18.0, 4) AS var_s,
      |       round((CASE WHEN p.s > 0 THEN p.s - 1.0
      |                   WHEN p.s < 0 THEN p.s + 1.0 ELSE 0.0 END)
      |             / nullif(sqrt((nn.n * (nn.n - 1) * (2 * nn.n + 5) - t.tie)
      |                           / 18.0), 0), 4) AS z
      |FROM nn, p, t""") { (s, d) =>
    val dm = T(s, d, "events")
      .groupBy(expr("unix_micros(ts) div 86400000000L").cast("long").as("day"))
      .agg((sum(Grid.dy20(col("value"))) / count(lit(1))).as("m"))
      .transform(Checkpoints.take)
    val a = dm.select(col("day").as("da"), col("m").as("ma"))
    val b = dm.select(col("day").as("db"), col("m").as("mb"))
    val p = a.join(b, col("db") > col("da"))
      .agg(sum(when(col("mb") > col("ma"), 1L)
        .when(col("mb") < col("ma"), -1L).otherwise(0L)).cast("long").as("s_stat"))
    val nn = dm.agg(count(lit(1)).cast("long").as("n"))
    val t = dm.groupBy("m").agg(count(lit(1)).cast("long").as("c"))
      .filter(col("c") > 1)
      .agg(coalesce(sum(col("c") * (col("c") - 1) * (lit(2L) * col("c") + 5)),
        lit(0L)).cast("long").as("tie"))
    val n = col("n")
    val varS = (n * (n - 1) * (lit(2L) * n + 5) - col("tie")) / lit(18.0)
    nn.crossJoin(broadcast(p)).crossJoin(broadcast(t))
      .select(n.as("n_days"), col("s_stat"), round(varS, 4).as("var_s"),
        round(when(col("s_stat") > 0, col("s_stat") - lit(1.0))
          .when(col("s_stat") < 0, col("s_stat") + lit(1.0)).otherwise(lit(0.0))
          / nullif(sqrt(varS), lit(0.0)), 4).as("z"))
  }

  /** Randomization (approximate permutation) test for the click vs
    * non-click mean-value difference (SPEC: Fisher 1935 randomization
    * inference; the Monte-Carlo variant of Ernst 2004 with B=32
    * DERANDOMIZED reassignments — the same LCG device as
    * [[eval_auc_bootstrap]], so both engines replay identical
    * "random" label flips; binomial reassignment at the observed group
    * rate rather than an exact permutation, stated honestly).
    * p = (1 + #{|diff_b| ≥ |diff_obs|})/(B+1) — the add-one
    * Monte-Carlo estimator. ONE corpus pass explodes each event into
    * its 32 replicate rows and sums the grid-snapped values grouped by
    * replicate, so the draw ([[Replicates.uniform]]) is one expression
    * and every comparison is between deterministic doubles. Degenerate
    * replicates (a side empty) go NULL and drop from the extreme count
    * on both engines.
    */
  q("agg_permutation_pvalue", {
    val B = 32
    def uSql(b: Int): String =
      s"((((e.event_id * 131 + $b) % 2147483648) * 1103515245 + 12345)" +
        s" % 2147483648 + 0.5) / 2147483648.0"
    val repCols = (1 to B).map(b =>
      s"sum(CASE WHEN ${uSql(b)} < t.q THEN e.v ELSE 0 END) AS sa$b,\n" +
        s"      CAST(sum(CASE WHEN ${uSql(b)} < t.q THEN 1 ELSE 0 END) AS BIGINT) AS na$b")
      .mkString(",\n      ")
    val diffs = (1 to B).map(b =>
      s"abs(sa$b / nullif(na$b, 0) - (st - sa$b) / nullif(n - na$b, 0))")
      .mkString(", ")
    s"""WITH e AS (SELECT event_id, ${Grid.dy20Sql("value")} AS v,
      |            CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ic
      |       FROM events),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(v) AS st,
      |             CAST(sum(ic) AS BIGINT) AS nc, sum(v * ic) AS sc,
      |             CAST(sum(ic) AS DOUBLE) / count(*) AS q
      |      FROM e),
      |r AS (SELECT t.n, t.st, t.nc, t.sc,
      |      $repCols
      |      FROM e, t GROUP BY t.n, t.st, t.nc, t.sc, t.q),
      |x AS (SELECT n, nc,
      |        sc / nc - (st - sc) / (n - nc) AS obs,
      |        [$diffs] AS ds
      |      FROM r)
      |SELECT n, nc AS n_click, round(obs, 6) AS obs_diff,
      |       CAST(len(list_filter(ds, d -> d >= abs(obs))) AS BIGINT) AS n_extreme,
      |       round((1.0 + len(list_filter(ds, d -> d >= abs(obs)))) / ${B + 1}.0, 6)
      |         AS p_value
      |FROM x""".stripMargin
  }) { (s, d) =>
    val B = 32
    val e = T(s, d, "events").select(col("event_id"),
      Grid.dy20(col("value")).as("v"),
      when(col("event_type") === "click", 1L).otherwise(0L).as("ic"))
    val t = e.agg(count(lit(1)).cast("long").as("n"), sum("v").as("st"),
      sum("ic").cast("long").as("nc"), sum(col("v") * col("ic")).as("sc"))
      .withColumn("q", col("nc").cast("double") / col("n"))
    val tot = Seq("n", "st", "nc", "sc")
    val reps = e.crossJoin(broadcast(t))
      .withColumn("b", explode(sequence(lit(1), lit(B))))
      .withColumn("a", Replicates.uniform(col("event_id"), col("b")) < col("q"))
      .groupBy((tot :+ "b").map(col): _*)
      .agg(sum(when(col("a"), col("v")).otherwise(0.0)).as("sa"),
        sum(when(col("a"), 1L).otherwise(0L)).cast("long").as("na"))
    val obs = col("sc") / col("nc") - (col("st") - col("sc")) / (col("n") - col("nc"))
    val diff = abs(col("sa") / nullif(col("na"), lit(0L)) -
      (col("st") - col("sa")) / nullif(col("n") - col("na"), lit(0L)))
    reps.groupBy(tot.map(col): _*)
      .agg(count(when(diff >= abs(obs), 1)).as("ext"))
      .select(col("n"), col("nc").as("n_click"), round(obs, 6).as("obs_diff"),
        col("ext").as("n_extreme"),
        round((lit(1.0) + col("ext")) / lit((B + 1).toDouble), 6).as("p_value"))
  }

  /** Hodges–Lehmann pseudo-median of the daily mean value (SPEC:
    * Hodges & Lehmann 1963 — the median of all Walsh averages
    * (xᵢ+xⱼ)/2, i ≤ j; THE robust location estimator paired with the
    * Wilcoxon test, as [[agg_theil_sen]]'s slope pairs with
    * Mann–Kendall). Daily aggregation bounds the pair set by the
    * CALENDAR: |days|(|days|+1)/2 Walsh averages at any corpus size.
    * Walsh averages are halves of exact-grid day means (deterministic
    * doubles); the median picks the middle value(s) by rank — value
    * ties make the selection order-free.
    */
  q("agg_hodges_lehmann",
    s"""WITH dm AS (
      |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |         sum(${Grid.dy20Sql("value")}) / count(*) AS m
      |  FROM events GROUP BY 1),
      |w AS (SELECT (a.m + b.m) / 2 AS wa FROM dm a JOIN dm b ON a.day <= b.day),
      |r AS (SELECT wa, row_number() OVER (ORDER BY wa) AS rn,
      |             count(*) OVER () AS cnt FROM w)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM dm) AS n_days,
      |       CAST(max(cnt) AS BIGINT) AS n_pairs,
      |       round(avg(CASE WHEN rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
      |                      THEN wa END), 6) AS hl_estimate
      |FROM r""") { (s, d) =>
    val dm = T(s, d, "events")
      .groupBy(expr("unix_micros(ts) div 86400000000L").cast("long").as("day"))
      .agg((sum(Grid.dy20(col("value"))) / count(lit(1))).as("m"))
      .transform(Checkpoints.take) // feeds the pair join twice + the day count
    val nn = dm.agg(count(lit(1)).cast("long").as("n_days"))
    val a = dm.select(col("day").as("da"), col("m").as("ma"))
    val b = dm.select(col("day").as("db"), col("m").as("mb"))
    val w = a.join(b, col("da") <= col("db"))
      .select(((col("ma") + col("mb")) / 2).as("wa"))
    val win = Window.orderBy(col("wa").asc) // |days|² rows = report-sized
    val r = w.withColumn("rn", row_number().over(win))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy()))
    // integer halves via div: Spark's `/` on longs is TRUE division
    // (double), which would silently miss the even-count lower middle
    val lo = expr("(cnt + 1) div 2")
    val hi = expr("(cnt + 2) div 2")
    r.agg(max("cnt").cast("long").as("n_pairs"),
      round(avg(when(col("rn") === lo || col("rn") === hi, col("wa"))), 6)
        .as("hl_estimate"))
      .crossJoin(broadcast(nn))
      .select(col("n_days"), col("n_pairs"), col("hl_estimate"))
  }

  /** Exact sign test counts on day-over-day changes (SPEC: Arbuthnott
    * 1710 / Dixon & Mood 1946 — the assumption-free direction test;
    * reported WITH the McNemar-form statistic (n₊−n₋)²/(n₊+n₋), the
    * χ²₁ approximation's RATIONAL core, instead of a libm tail
    * probability). Consecutive-day deltas of exact dy20 day means —
    * calendar-bounded everywhere.
    */
  q("agg_sign_test",
    s"""WITH dm AS (
      |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |         sum(${Grid.dy20Sql("value")}) / count(*) AS m
      |  FROM events GROUP BY 1),
      |dl AS (SELECT m - lag(m) OVER (ORDER BY day) AS delta FROM dm),
      |c AS (SELECT CAST(sum(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |             CAST(sum(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
      |             CAST(sum(CASE WHEN delta = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tie
      |      FROM dl WHERE delta IS NOT NULL)
      |SELECT n_pos, n_neg, n_tie,
      |       round(CAST((n_pos - n_neg) * (n_pos - n_neg) AS DOUBLE) /
      |             nullif(n_pos + n_neg, 0), 6) AS chi2_stat
      |FROM c""") { (s, d) =>
    val dm = T(s, d, "events")
      .groupBy(expr("unix_micros(ts) div 86400000000L").cast("long").as("day"))
      .agg((sum(Grid.dy20(col("value"))) / count(lit(1))).as("m"))
    val dl = dm.select(
      (col("m") - lag("m", 1).over(Window.orderBy("day"))).as("delta"))
      .filter(col("delta").isNotNull) // |days| rows = report-sized window
    dl.agg(
      sum(when(col("delta") > 0, 1L).otherwise(0L)).cast("long").as("n_pos"),
      sum(when(col("delta") < 0, 1L).otherwise(0L)).cast("long").as("n_neg"),
      sum(when(col("delta") === 0, 1L).otherwise(0L)).cast("long").as("n_tie"))
      .select(col("n_pos"), col("n_neg"), col("n_tie"),
        round(((col("n_pos") - col("n_neg")) * (col("n_pos") - col("n_neg")))
          .cast("double") / nullif(col("n_pos") + col("n_neg"), lit(0L)), 6)
          .as("chi2_stat"))
  }

  /** Wilcoxon signed-rank test on day-over-day changes (SPEC: Wilcoxon
    * 1945 with average ranks for tied |Δ| and the zero-discard rule —
    * the PAIRED rank test completing [[agg_sign_test]]: the sign test
    * uses directions only, signed-rank also weighs magnitudes;
    * [[agg_mann_whitney]] remains the unpaired sibling). Day deltas of
    * exact dy20 daily means are calendar-bounded, so ranking runs on
    * ~10²-row frames at any corpus size. Average ranks are dyadic
    * halves (exact sums); W₊/W₋, the mean n(n+1)/4 and the
    * tie-corrected variance are exact rationals; z is one sqrt.
    */
  q("agg_wilcoxon_signed_rank",
    s"""WITH dm AS (
      |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |         sum(${Grid.dy20Sql("value")}) / count(*) AS m
      |  FROM events GROUP BY 1),
      |dl AS (SELECT day, m - lag(m) OVER (ORDER BY day) AS delta FROM dm),
      |nz AS (SELECT day, delta, abs(delta) AS ad
      |       FROM dl WHERE delta IS NOT NULL AND delta <> 0),
      |rk AS (SELECT delta, avg(rn) OVER (PARTITION BY ad) AS r
      |       FROM (SELECT delta, ad,
      |                    row_number() OVER (ORDER BY ad, day) AS rn FROM nz) t),
      |tie AS (SELECT coalesce(sum(CAST(c AS DOUBLE) * c * c - c), 0) AS t3
      |        FROM (SELECT count(*) AS c FROM nz GROUP BY ad HAVING count(*) > 1) x),
      |agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |               sum(CASE WHEN delta > 0 THEN r ELSE 0 END) AS wp,
      |               sum(CASE WHEN delta < 0 THEN r ELSE 0 END) AS wm
      |        FROM rk)
      |SELECT agg.n AS n_nonzero, round(agg.wp, 2) AS w_plus,
      |       round(agg.wm, 2) AS w_minus,
      |       round((agg.wp - agg.n * (agg.n + 1) / 4.0) /
      |             nullif(sqrt(agg.n * (agg.n + 1.0) * (2 * agg.n + 1) / 24.0
      |                         - tie.t3 / 48.0), 0), 4) AS z
      |FROM agg, tie""") { (s, d) =>
    val dm = T(s, d, "events")
      .groupBy(expr("unix_micros(ts) div 86400000000L").cast("long").as("day"))
      .agg((sum(Grid.dy20(col("value"))) / count(lit(1))).as("m"))
    val dl = dm.select(col("day"),
      (col("m") - lag("m", 1).over(Window.orderBy("day"))).as("delta"))
    val nz = dl.filter(col("delta").isNotNull && col("delta") =!= 0)
      .withColumn("ad", abs(col("delta")))
      .transform(Checkpoints.take) // |days| rows: feeds ranks AND the tie term
    val rk = nz
      .withColumn("rn", row_number().over(Window.orderBy(col("ad"), col("day"))))
      .withColumn("r", avg("rn").over(Window.partitionBy("ad")))
    val tie = nz.groupBy("ad").agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .agg(coalesce(sum(col("c").cast("double") * col("c") * col("c") - col("c")),
        lit(0.0)).as("t3"))
    val agg = rk.agg(count(lit(1)).cast("long").as("n"),
      sum(when(col("delta") > 0, col("r")).otherwise(0.0)).as("wp"),
      sum(when(col("delta") < 0, col("r")).otherwise(0.0)).as("wm"))
    val n = col("n")
    agg.crossJoin(broadcast(tie))
      .select(n.as("n_nonzero"), round(col("wp"), 2).as("w_plus"),
        round(col("wm"), 2).as("w_minus"),
        round((col("wp") - n * (n + 1) / lit(4.0)) /
          nullif(sqrt(n * (n + lit(1.0)) * (lit(2) * n + 1) / lit(24.0)
            - col("t3") / lit(48.0)), lit(0.0)), 4).as("z"))
  }

  /** Pettitt changepoint test on the daily mean value (SPEC: Pettitt
    * 1979 — the rank-based single-changepoint detector; the LOCATION
    * companion of [[ts_mann_kendall]]'s trend direction: U_t counts
    * sign agreements across every before/after split and the argmax
    * |U_t| is the most probable break day). Daily aggregation makes a
    * 100 TB event log a CALENDAR-sized problem (the theil_sen/
    * mann_kendall device): U_t runs as one |days|³ sign aggregation
    * over exact dy20 day means — ~10⁴–10⁵ tiny rows at any corpus
    * size. p-value bound reported as its RATIONAL exponent
    * −6K²/(n³+n²) (Pettitt's approximation without the libm exp —
    * rule: no transcendentals in hashed output). Ties in |U_t| break
    * to the earliest day.
    */
  q("ts_changepoint_pettitt",
    s"""WITH dm AS (
      |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |         sum(${Grid.dy20Sql("value")}) / count(*) AS m
      |  FROM events GROUP BY 1),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dm),
      |u AS (SELECT t.day AS t,
      |             CAST(sum(CASE WHEN a.m > b.m THEN 1
      |                           WHEN a.m < b.m THEN -1 ELSE 0 END) AS BIGINT) AS u_t
      |      FROM dm t JOIN dm a ON a.day <= t.day JOIN dm b ON b.day > t.day
      |      GROUP BY t.day),
      |k AS (SELECT t, u_t,
      |             row_number() OVER (ORDER BY abs(u_t) DESC, t) AS rn FROM u)
      |SELECT nn.n AS n_days, k.t AS change_day, k.u_t AS u_stat,
      |       CAST(abs(k.u_t) AS BIGINT) AS k_stat,
      |       round(-6.0 * k.u_t * k.u_t /
      |             (CAST(nn.n AS DOUBLE) * nn.n * nn.n + nn.n * nn.n), 6) AS log_p_bound
      |FROM k, nn WHERE rn = 1""") { (s, d) =>
    val dm = T(s, d, "events")
      .groupBy(expr("unix_micros(ts) div 86400000000L").cast("long").as("day"))
      .agg((sum(Grid.dy20(col("value"))) / count(lit(1))).as("m"))
      .transform(Checkpoints.take) // feeds the split join THREE ways + the count
    val nn = dm.agg(count(lit(1)).cast("long").as("n"))
    val t = dm.select(col("day").as("t"))
    val a = dm.select(col("day").as("da"), col("m").as("ma"))
    val b = dm.select(col("day").as("db"), col("m").as("mb"))
    val u = t.join(a, col("da") <= col("t")).join(b, col("db") > col("t"))
      .groupBy("t")
      .agg(sum(when(col("ma") > col("mb"), 1L)
        .when(col("ma") < col("mb"), -1L).otherwise(0L)).cast("long").as("u_t"))
    val w = Window.orderBy(abs(col("u_t")).desc, col("t").asc)
    val n = col("n").cast("double")
    u.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .crossJoin(broadcast(nn))
      .select(col("n").as("n_days"), col("t").as("change_day"),
        col("u_t").as("u_stat"), abs(col("u_t")).cast("long").as("k_stat"),
        round(lit(-6.0) * col("u_t") * col("u_t") /
          (n * n * n + n * n), 6).as("log_p_bound"))
  }

  /** SAX symbolization of the per-type daily series (SPEC: Lin,
    * Keogh, Lonardi & Chiu 2003 — Piecewise Aggregate Approximation
    * to w=8 segments, then a 4-letter alphabet; THE time-series
    * indexing/motif primitive). Breakpoints are a deterministic
    * RANGE-SCALED variant of the Gaussian table: {μ−Δ/8, μ, μ+Δ/8}
    * with Δ = max−min — every breakpoint is exact arithmetic on
    * exact inputs, so a symbol can never ulp-flip across engines
    * (the N(0,1) z-normalization would put libm sqrt under a
    * DISCRETE output). Exactness chain: values snap to dy20 → daily
    * grid sums exact → the daily mean re-snaps to the grid → segment
    * sums and the global μ/min/max are order-free → PAA and every
    * comparison is identical IEEE. The daily aggregation bounds the
    * rest at calendar size; the per-type window partitions are
    * ≤|days| rows each.
    */
  q("ts_sax",
    s"""WITH dm AS (
      |  SELECT event_type, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |         ${Grid.dy20Sql(s"sum(${Grid.dy20Sql("value")}) / count(*)")} AS m
      |  FROM events GROUP BY 1, 2),
      |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
      |              sum(m) / count(*) AS mu, min(m) AS mn, max(m) AS mx
      |       FROM dm GROUP BY 1),
      |r AS (SELECT event_type, m,
      |             row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS i
      |      FROM dm),
      |seg AS (SELECT r.event_type, (r.i * 8) // st.nd AS sg,
      |               sum(r.m) / count(*) AS paa
      |        FROM r JOIN st ON r.event_type = st.event_type
      |        GROUP BY 1, 2),
      |sym AS (SELECT seg.event_type, seg.sg, round(seg.paa, 6) AS paa6,
      |               CASE WHEN seg.paa < st.mu - (st.mx - st.mn) / 8.0 THEN 'a'
      |                    WHEN seg.paa < st.mu THEN 'b'
      |                    WHEN seg.paa < st.mu + (st.mx - st.mn) / 8.0 THEN 'c'
      |                    ELSE 'd' END AS c
      |        FROM seg JOIN st ON seg.event_type = st.event_type)
      |SELECT event_type, string_agg(c, '' ORDER BY sg) AS sax_word,
      |       CAST(count(*) AS INTEGER) AS n_segments,
      |       round(sum(paa6), 6) AS paa_sum
      |FROM sym GROUP BY event_type ORDER BY event_type""") { (s, d) =>
    val dm = T(s, d, "events")
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000L").cast("long").as("day"))
      .agg(Grid.dy20(sum(Grid.dy20(col("value"))) / count(lit(1))).as("m"))
      .transform(Checkpoints.take)
    val st = dm.groupBy("event_type")
      .agg(count(lit(1)).cast("long").as("nd"),
        (sum("m") / count(lit(1))).as("mu"), min("m").as("mn"), max("m").as("mx"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val r = dm.withColumn("i", row_number().over(w) - 1)
    val seg = r.join(broadcast(st.select(col("event_type").as("et"), col("nd"))),
        col("event_type") === col("et"))
      .groupBy(col("event_type"), expr("cast((i * 8) div nd as bigint)").as("sg"))
      .agg((sum("m") / count(lit(1))).as("paa"))
    val delta8 = (col("mx") - col("mn")) / lit(8.0)
    val sym = seg.join(broadcast(st.select(col("event_type").as("et2"),
        col("mu"), col("mn"), col("mx"))), col("event_type") === col("et2"))
      .select(col("event_type"), col("sg"), round(col("paa"), 6).as("paa6"),
        when(col("paa") < col("mu") - delta8, "a")
          .when(col("paa") < col("mu"), "b")
          .when(col("paa") < col("mu") + delta8, "c")
          .otherwise("d").as("c"))
    sym.groupBy("event_type")
      .agg(concat_ws("", sort_array(collect_list(struct(col("sg"), col("c"))))
          .getField("c")).as("sax_word"),
        count(lit(1)).cast("int").as("n_segments"),
        round(sum("paa6"), 6).as("paa_sum"))
      .reportSorted("event_type")
  }

  /** Matrix profile of the daily-mean series (SPEC: Yeh et al. 2016
    * "Matrix Profile I" — per subsequence, the distance to its nearest
    * non-trivial neighbor; THE motif/discord discovery primitive: low
    * profile = repeated pattern, spike = anomaly). Window w=4 with the
    * standard |i−j| ≥ w exclusion zone; plain (non-normalized)
    * squared Euclidean keeps every distance a FIXED-ORDER sum of four
    * exact-grid squares — bit-identical across engines, so the argmin
    * and its ties (→ smallest j) are exact where a z-normalized
    * variant would put libm σ under a discrete index. The daily
    * aggregation bounds everything at calendar size: subsequences via
    * three index equi-joins, the all-pairs frame is |days|² (the
    * theil_sen argument), top-1 per i via rank-pruned window.
    */
  q("ts_matrix_profile",
    s"""WITH dm AS (
      |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |         ${Grid.dy20Sql(s"sum(${Grid.dy20Sql("value")}) / count(*)")} AS m
      |  FROM events GROUP BY 1),
      |idx AS (SELECT m, row_number() OVER (ORDER BY day) - 1 AS i FROM dm),
      |sub AS (SELECT a.i, a.m AS m0, b.m AS m1, c.m AS m2, d.m AS m3
      |        FROM idx a JOIN idx b ON b.i = a.i + 1
      |                   JOIN idx c ON c.i = a.i + 2
      |                   JOIN idx d ON d.i = a.i + 3),
      |pairs AS (
      |  SELECT x.i, y.i AS j,
      |         (x.m0 - y.m0) * (x.m0 - y.m0) + (x.m1 - y.m1) * (x.m1 - y.m1)
      |         + (x.m2 - y.m2) * (x.m2 - y.m2) + (x.m3 - y.m3) * (x.m3 - y.m3) AS d2
      |  FROM sub x JOIN sub y ON abs(x.i - y.i) >= 4)
      |SELECT i, nn_j, round(d2, 6) AS nn_dist2 FROM (
      |  SELECT i, j AS nn_j, d2,
      |         row_number() OVER (PARTITION BY i ORDER BY d2, j) AS rn
      |  FROM pairs) t
      |WHERE rn = 1 ORDER BY i""") { (s, d) =>
    val dm = T(s, d, "events")
      .groupBy(expr("unix_micros(ts) div 86400000000L").cast("long").as("day"))
      .agg(Grid.dy20(sum(Grid.dy20(col("value"))) / count(lit(1))).as("m"))
      .withColumn("one", lit(1L))
      .transform(Checkpoints.take)
    val idx = WindowOps.globalPrefixSums(dm, Seq(col("day").asc), Seq("one"))
      .select(col("m"), (col("cum_one") - 1).as("i"))
      .transform(Checkpoints.take)
    def at(k: Int, tag: String): DataFrame =
      idx.select((col("i") - k).as(s"i$tag"), col("m").as(s"m$tag$k"))
    val sub = idx.select(col("i"), col("m").as("m0"))
      .join(at(1, "b"), col("i") === col("ib"))
      .join(at(2, "c"), col("i") === col("ic"))
      .join(at(3, "d"), col("i") === col("id"))
      .select(col("i"), col("m0"), col("mb1").as("m1"),
        col("mc2").as("m2"), col("md3").as("m3"))
      .transform(Checkpoints.take)
    val x = sub.select(sub.columns.toSeq.map(c => col(c).as(s"x_$c")): _*)
    val y = sub.select(sub.columns.toSeq.map(c => col(c).as(s"y_$c")): _*)
    val d2 = (col("x_m0") - col("y_m0")) * (col("x_m0") - col("y_m0")) +
      (col("x_m1") - col("y_m1")) * (col("x_m1") - col("y_m1")) +
      (col("x_m2") - col("y_m2")) * (col("x_m2") - col("y_m2")) +
      (col("x_m3") - col("y_m3")) * (col("x_m3") - col("y_m3"))
    val w = Window.partitionBy("x_i").orderBy(col("d2").asc, col("y_i").asc)
    x.join(y, abs(col("x_i") - col("y_i")) >= 4)
      .withColumn("d2", d2)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("x_i").as("i"), col("y_i").as("nn_j"),
        round(col("d2"), 6).as("nn_dist2"))
      .orderBy("i")
  }

  /** Hurst exponent by rescaled-range analysis (SPEC: Hurst 1951 /
    * Mandelbrot & Wallis 1969 R/S — long-range-dependence measurement:
    * H≈0.5 ⇒ random walk, H>0.5 ⇒ persistent trend, H<0.5 ⇒ mean
    * reversion; the memory diagnostic run before choosing a forecast
    * family). Window sizes n ∈ {4, 8, 16} partition the daily-mean
    * series into full segments; per segment R = range of the
    * cumulative deviation walk, S = population σ; H is the log-log
    * slope — which over the dyadic grid {2²,2³,2⁴} collapses to
    * (log₂RS₁₆ − log₂RS₄)/2, no general OLS. Determinism: daily means
    * are dy20-grid (order-free sums), the cumulative walk's order is
    * pinned by its window ORDER BY, R/S per segment is closed-form on
    * exact inputs; the ≤|days|/4 per-n averages and the two log₂ sit
    * under round-4/6 (the anova precedent). Everything after the
    * daily aggregate is calendar-bounded.
    */
  q("ts_hurst_rs",
    s"""WITH dm AS (
      |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |         ${Grid.dy20Sql(s"sum(${Grid.dy20Sql("value")}) / count(*)")} AS m
      |  FROM events GROUP BY 1),
      |idx AS (SELECT m, row_number() OVER (ORDER BY day) - 1 AS i,
      |               count(*) OVER () AS nd
      |        FROM dm),
      |seg AS (SELECT n.n, i // n.n AS sg, m, i
      |        FROM idx CROSS JOIN (VALUES (4), (8), (16)) n(n)
      |        WHERE i // n.n < nd // n.n),
      |mu AS (SELECT n, sg, sum(m) / count(*) AS mu FROM seg GROUP BY n, sg),
      |cumd AS (SELECT s.n, s.sg, s.m, mu.mu,
      |                sum(s.m - mu.mu) OVER (PARTITION BY s.n, s.sg ORDER BY s.i
      |                  ROWS UNBOUNDED PRECEDING) AS cum
      |         FROM seg s JOIN mu ON mu.n = s.n AND mu.sg = s.sg),
      |rs AS (SELECT n, sg,
      |              (max(cum) - min(cum))
      |                / nullif(sqrt(sum((m - mu) * (m - mu)) / n), 0) AS rs
      |       FROM cumd GROUP BY n, sg),
      |a AS (SELECT n, avg(rs) AS ars, CAST(count(rs) AS BIGINT) AS n_seg
      |      FROM rs GROUP BY n)
      |SELECT CAST((SELECT count(*) FROM dm) AS BIGINT) AS n_days,
      |       round(max(CASE WHEN n = 4 THEN ars END), 6) AS rs4,
      |       round(max(CASE WHEN n = 8 THEN ars END), 6) AS rs8,
      |       round(max(CASE WHEN n = 16 THEN ars END), 6) AS rs16,
      |       round((log2(max(CASE WHEN n = 16 THEN ars END))
      |              - log2(max(CASE WHEN n = 4 THEN ars END))) / 2.0, 4) AS hurst
      |FROM a""") { (s, d) =>
    val dm = T(s, d, "events")
      .groupBy(expr("unix_micros(ts) div 86400000000L").cast("long").as("day"))
      .agg(Grid.dy20(sum(Grid.dy20(col("value"))) / count(lit(1))).as("m"))
      .withColumn("one", lit(1L))
      .transform(Checkpoints.take)
    val nd = dm.agg(count(lit(1)).cast("long").as("nd"))
    val idx = WindowOps.globalPrefixSums(dm, Seq(col("day").asc), Seq("one"))
      .select(col("m"), (col("cum_one") - 1).as("i"))
      .crossJoin(broadcast(nd))
    val sess = s
    import sess.implicits._
    val ns = broadcast(Seq(4L, 8L, 16L).toDF("n"))
    val seg = idx.crossJoin(ns)
      .filter(expr("i div n < nd div n"))
      .select(col("n"), expr("i div n").as("sg"), col("m"), col("i"))
    val mu = seg.groupBy("n", "sg").agg((sum("m") / count(lit(1))).as("mu"))
    val wCum = Window.partitionBy("n", "sg").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumd = seg.join(mu, Seq("n", "sg"))
      .withColumn("cum", sum(col("m") - col("mu")).over(wCum))
    val rs = cumd.groupBy("n", "sg")
      .agg(((max("cum") - min("cum")) /
        nullif(sqrt(sum((col("m") - col("mu")) * (col("m") - col("mu"))) / col("n")),
          lit(0.0))).as("rs"))
    val a = rs.groupBy("n").agg(avg("rs").as("ars"))
    val rs4 = max(when(col("n") === 4, col("ars")))
    val rs8 = max(when(col("n") === 8, col("ars")))
    val rs16 = max(when(col("n") === 16, col("ars")))
    a.agg(round(rs4, 6).as("rs4"), round(rs8, 6).as("rs8"),
        round(rs16, 6).as("rs16"),
        round((log2(rs16) - log2(rs4)) / 2.0, 4).as("hurst"))
      .crossJoin(broadcast(nd.select(col("nd").as("n_days"))))
      .select(col("n_days"), col("rs4"), col("rs8"), col("rs16"), col("hurst"))
  }

  /** Dynamic time warping distance between the click and purchase
    * daily-mean series (SPEC: Sakoe & Chiba 1978 DTW — the elastic
    * distance that aligns series with lead/lag and speed differences
    * where Euclidean/correlation assume index-aligned samples; the
    * similarity primitive under ts motif search and series
    * clustering). Both series PAA-resample to L=12 points (the SAX
    * row's segmentation — THE standard pre-DTW step, and what turns a
    * 100 TB event log into a 12×12 DP), then the full O(L²) DP runs
    * as 144 chained projections over a 1-row frame — inside the plan,
    * not on the driver. Determinism: PAA values are exact rationals
    * of dy20 grid sums; every DP cell is one fixed expression
    * (abs-diff + least of already-identical cells), so the
    * accumulation ORDER is pinned by the recurrence itself and the
    * final distance is bit-identical before its single round-6. The
    * oracle unrolls the same 144 cells as chained CTEs.
    */
  q("ts_dtw", {
    val L = 12
    def pivotCols(pfx: String): String = (1 to L)
      .map(k => s"max(CASE WHEN sg = ${k - 1} THEN paa END) AS $pfx$k")
      .mkString(",\n       ")
    val cells = (for { i <- 0 until L; j <- 0 until L } yield {
      val cost = s"abs(pa.a${i + 1} - pb.b${j + 1})"
      val (refs, d) = (i, j) match {
        case (0, 0) => ("", cost)
        case (0, _) => (s", c_0_${j - 1}", s"$cost + c_0_${j - 1}.d")
        case (_, 0) => (s", c_${i - 1}_0", s"$cost + c_${i - 1}_0.d")
        case _ => (s", c_${i - 1}_$j, c_${i}_${j - 1}, c_${i - 1}_${j - 1}",
          s"$cost + least(c_${i - 1}_$j.d, c_${i}_${j - 1}.d, c_${i - 1}_${j - 1}.d)")
      }
      // MATERIALIZED: DuckDB inlines plain CTEs, which would expand the
      // DP recurrence into an exponential tree (and re-scan the parquet
      // per cell — the "too many open files" failure mode)
      s"c_${i}_$j AS MATERIALIZED (SELECT $d AS d FROM pa, pb$refs)"
    }).mkString(",\n")
    s"""WITH dm AS MATERIALIZED (
       |  SELECT event_type, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
       |         ${Grid.dy20Sql(s"sum(${Grid.dy20Sql("value")}) / count(*)")} AS m
       |  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1, 2),
       |cnt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd FROM dm GROUP BY 1),
       |r AS (SELECT d.event_type, d.m, c.nd,
       |             row_number() OVER (PARTITION BY d.event_type ORDER BY d.day) - 1 AS i
       |      FROM dm d JOIN cnt c ON d.event_type = c.event_type),
       |seg AS (SELECT event_type, (i * $L) // nd AS sg, sum(m) / count(*) AS paa
       |        FROM r GROUP BY 1, 2),
       |pa AS MATERIALIZED (SELECT ${pivotCols("a")}
       |       FROM seg WHERE event_type = 'click'),
       |pb AS MATERIALIZED (SELECT ${pivotCols("b")}
       |       FROM seg WHERE event_type = 'purchase'),
       |$cells
       |SELECT ca.nd AS n_days_a, cb.nd AS n_days_b,
       |       round(c_${L - 1}_${L - 1}.d, 6) AS dtw
       |FROM c_${L - 1}_${L - 1},
       |     (SELECT nd FROM cnt WHERE event_type = 'click') ca,
       |     (SELECT nd FROM cnt WHERE event_type = 'purchase') cb"""
  }) { (s, d) =>
    val L = 12
    val dm = T(s, d, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000L").cast("long").as("day"))
      .agg(Grid.dy20(sum(Grid.dy20(col("value"))) / count(lit(1))).as("m"))
      .transform(Checkpoints.take)
    val cnt = dm.groupBy("event_type").agg(count(lit(1)).cast("long").as("nd"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val seg = dm.join(broadcast(cnt.select(col("event_type").as("et"), col("nd"))),
        col("event_type") === col("et"))
      .withColumn("i", row_number().over(w) - 1)
      .groupBy(col("event_type"), expr(s"cast((i * $L) div nd as bigint)").as("sg"))
      .agg((sum("m") / count(lit(1))).as("paa"))
      .transform(Checkpoints.take)
    def pivot(et: String, pfx: String): DataFrame = {
      val cs = (1 to L).map(k =>
        max(when(col("sg") === (k - 1), col("paa"))).as(s"$pfx$k"))
      seg.filter(col("event_type") === et).agg(cs.head, cs.tail: _*)
    }
    var f = pivot("click", "a").crossJoin(pivot("purchase", "b"))
    for (i <- 0 until L; j <- 0 until L) {
      val cost = abs(col(s"a${i + 1}") - col(s"b${j + 1}"))
      val cell = (i, j) match {
        case (0, 0) => cost
        case (0, _) => cost + col(s"d_0_${j - 1}")
        case (_, 0) => cost + col(s"d_${i - 1}_0")
        case _ => cost + least(col(s"d_${i - 1}_$j"), col(s"d_${i}_${j - 1}"),
          col(s"d_${i - 1}_${j - 1}"))
      }
      f = f.withColumn(s"d_${i}_$j", cell)
    }
    val ca = cnt.filter(col("event_type") === "click")
      .select(col("nd").as("n_days_a"))
    val cb = cnt.filter(col("event_type") === "purchase")
      .select(col("nd").as("n_days_b"))
    f.crossJoin(broadcast(ca)).crossJoin(broadcast(cb))
      .select(col("n_days_a"), col("n_days_b"),
        round(col(s"d_${L - 1}_${L - 1}"), 6).as("dtw"))
  }

  /** Spearman rank trend of the daily mean value (SPEC: Spearman 1904
    * ρ between time index and level, tie-handled as Pearson on average
    * ranks — the bounded-effect-size companion of [[ts_mann_kendall]]:
    * MK answers "is there a trend", ρ says how close to monotone).
    * EVERY quantity is exact integer arithmetic: days are unique so
    * the time rank is the day prefix count; value ranks double to
    * integers (2·avg-rank = 2·below + t + 1); all five co-moment sums
    * run in BIGINT on doubled ranks (ρ is scale-invariant), bounded by
    * n³ ≈ 2⁴² at a 30-year daily calendar. Two globalPrefixSums passes
    * over calendar-bounded frames + one closed form; ρ and the t
    * approximation are the only doubles, rounded once.
    */
  q("ts_spearman_trend",
    s"""WITH dm AS (
      |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |         sum(${Grid.dy20Sql("value")}) / count(*) AS m
      |  FROM events GROUP BY 1),
      |r AS (SELECT CAST(row_number() OVER (ORDER BY day) * 2 AS BIGINT) AS rx2,
      |             CAST(2 * (rank() OVER (ORDER BY m)) - 1
      |                  + count(*) OVER (PARTITION BY m) AS BIGINT) AS ry2
      |      FROM dm),
      |c AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(rx2) AS BIGINT) AS sx, CAST(sum(ry2) AS BIGINT) AS sy,
      |             CAST(sum(rx2 * rx2) AS BIGINT) AS sxx,
      |             CAST(sum(ry2 * ry2) AS BIGINT) AS syy,
      |             CAST(sum(rx2 * ry2) AS BIGINT) AS sxy
      |      FROM r)
      |SELECT n AS n_days,
      |       round((n * sxy - sx * sy) * 1.0 /
      |             nullif(sqrt((n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy)), 0), 6) AS rho
      |FROM c""") { (s, d) =>
    val dm = T(s, d, "events")
      .groupBy(expr("unix_micros(ts) div 86400000000L").cast("long").as("day"))
      .agg((sum(Grid.dy20(col("value"))) / count(lit(1))).as("m"),
        lit(1L).as("one"))
      .transform(Checkpoints.take)
    // time rank: days unique, so prefix count over day order IS the rank
    val rx = WindowOps.globalPrefixSums(dm, Seq(col("day").asc), Seq("one"))
      .select(col("day"), col("m"), (col("cum_one") * 2).as("rx2"))
    // value rank: grouped frame + prefix, 2·avg-rank = 2·below + t + 1
    val gm = dm.groupBy("m").agg(count(lit(1)).as("t"))
    val ry = WindowOps.globalPrefixSums(gm, Seq(col("m").asc), Seq("t"))
      .select(col("m").as("mv"),
        (lit(2L) * (col("cum_t") - col("t")) + col("t") + 1).as("ry2"))
    val c = rx.join(ry, col("m") === col("mv"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum("rx2").cast("long").as("sx"), sum("ry2").cast("long").as("sy"),
        sum(col("rx2") * col("rx2")).cast("long").as("sxx"),
        sum(col("ry2") * col("ry2")).cast("long").as("syy"),
        sum(col("rx2") * col("ry2")).cast("long").as("sxy"))
    val n = col("n")
    c.select(n.as("n_days"),
      round((n * col("sxy") - col("sx") * col("sy")) * lit(1.0) /
        nullif(sqrt(((n * col("sxx") - col("sx") * col("sx")) * lit(1.0) *
          (n * col("syy") - col("sy") * col("sy"))).cast("double")), lit(0.0)),
        6).as("rho"))
  }

  // ------------------------------------------------------------------
  // Classifier-evaluation family: the metrics a curation stack runs on
  // its quality classifier before trusting it to gate a corpus. The
  // "classifier" under evaluation is the registered
  // [[pipeline_quality_logistic]] linear gate (exact integer-feature
  // logit, bit-identical on both engines); the weak label is lang='en'
  // (the fastText-style proxy task: does surface quality predict the
  // headline language slice). Scores and labels are therefore fully
  // deterministic — the eval rows exercise the METRIC machinery, which
  // is what must scale and stay exact.
  // ------------------------------------------------------------------

  /** (doc_id, y∈{0,1}, s) — the logit of pipeline_quality_logistic and
    * the lang='en' weak label. Exact integer arithmetic throughout: t
    * and ch are integers, so s is ONE fixed IEEE expression both
    * engines evaluate bit-identically — every eval row can group,
    * rank, and threshold on it with zero cross-engine ambiguity.
    */
  private def scoredDocs(s: SparkSession, d: String): DataFrame = {
    val f = T(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).as("t"),
        length(col("text")).as("ch"))
    val mwl = (col("ch") - col("t") + 1) * lit(1.0) / col("t")
    f.select(col("doc_id"),
      when(col("lang") === "en", 1L).otherwise(0L).as("y"),
      (lit(-2.0) + lit(0.015) * col("t") + lit(0.45) * mwl).as("s"))
  }

  /** Per-distinct-score confusion mass: (s, pos, neg, n) — the grouped
    * frame all three threshold-sweep metrics run on. Two-phase agg
    * keyed on the score (map-side partials), output bounded by the
    * distinct-score count.
    */
  private def scoreGroups(docs: DataFrame): DataFrame =
    // checkpoint: every consumer reads this twice (prefix pass + the
    // totals aggregate) — without it the corpus scan and group-by
    // re-run for the 1-row totals (the r14 dsir plan-audit lesson)
    docs.groupBy("s").agg(
      sum("y").cast("long").as("pos"),
      (count(lit(1)) - sum("y")).cast("long").as("neg"),
      count(lit(1)).cast("long").as("n"))
      .transform(Checkpoints.take)

  private val evalFG =
    """f AS (
      |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
      |         CAST(-2.0 AS DOUBLE) + CAST(0.015 AS DOUBLE) * t
      |           + CAST(0.45 AS DOUBLE) * ((ch - t + 1) * 1.0 / t) AS s
      |  FROM (SELECT doc_id, lang, len(str_split(text, ' ')) AS t,
      |               length(text) AS ch FROM documents)),
      |g AS (SELECT s, CAST(sum(y) AS BIGINT) AS pos,
      |             CAST(count(*) - sum(y) AS BIGINT) AS neg,
      |             CAST(count(*) AS BIGINT) AS n
      |      FROM f GROUP BY s)""".stripMargin

  /** ROC AUC by exact pair counting (SPEC: Hanley & McNeil 1982; AUC =
    * P(s⁺ > s⁻) + ½P(s⁺ = s⁻), the Mann–Whitney U identity — ties get
    * the standard ½ credit, NOT a tie-break, so the statistic is
    * order-free). Shape: per-distinct-score confusion mass (two-phase
    * agg) → [[WindowOps.globalPrefixSums]] over the GROUPED frame for
    * cum-negatives-below (range-bucket prefix, no single-partition
    * exchange) → one scalar aggregate. u_stat2 = 2C + T (concordant
    * pairs doubled + ties) stays exact BIGINT to P·N ≤ 2⁶² — at 100 TB
    * the prefix machinery runs over distinct scores, not documents.
    */
  q("eval_auc_roc",
    s"""WITH $evalFG,
      |c AS (SELECT pos, neg,
      |             CAST(sum(neg) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING)
      |                  - neg AS BIGINT) AS below
      |      FROM g),
      |t AS (SELECT CAST(sum(pos) AS BIGINT) AS p,
      |             CAST(sum(neg) AS BIGINT) AS nn FROM g),
      |u AS (SELECT CAST(sum(pos * (2 * below + neg)) AS BIGINT) AS u2 FROM c)
      |SELECT t.p AS n_pos, t.nn AS n_neg, u.u2 AS u_stat2,
      |       round(u.u2 / (2.0 * t.p * t.nn), 6) AS auc
      |FROM t, u""") { (s, d) =>
    val g = scoreGroups(scoredDocs(s, d))
    val cum = WindowOps.globalPrefixSums(g, Seq(col("s").asc), Seq("neg"))
    val u = cum.agg(
      sum(col("pos") * (lit(2L) * (col("cum_neg") - col("neg")) + col("neg")))
        .cast("long").as("u_stat2"))
    val t = g.agg(sum("pos").cast("long").as("n_pos"),
      sum("neg").cast("long").as("n_neg"))
    t.crossJoin(broadcast(u))
      .select(col("n_pos"), col("n_neg"), col("u_stat2"),
        round(col("u_stat2") / (lit(2.0) * col("n_pos") * col("n_neg")), 6)
          .as("auc"))
  }

  /** KS separation of the score distributions (SPEC: the
    * credit-scoring "KS statistic" — max |F⁺(s) − F⁻(s)| between the
    * positive and negative score CDFs; reported beside AUC because it
    * names the single best cutoff and reads directly as "max
    * achievable TPR−FPR gap"). EXACT ARGMAX: the gap comparison runs
    * on the integer cross-product |cp·N − cq·P| (never a float CDF),
    * so the maximizing score group and tie-break (smallest score) are
    * bit-determined; only the final ratio and threshold round. Same
    * grouped-frame + one-prefix-pass shape as the rest of the eval
    * family; argmax via TakeOrdered, no global sort.
    */
  q("eval_ks_separation",
    s"""WITH $evalFG,
      |c AS (SELECT s,
      |             CAST(sum(pos) OVER w AS BIGINT) AS cp,
      |             CAST(sum(neg) OVER w AS BIGINT) AS cq
      |      FROM g WINDOW w AS (ORDER BY s ROWS UNBOUNDED PRECEDING)),
      |t AS (SELECT CAST(sum(pos) AS BIGINT) AS p,
      |             CAST(sum(neg) AS BIGINT) AS q FROM g)
      |SELECT round(c.s, 6) AS threshold,
      |       CAST(abs(c.cp * t.q - c.cq * t.p) AS BIGINT) AS gap_num,
      |       round(abs(c.cp * t.q - c.cq * t.p) * 1.0 / (t.p * t.q), 6) AS ks
      |FROM c, t
      |ORDER BY abs(c.cp * t.q - c.cq * t.p) DESC, c.s ASC LIMIT 1""") { (s, d) =>
    val g = scoreGroups(scoredDocs(s, d))
    val cum = WindowOps.globalPrefixSums(g, Seq(col("s").asc), Seq("pos", "neg"))
    val t = g.agg(sum("pos").cast("long").as("p"), sum("neg").cast("long").as("q"))
    val gap = abs(col("cum_pos") * col("q") - col("cum_neg") * col("p"))
    cum.crossJoin(broadcast(t))
      .orderBy(gap.desc, col("s").asc).limit(1)
      .select(round(col("s"), 6).as("threshold"),
        gap.cast("long").as("gap_num"),
        round(gap * lit(1.0) / (col("p") * col("q")), 6).as("ks"))
  }

  /** Poisson-bootstrap confidence interval on ROC AUC (SPEC: the
    * agg_bootstrap_ci resampling device applied to the pair-counting
    * AUC — "is the gate actually better than coin-flipping" needs the
    * CI, not the point estimate; per-document ~Poisson(1) weights per
    * replicate make all B=32 resampled AUCs computable in ONE corpus
    * pass). Everything stays EXACT INTEGER per replicate: each document
    * is exploded into replicate rows b = 0..32 — b = 0 weighs it 1 (the
    * point AUC, n_pos and n_neg), b ≥ 1 by [[Replicates.poissonWeight]]
    * (0..3) — and weighted pos/neg masses p, q are two sums grouped by
    * (b, score). ONE [[WindowOps.globalPrefixSums]] pass over (b, score)
    * with the single sum column q gives cumulative negatives; subtracting
    * replicate b's starting offset (the per-b totals of q, collected,
    * applied as a literal lookup) leaves each row its own replicate's
    * below_b, so u_b = Σ p·(2·below_b + q) stays exact BIGINT with the
    * per-replicate headroom to P·N ≈ 2⁶¹/27 (past that, sample first).
    * The CI is rank-based over the 32 round-6 replicate AUCs, one
    * sort_array over their collect_list. The generated code is narrow:
    * one weight expression and three sums, not 32 copies of each.
    */
  q("eval_auc_bootstrap", {
    val B = 32
    def wtSql(b: Int): String =
      s"""CASE WHEN ((((doc_id * 131 + $b) % 2147483648) * 1103515245 + 12345)
         | % 2147483648 + 0.5) / 2147483648.0 < 0.367879 THEN 0
         | WHEN ((((doc_id * 131 + $b) % 2147483648) * 1103515245 + 12345)
         | % 2147483648 + 0.5) / 2147483648.0 < 0.735759 THEN 1
         | WHEN ((((doc_id * 131 + $b) % 2147483648) * 1103515245 + 12345)
         | % 2147483648 + 0.5) / 2147483648.0 < 0.919699 THEN 2
         | ELSE 3 END""".stripMargin.replace("\n", "")
    val gCols = (1 to B).map(b =>
      s"CAST(sum(CASE WHEN y = 1 THEN ${wtSql(b)} ELSE 0 END) AS BIGINT) AS p$b," +
        s" CAST(sum(CASE WHEN y = 0 THEN ${wtSql(b)} ELSE 0 END) AS BIGINT) AS q$b")
      .mkString(",\n      ")
    val cumCols = (1 to B).map(b =>
      s"CAST(sum(q$b) OVER w - q$b AS BIGINT) AS bl$b").mkString(",\n      ")
    val uCols = (1 to B).map(b =>
      s"CAST(sum(p$b * (2 * bl$b + q$b)) AS BIGINT) AS u$b," +
        s" CAST(sum(p$b) AS BIGINT) AS tp$b, CAST(sum(q$b) AS BIGINT) AS tq$b")
      .mkString(",\n      ")
    // coalesce(…, 0.5): a replicate whose weighted positive/negative
    // mass is 0 has no defined AUC — Spark's sort_array puts NULLs
    // first, DuckDB's list_sort puts them last, so a NULL entry shifts
    // the a[2]/a[31] CI indices differently per engine. The chance-
    // level sentinel keeps both sorts index-aligned.
    val aucList = (1 to B).map(b =>
      s"coalesce(round(u$b / (2.0 * nullif(tp$b, 0) * nullif(tq$b, 0)), 6), 0.5)")
      .mkString(", ")
    s"""WITH f AS (
      |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
      |         CAST(-2.0 AS DOUBLE) + CAST(0.015 AS DOUBLE) * t
      |           + CAST(0.45 AS DOUBLE) * ((ch - t + 1) * 1.0 / t) AS s
      |  FROM (SELECT doc_id, lang, len(str_split(text, ' ')) AS t,
      |               length(text) AS ch FROM documents)),
      |g AS (SELECT s,
      |      CAST(sum(y) AS BIGINT) AS pos, CAST(count(*) - sum(y) AS BIGINT) AS neg,
      |      $gCols
      |      FROM f GROUP BY s),
      |c AS (SELECT *, CAST(sum(neg) OVER w - neg AS BIGINT) AS below,
      |      $cumCols
      |      FROM g WINDOW w AS (ORDER BY s ROWS UNBOUNDED PRECEDING)),
      |u AS (SELECT CAST(sum(pos * (2 * below + neg)) AS BIGINT) AS u0,
      |             CAST(sum(pos) AS BIGINT) AS p0, CAST(sum(neg) AS BIGINT) AS n0,
      |      $uCols
      |      FROM c),
      |srt AS (SELECT p0, n0, round(u0 / (2.0 * p0 * n0), 6) AS auc,
      |               list_sort([$aucList]) AS a
      |        FROM u)
      |SELECT p0 AS n_pos, n0 AS n_neg, auc, a[2] AS ci_lo, a[31] AS ci_hi
      |FROM srt""".stripMargin
  }) { (s, d) =>
    val B = 32
    // replicate 0 weighs every document 1: the full-sample AUC
    val w = scoredDocs(s, d)
      .select(col("doc_id"), col("y"), col("s"), explode(sequence(lit(0), lit(B))).as("b"))
      .select(col("y"), col("s"), col("b"),
        Replicates.uniform(col("doc_id"), col("b")).as("u"))
      .select(col("y"), col("s"), col("b"),
        when(col("b") === 0, 1L).otherwise(Replicates.poissonWeight(col("u"))).as("w"))
      .filter(col("w") > 0)
    val g = w.groupBy("b", "s").agg(
      sum(col("y") * col("w")).cast("long").as("p"),
      sum((lit(1L) - col("y")) * col("w")).cast("long").as("q"))
    val cum = WindowOps.globalPrefixSums(g, Seq(col("b").asc, col("s").asc), Seq("q"))
    // each replicate's starting offset in the (b, s) order, so `below`
    // is the replicate's own weighted cum-negatives
    val tq = new Array[Long](B + 1)
    cum.groupBy("b").agg(sum("q").cast("long")).collect()
      .foreach(r => tq(r.getInt(0)) = r.getLong(1))
    val below = col("cum_q") - col("q") -
      element_at(typedLit(tq.scanLeft(0L)(_ + _).init), col("b") + 1)
    val per = cum.groupBy("b").agg(
      sum(col("p") * (lit(2L) * below + col("q"))).cast("long").as("u"),
      sum("p").cast("long").as("tp"), sum("q").cast("long").as("tq"))
    val auc = round(col("u") / (lit(2.0) * nullif(col("tp"), lit(0L)) *
      nullif(col("tq"), lit(0L))), 6)
    val full = col("b") === 0
    // a replicate with no weighted mass has no row: it takes the 0.5
    // sentinel, like a row whose AUC is NULL
    val reps = col("reps")
    per.agg(max(when(full, col("tp"))).as("n_pos"), max(when(full, col("tq"))).as("n_neg"),
        max(when(full, auc)).as("auc"),
        collect_list(when(!full, coalesce(auc, lit(0.5)))).as("reps"))
      .select(col("n_pos"), col("n_neg"), col("auc"),
        sort_array(concat(reps, array_repeat(lit(0.5), lit(B) - size(reps)))).as("a"))
      .select(col("n_pos"), col("n_neg"), col("auc"),
        element_at(col("a"), 2).as("ci_lo"), element_at(col("a"), 31).as("ci_hi"))
  }

  /** Average precision / PR-AUC (SPEC: the step-wise AP of TREC /
    * scikit-learn `average_precision_score` — AP = Σ_k ΔR_k·P@k with
    * thresholds at distinct scores, the ranking metric that, unlike
    * ROC AUC, collapses under class imbalance and is therefore the one
    * curation teams actually gate on). Ties collapse into one
    * threshold step (order-free, like the AUC row). Each P@k term is
    * an exact-integer ratio snapped to the dy20 grid before the final
    * sum (rule 12: grid sums are order-exact; Σterms ≤ P keeps the
    * 2³³ headroom to ~8G positives). Same grouped-frame + prefix
    * shape as eval_auc_roc, DESC order.
    */
  q("eval_pr_auc",
    s"""WITH $evalFG,
      |c AS (SELECT pos,
      |             CAST(sum(pos) OVER w AS BIGINT) AS cp,
      |             CAST(sum(n) OVER w AS BIGINT) AS k
      |      FROM g WINDOW w AS (ORDER BY s DESC ROWS UNBOUNDED PRECEDING)),
      |t AS (SELECT CAST(sum(pos) AS BIGINT) AS p,
      |             CAST(sum(n) AS BIGINT) AS nn FROM g),
      |a AS (SELECT sum(${Grid.dy20Sql("pos * cp * 1.0 / k")}) AS num FROM c)
      |SELECT t.p AS n_pos, t.nn AS n_docs,
      |       round(a.num / t.p, 6) AS avg_precision
      |FROM t, a""") { (s, d) =>
    val g = scoreGroups(scoredDocs(s, d))
    val cum = WindowOps.globalPrefixSums(g, Seq(col("s").desc), Seq("pos", "n"))
    val a = cum.agg(
      sum(Grid.dy20(col("pos") * col("cum_pos") * lit(1.0) / col("cum_n")))
        .as("num"))
    val t = g.agg(sum("pos").cast("long").as("n_pos"),
      sum("n").cast("long").as("n_docs"))
    t.crossJoin(broadcast(a))
      .select(col("n_pos"), col("n_docs"),
        round(col("num") / col("n_pos"), 6).as("avg_precision"))
  }

  /** Best-F1 operating point (SPEC: the standard threshold sweep —
    * evaluate F1 at every distinct score treated as "predict positive
    * when s ≥ threshold", report the maximizer; how a gate's cutoff is
    * actually chosen before deployment). Every confusion count derives
    * from the same DESC prefix sums; F1 = 2·tp/(k+P) is ONE division
    * of exact integers, so the argmax comparison is identical IEEE on
    * both engines; ties break to the smallest predicted-positive set.
    * Top-1 via TakeOrdered over the distinct-score frame — no global
    * sort materializes.
    */
  q("eval_f1_sweep",
    s"""WITH $evalFG,
      |c AS (SELECT s,
      |             CAST(sum(pos) OVER w AS BIGINT) AS cp,
      |             CAST(sum(n) OVER w AS BIGINT) AS k
      |      FROM g WINDOW w AS (ORDER BY s DESC ROWS UNBOUNDED PRECEDING)),
      |t AS (SELECT CAST(sum(pos) AS BIGINT) AS p FROM g)
      |SELECT round(c.s, 6) AS threshold, c.cp AS tp,
      |       CAST(c.k - c.cp AS BIGINT) AS fp,
      |       CAST(t.p - c.cp AS BIGINT) AS fn,
      |       round(c.cp * 1.0 / c.k, 6) AS prec,
      |       round(c.cp * 1.0 / t.p, 6) AS rec,
      |       round(2.0 * c.cp / (c.k + t.p), 6) AS f1
      |FROM c, t ORDER BY 2.0 * c.cp / (c.k + t.p) DESC, c.k ASC LIMIT 1""") {
    (s, d) =>
    val g = scoreGroups(scoredDocs(s, d))
    val cum = WindowOps.globalPrefixSums(g, Seq(col("s").desc), Seq("pos", "n"))
    val t = g.agg(sum("pos").cast("long").as("p"))
    val f1 = lit(2.0) * col("cum_pos") / (col("cum_n") + col("p"))
    cum.crossJoin(broadcast(t))
      .orderBy(f1.desc, col("cum_n").asc).limit(1)
      .select(round(col("s"), 6).as("threshold"), col("cum_pos").as("tp"),
        (col("cum_n") - col("cum_pos")).as("fp"),
        (col("p") - col("cum_pos")).as("fn"),
        round(col("cum_pos") * lit(1.0) / col("cum_n"), 6).as("prec"),
        round(col("cum_pos") * lit(1.0) / col("p"), 6).as("rec"),
        round(f1, 6).as("f1"))
  }

  /** Decile lift table (SPEC: the direct-marketing/uplift standard —
    * score the population, cut into score-ordered deciles, report
    * each decile's precision relative to the base rate and the
    * cumulative recall ["gains"] curve; how a targeting gate's value
    * is communicated to non-statisticians). Deciles cut at
    * score-GROUP granularity (a tied group lands wholly in one
    * decile — the only deterministic choice; decile = ⌊(cum_n−1)·10/N⌋
    * in pure integer arithmetic), masses are exact integers, and the
    * three ratios round once each. Shape: the eval-family grouped
    * frame + ONE DESC prefix pass + a 10-group aggregate; the
    * cumulative-recall window runs over ≤10 rows (bounded by
    * construction).
    */
  q("eval_lift_curve",
    s"""WITH $evalFG,
      |c AS (SELECT pos, n,
      |             CAST(sum(pos) OVER w AS BIGINT) AS cp,
      |             CAST(sum(n) OVER w AS BIGINT) AS k
      |      FROM g WINDOW w AS (ORDER BY s DESC ROWS UNBOUNDED PRECEDING)),
      |t AS (SELECT CAST(sum(pos) AS BIGINT) AS p,
      |             CAST(sum(n) AS BIGINT) AS nn FROM g),
      |dec AS (SELECT ((c.k - 1) * 10) // t.nn AS decile,
      |               CAST(sum(c.pos) AS BIGINT) AS pos,
      |               CAST(sum(c.n) AS BIGINT) AS n
      |        FROM c, t GROUP BY 1),
      |r AS (SELECT decile, pos, n,
      |             CAST(sum(pos) OVER (ORDER BY decile
      |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cpos
      |      FROM dec)
      |SELECT CAST(r.decile AS INTEGER) AS decile, r.n AS n_docs, r.pos AS n_pos,
      |       round(r.pos * 1.0 / r.n, 6) AS prec,
      |       round((r.pos * 1.0 / r.n) / (t.p * 1.0 / t.nn), 4) AS lift,
      |       round(r.cpos * 1.0 / t.p, 6) AS cum_recall
      |FROM r, t ORDER BY decile""") { (s, d) =>
    val g = scoreGroups(scoredDocs(s, d))
    val cum = WindowOps.globalPrefixSums(g, Seq(col("s").desc), Seq("pos", "n"))
    val t = g.agg(sum("pos").cast("long").as("p"), sum("n").cast("long").as("nn"))
    val dec = cum.crossJoin(broadcast(t))
      .groupBy(expr("cast(((cum_n - 1) * 10) div nn as bigint)").as("decile"))
      .agg(sum("pos").cast("long").as("pos"), sum("n").cast("long").as("n"))
    val wCum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dec // <= 10 rows from here on: the bounded window is fine
      .withColumn("cpos", sum("pos").over(wCum).cast("long"))
      .crossJoin(broadcast(t))
      .select(col("decile").cast("int").as("decile"),
        col("n").as("n_docs"), col("pos").as("n_pos"),
        round(col("pos") * lit(1.0) / col("n"), 6).as("prec"),
        round((col("pos") * lit(1.0) / col("n")) /
          (col("p") * lit(1.0) / col("nn")), 4).as("lift"),
        round(col("cpos") * lit(1.0) / col("p"), 6).as("cum_recall"))
      .reportSorted("decile")
  }

  /** Full confusion matrix at the best-F1 operating point (SPEC: the
    * deployment report card — once [[eval_f1_sweep]] picks the
    * threshold, the decision memo wants TP/FP/FN/TN plus the
    * imbalance-robust derived metrics: specificity, balanced accuracy
    * (Brodersen 2010) and Matthews correlation (Matthews 1975 — the
    * single number that only rewards doing well on BOTH classes)).
    * Same DESC prefix machinery and argmax as the sweep; every count
    * is exact BIGINT, each metric one fixed-shape expression on the
    * argmax row rounded once (MCC's four marginal products run as
    * left-associated doubles — identical inputs, identical rounding,
    * deterministic past the 2⁵³ exactness line).
    */
  q("eval_confusion_at_best_f1",
    s"""WITH $evalFG,
      |c AS (SELECT s,
      |             CAST(sum(pos) OVER w AS BIGINT) AS cp,
      |             CAST(sum(n) OVER w AS BIGINT) AS k
      |      FROM g WINDOW w AS (ORDER BY s DESC ROWS UNBOUNDED PRECEDING)),
      |t AS (SELECT CAST(sum(pos) AS BIGINT) AS p,
      |             CAST(sum(neg) AS BIGINT) AS q FROM g),
      |best AS (SELECT c.s, c.cp AS tp, c.k - c.cp AS fp,
      |                t.p - c.cp AS fn, t.q - (c.k - c.cp) AS tn, t.p, t.q
      |         FROM c, t ORDER BY 2.0 * c.cp / (c.k + t.p) DESC, c.k ASC LIMIT 1)
      |SELECT round(s, 6) AS threshold,
      |       CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
      |       CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
      |       round((tp + tn) * 1.0 / (p + q), 6) AS accuracy,
      |       round(tn * 1.0 / q, 6) AS specificity,
      |       round((tp * 1.0 / p + tn * 1.0 / q) / 2.0, 6) AS balanced_acc,
      |       round((tp * 1.0 * tn - fp * 1.0 * fn)
      |             / nullif(sqrt((tp + fp) * 1.0 * (tp + fn) * (tn + fp) * (tn + fn)),
      |                      0), 4) AS mcc
      |FROM best""") { (s, d) =>
    val g = scoreGroups(scoredDocs(s, d))
    val cum = WindowOps.globalPrefixSums(g, Seq(col("s").desc), Seq("pos", "n"))
    val t = g.agg(sum("pos").cast("long").as("p"), sum("neg").cast("long").as("q"))
    val f1 = lit(2.0) * col("cum_pos") / (col("cum_n") + col("p"))
    val best = cum.crossJoin(broadcast(t))
      .orderBy(f1.desc, col("cum_n").asc).limit(1)
      .select(col("s"), col("cum_pos").as("tp"),
        (col("cum_n") - col("cum_pos")).as("fp"),
        (col("p") - col("cum_pos")).as("fn"),
        (col("q") - (col("cum_n") - col("cum_pos"))).as("tn"),
        col("p"), col("q"))
    val (tp, fp, fn, tn) = (col("tp"), col("fp"), col("fn"), col("tn"))
    best.select(round(col("s"), 6).as("threshold"),
      tp, fp, fn, tn,
      round((tp + tn) * lit(1.0) / (col("p") + col("q")), 6).as("accuracy"),
      round(tn * lit(1.0) / col("q"), 6).as("specificity"),
      round((tp * lit(1.0) / col("p") + tn * lit(1.0) / col("q")) / 2.0, 6)
        .as("balanced_acc"),
      round((tp * lit(1.0) * tn - fp * lit(1.0) * fn) /
        nullif(sqrt((tp + fp) * lit(1.0) * (tp + fn) * (tn + fp) * (tn + fn)),
          lit(0.0)), 4).as("mcc"))
  }

  /** Reliability diagram / calibration bins (SPEC: Naeini 2015 ECE
    * binning — decile bins of predicted probability, per-bin accuracy
    * vs mean confidence; the diagnostic run before trusting a gate's
    * scores as probabilities). Determinism devices: the bin edges are
    * LOGIT cutpoints ln(b/(10−b)) — Scala-computed doubles embedded as
    * identical literals in both engines, compared against the exact
    * logit, so binning never touches libm at eval time; the sigmoid
    * confidence (the one libm term) snaps to the dy20 grid per doc
    * before the per-bin mean (rule 12), and the gap derives from the
    * two ROUND-6 values the hash already pins (the r13 agg_sprt
    * lesson). Map-only bin assignment + one two-phase 10-group agg.
    */
  /** Brier score + Murphy decomposition (SPEC: Brier 1950; Murphy 1973
    * — mean squared error of the probability forecast split into
    * reliability − resolution + uncertainty over forecast bins, THE
    * proper-scoring companion of [[eval_calibration_bins]]: calibration
    * shows the curve, Murphy quantifies how much miscalibration vs
    * discrimination costs). Same logistic probability as the
    * calibration row, snapped to the dy12 grid (its SQUARE then lives
    * on 2⁻²⁴ — rule-12 order-exact sums); per-bin decomposition terms
    * are deterministic scalar arithmetic snapped to dy20 before the
    * ≤10-row bin sum. Two-phase aggs keyed on the bin, output 1 row.
    */
  q("eval_brier_decomp",
    s"""WITH f AS (
      |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
      |         CAST(-2.0 AS DOUBLE) + CAST(0.015 AS DOUBLE) * t
      |           + CAST(0.45 AS DOUBLE) * ((ch - t + 1) * 1.0 / t) AS s
      |  FROM (SELECT lang, len(str_split(text, ' ')) AS t,
      |               length(text) AS ch FROM documents)),
      |b AS (SELECT y, ${Grid.dy12Sql("1.0 / (1.0 + exp(-s))")} AS p FROM f),
      |bb AS (SELECT least(CAST(floor(p * 10) AS INTEGER), 9) AS bin, y, p FROM b),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy,
      |               sum((p - y) * (p - y)) AS sse
      |        FROM bb),
      |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS nk,
      |             CAST(sum(y) AS BIGINT) AS syk, sum(p) AS spk
      |      FROM bb GROUP BY bin),
      |terms AS (SELECT
      |    ${Grid.dy20Sql(
             "g.nk * (g.spk / g.nk - CAST(g.syk AS DOUBLE) / g.nk) * " +
             "(g.spk / g.nk - CAST(g.syk AS DOUBLE) / g.nk)")} AS rel_t,
      |    ${Grid.dy20Sql(
             "g.nk * (CAST(g.syk AS DOUBLE) / g.nk - CAST(tot.sy AS DOUBLE) / tot.n) * " +
             "(CAST(g.syk AS DOUBLE) / g.nk - CAST(tot.sy AS DOUBLE) / tot.n)")} AS res_t
      |  FROM g, tot)
      |SELECT tot.n AS n, round(tot.sse / tot.n, 6) AS brier,
      |       round(sum(terms.rel_t) / tot.n, 6) AS reliability,
      |       round(sum(terms.res_t) / tot.n, 6) AS resolution,
      |       round((CAST(tot.sy AS DOUBLE) / tot.n) *
      |             (1.0 - CAST(tot.sy AS DOUBLE) / tot.n), 6) AS uncertainty
      |FROM terms, tot GROUP BY tot.n, tot.sy, tot.sse""") { (s, d) =>
    val b = scoredDocs(s, d)
      .select(col("y"),
        Grid.dy12(lit(1.0) / (lit(1.0) + exp(-col("s")))).as("p"))
      .withColumn("bin", least(floor(col("p") * 10).cast("int"), lit(9)))
      .transform(Checkpoints.take) // feeds the totals AND the per-bin agg
    val tot = b.agg(count(lit(1)).cast("long").as("n"),
      sum("y").cast("long").as("sy"),
      sum((col("p") - col("y")) * (col("p") - col("y"))).as("sse"))
    val g = b.groupBy("bin").agg(count(lit(1)).cast("long").as("nk"),
      sum("y").cast("long").as("syk"), sum("p").as("spk"))
    val ybar = col("sy").cast("double") / col("n")
    val pbarK = col("spk") / col("nk")
    val ybarK = col("syk").cast("double") / col("nk")
    g.crossJoin(broadcast(tot))
      .select(col("n"), col("sy"), col("sse"),
        Grid.dy20(col("nk") * (pbarK - ybarK) * (pbarK - ybarK)).as("rel_t"),
        Grid.dy20(col("nk") * (ybarK - ybar) * (ybarK - ybar)).as("res_t"))
      .groupBy("n", "sy", "sse")
      .agg(sum("rel_t").as("rel"), sum("res_t").as("res"))
      .select(col("n"), round(col("sse") / col("n"), 6).as("brier"),
        round(col("rel") / col("n"), 6).as("reliability"),
        round(col("res") / col("n"), 6).as("resolution"),
        round((col("sy").cast("double") / col("n")) *
          (lit(1.0) - col("sy").cast("double") / col("n")), 6).as("uncertainty"))
  }

  /** Expected + maximum calibration error (SPEC: Naeini et al. 2015
    * ECE / MCE — the binned |confidence − accuracy| summaries every
    * model card reports; the L1 siblings of [[eval_brier_decomp]]'s
    * squared reliability term, over the same 10 bins and the same
    * grid-snapped logistic). Per-bin gaps are deterministic scalar
    * arithmetic; ECE terms snap dy20 before the ≤10-row sum, MCE is an
    * order-free max.
    */
  q("eval_ece",
    s"""WITH f AS (
      |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
      |         CAST(-2.0 AS DOUBLE) + CAST(0.015 AS DOUBLE) * t
      |           + CAST(0.45 AS DOUBLE) * ((ch - t + 1) * 1.0 / t) AS s
      |  FROM (SELECT lang, len(str_split(text, ' ')) AS t,
      |               length(text) AS ch FROM documents)),
      |b AS (SELECT y, ${Grid.dy12Sql("1.0 / (1.0 + exp(-s))")} AS p FROM f),
      |bb AS (SELECT least(CAST(floor(p * 10) AS INTEGER), 9) AS bin, y, p FROM b),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bb),
      |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS nk,
      |             abs(sum(p) / count(*) - CAST(sum(y) AS DOUBLE) / count(*)) AS gap
      |      FROM bb GROUP BY bin),
      |terms AS (SELECT ${Grid.dy20Sql("g.nk * g.gap")} AS ece_t, g.gap FROM g)
      |SELECT tot.n AS n,
      |       CAST((SELECT count(*) FROM g) AS INTEGER) AS n_bins,
      |       round(sum(terms.ece_t) / tot.n, 6) AS ece,
      |       round(max(terms.gap), 6) AS mce
      |FROM terms, tot GROUP BY tot.n""") { (s, d) =>
    val b = scoredDocs(s, d)
      .select(col("y"),
        Grid.dy12(lit(1.0) / (lit(1.0) + exp(-col("s")))).as("p"))
      .withColumn("bin", least(floor(col("p") * 10).cast("int"), lit(9)))
      .transform(Checkpoints.take) // feeds the total AND the per-bin agg
    val tot = b.agg(count(lit(1)).cast("long").as("n"))
    val g = b.groupBy("bin").agg(count(lit(1)).cast("long").as("nk"),
      abs(sum("p") / count(lit(1)) -
        sum("y").cast("double") / count(lit(1))).as("gap"))
    val nb = g.agg(count(lit(1)).cast("int").as("n_bins"))
    g.select(Grid.dy20(col("nk") * col("gap")).as("ece_t"), col("gap"))
      .agg(sum("ece_t").as("se"), max("gap").as("mce"))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(nb))
      .select(col("n"), col("n_bins"),
        round(col("se") / col("n"), 6).as("ece"),
        round(col("mce"), 6).as("mce"))
  }

  q("eval_calibration_bins", {
    val cuts = (1 to 9).map(b => math.log(b / (10.0 - b)))
    val cases = cuts.zipWithIndex
      .map { case (c, i) => s"WHEN s < CAST($c AS DOUBLE) THEN $i" }
      .mkString(" ")
    s"""WITH f AS (
      |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
      |         CAST(-2.0 AS DOUBLE) + CAST(0.015 AS DOUBLE) * t
      |           + CAST(0.45 AS DOUBLE) * ((ch - t + 1) * 1.0 / t) AS s
      |  FROM (SELECT lang, len(str_split(text, ' ')) AS t,
      |               length(text) AS ch FROM documents)),
      |b AS (SELECT CASE $cases ELSE 9 END AS bin, y,
      |             ${Grid.dy20Sql("1.0 / (1.0 + exp(-s))")} AS p
      |      FROM f)
      |SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(y) AS BIGINT) AS n_pos,
      |       round(sum(y) * 1.0 / count(*), 6) AS acc,
      |       round(sum(p) / count(*), 6) AS conf,
      |       round(abs(round(sum(y) * 1.0 / count(*), 6)
      |                 - round(sum(p) / count(*), 6)), 6) AS gap
      |FROM b GROUP BY bin ORDER BY bin"""
  }) { (s, d) =>
    val cuts = (1 to 9).map(b => math.log(b / (10.0 - b)))
    val bin = cuts.zipWithIndex.tail
      .foldLeft(when(col("s") < cuts.head, 0)) { case (acc, (c, i)) =>
        acc.when(col("s") < c, i)
      }.otherwise(9)
    val p = Grid.dy20(lit(1.0) / (lit(1.0) + exp(-col("s"))))
    scoredDocs(s, d)
      .select(bin.as("bin"), col("y"), p.as("p"))
      .groupBy("bin")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("y").cast("long").as("n_pos"),
        round(sum("y") * lit(1.0) / count(lit(1)), 6).as("acc"),
        round(sum("p") / count(lit(1)), 6).as("conf"))
      .withColumn("gap", round(abs(col("acc") - col("conf")), 6))
      .reportSorted("bin")
  }

  /** pass@k (r16, SPEC: Chen et al. 2021 "Evaluating Large Language
    * Models Trained on Code" §2.1 — THE code-generation eval metric):
    * per problem with n samples and c passes, the unbiased estimator
    * pass@k = 1 − C(n−c, k)/C(n, k), computed in the paper's own
    * numerically-stable falling-ratio form ∏_{i<k}(n−c−i)/(n−i).
    * Problems = users, samples = their events, pass = value > 30 (a
    * deterministic predicate both engines replay). Cross-engine
    * exactness: the edge cases short-circuit EXACTLY (n < k → NULL —
    * the estimator is undefined; n−c < k → 1.0 — some k-subset must
    * contain a pass), and the in-range product is the SAME ordered
    * left-fold of the SAME k divisions on both engines (Spark
    * `aggregate` over `sequence`, DuckDB `list_reduce` over a
    * comprehension — both strictly positive terms, no sign games).
    * One two-phase count per problem then map-side arithmetic; output
    * one row per problem = key-bounded at any event volume.
    */
  q("eval_pass_at_k", {
    def passk(k: Int) =
      s"""CASE WHEN n < $k THEN NULL
         |     WHEN n - c < $k THEN CAST(1.0 AS DOUBLE)
         |     ELSE round(1.0 - list_reduce(
         |            [CAST(n - c - i AS DOUBLE) / (n - i) FOR i IN range(0, $k)],
         |            (acc, x) -> acc * x), 6) END""".stripMargin
    s"""WITH p AS (
       |  SELECT user_id AS problem, CAST(count(*) AS INTEGER) AS n,
       |         CAST(sum(CASE WHEN value > 30 THEN 1 ELSE 0 END) AS INTEGER) AS c
       |  FROM events GROUP BY 1)
       |SELECT problem, n, c,
       |       ${passk(1)} AS pass_at_1,
       |       ${passk(5)} AS pass_at_5,
       |       ${passk(10)} AS pass_at_10
       |FROM p ORDER BY problem""".stripMargin
  }) { (s, d) =>
    def passAt(k: Int) =
      when(col("n") < k, lit(null).cast("double"))
        .when(col("n") - col("c") < k, lit(1.0))
        .otherwise(round(lit(1.0) - aggregate(
          sequence(lit(0), lit(k - 1)), lit(1.0),
          (acc, i) => acc * ((col("n") - col("c") - i).cast("double") /
            (col("n") - i).cast("double"))), 6))
    T(s, d, "events")
      .groupBy(col("user_id").as("problem"))
      .agg(count(lit(1)).cast("int").as("n"),
        sum(when(col("value") > 30.0, 1).otherwise(0)).cast("int").as("c"))
      .select(col("problem"), col("n"), col("c"),
        passAt(1).as("pass_at_1"), passAt(5).as("pass_at_5"),
        passAt(10).as("pass_at_10"))
      .orderBy("problem") // one row per problem = key-bounded
  }
}
