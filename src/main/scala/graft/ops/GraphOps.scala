package graft.ops

import graft.{Checkpoints, QueryModule, T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2 — generic graph analytics as first-class registered
  * rows (the dedup family uses CC internally; PageRank runs on the kNN
  * graph — this module exposes the graph-algorithm surface on an
  * explicit edge table, the form a user brings their own graph in).
  *
  * The test graph is built DETERMINISTICALLY from the customer table
  * (per-nation custkey-order `lead` edges), so every query — and the
  * DuckDB oracle — constructs the identical edge set from the same
  * parquet; no RNG, no external graph file.
  *
  * Scale positions:
  *  - Triangle counting uses DEGREE ORIENTATION (order vertices by
  *    (degree, id), orient every edge low→high, count each triangle at
  *    its minimum-rank vertex): wedge generation is Σ out-deg², and
  *    orientation bounds out-degree by O(√m) on any graph — the
  *    arboricity argument from Chiba & Nishizeki 1985 / the MapReduce
  *    formulation in Suri & Vassilvitskii 2011 ("Counting triangles
  *    and the curse of the last reducer"). A hub with 10⁶ neighbors
  *    contributes ~0 wedges as a SOURCE because nearly all its edges
  *    orient INTO it; the naive undirected wedge count would square
  *    the hub. Joins are equi-joins on (nation, vertex) — shuffle
  *    co-partitions cleanly.
  *  - Connected components runs min-label propagation WITH POINTER
  *    JUMPING (each round also adopts the label of one's current
  *    label: lbl ← min(lbl, lbl(lbl), min over neighbors)), so label
  *    coverage roughly doubles per round and convergence is
  *    O(log diameter) rounds instead of O(diameter) — on a 100 TB
  *    graph a path-shaped component would need thousands of
  *    hop-per-round iterations, and tens with jumping. Per round: two
  *    equi-joins + one aggregate, per-round localCheckpoint with
  *    explicit block frees (the PageRank/dedup-CC discipline), and a
  *    convergence check riding the checkpointed frame.
  */
object GraphOps extends QueryModule {

  /** Per-nation `lead` edges over customers in custkey order:
    * `withN2 = false` gives chain edges gated by a max id gap (gaps
    * split chains → nontrivial components); `withN2 = true` adds the
    * lead-2 edge ungated (the "square of a path" graph, which is
    * guaranteed to contain triangles). Edges always have a < b.
    */
  private def leadEdges(s: SparkSession, d: String, withN2: Boolean,
      maxGap: Option[Long]): DataFrame = {
    val c = T(s, d, "customer")
      .select(col("c_custkey").as("id"), col("c_nationkey").as("nk"))
    val w = Window.partitionBy("nk").orderBy("id")
    val l = c
      .withColumn("n1", lead("id", 1).over(w))
      .withColumn("n2", lead("id", 2).over(w))
    val e1 = l.filter(col("n1").isNotNull)
      .filter(maxGap.map(g => col("n1") - col("id") <= g).getOrElse(lit(true)))
      .select(col("nk"), col("id").as("a"), col("n1").as("b"))
    if (!withN2) e1
    else e1.unionByName(l.filter(col("n2").isNotNull)
      .select(col("nk"), col("id").as("a"), col("n2").as("b")))
  }

  /** Exact triangle count per nation on the path-square graph. The
    * oracle proves the degree-oriented plan ≡ the naive id-ordered
    * triple join (both count each triangle exactly once).
    */
  q("graph_triangle_count",
    """WITH c AS (SELECT c_custkey AS id, c_nationkey AS nk FROM customer),
      |l AS (SELECT nk, id,
      |             lead(id, 1) OVER (PARTITION BY nk ORDER BY id) AS n1,
      |             lead(id, 2) OVER (PARTITION BY nk ORDER BY id) AS n2
      |      FROM c),
      |e AS (SELECT nk, id AS a, n1 AS b FROM l WHERE n1 IS NOT NULL
      |      UNION ALL
      |      SELECT nk, id AS a, n2 AS b FROM l WHERE n2 IS NOT NULL)
      |SELECT e1.nk AS nk, count(*) AS n_triangles
      |FROM e e1
      |JOIN e e2 ON e2.nk = e1.nk AND e2.a = e1.b
      |JOIN e e3 ON e3.nk = e1.nk AND e3.a = e1.a AND e3.b = e2.b
      |GROUP BY 1 ORDER BY nk""") { (s, d) =>
    orientedTriangleCount(leadEdges(s, d, withN2 = true, maxGap = None))
      .reportSorted("nk")
  }

  /** Global transitivity per nation (SPEC: Newman 2003 §III.B —
    * 3·triangles / wedges, the "what fraction of open triads close"
    * clustering statistic; the GLOBAL companion of
    * [[graph_clustering_coefficient]]'s per-vertex average, and the
    * two famously disagree on hub-heavy graphs because transitivity
    * weights high-degree vertices by deg²): over the same path-square
    * graph as [[graph_triangle_count]], wedges = Σ_v deg·(deg−1)/2 —
    * all integers, so the ratio is ONE fixed-shape division (rule 5)
    * and the count reuses the degree-oriented enumeration (arboricity
    * bound, hubs never square). Cost beyond the triangle row: one
    * degree aggregate.
    */
  q("graph_transitivity",
    """WITH c AS (SELECT c_custkey AS id, c_nationkey AS nk FROM customer),
      |l AS (SELECT nk, id,
      |             lead(id, 1) OVER (PARTITION BY nk ORDER BY id) AS n1,
      |             lead(id, 2) OVER (PARTITION BY nk ORDER BY id) AS n2
      |      FROM c),
      |e AS (SELECT nk, id AS a, n1 AS b FROM l WHERE n1 IS NOT NULL
      |      UNION ALL
      |      SELECT nk, id AS a, n2 AS b FROM l WHERE n2 IS NOT NULL),
      |t AS (SELECT e1.nk AS nk, count(*) AS tri
      |      FROM e e1
      |      JOIN e e2 ON e2.nk = e1.nk AND e2.a = e1.b
      |      JOIN e e3 ON e3.nk = e1.nk AND e3.a = e1.a AND e3.b = e2.b
      |      GROUP BY 1),
      |dg AS (SELECT nk, v, count(*) AS deg FROM (
      |         SELECT nk, a AS v FROM e UNION ALL SELECT nk, b FROM e) u
      |       GROUP BY 1, 2),
      |w AS (SELECT nk, sum(deg * (deg - 1) // 2) AS wedges FROM dg GROUP BY 1)
      |SELECT w.nk AS nk, CAST(coalesce(t.tri, 0) AS BIGINT) AS n_triangles,
      |       CAST(w.wedges AS BIGINT) AS n_wedges,
      |       CASE WHEN w.wedges = 0 THEN NULL
      |            ELSE round(3.0 * coalesce(t.tri, 0) / w.wedges, 6)
      |       END AS transitivity
      |FROM w LEFT JOIN t ON t.nk = w.nk ORDER BY nk""".stripMargin) { (s, d) =>
    val e = Checkpoints.take(leadEdges(s, d, withN2 = true, maxGap = None))
    val tri = orientedTriangleCount(e)
    val deg = e.select(col("nk"), col("a").as("v"))
      .unionByName(e.select(col("nk"), col("b").as("v")))
      .groupBy("nk", "v").agg(count(lit(1)).as("deg"))
    val wedges = deg.groupBy("nk")
      .agg(sum(expr("deg * (deg - 1) div 2")).as("wedges"))
    wedges.join(tri, Seq("nk"), "left")
      .select(col("nk"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        col("wedges").as("n_wedges"),
        when(col("wedges") === 0L, lit(null).cast("double"))
          .otherwise(round(lit(3.0) * coalesce(col("n_triangles"), lit(0L))
            / col("wedges"), 6)).as("transitivity"))
      .reportSorted("nk") // one row per nation = catalog-sized
  }

  /** Degree-oriented exact triangle count per graph partition `nk`
    * over a unique undirected edge frame `(nk, a, b)` with a < b.
    * Wedges are enumerated only from each vertex's ORIENTED
    * out-neighborhood (out-degree ≤ O(√m) by the arboricity bound),
    * so a hub's edges — which all orient INTO it — never square; the
    * GraphSpec hub probe pins exactly that.
    */
  private[ops] def orientedTriangleCount(e: DataFrame): DataFrame =
    orientedTriangles(e).groupBy("nk").agg(count(lit(1)).as("n_triangles"))

  /** Degree-oriented triangle ENUMERATION: one output row `(nk, u, v1,
    * v2)` per triangle (each triangle exactly once, discovered at its
    * minimum-(degree, id)-rank vertex). The count row above and the
    * per-vertex clustering coefficient both consume this frame — the
    * Σ out-deg² wedge bound is the shared scale argument.
    */
  private[ops] def orientedTriangles(e: DataFrame): DataFrame = {
    val deg = e.select(col("nk"), col("a").as("v"))
      .unionByName(e.select(col("nk"), col("b").as("v")))
      .groupBy("nk", "v").agg(count(lit(1)).as("deg"))
    val ed = e
      .join(deg.select(col("nk"), col("v").as("a"), col("deg").as("da")), Seq("nk", "a"))
      .join(deg.select(col("nk"), col("v").as("b"), col("deg").as("db")), Seq("nk", "b"))
    // orient from the (degree, id)-smaller endpoint to the larger
    val aLower = (col("da") < col("db")) ||
      (col("da") === col("db") && col("a") < col("b"))
    val o = ed.select(col("nk"),
      when(aLower, col("a")).otherwise(col("b")).as("u"),
      when(aLower, col("b")).otherwise(col("a")).as("v"),
      when(aLower, col("db")).otherwise(col("da")).as("dv"))
    // wedge at the min-rank vertex u: pick ordered out-neighbors
    // (v1, v2) with rank(v1) < rank(v2), close with oriented (v1, v2)
    val o1 = o.select(col("nk"), col("u"), col("v").as("v1"), col("dv").as("d1"))
    val o2 = o.select(col("nk").as("nk2"), col("u").as("u2"),
      col("v").as("v2"), col("dv").as("d2"))
    val wedges = o1.join(o2,
      col("nk") === col("nk2") && col("u") === col("u2") &&
        (col("d1") < col("d2") || (col("d1") === col("d2") && col("v1") < col("v2"))))
    val closing = o.select(col("nk").as("nk3"), col("u").as("u3"), col("v").as("v3"))
    wedges.join(closing,
        col("nk") === col("nk3") && col("v1") === col("u3") && col("v2") === col("v3"))
      .select(col("nk"), col("u"), col("v1"), col("v2"))
  }

  /** Per-vertex local clustering coefficient (Watts–Strogatz 1998:
    * C(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), NULL when deg < 2) on the
    * path-square graph — the per-node density diagnostic beside the
    * global triangle count (community cores vs bridge vertices).
    * Per-vertex triangle counts come from the SAME degree-oriented
    * enumeration as [[graph_triangle_count]] (each triangle credits
    * its three corners: one explode + two-phase count — 3 rows per
    * triangle, so emission is bounded by the oriented wedge bound,
    * never deg² per vertex); the naive "join my neighbor pairs"
    * per-vertex formulation squares every hub. Coefficient = ONE
    * fixed-shape double expression over integers (rule 5), rounded
    * once; the oracle recomputes per-corner credits from the naive
    * id-ordered triple join, proving orientation assigns each
    * triangle's corners exactly once.
    */
  q("graph_clustering_coefficient",
    """WITH c AS (SELECT c_custkey AS id, c_nationkey AS nk FROM customer),
      |l AS (SELECT nk, id,
      |             lead(id, 1) OVER (PARTITION BY nk ORDER BY id) AS n1,
      |             lead(id, 2) OVER (PARTITION BY nk ORDER BY id) AS n2
      |      FROM c),
      |e AS (SELECT nk, id AS a, n1 AS b FROM l WHERE n1 IS NOT NULL
      |      UNION ALL
      |      SELECT nk, id AS a, n2 AS b FROM l WHERE n2 IS NOT NULL),
      |deg AS (SELECT nk, v, count(*) AS deg FROM (
      |          SELECT nk, a AS v FROM e UNION ALL SELECT nk, b AS v FROM e) t
      |        GROUP BY 1, 2),
      |tri AS (SELECT e1.nk AS nk, e1.a AS u, e1.b AS v1, e2.b AS v2
      |        FROM e e1
      |        JOIN e e2 ON e2.nk = e1.nk AND e2.a = e1.b
      |        JOIN e e3 ON e3.nk = e1.nk AND e3.a = e1.a AND e3.b = e2.b),
      |tc AS (SELECT nk, v, count(*) AS n_tri FROM (
      |         SELECT nk, u AS v FROM tri
      |         UNION ALL SELECT nk, v1 AS v FROM tri
      |         UNION ALL SELECT nk, v2 AS v FROM tri) t GROUP BY 1, 2)
      |SELECT deg.nk AS nk, deg.v AS v, CAST(deg.deg AS INTEGER) AS degree,
      |       CAST(coalesce(tc.n_tri, 0) AS BIGINT) AS n_tri,
      |       CASE WHEN deg.deg >= 2 THEN
      |         round(2.0 * coalesce(tc.n_tri, 0) / (deg.deg * (deg.deg - 1)), 6)
      |       END AS coef
      |FROM deg LEFT JOIN tc ON tc.nk = deg.nk AND tc.v = deg.v
      |ORDER BY nk, v""") { (s, d) =>
    val e = leadEdges(s, d, withN2 = true, maxGap = None)
    val deg = e.select(col("nk"), col("a").as("v"))
      .unionByName(e.select(col("nk"), col("b").as("v")))
      .groupBy("nk", "v").agg(count(lit(1)).as("deg"))
    val perV = orientedTriangles(e)
      .select(col("nk"), explode(array(col("u"), col("v1"), col("v2"))).as("v"))
      .groupBy("nk", "v").agg(count(lit(1)).as("n_tri"))
    deg.join(perV, Seq("nk", "v"), "left")
      .select(col("nk"), col("v"), col("deg").cast("int").as("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") >= 2,
          round(lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
            (col("deg") * (col("deg") - 1)), 6)).as("coef"))
      .reportSorted("nk", "v") // one row per vertex = input-sized
  }

  /** Personalized PageRank (Page et al. 1999 §6 / Jeh & Widom 2002's
    * restart-vector form — THE seed-relative importance measure behind
    * "related entities", TrustRank-style quality propagation, and PPR
    * sampling): identical to [[graft.ops.LlmOps.pageRank]]'s uniform
    * walk EXCEPT that restart mass AND dangling mass teleport to the
    * SEED SET (s(v) = 1/|S| on seeds, 0 elsewhere) instead of
    * uniformly — so rank decays with graph distance from the seeds.
    * Seeds: custkey ≡ 0 (mod 97). 4 unrolled rounds on the symmetrized
    * path-square graph; per round ONE co-partitioned contribution
    * join + aggregate and a broadcast 1-row dangling mass, each round
    * localCheckpointed with the CC/LPA free-previous discipline; the
    * ε-shifted 1e-6 fixpoint grid (the pageRank device) absorbs
    * shuffle-order ulps so the unrolled-CTE oracle replays the walk
    * exactly. r₀ = restart vector (the standard PPR init).
    */
  q("graph_ppr_seeded", {
    val iters = 4
    val sv = "(CASE WHEN v.seed THEN 1.0 / ns.nseeds ELSE 0.0 END)"
    val head =
      """WITH c AS (SELECT c_custkey AS id, c_nationkey AS nk FROM customer),
        |l AS (SELECT nk, id,
        |             lead(id, 1) OVER (PARTITION BY nk ORDER BY id) AS n1,
        |             lead(id, 2) OVER (PARTITION BY nk ORDER BY id) AS n2
        |      FROM c),
        |e0 AS (SELECT nk, id AS a, n1 AS b FROM l WHERE n1 IS NOT NULL
        |       UNION ALL
        |       SELECT nk, id AS a, n2 AS b FROM l WHERE n2 IS NOT NULL),
        |e AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0),
        |verts AS (SELECT c_custkey AS vid, c_custkey % 97 = 0 AS seed FROM customer),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |ns AS (SELECT CAST(count(*) AS DOUBLE) AS nseeds FROM verts WHERE seed),
        |r0 AS (SELECT v.vid, v.seed,
        |       CASE WHEN v.seed THEN 1.0 / ns.nseeds ELSE 0.0 END AS rank
        |       FROM verts v, ns)""".stripMargin
    val rounds = (1 to iters).map { k =>
      s""",
         |d$k AS (SELECT floor(coalesce(sum(r.rank), 0) * 1000000 + CAST(0.5000005 AS DOUBLE)) / 1000000 AS dmass
         |        FROM r${k - 1} r LEFT JOIN deg ON r.vid = deg.src
         |        WHERE deg.src IS NULL),
         |c$k AS (SELECT e.dst, sum(r.rank / deg.deg) AS in_sum
         |        FROM e JOIN deg ON e.src = deg.src
         |        JOIN r${k - 1} r ON r.vid = e.src
         |        GROUP BY e.dst),
         |r$k AS (SELECT v.vid, v.seed,
         |               floor(((1 - CAST(0.85 AS DOUBLE)) * $sv + CAST(0.85 AS DOUBLE) *
         |                      (coalesce(c$k.in_sum, 0) + d$k.dmass * $sv))
         |                     * 1000000 + CAST(0.5000005 AS DOUBLE)) / 1000000 AS rank
         |        FROM verts v LEFT JOIN c$k ON c$k.dst = v.vid, d$k, ns)""".stripMargin
    }.mkString
    head + rounds +
      s"\nSELECT vid AS c_custkey, rank AS ppr FROM r$iters ORDER BY c_custkey"
  }) { (s, d) =>
    val verts = T(s, d, "customer").select(col("c_custkey").as("vid"))
    val e0 = leadEdges(s, d, withN2 = true, maxGap = None)
    val edges = e0.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(e0.select(col("b").as("src"), col("a").as("dst")))
    personalizedPageRank(verts, edges, col("vid") % 97 === 0, iters = 4)
      .select(col("vid").as("c_custkey"), col("rank").as("ppr"))
      .orderBy("c_custkey") // one row per vertex = input-sized
  }

  /** HITS hubs & authorities (Kleinberg 1999 — the OTHER classic
    * eigenvector importance: where PageRank asks "where does a random
    * walk settle", HITS asks "who points at good pages (hubs) and who
    * is pointed at by good hubs (authorities)" — the two scores live
    * on the DIRECTED lead-edge graph, so they genuinely differ):
    * per round a ← Eᵀh then h ← Ea, each L1-NORMALIZED (the classic
    * norm; L2 would put a sqrt inside every round — the L1 form keeps
    * the whole fixpoint in +,/ and the ε-grid replayable). 4 unrolled
    * rounds; per round two vertex-keyed contribution joins + aggs and
    * two broadcast 1-row norm sums; per-round localCheckpoint with the
    * CC/LPA free-previous discipline; every normalized score snaps to
    * the ε-shifted 1e-6 fixpoint grid (the pageRank device) so the
    * unrolled-CTE oracle replays the iteration exactly.
    */
  q("graph_hits", {
    val iters = 4
    val head =
      """WITH c AS (SELECT c_custkey AS id, c_nationkey AS nk FROM customer),
        |l AS (SELECT nk, id,
        |             lead(id, 1) OVER (PARTITION BY nk ORDER BY id) AS n1,
        |             lead(id, 2) OVER (PARTITION BY nk ORDER BY id) AS n2
        |      FROM c),
        |e AS (SELECT id AS src, n1 AS dst FROM l WHERE n1 IS NOT NULL
        |      UNION ALL
        |      SELECT id AS src, n2 AS dst FROM l WHERE n2 IS NOT NULL),
        |verts AS (SELECT c_custkey AS vid FROM customer),
        |hub0 AS (SELECT vid, CAST(1.0 AS DOUBLE) AS hub FROM verts)""".stripMargin
    val rounds = (1 to iters).map { k =>
      s""",
         |ar$k AS (SELECT v.vid, coalesce(sum(h.hub), 0) AS araw
         |         FROM verts v LEFT JOIN e ON e.dst = v.vid
         |         LEFT JOIN hub${k - 1} h ON h.vid = e.src
         |         GROUP BY v.vid),
         |asum$k AS (SELECT sum(araw) AS s FROM ar$k),
         |auth$k AS (SELECT vid,
         |           floor(araw / asum$k.s * 1000000 + CAST(0.5000005 AS DOUBLE)) / 1000000 AS auth
         |           FROM ar$k, asum$k),
         |hr$k AS (SELECT v.vid, coalesce(sum(a.auth), 0) AS hraw
         |         FROM verts v LEFT JOIN e ON e.src = v.vid
         |         LEFT JOIN auth$k a ON a.vid = e.dst
         |         GROUP BY v.vid),
         |hsum$k AS (SELECT sum(hraw) AS s FROM hr$k),
         |hub$k AS (SELECT vid,
         |          floor(hraw / hsum$k.s * 1000000 + CAST(0.5000005 AS DOUBLE)) / 1000000 AS hub
         |          FROM hr$k, hsum$k)""".stripMargin
    }.mkString
    head + rounds +
      s"""
         |SELECT h.vid AS c_custkey, h.hub AS hub, a.auth AS authority
         |FROM hub$iters h JOIN auth$iters a ON a.vid = h.vid
         |ORDER BY c_custkey""".stripMargin
  }) { (s, d) =>
    val rc = new Checkpoints
    val verts = rc.pin("verts",
      T(s, d, "customer").select(col("c_custkey").as("vid")))
    val e0 = leadEdges(s, d, withN2 = true, maxGap = None)
    val e = rc.pin("edges",
      e0.select(col("a").as("src"), col("b").as("dst")))
    def gridFix(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      floor(c * 1e6 + lit(0.5000005)) / 1e6
    var hub = rc.cycle("hub", verts.withColumn("hub", lit(1.0)))
    var auth: DataFrame = null
    // L1 norms ride each half-round's checkpoint as Observation metrics
    // (r18, guide §2.4/§1.5): the old crossJoin(broadcast(raw.agg(sum)))
    // computed the raw-score subtree TWICE per half-round (once in the
    // broadcast subquery, once in the main path) and paid a broadcast
    // build job; now the RAW frame is what gets checkpointed, the norm
    // comes back as a driver scalar from the same materialization, and
    // the normalized view is a lazy select over the checkpoint with the
    // norm as a literal. Identical arithmetic: same shuffled double sum
    // (partition order was never pinned — the ε-shifted 1e-6 grid
    // absorbs ulps exactly as before), same gridFix division.
    for (_ <- 1 to 4) {
      val obsA = org.apache.spark.sql.Observation()
      val araw = rc.cycle("auth", verts
        .join(e, col("vid") === col("dst"), "left")
        .join(hub.select(col("vid").as("src"), col("hub").as("srch")),
          Seq("src"), "left")
        .groupBy("vid").agg(coalesce(sum("srch"), lit(0.0)).as("araw"))
        .observe(obsA, sum("araw").as("s")))
      auth = araw.select(col("vid"),
        gridFix(col("araw") / lit(obsA.get("s").asInstanceOf[Double])).as("auth"))
      val obsH = org.apache.spark.sql.Observation()
      val hraw = rc.cycle("hub", verts
        .join(e, col("vid") === col("src"), "left")
        .join(auth.select(col("vid").as("dst"), col("auth").as("dsta")),
          Seq("dst"), "left")
        .groupBy("vid").agg(coalesce(sum("dsta"), lit(0.0)).as("hraw"))
        .observe(obsH, sum("hraw").as("s")))
      hub = hraw.select(col("vid"),
        gridFix(col("hraw") / lit(obsH.get("s").asInstanceOf[Double])).as("hub"))
    }
    rc.release("verts", "edges")
    hub.join(auth, Seq("vid"))
      .select(col("vid").as("c_custkey"), col("hub"), col("auth").as("authority"))
      .orderBy("c_custkey") // one row per vertex = input-sized
  }

  /** Seed-restart PageRank over an explicit edge frame — LlmOps
    * [[graft.ops.LlmOps.pageRank]] with the restart vector s (and the
    * dangling teleport) concentrated on `isSeed` vertices. Same
    * per-round checkpoint-and-free discipline via [[Checkpoints]];
    * same ε-shifted 1e-6 fixpoint grid per round.
    */
  private[ops] def personalizedPageRank(vertices0: DataFrame, edges: DataFrame,
      isSeed: org.apache.spark.sql.Column, iters: Int,
      damping: Double = 0.85): DataFrame = {
    val rc = new Checkpoints
    val vertices = rc.pin("verts", vertices0.withColumn("seed", isSeed))
    val nSeeds = vertices.filter(col("seed")).count()
    require(nSeeds > 0, "personalizedPageRank: empty seed set")
    val e = rc.pin("edges", edges
      .join(vertices.select(col("vid").as("src")), Seq("src"), "left_semi")
      .join(vertices.select(col("vid").as("dst")), Seq("dst"), "left_semi"))
    val outdeg = rc.pin("deg", e.groupBy("src").agg(count(lit(1)).as("deg")))
    val withDeg = rc.pin("withdeg", e.join(outdeg, Seq("src")))
    // dangling mass rides each round's checkpoint as an Observation
    // metric (r18, guide §2.4/§1.5): the old per-round
    // crossJoin(broadcast(semi-join + agg)) paid a broadcast-build job
    // and re-read the ranks checkpoint; now the dangling flag is a
    // column of the cycled frame, the raw mass comes back as a driver
    // scalar from the same materialization, and the next round embeds
    // the floor-quantized value as a literal. Identical arithmetic:
    // same shuffled double sum (the ε-shifted 1e-6 grid absorbs
    // partition-order ulps exactly as before), java.lang.Math.floor ==
    // Catalyst floor on doubles.
    val vbase = rc.pin("vbase", vertices
      .join(vertices.join(outdeg, col("vid") === col("src"), "left_anti")
        .select(col("vid"), lit(true).as("dang")), Seq("vid"), "left")
      .select(col("vid"), col("seed"), coalesce(col("dang"), lit(false)).as("dang")))
    val sv = when(col("seed"), lit(1.0) / nSeeds).otherwise(lit(0.0))
    def quantized(raw: Any): Double =
      math.floor((raw match {
        case null => 0.0
        case d: java.lang.Double => d.doubleValue()
      }) * 1e6 + 0.5000005) / 1e6
    val obs0 = org.apache.spark.sql.Observation()
    var ranks = rc.cycle("ranks",
      vbase.withColumn("rank", sv)
        .observe(obs0, sum(when(col("dang"), col("rank"))).as("dm")))
    var dmass = quantized(obs0.get("dm"))
    for (_ <- 1 to iters) {
      val contribs = withDeg
        .join(ranks.select(col("vid"), col("rank")), col("src") === col("vid"))
        .select(col("dst"), (col("rank") / col("deg")).as("c"))
        .groupBy("dst").agg(sum("c").as("in_sum"))
      val obs = org.apache.spark.sql.Observation()
      ranks = rc.cycle("ranks", vbase
        .join(contribs, col("vid") === col("dst"), "left")
        .select(col("vid"), col("seed"), col("dang"),
          (floor((lit(1 - damping) * sv +
            lit(damping) * (coalesce(col("in_sum"), lit(0.0)) + lit(dmass) * sv))
            * 1e6 + lit(0.5000005)) / 1e6).as("rank"))
        .observe(obs, sum(when(col("dang"), col("rank"))).as("dm")))
      dmass = quantized(obs.get("dm"))
    }
    rc.release("verts", "edges", "deg", "withdeg", "vbase")
    ranks.select("vid", "rank")
  }

  /** Adamic–Adar link-prediction score (Adamic & Adar 2003 — the
    * standard common-neighbor index that down-weights promiscuous
    * middles: AA(a,b) = Σ_{z ∈ Γ(a)∩Γ(b)} 1/ln(deg z)) for every
    * NON-edge pair with ≥ 1 common neighbor, per nation — the
    * weighted companion to [[graph_jaccard_neighbors]]. Wedge
    * generation is the Σ deg(z)² hazard in its purest form: a 10⁶-
    * degree hub emits 10¹² pairs while contributing ≈1/ln(10⁶) ≈ 0.07
    * per pair — so middles with deg > 64 are dropped PRE-join (the
    * df-cap discipline; a no-op on the deg ≤ 4 test graph, the
    * load-bearing bound on an open-web graph), as are deg-1 middles
    * (they close no wedge, and 1/ln(1) is the rule-7 trap). Each
    * middle's weight snaps to the dy20 grid BEFORE the per-pair sum
    * (rule 12: ≤ 64 terms of ≤ 1.443 — order-exact), existing edges
    * leave via one anti-join, and every join is a (nk, vertex)
    * equi-join.
    */
  q("graph_adamic_adar",
    s"""WITH c AS (SELECT c_custkey AS id, c_nationkey AS nk FROM customer),
      |l AS (SELECT nk, id,
      |             lead(id, 1) OVER (PARTITION BY nk ORDER BY id) AS n1,
      |             lead(id, 2) OVER (PARTITION BY nk ORDER BY id) AS n2
      |      FROM c),
      |e AS (SELECT nk, id AS a, n1 AS b FROM l WHERE n1 IS NOT NULL
      |      UNION ALL
      |      SELECT nk, id AS a, n2 AS b FROM l WHERE n2 IS NOT NULL),
      |sym AS (SELECT nk, a AS z, b AS x FROM e
      |        UNION ALL SELECT nk, b AS z, a AS x FROM e),
      |deg AS (SELECT nk, z, count(*) AS deg FROM sym GROUP BY 1, 2),
      |mid AS (SELECT s.nk, s.z, s.x,
      |               ${Grid.dy20Sql("1.0 / ln(CAST(d.deg AS DOUBLE))")} AS w
      |        FROM sym s JOIN deg d ON d.nk = s.nk AND d.z = s.z
      |        WHERE d.deg BETWEEN 2 AND 64),
      |pr AS (SELECT m1.nk, m1.x AS va, m2.x AS vb, m1.w
      |       FROM mid m1 JOIN mid m2
      |         ON m2.nk = m1.nk AND m2.z = m1.z AND m1.x < m2.x),
      |sc AS (SELECT nk, va, vb, count(*) AS n_common, sum(w) AS aa
      |       FROM pr GROUP BY 1, 2, 3)
      |SELECT sc.nk AS nk, sc.va AS va, sc.vb AS vb,
      |       CAST(sc.n_common AS INTEGER) AS n_common,
      |       round(sc.aa, 6) AS aa_score
      |FROM sc LEFT JOIN e ON e.nk = sc.nk AND e.a = sc.va AND e.b = sc.vb
      |WHERE e.a IS NULL
      |ORDER BY nk, va, vb""") { (s, d) =>
    val e = leadEdges(s, d, withN2 = true, maxGap = None)
    val sym = e.select(col("nk"), col("a").as("z"), col("b").as("x"))
      .unionByName(e.select(col("nk"), col("b").as("z"), col("a").as("x")))
    val deg = sym.groupBy("nk", "z").agg(count(lit(1)).as("deg"))
    val mid = sym
      .join(deg.filter(col("deg").between(2, 64)), Seq("nk", "z"))
      .withColumn("w", Grid.dy20(lit(1.0) / log(col("deg").cast("double"))))
    val pairs = mid.select(col("nk"), col("z"), col("x").as("va"), col("w"))
      .join(mid.select(col("nk"), col("z"), col("x").as("vb")), Seq("nk", "z"))
      .filter(col("va") < col("vb"))
    pairs.groupBy("nk", "va", "vb")
      .agg(count(lit(1)).as("n_common"), sum("w").as("aa"))
      .join(e.select(col("nk"), col("a").as("va"), col("b").as("vb")),
        Seq("nk", "va", "vb"), "left_anti")
      .select(col("nk"), col("va"), col("vb"),
        col("n_common").cast("int").as("n_common"),
        round(col("aa"), 6).as("aa_score"))
      .reportSorted("nk", "va", "vb") // capped-wedge-bounded output
  }

  /** Degree distribution histogram per graph partition — the first
    * diagnostic anyone runs on a new graph (hub detection, power-law
    * eyeball, join-skew forecasting for the triangle/CC plans above).
    * Two chained two-phase aggregates — (nk, vertex) degree count,
    * then (nk, degree) frequency — both equi-shuffles on compact keys;
    * output is bounded by the distinct degree values, so the report
    * sort is single-partition by design. Never materializes a
    * neighbor list.
    */
  q("graph_degree_hist",
    """WITH c AS (SELECT c_custkey AS id, c_nationkey AS nk FROM customer),
      |l AS (SELECT nk, id,
      |             lead(id, 1) OVER (PARTITION BY nk ORDER BY id) AS n1,
      |             lead(id, 2) OVER (PARTITION BY nk ORDER BY id) AS n2
      |      FROM c),
      |e AS (SELECT nk, id AS a, n1 AS b FROM l WHERE n1 IS NOT NULL
      |      UNION ALL
      |      SELECT nk, id AS a, n2 AS b FROM l WHERE n2 IS NOT NULL),
      |deg AS (SELECT nk, v, count(*) AS deg FROM (
      |          SELECT nk, a AS v FROM e UNION ALL SELECT nk, b AS v FROM e) t
      |        GROUP BY 1, 2)
      |SELECT nk, CAST(deg AS INTEGER) AS degree, count(*) AS n_vertices
      |FROM deg GROUP BY 1, 2 ORDER BY nk, degree""") { (s, d) =>
    val e = leadEdges(s, d, withN2 = true, maxGap = None)
    e.select(col("nk"), col("a").as("v"))
      .unionByName(e.select(col("nk"), col("b").as("v")))
      .groupBy("nk", "v").agg(count(lit(1)).as("deg"))
      .groupBy("nk", "deg")
      .agg(count(lit(1)).as("n_vertices"))
      .select(col("nk"), col("deg").cast("int").as("degree"), col("n_vertices"))
      .reportSorted("nk", "degree")
  }

  /** Symmetrized, pinned edge frame — the shared first step of every
    * iterative runner here. Pinned HASH-PARTITIONED BY `src` (r18):
    * localCheckpoint preserves the physical partitioning, so every
    * round's src-keyed equi-join against it reuses this one exchange
    * instead of re-shuffling the edge table per round (guide §2.4 "two
    * operations keyed the same way share one exchange"; under AQE each
    * avoided exchange is an avoided stage job). All round loops here
    * orient their sym join to the src side — legal because sym is
    * symmetric: for every (src,dst) row the mirror (dst,src) exists,
    * so "join labels on dst, group by src" ≡ "join labels on src,
    * group by dst" row-for-row.
    */
  private def pinnedSym(rc: Checkpoints, edges: DataFrame): DataFrame =
    rc.pin("sym", edges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))
      .repartition(col("src")))

  /** Pointer-jumping min-label connected components over an explicit
    * `(a, b)` edge frame: per round every vertex takes the min of its
    * own label, its neighbors' labels, and its LABEL'S label (the
    * jump — label chains halve each round), so rounds ≈ log₂(diameter)
    * where plain propagation needs diameter rounds. Returns `(id,
    * comp)` for every vertex of `nodes`. Round checkpoints go through
    * `rc` (tags `sym`, `labels`): a caller that runs the CC repeatedly
    * passes its own runtime, so each call's first round frees the
    * previous call's labels. Returns-on-convergence or throws (a
    * half-converged labeling silently splits components — never worth
    * returning).
    */
  private[ops] def pointerJumpCC(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 24, init: Option[DataFrame] = None,
      rc: Checkpoints = new Checkpoints): DataFrame = {
    val sym = pinnedSym(rc, edges)
    // optional warm start (id, lbl) — lbl must be a min-over-vertex-ids
    // label (Boruvka reuses the previous round's components so the CC
    // does not restart from singletons every round)
    var labels = init.getOrElse(
      nodes.select(col("id")).withColumn("lbl", col("id")))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // One round = three label contributions unioned into ONE
      // aggregation (r18: was join nbr + join jump + 3-way left join —
      // the union-min form computes the identical least() with ~2 fewer
      // exchanges per round, and under AQE every exchange is its own
      // stage job):
      //   nbr  — each neighbor's current label,
      //   jump — the label of one's current label (always a real vertex
      //          id: labels are minima over vertex ids),
      //   own  — the current label (also tags `old` for the
      //          convergence metric; max() sees exactly one non-null
      //          per id because labels is unique by id).
      val nullLbl = lit(null).cast("long")
      val nbr = sym
        .join(labels.select(col("id").as("src"), col("lbl").as("nlbl")), Seq("src"))
        .select(col("dst").as("id"), col("nlbl").as("v"), nullLbl.as("own"))
      val jump = labels.select(col("id").as("jid"), col("lbl").as("ptr"))
        .join(labels.select(col("id").as("ptr"), col("lbl").as("jlbl")), Seq("ptr"))
        .select(col("jid").as("id"), col("jlbl").as("v"), nullLbl.as("own"))
      val own = labels.select(col("id"), col("lbl").as("v"), col("lbl").as("own"))
      // the changed-label count rides the checkpoint materialization as
      // an observed metric — no separate count job per round
      val obs = org.apache.spark.sql.Observation()
      val next = rc.cycle("labels", nbr.unionByName(jump).unionByName(own)
        .groupBy("id").agg(min("v").as("lbl"), max("own").as("old"))
        .observe(obs, sum(when(col("lbl") =!= col("old"), 1L)
          .otherwise(0L)).as("chg"))
        .select("id", "lbl"), sever = true)
      // sum() over an empty frame observes null — treat as converged
      // (matches the old filter().count() == 0 on an empty labels set)
      val changed = Option(obs.get("chg")).map(_.asInstanceOf[Long]).getOrElse(0L)
      labels = next
      converged = changed == 0
      iter += 1
    }
    rc.release("sym")
    if (!converged) {
      rc.release("labels")
      throw new IllegalStateException(
        s"pointerJumpCC: not converged after $maxIter rounds — with " +
          s"jumping that implies diameter > 2^$maxIter; raise maxIter")
    }
    // the final round's blocks back the returned frame's lineage
    labels.select(col("id"), col("lbl").as("comp"))
  }

  /** Minimum spanning forest by distributed Borůvka (SPEC: Borůvka
    * 1926 via the parallel formulation every BSP/MapReduce MST paper
    * uses — each component picks its minimum outgoing edge, merge,
    * repeat; the one classic graph primitive the suite lacked):
    * weighted block graph (intra-clique weight = rank distance 1..5,
    * bridges 1000), per-component argmin over the (w, a, b) TOTAL
    * order (lexicographic tie-break ≡ distinct weights, the standard
    * cycle-safety device), components re-derived per round by
    * [[pointerJumpCC]] WARM-STARTED from the previous round's labels
    * (fresh-start CC every round would pay O(rounds·log n) from
    * scratch each time). The loop runs to the true fixpoint — no
    * candidate edges left — with a ceil(log₂ n) round bound by
    * Borůvka's halving argument, so the output is the COMPLETE forest
    * at any SF, and the oracle needs no round replay at all: this
    * weighted graph's MST is ANALYTIC (each clique's weight-1
    * consecutive-rank path is its unique 5-edge minimum; bridges are
    * cut edges, forced at any weight), so the hash pins the full edge
    * list the distributed rounds must converge to. GraphSpec
    * cross-checks against a driver-side Kruskal. Scale: per round one
    * edges⋈comps join + a per-component argmin window + a warm CC —
    * all vertex-keyed; the candidate set shrinks monotonically.
    */
  q("graph_mst_boruvka",
    """WITH c AS (SELECT c_custkey AS id, c_nationkey AS nk,
      |            row_number() OVER (PARTITION BY c_nationkey
      |              ORDER BY c_custkey) - 1 AS rk
      |      FROM customer),
      |blk AS (SELECT id, nk, rk // 6 AS b, rk % 6 AS r FROM c),
      |mst_intra AS (
      |  SELECT x.nk, x.id AS a, y.id AS b, CAST(1 AS BIGINT) AS w
      |  FROM blk x JOIN blk y
      |    ON y.nk = x.nk AND y.b = x.b AND y.r = x.r + 1),
      |heads AS (SELECT nk, b, min(id) AS hid, max(id) AS tid
      |          FROM blk GROUP BY nk, b),
      |mst_inter AS (
      |  SELECT h1.nk, h1.tid AS a, h2.hid AS b, CAST(1000 AS BIGINT) AS w
      |  FROM heads h1 JOIN heads h2 ON h2.nk = h1.nk AND h2.b = h1.b + 1)
      |SELECT nk, a, b, w
      |FROM (SELECT * FROM mst_intra UNION ALL SELECT * FROM mst_inter) t
      |ORDER BY a, b""".stripMargin) { (s, d) =>
    val rc = new Checkpoints
    val w = Window.partitionBy("nk").orderBy("id")
    val blk = T(s, d, "customer")
      .select(col("c_custkey").as("id"), col("c_nationkey").as("nk"))
      .withColumn("rk", row_number().over(w) - 1)
      .withColumn("b", (col("rk") / 6).cast("long"))
      .withColumn("r", col("rk") % 6)
    val intra = blk.as("x").join(blk.as("y"),
        col("y.nk") === col("x.nk") && col("y.b") === col("x.b") &&
          col("y.id") > col("x.id"))
      .select(col("x.nk").as("nk"), col("x.id").as("a"), col("y.id").as("b"),
        (col("y.r") - col("x.r")).cast("long").as("w"))
    val heads = blk.groupBy("nk", "b")
      .agg(min("id").as("hid"), max("id").as("tid"))
    val inter = heads.as("h1").join(heads.as("h2"),
        col("h2.nk") === col("h1.nk") && col("h2.b") === col("h1.b") + 1)
      .select(col("h1.nk").as("nk"), col("h1.tid").as("a"),
        col("h2.hid").as("b"), lit(1000L).as("w"))
    val wEdges = rc.pin("wedges", intra.unionByName(inter))
    val verts = rc.pin("verts", blk.select("id"))
    var comp = verts.withColumn("comp", col("id"))
    // r19: candidates re-derive from the PREVIOUS round's surviving
    // candidate set, not the full edge table — an edge whose endpoints
    // share a component stays intra forever (components only merge),
    // so the filter is monotone and the per-round relabeling joins run
    // over a strictly shrinking frame (guide §2.3 shuffle fewer bytes).
    var candSrc = wEdges
    var mst: DataFrame = null
    var rounds = 0
    var done = false
    while (!done && rounds < 24) {
      // candidate count rides the checkpoint materialization as an
      // observed metric (r18: was a separate isEmpty job per round)
      val obsC = org.apache.spark.sql.Observation()
      val cand = rc.cycle("cand", candSrc
        .select("nk", "a", "b", "w")
        .join(comp.select(col("id").as("a"), col("comp").as("ca")), Seq("a"))
        .join(comp.select(col("id").as("b"), col("comp").as("cb")), Seq("b"))
        .filter(col("ca") =!= col("cb"))
        .observe(obsC, count(lit(1)).as("n")))
      candSrc = cand
      if (obsC.get("n").asInstanceOf[Long] == 0L) done = true
      else {
        val mirrored = cand.select(col("ca").as("cm"), col("a"), col("b"), col("w"))
          .unionByName(cand.select(col("cb").as("cm"), col("a"), col("b"), col("w")))
        // per-component argmin over the (w, a, b) TOTAL order as ONE
        // map-side-combinable min(struct) aggregation (r19) — the
        // row_number window form paid a full sort exchange per round
        // for the same single row (struct ordering in Spark is
        // field-lexicographic, exactly the window's orderBy).
        val sel = mirrored
          .groupBy("cm")
          .agg(min(struct(col("w"), col("a"), col("b"))).as("m"))
          .select(col("m.a").as("a"), col("m.b").as("b"), col("m.w").as("w"))
          .distinct()
        mst = rc.cycle("mst",
          if (mst == null) sel else mst.unionByName(sel))
        // NOTE (r18): a component-graph contraction variant (CC over
        // one-node-per-component with only the round's selected edges,
        // joined back onto vertex labels) was implemented and measured
        // AT +10 jobs / +1.1 s — the extra sel checkpoint, endpoint
        // distinct and join-back cycle cost more than the smaller CC
        // input saves, and the inner pointer-jump round count (the job
        // driver) is identical either way. Kept the warm-started
        // full-forest CC.
        // r19: use the CC result directly — pointerJumpCC's returned
        // frame is already backed by its final round's checkpoint, so
        // the outer rc.cycle("comp", …) was a REDUNDANT second full
        // checkpoint job + row copy per round. The CC cycles its labels
        // under this runtime, so its first round frees the superseded
        // comp once the next labels are materialized.
        comp = pointerJumpCC(verts, mst.select("a", "b"),
          init = Some(comp.select(col("id"), col("comp").as("lbl"))), rc = rc)
        rounds += 1
      }
    }
    // only the mst checkpoint backs the returned frame
    rc.release("cand", "wedges", "verts", "labels")
    val nation = T(s, d, "customer")
      .select(col("c_custkey").as("a"), col("c_nationkey").as("nk"))
    mst.join(nation, Seq("a"))
      .select(col("nk"), col("a"), col("b"), col("w"))
      .orderBy("a", "b") // forest = vertex-sized output
  }

  /** Exact connected components (min component label per vertex +
    * component size) on the gap-gated chain graph. The DuckDB oracle
    * is a RECURSIVE CTE computing the min reachable label — a
    * semantics-level spec of CC that shares no code shape with the
    * pointer-jumping loop, so a hash match is strong evidence the
    * iterative plan converged to the true components.
    */
  q("graph_connected_components",
    """WITH RECURSIVE c AS (SELECT c_custkey AS id, c_nationkey AS nk FROM customer),
      |l AS (SELECT nk, id, lead(id, 1) OVER (PARTITION BY nk ORDER BY id) AS n1
      |      FROM c),
      |e AS (SELECT id AS a, n1 AS b FROM l
      |      WHERE n1 IS NOT NULL AND n1 - id <= 40),
      |sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
      |reach(id, lbl) AS (
      |  SELECT id, id AS lbl FROM c
      |  UNION
      |  SELECT s.b AS id, r.lbl FROM reach r JOIN sym s ON s.a = r.id
      |),
      |cc AS (SELECT id, min(lbl) AS comp FROM reach GROUP BY id)
      |SELECT cc.id AS id, cc.comp AS comp, sz.comp_size AS comp_size
      |FROM cc JOIN (SELECT comp, count(*) AS comp_size FROM cc GROUP BY comp) sz
      |  USING (comp)
      |ORDER BY id""") { (s, d) =>
    val e = leadEdges(s, d, withN2 = false, maxGap = Some(40L))
    val nodes = T(s, d, "customer").select(col("c_custkey").as("id"))
    val cc = pointerJumpCC(nodes, e)
    val sizes = cc.groupBy("comp").agg(count(lit(1)).as("comp_size"))
    cc.join(sizes, Seq("comp"))
      .select(col("id"), col("comp"), col("comp_size"))
      .orderBy("id") // one row per vertex = input-sized
  }

  /** Rounds of synchronous label propagation — fixed, not
    * convergence-gated: a data-dependent round count can't be replayed
    * by a static oracle, and synchronous LPA has no convergence
    * guarantee anyway (it can 2-cycle on bipartite-ish structure).
    */
  private val LpaRounds = 4

  /** Clique-with-bridges community graph, deterministic from the
    * customer table: per nation, customers in custkey order form
    * 6-cliques (blocks), consecutive blocks joined by ONE bridge edge
    * (block tail → next block head). Cliques are the planted
    * communities; bridges are the weak links LPA must mostly ignore.
    */
  /** Degree assortativity per nation (Newman 2002 — "do hubs attach
    * to hubs?": the Pearson correlation of endpoint degrees over the
    * DIRECTED (symmetrized) edge list; r > 0 social-network-like,
    * r < 0 hub-and-spoke/technological — the one-number mixing
    * diagnostic run right after the degree histogram): both endpoint
    * degree sums and the co-moment accumulate as exact BIGINTs (the
    * path-square graph's degrees are ≤ 4; in general exact while
    * 2E·maxdeg² < 2⁶³ — with the adamic-adar deg-cap discipline that
    * is E < 2.2e15 edges), then ONE fixed-shape closed-form Pearson
    * over the cast sums (rule 5) with rule-7 nullif on the
    * regular-graph zero variance. Shape: one degree agg + two
    * vertex-keyed joins onto the edge list + one per-nation agg —
    * all equi, nothing quadratic.
    */
  q("graph_assortativity",
    """WITH c AS (SELECT c_custkey AS id, c_nationkey AS nk FROM customer),
      |l AS (SELECT nk, id,
      |             lead(id, 1) OVER (PARTITION BY nk ORDER BY id) AS n1,
      |             lead(id, 2) OVER (PARTITION BY nk ORDER BY id) AS n2
      |      FROM c),
      |e AS (SELECT nk, id AS a, n1 AS b FROM l WHERE n1 IS NOT NULL
      |      UNION ALL
      |      SELECT nk, id AS a, n2 AS b FROM l WHERE n2 IS NOT NULL),
      |sym AS (SELECT nk, a, b FROM e UNION ALL SELECT nk, b AS a, a AS b FROM e),
      |deg AS (SELECT nk, v, count(*) AS deg FROM (
      |          SELECT nk, a AS v FROM sym) t GROUP BY 1, 2),
      |j AS (SELECT s.nk, da.deg AS x, db.deg AS y
      |      FROM sym s JOIN deg da ON da.nk = s.nk AND da.v = s.a
      |      JOIN deg db ON db.nk = s.nk AND db.v = s.b),
      |m AS (SELECT nk, count(*) AS n,
      |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |        CAST(sum(x*y) AS BIGINT) AS sxy,
      |        CAST(sum(x*x) AS BIGINT) AS sx2, CAST(sum(y*y) AS BIGINT) AS sy2
      |      FROM j GROUP BY 1)
      |SELECT nk, CAST(n AS BIGINT) AS n_directed_edges,
      |  round((CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
      |        / nullif(sqrt(greatest((CAST(n AS DOUBLE)*sx2 - CAST(sx AS DOUBLE)*sx)
      |                             * (CAST(n AS DOUBLE)*sy2 - CAST(sy AS DOUBLE)*sy), 0)), 0), 6)
      |    + 0.0 AS assortativity
      |FROM m ORDER BY nk""") { (s, d) =>
    val e = leadEdges(s, d, withN2 = true, maxGap = None)
    val sym = e.select(col("nk"), col("a"), col("b"))
      .unionByName(e.select(col("nk"), col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy(col("nk"), col("a").as("v"))
      .agg(count(lit(1)).as("deg"))
    sym
      .join(deg.select(col("nk"), col("v").as("a"), col("deg").as("x")), Seq("nk", "a"))
      .join(deg.select(col("nk"), col("v").as("b"), col("deg").as("y")), Seq("nk", "b"))
      .groupBy("nk")
      .agg(count(lit(1)).as("n"),
        sum("x").cast("long").as("sx"), sum("y").cast("long").as("sy"),
        sum(col("x") * col("y")).cast("long").as("sxy"),
        sum(col("x") * col("x")).cast("long").as("sx2"),
        sum(col("y") * col("y")).cast("long").as("sy2"))
      .select(col("nk"), col("n").as("n_directed_edges"),
        (round((col("n").cast("double") * col("sxy")
            - col("sx").cast("double") * col("sy"))
          / nullif(sqrt(greatest(
            (col("n").cast("double") * col("sx2") - col("sx").cast("double") * col("sx"))
              * (col("n").cast("double") * col("sy2") - col("sy").cast("double") * col("sy")),
            lit(0.0))), lit(0.0)), 6) + lit(0.0)).as("assortativity"))
      .reportSorted("nk") // 25 nations = catalog-sized
  }

  /** Newman modularity of a given partition (Newman 2006: Q = Σ_c
    * [e_c/m − (d_c/2m)²]) — the SCORE side of community detection:
    * LPA (below) finds communities, modularity says whether a
    * partition is better than chance edge placement; scored here on
    * the planted block partition of the clique-bridge graph (the same
    * partition the LPA spec proves LPA recovers — so Q ≈ the graph's
    * near-maximum and the bridge edges are the only inter-community
    * mass). All inputs are integer counts (intra-edge count and
    * degree sum per community, one equi-join pass each); per-community
    * contribution is ONE fixed-shape ratio expression (rule 5); the
    * global Q snaps each contribution to the dy20 grid before the
    * 1-row sum (rule 12 — community count is data-dependent) and
    * rides every row as a broadcast cross. |C|-sized frame past the
    * first aggregates.
    */
  q("graph_modularity",
    s"""WITH c AS (SELECT c_custkey AS id, c_nationkey AS nk,
      |            row_number() OVER (PARTITION BY c_nationkey
      |              ORDER BY c_custkey) - 1 AS rk
      |      FROM customer),
      |blk0 AS (SELECT id, nk, rk // 6 AS b FROM c),
      |intra AS (SELECT x.id AS a, y.id AS b FROM blk0 x
      |          JOIN blk0 y ON y.nk = x.nk AND y.b = x.b AND y.id > x.id),
      |heads AS (SELECT nk, b, min(id) AS hid, max(id) AS tid
      |          FROM blk0 GROUP BY nk, b),
      |inter AS (SELECT h1.tid AS a, h2.hid AS b FROM heads h1
      |          JOIN heads h2 ON h2.nk = h1.nk AND h2.b = h1.b + 1),
      |e AS (SELECT a, b FROM intra UNION ALL SELECT a, b FROM inter),
      |cm AS (SELECT id, nk * 1000000 + b AS comm FROM blk0),
      |mt AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM e),
      |ic AS (SELECT ca.comm AS comm, count(*) AS e_c
      |       FROM e JOIN cm ca ON ca.id = e.a JOIN cm cb ON cb.id = e.b
      |       WHERE ca.comm = cb.comm GROUP BY 1),
      |dc AS (SELECT cm.comm, count(*) AS d_c FROM
      |         (SELECT a AS id FROM e UNION ALL SELECT b AS id FROM e) t
      |         JOIN cm ON cm.id = t.id GROUP BY 1),
      |nv AS (SELECT comm, count(*) AS n_vertices FROM cm GROUP BY 1),
      |rws AS (SELECT nv.comm, nv.n_vertices,
      |          CAST(coalesce(ic.e_c, 0) AS BIGINT) AS intra_edges,
      |          CAST(coalesce(dc.d_c, 0) AS BIGINT) AS degree_sum,
      |          coalesce(ic.e_c, 0) / mt.m
      |            - (coalesce(dc.d_c, 0) / (2 * mt.m))
      |              * (coalesce(dc.d_c, 0) / (2 * mt.m)) AS contrib
      |        FROM nv LEFT JOIN ic ON ic.comm = nv.comm
      |        LEFT JOIN dc ON dc.comm = nv.comm, mt),
      |qt AS (SELECT sum(${Grid.dy20Sql("contrib")}) AS q FROM rws)
      |SELECT comm, CAST(n_vertices AS BIGINT) AS n_vertices, intra_edges,
      |       degree_sum, round(contrib, 6) + 0.0 AS contribution,
      |       round(qt.q, 6) AS q_total
      |FROM rws, qt ORDER BY comm""") { (s, d) =>
    // "+ 0.0" on contribution (both engines): a community with zero
    // intra edges contributes −(d/2m)², which rounds to IEEE −0.0 in
    // DuckDB but +0.0 under Spark's BigDecimal round — the sum washes
    // the sign out everywhere else, this is the one place it surfaces
    val w = Window.partitionBy("nk").orderBy("id")
    val blk0 = T(s, d, "customer")
      .select(col("c_custkey").as("id"), col("c_nationkey").as("nk"))
      .withColumn("rk", row_number().over(w) - 1)
      .withColumn("b", (col("rk") / 6).cast("long"))
    // community key = nk·10⁶ + block: the multiplier bounds blocks per
    // nation at 10⁶ (6M customers/nation — far past sf100); the guard
    // makes a breach a loud task failure, not a silent community fuse
    // (both engines would collide identically, so the hash gate could
    // never catch it)
    val cm = blk0.select(col("id"),
      when(col("b") < lit(1000000L), col("nk") * 1000000L + col("b"))
        .otherwise(raise_error(concat(
          lit("graph_modularity: block id overflows the community key: "),
          col("b").cast("string")))).as("comm"))
    val e = Checkpoints.take(blockEdges(s, d)) // three consumers, one build
    val mt = e.agg(count(lit(1)).cast("double").as("m"))
    val ic = e
      .join(cm.select(col("id").as("a"), col("comm").as("ca")), Seq("a"))
      .join(cm.select(col("id").as("b"), col("comm").as("cb")), Seq("b"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("comm")).agg(count(lit(1)).as("e_c"))
    val dc = e.select(col("a").as("id")).unionByName(e.select(col("b").as("id")))
      .join(cm, Seq("id"))
      .groupBy("comm").agg(count(lit(1)).as("d_c"))
    val nv = cm.groupBy("comm").agg(count(lit(1)).as("n_vertices"))
    val dcc = coalesce(col("d_c"), lit(0L))
    val rws = nv.join(ic, Seq("comm"), "left").join(dc, Seq("comm"), "left")
      .crossJoin(broadcast(mt)) // 1-row edge total: genuinely bounded
      .select(col("comm"), col("n_vertices"),
        coalesce(col("e_c"), lit(0L)).as("intra_edges"),
        dcc.as("degree_sum"),
        (coalesce(col("e_c"), lit(0L)) / col("m")
          - (dcc / (lit(2) * col("m"))) * (dcc / (lit(2) * col("m")))).as("contrib"))
      .transform(Checkpoints.take) // q_total and the report both read it
    val qt = rws.agg(sum(Grid.dy20(col("contrib"))).as("q"))
    rws.crossJoin(broadcast(qt))
      .select(col("comm"), col("n_vertices"), col("intra_edges"), col("degree_sum"),
        (round(col("contrib"), 6) + lit(0.0)).as("contribution"),
        round(col("q"), 6).as("q_total"))
      .reportSorted("comm") // |C| communities = catalog-sized
  }

  private def blockEdges(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("nk").orderBy("id")
    val blk = T(s, d, "customer")
      .select(col("c_custkey").as("id"), col("c_nationkey").as("nk"))
      .withColumn("rk", row_number().over(w) - 1)
      .withColumn("b", (col("rk") / 6).cast("long"))
    val intra = blk.as("x").join(blk.as("y"),
        col("y.nk") === col("x.nk") && col("y.b") === col("x.b") &&
          col("y.id") > col("x.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
    val heads = blk.groupBy("nk", "b")
      .agg(min("id").as("hid"), max("id").as("tid"))
    val inter = heads.as("h1").join(heads.as("h2"),
        col("h2.nk") === col("h1.nk") && col("h2.b") === col("h1.b") + 1)
      .select(col("h1.tid").as("a"), col("h2.hid").as("b"))
    intra.unionByName(inter)
  }

  /** Community detection by synchronous label propagation (SPEC:
    * Raghavan, Albert & Kumara 2007 — the near-linear-time community
    * algorithm behind most "cluster this graph cheaply" stacks):
    * every vertex starts as its own label and each round adopts the
    * most frequent label among its NEIGHBORS (tie → smallest label,
    * the deterministic variant; vertices with no neighbors keep their
    * label). Unlike [[pointerJumpCC]] this finds DENSE groups, not
    * mere reachability — the planted 6-cliques survive as communities
    * while the single bridge edge between blocks is outvoted 5:1.
    *
    * Everything is INTEGER (labels are vertex ids, votes are counts),
    * so the fixed {@link LpaRounds} rounds are exactly engine-
    * replayable with NO quantization — the one iterative operator in
    * the suite whose oracle replay is exact rather than
    * grid-quantized. Per round: one equi-join edges⋈labels + one
    * (vertex, label) count + one per-vertex argmax window — all keyed
    * on the vertex, AQE-friendly; per-round localCheckpoint with
    * block frees (the PageRank/CC discipline). At 100 TB: rounds are
    * O(E) joins partitioned by vertex; the argmax window's partition
    * is a vertex's distinct neighbor labels — degree-bounded, skew
    * handled by AQE like any hot-key aggregation.
    */
  q("graph_label_propagation", {
    val head =
      """WITH
        |c AS (SELECT c_custkey AS id, c_nationkey AS nk,
        |             row_number() OVER (PARTITION BY c_nationkey
        |               ORDER BY c_custkey) - 1 AS rk
        |      FROM customer),
        |blk AS (SELECT id, nk, rk // 6 AS b FROM c),
        |intra AS (
        |  SELECT x.id AS a, y.id AS b FROM blk x
        |  JOIN blk y ON y.nk = x.nk AND y.b = x.b AND y.id > x.id),
        |heads AS (SELECT nk, b, min(id) AS hid, max(id) AS tid
        |          FROM blk GROUP BY nk, b),
        |inter AS (
        |  SELECT h1.tid AS a, h2.hid AS b FROM heads h1
        |  JOIN heads h2 ON h2.nk = h1.nk AND h2.b = h1.b + 1),
        |e AS (SELECT a, b FROM intra UNION ALL SELECT a, b FROM inter),
        |sym AS MATERIALIZED (
        |  SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
        |verts AS MATERIALIZED (SELECT id FROM blk),
        |l0 AS MATERIALIZED (SELECT id, id AS lbl FROM verts)""".stripMargin
    val rounds = (1 to LpaRounds).map { k =>
      s"""n$k AS (
         |  SELECT s.a AS id, p.lbl, count(*) AS c
         |  FROM sym s JOIN l${k - 1} p ON p.id = s.b GROUP BY s.a, p.lbl),
         |w$k AS (
         |  SELECT id, lbl FROM (
         |    SELECT id, lbl, row_number() OVER (PARTITION BY id
         |      ORDER BY c DESC, lbl) AS rn FROM n$k) t WHERE rn = 1),
         |l$k AS MATERIALIZED (
         |  SELECT v.id, coalesce(w.lbl, p.lbl) AS lbl
         |  FROM verts v JOIN l${k - 1} p ON p.id = v.id
         |  LEFT JOIN w$k w ON w.id = v.id)""".stripMargin
    }.mkString(",\n", ",\n", "")
    head + rounds +
      s"""
         |SELECT l.id, l.lbl AS community,
         |       CAST(sz.n AS BIGINT) AS community_size
         |FROM l$LpaRounds l
         |JOIN (SELECT lbl, count(*) AS n FROM l$LpaRounds GROUP BY lbl) sz
         |  ON sz.lbl = l.lbl
         |ORDER BY id""".stripMargin
  }) { (s, d) =>
    val rc = new Checkpoints
    val sym = pinnedSym(rc, blockEdges(s, d))
    val verts = T(s, d, "customer").select(col("c_custkey").as("id"))
    val labels = lpaLabels(rc, sym, verts)
    rc.release("sym")
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("n"))
    labels.join(sizes, Seq("lbl"))
      .select(col("id"), col("lbl").as("community"),
        col("n").cast("long").as("community_size"))
      .orderBy("id") // one row per vertex = input-sized
  }

  /** The LPA round loop, shared verbatim between
    * [[graph_label_propagation]] and [[graph_louvain_pass]]'s seed —
    * one definition, so tuning rounds or the tie rule cannot
    * desynchronize detector and refiner. Leaves the final labels
    * checkpointed under rc tag "labels".
    */
  private def lpaLabels(rc: Checkpoints, sym: DataFrame,
      verts: DataFrame): DataFrame = {
    var labels = verts.withColumn("lbl", col("id"))
    for (_ <- 1 to LpaRounds) {
      // One pass per round (r18, guide §2.4): the previous label rides
      // the vote stream as a count-0 row instead of being re-attached
      // by a verts⋈winners left join afterwards — any real vote
      // (c ≥ 1) outranks it under (c DESC, lbl ASC), and a voteless
      // vertex keeps its own label because its count-0 row is the only
      // one in the window. If the previous label also receives real
      // votes its count-0 twin sorts strictly after and changes
      // nothing. Identical labels row-for-row; 2 fewer joins/round.
      val votes = sym
        .join(labels.select(col("id").as("src"), col("lbl").as("nlbl")), Seq("src"))
        .groupBy(col("dst").as("id"), col("nlbl").as("lbl"))
        .agg(count(lit(1)).as("c"))
      labels = rc.cycle("labels", votes
        .unionByName(labels.select(col("id"), col("lbl"), lit(0L).as("c")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("id").orderBy(col("c").desc, col("lbl").asc)))
        .filter(col("rn") === 1)
        .select(col("id"), col("lbl")))
    }
    labels
  }

  /** Louvain refinement rounds — fixed for the same static-oracle
    * reason as [[LpaRounds]]: one strict-gain parity sweep per color.
    */
  private val LouvainRounds = 2

  /** One-level Louvain modularity ascent over the LPA partition (SPEC:
    * Blondel, Guillaume, Lambiotte & Lefebvre 2008 §2 phase 1 — the
    * modularity-OPTIMIZING move rule production stacks standardize on;
    * completes the family beside [[graph_label_propagation]]
    * (detection by voting) and [[graph_modularity]] (scoring)). Phase 1
    * accepts ANY starting partition; here it REFINES the registered
    * LPA detector's output — the detection-then-gain-refinement
    * pipeline real systems run, and the composition that makes
    * Q(louvain) ≥ Q(LPA) checkable (GraphSpec pins it, plus single-move
    * local optimality of the result). Each of the fixed
    * [[LouvainRounds]] rounds is a SYNCHRONIZED best-gain pass against
    * the round-start assignment, made deterministic and
    * oscillation-free by two devices from the parallel-Louvain
    * literature (Lu, Halappanavar & Kalyanaraman 2015): a coloring —
    * round r moves only vertices with id ≡ r (mod 2) — and a STRICT
    * improvement gate — a vertex moves only if the best candidate's
    * gain strictly exceeds staying (ties stay put, so a converged
    * partition is a fixpoint). The gain comparison is EXACT INTEGER
    * arithmetic: argmax over candidate communities c of
    * 2m·k_{i,in}(c) − k_i·Σtot(c\{i}) — the Blondel ΔQ numerator with
    * the common remove-from-own-community term dropped and the 1/2m²
    * factor cleared, so no division, no rounding, and the unrolled-CTE
    * oracle (LPA seed rounds + refinement rounds) replays every round
    * bit-exactly. The output carries the final partition plus its
    * Newman Q (the [[graph_modularity]] arithmetic on the dy20 grid).
    * Scale: per round one edges⋈comms join + two vertex-keyed
    * aggregates + one degree-bounded argmax window — the LPA shape
    * with an extra O(|C|) totals broadcast; per-round localCheckpoint
    * with block frees (the CC/LPA discipline).
    */
  q("graph_louvain_pass", {
    val head =
      """WITH
        |c AS (SELECT c_custkey AS id, c_nationkey AS nk,
        |             row_number() OVER (PARTITION BY c_nationkey
        |               ORDER BY c_custkey) - 1 AS rk
        |      FROM customer),
        |blk AS (SELECT id, nk, rk // 6 AS b FROM c),
        |intra AS (
        |  SELECT x.id AS a, y.id AS b FROM blk x
        |  JOIN blk y ON y.nk = x.nk AND y.b = x.b AND y.id > x.id),
        |heads AS (SELECT nk, b, min(id) AS hid, max(id) AS tid
        |          FROM blk GROUP BY nk, b),
        |inter AS (
        |  SELECT h1.tid AS a, h2.hid AS b FROM heads h1
        |  JOIN heads h2 ON h2.nk = h1.nk AND h2.b = h1.b + 1),
        |e AS MATERIALIZED (SELECT a, b FROM intra UNION ALL SELECT a, b FROM inter),
        |sym AS MATERIALIZED (
        |  SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
        |verts AS MATERIALIZED (SELECT id FROM blk),
        |l0 AS MATERIALIZED (SELECT id, id AS lbl FROM verts)""".stripMargin
    // LPA seed rounds — the graph_label_propagation oracle verbatim
    val lpa = (1 to LpaRounds).map { k =>
      s"""n$k AS (
         |  SELECT s.a AS id, p.lbl, count(*) AS c
         |  FROM sym s JOIN l${k - 1} p ON p.id = s.b GROUP BY s.a, p.lbl),
         |w$k AS (
         |  SELECT id, lbl FROM (
         |    SELECT id, lbl, row_number() OVER (PARTITION BY id
         |      ORDER BY c DESC, lbl) AS rn FROM n$k) t WHERE rn = 1),
         |l$k AS MATERIALIZED (
         |  SELECT v.id, coalesce(w.lbl, p.lbl) AS lbl
         |  FROM verts v JOIN l${k - 1} p ON p.id = v.id
         |  LEFT JOIN w$k w ON w.id = v.id)""".stripMargin
    }.mkString(",\n", ",\n", "")
    val seed =
      s""",
         |deg AS MATERIALIZED (SELECT a AS id, CAST(count(*) AS BIGINT) AS k
         |                     FROM sym GROUP BY 1),
         |mt AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
         |c0 AS MATERIALIZED (SELECT id, lbl AS cm FROM l$LpaRounds)""".stripMargin
    val rounds = (1 to LouvainRounds).map { r =>
      s"""tot$r AS (SELECT p.cm, CAST(sum(d.k) AS BIGINT) AS tot
         |          FROM c${r - 1} p JOIN deg d ON d.id = p.id GROUP BY 1),
         |kin$r AS (SELECT s.a AS id, p.cm AS nc, CAST(count(*) AS BIGINT) AS kin
         |          FROM sym s JOIN c${r - 1} p ON p.id = s.b GROUP BY 1, 2),
         |cand$r AS (SELECT id, nc, max(kin) AS kin FROM (
         |             SELECT id, nc, kin FROM kin$r
         |             UNION ALL SELECT id, cm AS nc, CAST(0 AS BIGINT) AS kin
         |             FROM c${r - 1}) t GROUP BY 1, 2),
         |sc$r AS (SELECT x.id, x.nc,
         |           2 * mt.m * x.kin
         |             - coalesce(d.k, 0)
         |               * (coalesce(t.tot, 0)
         |                  - CASE WHEN x.nc = p.cm THEN coalesce(d.k, 0)
         |                         ELSE 0 END) AS gain
         |         FROM cand$r x
         |         JOIN c${r - 1} p ON p.id = x.id
         |         LEFT JOIN deg d ON d.id = x.id
         |         LEFT JOIN tot$r t ON t.cm = x.nc, mt),
         |st$r AS (SELECT s.id, s.gain AS sg FROM sc$r s
         |         JOIN c${r - 1} p ON p.id = s.id AND p.cm = s.nc),
         |rw$r AS (SELECT id, nc, gain FROM (
         |        SELECT id, nc, gain, row_number() OVER (PARTITION BY id
         |          ORDER BY gain DESC, nc) AS rn FROM sc$r) t WHERE rn = 1),
         |c$r AS MATERIALIZED (
         |  SELECT p.id,
         |         CASE WHEN p.id % 2 = ${r % 2} AND w.gain > st.sg THEN w.nc
         |              ELSE p.cm END AS cm
         |  FROM c${r - 1} p JOIN rw$r w ON w.id = p.id
         |  JOIN st$r st ON st.id = p.id)""".stripMargin
    }.mkString(",\n", ",\n", "")
    val R = LouvainRounds
    head + lpa + seed + rounds +
      s""",
         |ic AS (SELECT ca.cm, CAST(count(*) AS BIGINT) AS e_c
         |       FROM e JOIN c$R ca ON ca.id = e.a JOIN c$R cb ON cb.id = e.b
         |       WHERE ca.cm = cb.cm GROUP BY 1),
         |dc AS (SELECT p.cm, CAST(sum(d.k) AS BIGINT) AS d_c
         |       FROM c$R p JOIN deg d ON d.id = p.id GROUP BY 1),
         |rws AS (SELECT nv.cm, coalesce(ic.e_c, 0) / (1.0 * mt.m)
         |          - (coalesce(dc.d_c, 0) / (2.0 * mt.m))
         |            * (coalesce(dc.d_c, 0) / (2.0 * mt.m)) AS contrib
         |        FROM (SELECT DISTINCT cm FROM c$R) nv
         |        LEFT JOIN ic ON ic.cm = nv.cm
         |        LEFT JOIN dc ON dc.cm = nv.cm, mt),
         |qt AS (SELECT sum(${Grid.dy20Sql("contrib")}) AS q FROM rws)
         |SELECT l.id, l.cm AS community, CAST(sz.n AS BIGINT) AS community_size,
         |       round(qt.q, 6) AS q_total
         |FROM c$R l
         |JOIN (SELECT cm, count(*) AS n FROM c$R GROUP BY cm) sz ON sz.cm = l.cm,
         |     qt
         |ORDER BY id""".stripMargin
  }) { (s, d) =>
    val rc = new Checkpoints
    val e = Checkpoints.take(blockEdges(s, d))
    val sym = pinnedSym(rc, e)
    // degrees survive rc.release("sym"): the final Q/size stage reads
    // them after the sym checkpoint blocks are freed
    val deg = sym.groupBy(col("src").as("id"))
      .agg(count(lit(1)).cast("long").as("k"))
      .transform(Checkpoints.take)
    val mt = e.agg(count(lit(1)).cast("long").as("m"))
    val verts = T(s, d, "customer").select(col("c_custkey").as("id"))
    var comm = lpaLabels(rc, sym, verts)
      .select(col("id"), col("lbl").as("cm"))
    for (r <- 1 to LouvainRounds) {
      val tot = comm.join(deg, Seq("id"))
        .groupBy("cm").agg(sum("k").cast("long").as("tot"))
      val kin = sym
        .join(comm.select(col("id").as("src"), col("cm").as("nc")), Seq("src"))
        .groupBy(col("dst").as("id"), col("nc"))
        .agg(count(lit(1)).cast("long").as("kin"))
      val cand = kin.select("id", "nc", "kin")
        .unionByName(comm.select(col("id"), col("cm").as("nc"),
          lit(0L).as("kin")))
        .groupBy("id", "nc").agg(max("kin").as("kin"))
      val scored = cand
        .join(comm, Seq("id"))
        .join(deg, Seq("id"), "left")
        .join(broadcast(tot.select(col("cm").as("nc"), col("tot"))), Seq("nc"), "left")
        .crossJoin(broadcast(mt))
        .withColumn("gain",
          lit(2L) * col("m") * col("kin")
            - coalesce(col("k"), lit(0L))
              * (coalesce(col("tot"), lit(0L))
                 - when(col("nc") === col("cm"),
                     coalesce(col("k"), lit(0L))).otherwise(lit(0L))))
      // best-candidate AND stay-gain from ONE window pass over `scored`
      // (r18, guide §2.4): the old form derived `scored` twice
      // (row_number filter for best, nc==cm filter for stay) and joined
      // both back onto comm — three id-keyed exchanges and a
      // double-computed subtree per round. Both facts are per-id
      // aggregates of one partition: max(gain where nc==cm) is the stay
      // gain (the nc==cm row exists exactly once per id by cand's
      // construction), and the rn=1 row is the best candidate. comm's
      // (id, cm) rides through the window, so the cycled update needs
      // NO join at all. Identical move decisions row-for-row.
      val wId = Window.partitionBy("id")
      comm = rc.cycle("comm", scored
        .withColumn("sg", max(when(col("nc") === col("cm"), col("gain"))).over(wId))
        .withColumn("rn", row_number().over(
          wId.orderBy(col("gain").desc, col("nc").asc)))
        .filter(col("rn") === 1)
        // id-parity color + strict-improvement gate
        .select(col("id"),
          when(col("id") % 2 === lit(r % 2) && col("gain") > col("sg"),
            col("nc")).otherwise(col("cm")).as("cm")))
    }
    rc.release("labels", "sym")
    // Newman Q of the final partition (the graph_modularity arithmetic)
    val ic = e
      .join(comm.select(col("id").as("a"), col("cm").as("ca")), Seq("a"))
      .join(comm.select(col("id").as("b"), col("cm").as("cb")), Seq("b"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("cm")).agg(count(lit(1)).cast("long").as("e_c"))
    val dc = comm.join(deg, Seq("id"))
      .groupBy("cm").agg(sum("k").cast("long").as("d_c"))
    val rws = comm.select("cm").distinct()
      .join(ic, Seq("cm"), "left")
      .join(dc, Seq("cm"), "left")
      .crossJoin(broadcast(mt))
      .withColumn("contrib",
        coalesce(col("e_c"), lit(0L)) / (lit(1.0) * col("m"))
          - (coalesce(col("d_c"), lit(0L)) / (lit(2.0) * col("m")))
            * (coalesce(col("d_c"), lit(0L)) / (lit(2.0) * col("m"))))
    val qt = rws.agg(round(sum(Grid.dy20(col("contrib"))), 6).as("q_total"))
    val sizes = comm.groupBy("cm").agg(count(lit(1)).cast("long").as("n"))
    comm.join(sizes, Seq("cm"))
      .crossJoin(broadcast(qt))
      .select(col("id"), col("cm").as("community"),
        col("n").as("community_size"), col("q_total"))
      .orderBy("id") // one row per vertex = input-sized
  }
  /** BFS horizon — fixed rounds for the same static-oracle reason as
    * [[LpaRounds]]; declared BEFORE the q() registration because the
    * oracle SQL interpolates it at object-init time.
    */
  private val BfsRounds = 8

  /** Multi-source BFS distance (SPEC: the frontier-expansion primitive
    * under landmark/seed distance labeling — Ullman–Yannakakis 1991
    * parallel BFS; every "hops from a trusted seed set" feature in
    * fraud/quality graphs): hop distance from each nation's seed
    * vertex (min custkey) over the block graph, HORIZON-BOUNDED at
    * [[BfsRounds]] hops — vertices farther than the horizon are
    * excluded by contract (at sf0.1 each nation's block chain is ~100
    * blocks ≈ 200 hops deep; an uncapped BFS is a data-dependent round
    * count no static oracle can replay, and production landmark
    * features cap the horizon anyway). All-integer (ids, hop counts) →
    * exact replay, no quantization. Per round: ONE frontier equi-join
    * keyed on the vertex + a min-combine — O(E) shuffle, monotone
    * frame (min distance only tightens), per-round localCheckpoint
    * with block frees (the CC/LPA/k-core discipline). At 100 TB: round
    * count is the fixed horizon, not the diameter, and each round is
    * an AQE-sized vertex-keyed join.
    */
  q("graph_bfs_distance", {
    val head =
      """WITH RECURSIVE
        |c AS (SELECT c_custkey AS id, c_nationkey AS nk,
        |             row_number() OVER (PARTITION BY c_nationkey
        |               ORDER BY c_custkey) - 1 AS rk
        |      FROM customer),
        |blk AS (SELECT id, nk, rk // 6 AS b FROM c),
        |intra AS (
        |  SELECT x.id AS a, y.id AS b FROM blk x
        |  JOIN blk y ON y.nk = x.nk AND y.b = x.b AND y.id > x.id),
        |heads AS (SELECT nk, b, min(id) AS hid, max(id) AS tid
        |          FROM blk GROUP BY nk, b),
        |inter AS (
        |  SELECT h1.tid AS a, h2.hid AS b FROM heads h1
        |  JOIN heads h2 ON h2.nk = h1.nk AND h2.b = h1.b + 1),
        |e AS (SELECT a, b FROM intra UNION ALL SELECT a, b FROM inter),
        |sym AS MATERIALIZED (
        |  SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
        |seeds AS (SELECT min(id) AS id FROM blk GROUP BY nk)""".stripMargin
    head +
      s""",
         |reach(id, dist) AS (
         |  SELECT id, 0 AS dist FROM seeds
         |  UNION
         |  SELECT s.b AS id, r.dist + 1 AS dist FROM reach r
         |  JOIN sym s ON s.a = r.id WHERE r.dist < $BfsRounds
         |)
         |SELECT id, CAST(min(dist) AS BIGINT) AS dist
         |FROM reach GROUP BY id ORDER BY id""".stripMargin
  }) { (s, d) =>
    bfsDistances(s, d)
      .select(col("id"), col("dist").cast("long").as("dist"))
      .orderBy("id") // one row per reached vertex = input-sized
  }

  /** The horizon-bounded multi-source BFS behind [[graph_bfs_distance]]
    * and [[graph_closeness]] — ONE implementation so the distance
    * frame and the centrality built on it can never disagree.
    */
  private def bfsDistances(s: SparkSession, d: String): DataFrame = {
    val rc = new Checkpoints
    val sym = pinnedSym(rc, blockEdges(s, d))
    val lab = bfsDistancesOver(rc, sym, nationSeeds(s, d))
    rc.release("sym")
    lab
  }

  private def nationSeeds(s: SparkSession, d: String): DataFrame =
    T(s, d, "customer")
      .select(col("c_custkey").as("id"), col("c_nationkey").as("nk"))
      .groupBy("nk").agg(min("id").as("id"))

  /** The BFS core over a caller-owned sym/rc — shared by
    * [[bfsDistances]] (graph_bfs_distance / graph_closeness) and
    * [[graph_betweenness]]'s forward pass.
    */
  private def bfsDistancesOver(rc: Checkpoints, sym: DataFrame,
      seeds: DataFrame): DataFrame = {
    var lab = seeds.select(col("id"), lit(0L).as("dist"))
    for (_ <- 1 to BfsRounds) {
      val prop = sym
        .join(lab.select(col("id").as("src"), col("dist")), Seq("src"))
        .select(col("dst").as("id"), (col("dist") + 1L).as("dist"))
      lab = rc.cycle("bfs", lab.unionByName(prop)
        .groupBy("id").agg(min("dist").as("dist")))
    }
    lab
  }

  /** [[graph_betweenness]]'s forward pass: BFS fused with Brandes'
    * shortest-path-count recurrence σ(v) = Σ_{u∈pred(v)} σ(u) (r18,
    * guide §2.3/§2.4): one frame (id, dist, sigma) carries both
    * labels, and each round propagates from the FRONTIER ONLY (rows
    * with dist = l−1) — for unit-weight BFS a vertex is labeled the
    * first round it is reachable, so proposals from older levels can
    * never tighten min(dist) and are pure shuffle weight. A vertex
    * first reached at round l receives exactly the σ-sum over its
    * dist-(l−1) predecessors (all shortest paths enter through them),
    * so the merged frame's sigma equals the per-level recurrence the
    * previous implementation materialized as 8 extra pinned frames
    * with 2 joins each. Already-labeled vertices keep (dist, sigma)
    * through the outer-join coalesce. Identical output (GraphSpec pins
    * textbook-Brandes equality; the oracle replays level-by-level),
    * ~half the per-round joins and checkpoint jobs of the unfused
    * BFS+σ pair. Measured A/B kept [[bfsDistancesOver]] separate for
    * the σ-less consumers (bfs_distance/closeness): there the
    * outer-join merge costs more than the frontier restriction saves
    * (1.69→2.13 s regression), while here it replaces a whole second
    * pass (5.24→4.6 s win).
    */
  private def bfsSigmaOver(rc: Checkpoints, sym: DataFrame,
      seeds: DataFrame): DataFrame = {
    var lab = seeds.select(col("id"), lit(0L).as("dist"), lit(1L).as("sigma"))
    for (l <- 1 to BfsRounds) {
      val prop = sym
        .join(lab.filter(col("dist") === (l - 1).toLong)
          .select(col("id").as("src"), col("sigma")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum("sigma").cast("long").as("nsig"))
      lab = rc.cycle("bfs", lab.join(prop, Seq("id"), "full")
        .select(col("id"),
          coalesce(col("dist"), lit(l.toLong)).as("dist"),
          coalesce(col("sigma"), col("nsig")).as("sigma")))
    }
    lab
  }

  /** Closeness + harmonic centrality of each nation's SEED vertex over
    * its horizon-bounded BFS ball (SPEC: Bavelas 1950 closeness
    * (n−1)/Σd; Marchiori & Latora 2000 harmonic Σ1/d — the
    * disconnection-robust variant modern graph stacks prefer; both
    * over the [[BfsRounds]] horizon, the landmark-centrality shape —
    * an uncapped sweep is a data-dependent round count no static
    * oracle can replay, and production landmark features cap anyway).
    * The block graph has no inter-nation edges, so the multi-source
    * BFS frame IS the per-seed frame: every reached vertex's dist is
    * the distance from its own nation's seed. Exactness: n/Σd are
    * integers (one guarded ratio, rule 5/7); each harmonic term
    * 1/dist snaps to the dy20 grid before the sum (rule 12). Cost on
    * top of the BFS: one broadcast-joinable nation lookup + one
    * two-phase aggregate — nothing new shuffles at data scale.
    */
  q("graph_closeness", {
    val head =
      """WITH RECURSIVE
        |c AS (SELECT c_custkey AS id, c_nationkey AS nk,
        |             row_number() OVER (PARTITION BY c_nationkey
        |               ORDER BY c_custkey) - 1 AS rk
        |      FROM customer),
        |blk AS (SELECT id, nk, rk // 6 AS b FROM c),
        |intra AS (
        |  SELECT x.id AS a, y.id AS b FROM blk x
        |  JOIN blk y ON y.nk = x.nk AND y.b = x.b AND y.id > x.id),
        |heads AS (SELECT nk, b, min(id) AS hid, max(id) AS tid
        |          FROM blk GROUP BY nk, b),
        |inter AS (
        |  SELECT h1.tid AS a, h2.hid AS b FROM heads h1
        |  JOIN heads h2 ON h2.nk = h1.nk AND h2.b = h1.b + 1),
        |e AS (SELECT a, b FROM intra UNION ALL SELECT a, b FROM inter),
        |sym AS MATERIALIZED (
        |  SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
        |seeds AS (SELECT nk, min(id) AS id FROM blk GROUP BY nk)""".stripMargin
    head +
      s""",
         |reach(id, dist) AS (
         |  SELECT id, 0 AS dist FROM seeds
         |  UNION
         |  SELECT s.b AS id, r.dist + 1 AS dist FROM reach r
         |  JOIN sym s ON s.a = r.id WHERE r.dist < $BfsRounds
         |),
         |md AS (SELECT id, min(dist) AS dist FROM reach GROUP BY id),
         |cl AS (
         |  SELECT blk.nk, count(*) AS n_ball, CAST(sum(md.dist) AS BIGINT) AS sum_dist,
         |         sum(CASE WHEN md.dist > 0
         |                  THEN ${Grid.dy20Sql("1.0 / md.dist")} ELSE 0.0 END) AS harm
         |  FROM md JOIN blk ON blk.id = md.id GROUP BY 1)
         |SELECT s.nk AS nationkey, CAST(s.id AS BIGINT) AS seed_id,
         |       CAST(cl.n_ball AS BIGINT) AS n_reached, cl.sum_dist,
         |       CASE WHEN cl.sum_dist = 0 THEN NULL
         |            ELSE round(CAST(cl.n_ball - 1 AS DOUBLE) / cl.sum_dist, 6)
         |       END AS closeness,
         |       round(cl.harm, 6) AS harmonic
         |FROM seeds s JOIN cl ON cl.nk = s.nk ORDER BY nationkey""".stripMargin
  }) { (s, d) =>
    val blk = T(s, d, "customer")
      .select(col("c_custkey").as("id"), col("c_nationkey").as("nk"))
    val seeds = blk.groupBy("nk").agg(min("id").as("seed_id"))
    val cl = bfsDistances(s, d)
      .join(blk, Seq("id"))
      .groupBy("nk")
      .agg(count(lit(1)).as("n_reached"),
        sum("dist").as("sum_dist"),
        sum(when(col("dist") > 0, Grid.dy20(lit(1.0) / col("dist")))
          .otherwise(lit(0.0))).as("harm"))
    seeds.join(cl, Seq("nk"))
      .select(col("nk").cast("int").as("nationkey"),
        col("seed_id").cast("long"),
        col("n_reached"), col("sum_dist"),
        when(col("sum_dist") === 0L, lit(null).cast("double"))
          .otherwise(round((col("n_reached") - 1).cast("double") / col("sum_dist"), 6))
          .as("closeness"),
        round(col("harm"), 6).as("harmonic"))
      .reportSorted("nationkey") // one row per nation = catalog-sized
  }

  /** Betweenness centrality, Brandes over the horizon-bounded seed
    * BFS (SPEC: Brandes 2001 "A faster algorithm for betweenness
    * centrality" — completes the centrality family beside degree /
    * PageRank / HITS / closeness / harmonic): forward pass = the
    * SHARED [[bfsSigmaOver]] runner — min hop distance from each
    * nation's seed AND the shortest-path COUNT recurrence
    * σ(v) = Σ_{u∈pred(v)} σ(u) fused in one frontier frame (r18) —
    * all-integer, one frontier join per level; backward pass = Brandes'
    * dependency accumulation
    * δ(v) = Σ_{w: v∈pred(w)} σ(v)/σ(w)·(1+δ(w)) walked from the
    * horizon down — per level ONE edges⋈(level,level+1) join and a
    * vertex-keyed sum whose terms snap to the dy20 grid before
    * summing (rule 12: the per-vertex sum over successors is
    * order-free on grid points, so cross-engine reduction order can't
    * move the hash). Horizon-bounded κ-betweenness semantics — the
    * same [[BfsRounds]] contract as closeness (an uncapped sweep is a
    * data-dependent round count no static oracle replays; bounded
    * betweenness is the standard approximation in production graph
    * stacks). The block graph has one seed per component, so δ IS the
    * per-seed dependency; GraphSpec pins equality with a driver-side
    * textbook Brandes restricted to the horizon. Scale: 2·horizon
    * rounds, each one vertex-keyed equi-join + aggregate over the
    * level frontier — strictly lighter than the BFS itself; level
    * frames are vertex-sized and pinned per level (a fully lazy DAG
    * here is a PLANNER bomb: Catalyst's sizeInBytes estimation
    * multiplies duplicated-subtree sizes into million-digit
    * BigIntegers — r14 measured a >15 min planning hang — so the
    * ~2·horizon cheap checkpoint jobs are the right trade).
    */
  q("graph_betweenness", {
    val head =
      """WITH RECURSIVE
        |c AS (SELECT c_custkey AS id, c_nationkey AS nk,
        |             row_number() OVER (PARTITION BY c_nationkey
        |               ORDER BY c_custkey) - 1 AS rk
        |      FROM customer),
        |blk AS (SELECT id, nk, rk // 6 AS b FROM c),
        |intra AS (
        |  SELECT x.id AS a, y.id AS b FROM blk x
        |  JOIN blk y ON y.nk = x.nk AND y.b = x.b AND y.id > x.id),
        |heads AS (SELECT nk, b, min(id) AS hid, max(id) AS tid
        |          FROM blk GROUP BY nk, b),
        |inter AS (
        |  SELECT h1.tid AS a, h2.hid AS b FROM heads h1
        |  JOIN heads h2 ON h2.nk = h1.nk AND h2.b = h1.b + 1),
        |e AS (SELECT a, b FROM intra UNION ALL SELECT a, b FROM inter),
        |sym AS MATERIALIZED (
        |  SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
        |seeds AS (SELECT nk, min(id) AS id FROM blk GROUP BY nk),
        |reach(id, dist) AS (
        |  SELECT id, 0 AS dist FROM seeds
        |  UNION
        |  SELECT s.b AS id, r.dist + 1 AS dist FROM reach r
        |  JOIN sym s ON s.a = r.id WHERE r.dist < BFSH
        |),
        |md AS MATERIALIZED (SELECT id, min(dist) AS dist FROM reach GROUP BY id),
        |sg0 AS MATERIALIZED (SELECT id, CAST(1 AS BIGINT) AS sigma FROM seeds)"""
        .stripMargin.replace("BFSH", BfsRounds.toString)
    val sigs = (1 to BfsRounds).map { l =>
      s"""sg$l AS MATERIALIZED (
         |  SELECT m.id, CAST(sum(p.sigma) AS BIGINT) AS sigma
         |  FROM md m JOIN sym s ON s.b = m.id JOIN sg${l - 1} p ON p.id = s.a
         |  WHERE m.dist = $l GROUP BY m.id)""".stripMargin
    }.mkString(",\n", ",\n", "")
    val delTop =
      s""",
         |del$BfsRounds AS MATERIALIZED (
         |  SELECT id, CAST(0 AS DOUBLE) AS delta FROM sg$BfsRounds)""".stripMargin
    val term = Grid.dy20Sql("(1.0 * p.sigma / w.sigma) * (1 + dw.delta)")
    val dels = (BfsRounds - 1 to 0 by -1).map { l =>
      s"""del$l AS MATERIALIZED (
         |  SELECT v.id, coalesce(t.dl, 0.0) AS delta
         |  FROM sg$l v LEFT JOIN (
         |    SELECT s.a AS id, sum($term) AS dl
         |    FROM sym s
         |    JOIN sg$l p ON p.id = s.a
         |    JOIN sg${l + 1} w ON w.id = s.b
         |    JOIN del${l + 1} dw ON dw.id = s.b
         |    GROUP BY s.a) t ON t.id = v.id)""".stripMargin
    }.mkString(",\n", ",\n", "")
    val allSig = (0 to BfsRounds)
      .map(l => s"SELECT id, $l AS dist, sigma FROM sg$l")
      .mkString("\n  UNION ALL ")
    val allDel = (0 to BfsRounds)
      .map(l => s"SELECT id, delta FROM del$l")
      .mkString("\n  UNION ALL ")
    head + sigs + delTop + dels +
      s""",
         |allv AS ($allSig),
         |alld AS ($allDel)
         |SELECT v.id AS id, CAST(v.dist AS INTEGER) AS dist, v.sigma,
         |       round(d.delta, 6) AS betweenness
         |FROM allv v JOIN alld d ON d.id = v.id
         |ORDER BY v.id""".stripMargin
  }) { (s, d) =>
    val rc = new Checkpoints
    val sym = pinnedSym(rc, blockEdges(s, d))
    // forward (r18): the BFS runner carries the σ recurrence in the
    // SAME frontier frame — (id, dist, sigma) in one checkpointed
    // result instead of the BFS frame plus 9 per-level pinned σ
    // frames re-deriving the frontier joins (halves the forward-pass
    // jobs; see [[bfsSigmaOver]]). Per-level σ views below are cheap
    // filters of the one checkpointed frame, which also keeps the
    // backward pass's planner input flat (the r14 sizeInBytes
    // planner-bomb defense is the checkpoint itself).
    val lab = bfsSigmaOver(rc, sym, nationSeeds(s, d)) // checkpointed ("bfs")
    // backward (r19): two structural changes vs the r18 form (guide
    // §2.3/§2.4), keeping the per-level pinned frames (an accumulating
    // cycled frame was A/B'd first and re-checkpointing the growing
    // union each round ate the join savings — kept level-sized pins):
    //   (a) the source's (dist, sigma) is attached to the edge list
    //       ONCE up front (symSv, pinned hash-partitioned by dst), so
    //       each level pays ONE frontier join against it instead of
    //       three per-level joins (sym⋈σ_l⋈σ_{l+1}⋈δ_{l+1});
    //   (b) the per-level "vertices with no successors get δ=0" left
    //       join becomes a zero row riding the same aggregation (the
    //       pointerJumpCC union device): Σ(0.0 + terms) ≡
    //       coalesce(Σterms, 0.0) — terms are ≥ 0 grid points, and
    //       x + 0.0 = x exactly — while max() recovers (dist, sigma)
    //       from the single zero row each level-l id contributes.
    // Identical output: same per-edge dy20-quantized terms, same
    // vertex-keyed sums (order-free on grid points, rule 12).
    val symSv = rc.pin("symsv", sym
      .join(lab.select(col("id").as("src"), col("dist").as("sdist"),
        col("sigma").as("sv")), Seq("src"))
      .repartition(col("dst")))
    rc.release("sym")
    val del = new Array[DataFrame](BfsRounds + 1)
    del(BfsRounds) = rc.pin(s"del$BfsRounds",
      lab.filter(col("dist") === BfsRounds.toLong)
        .select(col("id"), col("dist"), col("sigma"), lit(0.0).as("delta")))
    for (l <- BfsRounds - 1 to 0 by -1) {
      val wf = del(l + 1)
        .select(col("id").as("dst"), col("sigma").as("sw"), col("delta").as("dw"))
      val terms = symSv.filter(col("sdist") === l.toLong)
        .join(wf, Seq("dst"))
        .select(col("src").as("id"), lit(null).cast("long").as("dist"),
          lit(null).cast("long").as("sigma"),
          Grid.dy20(col("sv").cast("double") / col("sw")
            * (lit(1.0) + col("dw"))).as("term"))
      val zeros = lab.filter(col("dist") === l.toLong)
        .select(col("id"), col("dist"), col("sigma"), lit(0.0).as("term"))
      del(l) = rc.pin(s"del$l", zeros.unionByName(terms)
        .groupBy("id")
        .agg(max("dist").as("dist"), max("sigma").as("sigma"),
          sum("term").as("delta")))
    }
    rc.release("symsv")
    // the level frames carry (dist, sigma) through the aggregation, so
    // no final lab⋈allDel join — the union IS the output frame
    (0 to BfsRounds).map(del).reduce(_ unionByName _)
      .select(col("id"), col("dist").cast("int").as("dist"), col("sigma"),
        round(col("delta"), 6).as("betweenness"))
      .orderBy("id") // one row per reached vertex = input-sized
  }

  /** Peel rounds for the k-core — fixed, not convergence-gated, for
    * the same reason as [[LpaRounds]]: a static oracle can only replay
    * a fixed round count. On the planted block graph 3 rounds ARE the
    * fixpoint (argued below and pinned by OpsSemanticsSpec's
    * round-3 ≡ round-4 check), so the registered result is the exact
    * 4-core, not a truncation.
    */
  private val KcoreRounds = 3
  private val KcoreK = 4

  /** k-core (SPEC: Matula & Beck 1983 degeneracy peeling; the
    * distributed form is the synchronous BSP peel of Montresor,
    * De Pellegrini & Miorandi 2013 "Distributed k-core
    * decomposition"): repeatedly delete every vertex of degree < k
    * until none remains; the survivors are the maximal subgraph with
    * min degree ≥ k — the standard "dense enough to matter" prefilter
    * before community/centrality passes. Each round is ONE degree
    * aggregation plus two semi-joins, all keyed on the vertex —
    * O(E) shuffle per round, AQE-friendly, same per-round
    * localCheckpoint-and-free discipline as CC/LPA; at 100 TB the
    * peel round count is bounded by the graph's degeneracy ordering
    * depth, and each round strictly shrinks the edge set, so later
    * rounds get cheaper. On the 6-clique block graph: full blocks have
    * intra-degree 5 and survive; a trailing partial block of m < 5
    * vertices dies in ≤ 2 rounds (its non-head vertices have degree
    * m-1 ≤ 3; the head's bridge alone cannot hold it), and the
    * upstream tail that loses its bridge still has 5 intra edges —
    * round 3 changes nothing, so the fixed 3 rounds return the exact
    * 4-core. Output: surviving (id, degree-in-core).
    */
  q("graph_kcore",
    """WITH
      |c AS (SELECT c_custkey AS id, c_nationkey AS nk,
      |             row_number() OVER (PARTITION BY c_nationkey
      |               ORDER BY c_custkey) - 1 AS rk
      |      FROM customer),
      |blk AS (SELECT id, nk, rk // 6 AS b FROM c),
      |intra AS (
      |  SELECT x.id AS a, y.id AS b FROM blk x
      |  JOIN blk y ON y.nk = x.nk AND y.b = x.b AND y.id > x.id),
      |heads AS (SELECT nk, b, min(id) AS hid, max(id) AS tid
      |          FROM blk GROUP BY nk, b),
      |inter AS (
      |  SELECT h1.tid AS a, h2.hid AS b FROM heads h1
      |  JOIN heads h2 ON h2.nk = h1.nk AND h2.b = h1.b + 1),
      |e AS (SELECT a, b FROM intra UNION ALL SELECT a, b FROM inter),
      |s0 AS MATERIALIZED (
      |  SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
      |a1 AS (SELECT a FROM s0 GROUP BY a HAVING count(*) >= 4),
      |s1 AS MATERIALIZED (SELECT s.a, s.b FROM s0 s
      |  JOIN a1 x ON x.a = s.a JOIN a1 y ON y.a = s.b),
      |a2 AS (SELECT a FROM s1 GROUP BY a HAVING count(*) >= 4),
      |s2 AS MATERIALIZED (SELECT s.a, s.b FROM s1 s
      |  JOIN a2 x ON x.a = s.a JOIN a2 y ON y.a = s.b),
      |a3 AS (SELECT a FROM s2 GROUP BY a HAVING count(*) >= 4),
      |s3 AS (SELECT s.a, s.b FROM s2 s
      |  JOIN a3 x ON x.a = s.a JOIN a3 y ON y.a = s.b)
      |SELECT a AS id, CAST(count(*) AS BIGINT) AS degree
      |FROM s3 GROUP BY a ORDER BY id""") { (s, d) =>
    kcorePeel(s, d, KcoreRounds)
      .orderBy("id") // one row per surviving vertex = input-sized
  }

  /** Basket-size cap for [[graph_copurchase_lift]] — see its scaladoc.
    * MUST be declared BEFORE the q() registration: the oracle SQL
    * interpolates it at object-init time (a later val would read 0).
    */
  private val BasketCap = 32

  /** Market-basket co-occurrence with lift (SPEC: the pairwise core of
    * Agrawal & Srikant 1994 association-rule mining — support counts
    * for item pairs plus the lift ratio n_ab·N/(n_a·n_b), the standard
    * "bought together" signal and, on documents, the co-citation /
    * co-click primitive). The BIPARTITE-PROJECTION member of the graph
    * family: customers×parts via order baskets, projected to a
    * part–part edge list weighted by co-purchase count.
    *
    * Scale shape: pair emission is a SELF-EQUI-JOIN of the distinct
    * (order, part) basket frame on the order key — Spark plans one
    * exchange that both sides REUSE (ReusedExchange), so the quadratic
    * blow-up is bounded per-order by basket size k at Σk², never a
    * cross-product. A 100 TB web corpus has pathological baskets
    * (a crawler "order" touching 10⁶ items would emit 10¹² pairs), so
    * baskets are CAPPED at [[BasketCap]] items before pairing — the
    * same armed-at-scale guard as the dedup family's df caps (a no-op
    * on TPC-H's ≤17-item orders, load-bearing on open-web data; the
    * cap is part of the operator contract and the oracle applies it
    * identically). Pair support ≥ 2 bounds the output to genuinely
    * co-occurring pairs; totals join on the part-sized frame stays
    * AQE-sized (checklist rule 11 — a vocabulary-sized dim, no pin).
    * Lift arithmetic is one double expression over exact integer
    * counts — identical literal shape in both engines (rule 5).
    */
  q("graph_copurchase_lift",
    s"""WITH b0 AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |small AS (SELECT ok FROM b0 GROUP BY ok HAVING count(*) <= $BasketCap),
      |b AS (SELECT b0.ok, b0.pk FROM b0 JOIN small ON small.ok = b0.ok),
      |n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS baskets FROM b),
      |pt AS (SELECT pk, count(*) AS np FROM b GROUP BY pk),
      |p AS (SELECT a.pk AS part_a, c.pk AS part_b, count(*) AS n_ab
      |      FROM b a JOIN b c ON a.ok = c.ok AND a.pk < c.pk
      |      GROUP BY a.pk, c.pk HAVING count(*) >= 2)
      |SELECT p.part_a, p.part_b, CAST(p.n_ab AS BIGINT) AS n_ab,
      |       round(CAST(p.n_ab AS DOUBLE) * n.baskets /
      |             (CAST(x.np AS DOUBLE) * y.np), 6) AS lift
      |FROM p CROSS JOIN n
      |JOIN pt x ON x.pk = p.part_a JOIN pt y ON y.pk = p.part_b
      |ORDER BY part_a, part_b""") { (s, d) =>
    val b0 = T(s, d, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val small = b0.groupBy("ok").agg(count(lit(1)).as("bs"))
      .filter(col("bs") <= BasketCap).select("ok")
    val basket = b0.join(small, Seq("ok"), "left_semi")
    val baskets = basket.select("ok").distinct()
      .agg(count(lit(1)).as("baskets"))
    val totals = basket.groupBy("pk").agg(count(lit(1)).as("np"))
    val pairs = basket.as("a")
      .join(basket.as("c"),
        col("a.ok") === col("c.ok") && col("a.pk") < col("c.pk"))
      .groupBy(col("a.pk").as("part_a"), col("c.pk").as("part_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 2)
    pairs
      .join(totals.select(col("pk").as("part_a"), col("np").as("np_a")), Seq("part_a"))
      .join(totals.select(col("pk").as("part_b"), col("np").as("np_b")), Seq("part_b"))
      .crossJoin(broadcast(baskets)) // 1-row global count: genuinely bounded
      .select(col("part_a"), col("part_b"), col("n_ab").cast("long").as("n_ab"),
        round(col("n_ab").cast("double") * col("baskets") /
          (col("np_a").cast("double") * col("np_b")), 6).as("lift"))
      .orderBy("part_a", "part_b") // pair-sized output = distributed sort
  }

  /** The registered peel, round count exposed so OpsSemanticsSpec can
    * pin that round 3 is the fixpoint (round-4 output identical).
    */
  private[ops] def kcorePeel(s: SparkSession, d: String, rounds: Int): DataFrame = {
    val rc = new Checkpoints
    var sym = pinnedSym(rc, blockEdges(s, d))
    for (_ <- 1 to rounds) {
      val alive = sym.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= KcoreK)
        .select(col("src").as("v"))
      sym = rc.cycle("peel", sym
        .join(alive.select(col("v").as("src")), Seq("src"), "left_semi")
        .join(alive.select(col("v").as("dst")), Seq("dst"), "left_semi"))
    }
    rc.release("sym")
    sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
  }

  /** Katz centrality (SPEC: Katz 1953 — attenuated path counting:
    * x(v) = β + α·Σ_{u→v} x(u), counting walks of every length into v
    * weighted α^len; the "influence even without being a sink"
    * centrality that PageRank's stochastic normalization hides, and
    * the one that stays meaningful on DAGs where eigenvector
    * centrality collapses to 0). Directed lead-edge graph, 4 unrolled
    * Jacobi rounds with α = 0.125 (dyadic; in-degree ≤ 2 here bounds
    * the spectral radius safely below 1/α — the convergence condition
    * α < 1/λ_max) and β = 1. Per round ONE vertex-keyed contribution
    * join + aggregate (the HITS shape, minus its normalization
    * passes); per-round localCheckpoint with free-previous; each score
    * snaps to the ε-shifted 1e-6 fixpoint grid so the unrolled-CTE
    * oracle replays the iteration exactly. 100 TB: rounds are O(E)
    * equi-joins partitioned by vertex — AQE-friendly, no global state
    * beyond the k-round unroll.
    */
  q("graph_katz_centrality", {
    val iters = 4
    val head =
      """WITH c AS (SELECT c_custkey AS id, c_nationkey AS nk FROM customer),
        |l AS (SELECT nk, id,
        |             lead(id, 1) OVER (PARTITION BY nk ORDER BY id) AS n1,
        |             lead(id, 2) OVER (PARTITION BY nk ORDER BY id) AS n2
        |      FROM c),
        |e AS (SELECT id AS src, n1 AS dst FROM l WHERE n1 IS NOT NULL
        |      UNION ALL
        |      SELECT id AS src, n2 AS dst FROM l WHERE n2 IS NOT NULL),
        |verts AS (SELECT c_custkey AS vid FROM customer),
        |x0 AS (SELECT vid, CAST(1.0 AS DOUBLE) AS x FROM verts)""".stripMargin
    val rounds = (1 to iters).map { k =>
      s""",
         |s$k AS (SELECT e.dst, sum(x.x) AS in_sum
         |        FROM e JOIN x${k - 1} x ON x.vid = e.src GROUP BY e.dst),
         |x$k AS (SELECT v.vid,
         |        floor((1.0 + CAST(0.125 AS DOUBLE) * coalesce(s$k.in_sum, 0))
         |              * 1000000 + CAST(0.5000005 AS DOUBLE)) / 1000000 AS x
         |        FROM verts v LEFT JOIN s$k ON s$k.dst = v.vid)""".stripMargin
    }.mkString
    head + rounds +
      s"\nSELECT vid AS c_custkey, x AS katz FROM x$iters ORDER BY c_custkey"
  }) { (s, d) =>
    val rc = new Checkpoints
    val verts = rc.pin("verts",
      T(s, d, "customer").select(col("c_custkey").as("vid")))
    val e0 = leadEdges(s, d, withN2 = true, maxGap = None)
    val e = rc.pin("edges", e0.select(col("a").as("src"), col("b").as("dst")))
    var x = rc.cycle("x", verts.withColumn("x", lit(1.0)))
    for (_ <- 1 to 4) {
      val contribs = e
        .join(x.select(col("vid").as("src"), col("x").as("sx")), Seq("src"))
        .groupBy("dst").agg(sum("sx").as("in_sum"))
      x = rc.cycle("x", verts
        .join(contribs, col("vid") === col("dst"), "left")
        .select(col("vid"),
          (floor((lit(1.0) + lit(0.125) * coalesce(col("in_sum"), lit(0.0)))
            * 1e6 + lit(0.5000005)) / 1e6).as("x")))
    }
    rc.release("verts", "edges")
    x.select(col("vid").as("c_custkey"), col("x").as("katz"))
      .orderBy("c_custkey") // one row per vertex = input-sized
  }

  /** Eigenvector centrality (SPEC: Bonacich 1972 power iteration —
    * x ∝ Ax on the UNDIRECTED block graph, the centrality where a
    * vertex is important because its neighbors are; [[graph_katz_centrality]]
    * covers the DAG case this measure cannot). 3 unrolled power-
    * iteration rounds with L1 normalization SCALED BY |V| (mean
    * centrality 1, so scores stay O(1) on the 1e-6 grid instead of
    * vanishing as 1/|V|): x' = snap(s·|V|/Σs), s = Σ_{u∼v} x(u).
    * Determinism: x lives on the ε-shifted 1e-6 grid, so neighbor
    * sums and the global Σs are order-free exact; the product and
    * division are single correctly-rounded ops (identical bits even
    * past 2⁵³, where they stop being exact but stay deterministic);
    * isolated vertices snap to 0 (the textbook limit). Per round ONE
    * edges⋈scores equi-join + vertex agg + a 1-row norm broadcast —
    * the katz shape plus normalization, O(E) per round at any scale.
    */
  q("graph_eigenvector_centrality", {
    val iters = 3
    val head =
      """WITH c AS (SELECT c_custkey AS id, c_nationkey AS nk,
        |             row_number() OVER (PARTITION BY c_nationkey
        |               ORDER BY c_custkey) - 1 AS rk
        |      FROM customer),
        |blk AS (SELECT id, nk, rk // 6 AS b FROM c),
        |intra AS (
        |  SELECT x.id AS a, y.id AS b FROM blk x
        |  JOIN blk y ON y.nk = x.nk AND y.b = x.b AND y.id > x.id),
        |heads AS (SELECT nk, b, min(id) AS hid, max(id) AS tid
        |          FROM blk GROUP BY nk, b),
        |inter AS (
        |  SELECT h1.tid AS a, h2.hid AS b FROM heads h1
        |  JOIN heads h2 ON h2.nk = h1.nk AND h2.b = h1.b + 1),
        |e AS (SELECT a, b FROM intra UNION ALL SELECT a, b FROM inter),
        |sym AS MATERIALIZED (
        |  SELECT a AS src, b AS dst FROM e
        |  UNION ALL SELECT b AS src, a AS dst FROM e),
        |verts AS (SELECT c_custkey AS vid FROM customer),
        |nv AS (SELECT CAST(count(*) AS DOUBLE) AS vcnt FROM verts),
        |x0 AS (SELECT vid, CAST(1.0 AS DOUBLE) AS x FROM verts)""".stripMargin
    val rounds = (1 to iters).map { k =>
      s""",
         |s$k AS (SELECT sym.dst, sum(x.x) AS s
         |        FROM sym JOIN x${k - 1} x ON x.vid = sym.src GROUP BY sym.dst),
         |t$k AS (SELECT sum(s) AS tot FROM s$k),
         |x$k AS (SELECT v.vid,
         |        floor(((coalesce(s$k.s, 0.0) * nv.vcnt) / t$k.tot) * 1000000
         |              + CAST(0.5000005 AS DOUBLE)) / 1000000 AS x
         |        FROM verts v LEFT JOIN s$k ON s$k.dst = v.vid
         |        CROSS JOIN t$k CROSS JOIN nv)""".stripMargin
    }.mkString
    head + rounds +
      s"\nSELECT vid AS c_custkey, x AS eig FROM x$iters ORDER BY c_custkey"
  }) { (s, d) =>
    val rc = new Checkpoints
    val verts = rc.pin("verts",
      T(s, d, "customer").select(col("c_custkey").as("vid")))
    val sym = pinnedSym(rc, blockEdges(s, d))
    val nv = verts.agg(count(lit(1)).cast("double").as("vcnt"))
    var x = rc.cycle("x", verts.withColumn("x", lit(1.0)))
    for (_ <- 1 to 3) {
      val sfr = sym
        .join(x.select(col("vid").as("src"), col("x").as("sx")), Seq("src"))
        .groupBy("dst").agg(sum("sx").as("s"))
      val tot = sfr.agg(sum("s").as("tot"))
      x = rc.cycle("x", verts
        .join(sfr, col("vid") === col("dst"), "left")
        .crossJoin(broadcast(tot)).crossJoin(broadcast(nv))
        .select(col("vid"),
          (floor(((coalesce(col("s"), lit(0.0)) * col("vcnt")) / col("tot"))
            * 1e6 + lit(0.5000005)) / 1e6).as("x")))
    }
    rc.release("verts", "sym")
    x.select(col("vid").as("c_custkey"), col("x").as("eig"))
      .orderBy("c_custkey") // one row per vertex = input-sized
  }

  /** 4-truss of the block graph (SPEC: Cohen 2008 "Trusses: cohesive
    * subgraphs for social network analysis" — keep only edges
    * supported by ≥ k−2 triangles, iterating until stable; the
    * EDGE-grained cohesion standard between triangle counting and
    * k-core: cores keep degree-heavy but triangle-free junk, trusses
    * demand actual triangles). Two synchronized peel rounds (the
    * block graph reaches its fixpoint in one — bridges carry 0
    * triangles and die, clique edges keep support 4; GraphSpec pins
    * round-2 = round-1, and the scaladoc'd production form iterates
    * to the data-dependent fixpoint exactly like kcore's peel). Per
    * round: support = ONE two-hop equi-join (edges ⋈ sym ⋈ sym on the
    * shared endpoint) + edge-keyed count + filter — all
    * vertex/edge-keyed shuffles, no cartesian; all integer.
    */
  q("graph_ktruss", {
    val head =
      """WITH c AS (SELECT c_custkey AS id, c_nationkey AS nk,
        |             row_number() OVER (PARTITION BY c_nationkey
        |               ORDER BY c_custkey) - 1 AS rk
        |      FROM customer),
        |blk AS (SELECT id, nk, rk // 6 AS b FROM c),
        |intra AS (
        |  SELECT x.id AS a, y.id AS b FROM blk x
        |  JOIN blk y ON y.nk = x.nk AND y.b = x.b AND y.id > x.id),
        |heads AS (SELECT nk, b, min(id) AS hid, max(id) AS tid
        |          FROM blk GROUP BY nk, b),
        |inter AS (
        |  SELECT h1.tid AS a, h2.hid AS b FROM heads h1
        |  JOIN heads h2 ON h2.nk = h1.nk AND h2.b = h1.b + 1),
        |e0 AS MATERIALIZED (SELECT a, b FROM intra UNION ALL SELECT a, b FROM inter)""".stripMargin
    def round(prev: String, out: String): String =
      s""",
         |sym_$prev AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM $prev
         |  UNION ALL SELECT b AS src, a AS dst FROM $prev),
         |sup_$out AS (
         |  SELECT e.a, e.b, count(*) AS support
         |  FROM $prev e
         |  JOIN sym_$prev n1 ON n1.src = e.a
         |  JOIN sym_$prev n2 ON n2.src = e.b AND n2.dst = n1.dst
         |  GROUP BY e.a, e.b),
         |$out AS MATERIALIZED (
         |  SELECT a, b FROM sup_$out WHERE support >= 2)""".stripMargin
    head + round("e0", "e1") + round("e1", "e2") +
      s"""
         |SELECT s.a, s.b, CAST(s.support AS BIGINT) AS support
         |FROM sup_e2 s JOIN e2 ON e2.a = s.a AND e2.b = s.b
         |ORDER BY s.a, s.b""".stripMargin
  }) { (s, d) =>
    val rc = new Checkpoints
    var e = rc.cycle("e", blockEdges(s, d))
    var sup: DataFrame = null
    for (_ <- 1 to 2) {
      val sym = e.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(e.select(col("b").as("src"), col("a").as("dst")))
      // sup gets its own checkpoint tag: cycling "e" frees the previous
      // edge frame's blocks, which an unmaterialized sup still references
      sup = rc.cycle("sup", e
        .join(sym.select(col("src").as("s1"), col("dst").as("x1")),
          col("a") === col("s1"))
        .join(sym.select(col("src").as("s2"), col("dst").as("x2")),
          col("b") === col("s2") && col("x2") === col("x1"))
        .groupBy("a", "b").agg(count(lit(1)).as("support")))
      e = rc.cycle("e", sup.filter(col("support") >= 2).select("a", "b"))
    }
    val out = sup.join(e, Seq("a", "b"))
      .select(col("a"), col("b"), col("support").cast("long").as("support"))
      .orderBy("a", "b") // surviving-edge-sized = distributed sort
    out
  }

  /** Hash-derandomized graph walks (SPEC: DeepWalk — Perozzi et al.
    * 2014 — corpus generation for graph embeddings: one fixed-length
    * walk per vertex, the "sentences" a skip-gram model trains on;
    * the RNG transition is replaced by the argmin-of-md5(cur, step,
    * nbr) choice — a standard hash-derandomization that keeps the
    * walk distribution spread across neighbors while making every
    * path REPRODUCIBLE across engines, re-runs and re-ingestions,
    * which a seeded RNG cannot promise across two implementations).
    * 4 unrolled steps on the undirected block graph; per step ONE
    * frontier⋈edges equi-join + a degree-bounded argmin window
    * (md5 hex strings compare identically on both engines); isolated
    * vertices self-loop. O(E) per step, checkpoint discipline —
    * corpus generation for 10⁹ vertices is 4 hash joins.
    */
  q("graph_deterministic_walks", {
    val steps = 4
    val head =
      """WITH c AS (SELECT c_custkey AS id, c_nationkey AS nk,
        |             row_number() OVER (PARTITION BY c_nationkey
        |               ORDER BY c_custkey) - 1 AS rk
        |      FROM customer),
        |blk AS (SELECT id, nk, rk // 6 AS b FROM c),
        |intra AS (
        |  SELECT x.id AS a, y.id AS b FROM blk x
        |  JOIN blk y ON y.nk = x.nk AND y.b = x.b AND y.id > x.id),
        |heads AS (SELECT nk, b, min(id) AS hid, max(id) AS tid
        |          FROM blk GROUP BY nk, b),
        |inter AS (
        |  SELECT h1.tid AS a, h2.hid AS b FROM heads h1
        |  JOIN heads h2 ON h2.nk = h1.nk AND h2.b = h1.b + 1),
        |e AS (SELECT a, b FROM intra UNION ALL SELECT a, b FROM inter),
        |sym AS MATERIALIZED (
        |  SELECT a AS src, b AS dst FROM e
        |  UNION ALL SELECT b AS src, a AS dst FROM e),
        |w0 AS (SELECT c_custkey AS start, c_custkey AS cur,
        |              CAST(c_custkey AS VARCHAR) AS path FROM customer)""".stripMargin
    val rounds = (1 to steps).map { k =>
      s""",
         |n$k AS (SELECT w.start, w.cur, w.path, e.dst,
         |        row_number() OVER (PARTITION BY w.start ORDER BY
         |          md5(CAST(w.cur AS VARCHAR) || '-$k-' || CAST(e.dst AS VARCHAR)),
         |          e.dst) AS rn
         |        FROM w${k - 1} w LEFT JOIN sym e ON e.src = w.cur),
         |w$k AS (SELECT start, coalesce(dst, cur) AS cur,
         |               path || '->' || CAST(coalesce(dst, cur) AS VARCHAR) AS path
         |        FROM n$k WHERE rn = 1)""".stripMargin
    }.mkString
    head + rounds +
      s"\nSELECT start AS c_custkey, path, cur AS end_id FROM w$steps ORDER BY c_custkey"
  }) { (s, d) =>
    val rc = new Checkpoints
    val sym = pinnedSym(rc, blockEdges(s, d))
    var w = rc.cycle("w", T(s, d, "customer")
      .select(col("c_custkey").as("start"), col("c_custkey").as("cur"),
        col("c_custkey").cast("string").as("path")))
    for (k <- 1 to 4) {
      val h = md5(concat(col("cur").cast("string"), lit(s"-$k-"),
        col("dst").cast("string")))
      val win = Window.partitionBy("start").orderBy(h.asc, col("dst").asc)
      w = rc.cycle("w", w
        .join(sym.select(col("src"), col("dst")), col("cur") === col("src"), "left")
        .withColumn("rn", row_number().over(win))
        .filter(col("rn") === 1)
        .select(col("start"), coalesce(col("dst"), col("cur")).as("cur"),
          concat(col("path"), lit("->"),
            coalesce(col("dst"), col("cur")).cast("string")).as("path")))
    }
    rc.release("sym")
    w.select(col("start").as("c_custkey"), col("path"), col("cur").as("end_id"))
      .orderBy("c_custkey") // one walk per vertex = input-sized
  }

  /** Single-source shortest paths with EDGE WEIGHTS (SPEC: horizon-
    * bounded Bellman–Ford over the per-nation block graph — the
    * weighted upgrade of [[graph_bfs_distance]]: hop count becomes
    * Σw along the path, and a longer-hop lighter path may win, which
    * the spec pins). Weights are derived deterministically from the
    * endpoint ids (w = (a+b) mod 7 + 1 — integer, symmetric), so both
    * engines construct the identical weighted graph from the same
    * parquet. [[BfsRounds]] synchronous relaxation rounds — per round
    * ONE edges⋈frontier equi-join + a per-vertex min aggregate, all
    * integer arithmetic (no quantization anywhere), per-round
    * localCheckpoint with free-previous. Horizon semantics exactly as
    * BFS: dist = min path weight over paths of ≤ 8 hops (an uncapped
    * sweep is a data-dependent round count no static oracle can
    * replay; production landmark/ETA features cap the same way). At
    * 100 TB: rounds are O(E) joins partitioned by vertex; the
    * frontier never materializes more than (id, dist).
    */
  q("graph_sssp_weighted", {
    val head =
      """WITH RECURSIVE
        |c AS (SELECT c_custkey AS id, c_nationkey AS nk,
        |             row_number() OVER (PARTITION BY c_nationkey
        |               ORDER BY c_custkey) - 1 AS rk
        |      FROM customer),
        |blk AS (SELECT id, nk, rk // 6 AS b FROM c),
        |intra AS (
        |  SELECT x.id AS a, y.id AS b FROM blk x
        |  JOIN blk y ON y.nk = x.nk AND y.b = x.b AND y.id > x.id),
        |heads AS (SELECT nk, b, min(id) AS hid, max(id) AS tid
        |          FROM blk GROUP BY nk, b),
        |inter AS (
        |  SELECT h1.tid AS a, h2.hid AS b FROM heads h1
        |  JOIN heads h2 ON h2.nk = h1.nk AND h2.b = h1.b + 1),
        |e AS (SELECT a, b FROM intra UNION ALL SELECT a, b FROM inter),
        |sym AS MATERIALIZED (
        |  SELECT a AS src, b AS dst, (a + b) % 7 + 1 AS w FROM e
        |  UNION ALL
        |  SELECT b AS src, a AS dst, (a + b) % 7 + 1 AS w FROM e),
        |seeds AS (SELECT min(id) AS id FROM blk GROUP BY nk)""".stripMargin
    head +
      s""",
         |reach(id, dist, k) AS (
         |  SELECT id, CAST(0 AS BIGINT) AS dist, 0 AS k FROM seeds
         |  UNION
         |  SELECT s.dst AS id, r.dist + s.w AS dist, r.k + 1 AS k
         |  FROM reach r JOIN sym s ON s.src = r.id WHERE r.k < $BfsRounds
         |)
         |SELECT id, CAST(min(dist) AS BIGINT) AS dist
         |FROM reach GROUP BY id ORDER BY id""".stripMargin
  }) { (s, d) =>
    val rc = new Checkpoints
    val sym = rc.pin("wsym", pinnedSym(rc, blockEdges(s, d))
      .withColumn("w", (col("src") + col("dst")) % 7 + 1))
    var lab = nationSeeds(s, d).select(col("id"), lit(0L).as("dist"))
    for (_ <- 1 to BfsRounds) {
      val prop = sym
        .join(lab.select(col("id").as("src"), col("dist")), Seq("src"))
        .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
      lab = rc.cycle("sssp", lab.unionByName(prop)
        .groupBy("id").agg(min("dist").as("dist")))
    }
    rc.release("sym", "wsym")
    lab.select(col("id"), col("dist").cast("long").as("dist"))
      .orderBy("id") // one row per reached vertex = input-sized
  }

  /** Strongly connected components on a DIRECTED graph (SPEC: SCC =
    * mutual-reachability equivalence classes; evaluated — like every
    * iterative row here — over the [[BfsRounds]]-hop horizon, which on
    * this graph IS exact: the construction's longest cycle is the
    * 6-vertex block ring, under the 8-hop cap). The directed test
    * graph: within each block id→successor plus tail→head (a 6-cycle
    * per block — the SCCs), and head→next-block-head one-way (a DAG
    * between blocks — the part [[graph_connected_components]] cannot
    * see: CC merges the whole chain, SCC keeps blocks separate).
    * Plan: the PAIR-FRAME reach expansion — frontier (origin, v)
    * starts at (v, v), each round extends by one edge and dedups;
    * out-degree ≤ 2 bounds the frame at n·O(2^h)→n·~20 actual rows.
    * scc_id(v) = min{u : v⇝u ∧ u⇝v} via ONE self-join of the reach
    * frame against its transpose; sizes from one group count. All
    * integer, no quantization. At 100 TB the horizon is the knob: a
    * longer-cycle graph needs the FW-BW/coloring decomposition
    * (Orzan 2004) — this row pins the bounded-horizon contract that
    * landmark pipelines run, exactly as graph_bfs_distance does for
    * distances.
    */
  q("graph_scc", {
    val head =
      """WITH RECURSIVE
        |c AS (SELECT c_custkey AS id, c_nationkey AS nk,
        |             row_number() OVER (PARTITION BY c_nationkey
        |               ORDER BY c_custkey) - 1 AS rk
        |      FROM customer),
        |blk AS (SELECT id, nk, rk // 6 AS b FROM c),
        |nxt AS (SELECT id, lead(id) OVER (PARTITION BY nk, b ORDER BY id) AS n
        |        FROM blk),
        |e1 AS (SELECT id AS src, n AS dst FROM nxt WHERE n IS NOT NULL),
        |heads AS (SELECT nk, b, min(id) AS hid, max(id) AS tid
        |          FROM blk GROUP BY nk, b),
        |cyc AS (SELECT tid AS src, hid AS dst FROM heads WHERE tid <> hid),
        |link AS (SELECT h1.hid AS src, h2.hid AS dst FROM heads h1
        |         JOIN heads h2 ON h2.nk = h1.nk AND h2.b = h1.b + 1),
        |e AS MATERIALIZED (
        |  SELECT src, dst FROM e1 UNION ALL SELECT src, dst FROM cyc
        |  UNION ALL SELECT src, dst FROM link)""".stripMargin
    head +
      s""",
         |reach(o, v, k) AS (
         |  SELECT id AS o, id AS v, 0 AS k FROM blk
         |  UNION
         |  SELECT r.o, e.dst AS v, r.k + 1 AS k
         |  FROM reach r JOIN e ON e.src = r.v WHERE r.k < $BfsRounds
         |),
         |rs AS (SELECT DISTINCT o, v FROM reach),
         |scc AS (SELECT r1.o AS id, min(r1.v) AS scc_id
         |        FROM rs r1 JOIN rs r2 ON r2.o = r1.v AND r2.v = r1.o
         |        GROUP BY r1.o),
         |sz AS (SELECT scc_id, count(*) AS scc_size FROM scc GROUP BY scc_id)
         |SELECT scc.id, CAST(scc.scc_id AS BIGINT) AS scc_id,
         |       CAST(sz.scc_size AS BIGINT) AS scc_size
         |FROM scc JOIN sz USING (scc_id) ORDER BY id""".stripMargin
  }) { (s, d) =>
    val rc = new Checkpoints
    val w = Window.partitionBy("nk", "b").orderBy("id")
    val blk = T(s, d, "customer")
      .select(col("c_custkey").as("id"), col("c_nationkey").as("nk"))
      .withColumn("rk", row_number().over(Window.partitionBy("nk").orderBy("id")) - 1)
      .withColumn("b", (col("rk") / 6).cast("long"))
    val e1 = blk.withColumn("n", lead("id", 1).over(w))
      .filter(col("n").isNotNull)
      .select(col("id").as("src"), col("n").as("dst"))
    val heads = blk.groupBy("nk", "b")
      .agg(min("id").as("hid"), max("id").as("tid"))
    val cyc = heads.filter(col("tid") =!= col("hid"))
      .select(col("tid").as("src"), col("hid").as("dst"))
    val link = heads.as("h1").join(heads.as("h2"),
        col("h2.nk") === col("h1.nk") && col("h2.b") === col("h1.b") + 1)
      .select(col("h1.hid").as("src"), col("h2.hid").as("dst"))
    val e = rc.pin("edges", e1.unionByName(cyc).unionByName(link))
    var reach = rc.cycle("reach",
      blk.select(col("id").as("o"), col("id").as("v")))
    for (_ <- 1 to BfsRounds) {
      val step = reach
        .join(e.select(col("src").as("v"), col("dst")), Seq("v"))
        .select(col("o"), col("dst").as("v"))
      reach = rc.cycle("reach", reach.unionByName(step).distinct())
    }
    rc.release("edges")
    val scc = reach
      .join(reach.select(col("v").as("o"), col("o").as("v")), Seq("o", "v"), "left_semi")
      .groupBy(col("o").as("id")).agg(min("v").as("scc_id"))
    val sz = scc.groupBy("scc_id").agg(count(lit(1)).as("scc_size"))
    scc.join(sz, Seq("scc_id"))
      .select(col("id"), col("scc_id").cast("long").as("scc_id"),
        col("scc_size").cast("long").as("scc_size"))
      .orderBy("id") // one row per vertex = input-sized
  }
}
