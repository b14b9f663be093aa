package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Brute-force cross-checks for the graph rows — independent of the
  * DuckDB oracle: triangles by adjacency-set enumeration, components
  * by union-find. A hash match against BOTH a naive SQL triple join
  * (the oracle) and an in-memory reference (here) pins the
  * degree-oriented / pointer-jumping plans from two directions.
  */
class GraphSpec extends AnyFunSuite {

  lazy val spark = graft.Sessions.build("local[4]", "4")

  private val dir = "/root/testdata/sf0.001"

  /** (id, nationkey) pairs from the customer table, as the queries see them. */
  private def customers: Array[(Long, Long)] =
    spark.read.parquet(s"$dir/customer.parquet")
      .select("c_custkey", "c_nationkey").collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getAs[Number](1).longValue()))

  test("triangle count per nation matches adjacency-set brute force") {
    val byNk = customers.groupBy(_._2).map { case (nk, cs) => (nk, cs.map(_._1).sorted) }
    val expected = byNk.map { case (nk, ids) =>
      val adj = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
      def add(a: Long, b: Long): Unit = { adj(a) = adj(a) + b; adj(b) = adj(b) + a }
      ids.indices.foreach { i =>
        if (i + 1 < ids.length) add(ids(i), ids(i + 1))
        if (i + 2 < ids.length) add(ids(i), ids(i + 2))
      }
      val n = (for {
        a <- ids
        b <- adj(a) if b > a
        c <- adj(a) if c > b && adj(b).contains(c)
      } yield 1).size.toLong
      (nk, n)
    }.filter(_._2 > 0)
    val got = graft.SparkEntry.queries("graph_triangle_count")(spark, dir).collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getAs[Number](1).longValue())).toMap
    assert(got.values.sum > 0, "the path-square graph must contain triangles")
    expected.foreach { case (nk, n) =>
      assert(got.getOrElse(nk, 0L) == n, s"nation $nk")
    }
    assert(got.keySet == expected.map(_._1).toSet)
  }

  test("clustering coefficient matches adjacency-set brute force per vertex") {
    val byNk = customers.groupBy(_._2).map { case (nk, cs) => (nk, cs.map(_._1).sorted) }
    val expected = byNk.flatMap { case (nk, ids) =>
      val adj = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
      def add(a: Long, b: Long): Unit = { adj(a) = adj(a) + b; adj(b) = adj(b) + a }
      ids.indices.foreach { i =>
        if (i + 1 < ids.length) add(ids(i), ids(i + 1))
        if (i + 2 < ids.length) add(ids(i), ids(i + 2))
      }
      adj.toSeq.map { case (v, nbrs) =>
        val tri = nbrs.toSeq.combinations(2)
          .count { case Seq(x, y) => adj(x).contains(y) }.toLong
        val deg = nbrs.size
        val coef = if (deg >= 2)
          Some(BigDecimal(2.0 * tri / (deg.toLong * (deg - 1)))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        else None
        ((nk, v), (deg, tri, coef))
      }
    }
    val got = graft.SparkEntry.queries("graph_clustering_coefficient")(spark, dir)
      .collect().map { r =>
        ((r.getAs[Number](0).longValue(), r.getAs[Number](1).longValue()),
          (r.getAs[Number](2).intValue(), r.getAs[Number](3).longValue(),
            Option(r.get(4)).map(_.asInstanceOf[Number].doubleValue())))
      }.toMap
    assert(got.keySet == expected.keySet, "one row per non-isolated vertex")
    assert(expected.exists(_._2._3.exists(_ > 0)), "some vertex must close a triangle")
    expected.foreach { case (k, (deg, tri, coef)) =>
      val (gd, gt, gc) = got(k)
      assert(gd == deg && gt == tri, s"vertex $k deg/tri")
      (coef, gc) match {
        case (Some(e), Some(g)) => assert(math.abs(e - g) < 1e-9, s"vertex $k coef")
        case (None, None) =>
        case other => fail(s"vertex $k coef presence mismatch: $other")
      }
    }
  }

  test("graph_assortativity matches a driver-side Pearson over edge-degree pairs") {
    val byNk = customers.groupBy(_._2)
    val expected = byNk.flatMap { case (nk, cs) =>
      val ids = cs.map(_._1).sorted
      val edges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      ids.indices.foreach { i =>
        if (i + 1 < ids.length) edges += ((ids(i), ids(i + 1)))
        if (i + 2 < ids.length) edges += ((ids(i), ids(i + 2)))
      }
      if (edges.isEmpty) None
      else {
        val sym = edges.toSeq.flatMap { case (a, b) => Seq((a, b), (b, a)) }
        val deg = sym.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
        val xs = sym.map { case (a, _) => deg(a) }
        val ys = sym.map { case (_, b) => deg(b) }
        val n = sym.size.toDouble
        val (sx, sy) = (xs.sum.toDouble, ys.sum.toDouble)
        val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum.toDouble
        val (sx2, sy2) = (xs.map(x => x * x).sum.toDouble, ys.map(y => y * y).sum.toDouble)
        val den = math.sqrt(math.max((n * sx2 - sx * sx) * (n * sy2 - sy * sy), 0))
        val r = if (den == 0) None
          else Some(math.floor((n * sxy - sx * sy) / den * 1e6 + 0.5) / 1e6 + 0.0)
        Some(nk -> (sym.size.toLong, r))
      }
    }
    val got = graft.SparkEntry.queries("graph_assortativity")(spark, dir).collect()
      .map(r => r.getAs[Number](0).longValue() ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (nk, (m, r)) =>
      assert(got(nk)._1 == m, s"nation $nk edge count")
      (r, got(nk)._2) match {
        case (Some(e), Some(g)) =>
          assert(math.abs(e - g) < 1e-6, s"nation $nk r: $g vs $e")
          assert(g >= -1.0 - 1e-9 && g <= 1.0 + 1e-9, s"nation $nk r out of [-1,1]")
        case (None, None) =>
        case other => fail(s"nation $nk null mismatch: $other")
      }
    }
  }

  test("graph_modularity matches a driver-side Newman Q; planted partition scores high") {
    val byNk = customers.groupBy(_._2)
    val comm = scala.collection.mutable.Map.empty[Long, Long]
    val edges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    byNk.foreach { case (nk, cs) =>
      val ids = cs.map(_._1).sorted
      val blocks = ids.grouped(6).toSeq
      blocks.zipWithIndex.foreach { case (b, bi) =>
        b.foreach(id => comm(id) = nk * 1000000 + bi) // r13: widened key
        for (i <- b.indices; j <- i + 1 until b.length) edges += ((b(i), b(j)))
      }
      blocks.sliding(2).foreach {
        case Seq(b1, b2) => edges += ((b1.max, b2.min))
        case _ =>
      }
    }
    val m = edges.size.toDouble
    val eC = edges.toSeq.filter(e => comm(e._1) == comm(e._2))
      .groupBy(e => comm(e._1)).map { case (c, es) => c -> es.size.toLong }
    val dC = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(comm).map { case (c, vs) => c -> vs.size.toLong }
    def snap(x: Double): Double = math.floor(x * 1048576.0 + 0.5) / 1048576.0
    val contribs = comm.values.toSeq.distinct.map { c =>
      val ec = eC.getOrElse(c, 0L); val dc = dC.getOrElse(c, 0L)
      c -> (ec / m - (dc / (2 * m)) * (dc / (2 * m)))
    }.toMap
    val q = contribs.values.map(snap).sum
    val got = graft.SparkEntry.queries("graph_modularity")(spark, dir).collect()
    assert(got.map(_.getLong(0)).toSet == contribs.keySet)
    got.foreach { r =>
      val c = r.getLong(0)
      assert(r.getLong(2) == eC.getOrElse(c, 0L), s"comm $c intra edges")
      assert(r.getLong(3) == dC.getOrElse(c, 0L), s"comm $c degree sum")
      assert(math.abs(r.getDouble(4) - contribs(c)) < 1e-6, s"comm $c contribution")
      assert(math.abs(r.getDouble(5) - q) < 1e-6, s"q_total")
    }
    // the planted clique partition must score far above chance (Q=0)
    assert(q > 0.8, s"planted partition modularity only $q")
  }

  test("graph_louvain_pass: driver-side replay agrees; Q(louvain) >= Q(LPA)") {
    // rebuild the block graph driver-side (same construction as above)
    val byNk = customers.groupBy(_._2)
    val edges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    byNk.foreach { case (_, cs) =>
      val ids = cs.map(_._1).sorted
      val blocks = ids.grouped(6).toSeq
      blocks.foreach { b =>
        for (i <- b.indices; j <- i + 1 until b.length) edges += ((b(i), b(j)))
      }
      blocks.sliding(2).foreach {
        case Seq(b1, b2) => edges += ((b1.max, b2.min))
        case _ =>
      }
    }
    val verts = customers.map(_._1)
    val m = edges.size.toLong
    val sym = edges.toSeq.flatMap(e => Seq(e, e.swap))
    val deg = sym.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
    // LPA seed (the registered detector), then strict-gain parity
    // refinement — exactly the operator's integer rule
    val lpa = graft.SparkEntry.queries("graph_label_propagation")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var comm: Map[Long, Long] = lpa
    for (r <- 1 to 2) {
      val prev = comm
      val tot = prev.toSeq.groupBy(_._2)
        .map { case (c, vs) => c -> vs.map(v => deg.getOrElse(v._1, 0L)).sum }
      val kin = sym.groupBy(_._1).map { case (v, es) =>
        v -> es.map(e => prev(e._2)).groupBy(identity)
          .map { case (c, cs) => c -> cs.size.toLong }
      }
      comm = verts.map { v =>
        val k = deg.getOrElse(v, 0L)
        val cands = kin.getOrElse(v, Map.empty) ++
          (if (kin.getOrElse(v, Map.empty).contains(prev(v))) Map.empty
           else Map(prev(v) -> 0L))
        def gain(c: Long, ki: Long): Long = {
          val totEx = tot.getOrElse(c, 0L) - (if (c == prev(v)) k else 0L)
          2L * m * ki - k * totEx
        }
        val stayG = gain(prev(v), cands.getOrElse(prev(v), 0L))
        val best = cands.toSeq.map { case (c, ki) => (gain(c, ki), c) }
          .minBy { case (g, c) => (-g, c) }
        // id-parity coloring + strict-improvement gate
        v -> (if (v % 2 == r % 2 && best._1 > stayG) best._2 else prev(v))
      }.toMap
    }
    val got = graft.SparkEntry.queries("graph_louvain_pass")(spark, dir).collect()
    val gotComm = got.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotComm == comm, "louvain assignment diverges from driver replay")
    // Q(louvain) >= Q(LPA): strict-gain refinement never worsens the seed
    def newmanQ(cm: Map[Long, Long]): Double = {
      val md = m.toDouble
      val eC = edges.toSeq.filter(e => cm(e._1) == cm(e._2))
        .groupBy(e => cm(e._1)).map { case (c, es) => c -> es.size.toLong }
      val dC = edges.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(cm).map { case (c, vs) => c -> vs.size.toLong }
      cm.values.toSeq.distinct.map { c =>
        eC.getOrElse(c, 0L) / md -
          math.pow(dC.getOrElse(c, 0L) / (2 * md), 2)
      }.sum
    }
    val qL = newmanQ(comm)
    val qP = newmanQ(lpa)
    assert(qL >= qP - 1e-9, s"Q(louvain)=$qL < Q(LPA)=$qP")
    // and the reported q_total matches the driver-side Q
    assert(math.abs(got.head.getDouble(3) - qL) < 1e-5,
      s"q_total ${got.head.getDouble(3)} vs driver $qL")
    // the result is a LOCAL OPTIMUM under single-vertex moves — the
    // property a converged Louvain pass certifies (and what makes the
    // strict gate meaningful even when the seed is already optimal)
    val tot = comm.toSeq.groupBy(_._2)
      .map { case (c, vs) => c -> vs.map(v => deg.getOrElse(v._1, 0L)).sum }
    val kinF = sym.groupBy(_._1).map { case (v, es) =>
      v -> es.map(e => comm(e._2)).groupBy(identity)
        .map { case (c, cs) => c -> cs.size.toLong }
    }
    verts.foreach { v =>
      val k = deg.getOrElse(v, 0L)
      val cands = kinF.getOrElse(v, Map.empty) ++
        (if (kinF.getOrElse(v, Map.empty).contains(comm(v))) Map.empty
         else Map(comm(v) -> 0L))
      def gain(c: Long, ki: Long): Long = {
        val totEx = tot.getOrElse(c, 0L) - (if (c == comm(v)) k else 0L)
        2L * m * ki - k * totEx
      }
      val stayG = gain(comm(v), cands.getOrElse(comm(v), 0L))
      cands.foreach { case (c, ki) =>
        assert(gain(c, ki) <= stayG,
          s"vertex $v has an unexploited strict-gain move to $c")
      }
    }
    info(f"Q(louvain)=$qL%.4f Q(LPA)=$qP%.4f")
  }

  test("graph_mst_boruvka equals a driver-side Kruskal") {
    val byNk = customers.groupBy(_._2)
    val wEdges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    byNk.foreach { case (_, cs) =>
      val ids = cs.map(_._1).sorted
      val blocks = ids.grouped(6).toSeq
      blocks.foreach { b =>
        for (i <- b.indices; j <- i + 1 until b.length)
          wEdges += ((b(i), b(j), (j - i).toLong))
      }
      blocks.sliding(2).foreach {
        case Seq(b1, b2) => wEdges += ((b1.max, b2.min, 1000L))
        case _ =>
      }
    }
    // Kruskal with union-find over the (w, a, b) total order
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      parent(x) = r; r
    }
    val mst = wEdges.toSeq.sortBy { case (a, b, w) => (w, a, b) }.flatMap {
      case (a, b, w) =>
        val (ra, rb) = (find(a), find(b))
        if (ra == rb) None
        else { parent(math.max(ra, rb)) = math.min(ra, rb); Some((a, b, w)) }
    }.toSet
    val got = graft.SparkEntry.queries("graph_mst_boruvka")(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == mst, s"forest differs: extra=${(got -- mst).take(3)} " +
      s"missing=${(mst -- got).take(3)}")
    // forest size = vertices − components (one tree per nation chain)
    val nComponents = byNk.size
    assert(got.size == customers.length - nComponents, "forest edge count")
  }

  test("graph_betweenness equals a driver-side textbook Brandes on the horizon") {
    // rebuild the block graph + per-nation seeds
    val byNk = customers.groupBy(_._2)
    val edges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val seeds = scala.collection.mutable.ArrayBuffer.empty[Long]
    byNk.foreach { case (_, cs) =>
      val ids = cs.map(_._1).sorted
      seeds += ids.min
      val blocks = ids.grouped(6).toSeq
      blocks.foreach { b =>
        for (i <- b.indices; j <- i + 1 until b.length) edges += ((b(i), b(j)))
      }
      blocks.sliding(2).foreach {
        case Seq(b1, b2) => edges += ((b1.max, b2.min))
        case _ =>
      }
    }
    val adj = edges.toSeq.flatMap(e => Seq(e, e.swap))
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
      .withDefaultValue(Set.empty[Long])
    val horizon = 8
    def snap(x: Double): Double = math.floor(x * 1048576.0 + 0.5) / 1048576.0
    // textbook Brandes (BFS + backward accumulation), horizon-bounded,
    // with the operator's per-term grid snap
    val dist = scala.collection.mutable.Map.empty[Long, Int]
    val sigma = scala.collection.mutable.Map.empty[Long, Long]
    seeds.foreach { s0 => dist(s0) = 0; sigma(s0) = 1L }
    for (l <- 1 to horizon) {
      val frontier = dist.filter(_._2 == l - 1).keys.toSeq
      val next = frontier.flatMap(v => adj(v).filter(w =>
        !dist.contains(w) || dist(w) == l))
      next.distinct.foreach { w =>
        dist(w) = l
        sigma(w) = adj(w).filter(u => dist.get(u).contains(l - 1))
          .map(sigma).sum
      }
    }
    val delta = scala.collection.mutable.Map.empty[Long, Double]
      .withDefaultValue(0.0)
    for (l <- horizon - 1 to 0 by -1) {
      dist.filter(_._2 == l).keys.foreach { v =>
        val terms = adj(v).filter(w => dist.get(w).contains(l + 1))
          .toSeq.map(w => snap(sigma(v).toDouble / sigma(w) * (1 + delta(w))))
        delta(v) = terms.sum
      }
    }
    val got = graft.SparkEntry.queries("graph_betweenness")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == dist.keySet, "reached-vertex sets differ")
    dist.foreach { case (v, dv) =>
      val (gd, gs, gb) = got(v)
      assert(gd == dv, s"vertex $v dist")
      assert(gs == sigma(v), s"vertex $v sigma")
      assert(math.abs(gb - delta(v)) < 1e-6, s"vertex $v betweenness")
    }
    // bridge tails/heads carry the inter-block flow: betweenness must
    // actually separate them from clique interiors somewhere
    assert(got.values.exists(_._3 > 1.0), "no vertex carries through-flow")
  }

  test("graph_hits matches a driver-side power iteration; chain ends degenerate correctly") {
    def snap(x: Double): Double = math.floor(x * 1e6 + 0.5000005) / 1e6
    val byNk = customers.groupBy(_._2)
    val edges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    byNk.values.foreach { cs =>
      val ids = cs.map(_._1).sorted
      ids.indices.foreach { i =>
        if (i + 1 < ids.length) edges += ((ids(i), ids(i + 1)))
        if (i + 2 < ids.length) edges += ((ids(i), ids(i + 2)))
      }
    }
    val all = customers.map(_._1)
    var hub = all.map(_ -> 1.0).toMap
    var auth = Map.empty[Long, Double]
    for (_ <- 1 to 4) {
      val araw = all.map(v => v ->
        edges.filter(_._2 == v).map(e => hub(e._1)).sum).toMap
      val as = araw.values.sum
      auth = araw.map { case (v, x) => v -> snap(x / as) }
      val hraw = all.map(v => v ->
        edges.filter(_._1 == v).map(e => auth(e._2)).sum).toMap
      val hs = hraw.values.sum
      hub = hraw.map { case (v, x) => v -> snap(x / hs) }
    }
    val got = graft.SparkEntry.queries("graph_hits")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got.keySet == all.toSet)
    got.foreach { case (v, (h, a)) =>
      assert(math.abs(h - hub(v)) < 2e-6, s"hub $v: $h vs ${hub(v)}")
      assert(math.abs(a - auth(v)) < 2e-6, s"auth $v: $a vs ${auth(v)}")
    }
    // L1 norms ≈ 1 (grid slack); chain heads have 0 authority (no
    // in-edges), chain tails 0 hub (no out-edges) — hub ≠ authority
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-2)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-2)
    byNk.values.filter(_.size >= 3).foreach { cs =>
      val ids = cs.map(_._1).sorted
      assert(got(ids.head)._2 == 0.0, s"chain head ${ids.head} must have 0 authority")
      assert(got(ids.last)._1 == 0.0, s"chain tail ${ids.last} must have 0 hub")
      assert(got(ids.head)._1 > 0.0, "chain head is a hub")
    }
  }

  test("graph_ppr_seeded matches a driver-side restart walk; mass concentrates at seeds") {
    def snap(x: Double): Double = math.floor(x * 1e6 + 0.5000005) / 1e6
    val byNk = customers.groupBy(_._2)
    val edges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    byNk.values.foreach { cs =>
      val ids = cs.map(_._1).sorted
      ids.indices.foreach { i =>
        if (i + 1 < ids.length) edges += ((ids(i), ids(i + 1)))
        if (i + 2 < ids.length) edges += ((ids(i), ids(i + 2)))
      }
    }
    val sym = edges.toSeq.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val outdeg = sym.groupBy(_._1).map { case (v, es) => v -> es.size }
    val all = customers.map(_._1)
    val seeds = all.filter(_ % 97 == 0).toSet
    assert(seeds.nonEmpty)
    val sv = all.map(v => v -> (if (seeds(v)) 1.0 / seeds.size else 0.0)).toMap
    var rank = sv
    for (_ <- 1 to 4) {
      val dmass = snap(all.filter(v => !outdeg.contains(v)).map(rank).sum)
      val in = sym.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => rank(src) / outdeg(src) }.sum
      }
      rank = all.map { v =>
        v -> snap(0.15 * sv(v) + 0.85 * (in.getOrElse(v, 0.0) + dmass * sv(v)))
      }.toMap
    }
    val got = graft.SparkEntry.queries("graph_ppr_seeded")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == rank.keySet)
    rank.foreach { case (v, r0) =>
      assert(math.abs(got(v) - r0) < 2e-6, s"vertex $v: ${got(v)} vs $r0")
    }
    // PPR contract: total mass bounded by 1 (+grid slack); seeds hold
    // strictly more rank than the global average; far vertices ~0
    val total = got.values.sum
    assert(total <= 1.0 + 1e-3, s"mass blew up: $total")
    val seedAvg = seeds.toSeq.map(got).sum / seeds.size
    assert(seedAvg > total / got.size, "seeds must out-rank the average")
    assert(got.values.exists(_ == 0.0), "distant vertices must decay to the grid floor")
  }

  test("adamic-adar matches adjacency-set brute force; scores only non-edges") {
    val byNk = customers.groupBy(_._2).map { case (nk, cs) => (nk, cs.map(_._1).sorted) }
    def snap(x: Double): Double = math.floor(x * 1048576.0 + 0.5) / 1048576.0
    val expected = byNk.flatMap { case (nk, ids) =>
      val adj = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
      def add(a: Long, b: Long): Unit = { adj(a) = adj(a) + b; adj(b) = adj(b) + a }
      ids.indices.foreach { i =>
        if (i + 1 < ids.length) add(ids(i), ids(i + 1))
        if (i + 2 < ids.length) add(ids(i), ids(i + 2))
      }
      val vs = adj.keys.toSeq.sorted
      for {
        a <- vs; b <- vs if a < b && !adj(a).contains(b)
        common = (adj(a) & adj(b)).toSeq.filter(z => adj(z).size >= 2 && adj(z).size <= 64)
        if common.nonEmpty
      } yield {
        val aa = common.map(z => snap(1.0 / math.log(adj(z).size.toDouble))).sum
        ((nk, a, b), (common.size,
          math.floor(aa * 1e6 + 0.5) / 1e6))
      }
    }.toMap
    val got = graft.SparkEntry.queries("graph_adamic_adar")(spark, dir).collect()
      .map { r =>
        ((r.getAs[Number](0).longValue(), r.getLong(1), r.getLong(2)),
          (r.getInt(3), r.getDouble(4)))
      }.toMap
    assert(got.keySet == expected.keySet, "same scored non-edge pair set")
    assert(got.nonEmpty, "the path-square graph must have open wedges")
    expected.foreach { case (k, (nc, aa)) =>
      val (gn, ga) = got(k)
      assert(gn == nc, s"pair $k n_common")
      assert(math.abs(ga - aa) < 1e-9, s"pair $k aa $ga vs $aa")
    }
  }

  test("connected components match union-find; labels are component minima") {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val byNk = customers.groupBy(_._2)
    byNk.values.foreach { cs =>
      val ids = cs.map(_._1).sorted
      ids.indices.dropRight(1).foreach { i =>
        if (ids(i + 1) - ids(i) <= 40) union(ids(i), ids(i + 1))
      }
    }
    val allIds = customers.map(_._1)
    val expectedComp = allIds.map(id => (id, find(id))).toMap
    val sizes = expectedComp.values.groupBy(identity).map { case (c, xs) => (c, xs.size.toLong) }
    val got = graft.SparkEntry.queries("graph_connected_components")(spark, dir).collect()
      .map(r => (r.getAs[Number](0).longValue(),
        (r.getAs[Number](1).longValue(), r.getAs[Number](2).longValue()))).toMap
    assert(got.size == allIds.length)
    allIds.foreach { id =>
      val (comp, size) = got(id)
      assert(comp == expectedComp(id), s"customer $id component label")
      assert(size == sizes(expectedComp(id)), s"customer $id component size")
    }
    // the graph is genuinely non-trivial: multiple multi-node components
    assert(sizes.count(_._2 > 1) > 1)
  }

  test("scale probe: a 20k-spoke hub cannot square — oriented count stays exact and fast") {
    // star K_{1,20000} + 5 planted triangles among spokes. Naive wedge
    // enumeration at the hub is C(20000, 2) = 2·10⁸ pairs; orientation
    // sends every hub edge INTO the hub (max degree ⇒ max rank), so the
    // hub generates ZERO wedges and the plan touches only spoke wedges.
    import spark.implicits._
    val hub = 0L
    val spokes = (1L to 20000L).map(v => (0L, hub, v))
    val tri = (1L to 5L).map(k => (0L, 2 * k, 2 * k + 1)) // spoke-spoke closers
    val edges = (spokes ++ tri).toDF("nk", "a", "b")
    val t0 = System.nanoTime()
    val got = GraphOps.orientedTriangleCount(edges).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(got.length == 1 && got.head.getLong(1) == 5L, s"got ${got.toSeq}")
    assert(secs < 60, s"hub graph took ${secs}s — wedge bound regressed")
  }

  test("scale probe: 4096-node path converges in <= 24 pointer-jump rounds") {
    // diameter 4095: hop-per-round propagation needs ~4095 rounds and
    // would THROW at the 24-round cap — convergence here is direct
    // evidence of the O(log diameter) jump. All labels collapse to 0.
    import spark.implicits._
    val nodes = (0L until 4096L).toDF("id")
    val edges = (0L until 4095L).map(i => (i, i + 1)).toDF("a", "b")
    val cc = GraphOps.pointerJumpCC(nodes, edges, maxIter = 24).collect()
    assert(cc.length == 4096)
    assert(cc.forall(_.getLong(1) == 0L), "path must collapse to one component rooted at 0")
  }

  test("scale probe: LPA on a 60k-vertex clique-bridge graph keeps the planted communities") {
    // synthetic 10k blocks of 6 (like the operator's construction, at
    // 40x the sf0.001 vertex count): the fixed-round runner must not
    // degrade with graph size and communities must stay block-shaped
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val n = 60000L
    val blk = spark.range(n).select(col("id"), (col("id") / 6).cast("long").as("b"))
    val intra = blk.as("x").join(blk.as("y"),
        col("y.b") === col("x.b") && col("y.id") > col("x.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
    val heads = blk.groupBy("b").agg(min("id").as("hid"), max("id").as("tid"))
    val inter = heads.as("h1").join(heads.as("h2"), col("h2.b") === col("h1.b") + 1)
      .select(col("h1.tid").as("a"), col("h2.hid").as("b"))
    val edges = intra.unionByName(inter)
    // run the SAME 4-round synchronous loop shape inline (the operator
    // is bound to the customer table; this pins the runner's scaling)
    val ck = new graft.Checkpoints
    val sym = ck.pin("sym", edges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(edges.select(col("b").as("src"), col("a").as("dst"))))
    var labels = spark.range(n).select(col("id")).withColumn("lbl", col("id"))
    for (_ <- 1 to 4) {
      val winners = sym
        .join(labels.select(col("id").as("dst"), col("lbl").as("nlbl")), Seq("dst"))
        .groupBy(col("src").as("id"), col("nlbl").as("lbl"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("id").orderBy(col("c").desc, col("lbl").asc)))
        .filter(col("rn") === 1)
        .select(col("id"), col("lbl").as("wlbl"))
      labels = ck.cycle("labels", labels.join(winners, Seq("id"), "left")
        .select(col("id"), coalesce(col("wlbl"), col("lbl")).as("lbl")))
    }
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("n")).collect()
    ck.release("sym", "labels") // free the probe's checkpoints
    val inSix = sizes.filter(_.getLong(1) == 6L).map(_.getLong(1)).sum
    assert(inSix > n * 8 / 10, s"only $inSix of $n vertices in exact 6-communities")
    assert(sizes.map(_.getLong(1)).max <= 12L)
  }

  test("label propagation matches a driver-side synchronous vote loop; cliques dominate") {
    // independent reimplementation: materialize the clique+bridge graph
    // from the same customer slice, run 4 synchronous rounds naively
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]].withDefaultValue(Nil)
    def add(a: Long, b: Long): Unit = { adj(a) = b :: adj(a); adj(b) = a :: adj(b) }
    customers.groupBy(_._2).foreach { case (_, cs) =>
      val blocks = cs.map(_._1).sorted.grouped(6).toSeq
      blocks.foreach { blk =>
        for (i <- blk.indices; j <- i + 1 until blk.length) add(blk(i), blk(j))
      }
      blocks.sliding(2).foreach {
        case Seq(b1, b2) => add(b1.last, b2.head)
        case _ =>
      }
    }
    var lbl = customers.map(c => c._1 -> c._1).toMap
    for (_ <- 1 to 4) {
      lbl = lbl.map { case (v, own) =>
        val votes = adj(v).map(lbl).groupBy(identity)
          .map { case (l, vs) => (l, vs.size) }
        v -> (if (votes.isEmpty) own
              else votes.minBy { case (l, c) => (-c, l) }._1)
      }
    }
    val got = graft.SparkEntry.queries("graph_label_propagation")(spark, dir).collect()
    assert(got.length == customers.length)
    got.foreach { r =>
      assert(r.getLong(1) == lbl(r.getLong(0)), s"vertex ${r.getLong(0)}")
    }
    // communities are the planted blocks up to bridge absorption: the
    // vast majority of vertices end up labeled with their OWN block's
    // min id (sf0.001 blocks are mostly partial — sizes 3-6 — so a
    // "size == 6 dominates" check only holds at larger sf; the sf0.1
    // run shows 14,862 of 15,000 vertices in exact 6-cliques)
    val blockMin = customers.groupBy(_._2).flatMap { case (_, cs) =>
      cs.map(_._1).sorted.grouped(6).flatMap(blk => blk.map(_ -> blk.head))
    }
    val ownBlock = got.count(r => r.getLong(1) == blockMin(r.getLong(0)))
    assert(ownBlock.toDouble / got.length > 0.85,
      s"only $ownBlock/${got.length} vertices kept their block community")
    assert(got.map(_.getLong(2)).max <= 12L, "no community may span >2 blocks")
  }

  test("graph_bfs_distance matches a driver-side frontier BFS with horizon 8") {
    // rebuild the block graph exactly as blockEdges does
    val byNk = customers.groupBy(_._2).map { case (nk, cs) => (nk, cs.map(_._1).sorted) }
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    def add(a: Long, b: Long): Unit = { adj(a) = adj(a) + b; adj(b) = adj(b) + a }
    byNk.values.foreach { ids =>
      val blocks = ids.grouped(6).toArray
      blocks.foreach(blk =>
        for (i <- blk.indices; j <- i + 1 until blk.length) add(blk(i), blk(j)))
      blocks.sliding(2).foreach {
        case Array(b1, b2) => add(b1.last, b2.head)
        case _ =>
      }
    }
    // textbook frontier BFS from each nation's min custkey, 8 hops
    val want = scala.collection.mutable.Map.empty[Long, Long]
    byNk.values.foreach { ids =>
      var frontier = Set(ids.head)
      want(ids.head) = 0L
      var d = 0L
      while (frontier.nonEmpty && d < 8) {
        d += 1
        frontier = frontier.flatMap(adj).filterNot(want.contains)
        frontier.foreach(v => want(v) = d)
      }
    }
    val got = graft.SparkEntry.queries("graph_bfs_distance")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want.toMap,
      s"BFS mismatch: ${(got.toSet diff want.toSet) ++ (want.toSet diff got.toSet)}")
    assert(got.values.max <= 8L)
  }

  test("graph_copurchase_lift matches a driver-side basket enumeration") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getAs[Number](1).longValue()))
    // baskets: distinct parts per order, capped at 32 (a no-op here)
    val baskets = li.distinct.groupBy(_._1).view
      .mapValues(_.map(_._2).toArray.sorted).toMap
      .filter(_._2.length <= 32)
    val nBaskets = baskets.size.toLong
    val partN = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val pairN = scala.collection.mutable.Map.empty[(Long, Long), Long].withDefaultValue(0L)
    baskets.values.foreach { ps =>
      ps.foreach(p => partN(p) += 1)
      for (i <- ps.indices; j <- i + 1 until ps.length) pairN((ps(i), ps(j))) += 1
    }
    val want = pairN.filter(_._2 >= 2)
    val got = graft.SparkEntry.queries("graph_copurchase_lift")(spark, dir).collect()
    assert(got.length == want.size, s"pairs: got ${got.length}, want ${want.size}")
    got.foreach { r =>
      val (a, b, n, lift) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(a < b, s"pair ($a,$b) not canonically ordered")
      assert(want((a, b)) == n, s"pair ($a,$b): count $n != ${want((a, b))}")
      // HALF_UP like both engines' round(x, 6) — rint's HALF_EVEN flips
      // exact-.5 boundaries (observed: 2.3015625 → 2.301562 vs 2.301563)
      val ref = math.floor(n.toDouble * nBaskets / (partN(a).toDouble * partN(b)) * 1e6 + 0.5) / 1e6
      assert(math.abs(lift - ref) < 1e-9, s"pair ($a,$b): lift $lift != $ref")
    }
    // the cap itself: max observed basket is comfortably under it, so
    // the guard is armed-at-scale, not semantics-changing here
    assert(baskets.values.map(_.length).max <= 32)
  }

  /** Directed lead-edge adjacency (src -> n1, src -> n2) used by the
    * katz test's driver-side replay.
    */
  private def directedLeadEdges: Array[(Long, Long)] = {
    val byNk = customers.groupBy(_._2).map { case (nk, cs) => (nk, cs.map(_._1).sorted) }
    byNk.values.flatMap { ids =>
      ids.indices.flatMap { i =>
        (if (i + 1 < ids.length) Seq((ids(i), ids(i + 1))) else Nil) ++
          (if (i + 2 < ids.length) Seq((ids(i), ids(i + 2))) else Nil)
      }
    }.toArray
  }

  test("graph_katz_centrality matches a driver-side Jacobi iteration; sinks score above sources") {
    val edges = directedLeadEdges
    val verts = customers.map(_._1)
    var x = verts.map(_ -> 1.0).toMap
    def grid(v: Double) = math.floor(v * 1e6 + 0.5000005) / 1e6
    for (_ <- 1 to 4) {
      val in = edges.groupBy(_._2).view.mapValues(_.map(e => x(e._1)).sum).toMap
      x = verts.map(v => v -> grid(1.0 + 0.125 * in.getOrElse(v, 0.0))).toMap
    }
    val got = graft.SparkEntry.queries("graph_katz_centrality")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == verts.length)
    verts.foreach(v => assert(math.abs(got(v) - x(v)) < 1e-9,
      s"katz($v): ${got(v)} != ${x(v)}"))
    // a chain head has no in-edges -> exactly beta = 1.0; interior
    // vertices accumulate attenuated walks
    val heads = customers.groupBy(_._2).values.map(_.map(_._1).min)
    heads.foreach(h => assert(got(h) == 1.0, s"source $h should sit at beta"))
    assert(got.values.max > 1.0)
  }

  test("graph_sssp_weighted: Dijkstra-within-horizon equality; a lighter 2-hop path beats a heavy edge") {
    val got = graft.SparkEntry.queries("graph_sssp_weighted")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver-side: horizon-bounded Bellman-Ford on the same weighted graph
    val byNk = customers.groupBy(_._2).map { case (nk, cs) => (nk, cs.map(_._1).sorted) }
    val adj = scala.collection.mutable.Map.empty[Long, List[(Long, Long)]].withDefaultValue(Nil)
    def add(a: Long, b: Long): Unit = {
      val w = (a + b) % 7 + 1
      adj(a) = (b, w) :: adj(a); adj(b) = (a, w) :: adj(b)
    }
    byNk.values.foreach { ids =>
      val blocks = ids.grouped(6).toArray
      blocks.foreach { blk =>
        for (i <- blk.indices; j <- i + 1 until blk.length) add(blk(i), blk(j))
      }
      blocks.sliding(2).foreach {
        case Array(b1, b2) => add(b1.max, b2.min)
        case _ =>
      }
    }
    var dist = byNk.values.map(ids => ids.min -> 0L).toMap
    for (_ <- 1 to 8) {
      val ext = dist.toSeq.flatMap { case (u, du) => adj(u).map { case (v, w) => v -> (du + w) } }
      dist = (dist.toSeq ++ ext).groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    }
    assert(got == dist, s"sssp mismatch: ${got.size} vs ${dist.size} reached")
    // weighted semantics genuinely differ from hop-BFS: some vertex's
    // weighted dist exceeds its hop count (a heavy direct edge), and
    // the min over a clique pair is via w, not hops
    val bfs = graft.SparkEntry.queries("graph_bfs_distance")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.exists { case (v, dw) => bfs.get(v).exists(dh => dw > dh) },
      "no vertex has weighted dist > hop dist — weights are not biting")
  }

  test("graph_scc: blocks are the SCCs — cycle members share a component, the inter-block DAG does not merge") {
    val got = graft.SparkEntry.queries("graph_scc")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byNk = customers.groupBy(_._2).map { case (nk, cs) => (nk, cs.map(_._1).sorted) }
    val expect = byNk.values.flatMap { ids =>
      ids.grouped(6).flatMap { blk =>
        // a single-vertex tail block has no cycle edge -> singleton SCC
        val sid = if (blk.length > 1) blk.min else blk.head
        blk.map(v => v -> (sid, blk.length.toLong))
      }
    }.toMap
    assert(got.length == expect.size)
    got.foreach { case (v, sid, sz) =>
      val (esid, esz) = expect(v)
      assert(sid == esid && sz == esz, s"scc($v): ($sid,$sz) != ($esid,$esz)")
    }
    // sanity: more than one SCC per nation (the DAG edges did NOT merge
    // blocks — the thing plain CC gets wrong on this graph)
    val perNation = customers.groupBy(_._2).view.mapValues(_.map(_._1).toSet)
    perNation.foreach { case (nk, vs) =>
      val comps = got.filter(g => vs.contains(g._1)).map(_._2).distinct
      if (vs.size > 6) assert(comps.length > 1, s"nation $nk collapsed to one SCC")
    }
  }

  test("graph_ktruss: bridges die, clique edges survive with support 4; round 1 is the fixpoint") {
    val intra = scala.collection.mutable.Set.empty[(Long, Long)]
    val bridges = scala.collection.mutable.Set.empty[(Long, Long)]
    customers.groupBy(_._2).foreach { case (_, cs) =>
      val ids = cs.map(_._1).sorted
      val blocks = ids.grouped(6).toSeq
      blocks.foreach { b =>
        for (i <- b.indices; j <- i + 1 until b.length) intra += ((b(i), b(j)))
      }
      blocks.sliding(2).foreach {
        case Seq(b1, b2) => bridges += ((b1.max, b2.min))
        case _ =>
      }
    }
    val rows = graft.SparkEntry.queries("graph_ktruss")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // survivors = exactly the full-block clique edges (partial tail
    // blocks of size < 4 cannot reach support 2 and must peel too)
    rows.keys.foreach { e =>
      assert(intra(e), s"non-clique edge $e survived")
      assert(!bridges(e), s"bridge $e survived the peel")
    }
    // every 6-clique edge survives with support exactly 4
    val sixCliques = customers.groupBy(_._2).values.flatMap { cs =>
      cs.map(_._1).sorted.grouped(6).filter(_.length == 6)
        .flatMap(b => for (i <- b.indices; j <- i + 1 until b.length)
          yield (b(i), b(j)))
    }.toSet
    sixCliques.foreach { e =>
      assert(rows.get(e).contains(4L), s"clique edge $e: ${rows.get(e)}")
    }
    // fixpoint: a driver-side third peel round removes nothing
    val adj = rows.keys.flatMap(e => Seq(e, e.swap))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    rows.keys.foreach { case (a, b) =>
      val sup = (adj(a) & adj(b)).size
      assert(sup >= 2, s"edge ($a,$b) support $sup would peel in round 3")
    }
  }

  test("graph_deterministic_walks: every hop is a true edge and the md5 argmin") {
    val edges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    customers.groupBy(_._2).foreach { case (_, cs) =>
      val ids = cs.map(_._1).sorted
      val blocks = ids.grouped(6).toSeq
      blocks.foreach { b =>
        for (i <- b.indices; j <- i + 1 until b.length) edges += ((b(i), b(j)))
      }
      blocks.sliding(2).foreach {
        case Seq(b1, b2) => edges += ((b1.max, b2.min))
        case _ =>
      }
    }
    val adj = (edges.map(e => (e._1, e._2)) ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toArray).toMap
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      d.map(b => f"$b%02x").mkString
    }
    val rows = graft.SparkEntry.queries("graph_deterministic_walks")(spark, dir).collect()
    assert(rows.length == customers.length)
    rows.foreach { r =>
      val hops = r.getString(1).split("->").map(_.toLong)
      assert(hops.length == 5 && hops.head == r.getLong(0) && hops.last == r.getLong(2))
      hops.indices.drop(1).foreach { k =>
        val (cur, nxt) = (hops(k - 1), hops(k))
        adj.get(cur) match {
          case None => assert(nxt == cur, s"isolated $cur must self-loop")
          case Some(nbrs) =>
            assert(nbrs.contains(nxt), s"$cur->$nxt is not an edge")
            val want = nbrs.minBy(n2 => (md5hex(s"$cur-$k-$n2"), n2))
            assert(nxt == want, s"step $k from $cur: took $nxt, argmin is $want")
        }
      }
    }
    // the hash really spreads: starts in one clique do not all funnel
    // through the same second vertex
    val secondHops = rows.map(_.getString(1).split("->")(1)).distinct
    assert(secondHops.length > rows.length / 10, "walks collapsed onto few hubs")
  }

  test("graph_eigenvector_centrality matches a driver-side normalized power iteration") {
    // driver block graph (undirected)
    val edges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    customers.groupBy(_._2).foreach { case (_, cs) =>
      val ids = cs.map(_._1).sorted
      val blocks = ids.grouped(6).toSeq
      blocks.foreach { b =>
        for (i <- b.indices; j <- i + 1 until b.length) edges += ((b(i), b(j)))
      }
      blocks.sliding(2).foreach {
        case Seq(b1, b2) => edges += ((b1.max, b2.min))
        case _ =>
      }
    }
    val adj = (edges.map(e => (e._1, e._2)) ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toArray).toMap
    val verts = customers.map(_._1)
    def grid(v: Double) = math.floor(v * 1e6 + 0.5000005) / 1e6
    var x = verts.map(_ -> 1.0).toMap
    for (_ <- 1 to 3) {
      val s = verts.map(v =>
        v -> adj.getOrElse(v, Array.empty[Long]).map(x).sum).toMap
      val tot = s.values.sum
      x = verts.map(v => v -> grid(s(v) * verts.length / tot)).toMap
    }
    val got = graft.SparkEntry.queries("graph_eigenvector_centrality")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == verts.length)
    verts.foreach(v => assert(math.abs(got(v) - x(v)) < 1e-9,
      s"eig($v): ${got(v)} != ${x(v)}"))
    // interior clique members out-score the degree-1/2 chain endpoints,
    // and the L1 mass really normalizes to ~|V|
    assert(math.abs(got.values.sum - verts.length) < 0.01 * verts.length)
    val interior = adj.filter(_._2.length >= 5).keys
    val fringe = adj.filter(_._2.length <= 2).keys
    if (interior.nonEmpty && fringe.nonEmpty)
      assert(interior.map(got).sum / interior.size >
        fringe.map(got).sum / fringe.size, "dense vertices should dominate")
  }
}
