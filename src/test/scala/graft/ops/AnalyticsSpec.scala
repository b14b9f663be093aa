package graft.ops

import graft.{Sessions, SparkEntry, T}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Independent-formulation cross-checks for the round-10 analytics rows:
  * each registry query is recomputed driver-side (plain Scala over the
  * collected sf0.001 slice) or against an algebraically different Spark
  * plan, so a shared bug in the SQL formulation can't self-confirm.
  */
class AnalyticsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.build("local[4]", "4")

  private val dir = "/root/testdata/sf0.001"

  private def round(x: Double, dp: Int): Double = {
    val m = math.pow(10, dp)
    math.rint(x * m) / m
  }

  test("agg_welch_ttest matches a driver-side recomputation") {
    val vals = T(spark, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select("event_type", "value").collect()
      .groupBy(_.getString(0)).map { case (k, rs) => k -> rs.map(_.getDouble(1)) }
    val (a, b) = (vals("click"), vals("purchase"))
    def meanVar(x: Array[Double]): (Double, Double) = {
      val m = x.sum / x.length
      (m, x.map(v => (v - m) * (v - m)).sum / (x.length - 1))
    }
    val ((ma, va), (mb, vb)) = (meanVar(a), meanVar(b))
    val se2 = va / a.length + vb / b.length
    val t = (ma - mb) / math.sqrt(se2)
    val df = se2 * se2 /
      (math.pow(va / a.length, 2) / (a.length - 1) + math.pow(vb / b.length, 2) / (b.length - 1))

    val got = SparkEntry.queries("agg_welch_ttest")(spark, dir).collect()(0)
    assert(got.getLong(0) == a.length && got.getLong(1) == b.length)
    assert(math.abs(got.getDouble(3) - round(t, 4)) < 1e-9)
    assert(math.abs(got.getDouble(4) - round(df, 2)) < 1e-6)
  }

  test("agg_chi2_independence is ~0 on an independent contingency and large on a dependent one") {
    // driver-side chi2 over the real slice, dense grid incl. empty cells
    val cells = T(spark, dir, "events")
      .select(col("event_type"), least(floor(col("value") / 50).cast("int"), lit(3)).as("band"))
      .collect().map(r => (r.getString(0), r.getInt(1)))
    val types = cells.map(_._1).distinct.sorted
    val bands = cells.map(_._2).distinct.sorted
    val n = cells.length.toDouble
    val obs = cells.groupBy(identity).map { case (k, v) => k -> v.length.toDouble }
    val rowT = cells.groupBy(_._1).map { case (k, v) => k -> v.length.toDouble }
    val colT = cells.groupBy(_._2).map { case (k, v) => k -> v.length.toDouble }
    val chi2 = (for { t <- types; b <- bands } yield {
      val e = rowT(t) * colT(b) / n
      val o = obs.getOrElse((t, b), 0.0)
      (o - e) * (o - e) / e
    }).sum
    val got = SparkEntry.queries("agg_chi2_independence")(spark, dir).collect()(0)
    assert(math.abs(got.getDouble(0) - round(chi2, 6)) < 1e-6)
    assert(got.getLong(1) == (types.length - 1).toLong * (bands.length - 1))
  }

  test("dq_outlier_iqr counts agree with a filter on the same fences") {
    val rows = SparkEntry.queries("dq_outlier_iqr")(spark, dir).collect()
    val e = T(spark, dir, "events").select("event_type", "value").collect()
      .groupBy(_.getString(0)).map { case (k, rs) => k -> rs.map(_.getDouble(1)) }
    rows.foreach { r =>
      val vs = e(r.getString(0))
      val (lo, hi) = (r.getDouble(3), r.getDouble(4))
      assert(r.getLong(5) == vs.count(_ < lo), s"${r.getString(0)} below")
      assert(r.getLong(6) == vs.count(_ > hi), s"${r.getString(0)} above")
      assert(r.getDouble(1) <= r.getDouble(2)) // q1 <= q3
    }
  }

  test("graph_jaccard_neighbors matches set-arithmetic on collected neighborhoods") {
    val inc = T(spark, dir, "events").select("event_type", "user_id").distinct()
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val nbrs = inc.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val got = SparkEntry.queries("graph_jaccard_neighbors")(spark, dir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (a, b) = (nbrs(r.getString(0)), nbrs(r.getString(1)))
      assert(r.getLong(2) == (a & b).size.toLong)
      assert(r.getLong(3) == (a | b).size.toLong)
      assert(math.abs(r.getDouble(4) - round((a & b).size.toDouble / (a | b).size, 6)) < 1e-9)
    }
  }

  test("join_point_in_time equals the as-of (max valid_from <= ts) formulation") {
    val e = T(spark, dir, "events")
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"), col("event_id").as("pid"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("cid"), col("ts").as("cts"))
    // as-of: version with the LATEST start <= click ts (ties impossible:
    // version_id only breaks lead() order, intervals partition the line)
    val asof = c.join(p, col("cu") === col("pu") && col("pts") <= col("cts"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("cid")
          .orderBy(col("pts").desc, col("pid").desc)))
      .filter(col("rn") === 1)
      .select(col("cu").as("user_id"), col("cid").as("event_id"), col("pid").as("version_id"))
      .orderBy("user_id", "event_id")
    val got = SparkEntry.queries("join_point_in_time")(spark, dir)
    assert(got.collect().toSeq == asof.collect().toSeq)
  }

  test("text_ttr recomputes from the raw text for a sample of documents") {
    val docs = T(spark, dir, "documents").select("doc_id", "text")
      .filter(col("doc_id") < 20).collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val got = SparkEntry.queries("text_ttr")(spark, dir)
      .filter(col("doc_id") < 20).collect()
    assert(got.length == docs.size)
    got.foreach { r =>
      val toks = docs(r.getLong(0)).split(" ", -1)
      val counts = toks.groupBy(identity).map { case (_, v) => v.length }
      assert(r.getLong(1) == toks.length.toLong)
      assert(r.getLong(2) == counts.size.toLong)
      assert(r.getLong(3) == counts.count(_ == 1).toLong)
    }
  }

  test("pipeline_quality_logistic: keep iff logit > 0, logit monotone in tokens at fixed mwl") {
    val got = SparkEntry.queries("pipeline_quality_logistic")(spark, dir).collect()
    assert(got.nonEmpty)
    got.foreach(r => assert(r.getBoolean(3) == (r.getDouble(2) > 0)))
  }

  test("ts_peak_detect finds exactly the strict interior maxima of one user's series") {
    val events = T(spark, dir, "events")
    val someUser = events.select("user_id").first().getLong(0)
    val series = events.filter(col("user_id") === someUser)
      .select("event_id", "value", "ts").collect()
      .sortBy(r => (r.getTimestamp(2).getTime, r.getLong(0)))
      .map(r => (r.getLong(0), r.getDouble(1)))
    val want = series.sliding(3).collect {
      case Array((_, a), (id, b), (_, c)) if b > a && b > c => id
    }.toSet
    val got = SparkEntry.queries("ts_peak_detect")(spark, dir)
      .filter(col("user_id") === someUser).collect().map(_.getLong(1)).toSet
    assert(got == want)
  }

  test("sim_range_search returns exactly the brute-force pairs above the threshold") {
    val embs = T(spark, dir, "embeddings").select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    // NB: iterate entries as a Seq — a for over the Map itself would
    // rebuild a Map keyed by the constant probe id and keep 1 pair/probe
    val want = (for {
      q <- Seq(0L, 1L, 2L, 3L, 4L) if embs.contains(q)
      (v, emb) <- embs.toSeq if v != q
      c = round(cos(embs(q), emb), 6) if c >= 0.30
    } yield (q, v)).toSet
    val got = SparkEntry.queries("sim_range_search")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("agg_cuped matches a driver-side recomputation and theta is the OLS slope") {
    val users = T(spark, dir, "events").collect()
      .map(r => (r.getLong(2), r.getString(3), r.getDouble(4)))
      .groupBy(_._1).flatMap { case (_, rows) =>
        val pre = rows.filter(_._2 == "view").map(_._3)
        val post = rows.filter(_._2 == "purchase").map(_._3)
        if (pre.nonEmpty && post.nonEmpty)
          Some((pre.sum / pre.length, post.sum / post.length))
        else None
      }.toArray
    val n = users.length
    val (mp, mq) = (users.map(_._1).sum / n, users.map(_._2).sum / n)
    val cov = users.map { case (p, q) => (p - mp) * (q - mq) }.sum / (n - 1)
    val vp = users.map { case (p, _) => (p - mp) * (p - mp) }.sum / (n - 1)
    val vq = users.map { case (_, q) => (q - mq) * (q - mq) }.sum / (n - 1)
    val got = SparkEntry.queries("agg_cuped")(spark, dir).collect()(0)
    assert(got.getLong(0) == n)
    assert(math.abs(got.getDouble(1) - round(cov / vp, 6)) < 1e-6)
    assert(math.abs(got.getDouble(3) - round(vq - cov * cov / vp, 6)) < 1e-6)
    // realized reduction is ρ² ∈ [0, 1] and var_adj <= var_post
    assert(got.getDouble(4) >= 0 && got.getDouble(4) <= 1)
    assert(got.getDouble(3) <= got.getDouble(2) + 1e-9)
  }

  test("agg_survival_km: product-limit curve is a valid survival function") {
    val rows = SparkEntry.queries("agg_survival_km")(spark, dir).collect()
    assert(rows.nonEmpty)
    // t strictly increasing, survival non-increasing in (0, 1], risk set shrinking
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(0) < b.getLong(0))
        assert(b.getDouble(3) <= a.getDouble(3) + 1e-9)
        assert(b.getLong(1) < a.getLong(1))
      case _ =>
    }
    // first step: S = 1 - d/n exactly
    val h = rows.head
    assert(math.abs(h.getDouble(3) -
      round(1.0 - h.getLong(2).toDouble / h.getLong(1), 6)) < 1e-6)
    // deaths never exceed the risk set
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
  }

  test("agg_topn_share: shares sum to 1 and 'other' closes the total") {
    val rows = SparkEntry.queries("agg_topn_share")(spark, dir).collect()
    assert(rows.length == 6 && rows.count(_.getString(0) == "other") == 1)
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-4)
    val top = rows.filter(_.getString(0) != "other").map(_.getDouble(1))
    val other = rows.find(_.getString(0) == "other").get.getDouble(1)
    // every named part out-earns any single excluded part ⇒ other < top·(np/5) sanity:
    assert(top.forall(_ > 0) && other >= 0)
  }

  test("sim_cluster_purity recomputes from the registered IVF assignment") {
    val emb = T(spark, dir, "embeddings").select("vec_id", "embedding", "label")
    val centroids = emb.orderBy("vec_id").limit(8).collect()
      .map(_.getSeq[Float](1).toArray)
    val assigned = LlmOps.ivfAssign(emb, centroids)
      .select("cell", "label").collect().map(r => (r.getInt(0), r.getInt(1)))
    val got = SparkEntry.queries("sim_cluster_purity")(spark, dir).collect()
    assert(got.map(_.getLong(1)).sum == assigned.length) // every vector in one cell
    got.foreach { r =>
      val mine = assigned.filter(_._1 == r.getInt(0)).map(_._2)
      val best = mine.groupBy(identity).toSeq.map { case (l, v) => (v.length, -l) }.max
      assert(r.getLong(3) == best._1.toLong && r.getInt(2) == -best._2)
      assert(math.abs(r.getDouble(4) - round(best._1.toDouble / mine.length, 6)) < 1e-9)
    }
  }

  test("join_asof_forward agrees with the quadratic join+min formulation, ties included") {
    val e = T(spark, dir, "events")
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("pu"), col("ts").as("pts"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"))
    val want = p.join(c, col("cu") === col("pu") && col("cts") >= col("pts"), "left")
      .groupBy("event_id")
      .agg(min(unix_micros(col("cts"))).as("click_ts_us"))
      .orderBy("event_id")
    val got = SparkEntry.queries("join_asof_forward")(spark, dir)
    assert(got.collect().toSeq == want.collect().toSeq)
    // some purchase has no later click → null propagated, not dropped
    assert(got.filter(col("click_ts_us").isNull).count() > 0)
  }

  test("win_drawdown recomputes from a driver-side prefix walk") {
    val byUser = T(spark, dir, "events")
      .select("user_id", "event_id", "value", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getTimestamp(3).getTime))
      .groupBy(_._1)
    val got = SparkEntry.queries("win_drawdown")(spark, dir).collect()
    assert(got.length == byUser.size)
    got.foreach { r =>
      val series = byUser(r.getLong(0)).sortBy(x => (x._4, x._2))
      var level = 0.0; var peak = Double.MinValue
      var best = (-1.0, Long.MaxValue)
      series.foreach { case (_, id, v, _) =>
        level += v; peak = math.max(peak, level)
        val dd = round(peak - level, 6)
        // tie-break by event_id asc like the query/oracle do — walk
        // order is (ts, id), which differs when a tied drawdown's ids
        // are not ts-ordered (e.g. an all-zero monotone series)
        if (dd > best._1 || (dd == best._1 && id < best._2)) best = (dd, id)
      }
      assert(r.getLong(1) == best._2 && math.abs(r.getDouble(2) - best._1) < 1e-9,
        s"user ${r.getLong(0)}")
    }
  }

  test("agg_mann_whitney matches a driver-side average-rank recomputation") {
    val rows = T(spark, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val sorted = rows.map(_._2).sorted
    // average rank per distinct value (textbook tie handling)
    val rankOf = sorted.zipWithIndex.groupBy(_._1).map {
      case (v, xs) => v -> xs.map(_._2 + 1).sum.toDouble / xs.length
    }
    val clicks = rows.filter(_._1 == "click")
    val r1 = clicks.map(r => rankOf(r._2)).sum
    val n1 = clicks.length.toLong
    val got = SparkEntry.queries("agg_mann_whitney")(spark, dir).collect()(0)
    assert(got.getLong(0) == n1)
    assert(math.abs(got.getDouble(2) - (r1 - n1 * (n1 + 1) / 2.0)) < 1e-6)
    // ties exist in the 2dp-quantized data, so the tie path is exercised
    assert(rankOf.values.exists(r => r != math.floor(r)))
  }

  test("dq_benford_digits: digits 1-9, shares sum to 1, counts recompute") {
    val got = SparkEntry.queries("dq_benford_digits")(spark, dir).collect()
    assert(got.map(_.getInt(0)).toSeq == (1 to 9))
    assert(math.abs(got.map(_.getDouble(2)).sum - 1.0) < 1e-4)
    val first = T(spark, dir, "orders").select("o_totalprice").collect()
      .map(_.getDouble(0)).filter(_ >= 1)
      .map(v => v.toLong.toString.head.asDigit)
    got.foreach(r => assert(r.getLong(1) == first.count(_ == r.getInt(0)).toLong))
    assert(math.abs(got.map(_.getDouble(3)).sum - 1.0) < 1e-3) // Benford p's close
  }

  test("ts_resample_ohlc: open/close are the chronological endpoints of each bar") {
    val raw = T(spark, dir, "events")
      .select("user_id", "event_id", "value", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getTimestamp(3).getTime))
    val bars = raw.groupBy(e => (e._4 / 900000 * 900000, e._1))
    val got = SparkEntry.queries("ts_resample_ohlc")(spark, dir).collect()
    assert(got.length == bars.size)
    got.foreach { r =>
      val mine = bars((r.getLong(0) / 1000, r.getLong(1))).sortBy(e => (e._4, e._2))
      assert(r.getDouble(2) == mine.head._3, "open")
      assert(r.getDouble(5) == mine.last._3, "close")
      assert(r.getDouble(3) == mine.map(_._3).max && r.getDouble(4) == mine.map(_._3).min)
      assert(r.getLong(6) == mine.length.toLong)
    }
  }

  test("agg_markov_transition: rows of the matrix are probability distributions") {
    val got = SparkEntry.queries("agg_markov_transition")(spark, dir).collect()
    assert(got.nonEmpty)
    got.groupBy(_.getString(0)).foreach { case (from, rows) =>
      assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-4, s"row $from")
    }
    // transition counts recompute from a driver-side sequence walk
    val seqs = T(spark, dir, "events")
      .select("user_id", "event_type", "ts", "event_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime, r.getLong(3)))
      .groupBy(_._1).values
    val counts = scala.collection.mutable.Map.empty[(String, String), Long]
    seqs.foreach { s0 =>
      s0.toArray.sortBy(e => (e._3, e._4)).map(_._2).sliding(2).foreach {
        case Array(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + 1
        case _ =>
      }
    }
    got.foreach(r => assert(r.getLong(2) == counts((r.getString(0), r.getString(1)))))
    assert(got.map(_.getLong(2)).sum == counts.values.sum)
  }

  test("source_parquet_evolution: v1-generation rows surface NULL for the added column") {
    val rows = SparkEntry.queries("source_parquet_evolution")(spark, dir).collect()
    val docs = T(spark, dir, "documents").select("doc_id", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    rows.foreach { r =>
      val lang = r.getString(0)
      val mine = docs.filter(_._2 == lang)
      assert(r.getLong(1) == mine.length.toLong)
      assert(r.getLong(2) == mine.count(_._1 % 2 == 0).toLong) // v1 = even ids → NULL fill
      assert(r.getLong(3) == mine.filter(_._1 % 2 == 1).map(_._3).sum)
    }
  }

  test("agg_hhi matches a driver-side share recomputation and its bounds") {
    val li = T(spark, dir, "lineitem")
      .select("l_suppkey", "l_extendedprice", "l_discount").collect()
      .map(r => (r.getAs[Number](0).longValue(),
        r.getDouble(1) * (1 - r.getDouble(2))))
    val supNation = T(spark, dir, "supplier").select("s_suppkey", "s_nationkey")
      .collect().map(r => (r.getAs[Number](0).longValue(), r.getAs[Number](1).longValue())).toMap
    val nName = T(spark, dir, "nation").select("n_nationkey", "n_name")
      .collect().map(r => (r.getAs[Number](0).longValue(), r.getString(1))).toMap
    def r4(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4
    val rev = li.groupBy { case (sk, _) => (nName(supNation(sk)), sk) }
      .map { case (k, vs) => k -> r4(vs.map(_._2).sum) }
    val got = SparkEntry.queries("agg_hhi")(spark, dir).collect()
    got.foreach { r =>
      val (nation, ns, hhi, top) =
        (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
      val mine = rev.filter(_._1._1 == nation).values.toArray
      assert(mine.length.toLong == ns, s"$nation: $ns suppliers != ${mine.length}")
      val t = r4(mine.sum)
      val shares = mine.map(_ / t)
      val want = round(shares.map(sh => Grid.dy20D(sh) * Grid.dy20D(sh)).sum, 6)
      assert(math.abs(hhi - want) < 1e-9, s"$nation: hhi $hhi != $want")
      assert(math.abs(top - round(shares.max, 6)) < 1e-9)
      // concentration bounds: 1/n (uniform) <= HHI <= 1 (monopoly)
      assert(hhi >= 1.0 / ns - 1e-6 && hhi <= 1.0 + 1e-9,
        s"$nation: hhi $hhi outside [1/$ns, 1]")
    }
  }

  test("dq_fdr_bh: adjusted p-values match a naive step-up recomputation " +
      "and honor the BH invariants") {
    val rows = SparkEntry.queries("dq_fdr_bh")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getInt(5)))
    val m = rows.length
    assert(m == 25, s"expected one row per nation, got $m")
    // rank order as the query defines it: x2 DESC (= p ASC), name tie-break
    val ranked = rows.sortBy { case (name, _, x2, _, _, _) => (-x2, name) }
    // naive O(m^2) step-up: adj(i) = min over j>=i of m*p(j)/j, clamp 1
    val naive = ranked.zipWithIndex.map { case (_, i) =>
      val tail = (i until m).map(j => m * ranked(j)._4 / (j + 1)).min
      round(math.min(1.0, tail), 6)
    }
    ranked.zip(naive).foreach { case ((name, _, _, p, adj, sig), want) =>
      assert(math.abs(adj - want) < 1e-9, s"$name: p_adj $adj != naive $want")
      assert(adj >= p - 1e-9, s"$name: p_adj $adj below raw p $p")
      assert(adj <= 1.0 + 1e-12)
      assert(sig == (if (adj < 0.05) 1 else 0))
    }
    // step-up output is monotone non-decreasing along the p-ascending order
    naive.sliding(2).foreach(w => assert(w(0) <= w(1) + 1e-12))
    // p really is exp(-x2/2) of the reported statistic (2-dof chi-square)
    rows.foreach { case (name, _, x2, p, _, _) =>
      assert(math.abs(p - round(math.exp(-x2 / 2.0), 6)) < 2e-6,
        s"$name: p $p != exp(-x2/2) of x2 $x2")
    }
  }

  // ---- shared driver-side replicas for the rank/eval rows ----------

  /** (value → average rank) over the full slice, textbook tie handling. */
  private def avgRanks(vals: Array[Double]): Map[Double, Double] = {
    val sorted = vals.sorted
    sorted.zipWithIndex.groupBy(_._1)
      .map { case (v, g) => v -> (g.map(_._2 + 1).sum.toDouble / g.length) }
  }

  test("ts_adf matches a driver-side 3-regressor OLS on the daily click series") {
    val days = T(spark, dir, "events").filter(col("event_type") === "click")
      .select("ts").collect()
      .map { r =>
        val i = r.getTimestamp(0).toInstant
        (i.getEpochSecond * 1000000L + i.getNano / 1000L) / 86400000000L
      }
      .groupBy(identity).map { case (d2, g) => d2 -> g.length.toLong }
    // dense day axis exactly as the grouped count yields it
    val all = T(spark, dir, "events").select("ts").collect()
      .map { r =>
        val i = r.getTimestamp(0).toInstant
        (i.getEpochSecond * 1000000L + i.getNano / 1000L) / 86400000000L
      }.distinct.sorted
    val y = all.map(d2 => days.getOrElse(d2, 0L))
    val rows = all.indices.drop(2)
      .filter(i => all(i - 1) == all(i) - 1 && all(i - 2) == all(i) - 2)
      .map(i => (y(i) - y(i - 1), y(i - 1), y(i - 1) - y(i - 2)))
    val n = rows.length.toDouble
    def c(f: ((Long, Long, Long)) => Long, g2: ((Long, Long, Long)) => Long): Double =
      rows.map(t => f(t) * g2(t)).sum - rows.map(f).sum.toDouble * rows.map(g2).sum / n
    val (cyy, c11, c22) = (c(_._1, _._1), c(_._2, _._2), c(_._3, _._3))
    val (cy1, cy2, c12) = (c(_._1, _._2), c(_._1, _._3), c(_._2, _._3))
    val det = c11 * c22 - c12 * c12
    val beta = (cy1 * c22 - cy2 * c12) / det
    val gam = (cy2 * c11 - cy1 * c12) / det
    val rss = cyy - (beta * cy1 + gam * cy2)
    val t = beta / math.sqrt(rss / (n - 3) * c22 / det)
    val got = SparkEntry.queries("ts_adf")(spark, dir).collect()(0)
    assert(got.getLong(0) == rows.length)
    assert(math.abs(got.getDouble(1) - round(beta, 6)) < 1e-8)
    assert(math.abs(got.getDouble(2) - round(t, 4)) < 1e-8)
    assert(got.getBoolean(3) == (round(t, 4) < -2.86))
  }

  test("dq_ab_srm: chi-square replays from the distinct-user parity census") {
    val users = T(spark, dir, "events").select("user_id").collect()
      .map(_.getLong(0)).distinct
    val nt = users.count(_ % 2 == 0).toLong
    val nc = users.length - nt
    val chi2 = round((nt - nc).toDouble * (nt - nc) / (nt + nc), 4)
    val got = SparkEntry.queries("dq_ab_srm")(spark, dir).collect()(0)
    assert(got.getLong(0) == nt && got.getLong(1) == nc)
    assert(math.abs(got.getDouble(2) - chi2) < 1e-9)
    assert(got.getBoolean(3) == (chi2 > 3.8415))
  }

  test("agg_cohens_d recomputes from the welch moments; g shrinks d toward 0") {
    val vals = T(spark, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select("event_type", "value").collect()
      .groupBy(_.getString(0)).map { case (k, rs) => k -> rs.map(_.getDouble(1)) }
    val (a, b) = (vals("click"), vals("purchase"))
    def mv(x: Array[Double]) = {
      val m = x.sum / x.length
      (m, x.map(v => (v - m) * (v - m)).sum / (x.length - 1))
    }
    val ((ma, va), (mb, vb)) = (mv(a), mv(b))
    val sp = math.sqrt(((a.length - 1) * va + (b.length - 1) * vb) /
      (a.length + b.length - 2))
    val d0 = (ma - mb) / sp
    val g = d0 * (1.0 - 3.0 / (4.0 * (a.length + b.length) - 9.0))
    val got = SparkEntry.queries("agg_cohens_d")(spark, dir).collect()(0)
    assert(got.getLong(0) == a.length && got.getLong(1) == b.length)
    assert(math.abs(got.getDouble(3) - round(d0, 4)) < 1e-6)
    assert(math.abs(got.getDouble(4) - round(g, 4)) < 1e-6)
    assert(math.abs(got.getDouble(4)) <= math.abs(got.getDouble(3)) + 1e-12)
  }

  test("agg_kruskal_wallis matches a driver-side average-rank recomputation") {
    val rows = T(spark, dir, "events").select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val ar = avgRanks(rows.map(_._2))
    val n = rows.length.toDouble
    val byType = rows.groupBy(_._1)
    val s2 = byType.values.map { g =>
      val rj = g.map(r => ar(r._2)).sum
      rj * rj / g.length
    }.sum
    val h = 12.0 / (n * (n + 1)) * s2 - 3.0 * (n + 1)
    val tie3 = rows.groupBy(_._2).values.map(_.length.toDouble)
      .map(c => c * c * c - c).sum
    val hc = h / (1.0 - tie3 / (n * n * n - n))

    val got = SparkEntry.queries("agg_kruskal_wallis")(spark, dir).collect()(0)
    assert(got.getLong(0) == rows.length && got.getInt(1) == byType.size)
    assert(math.abs(got.getDouble(2) - round(h, 4)) < 1e-8)
    assert(math.abs(got.getDouble(3) - round(hc, 4)) < 1e-8)
  }

  /** Daily dy20-mean series — the shared input of the two trend rows. */
  private def dailyMeans(): Array[(Long, Double)] =
    T(spark, dir, "events").select(col("ts"), col("value")).collect()
      .map { r =>
        val i = r.getTimestamp(0).toInstant
        val us = i.getEpochSecond * 1000000L + i.getNano / 1000L
        (us / 86400000000L, Grid.dy20D(r.getDouble(1)))
      }
      .groupBy(_._1).map { case (d, g) => (d, g.map(_._2).sum / g.length) }
      .toArray.sortBy(_._1)

  test("ts_mann_kendall matches a driver-side pairwise-sign recomputation") {
    val dm = dailyMeans()
    val n = dm.length.toLong
    var s = 0L
    for (i <- dm.indices; j <- (i + 1) until dm.length)
      s += java.lang.Double.compare(dm(j)._2, dm(i)._2).sign
    val tie = dm.groupBy(_._2).values.map(_.length.toLong).filter(_ > 1)
      .map(c => c * (c - 1) * (2 * c + 5)).sum
    val varS = (n * (n - 1) * (2 * n + 5) - tie) / 18.0
    val z = (if (s > 0) s - 1.0 else if (s < 0) s + 1.0 else 0.0) / math.sqrt(varS)

    val got = SparkEntry.queries("ts_mann_kendall")(spark, dir).collect()(0)
    assert(got.getLong(0) == n && got.getLong(1) == s)
    assert(math.abs(got.getDouble(2) - round(varS, 4)) < 1e-8)
    assert(math.abs(got.getDouble(3) - round(z, 4)) < 1e-8)
  }

  test("ts_spearman_trend matches driver Pearson-on-ranks and sits in [-1,1]") {
    val dm = dailyMeans()
    val n = dm.length
    val rankM = avgRanks(dm.map(_._2))
    // days ascending: time rank is just the index
    val rx = dm.indices.map(_ + 1.0)
    val ry = dm.map(t => rankM(t._2))
    val (mx, my) = (rx.sum / n, ry.sum / n)
    val num = rx.zip(ry).map { case (a, b) => (a - mx) * (b - my) }.sum
    val den = math.sqrt(rx.map(a => (a - mx) * (a - mx)).sum *
      ry.map(b => (b - my) * (b - my)).sum)
    val rho = num / den

    val got = SparkEntry.queries("ts_spearman_trend")(spark, dir).collect()(0)
    assert(got.getLong(0) == n.toLong)
    assert(math.abs(got.getDouble(1) - round(rho, 6)) < 1e-8)
    assert(got.getDouble(1) >= -1.0 - 1e-9 && got.getDouble(1) <= 1.0 + 1e-9)
  }

  /** Driver replica of the scored/labeled corpus the eval rows run on. */
  private def scored(): Array[(Int, Double)] =
    T(spark, dir, "documents").select("lang", "text").collect().map { r =>
      val t = r.getString(1).split(" ", -1).length
      val ch = r.getString(1).length
      val s = -2.0 + 0.015 * t + 0.45 * ((ch - t + 1) * 1.0 / t)
      (if (r.getString(0) == "en") 1 else 0, s)
    }

  test("eval_auc_bootstrap: replicate AUCs replay driver-side; CI brackets the point estimate") {
    val xs = T(spark, dir, "documents").select("doc_id", "lang", "text").collect()
      .map { r =>
        val t = r.getString(2).split(" ", -1).length
        val ch = r.getString(2).length
        (r.getLong(0), if (r.getString(1) == "en") 1 else 0,
          -2.0 + 0.015 * t + 0.45 * ((ch - t + 1) * 1.0 / t))
      }
    // replicate 0 weighs every document 1: the full sample
    def wt(id: Long, b: Int): Long = if (b == 0) 1L else {
      val u = (((id * 131 + b) % 2147483648L) * 1103515245L + 12345L) % 2147483648L
      val x = (u + 0.5) / 2147483648.0
      if (x < 0.367879) 0L else if (x < 0.735759) 1L else if (x < 0.919699) 2L else 3L
    }
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def wAuc(b: Int): Double = {
      val groups = xs.groupBy(_._3).toArray.sortBy(_._1)
      var (below, u, tp, tq) = (0L, 0L, 0L, 0L)
      groups.foreach { case (_, g) =>
        val p = g.filter(_._2 == 1).map(v => wt(v._1, b)).sum
        val q = g.filter(_._2 == 0).map(v => wt(v._1, b)).sum
        u += p * (2 * below + q); below += q; tp += p; tq += q
      }
      r6(u / (2.0 * tp * tq))
    }
    val reps = (1 to 32).map(wAuc).sorted
    val got = SparkEntry.queries("eval_auc_bootstrap")(spark, dir).collect()(0)
    assert(math.abs(got.getDouble(3) - reps(1)) < 1e-9, "ci_lo replay")
    assert(math.abs(got.getDouble(4) - reps(30)) < 1e-9, "ci_hi replay")
    assert(got.getDouble(3) <= got.getDouble(4))
    assert(got.getLong(0) == xs.count(_._2 == 1), "n_pos replay")
    assert(got.getLong(1) == xs.count(_._2 == 0), "n_neg replay")
    assert(math.abs(got.getDouble(2) - wAuc(0)) < 1e-9, "full-sample AUC replay")
    // the full-sample AUC matches the unweighted row and the CI is sane:
    // a resampling band should not sit entirely away from the estimate
    val point = SparkEntry.queries("eval_auc_roc")(spark, dir).collect()(0).getDouble(3)
    assert(got.getDouble(2) == point, "point estimate must equal eval_auc_roc")
    assert(got.getDouble(3) <= point + 0.05 && got.getDouble(4) >= point - 0.05)
  }

  test("eval_ks_separation: brute-force max-CDF-gap replay; KS bounds TPR-FPR at best F1") {
    val xs = T(spark, dir, "documents").select("lang", "text").collect()
      .map { r =>
        val t = r.getString(1).split(" ", -1).length
        val ch = r.getString(1).length
        (if (r.getString(0) == "en") 1L else 0L,
          -2.0 + 0.015 * t + 0.45 * ((ch - t + 1) * 1.0 / t))
      }
    val p = xs.map(_._1).sum
    val q = xs.length - p
    val groups = xs.groupBy(_._2).toArray.sortBy(_._1)
    var (cp, cq) = (0L, 0L)
    val cands = groups.map { case (s2, g) =>
      cp += g.map(_._1).sum; cq += g.length - g.map(_._1).sum
      (math.abs(cp * q - cq * p), s2)
    }
    val best = cands.maxBy { case (gap, s2) => (gap, -s2) }
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = SparkEntry.queries("eval_ks_separation")(spark, dir).collect()(0)
    assert(got.getLong(1) == best._1, "integer gap argmax")
    assert(math.abs(got.getDouble(0) - r6(best._2)) < 1e-9, "threshold")
    assert(math.abs(got.getDouble(2) - r6(best._1.toDouble / (p * q))) < 1e-9)
    assert(got.getDouble(2) > 0 && got.getDouble(2) <= 1 + 1e-9)
    // KS == max over thresholds of |TPR - FPR|; must dominate the best-F1 point's gap
    val cf = SparkEntry.queries("eval_confusion_at_best_f1")(spark, dir).collect()(0)
    val (tp, fp) = (cf.getLong(1), cf.getLong(2))
    val gapAtF1 = math.abs(tp.toDouble / p - fp.toDouble / q)
    assert(got.getDouble(2) >= gapAtF1 - 1e-6,
      s"KS ${got.getDouble(2)} below the F1 point's gap $gapAtF1")
  }

  test("eval_confusion_at_best_f1: matrix is consistent with the sweep row; MCC replay") {
    val sweep = SparkEntry.queries("eval_f1_sweep")(spark, dir).collect()(0)
    val got = SparkEntry.queries("eval_confusion_at_best_f1")(spark, dir).collect()(0)
    // same operating point: threshold and TP/FP/FN agree with the sweep
    assert(got.getDouble(0) == sweep.getDouble(0))
    assert(got.getLong(1) == sweep.getLong(1) && got.getLong(2) == sweep.getLong(2)
      && got.getLong(3) == sweep.getLong(3))
    val (tp, fp, fn, tn) =
      (got.getLong(1), got.getLong(2), got.getLong(3), got.getLong(4))
    val (p, q) = (tp + fn, tn + fp)
    def r(x: Double, dp: Int) =
      BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(got.getDouble(5) - r((tp + tn).toDouble / (p + q), 6)) < 1e-9)
    assert(math.abs(got.getDouble(6) - r(tn.toDouble / q, 6)) < 1e-9)
    assert(math.abs(got.getDouble(7) -
      r((tp.toDouble / p + tn.toDouble / q) / 2, 6)) < 1e-9)
    val mcc = (tp.toDouble * tn - fp.toDouble * fn) /
      math.sqrt((tp + fp).toDouble * (tp + fn) * (tn + fp) * (tn + fn))
    assert(math.abs(got.getDouble(8) - r(mcc, 4)) < 1e-9)
    assert(got.getDouble(8) >= -1.0 - 1e-9 && got.getDouble(8) <= 1.0 + 1e-9)
  }

  test("eval_lift_curve: deciles partition the corpus; gains monotone; masses replay") {
    val xs = T(spark, dir, "documents").select("doc_id", "lang", "text").collect()
      .map { r =>
        val t = r.getString(2).split(" ", -1).length
        val ch = r.getString(2).length
        (if (r.getString(1) == "en") 1L else 0L,
          -2.0 + 0.015 * t + 0.45 * ((ch - t + 1) * 1.0 / t))
      }
    val n = xs.length.toLong
    val p = xs.map(_._1).sum
    // replay: score groups DESC, decile at group END position
    val groups = xs.groupBy(_._2).toArray.sortBy(-_._1)
    var k = 0L
    val want = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    groups.foreach { case (_, g) =>
      k += g.length
      val dec = (k - 1) * 10 / n
      val (pp, nn2) = want.getOrElse(dec, (0L, 0L))
      want(dec) = (pp + g.map(_._1).sum, nn2 + g.length)
    }
    val got = SparkEntry.queries("eval_lift_curve")(spark, dir).collect()
    assert(got.map(_.getLong(1)).sum == n, "deciles must partition the corpus")
    assert(got.map(_.getLong(2)).sum == p, "positives must partition too")
    got.foreach { r =>
      val (pp, nn2) = want(r.getInt(0).toLong)
      assert(r.getLong(2) == pp && r.getLong(1) == nn2, s"decile ${r.getInt(0)} masses")
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(3) - r6(pp.toDouble / nn2)) < 1e-9)
    }
    // cumulative recall is monotone non-decreasing and ends at 1
    val recalls = got.sortBy(_.getInt(0)).map(_.getDouble(5))
    recalls.sliding(2).foreach(w => if (w.length == 2) assert(w(0) <= w(1) + 1e-12))
    assert(math.abs(recalls.last - 1.0) < 1e-9)
  }

  test("eval_auc_roc matches brute-force pair counting with half tie credit") {
    val xs = scored()
    val pos = xs.filter(_._1 == 1).map(_._2)
    val neg = xs.filter(_._1 == 0).map(_._2)
    var u2 = 0L
    for (p <- pos; q <- neg)
      u2 += (if (p > q) 2L else if (p == q) 1L else 0L)
    val auc = u2 / (2.0 * pos.length * neg.length)

    val got = SparkEntry.queries("eval_auc_roc")(spark, dir).collect()(0)
    assert(got.getLong(0) == pos.length && got.getLong(1) == neg.length)
    assert(got.getLong(2) == u2)
    assert(math.abs(got.getDouble(3) - round(auc, 6)) < 1e-9)
  }

  test("eval_pr_auc matches the step-wise AP over distinct-score thresholds") {
    val xs = scored()
    val p = xs.count(_._1 == 1)
    val groups = xs.groupBy(_._2).toArray.sortBy(-_._1)
    var (cp, k, ap) = (0L, 0L, 0.0)
    for ((_, g) <- groups) {
      cp += g.count(_._1 == 1); k += g.length
      ap += Grid.dy20D(g.count(_._1 == 1) * cp * 1.0 / k)
    }
    val got = SparkEntry.queries("eval_pr_auc")(spark, dir).collect()(0)
    assert(got.getLong(0) == p && got.getLong(1) == xs.length)
    assert(math.abs(got.getDouble(2) - round(ap / p, 6)) < 1e-9)
    // AP can never undercut the positive base rate's precision floor at k=N
    assert(got.getDouble(2) >= round(Grid.dy20D(p * 1.0 / xs.length), 6) / p - 1e-9)
  }

  test("eval_f1_sweep reports the true F1 maximizer over all thresholds") {
    val xs = scored()
    val p = xs.count(_._1 == 1)
    val groups = xs.groupBy(_._2).toArray.sortBy(-_._1)
    var (cp, k) = (0L, 0L)
    val cands = groups.map { case (s, g) =>
      cp += g.count(_._1 == 1); k += g.length
      (s, cp, k, 2.0 * cp / (k + p))
    }
    val best = cands.maxBy(c => (c._4, -c._3))
    val got = SparkEntry.queries("eval_f1_sweep")(spark, dir).collect()(0)
    assert(math.abs(got.getDouble(0) - round(best._1, 6)) < 1e-9)
    assert(got.getLong(1) == best._2)                       // tp
    assert(got.getLong(2) == best._3 - best._2)             // fp
    assert(got.getLong(3) == p - best._2)                   // fn
    assert(math.abs(got.getDouble(6) - round(best._4, 6)) < 1e-9)
    // every other threshold's F1 is <= the reported one
    cands.foreach(c => assert(c._4 <= best._4 + 1e-12))
  }

  test("eval_calibration_bins recomputes per-bin accuracy/confidence and gap") {
    val cuts = (1 to 9).map(b => math.log(b / (10.0 - b)))
    val xs = scored().map { case (y, s) =>
      val bin = cuts.indexWhere(s < _) match { case -1 => 9; case i => i }
      (bin, y, Grid.dy20D(1.0 / (1.0 + math.exp(-s))))
    }
    val got = SparkEntry.queries("eval_calibration_bins")(spark, dir).collect()
    val byBin = xs.groupBy(_._1)
    assert(got.map(_.getInt(0)).toSet == byBin.keySet)
    got.foreach { r =>
      val g = byBin(r.getInt(0))
      val acc = round(g.map(_._2).sum * 1.0 / g.length, 6)
      val conf = round(g.map(_._3).sum / g.length, 6)
      assert(r.getLong(1) == g.length && r.getLong(2) == g.map(_._2).sum)
      assert(math.abs(r.getDouble(3) - acc) < 1e-9)
      assert(math.abs(r.getDouble(4) - conf) < 1e-9)
      assert(math.abs(r.getDouble(5) - round(math.abs(acc - conf), 6)) < 1e-9)
      // bin's mean confidence really lives inside the bin's probability decile
      val lo = r.getInt(0) / 10.0; val hi = lo + 0.1
      assert(r.getDouble(4) >= lo - 1e-6 && r.getDouble(4) <= hi + 1e-6)
    }
  }

  test("eval_pass_at_k: estimator matches exact combinatorics; edges hold") {
    val rows = graft.SparkEntry.queries("eval_pass_at_k")(spark, dir).collect()
    assert(rows.nonEmpty)
    def comb(n: Int, k: Int): BigInt =
      if (k < 0 || k > n) BigInt(0)
      else (BigInt(n - k + 1) to BigInt(n)).product / (BigInt(1) to BigInt(k)).product
    rows.foreach { r =>
      val (n, c) = (r.getInt(1), r.getInt(2))
      for ((k, idx) <- Seq(1 -> 3, 5 -> 4, 10 -> 5)) {
        if (n < k) assert(r.isNullAt(idx), s"n=$n k=$k should be NULL")
        else {
          val exact = 1.0 - comb(n - c, k).toDouble / comb(n, k).toDouble
          assert(math.abs(r.getDouble(idx) - exact) < 1e-6,
            s"problem ${r.getLong(0)} n=$n c=$c k=$k: ${r.getDouble(idx)} vs $exact")
        }
      }
      // pass@1 is exactly the pass rate; monotone in k
      if (n >= 1) assert(math.abs(r.getDouble(3) - math.round(c.toDouble / n * 1e6) / 1e6) < 1e-9)
      if (n >= 10) assert(r.getDouble(3) <= r.getDouble(4) + 1e-9 &&
        r.getDouble(4) <= r.getDouble(5) + 1e-9)
    }
  }

  test("eval_mrr: reciprocal ranks replay from the knn ranking; misses are 0") {
    val rows = graft.SparkEntry.queries("eval_mrr")(spark, dir).collect()
    assert(rows.nonEmpty)
    val nVec = graft.T(spark, dir, "embeddings").count()
    assert(rows.length == nVec, "one row per vector, incl. top-10 misses")
    rows.foreach { r =>
      if (r.isNullAt(1)) assert(r.getDouble(2) == 0.0, s"qid ${r.getLong(0)}")
      else {
        val rank = r.getInt(1)
        assert(rank >= 1 && rank <= 10)
        assert(math.abs(r.getDouble(2) - math.round(1e6 / rank) / 1e6) < 1e-9)
      }
    }
    // some hits and some misses must both occur at this SF, or the
    // miss accounting is untested
    assert(rows.exists(_.isNullAt(1)) && rows.exists(!_.isNullAt(1)))
  }
}
