package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic: the tail rule, self time, and the
  * seeded gdx_io generator.
  */
class LogicSpec extends AnyFunSuite {

  test("tail picks the highest ladder step with at least ten samples beyond it") {
    val xs = (1 to 200).map(_.toDouble)
    val t = Stats.tail(xs)
    assert(t.percentile == 95.0)
    assert(t.value == 190.0)
    assert(t.beyond == 10 && t.samples == 200)
    // 1000 samples: p99 leaves exactly 10 beyond, p99.9 only 1
    val big = Stats.tail((1 to 1000).map(_.toDouble))
    assert(big.percentile == 99.0 && big.beyond == 10 && big.value == 990.0)
  }

  test("tail falls back to the median, with its count, when samples are few") {
    val t = Stats.tail(Seq(4.0, 1.0, 3.0, 2.0))
    assert(t.percentile == 50.0 && t.value == 2.5 && t.beyond == 2 && t.samples == 4)
    assert(t.label == "p50.0 of 4 samples (2 beyond)")
  }

  test("median averages the middle pair") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("self time subtracts the union of overlapping, clipped child spans") {
    val parent = Span(0, -1, "t", "op", 100, 200)
    val kids = Seq(
      Span(1, 0, "t", "job0", 110, 140),
      Span(2, 0, "t", "job1", 130, 160), // overlaps job0: union 110..160
      Span(3, 0, "t", "job2", 190, 250)) // sticks out: counts 190..200
    assert(Spans.coveredNs(100, 200, kids.map(k => (k.startNs, k.endNs))) == 60)
    assert(Spans.selfNs(parent, kids) == 40)
    assert(Spans.selfNs(parent, Nil) == 100)
  }

  test("the tracer nests spans and records nothing when disabled") {
    val on = new Tracer(true)
    on.span("workload") { on.span("op", trace = "k1") { on.span("build")(()) } }
    val byName = on.all.map(s => s.name -> s).toMap
    assert(byName("build").parent == byName("op").id)
    assert(byName("op").parent == byName("workload").id)
    assert(byName("build").trace == "k1" && byName("workload").trace == "workload")
    val off = new Tracer(false)
    off.span("x")(())
    assert(off.all.isEmpty)
  }

  test("the gdx_io generator is a function of its seed") {
    val s = GdxGen.parameter(5000)
    assert(GdxGen.checksum(s, 7) == GdxGen.checksum(s, 7))
    assert(GdxGen.checksum(s, 7) != GdxGen.checksum(s, 8))
    // dim_1 is sorted and clustered: one label per 64-record group
    val d1 = (0L until s.records).map(GdxGen.labels(s, 7, _)(0))
    assert(d1 == d1.sorted && d1.distinct.size == s.groups)
    // keys are unique
    assert((0L until s.records).map(GdxGen.labels(s, 7, _).toSeq).distinct.size == s.records)
  }

  test("local dim_2 labels stay in one run of groups, global ones recur everywhere") {
    val s = GdxGen.parameter(GdxGen.GroupSize * 200)
    val byLabel = (0L until s.records).groupBy(GdxGen.labels(s, 3, _)(1))
    val local = byLabel.filter(_._1.startsWith("l"))
    assert(local.values.forall(is => is.max - is.min < GdxGen.GroupSize * GdxGen.GroupSize))
    val global = byLabel.filter(_._1.startsWith("g"))
    assert(global.size == GdxGen.GlobalLabels)
    assert(global.values.forall(_.map(_ / GdxGen.GroupSize).distinct.size == s.groups))
  }

  test("canonical values: six significant digits, integral decimals exact") {
    assert(Canon.roundDouble(1234.5678) == "123457e-2")
    assert(Canon.roundDouble(-0.5) == "-5e-1")
    assert(Canon.roundDouble(100.0) == "1e2")
    assert(Canon.roundDouble(Double.NaN) == "NaN")
    assert(Canon.value(new java.math.BigDecimal("12.000")) == "12")
    assert(Canon.value(Seq(1, null, 2.5)) == "[1,\u0000N,25e-1]")
    assert(FracSum.of(1.0).matches(FracSum(1.0 + 1e-12, 1.0, 0, 0, 0)))
    assert(!FracSum.of(1.0).matches(FracSum.of(1.001)))
  }

  test("key subsets take every Stride-th key of each family, in sorted order") {
    val keys = (0 until 60).map(i => f"agg_k$i%02d") ++ Seq("graph_a", "graph_b", "union_x", "stream_y")
    assert(Main.subset("ops_onepass", keys) == Seq("agg_k00", "agg_k50", "stream_y"))
    assert(Main.subset("ops_iterative", keys) == Seq("graph_a"))
    assert(OpsWorkload.family("union_x") == "other" && OpsWorkload.family("agg_k00") == "agg")
    assert(OpsWorkload.workloadOf("graph_a") == "ops_iterative")
    assert(OpsWorkload.workloadOf("union_x") == "ops_onepass")
  }
}
