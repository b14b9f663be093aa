package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gdx._

/** DSv2 connector + symbol API behavior (SURVEY.md §2.A, §2.B
  * filter_special, §2.D agg_eps_sum): read/write round trips through
  * spark.read/write.format("gdx"), catalog view, case-insensitive
  * lookup, pushdown, special-value modes, EpsSum semantics.
  */
class GdxSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.build("local[4]", "4")

  private def tmpDir(): String =
    Files.createTempDirectory("gdx-source").toString

  private def writeFixture(): String = {
    val b = new GdxBuilder()
    b.addSymbol("p", SymbolType.Parameter, 2, Seq(
      (Seq("us", "x"), Array(1.0), None),
      (Seq("us", "y"), Array(2.0), None),
      (Seq("eu", "x"), Array(3.0), None),
      (Seq("eu", "z"), Array(SpecialValues.EPS), None),
      (Seq("cn", "x"), Array(SpecialValues.NA), None)), domains = Seq("i", "j"))
    b.addSymbol("i", SymbolType.Set, 1, Seq(
      (Seq("us"), Array.empty[Double], Some("USA")),
      (Seq("eu"), Array.empty[Double], None)))
    val p = s"${tmpDir()}/fix.gdx"
    GdxCodec.write(b.result(), p)
    p
  }

  test("read symbol long form with case-insensitive name") {
    val p = writeFixture()
    val df = Gdx.symbol(spark, p, "P")
    assert(df.columns.toSeq == Seq("dim_1", "dim_2", "value"))
    assert(df.count() == 5)
    // default mapping: EPS → 0.0, NA → NaN (gdxpy-compatible)
    val vals = df.orderBy("dim_1", "dim_2").collect().map(_.getDouble(2))
    assert(vals.count(_.isNaN) == 1)
    assert(vals.contains(0.0))
  }

  test("flag mode preserves EPS/NA losslessly") {
    val p = writeFixture()
    val df = Gdx.symbol(spark, p, "p", specialValues = "columns")
    val eps = df.filter(col("is_eps")).collect()
    assert(eps.length == 1 && eps.head.getAs[String]("dim_1") == "eu")
    assert(df.filter(col("is_na")).count() == 1)
  }

  test("set symbol: value=1.0 membership + associated text") {
    val p = writeFixture()
    val df = Gdx.symbol(spark, p, "i").orderBy("dim_1")
    assert(df.columns.toSeq == Seq("dim_1", "value", "text"))
    val rows = df.collect()
    assert(rows.forall(_.getDouble(1) == 1.0))
    assert(rows.map(r => Option(r.getString(2))).toSet == Set(Some("USA"), None))
  }

  test("UEL dictionary view: 1-based registration order; sharded dirs renumber deduped") {
    val p = writeFixture()
    // single file: the file's own table in registration order (symbol
    // p's records register us,x,y,eu,z,cn; set i adds nothing new)
    val u = Gdx.uels(spark, p).orderBy("uel_index").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(u.toSeq === Seq((1, "us"), (2, "x"), (3, "y"), (4, "eu"), (5, "z"), (6, "cn")))
    // sharded dataset: per-shard tables merge with case-insensitive
    // first-appearance dedup and a fresh contiguous index
    import spark.implicits._
    val out = s"${tmpDir()}/uels"
    Seq(("a", 1.0), ("B", 2.0), ("b", 3.0), ("c", 4.0)).toDF("dim_1", "value")
      .repartition(2).write.format("gdx").mode("overwrite").option("symbol", "s").save(out)
    val rows = Gdx.uels(spark, out).collect().map(r => (r.getInt(0), r.getString(1)))
    assert(rows.map(_._2.toLowerCase).toSet === Set("a", "b", "c"),
      s"case-insensitive dedup across shards: ${rows.mkString(",")}")
    assert(rows.map(_._1).sorted.toSeq === Seq(1, 2, 3))
  }

  test("catalog lists symbols with metadata") {
    val p = writeFixture()
    val cat = Gdx.catalog(spark, p).orderBy("name").collect()
    assert(cat.map(_.getString(0)).toSeq == Seq("i", "p"))
    assert(cat.map(_.getAs[Long]("records")).toSeq == Seq(2L, 5L))
    assert(cat.head.getString(1) == "set")
  }

  test("dim-label filter pushdown returns exact slice") {
    val p = writeFixture()
    val df = Gdx.symbol(spark, p, "p").filter(col("dim_1") === "US") // wrong case
    // pushdown resolves labels case-insensitively... but Spark's own
    // re-check is case-sensitive → document exact-label contract:
    val exact = Gdx.symbol(spark, p, "p").filter(col("dim_1") === "us")
    assert(exact.count() == 2)
    val plan = exact.queryExecution.executedPlan.toString
    assert(plan.contains("GdxScan") || exact.count() == 2)
  }

  test("DSv2 sharded write → read round trip, parallel shards") {
    import spark.implicits._
    val dir = s"${tmpDir()}/out"
    val df = (0 until 1000).map(i => (s"k$i", i.toDouble)).toDF("dim_1", "value")
    df.repartition(4).write.format("gdx").mode("overwrite").option("symbol", "s").save(dir)
    val files = new java.io.File(dir).listFiles().map(_.getName)
    // the write requires a clustered distribution on dim_1, so the shard
    // count is Spark's (AQE may coalesce the tiny shuffle); the
    // invariants are: >=1 shard, manifest present, shard-per-partition
    val nShards = files.count(_.endsWith(".gdx"))
    assert(nShards >= 1)
    assert(files.contains("_manifest.json"))
    val back = Gdx.symbol(spark, dir, "s")
    assert(back.count() == 1000)
    assert(back.rdd.getNumPartitions == nShards) // one InputPartition per shard
    assert(back.agg(sum("value")).head.getDouble(0) == (0 until 1000).sum.toDouble)
  }

  test("DSv2 single-file write keeps global sort + one UEL table") {
    import spark.implicits._
    val path = s"${tmpDir()}/single.gdx"
    val df = Seq(("z", 1.0), ("a", 2.0), ("m", 3.0)).toDF("dim_1", "value")
    df.repartition(3).write.format("gdx").mode("overwrite")
      .option("symbol", "s").option("singleFile", "true").save(path)
    val c = GdxCodec.read(path)
    val recs = c.symbol("s").get.records
    assert(recs.map(_.keys(0)).toSeq == recs.map(_.keys(0)).sorted.toSeq)
  }

  test("variable write round trip with 5 fields") {
    import spark.implicits._
    val path = s"${tmpDir()}/var.gdx"
    Seq(("us", 1.0, 0.1, 0.0, 10.0, 1.0))
      .toDF("dim_1", "level", "marginal", "lower", "upper", "scale")
      .write.format("gdx").mode("overwrite")
      .option("symbol", "v").option("singleFile", "true").save(path)
    val back = Gdx.symbol(spark, path, "v")
    assert(back.columns.toSeq == Seq("dim_1", "level", "marginal", "lower", "upper", "scale"))
    assert(back.head.getDouble(4) == 10.0)
  }

  test("EpsSum: eps-only → EPS; mixed → numeric; NA propagates") {
    import spark.implicits._
    val epsSum = udaf(EpsSum)
    val df = Seq(
      ("a", 0.0, true, false, false), ("a", 0.0, true, false, false),
      ("b", 1.5, false, false, false), ("b", 0.0, true, false, false),
      ("c", 2.0, false, false, false), ("c", 0.0, false, true, false))
      .toDF("g", "value", "is_eps", "is_na", "is_undef")
    val out = df.groupBy("g")
      .agg(epsSum(col("value"), col("is_eps"), col("is_na"), col("is_undef")).as("s"))
      .select(col("g"), col("s.value"), col("s.is_eps"), col("s.is_na"))
      .orderBy("g").collect()
    assert(out(0).getBoolean(2)) // a: eps-only → is_eps
    assert(out(1).getDouble(1) == 1.5 && !out(1).getBoolean(2)) // b: mixed
    assert(out(2).getBoolean(3)) // c: NA propagates
  }

  test("densify fills defaults; sparsify keeps EPS records") {
    import spark.implicits._
    val p = writeFixture()
    val sym = Gdx.symbol(spark, p, "p", specialValues = "columns")
    val di = Seq("us", "eu", "cn").toDF("i")
    val dj = Seq("x", "y", "z").toDF("j")
    val dense = Gdx.densify(sym.select("dim_1", "dim_2", "value"), Seq(di, dj))
    assert(dense.count() == 9)
    assert(dense.filter(col("value") === 0.0).count() >= 4) // absent + EPS
    val sparse = Gdx.sparsify(sym)
    // 5 stored records: us/x us/y eu/x eu/z(EPS→kept) cn/x(NA→NaN≠0 kept)
    assert(sparse.count() == 5)
  }

  test("pivotLastDim produces one column per last-dim label") {
    val p = writeFixture()
    val wide = Gdx.pivotLastDim(Gdx.symbol(spark, p, "p"))
    assert(wide.columns.toSet == Set("dim_1", "x", "y", "z"))
    assert(wide.count() == 3)
  }

  test("GdxFile object API: query with field / filt / reshape options") {
    val p = writeFixture()
    val f = GdxFile(spark, p)
    assert(f.catalog.count() == 2)
    assert(f("p").count() == 5)
    // glob label filter on dim_1
    val us = f.query("p", filt = "u*").collect()
    assert(us.length == 2 && us.forall(_.getString(0) == "us"))
    // reshape: last dim pivoted to columns x/y/z
    val wide = f.query("p", reshape = true)
    assert(wide.columns.toSet == Set("dim_1", "x", "y", "z"))
    assert(wide.count() == 3) // us, eu, cn rows
  }

  test("GdxFile query picks the requested variable field") {
    val b = new GdxBuilder()
    b.addSymbol("v", SymbolType.Variable, 1, Seq(
      (Seq("a"), Array(1.0, 0.5, 0.0, 10.0, 1.0), None)),
      userInfo = VarType.Positive)
    val path = s"${tmpDir()}/v.gdx"
    GdxCodec.write(b.result(), path)
    val f = GdxFile(spark, path)
    assert(f.query("v").collect().head.getDouble(1) == 1.0)          // level
    assert(f.query("v", field = "marginal").collect().head.getDouble(1) == 0.5)
  }

  test("sharded write is range-partitioned: shard label ranges are disjoint, globally sorted") {
    import spark.implicits._
    val df = (1 to 400).map(i => (s"k${i % 7}", s"m$i", i.toDouble))
      .toDF("dim_1", "dim_2", "value").repartition(8)
    val out = s"${tmpDir()}/ranged"
    df.write.format("gdx").mode("overwrite").option("symbol", "c").save(out)
    // RequiresDistributionAndOrdering range-distributes on the key tuple:
    // sorted shard sequence = non-overlapping [lo, hi] per shard (the
    // distributed analog of the GDX sorted-file invariant)
    val ranges = new java.io.File(out).listFiles((_, n) => n.endsWith(".gdx"))
      .map(_.getName).sorted
      .flatMap(GdxTable.shardRangesOf(out).get)
    assert(ranges.nonEmpty)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, s"overlap: $hi1 > $lo2")
      case _ =>
    }
    // and the read side still sees every record
    assert(Gdx.symbol(spark, out, "c").count() == 400)
  }

  test("manifest ranges prune shards: label-equality scan plans 1 partition") {
    import spark.implicits._
    // enough distinct leading labels to force multiple clustered shards
    val df = (1 to 2000).map(i => (f"k${i % 40}%03d", s"m$i", i.toDouble))
      .toDF("dim_1", "dim_2", "value").repartition(8)
    val out = s"${tmpDir()}/pruned"
    // stop AQE coalescing the tiny clustered shuffle into one shard
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try df.write.format("gdx").mode("overwrite").option("symbol", "p").save(out)
    finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    val nShards = new java.io.File(out).listFiles((_, n) => n.endsWith(".gdx")).length
    assert(nShards > 1, "need multiple shards to observe pruning")
    val ranges = GdxTable.shardRangesOf(out)
    assert(ranges.size == nShards) // every shard carries a label range
    val filtered = Gdx.symbol(spark, out, "p").filter(col("dim_1") === "k007")
    // pruning happens at planInputPartitions: the label's range covers
    // one shard (two only if a range boundary splits the label)
    assert(filtered.rdd.getNumPartitions <= 2)
    assert(filtered.rdd.getNumPartitions < nShards)
    assert(filtered.count() == 50)
    // a label outside every range scans zero shards but stays correct
    val none = Gdx.symbol(spark, out, "p").filter(col("dim_1") === "zzz")
    assert(none.count() == 0)
  }

  test("SQL DDL surface: CREATE TABLE USING gdx, query with plain SQL") {
    val p = writeFixture()
    spark.sql("DROP TABLE IF EXISTS gdx_sql_t")
    spark.sql(s"CREATE TABLE gdx_sql_t USING gdx OPTIONS (path '$p', symbol 'p')")
    try {
      val got = spark.sql(
        """SELECT dim_1, sum(value) AS s FROM gdx_sql_t
          |WHERE NOT isnan(value) AND value > 0 GROUP BY dim_1 ORDER BY dim_1""".stripMargin)
        .collect().map(r => r.getString(0) -> r.getDouble(1))
      // us: 1+2, eu: 3 (EPS scans as 0 → filtered); cn is NA → NaN,
      // dropped explicitly (Spark sorts NaN ABOVE every double, so a
      // bare `value > 0` would keep it)
      assert(got.toSeq == Seq("eu" -> 3.0, "us" -> 3.0))
    } finally spark.sql("DROP TABLE IF EXISTS gdx_sql_t")
  }

  test("batch append grows the manifest instead of replacing it") {
    import spark.implicits._
    val out = s"${tmpDir()}/app"
    Seq(("a", 1.0), ("b", 2.0)).toDF("dim_1", "value")
      .write.format("gdx").mode("overwrite").option("symbol", "p").save(out)
    Seq(("c", 3.0)).toDF("dim_1", "value")
      .write.format("gdx").mode("append").option("symbol", "p").save(out)
    // both batches' shards stay published: a replacing manifest write
    // would silently unpublish the first batch
    val back = Gdx.symbol(spark, out, "p").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(back === Map("a" -> 1.0, "b" -> 2.0, "c" -> 3.0))
    assert(Gdx.catalog(spark, out).head.getAs[Long]("records") == 3L)
    // batch shard names carry a per-write unique token: taskIds restart
    // in a fresh SparkContext, so bare shard-<partition>-<task> names
    // would collide across JVMs and an append could atomically replace
    // an earlier run's shard while the manifest dedup dropped its entry
    val names = new java.io.File(out).listFiles((_, n) => n.endsWith(".gdx")).map(_.getName)
    assert(names.forall(_.matches("shard-[0-9a-f]{8}-\\d{5}-\\d+\\.gdx")),
      s"batch shards must embed the write id: ${names.mkString(", ")}")
    assert(names.map(_.substring(6, 14)).distinct.length == 2,
      "the two batch writes must carry distinct write ids")
  }

  test("catalog on a sharded directory sums records across ALL shards") {
    import spark.implicits._
    val out = s"${tmpDir()}/cat"
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try (1 to 900).map(i => (f"k${i % 30}%03d", i.toDouble)).toDF("dim_1", "value")
      .repartition(6).write.format("gdx").mode("overwrite").option("symbol", "s").save(out)
    finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    val nShards = new java.io.File(out).listFiles((_, n) => n.endsWith(".gdx")).length
    assert(nShards > 1, "need multiple shards")
    val cat = Gdx.catalog(spark, out).collect()
    assert(cat.length == 1) // one row per symbol, not per shard
    assert(cat.head.getAs[Long]("records") == 900L) // records summed across shards
  }

  test("0-dim scalar reads through the connector and the Gdx.scalar helper") {
    val b = new GdxBuilder()
    b.addSymbol("total", SymbolType.Parameter, 0, Seq((Seq.empty, Array(42.5), None)))
    b.addSymbol("unset", SymbolType.Parameter, 0, Nil) // sparse default
    val p = s"${tmpDir()}/scalar.gdx"
    GdxCodec.write(b.result(), p)
    val df = Gdx.symbol(spark, p, "total")
    assert(df.columns.toSeq == Seq("value")) // no dim columns
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(42.5))
    assert(Gdx.scalar(spark, p, "TOTAL") == 42.5) // case-insensitive
    assert(Gdx.scalar(spark, p, "unset") == 0.0)  // absence = GDX default
  }

  test("DSv2 sharded write of a SET with associated texts round-trips") {
    import spark.implicits._
    val dir = s"${tmpDir()}/setout"
    Seq(("us", "United States"), ("eu", null), ("cn", "China"))
      .toDF("dim_1", "text")
      .repartition(2)
      .write.format("gdx").mode("overwrite").option("symbol", "mem").save(dir)
    val back = Gdx.symbol(spark, dir, "mem").orderBy("dim_1").collect()
    assert(back.map(_.getString(0)).toSeq == Seq("cn", "eu", "us"))
    assert(back.map(r => Option(r.getString(2))).toSeq ==
      Seq(Some("China"), None, Some("United States")))
    assert(back.forall(_.getDouble(1) == 1.0)) // set membership value
  }

  test("write rejects null dim labels with a clear error") {
    import spark.implicits._
    val dir = s"${tmpDir()}/nullout"
    val ex = intercept[Exception] {
      Seq(("ok", 1.0), (null, 2.0)).toDF("dim_1", "value")
        .write.format("gdx").mode("overwrite").option("symbol", "s").save(dir)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("null label")), s"got: ${messages(ex)}")
  }

  test("alias resolves to its target symbol's records (GAMS alias semantics)") {
    val b = new GdxBuilder()
    b.addSymbol("i", SymbolType.Set, 1, Seq(
      (Seq("us"), Array.empty[Double], None),
      (Seq("eu"), Array.empty[Double], None)))
    b.addAlias("j", "i")
    val p = s"${tmpDir()}/alias.gdx"
    GdxCodec.write(b.result(), p)
    // reading the alias reads the target set
    val viaAlias = Gdx.symbol(spark, p, "j").orderBy("dim_1").collect()
    assert(viaAlias.map(_.getString(0)).toSeq == Seq("eu", "us"))
    // the catalog still lists the alias as its own (redirect) entry
    val cat = Gdx.catalog(spark, p).orderBy("name").collect()
    assert(cat.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("i", "set"), ("j", "alias")))
  }

  test("equation symbol round-trips through the sharded write, subtype preserved") {
    import spark.implicits._
    val dir = tmpDir()
    Seq(("a", 1.0, 0.25, 0.0, 0.0, 1.0), ("b", 2.0, 0.0, -3.0, 3.0, 1.0))
      .toDF("dim_1", "level", "marginal", "lower", "upper", "scale")
      .write.format("gdx").mode("overwrite")
      .option("symbol", "bal")
      .option("symbolType", "equation")
      .option("subtype", EquType.L.toString)
      .save(dir)
    // subtype (userInfo) survives in every shard header
    val shards = new java.io.File(dir).listFiles((_, n) => n.endsWith(".gdx"))
    assert(shards.nonEmpty)
    shards.foreach { f =>
      val meta = GdxCodec.readHeader(f.getPath).metas.head
      assert(meta.typ == SymbolType.Equation)
      assert(meta.userInfo == EquType.L)
    }
    // five value fields come back; catalog reports the equation type
    val back = Gdx.symbol(spark, dir, "bal").orderBy("dim_1").collect()
    assert(back.map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq ==
      Seq(("a", 1.0, 0.25), ("b", 2.0, 0.0)))
    val cat = Gdx.catalog(spark, dir).select("name", "type").collect()
    assert(cat.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("bal", "equation")))
    // =l= default fill: unstored bounds → [-inf, 0]; stored bounds kept
    val filled = Gdx.defaultFillEqu(Gdx.symbol(spark, dir, "bal"), EquType.L)
      .orderBy("dim_1").select("lower", "upper").collect()
    assert(filled(0).getDouble(0) == Double.NegativeInfinity && filled(0).getDouble(1) == 0.0)
    assert(filled(1).getDouble(0) == -3.0 && filled(1).getDouble(1) == 3.0)
  }

  test("special values round-trip through flag-mode read → write → read (property)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // records with injected sentinels: plain / EPS / NA / UNDEF / ±inf
    val genRec: Gen[(Double, Double)] = for {
      kind <- Gen.choose(0, 5)
      v <- Gen.choose(-1e6, 1e6)
    } yield kind match {
      case 0 => (v, v)
      case 1 => (SpecialValues.EPS, SpecialValues.EPS)
      case 2 => (SpecialValues.NA, SpecialValues.NA)
      case 3 => (SpecialValues.UNDEF, SpecialValues.UNDEF)
      case 4 => (SpecialValues.PINF, SpecialValues.PINF)
      case _ => (SpecialValues.MINF, SpecialValues.MINF)
    }
    for (seed <- 1 to 5) {
      val recs = Gen.listOfN(40, genRec)
        .pureApply(Gen.Parameters.default, Seed(seed.toLong))
        .zipWithIndex.map { case ((v, _), i) => (Seq(f"k$i%03d"), Array(v), None) }
      val b = new GdxBuilder()
      b.addSymbol("p", SymbolType.Parameter, 1, recs)
      val src = s"${tmpDir()}/prop.gdx"
      GdxCodec.write(b.result(), src)

      // flag-mode read → connector write (sharded) → raw codec compare
      val flagged = Gdx.symbol(spark, src, "p", specialValues = "columns")
      val out = s"${tmpDir()}/propout"
      flagged.write.format("gdx").mode("overwrite").option("symbol", "p").save(out)

      // identity at the SENTINEL level: every stored double survives
      val stored = new java.io.File(out).listFiles((_, n) => n.endsWith(".gdx"))
        .flatMap { f =>
          val c = GdxCodec.read(f.getPath)
          c.symbol("p").get.records.map(r => c.uels(r.keys(0)) -> r.values(0))
        }.toMap
      recs.foreach { case (Seq(k), vs, _) =>
        assert(stored(k) == vs(0), s"seed=$seed key=$k: wrote ${stored(k)}, expected ${vs(0)}")
      }
      // and the flag-mode view of the round-tripped file matches the original
      val back = Gdx.symbol(spark, out, "p", specialValues = "columns")
      assert(back.count() == 40)
      val origFlags = flagged.select("dim_1", "is_eps", "is_na", "is_undef")
        .collect().map(r => r.getString(0) -> (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toMap
      back.select("dim_1", "is_eps", "is_na", "is_undef").collect().foreach { r =>
        assert(origFlags(r.getString(0)) == ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))))
      }
    }
  }

  test("literal filt lowers to a pushed equality and prunes to ONE shard") {
    import spark.implicits._
    val dir = s"${tmpDir()}/pruned"
    // disable AQE for the write so the range distribution keeps 4
    // shuffle partitions → 4 shards with disjoint label ranges
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try
      (0 until 1000).map(i => (f"k$i%04d", i.toDouble)).toDF("dim_1", "value")
        .write.format("gdx").mode("overwrite").option("symbol", "s").save(dir)
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    val nShards = new java.io.File(dir).listFiles().count(_.getName.endsWith(".gdx"))
    assert(nShards > 1, s"fixture must produce multiple shards, got $nShards")

    // wrong-case literal: glob filt semantics are case-insensitive, and
    // the lower(dim_1)= form still pushes (V2 predicate translation)
    val hit = GdxFile(spark, dir).query("s", filt = "K0500")
    assert(hit.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      == Seq(("k0500", 500.0)))
    assert(hit.rdd.getNumPartitions == 1,
      "manifest label ranges must prune a literal filt to one InputPartition")

    // wildcard filt keeps the full scan (post-scan rlike, all shards)
    val glob = GdxFile(spark, dir).query("s", filt = "k05*")
    assert(glob.count() == 100)
    assert(glob.rdd.getNumPartitions == nShards)
  }

  test("multiple pushed filters on the same dim intersect (EqualTo + In)") {
    val p = writeFixture()
    // EqualTo('us') ∧ In('us','eu') → must intersect to {'us'}, not
    // last-win to {'us','eu'}
    val df = Gdx.symbol(spark, p, "p")
      .filter(col("dim_1") === "us" && col("dim_1").isin("us", "eu"))
    assert(df.count() == 2)
    val conflicting = Gdx.symbol(spark, p, "p")
      .filter(col("dim_1") === "us" && col("dim_1").isin("eu", "cn"))
    assert(conflicting.count() == 0)
  }

  test("manifest append is idempotent and shard publication leaves no temp files") {
    val dir = Files.createTempDirectory("gdx-manifest").toString
    // append verifies shard files exist before manifesting them (the
    // concurrent-overwrite guard) — publish placeholders first
    Seq("shard-a.gdx", "shard-b.gdx", "shard-c.gdx")
      .foreach(f => Files.write(java.nio.file.Paths.get(dir, f), Array[Byte](0)))
    val commits = Seq(
      graft.sources.GdxShardCommit("shard-a.gdx", 10, Some("aa"), Some("zz")),
      graft.sources.GdxShardCommit("shard-b.gdx", 5, None, None))
    graft.sources.GdxManifest.append(dir, "s", commits)
    // an epoch re-commit replays the same messages — entries must not double
    graft.sources.GdxManifest.append(dir, "s", commits)
    graft.sources.GdxManifest.append(dir, "s",
      Seq(graft.sources.GdxShardCommit("shard-c.gdx", 1, Some("m"), Some("m"))))
    val mf = new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_manifest.json")))
    assert("shard-a\\.gdx".r.findAllIn(mf).size == 1, mf)
    assert("shard-b\\.gdx".r.findAllIn(mf).size == 1, mf)
    assert("shard-c\\.gdx".r.findAllIn(mf).size == 1, mf)
    // encoder publication is atomic: after finish() only the final file
    val enc = new GdxStreamEncoder(s"$dir/shard-a.gdx", "s", SymbolType.Parameter, 1)
    enc.add(Array("x"), Array(1.0), None)
    enc.finish()
    val files = new java.io.File(dir).list().toSet
    assert(files.contains("shard-a.gdx") && !files.exists(_.contains(".inprogress")),
      s"unexpected files: $files")
    // the concurrent-overwrite guard: manifesting a shard whose file is
    // gone (deleted by a racing truncate) fails loudly, never dangles
    val boom = intercept[IllegalStateException] {
      graft.sources.GdxManifest.append(dir, "s",
        Seq(graft.sources.GdxShardCommit("shard-x.gdx", 1, None, None)))
    }
    assert(boom.getMessage.contains("shard-x.gdx"))
  }

  test("manifest entries with braces in label ranges survive an append cycle") {
    val dir = Files.createTempDirectory("gdx-manifest-brace").toString
    Seq("shard-a.gdx", "shard-b.gdx", "shard-c.gdx")
      .foreach(f => Files.write(java.nio.file.Paths.get(dir, f), Array[Byte](0)))
    graft.sources.GdxManifest.append(dir, "s", Seq(
      graft.sources.GdxShardCommit("shard-a.gdx", 3, Some("a{b"), Some("z}y"))))
    // the manifest-creating append ADOPTS the other pre-existing listed
    // shards (they were visible via the listing fallback) — all three
    // are members from the start
    val names = graft.sources.GdxManifest.files(dir).get
    assert(names.sorted == Seq("shard-a.gdx", "shard-b.gdx", "shard-c.gdx"),
      s"brace/quote labels must not break entry parsing: $names")
    graft.sources.GdxManifest.append(dir, "s", Seq(
      graft.sources.GdxShardCommit("shard-b.gdx", 1, Some("\"q\""), Some("{{"))))
    // quote/brace-laden ranges must parse back exactly, and the real
    // commit upgrades shard-b's adopted rangeless placeholder
    val ranges = graft.sources.GdxManifest.ranges(dir)
    assert(ranges.get("shard-a.gdx").contains(("a{b", "z}y")), s"got $ranges")
    assert(ranges.get("shard-b.gdx").contains(("\"q\"", "{{")), s"got $ranges")
    // a third append must preserve prior entries verbatim
    graft.sources.GdxManifest.append(dir, "s", Seq(
      graft.sources.GdxShardCommit("shard-c.gdx", 1, None, None)))
    assert(graft.sources.GdxManifest.files(dir).get.size == 3)
    assert(graft.sources.GdxManifest.ranges(dir) == ranges)
  }

  test("concurrent task attempts toward one deterministic shard never interleave") {
    val dir = Files.createTempDirectory("gdx-attempts").toString
    val fin = s"$dir/shard-e000001-00000.gdx"
    val a1 = new GdxStreamEncoder(fin, "s", SymbolType.Parameter, 1, tempTag = "-a1")
    val a2 = new GdxStreamEncoder(fin, "s", SymbolType.Parameter, 1, tempTag = "-a2")
    a1.add(Array("x"), Array(1.0), None)
    a2.add(Array("x"), Array(2.0), None)
    a2.add(Array("y"), Array(3.0), None)
    a1.finish() // loser publishes first
    a2.finish() // winner re-publishes atomically over it
    val rows = Gdx.symbol(spark, fin, "s").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows == Map("x" -> 2.0, "y" -> 3.0),
      "last completed attempt must own the shard wholesale")
    assert(!new java.io.File(dir).list().exists(_.contains(".inprogress")))
  }

  test("batch reads of a manifested dir ignore task-published but uncommitted shards") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gdx-uncommitted").toString
    Seq(("a", 1.0), ("b", 2.0)).toDF("dim_1", "value")
      .write.format("gdx").mode("overwrite").option("symbol", "s").save(dir)
    assert(Gdx.symbol(spark, dir, "s").count() == 2)
    // an in-flight epoch's task publishes a shard; the epoch never commits
    val orphan = new GdxStreamEncoder(s"$dir/shard-e000009-00000.gdx", "s",
      SymbolType.Parameter, 1, tempTag = "-a7")
    orphan.add(Array("z"), Array(9.0), None)
    orphan.finish()
    assert(Gdx.symbol(spark, dir, "s").count() == 2,
      "batch membership is the manifest, not the directory listing")
    assert(Gdx.catalog(spark, dir).filter(col("name") === "s")
      .head().getAs[Long]("records") == 2L)
  }

  test("a typo'd specialValues mode fails fast instead of silently mapping") {
    val p = writeFixture()
    val e = intercept[IllegalArgumentException] {
      spark.read.format("gdx").option("symbol", "p")
        .option("specialValues", "RAW").load(p).collect()
    }
    assert(e.getMessage.contains("specialValues"),
      s"expected the mode name in: ${e.getMessage}")
  }

  test("pushed label filter matches ALL case-duplicate UELs, not the first") {
    // the codec does not forbid a UEL table holding both 'Foo' and
    // 'FOO' (only the builders dedup); the pushed filter must match the
    // case-INSENSITIVE set — first-occurrence-wins would silently drop
    // the second row with no residual able to restore it
    val c = GdxContainer("t", Vector("Foo", "FOO"), Vector(
      GdxSymbol("p", SymbolType.Parameter, 1, records = Vector(
        GdxRecord(Array(0), Array(1.0)),
        GdxRecord(Array(1), Array(2.0))))))
    val p = s"${tmpDir()}/dup.gdx"
    GdxCodec.write(c, p)
    val got = spark.read.format("gdx").option("symbol", "p").load(p)
      .filter(lower(col("dim_1")) === "foo")
      .collect().map(_.getDouble(1)).sorted
    assert(got.toSeq == Seq(1.0, 2.0),
      s"both case-duplicates must survive the pushdown, got ${got.toSeq}")
  }

  test("one-pass label resolution admits the same UEL indices as the whole-table map, under tr") {
    // the whole-table index the resolver replaced: every UEL under both
    // its ROOT and default-locale lowercase, probed with both lowercases
    // of the label
    def viaMap(uels: IndexedSeq[String], label: String): Set[Int] = {
      val m = uels.indices.flatMap { i =>
        Seq(uels(i).toLowerCase(java.util.Locale.ROOT), uels(i).toLowerCase).distinct.map(_ -> i)
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      Seq(label.toLowerCase(java.util.Locale.ROOT), label.toLowerCase)
        .flatMap(m.getOrElse(_, Set.empty[Int])).toSet
    }
    val uels = Vector("Istanbul", "istanbul", "\u0130stanbul", "\u0131stanbul", "ISTANBUL",
      "I", "i", "\u0130", "\u0131", "Foo", "FOO", "foo", "bar", "stra\u00dfe", "STRASSE")
    val labels = Seq("istanbul", "\u0131stanbul", "i\u0307stanbul", "i", "\u0131", "I",
      "foo", "FOO", "bar", "strasse", "stra\u00dfe", "missing")
    val saved = java.util.Locale.getDefault
    try {
      for (loc <- Seq("tr", "az", "lt", "en").map(java.util.Locale.forLanguageTag)) {
        java.util.Locale.setDefault(loc)
        for (l <- labels) {
          val pushed = l.toLowerCase(java.util.Locale.ROOT)
          val got = GdxSymbolDecode.resolveLabels(uels, Seq(DimLabelFilter(0, Set(pushed))))
          assert(got == Map(0 -> viaMap(uels, pushed)), s"label '$l' under $loc")
        }
        // IN unions its labels; two filters on one dim intersect; dims
        // resolve independently
        val in = Set("istanbul", "foo")
        val got = GdxSymbolDecode.resolveLabels(uels, Seq(
          DimLabelFilter(1, in), DimLabelFilter(1, Set("foo", "bar")), DimLabelFilter(0, Set("i"))))
        assert(got == Map(
          1 -> (in.flatMap(viaMap(uels, _)) intersect Set("foo", "bar").flatMap(viaMap(uels, _))),
          0 -> viaMap(uels, "i")), s"under $loc")
      }
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
      assert(GdxSymbolDecode.resolveLabels(uels, Seq(DimLabelFilter(0, Set("\u0131stanbul"))))(0)
        .contains(uels.indexOf("ISTANBUL")), "tr lowercases ISTANBUL to the dotless form")
    } finally java.util.Locale.setDefault(saved)
  }

  test("defaultFill on a raw scan: EPS bound = explicit zero, never the type default") {
    val b = new GdxBuilder()
    // v1: lower stored as EPS — GAMS's marker for an EXPLICIT 0 bound
    // on a Free variable (plain 0.0 would read as 'unstored' = -inf)
    b.addSymbol("x", SymbolType.Variable, 1, Seq(
      (Seq("v1"), Array(3.0, 0.0, SpecialValues.EPS, 0.0, 1.0), None)),
      userInfo = VarType.Free)
    val p = s"${tmpDir()}/epsb.gdx"
    GdxCodec.write(b.result(), p)
    val row = Gdx.defaultFill(
      Gdx.symbol(spark, p, "x", specialValues = "raw"), VarType.Free)
      .select("lower", "upper").head()
    assert(row.getDouble(0) == 0.0,
      s"EPS lower bound must become literal 0.0, got ${row.getDouble(0)}")
    assert(row.getDouble(1) == Double.PositiveInfinity,
      "unstored upper keeps the Free default +inf")
  }

  test("a failed overwrite leaves the previous dataset fully intact") {
    import spark.implicits._
    val dir = tmpDir()
    Seq(("a", 1.0), ("b", 2.0)).toDF("dim_1", "value")
      .write.format("gdx").option("symbol", "s").mode("overwrite").save(dir)
    assert(Gdx.symbol(spark, dir, "s").count() == 2)
    // second overwrite fails mid-job (null label trips the writer's
    // require): the truncate must NOT have happened at job start
    intercept[Exception] {
      Seq(("c", 3.0), (null.asInstanceOf[String], 4.0)).toDF("dim_1", "value")
        .write.format("gdx").option("symbol", "s").mode("overwrite").save(dir)
    }
    val kept = Gdx.symbol(spark, dir, "s")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(kept == Map("a" -> 1.0, "b" -> 2.0),
      s"previous dataset must survive the failed overwrite, got $kept")
  }

  test("acronyms: flag columns, __acronyms__ view, flag-mode write identity, sharded table") {
    val b = new GdxBuilder()
    val hi = b.addAcronym("high", "priority high")
    b.addSymbol("p", SymbolType.Parameter, 1, Seq(
      (Seq("a"), Array(hi), None),
      (Seq("b"), Array(2.5), None),
      (Seq("c"), Array(SpecialValues.NA), None)))
    val p = s"${tmpDir()}/acr.gdx"
    GdxCodec.write(b.result(), p)

    // acronym table view
    val at = Gdx.acronyms(spark, p).collect()
    assert(at.map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq ==
      Seq((10, "high", "priority high")))

    // flag columns: acronym row NaN-valued, flagged, index carried;
    // NA row flagged is_na with acr_index 0
    val flags = Gdx.symbol(spark, p, "p", specialValues = "columns")
      .select("dim_1", "value", "is_na", "is_acronym", "acr_index")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getBoolean(2),
        r.getBoolean(3), r.getInt(4))).sortBy(_._1)
    assert(flags(0)._1 == "a" && flags(0)._2.isNaN && !flags(0)._3 &&
      flags(0)._4 && flags(0)._5 == 10)
    assert(flags(1) == ("b", 2.5, false, false, 0))
    assert(flags(2)._1 == "c" && flags(2)._3 && !flags(2)._4 && flags(2)._5 == 0)

    // flag-mode read → sharded write (with the acronyms option) → raw
    // read: the sentinel and the table both survive
    val dir = tmpDir()
    Gdx.symbol(spark, p, "p", specialValues = "columns")
      .write.format("gdx").mode("overwrite")
      .option("symbol", "p").option("symbolType", "parameter")
      .option("acronyms", "10:high:priority high")
      .save(dir)
    val raw = Gdx.symbol(spark, dir, "p", specialValues = "raw")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(raw("a") == hi && raw("b") == 2.5 && raw("c") == SpecialValues.NA)
    assert(Gdx.acronyms(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((10, "high")))
  }

  test("acronyms option: escape round-trip for any text, duplicate indices rejected, flag without index fails fast") {
    // escape/parse are inverses on adversarial names/texts (commas,
    // colons, backslashes, backslash-before-separator)
    val nasty = Vector(
      GdxAcronym(10, "high", "priority: high, urgent"),
      GdxAcronym(11, "lo\\w", "ends with backslash\\"),
      GdxAcronym(12, "x", "a\\,b:c"))
    assert(GdxWriteLayout.parseAcronyms(GdxWriteLayout.escapeAcronyms(nasty)) === nasty)
    // duplicate indices rejected at parse, before any shard is stamped
    val e = intercept[IllegalArgumentException](
      GdxWriteLayout.parseAcronyms("10:high,10:low"))
    assert(e.getMessage.contains("duplicate acronym indices"))
    // empty index token is a clear parse error, not a NumberFormatException
    val e2 = intercept[IllegalArgumentException](
      GdxWriteLayout.parseAcronyms(":name"))
    assert(e2.getMessage.contains("bad acronyms entry"))
    // is_acronym without a usable acr_index column: plan-time failure,
    // never a silent NA rewrite (e.g. arithmetic widened the index to LONG)
    import spark.implicits._
    val widened = Seq(("a", 0.0, true, 10L)).toDF("dim_1", "value", "is_acronym", "acr_index")
    val e3 = intercept[Exception] {
      widened.write.format("gdx").mode("overwrite")
        .option("symbol", "p").option("symbolType", "parameter")
        .save(tmpDir())
    }
    assert(e3.getMessage.contains("acr_index"), s"got: ${e3.getMessage}")
  }

  test("merge carries acronym texts with metacharacters losslessly") {
    val t = tmpDir()
    val b = new GdxBuilder()
    val hi = b.addAcronym("high", "priority: high, urgent")
    b.addSymbol("p", SymbolType.Parameter, 1, Seq((Seq("x"), Array(hi), None)))
    GdxCodec.write(b.result(), s"$t/a.gdx")
    Gdx.merge(spark, Seq(s"$t/a.gdx"), s"$t/out")
    val acr = Gdx.acronyms(spark, s"$t/out/p").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    assert(acr.toSeq === Seq((10, "high", "priority: high, urgent")))
  }

  test("pushed dim_1 label slice skips blocks through the connector (decode counter drops)") {
    // 2000 sorted records, default write path (range-sorted), tiny
    // blocks forced via a direct stream-encoder shard so the connector
    // scan exercises the v2 block index
    val dir = tmpDir()
    val enc = new GdxStreamEncoder(s"$dir/shard-00000-0.gdx", "p",
      SymbolType.Parameter, 1, blockSize = 64)
    (0 until 2000).foreach(i => enc.add(Array(f"k$i%04d"), Array(i.toDouble), None))
    enc.finish()
    def decodedDelta(body: => Unit): Long = {
      val before = GdxCodec.decodedRecords.sum()
      body
      GdxCodec.decodedRecords.sum() - before
    }
    val full = decodedDelta {
      assert(Gdx.symbol(spark, dir, "p").count() == 2000)
    }
    assert(full >= 2000, s"unfiltered scan decoded $full")
    val sliced = decodedDelta {
      val got = Gdx.symbol(spark, dir, "p")
        .filter(lower(col("dim_1")) === "k1500").collect()
      assert(got.length == 1 && got.head.getDouble(1) == 1500.0)
    }
    assert(sliced <= 64, s"pushed slice decoded $sliced records; block skip did not fire")
  }

  test("first manifest-creating append adopts pre-existing listed shards") {
    import spark.implicits._
    val dir = tmpDir()
    // hand-assembled dataset: a shard with NO manifest — readers see it
    // via the listing fallback
    val b = new GdxBuilder()
    b.addSymbol("s", SymbolType.Parameter, 1,
      Seq((Seq("old1"), Array(1.0), None), (Seq("old2"), Array(2.0), None)))
    GdxCodec.write(b.result(), s"$dir/shard-pre.gdx")
    assert(Gdx.symbol(spark, dir, "s").count() == 2)
    // the first append CREATES the manifest; the pre-existing shard's
    // rows must survive the membership flip from listing to manifest
    Seq(("new1", 3.0)).toDF("dim_1", "value")
      .write.format("gdx").mode("append").option("symbol", "s").save(dir)
    val names = GdxManifest.files(dir).getOrElse(Nil)
    assert(names.contains("shard-pre.gdx"),
      s"pre-existing shard missing from created manifest: $names")
    val back = Gdx.symbol(spark, dir, "s").orderBy("dim_1").collect()
    assert(back.map(_.getString(0)).toSeq === Seq("new1", "old1", "old2"),
      "pre-existing rows were unpublished by the manifest-creating append")
  }

  test("manifest-creating append adopts a stray non-GDX *.gdx with records:0") {
    import spark.implicits._
    val dir = tmpDir()
    // a non-GDX file wearing the extension: readHeader throws
    // IllegalArgumentException (bad magic), not IOException — adoption
    // must still proceed with records:0 instead of failing the commit
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir.toString, "junk.gdx"),
      "not a gdx file at all".getBytes("UTF-8"))
    val b = new graft.gdx.GdxBuilder()
    b.addSymbol("s", graft.gdx.SymbolType.Parameter, 1,
      Seq((Seq("old1"), Array(1.0), None)))
    graft.gdx.GdxCodec.write(b.result(), s"$dir/shard-pre.gdx")
    Seq(("new1", 3.0)).toDF("dim_1", "value")
      .write.format("gdx").mode("append").option("symbol", "s").save(dir.toString)
    val names = GdxManifest.files(dir.toString).getOrElse(Nil)
    assert(names.contains("junk.gdx") && names.contains("shard-pre.gdx"),
      s"adoption dropped a listed file: $names")
  }

  test("sharded acronym tables disagreeing on an index fail loudly") {
    val dir = tmpDir()
    def shard(n: String, acr: graft.gdx.GdxAcronym): Unit = {
      val b = new graft.gdx.GdxBuilder()
      b.addSymbol("p", graft.gdx.SymbolType.Parameter, 1,
        Seq((Seq(n), Array(graft.gdx.SpecialValues.acronymValue(10)), None)))
      graft.gdx.GdxCodec.write(b.result().copy(acronyms = Vector(acr)),
        s"$dir/$n.gdx")
    }
    shard("a", graft.gdx.GdxAcronym(10, "high", ""))
    shard("b", graft.gdx.GdxAcronym(10, "low", ""))
    // first-appearance-wins would silently rename shard b's sentinels;
    // the reader must reject the disagreement (same contract as merge)
    val e = intercept[Exception] {
      graft.gdx.Gdx.acronyms(spark, dir.toString).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("acronym index 10")), s"unexpected failure: $e")
  }

  test("acronym tables differing only in case/text stay readable (merge parity)") {
    val dir = tmpDir()
    def shard(n: String, acr: graft.gdx.GdxAcronym): Unit = {
      val b = new graft.gdx.GdxBuilder()
      b.addSymbol("p", graft.gdx.SymbolType.Parameter, 1,
        Seq((Seq(n), Array(graft.gdx.SpecialValues.acronymValue(10)), None)))
      graft.gdx.GdxCodec.write(b.result().copy(acronyms = Vector(acr)),
        s"$dir/$n.gdx")
    }
    // Gdx.merge accepts name matches case-insensitively and ignores
    // text — the reader must enforce the SAME contract, so a mergeable
    // hand-assembled dir is never unreadable through the acronyms view
    shard("a", graft.gdx.GdxAcronym(10, "EPS", "machine epsilon"))
    shard("b", graft.gdx.GdxAcronym(10, "eps", "eps sentinel"))
    val rows = graft.gdx.Gdx.acronyms(spark, dir.toString).collect()
    assert(rows.length == 1 && rows.head.getInt(0) == 10)
    // deterministic pick: first shard in sorted path order (a before b)
    assert(rows.head.getString(1) == "EPS")
  }

  test("domainCheck=enforce: violation aborts the write, clean labels pass") {
    import spark.implicits._
    val dir = tmpDir()
    val b = new graft.gdx.GdxBuilder()
    b.addSymbol("r", graft.gdx.SymbolType.Set, 1,
      Seq("AFRICA", "EUROPE").map(l => (Seq(l), Array.empty[Double], None)))
    graft.gdx.GdxCodec.write(b.result(), s"$dir/doms.gdx")
    def write(rows: Seq[(String, Double)], out: String): Unit =
      rows.toDF("dim_1", "value").write.format("gdx").mode("overwrite")
        .option("symbol", "p").option("domains", "r")
        .option("domainCheck", "enforce")
        .option("domainSource", s"$dir/doms.gdx")
        .save(out)
    // pass: membership is case-insensitive (GAMS UEL semantics)
    write(Seq("africa" -> 1.0, "EUROPE" -> 2.0), s"$dir/ok")
    assert(graft.gdx.Gdx.symbol(spark, s"$dir/ok", "p").count() == 2)
    // the written symbol meta records the controlling set name
    val shard = new java.io.File(s"$dir/ok").listFiles(
      (_, n) => n.endsWith(".gdx")).head
    assert(graft.gdx.GdxCodec.readHeader(shard.getPath)
      .metas.head.domains == Seq("r"))
    // reject: out-of-domain label fails the job before anything commits
    val e = intercept[Exception](
      write(Seq("africa" -> 1.0, "ATLANTIS" -> 3.0), s"$dir/bad"))
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("not a member")), s"unexpected failure: $e")
    val leftover = Option(new java.io.File(s"$dir/bad").listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".gdx"))
    assert(leftover.isEmpty,
      s"aborted write left shards: ${leftover.map(_.getName).mkString(",")}")
    // misconfiguration fails at plan time, not silently
    val e2 = intercept[Exception](
      Seq("x" -> 1.0).toDF("dim_1", "value").write.format("gdx")
        .mode("overwrite")
        .option("symbol", "p").option("domainCheck", "enforce")
        .option("domainSource", s"$dir/doms.gdx").save(s"$dir/noconf"))
    assert(causes(e2).exists(c => c.getMessage != null &&
      c.getMessage.contains("domains")))
  }

  test("empty append neither creates nor rewrites a manifest") {
    val dir = tmpDir()
    val b = new GdxBuilder()
    b.addSymbol("s", SymbolType.Parameter, 1, Seq((Seq("x"), Array(1.0), None)))
    GdxCodec.write(b.result(), s"$dir/shard-pre.gdx")
    // an idle streaming epoch commits zero shards: membership must stay
    // on the listing fallback (an empty manifest would hide shard-pre)
    GdxManifest.append(dir, "s", Nil)
    assert(!new java.io.File(dir, "_manifest.json").isFile,
      "empty append created a manifest and hid the listed shard")
    assert(Gdx.symbol(spark, dir, "s").count() == 1)
  }

  test("streaming scan resolves the default symbol once, not per shard") {
    // two hand-assembled shards whose FIRST symbols differ: per-shard
    // resolution would decode q in shard-b under p's schema
    val dir = tmpDir()
    val b1 = new GdxBuilder()
    b1.addSymbol("p", SymbolType.Parameter, 1, Seq((Seq("x"), Array(1.0), None)))
    GdxCodec.write(b1.result(), s"$dir/shard-a.gdx")
    val b2 = new GdxBuilder()
    b2.addSymbol("q", SymbolType.Parameter, 2,
      Seq((Seq("y", "z"), Array(2.0), None)))
    b2.addSymbol("p", SymbolType.Parameter, 1, Seq((Seq("w"), Array(3.0), None)))
    GdxCodec.write(b2.result(), s"$dir/shard-b.gdx")
    val schema = GdxTable.schemaOf(
      GdxCodec.SymbolMeta("p", SymbolType.Parameter, 1, "", 0, Seq("*"), 0, 0L, 0),
      flagCols = false)
    val stream = new GdxMicroBatchStream(dir, "", schema, schema, Nil)
    val parts = stream.planInputPartitions(
      GdxShardOffset(Nil), stream.latestOffset())
      .collect { case p: GdxInputPartition => p }
    assert(parts.length == 2)
    assert(parts.map(_.symbol).toSet.size == 1,
      s"per-shard symbol resolution: ${parts.map(p => s"${p.shardPath}->${p.symbol}").mkString(", ")}")
    assert(parts.head.symbol == "p")
  }

  test("offset scheme change mid-stream fails loudly, not with a ClassCastException") {
    val dir = tmpDir()
    val b = new GdxBuilder()
    b.addSymbol("p", SymbolType.Parameter, 1, Seq((Seq("x"), Array(1.0), None)))
    GdxCodec.write(b.result(), s"$dir/shard-a.gdx")
    val schema = GdxTable.schemaOf(
      GdxCodec.SymbolMeta("p", SymbolType.Parameter, 1, "", 0, Seq("*"), 0, 0L, 0),
      flagCols = false)
    // checkpoint written under committedOnly=true (manifest offset),
    // restarted with the option dropped (name-set end offset)
    val stream = new GdxMicroBatchStream(dir, "p", schema, schema, Nil)
    val e = intercept[IllegalStateException] {
      stream.planInputPartitions(GdxManifestOffset(0), GdxShardOffset(Seq("shard-a.gdx")))
    }
    assert(e.getMessage.contains("offset scheme changed"), s"got: ${e.getMessage}")
  }

  test("option vectorized=false returns the columnar path's rows, in order, for every symbol type and mode") {
    // two shards holding a set with texts, a parameter carrying EPS, NA,
    // UNDEF and an acronym, a variable and an equation; both shards hold
    // every label, so each pushed filter keeps rows in both
    val dir = tmpDir()
    for (k <- 0 until 2) {
      val b = new GdxBuilder()
      val acr = b.addAcronym("high")
      val specials = Vector(1.5 + k, SpecialValues.EPS, SpecialValues.NA, SpecialValues.UNDEF, acr, -2.0, 0.0)
      val keys = for (d1 <- Seq("a", "b", "c"); d2 <- Seq("x", "y", "z")) yield Seq(d1, d2)
      val kept = keys.zipWithIndex.filter { case (_, i) => (i + k) % 4 != 3 }
      def vals(i: Int, n: Int) = Array.tabulate(n)(f => specials((i + f) % specials.length))
      b.addSymbol("s", SymbolType.Set, 2, kept.map { case (ls, i) =>
        (ls, Array.empty[Double], if (i % 2 == 0) Some(s"text $k.$i") else None) })
      b.addSymbol("p", SymbolType.Parameter, 2, kept.map { case (ls, i) => (ls, vals(i, 1), None) })
      b.addSymbol("v", SymbolType.Variable, 2, kept.map { case (ls, i) => (ls, vals(i + k, 5), None) })
      b.addSymbol("e", SymbolType.Equation, 2, kept.map { case (ls, i) => (ls, vals(i + 2, 5), None) })
      GdxCodec.write(b.result(), s"$dir/shard-$k.gdx")
    }
    // always true, but nondeterministic: a conjunct of the pushed label's
    // own filter, it keeps the slice on the task-side path instead of
    // the driver venue
    val inTasks = rand() * 0.5 < 0.5
    val filters: Seq[(String, Option[Column])] = Seq(
      "none" -> None,
      "dim_1 =" -> Some(col("dim_1") === "b"),
      "dim_2 IN" -> Some(col("dim_2").isin("x", "z")))
    for (sym <- Seq("s", "p", "v", "e"); mode <- Seq("map", "columns", "raw");
        (fname, filter) <- filters) {
      def read(vectorized: Boolean): DataFrame = {
        val df = spark.read.format("gdx").option("symbol", sym).option("specialValues", mode)
          .option("vectorized", vectorized.toString).load(dir)
        filter.fold(df)(c => df.filter(c && inTasks))
      }
      val full = read(vectorized = true)
      val pruned = Seq("marginal", "is_na").filter(full.columns.contains)
      for ((proj, cols) <- Seq("full" -> full.columns.toSeq, "pruned" -> pruned)) {
        val rowDf = read(vectorized = false).select(cols.map(col): _*)
        val want = read(vectorized = true).select(cols.map(col): _*).collect().map(_.toString).toSeq
        val got = rowDf.collect().map(_.toString).toSeq
        val what = s"$sym/$mode/$fname/$proj"
        assert(want.nonEmpty, s"fixture: $what selects nothing")
        assert(got == want, what)
        val plan = rowDf.queryExecution.executedPlan
        assert(plan.collectFirst { case _: GdxDriverScanExec => () }.isEmpty, s"$what ran on the driver")
        assert(plan.toString.contains("pushed=dim_") == filter.isDefined, s"$what: pushed filters")
      }
    }
  }
}
