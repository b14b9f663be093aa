package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gdx._

/** The driver venue ([[GdxDriverScan]]): a small pushed-label scan runs
  * on the driver with no Spark job and returns the rows the same filter
  * gives over the source, whatever action consumes it; every other scan
  * keeps its jobs.
  */
class GdxDriverScanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.build("local[4]", "4")

  private def tmpDir(): String = Files.createTempDirectory("gdx-driver").toString

  /** The value of `body` and the Spark jobs it started, counted once the
    * listener bus has delivered every event.
    */
  private def withJobs[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val a = body
      TestListenerBus.drain(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def rowsOf(rows: Array[Row]): Seq[String] = rows.map(_.toString).sorted.toSeq

  /** Write `df` as a sharded dataset: AQE off, so the range distribution
    * keeps `shards` shuffle partitions, one shard each.
    */
  private def writeSharded(df: DataFrame, shards: Int): String = {
    val dir = s"${tmpDir()}/p"
    val saved = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
      .map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", shards.toString)
    try df.write.format("gdx").mode("overwrite").option("symbol", "p").save(dir)
    finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
    dir
  }

  // 1000 records: r000..r099 × c0..c9, in 4 shards
  private lazy val smallSrc: DataFrame = spark.range(1000).select(
    format_string("r%03d", (col("id") / 10).cast("int")).as("dim_1"),
    concat(lit("c"), (col("id") % 10).cast("string")).as("dim_2"),
    col("id").cast("double").as("value"))
  private lazy val small: String = writeSharded(smallSrc, 4)

  // 280,000 records in one shard, over the per-shard budget: every
  // 4096-record block holds every dim_2 label
  private lazy val bigSrc: DataFrame = spark.range(280000).select(
    format_string("b%05d", (col("id") / 10).cast("int")).as("dim_1"),
    concat(lit("c"), (col("id") % 40).cast("string")).as("dim_2"),
    col("id").cast("double").as("value"))
  private lazy val big: String = writeSharded(bigSrc, 1)

  // 70,000 records in 4 shards, each under the per-shard budget: every
  // 4096-record block holds every dim_2 label
  private lazy val wideSrc: DataFrame = spark.range(70000).select(
    format_string("w%05d", (col("id") / 10).cast("int")).as("dim_1"),
    concat(lit("c"), (col("id") % 10).cast("string")).as("dim_2"),
    col("id").cast("double").as("value"))
  private lazy val wide: String = writeSharded(wideSrc, 4)

  /** `slice` runs no job and returns the rows of `cond` over `source`. */
  private def assertDriverSlice(slice: => DataFrame, source: DataFrame, cond: Column): Unit = {
    val want = rowsOf(source.filter(cond).collect())
    assert(want.nonEmpty, s"fixture: $cond selects nothing")
    val (got, jobs) = withJobs(slice.collect())
    assert(jobs == 0, s"$cond ran $jobs jobs")
    assert(rowsOf(got) == want, s"$cond")
  }

  /** `df` plans a distributed GDX scan and no driver scan. */
  private def assertJobOnly(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan
    assert(plan.find(_.isInstanceOf[GdxDriverScanExec]).isEmpty, s"driver scan planned:\n$plan")
    assert(plan.find(_.isInstanceOf[BatchScanExec]).nonEmpty, s"no BatchScan:\n$plan")
  }

  /** The GDX scan `df` plans. */
  private def gdxScanOf(df: DataFrame): GdxScan =
    df.queryExecution.optimizedPlan.collectFirst { case r: DataSourceV2ScanRelation => r.scan }
      .get.asInstanceOf[GdxScan]

  /** A local frame holding `df`'s rows, for filters evaluated by Spark
    * over the same data without the GDX reader.
    */
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)

  test("an under-budget pushed slice runs no job; over budget, past defaultParallelism or with rand() it still does") {
    (small, big) // written before any job is counted
    val label = lower(col("dim_1")) === "b00123"
    val (slice, sliceJobs) = withJobs(GdxFile(spark, big).query("p", filt = "B00123").collect())
    assert(sliceJobs == 0)
    assert(rowsOf(slice) == rowsOf(bigSrc.filter(label).collect()) && slice.length == 10)

    // c3 recurs in every block of the one shard: 280,000 records kept
    val recurring = col("dim_2") === "c3"
    val (over, overJobs) = withJobs(Gdx.symbol(spark, big, "p").filter(recurring).collect())
    assert(overJobs > 0)
    assert(rowsOf(over) == rowsOf(bigSrc.filter(recurring).collect()) && over.length == 7000)

    // always true, but not a bare rand() comparison the optimizer folds;
    // the slice under it is read by the job, not decoded on the driver
    // first and then filtered by a job over the decoded rows
    val rndSlice = GdxFile(spark, big).query("p", filt = "B00123").filter(rand() * 0.5 < 0.5)
    assertJobOnly(rndSlice)
    val (rnd, rndJobs) = withJobs(rndSlice.collect())
    assert(rndJobs > 0)
    assert(rowsOf(rnd) == rowsOf(slice))
    // the same, with rand() a conjunct of the pushed label's own filter
    val mixedSlice = Gdx.symbol(spark, big, "p")
      .filter(lower(col("dim_1")) === "b00123" && rand() * 0.5 < 0.5)
    assertJobOnly(mixedSlice)
    val (mixed, mixedJobs) = withJobs(mixedSlice.collect())
    assert(mixedJobs > 0)
    assert(rowsOf(mixed) == rowsOf(slice))

    // a dim_2 slice plans every shard: more than defaultParallelism here
    val many = writeSharded(smallSrc, spark.sparkContext.defaultParallelism * 2)
    val planned = Gdx.symbol(spark, many, "p").filter(col("dim_2") === "c3")
    assert(planned.rdd.getNumPartitions > spark.sparkContext.defaultParallelism)
    val (wide, wideJobs) = withJobs(planned.collect())
    assert(wideJobs > 0)
    assert(rowsOf(wide) == rowsOf(smallSrc.filter(col("dim_2") === "c3").collect()))
  }

  test("driver-run slices return the rows of the same filter over the source frame") {
    small
    assertDriverSlice(GdxFile(spark, small).query("p", filt = "R007"),
      smallSrc.select("dim_1", "dim_2", "value"), lower(col("dim_1")) === "r007")
    assertDriverSlice(Gdx.symbol(spark, small, "p").filter(col("dim_2") === "c3"),
      smallSrc, col("dim_2") === "c3")
    val in = col("dim_1").isin("r001", "r050", "r099", "absent")
    assertDriverSlice(Gdx.symbol(spark, small, "p").filter(in), smallSrc, in)

    // special values, lossless flag columns and raw sentinels
    val b = new GdxBuilder()
    val hi = b.addAcronym("high", "")
    b.addSymbol("q", SymbolType.Parameter, 1, Seq(
      (Seq("a"), Array(SpecialValues.EPS), None), (Seq("b"), Array(SpecialValues.NA), None),
      (Seq("c"), Array(SpecialValues.UNDEF), None), (Seq("d"), Array(hi), None),
      (Seq("e"), Array(2.5), None)))
    b.addSymbol("s", SymbolType.Set, 1, Seq(
      (Seq("us"), Array.empty[Double], Some("United States")),
      (Seq("eu"), Array.empty[Double], None)))
    b.addSymbol("x", SymbolType.Variable, 1, Seq(
      (Seq("a"), Array(1.0, -0.5, 0.0, 10.0, 1.0), None),
      (Seq("b"), Array(2.0, 0.25, 0.0, 10.0, 1.0), None)))
    val p = s"${tmpDir()}/special.gdx"
    GdxCodec.write(b.result(), p)
    val abcd = col("dim_1").isin("a", "b", "c", "d")
    for (mode <- Seq("columns", "raw"))
      assertDriverSlice(Gdx.symbol(spark, p, "q", specialValues = mode).filter(abcd),
        local(Gdx.symbol(spark, p, "q", specialValues = mode)), abcd)
    assertDriverSlice(Gdx.symbol(spark, p, "s").filter(col("dim_1") === "us"),
      local(Gdx.symbol(spark, p, "s")), col("dim_1") === "us")
    assertDriverSlice(GdxFile(spark, p).query("x", field = "marginal", filt = "A"),
      local(GdxFile(spark, p).query("x", field = "marginal")), lower(col("dim_1")) === "a")
  }

  test("case-duplicate UELs under a tr default locale: the driver slice keeps Spark's semantics") {
    val uels = Vector("Istanbul", "ISTANBUL", "istanbul", "İstanbul", "ıstanbul", "other")
    val c = GdxContainer("t", uels, Vector(GdxSymbol("p", SymbolType.Parameter, 1,
      records = uels.indices.toVector.map(i => GdxRecord(Array(i), Array(i.toDouble))))))
    val p = s"${tmpDir()}/dup.gdx"
    GdxCodec.write(c, p)
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
      val source = local(Gdx.symbol(spark, p, "p"))
      for (label <- Seq("istanbul", "ıstanbul", "ISTANBUL")) {
        assertDriverSlice(GdxFile(spark, p).query("p", filt = label), source,
          lower(col("dim_1")) === label.toLowerCase(java.util.Locale.ROOT))
        assertDriverSlice(Gdx.symbol(spark, p, "p").filter(col("dim_1") === label),
          source, col("dim_1") === label)
      }
    } finally java.util.Locale.setDefault(saved)
  }

  test("count, take, tail, first, isEmpty and getNumPartitions agree with the planned partitions") {
    small
    val labels = Seq("r001", "r098")
    val planned = GdxManifest.ranges(small).values
      .count { case (lo, hi) => labels.exists(l => l >= lo && l <= hi) }
    assert(planned >= 2, s"fixture: the labels must lie in different shards, $planned planned")
    val df = Gdx.symbol(spark, small, "p").filter(col("dim_1").isin(labels: _*))
    val want = rowsOf(smallSrc.filter(col("dim_1").isin(labels: _*)).collect())
    val all = rowsOf(df.collect())
    assert(all == want && want.length == 20)
    assert(df.rdd.getNumPartitions == planned)
    assert(df.count() == 20)
    val (taken, takeJobs) = withJobs(df.take(3))
    assert(takeJobs == 0 && taken.length == 3 && rowsOf(taken).forall(want.contains))
    val (tail, tailJobs) = withJobs(df.tail(2))
    assert(tailJobs == 0 && tail.toSeq == df.collect().toSeq.takeRight(2))
    val (first, firstJobs) = withJobs(df.first())
    assert(firstJobs == 0 && want.contains(first.toString))
    // isEmpty takes through a limit node over the driver scan's rows
    val (empty, emptyJobs) = withJobs(df.isEmpty)
    assert(!empty && emptyJobs == 0)

    // a label outside every shard's range plans no partition at all
    val none = Gdx.symbol(spark, small, "p").filter(col("dim_1") === "zzz")
    val (noRows, noJobs) = withJobs(none.collect())
    assert(noJobs == 0 && noRows.isEmpty)
    val (noneEmpty, noneEmptyJobs) = withJobs(none.isEmpty)
    assert(noneEmpty && noneEmptyJobs == 0)
    assert(none.count() == 0 && none.rdd.getNumPartitions == 0)
  }

  test("a recurring-label slice over shards each under the budget runs no job, rows in shard order") {
    wide
    val c3 = col("dim_2") === "c3"
    val shards = GdxTable.committedShardsOf(wide)
    assert(shards.length == 4 && shards.length <= spark.sparkContext.defaultParallelism)
    // one thread decoding the shards in turn, in their stored order
    val want = shards.flatMap { s =>
      val h = GdxCodec.readHeader(s)
      GdxCodec.readSymbolRecords(s, h, h.metas.head).map(r => r.keys.toSeq.map(h.uels(_)) :+ r.values(0))
        .filter(_(1) == "c3").map(Row.fromSeq(_).toString)
    }
    val declared = GdxManifest.entries(wide).get.flatMap(_.records)
    assert(declared.length == 4 && declared.forall(_ <= GdxScan.DriverBudget) && declared.sum > 65536,
      s"fixture: more than 65,536 records in all, each shard under the budget: $declared")
    assertDriverSlice(Gdx.symbol(spark, wide, "p").filter(c3), wideSrc, c3)
    val (got, jobs) = withJobs(Gdx.symbol(spark, wide, "p").filter(c3).collect())
    assert(jobs == 0 && got.map(_.toString).toSeq == want)
  }

  test("a damaged second shard fails the driver slice at planning with its IOException; no descriptor leaks") {
    val fds = new java.io.File("/proc/self/fd")
    assume(fds.isDirectory, "needs /proc/self/fd")
    val c3 = col("dim_2") === "c3"
    for ((damage, cut) <- Seq("truncated" -> true, "block flipped" -> false)) {
      val dir = writeSharded(smallSrc, 4)
      val second = Paths.get(GdxTable.committedShardsOf(dir)(1))
      val bytes = Files.readAllBytes(second)
      // a cut section fails as its core opens; a flip in the last block's
      // LZ4 bytes fails its checksum as a pool thread decodes it
      if (cut) Files.write(second, java.util.Arrays.copyOf(bytes, bytes.length * 2 / 3))
      else { bytes(bytes.length - 1) = (bytes(bytes.length - 1) ^ 0x01).toByte; Files.write(second, bytes) }
      def plan(): java.io.IOException =
        intercept[java.io.IOException](Gdx.symbol(spark, dir, "p").filter(c3).queryExecution.executedPlan)
      val first = plan()
      assert(first.getMessage.contains(second.toString), s"$damage: ${first.getMessage}")
      val before = fds.list().length
      for (_ <- 1 to 10) plan()
      val after = fds.list().length
      assert(after <= before, s"$damage: $before descriptors before 10 failed slices, $after after")
    }
  }

  test("a slice planning more shards than the driver has cores keeps the distributed path") {
    val cores = Runtime.getRuntime.availableProcessors
    // a cluster's defaultParallelism counts every executor core
    assert(GdxDriverScan.maxShards(cores * 64) == cores)
    assert(GdxDriverScan.maxShards(1) == 1)
    val dir = writeSharded(smallSrc, cores + 1)
    val scan = gdxScanOf(Gdx.symbol(spark, dir, "p").filter(col("dim_2") === "c3"))
    assert(scan.planInputPartitions().length > cores)
    assert(scan.driverCores(GdxDriverScan.maxShards(cores * 64)).isEmpty)
  }

  test("an over-budget slice checks its budget once per plan") {
    val dir = s"${tmpDir()}/p"
    Files.createDirectories(Paths.get(dir))
    Files.list(Paths.get(big)).iterator.asScala.foreach(f => Files.copy(f, Paths.get(dir).resolve(f.getFileName)))
    val scan = gdxScanOf(Gdx.symbol(spark, dir, "p").filter(col("dim_2") === "c3"))
    assert(scan.driverCores(4).isEmpty)
    // a second check would fail opening the emptied shard
    GdxTable.committedShardsOf(dir).foreach(s => Files.write(Paths.get(s), Array.emptyByteArray))
    assert(scan.driverCores(4).isEmpty)
  }

  test("explain still names GdxScan and the pushed filter") {
    val slice = GdxFile(spark, small).query("p", filt = "R007")
    val plan = slice.queryExecution.executedPlan.toString
    assert(plan.contains("GdxDriverScan") && plan.contains("GdxScan(") &&
      plan.contains("dim_1 IN {r007}") && plan.contains("records decoded"), plan)
    val over = Gdx.symbol(spark, big, "p").filter(col("dim_2") === "c3")
    val distributed = over.queryExecution.executedPlan.toString
    assert(!distributed.contains("GdxDriverScan") && distributed.contains("GdxScan(") &&
      distributed.contains("dim_2 IN {c3}"), distributed)
  }
}
