package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.gdx.{GdxCodec, GdxFile, GdxStreamEncoder, SymbolType}
import graft.sources.GdxManifest

/** gdx_io: the paper's own path. Each pass writes both generated symbols
  * with the sharded DSv2 writer, scans each in full on the columnar and
  * the row path, then issues the seeded sequence of label slices.
  */
final class GdxWorkload(h: Harness, seed: Long, cfg: GdxWorkload.Config, work: File)
    extends Workload {
  import GdxWorkload._

  private val spark = h.spark
  private val syms = Seq(GdxGen.parameter(cfg.parRecords), GdxGen.variable(cfg.varRecords))
  private def src(s: GdxGen.Sym) = new File(work, s"src/${s.name}.parquet").getPath
  private def gdx(s: GdxGen.Sym) = new File(work, s"gdx/${s.name}").getPath

  /** One label slice: on dim_1 (through GdxFile.query's filt) or on dim_2. */
  final case class Slice(dim: Int, sym: GdxGen.Sym, label: String) {
    def frame: DataFrame =
      if (dim == 1) GdxFile(spark, gdx(sym)).query(sym.name, filt = label)
      else GdxFile(spark, gdx(sym)).query(sym.name).filter(col("dim_2") === label)
  }

  private val slices: IndexedSeq[Slice] = {
    val rnd = new scala.util.Random(seed)
    IndexedSeq.tabulate(cfg.slices) { i =>
      val s = syms(rnd.nextInt(syms.length))
      val g = rnd.nextInt(s.groups).toLong
      val j = rnd.nextInt(GdxGen.GlobalLabels)
      if (i % 2 == 0) Slice(1, s, GdxGen.dim1(s, g))
      else if (i % 4 == 1) Slice(2, s, GdxGen.localLabel(g, j))
      else Slice(2, s, GdxGen.globalLabel(j))
    }
  }
  /** Expected (rows, row checksum) of each slice, from the parquet source. */
  private val expected = mutable.HashMap.empty[Slice, (Long, Long)]
  /** Codec records decoded by each traced slice. */
  private val decodedBy = mutable.HashMap.empty[String, Long]

  private def write(s: GdxGen.Sym)(df: DataFrame): Unit =
    df.write.format("gdx").mode("overwrite").option("symbol", s.name).save(gdx(s))

  private def scan(s: GdxGen.Sym, columnar: Boolean): DataFrame =
    spark.read.format("gdx").option("symbol", s.name)
      .option("vectorized", columnar.toString).load(gdx(s))

  /** A slice's collected rows must equal the same filter applied to the
    * source: same count, same order-independent row checksum.
    */
  private def sliceMatches(sl: Slice)(out: Any): Boolean = {
    val rows = out.asInstanceOf[Array[Row]]
    val got = (rows.length.toLong, rows.iterator.map(rowSum).sum)
    if (got != expected(sl))
      System.err.println(s"[perfbench] slice dim_${sl.dim}=${sl.label} of ${sl.sym.name}: " +
        s"got $got, expected ${expected(sl)}")
    got == expected(sl)
  }

  private def sliceCols(s: GdxGen.Sym, df: DataFrame): DataFrame =
    df.select(col("dim_1"), col("dim_2"), col("dim_3"), col(s.valueField).as("value"))

  def setup(): Unit = {
    syms.foreach(s => GdxGen.frame(spark, s, seed, 4).write.mode("overwrite").parquet(src(s)))
    val srcSum = syms.map(s => s -> checksum(spark.read.parquet(src(s)))).toMap
    syms.foreach(s => h.attempt(s"source ${s.name} has ${s.records} records") {
      srcSum(s)._1 == s.records
    })
    // expected slice results, one grouped query per (symbol, dimension)
    for (s <- syms; dim <- Seq(1, 2)) {
      val mine = slices.filter(sl => sl.sym == s && sl.dim == dim)
      if (mine.nonEmpty) {
        val key = s"dim_$dim"
        val got = sliceCols(s, spark.read.parquet(src(s)))
          .where(col(key).isin(mine.map(_.label).distinct: _*))
          .rdd.map(r => r.getString(dim - 1) -> ((1L, rowSum(r))))
          .reduceByKey((x, y) => (x._1 + y._1, x._2 + y._2)).collectAsMap()
        mine.foreach(sl => expected(sl) = got.getOrElse(sl.label, (0L, 0L)))
      }
    }
    // decoded must equal encoded, on both scan paths; slices are checked
    // as they run, in every pass, and the first few of each kind warm
    // their paths here
    syms.foreach { s =>
      h.attempt(s"write ${s.name}") {
        write(s)(spark.read.parquet(src(s)))
        Seq(true, false).forall { columnar =>
          val got = checksum(scan(s, columnar))
          val ok = got == srcSum(s)
          if (!ok) System.err.println(s"[perfbench] ${s.name} columnar=$columnar decoded $got, encoded ${srcSum(s)}")
          ok
        }
      }
    }
    slices.take(8).zipWithIndex.foreach { case (sl, i) =>
      h.attempt(s"slice $i warm-up")(sliceMatches(sl)(sl.frame.collect()))
    }
  }

  def pass(p: Int): Unit = {
    syms.foreach(s => h.run(p, s"write.${s.name}", "write", sink = write(s))(spark.read.parquet(src(s))))
    for (s <- syms; columnar <- Seq(true, false))
      h.run(p, s"scan.${s.name}.${if (columnar) "columnar" else "row"}", "scan")(scan(s, columnar))
    slices.zipWithIndex.foreach { case (sl, i) =>
      val before = GdxCodec.decodedRecords.sum()
      h.run(p, s"slice.$i", s"slice${sl.dim}", sink = _.collect(), check = sliceMatches(sl))(sl.frame)
      if (h.isTracing) decodedBy(s"$p|slice.$i") = GdxCodec.decodedRecords.sum() - before
    }
  }

  /** The workload's unit queries are the slices. */
  def isQuery(op: OpRec): Boolean = op.family.startsWith("slice")

  def layerMetrics(traced: Seq[OpRec], passes: Int): Seq[Metric] = {
    def fam(f: String) = traced.filter(_.family == f)
    def recsPerSec(ops: Seq[OpRec]): Double = {
      val recs = ops.map(o => syms.find(s => o.name.startsWith(s"scan.${s.name}.")).get.records.toLong).sum
      recs / ops.map(_.seconds).sum
    }
    val scans = fam("scan")
    val sliceIdx = (op: OpRec) => op.name.stripPrefix("slice.").toInt
    def decodedPerRow(dim: Int): Double = {
      val ops = fam(s"slice$dim")
      ops.map(o => decodedBy.getOrElse(o.group, 0L)).sum.toDouble /
        math.max(1L, ops.map(o => expected(slices(sliceIdx(o)))._1).sum)
    }
    val writes = fam("write").map(o => h.exec.group(o.group))
    val slicePlan = (fam("slice1") ++ fam("slice2")).map(o =>
      h.planOf.getOrElse(o.group, Map.empty[String, Long]).values.sum.toDouble)
    val medianOr0 = (xs: Seq[Double]) => if (xs.isEmpty) 0.0 else Stats.median(xs)
    codecMetrics() ++ Seq(
      Metric("scan.columnar_rec_s", recsPerSec(scans.filter(_.name.endsWith(".columnar"))), "rec/s"),
      Metric("scan.row_rec_s", recsPerSec(scans.filter(_.name.endsWith(".row"))), "rec/s"),
      Metric("scan.partitions", scans.headOption.map(o => h.exec.group(o.group).tasks.toDouble).getOrElse(0.0), "count"),
      Metric("scan.dim1_decoded_per_row", decodedPerRow(1), "ratio"),
      Metric("scan.dim2_decoded_per_row", decodedPerRow(2), "ratio"),
      Metric("write.shards", syms.map(s => GdxManifest.files(gdx(s)).map(_.size).getOrElse(0)).sum.toDouble, "count"),
      Metric("write.encode_task_s", writes.map(_.resultStageRunMs).sum / 1e3 / passes, "s"),
      Metric("write.sort_shuffle_mb", writes.map(_.shuffleWriteB).sum / 1e6 / passes, "MB"),
      Metric("slice.dim1_ms", medianOr0(fam("slice1").map(_.seconds * 1e3)), "ms"),
      Metric("slice.dim2_ms", medianOr0(fam("slice2").map(_.seconds * 1e3)), "ms"),
      Metric("slice.plan_ms", medianOr0(slicePlan), "ms"))
  }

  /** Single-thread codec numbers from direct calls: encode with
    * GdxStreamEncoder, decode with openRecordStream + nextInto, on a
    * compressed and an uncompressed shard of the generated parameter.
    */
  private def codecMetrics(): Seq[Metric] = {
    val s = GdxGen.parameter(cfg.codecRecords)
    val recs = (0L until s.records).map(i => (GdxGen.labels(s, seed, i), GdxGen.values(s, seed, i)))
      .sortBy(r => (r._1(0), r._1(1), r._1(2)))
    val dir = new File(work, "codec")
    dir.mkdirs()
    def encode(path: String, compress: Boolean): Double = timed {
      val enc = new GdxStreamEncoder(path, s.name, SymbolType.Parameter, 3, compress = compress)
      recs.foreach { case (l, v) => enc.add(l, v, None) }
      enc.finish()
    }
    def decode(path: String): Double = {
      val header = GdxCodec.readHeader(path)
      val keys = new Array[Int](3)
      val vals = new Array[Double](5)
      var n = 0L
      val t = timed {
        val st = GdxCodec.openRecordStream(path, header, header.metas.head)
        try while (st.hasNext) { st.nextInto(keys, vals); n += 1 } finally st.close()
      }
      h.attempt(s"codec decode of $path") { n == s.records }
      t
    }
    val packed = new File(dir, "packed.gdx").getPath
    val raw = new File(dir, "raw.gdx").getPath
    val reps = 3
    val encS = Stats.median((1 to reps).map(_ => encode(packed, compress = true)))
    encode(raw, compress = false)
    val decS = Stats.median((1 to reps).map(_ => decode(packed)))
    val rawS = Stats.median((1 to reps).map(_ => decode(raw)))
    val headerMs = Stats.median((1 to 20).map(_ => timed(GdxCodec.readHeader(packed)) * 1e3))
    Seq(
      Metric("codec.encode_rec_s", s.records / encS, "rec/s"),
      Metric("codec.decode_rec_s", s.records / decS, "rec/s"),
      Metric("codec.decode_raw_rec_s", s.records / rawS, "rec/s"),
      Metric("codec.bytes_per_rec", new File(packed).length.toDouble / s.records, "B/rec"),
      Metric("codec.header_ms", headerMs, "ms"))
  }
}

object GdxWorkload {
  final case class Config(parRecords: Int, varRecords: Int, slices: Int, codecRecords: Int)

  val Full: Config = Config(parRecords = 500000, varRecords = 100000, slices = 200,
    codecRecords = 300000)
  val Tiny: Config = Config(parRecords = 20000, varRecords = 4000, slices = 8, codecRecords = 5000)

  /** Checksum term of one (dim_1, dim_2, dim_3, value) row. */
  def rowSum(r: Row): Long =
    Canon.rowHash(s"${r.getString(0)}|${r.getString(1)}|${r.getString(2)}|${r.getDouble(3)}")

  /** (rows, checksum) of a frame's dims and values, order-independent. */
  def checksum(df: DataFrame): (Long, Long) = {
    val cols = df.columns.map(col)
    val r = df.agg(count(lit(1)), sum(pmod(xxhash64(cols: _*), lit(1000000007L)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}
