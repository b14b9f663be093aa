package graft.gdx

import java.io.{ByteArrayInputStream, DataInputStream, IOException}
import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GdxManifest, GdxShardCommit}

/** Damaged shards through the DSv2 scan, on both venues: under-budget
  * label slices, decoded on the driver while the query is planned (a
  * dim_1 slice of one shard, and a dim_2 slice of both shards, decoded
  * concurrently), and a full scan, decoded in tasks. Every read returns
  * exactly the original rows or throws an IOException (on the task path,
  * as the cause of a SparkException), and none hangs.
  */
class GdxScanFuzzSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.build("local[4]", "4")

  private val shardA = "shard-a.gdx"

  /** A manifested dataset of two 40-record shards in 8-record blocks:
    * a00..a19 and b00..b19, each under dim_2 labels x and y.
    */
  private def dataset(): String = {
    val dir = Files.createTempDirectory("gdx-scan-fuzz").toString
    val commits = Seq("a", "b").map { g =>
      val name = s"shard-$g.gdx"
      val enc = new GdxStreamEncoder(s"$dir/$name", "p", SymbolType.Parameter, 2, blockSize = 8)
      for (i <- 0 until 20; d2 <- Seq("x", "y"))
        enc.add(Array(f"$g$i%02d", d2), Array(i * 2.5 + d2.length), None)
      enc.finish()
      GdxShardCommit(name, 40, Some(f"${g}00"), Some(f"${g}19"))
    }
    GdxManifest.write(dir, "p", commits.map(GdxManifest.entryJson))
    dir
  }

  private def slice(dir: String): DataFrame = GdxFile(spark, dir).query("p", filt = "A07")
  private def sliceBoth(dir: String): DataFrame =
    Gdx.symbol(spark, dir, "p").filter(col("dim_2") === "x")
  private def full(dir: String): DataFrame = Gdx.symbol(spark, dir, "p")

  private def rowsOf(df: => DataFrame): Seq[String] =
    Await.result(Future(df.collect().map(_.toString).sorted.toSeq), 2.minutes)

  /** Read the damaged dataset on both venues, through both driver
    * slices and the full scan; how many reads threw. `zoneMapsOnly` marks
    * damage confined to the zone maps: a narrowed zone map makes a slice
    * skip a block that holds its rows, which nothing in the block index
    * can reveal, so there a slice may return a subset of its rows
    * (counted in `shrunk`).
    */
  private def readBoth(dir: String, what: String, wantSlice: Seq[String], wantBoth: Seq[String],
      wantFull: Seq[String], zoneMapsOnly: Boolean = false): Int = {
    var threw = 0
    for ((name, df, want) <- Seq(("slice", slice _, wantSlice), ("two-shard slice", sliceBoth _, wantBoth)))
      try {
        val got = rowsOf(df(dir))
        if (got != want) {
          assert(zoneMapsOnly && got.forall(want.contains), s"$what: driver $name gave $got")
          shrunk += 1
        }
      } catch {
        case _: IOException => threw += 1
        case e: SparkException if causes(e).exists(_.isInstanceOf[IOException]) =>
          fail(s"$what: the under-budget $name ran in a task: $e")
        case e: Throwable if !e.isInstanceOf[org.scalatest.exceptions.TestFailedException] =>
          fail(s"$what: driver $name threw $e, not an IOException")
      }
    // the full scan skips no block: schema inference may meet the damage
    // on the driver, the readers meet it in tasks
    try assert(rowsOf(full(dir)) == wantFull, s"$what: full scan")
    catch {
      case _: IOException => threw += 1
      case e: SparkException if causes(e).exists(_.isInstanceOf[IOException]) => threw += 1
      case e: Throwable if !e.isInstanceOf[org.scalatest.exceptions.TestFailedException] =>
        fail(s"$what: full scan threw $e, not an IOException")
    }
    threw
  }
  private var shrunk = 0

  private def causes(t: Throwable): Seq[Throwable] =
    if (t == null) Nil else t +: causes(t.getCause)

  test("every truncation prefix of a shard: original rows or an IOException, on the driver and in tasks") {
    val dir = dataset()
    val wantSlice = rowsOf(slice(dir))
    val wantBoth = rowsOf(sliceBoth(dir))
    val wantFull = rowsOf(full(dir))
    assert(wantSlice.size == 2 && wantBoth.size == 40 && wantFull.size == 80)
    val path = Paths.get(dir, shardA)
    val bytes = Files.readAllBytes(path)
    var threw = 0
    for (n <- 0 until bytes.length) {
      Files.write(path, java.util.Arrays.copyOf(bytes, n))
      threw += readBoth(dir, s"prefix $n of ${bytes.length}", wantSlice, wantBoth, wantFull)
    }
    // every strict prefix cuts the header or the section all reads open
    assert(threw == 3 * bytes.length, s"$threw of ${3 * bytes.length} reads threw")
  }

  test("every byte flip in a shard's block index: original rows or an IOException, on the driver and in tasks") {
    val dir = dataset()
    val wantSlice = rowsOf(slice(dir))
    val wantBoth = rowsOf(sliceBoth(dir))
    val wantFull = rowsOf(full(dir))
    val path = Paths.get(dir, shardA)
    val bytes = Files.readAllBytes(path)
    val h = GdxCodec.readHeader(path.toString)
    val m = h.metas.head
    val (texts, blocks) = GdxCodec.readSectionHeader(
      new DataInputStream(new ByteArrayInputStream(bytes, m.offset.toInt, m.dataLen)), m.dim, h.version)
    assert(texts.isEmpty && blocks.size == 5)
    // the section opens with the empty text pool's one-byte count; the
    // block index runs from there to the first block blob
    val index = (m.offset.toInt + 1) until (m.offset.toInt + m.dataLen - blocks.map(_.len).sum)
    // the index still parses to the same record counts and lengths
    def sameShape(patched: Array[Byte]): Boolean =
      try {
        val (_, bs) = GdxCodec.readSectionHeader(
          new DataInputStream(new ByteArrayInputStream(patched, m.offset.toInt, m.dataLen)), m.dim, h.version)
        bs.map(b => (b.recCount, b.len)) == blocks.map(b => (b.recCount, b.len))
      } catch { case _: IOException => false }
    var threw = 0
    shrunk = 0
    for (at <- index; mask <- Seq(0x01, 0x80, 0xff)) {
      val patched = bytes.clone()
      patched(at) = (patched(at) ^ mask).toByte
      Files.write(path, patched)
      threw += readBoth(dir, s"flip $mask at $at", wantSlice, wantBoth, wantFull,
        zoneMapsOnly = sameShape(patched))
    }
    // each flip of a count or a length is caught when the section opens
    val shapeFlips = (for (at <- index; mask <- Seq(0x01, 0x80, 0xff)) yield {
      val patched = bytes.clone()
      patched(at) = (patched(at) ^ mask).toByte
      !sameShape(patched)
    }).count(identity)
    assert(threw >= 3 * shapeFlips, s"$threw reads threw, $shapeFlips flips change a count or a length")
    info(s"${index.size * 3} flips: $threw reads threw, $shrunk slices shrank on a narrowed zone map")
  }
}
