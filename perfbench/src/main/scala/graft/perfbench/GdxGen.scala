package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of the gdx_io input: 3-dim symbols whose records
  * come out in dim_1 order.
  *
  * Record i belongs to dim_1 group i / 64 and is its (i % 64)-th member.
  * Even members carry one of 16 global dim_2 labels (`g000`..`g015`),
  * which recur in every group and so in every block. Odd members carry a
  * local label (`l…`) shared only by 64 consecutive groups, about one
  * 4096-record codec block. dim_3 spreads the members so keys are unique,
  * with a seeded per-group offset; values are seeded two-decimal numbers.
  */
object GdxGen {
  val GroupSize = 64
  val GlobalLabels = 16

  final case class Sym(name: String, records: Int, dimPrefix: String, fields: Seq[String]) {
    def groups: Int = (records + GroupSize - 1) / GroupSize
    def valueField: String = fields.head
  }

  def parameter(records: Int): Sym = Sym("p", records, "i", Seq("value"))
  def variable(records: Int): Sym =
    Sym("v", records, "j", Seq("level", "marginal", "lower", "upper", "scale"))

  /** splitmix64 finaliser over a combination of two longs. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** `prefix` then `n` zero-padded to `width` digits, so labels sort in
    * numeric order.
    */
  private def label(prefix: String, n: Long, width: Int): String = {
    val d = n.toString
    prefix + "0" * (width - d.length) + d
  }

  def dim1(s: Sym, group: Long): String = label(s.dimPrefix, group, 7)
  def globalLabel(j: Int): String = label("g", j, 3)
  def localLabel(group: Long, j: Int): String = label("l", (group / GroupSize) * GlobalLabels + j, 6)

  def labels(s: Sym, seed: Long, i: Long): Array[String] = {
    val g = i / GroupSize
    val r = (i % GroupSize).toInt
    val half = r / 2
    val j = half % GlobalLabels
    val d2 = if (r % 2 == 0) globalLabel(j) else localLabel(g, j)
    val off = (mix(seed, g) >>> 61).toInt * 2
    Array(dim1(s, g), d2, label("k", half / GlobalLabels + off, 2))
  }

  def values(s: Sym, seed: Long, i: Long): Array[Double] =
    Array.tabulate(s.fields.length)(f => ((mix(seed * 31 + f, i) >>> 11) % 10000000L) / 100.0)

  def schema(s: Sym): StructType = StructType(
    Seq("dim_1", "dim_2", "dim_3").map(StructField(_, StringType, nullable = false)) ++
      s.fields.map(StructField(_, DoubleType, nullable = false)))

  def frame(spark: SparkSession, s: Sym, seed: Long, partitions: Int): DataFrame = {
    val rows = spark.sparkContext.range(0L, s.records.toLong, 1L, partitions).map { i =>
      Row.fromSeq(labels(s, seed, i).toSeq ++ values(s, seed, i).toSeq)
    }
    spark.createDataFrame(rows, schema(s))
  }

  /** Order-independent checksum of the generated records, computed
    * without Spark.
    */
  def checksum(s: Sym, seed: Long): Long = {
    var h = 0L
    var i = 0L
    while (i < s.records) {
      h += Canon.rowHash((labels(s, seed, i) ++ values(s, seed, i).map(_.toString)).mkString("|"))
      i += 1
    }
    h
  }
}
