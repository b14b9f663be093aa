package graft.perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Sum, absolute sum and special-value counts of one fractional column. */
final case class FracSum(sum: Double, abs: Double, nan: Long, posInf: Long, negInf: Long) {
  def +(o: FracSum): FracSum =
    FracSum(sum + o.sum, abs + o.abs, nan + o.nan, posInf + o.posInf, negInf + o.negInf)

  /** Equal up to summation order: 1e-6 of the larger absolute sum. */
  def matches(o: FracSum): Boolean =
    nan == o.nan && posInf == o.posInf && negInf == o.negInf &&
      math.abs(sum - o.sum) <= 1e-6 * math.max(abs, o.abs) + 1e-9
}

object FracSum {
  val zero: FracSum = FracSum(0, 0, 0, 0, 0)
  def of(d: Double): FracSum =
    if (d.isNaN) FracSum(0, 0, 1, 0, 0)
    else if (d == Double.PositiveInfinity) FracSum(0, 0, 0, 1, 0)
    else if (d == Double.NegativeInfinity) FracSum(0, 0, 0, 0, 1)
    else FracSum(d, math.abs(d), 0, 0, 0)
}

/** Order-independent digest of a frame's rows: the row count, the sum
  * (mod 2^64) of an MD5 prefix of each row's canonical text, and, for
  * every top-level fractional column, its [[FracSum]]. Fractional
  * columns enter the row text as a placeholder and are compared by sum
  * instead, so a different summation order in an aggregate cannot flip
  * the digest. `gen_expected.py` computes the same digest from DuckDB.
  */
final case class Digest(rows: Long, hash: Long, frac: Map[String, FracSum]) {
  def hashHex: String = f"$hash%016x"

  def mismatch(want: Digest): Option[String] =
    if (rows != want.rows) Some(s"rows ${rows} != expected ${want.rows}")
    else if (hash != want.hash) Some(s"row hash $hashHex != expected ${want.hashHex}")
    else if (frac.keySet != want.frac.keySet)
      Some(s"fractional columns ${frac.keySet} != expected ${want.frac.keySet}")
    else frac.collectFirst {
      case (c, f) if !f.matches(want.frac(c)) => s"column $c sums $f != expected ${want.frac(c)}"
    }
}

object Canon {
  private val Sep = "\u001f"
  private val Null = "\u0000N"
  private val Six = new MathContext(6, RoundingMode.HALF_EVEN)

  def isFrac(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case d: DecimalType => d.scale > 0
    case _ => false
  }

  /** A fractional value nested inside an array or struct: six significant
    * digits of its double value, as digits and a decimal exponent.
    */
  def roundDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == 0.0) "0"
    else {
      val r = new JBigDecimal(d).round(Six).stripTrailingZeros
      s"${r.unscaledValue}e${-r.scale}"
    }

  private def micros(epochSecond: Long, nanos: Int): Long =
    Math.addExact(Math.multiplyExact(epochSecond, 1000000L), (nanos / 1000).toLong)

  /** Canonical text of a non-fractional value (and of nested values). */
  def value(v: Any): String = v match {
    case null => Null
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case d: Double => roundDouble(d)
    case f: Float => roundDouble(f.toDouble)
    case d: JBigDecimal =>
      if (d.signum == 0 || d.stripTrailingZeros.scale <= 0) d.toBigInteger.toString
      else roundDouble(d.doubleValue)
    case d: scala.math.BigDecimal => value(d.bigDecimal)
    case s: String => s
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => micros(Math.floorDiv(t.getTime, 1000L), t.getNanos).toString
    case t: java.time.Instant => micros(t.getEpochSecond, t.getNano).toString
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      micros(i.getEpochSecond, i.getNano).toString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "=" + value(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case other => other.toString
  }

  def rowHash(text: String): Long = {
    val md = MessageDigest.getInstance("MD5").digest(text.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(md, 0, 8).getLong
  }

  def digest(df: DataFrame): Digest = {
    // columns in name order (stable for duplicate names), as scripts/check.py
    val cols = df.schema.fields.zipWithIndex.sortBy(_._1.name).toSeq
    val fracCols = cols.filter(c => isFrac(c._1.dataType))
    val parts = df.rdd.mapPartitions { rows =>
      var n = 0L
      var h = 0L
      val sums = Array.fill(fracCols.length)(FracSum.zero)
      rows.foreach { r =>
        val text = cols.map { case (f, i) =>
          if (isFrac(f.dataType)) (if (r.isNullAt(i)) Null else "~") else value(r.get(i))
        }.mkString(Sep)
        n += 1
        h += rowHash(text)
        fracCols.zipWithIndex.foreach { case ((_, i), k) =>
          if (!r.isNullAt(i)) sums(k) = sums(k) + FracSum.of(r.get(i) match {
            case d: JBigDecimal => d.doubleValue
            case x: java.lang.Number => x.doubleValue
          })
        }
      }
      Iterator((n, h, sums.toSeq))
    }.collect()
    val names = fracCols.map(_._1.name)
    Digest(parts.map(_._1).sum, parts.map(_._2).sum,
      names.zipWithIndex.map { case (c, k) => c -> parts.map(_._3(k)).foldLeft(FracSum.zero)(_ + _) }.toMap)
  }
}
