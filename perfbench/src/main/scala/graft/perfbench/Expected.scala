package graft.perfbench

import java.io.{File, PrintWriter}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.{Sessions, SparkEntry}

/** Expected output digests of the ops_* keys, per data scale, as
  * `gen_expected.py` derives them from the DuckDB oracles.
  */
object Expected {
  def file(benchDir: File): File = new File(benchDir, "expected/ops.json")

  def load(benchDir: File, sfDir: String): Map[String, Digest] = {
    val root = new ObjectMapper().readTree(file(benchDir))
    val scale = root.get(new File(sfDir).getName)
    if (scale == null) Map.empty
    else scale.fields().asScala.map { e =>
      val v = e.getValue
      val frac = v.get("frac").fields().asScala.map { c =>
        val xs = c.getValue.elements().asScala.map(_.asDouble).toIndexedSeq
        c.getKey -> FracSum(xs(0), xs(1), xs(2).toLong, xs(3).toLong, xs(4).toLong)
      }.toMap
      e.getKey -> Digest(v.get("rows").asLong,
        java.lang.Long.parseUnsignedLong(v.get("hash").asText, 16), frac)
    }.toMap
  }
}

/** Writes, for each key, the oracle SQL DuckDB runs, the names of the
  * key's fractional columns (by Spark's schema, which both sides use to
  * classify columns), and Spark's own digest for comparison.
  */
object Oracles {
  def dump(spark: SparkSession, sfDir: String, keys: Seq[String], out: File): Unit = {
    val static = SparkEntry.oracleSql
    val dyn = SparkEntry.dynOracleSql
    val entries = keys.distinct.sorted.map { k =>
      val df = SparkEntry.queries(k)(spark, sfDir)
      val frac = df.schema.fields.filter(f => Canon.isFrac(f.dataType)).map(f => Json.str(f.name))
      val d = Canon.digest(df)
      Sessions.releaseCheckpoints(spark)
      val sql = static.get(k).orElse(dyn.get(k).map(_(spark, sfDir)))
      val fs = d.frac.map { case (c, f) =>
        s"${Json.str(c)}: [${Seq(f.sum, f.abs, f.nan.toDouble, f.posInf.toDouble, f.negInf.toDouble).map(Json.num).mkString(", ")}]"
      }
      s"${Json.str(k)}: {\"sql\": ${sql.map(Json.str).getOrElse("null")}, " +
        s"\"frac_cols\": [${frac.mkString(", ")}], \"spark\": {\"rows\": ${d.rows}, " +
        s"\"hash\": ${Json.str(d.hashHex)}, \"frac\": {${fs.mkString(", ")}}}}"
    }
    out.getParentFile.mkdirs()
    val w = new PrintWriter(out, "UTF-8")
    try w.println(entries.mkString("{\n", ",\n", "\n}")) finally w.close()
  }
}
