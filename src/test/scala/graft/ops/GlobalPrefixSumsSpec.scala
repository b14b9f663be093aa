package graft.ops

import graft.Sessions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `WindowOps.globalPrefixSums` against the textbook single-partition
  * running-sum window it replaces: same rows, same column order.
  */
class GlobalPrefixSumsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.build("local[4]", "4")

  private def reference(df: DataFrame, sortCols: Seq[Column],
      sumCols: Seq[String]): DataFrame = {
    val w = Window.orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col("*") +:
      sumCols.map(c => sum(col(c)).over(w).cast("long").as(s"cum_$c")): _*)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def check(df: DataFrame, sortCols: Seq[Column],
      sumCols: Seq[String]): DataFrame = {
    val got = WindowOps.globalPrefixSums(df, sortCols, sumCols)
    assert(got.columns.toSeq === df.columns.toSeq ++ sumCols.map(c => s"cum_$c"))
    assert(rows(got) === rows(reference(df, sortCols, sumCols)))
    got
  }

  /** Distinct range buckets pass 1 fills for this input. */
  private def filledBuckets(df: DataFrame, sortCols: Seq[Column],
      sumCols: Seq[String]): Long =
    WindowOps.rangeBucketSums(df, sortCols, sumCols).select("pid").distinct().count()

  // three integer columns: a in -2..2 (zero every fifth row), b all
  // zero, c negative on every third row
  private def mixed(n: Long): DataFrame = spark.range(n).select(
    col("id"), (col("id") * 7 % 13).as("k"),
    (col("id") % 5 - 2).as("a"),
    lit(0L).as("b"),
    when(col("id") % 3 === 0, -col("id")).otherwise(col("id") * 2).as("c"))

  private val abc = Seq("a", "b", "c")

  test("ascending total order, three sum columns with zeros and negatives") {
    check(mixed(200), Seq(col("k").asc, col("id").asc), abc)
  }

  test("descending total order") {
    check(mixed(200), Seq(col("k").desc, col("id").desc), abc)
  }

  test("fewer distinct sort keys than partitions leaves range buckets empty") {
    val parts = spark.sparkContext.defaultParallelism
    val three = mixed(3)
    val byId = Seq(col("id").asc)
    assert(filledBuckets(three, byId, abc) < parts)
    check(three, byId, abc)
    // two keys over 40 rows; every row of a key is identical, so the
    // order within a tie cannot change the compared multiset
    val ties = spark.range(40).select((col("id") % 2).as("k"),
      (col("id") % 2 * 3 - 1).as("a"), lit(0L).as("b"), (col("id") % 2 * -5).as("c"))
    val byK = Seq(col("k").asc)
    assert(filledBuckets(ties, byK, abc) < parts)
    check(ties, byK, abc)
  }

  test("0-row and 1-row inputs") {
    assert(check(mixed(0), Seq(col("id").asc), abc).isEmpty)
    val one = check(mixed(1), Seq(col("id").asc), abc).collect()
    assert(one.length === 1)
  }

  test("the running count of a one column is row_number()") {
    val df = mixed(200).withColumn("one", lit(1L))
    val sortCols = Seq(col("k").desc, col("id").asc)
    val got = check(df, sortCols, Seq("one"))
      .select(col("id"), col("cum_one")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rn = df.select(col("id"), row_number().over(Window.orderBy(sortCols: _*)).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === rn)
  }
}
