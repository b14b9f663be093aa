package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, pmod, when}

/** The derandomized replicate draw of the resampling keys
  * (agg_bootstrap_ci, agg_permutation_pvalue, eval_auc_bootstrap):
  * replicate `b` of row `id` draws the LCG uniform
  * u = (pmod(pmod(id·131 + b, 2³¹)·1103515245 + 12345, 2³¹) + 0.5) / 2³¹,
  * the rule each key's DuckDB oracle spells out in SQL, so both engines
  * replay identical draws. Each key explodes the replicate index into
  * rows and aggregates by it, so the formula appears once in a plan.
  */
private[ops] object Replicates {

  /** The uniform draw in (0, 1). The mix is reduced below 2³¹ before the
    * LCG multiply: the unreduced product overflows Long (ANSI crash) once
    * `id` reaches ~6.4e7.
    */
  def uniform(id: Column, b: Column): Column =
    (pmod(pmod(id * lit(131L) + b, lit(2147483648L)) * lit(1103515245L) + lit(12345L),
      lit(2147483648L)).cast("double") + lit(0.5)) / lit(2147483648.0)

  /** ~Poisson(1) weight 0..3 of a [[uniform]] draw by the inverse CDF,
    * truncated at 3 (P≈0.019 tail). `u` is read three times: pass a
    * projected column to compute the draw once.
    */
  def poissonWeight(u: Column): Column =
    when(u < 0.367879, 0L).when(u < 0.735759, 1L)
      .when(u < 0.919699, 2L).otherwise(3L)
}
