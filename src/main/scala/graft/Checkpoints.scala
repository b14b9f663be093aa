package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The block lifetime of the checkpoints an iterative operator takes.
  * One instance per operator run (or per streaming micro-batch) holds
  * each checkpoint under a tag, keyed by the RDD that owns its blocks:
  * the `rdd` of the [[LogicalRDD]] an eager `localCheckpoint()`
  * returns, which is exactly the RDD that call persisted. Freeing
  * unpersists that RDD and nothing else, so runs on a shared
  * SparkContext never free each other's blocks (a diff of the
  * context's persistent-RDD set would also catch blocks a concurrent
  * query created) and a caller's own `cache()` is never touched.
  *
  * `Dataset.unpersist` does not free a checkpoint: it only clears
  * CacheManager entries, and the checkpoint RDD stays registered with
  * the block manager until it is unpersisted here.
  */
final class Checkpoints {
  private var held = Map.empty[String, List[RDD[_]]]

  /** Checkpoints a frame that lives for the whole run (an edge table);
    * several frames may share a tag and are released together.
    */
  def pin(tag: String, df: DataFrame): DataFrame = {
    val out = df.localCheckpoint()
    held += tag -> (Checkpoints.blocksOf(out) :: held.getOrElse(tag, Nil))
    out
  }

  /** Per-round checkpoint + free-previous: checkpoints the new round's
    * frame (eager, so its blocks exist before anything is freed), then
    * releases the previous round's blocks under the same tag. `sever`
    * additionally rebuilds the frame over the checkpointed rows to DROP
    * the carried Catalyst stats (r14): localCheckpoint's LogicalRDD
    * preserves the origin plan's sizeInBytes, and join-stats estimation
    * MULTIPLIES child sizes — an operator that cycles a frame joined
    * against ITSELF multiplies the stat's bit length every round, and
    * past ~25 compounded rounds the planner sits in million-digit
    * BigInteger multiplications (measured as a >15 min hang in
    * graph_mst_boruvka's nested CC). Severing restarts from default
    * stats (AQE re-sizes joins from runtime statistics, so the lost
    * estimate costs nothing) at the price of a Row conversion on the
    * cycled frame — so it is opt-in: required for the pointer-jumping
    * CC, whose iteration count is data-dependent and whose labels frame
    * self-joins; the fixed-small-round operators keep the
    * conversion-free path.
    */
  def cycle(tag: String, df: DataFrame, sever: Boolean = false): DataFrame = {
    val out = df.localCheckpoint()
    release(tag)
    held += tag -> List(Checkpoints.blocksOf(out))
    if (sever) df.sparkSession.createDataFrame(out.rdd, out.schema) else out
  }

  /** Frees the blocks held under each tag (error paths, end of run). */
  def release(tags: String*): Unit = tags.foreach { tag =>
    held.getOrElse(tag, Nil).foreach(_.unpersist(blocking = false))
    held -= tag
  }

  /** Frees every block this runtime holds (end of a micro-batch). */
  def releaseAll(): Unit = release(held.keys.toSeq: _*)
}

object Checkpoints {
  private def blocksOf(checkpointed: DataFrame): RDD[_] =
    checkpointed.queryExecution.logical match {
      case r: LogicalRDD => r.rdd
      case p => throw new IllegalStateException(
        s"Checkpoints: expected a localCheckpoint's LogicalRDD, got ${p.nodeName}")
    }

  /** Frees every checkpoint RDD still registered in the context: the
    * final frames the iterative operators return and the one-shot
    * `localCheckpoint()`s of query builders. RDDs that are persisted
    * but not checkpoints (a caller's `cache()`) are left alone.
    */
  def releaseAll(s: SparkSession): Unit =
    s.sparkContext.getPersistentRDDs.values.filter(_.isCheckpointed)
      .foreach(_.unpersist(blocking = false))
}
