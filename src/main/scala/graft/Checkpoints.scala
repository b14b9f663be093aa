package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The block lifetime of the checkpoints an iterative operator takes.
  * One instance per operator run holds each checkpoint under a tag,
  * keyed by the RDD that owns its blocks: the `rdd` of the
  * [[LogicalRDD]] an eager `localCheckpoint()` returns, which is
  * exactly the RDD that call persisted. Freeing unpersists that RDD and
  * nothing else.
  *
  * Every checkpoint the library takes goes through this file: an
  * instance's `pin`/`cycle`, or the one-shot [[Checkpoints.take]]. Each
  * one also joins the scope of the thread that took it, and
  * [[Checkpoints.releaseScope]] (what `Sessions.releaseCheckpoints`
  * calls) frees exactly that scope: the final checkpoint of a frame an
  * operator returned and the one-shot checkpoints of query builders.
  * Queries on other threads of the same session keep their blocks, and
  * a caller's own `localCheckpoint()` or `cache()` is never touched.
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
    val (out, rdd) = Checkpoints.checkpoint(df)
    held += tag -> (rdd :: held.getOrElse(tag, Nil))
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
    val (out, rdd) = Checkpoints.checkpoint(df)
    release(tag)
    held += tag -> List(rdd)
    if (sever) df.sparkSession.createDataFrame(out.rdd, out.schema) else out
  }

  /** Frees the blocks held under each tag (error paths, end of run). */
  def release(tags: String*): Unit = tags.foreach { tag =>
    held.getOrElse(tag, Nil).foreach(Checkpoints.free)
    held -= tag
  }
}

object Checkpoints {
  /** The checkpoints taken on this thread and not freed yet. Entries
    * are weak, so a frame its caller dropped is still cleaned by the
    * ContextCleaner when it is collected.
    */
  private val scope = ThreadLocal.withInitial[java.util.Set[RDD[_]]](() => newScope())

  private def newScope(): java.util.Set[RDD[_]] =
    java.util.Collections.newSetFromMap(new java.util.WeakHashMap[RDD[_], java.lang.Boolean])

  /** The one place a checkpoint is taken: eager `localCheckpoint()`,
    * then the RDD that holds its blocks joins this thread's scope.
    */
  private def checkpoint(df: DataFrame): (DataFrame, RDD[_]) = {
    val out = df.localCheckpoint()
    val rdd = out.queryExecution.logical match {
      case r: LogicalRDD => r.rdd
      case p => throw new IllegalStateException(
        s"Checkpoints: expected a localCheckpoint's LogicalRDD, got ${p.nodeName}")
    }
    scope.get.add(rdd)
    (out, rdd)
  }

  private def free(rdd: RDD[_]): Unit = {
    scope.get.remove(rdd)
    rdd.unpersist(blocking = false)
  }

  /** Checkpoints a frame a query builder reads more than once; its
    * blocks live until this thread's [[releaseScope]].
    */
  private[graft] def take(df: DataFrame): DataFrame = checkpoint(df)._1

  /** Frees every checkpoint of `s`'s context that this thread took and
    * has not freed yet.
    */
  private[graft] def releaseScope(s: SparkSession): Unit =
    scope.get.toArray(Array.empty[RDD[_]]).filter(_.context eq s.sparkContext).foreach(free)

  /** Runs `body` in a fresh scope and frees every checkpoint it took
    * when it returns or throws (a streaming micro-batch, an index
    * build); the enclosing scope is restored untouched.
    */
  private[graft] def scoped[T](body: => T): T = {
    val outer = scope.get
    scope.set(newScope())
    try body finally {
      scope.get.toArray(Array.empty[RDD[_]]).foreach(free)
      scope.set(outer)
    }
  }
}
