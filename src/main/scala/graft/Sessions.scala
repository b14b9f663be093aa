package graft

import org.apache.spark.sql.SparkSession

/** One place to build the engine's SparkSession: UTC, fixed shuffle
  * partitions, and the GraftExtensions function injection (native
  * vector expressions). Every main and spec goes through here so the
  * registered SQL surface is identical everywhere.
  */
object Sessions {
  /** Library entry point: all local cores, 32 shuffle partitions. */
  def build(): SparkSession = build("local[*]", "32")

  def build(master: String, shufflePartitions: String): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // getOrCreate silently RETURNS a pre-existing session, ignoring
    // master and every static config above — including the extensions
    // injection, whose absence would surface much later as an
    // inscrutable UNRESOLVED_ROUTINE on the first vec_*/mg_topk call.
    // Fail fast with the actual cause instead.
    require(s.conf.getOption("spark.sql.extensions")
        .exists(_.contains("graft.functions.GraftExtensions")),
      "Sessions.build: an earlier SparkSession without GraftExtensions " +
        "already exists in this JVM — the graft SQL surface (vec_*, " +
        "simhash32, mg_topk, ...) cannot be injected post-hoc. Build " +
        "every session in this JVM through graft.Sessions.build.")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Drop the checkpoint blocks still registered with the block
    * manager — the final checkpoint of a frame an iterative operator
    * returned, and the one-shot localCheckpoints of query builders (the
    * minhash band table). Each iterative operator frees its
    * intermediate rounds itself ([[Checkpoints]]), but a returned
    * frame's blocks can only go once the result is consumed; Bench and
    * Verify call this between queries so a ~100-query session never
    * accumulates dead blocks (measured: dedup_cluster_canonical drifted
    * to ~2.6× its isolated time before this cleanup). Only checkpoint
    * RDDs are freed: a caller's own `cache()` keeps its blocks.
    *
    * Call it between queries, not during one: a localCheckpointed
    * frame has truncated lineage, so calling this while another query
    * on the shared session is mid-flight would drop blocks it cannot
    * recompute.
    */
  def releaseCheckpoints(s: SparkSession): Unit = Checkpoints.releaseAll(s)
}
