package graft

import org.apache.spark.sql.SparkSession

/** One place to build the engine's SparkSession: UTC, fixed shuffle
  * partitions, a generated-class cache sized to hold a session's
  * working set ([[CodegenCacheEntries]]), and the GraftExtensions
  * function injection (native vector expressions). Every main and spec
  * goes through here so the registered SQL surface is identical
  * everywhere.
  */
object Sessions {
  /** Entries in Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, a static conf: one LRU cache
    * per JVM, sized by the first session that generates code; Spark's
    * default is 100). A query whose classes are still cached compiles
    * nothing when it runs again; at 100, a key that compiles more
    * classes than that misses even on an immediate repeat.
    *
    * Measured at sf0.1 (`local[4]`, 4-vCPU VM): one pass of the four
    * perfbench ops_iterative keys compiles a working set of 246 classes,
    * so at 100 every pass recompiled all of them; at this cap a warm
    * pass compiles none. Each cached entry holds its generated source
    * and class: the 146 entries past 100 cost 3.2–3.5 MB of heap and
    * 0.7–0.9 MB of metaspace, ~22–24 KB and ~5–6 KB per entry (heap
    * after a full GC and metaspace in use, cap 4000 vs 100: 78.8 vs
    * 75.3 MB and 161.5 vs 160.6 MB after the first pass, 86.5 vs 83.3 MB
    * and 166.5 vs 165.8 MB after the fourth).
    *
    * 1000 is four times that working set and six times the heaviest
    * single key (`graph_betweenness`, 164 classes), and bounds what a
    * long session keeps: one that runs all 410 keys once at sf0.01
    * compiles 5,512 classes (8,024 at 100) and retains the full 1000
    * entries, +27 MB of heap (198.8 vs 171.8 MB) and +7 MB of metaspace
    * (226.1 vs 219.0 MB) over the default, ~30 KB and ~8 KB per entry.
    */
  private val CodegenCacheEntries = 1000

  /** Library entry point: all local cores, 32 shuffle partitions. */
  def build(): SparkSession = build("local[*]", "32")

  def build(master: String, shufflePartitions: String): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
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

  /** Frees the checkpoints graft operators took on the calling thread
    * and have not freed yet: the final checkpoint of each frame an
    * iterative operator returned, and the one-shot checkpoints of query
    * builders (the minhash band table). Each operator frees its
    * intermediate rounds itself ([[Checkpoints]]), but a returned
    * frame's blocks can only go once the result is consumed; Bench and
    * Verify call this after each query so a ~100-query session never
    * accumulates dead blocks (measured: dedup_cluster_canonical drifted
    * to ~2.6× its isolated time before this cleanup).
    *
    * A checkpoint belongs to the thread that took it, so a query running
    * on another thread of the same session keeps its blocks. A caller's
    * own checkpoint or `cache()` is never touched. A frame the
    * calling thread got from an operator must not be read after this:
    * its lineage is truncated at the freed checkpoint.
    */
  def releaseCheckpoints(s: SparkSession): Unit = Checkpoints.releaseScope(s)
}
