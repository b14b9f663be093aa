package graft.streaming

import graft.Checkpoints

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** SURVEY.md §2.J — the actual Structured Streaming operators. Each
  * takes a STREAMING events DataFrame (schema: event_id long, ts
  * timestamp, user_id long, event_type string, value double) and
  * returns the streaming transformation; the batch queries in
  * ops.StreamingBatchOps compute the fixpoints these converge to, and
  * StreamingSpec asserts parity through MemoryStream.
  *
  * Scale: all state is keyed (window/user) and watermark-bounded, so
  * state store size is O(active keys × window horizon), independent of
  * stream length — the property that matters at 100 TB/day ingest.
  */
object StreamOps {

  /** Events per 1-minute tumbling window per type; 10-min watermark
    * bounds state and drops late arrivals.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("win_start"), col("event_type"), col("n"))

  /** 5-minute windows sliding every minute. */
  def slidingAvg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes", "1 minute"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("av"))
      .select(unix_micros(col("window.start")).as("win_start"), col("n"), col("av"))

  /** Session windows per user, 30-minute gap. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), unix_micros(col("session_window.start")).as("session_start"),
        col("n"))

  /** Stateful exact-once dedup on event_id within the watermark. */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Continuous-ingest corpus dedup — the streaming form of
    * `dedup_incremental`: arriving documents hash map-side and
    * LEFT-ANTI join the standing corpus's content-hash set per
    * micro-batch (stream-static anti joins are stateless — no
    * watermark state; the corpus frame re-resolves each batch, so a
    * corpus append is picked up without restarting the query).
    * In-stream re-deliveries are handled by the composed
    * `dropDuplicatesWithinWatermark` on the hash — corpus membership
    * and in-flight dedup are separate concerns with separate state.
    */
  def corpusDedup(docs: DataFrame, corpusHashes: DataFrame): DataFrame =
    docs
      .withColumn("h", sha2(lower(trim(col("text"))), 256))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("h")
      .join(corpusHashes, Seq("h"), "left_anti")
      .drop("h") // output schema = input schema, like the batch shape

  /** Continuous-ingest NEAR-dup — the streaming twin of the registered
    * `dedup_incremental_minhash` row (ops/LlmOps.scala), which
    * `corpusDedup` above cannot subsume: near-duplication is not
    * equality (no hash to anti-join on) and the index must GROW with
    * kept docs (a stream-static join's static side never does).
    * `foreachBatch` is the production shape: per micro-batch
    * (1) the batch's minhash bands probe the standing banded index —
    * candidates ∝ bucket collisions, never batch × corpus; (2) exact
    * Jaccard verifies candidates map-side against the stored shingle
    * sets (`array_intersect` on the two distinct-shingle arrays — no
    * per-pair shuffle); (3) docs with best j ≥ τ drop; corpus
    * survivors additionally SELF-probe (banded a<b pairs within the
    * batch, min-doc_id representative wins pairwise) so a backlog's
    * first trigger — a doc and its near-dup arriving together,
    * neither indexed yet — keeps exactly one; (4) survivors emit and
    * their bands + shingles APPEND to the index, so a near-dup of a
    * doc kept in an EARLIER batch is dropped (cross-batch). The index is ordinary parquet under `indexDir`
    * (`bands/`, `shingles/`) — bounded by kept docs, restart-surviving,
    * readable by the batch pipeline. Shingle/band/Jaccard definitions
    * are LlmOps' own helpers, so stream and batch agree structurally.
    *
    * Exactly-once caveat (documented, standard for foreachBatch
    * side effects): an epoch re-run after a crash between the index
    * append and the offset commit would re-append the same docs'
    * bands — duplicate index rows make candidates repeat, never
    * change a keep decision (Jaccard is set-based); a transactional
    * table format would remove even that.
    *
    * `emit` must consume its frame inside the call (collect it, write
    * it): each batch's checkpoints, the emitted frame's included, are
    * freed when the batch body returns, so a long-running stream holds
    * no blocks from earlier batches.
    */
  def corpusNearDup(docs: DataFrame, indexDir: String, tau: Double = 0.5)
      (emit: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.ops.LlmOps
    docs.writeStream.outputMode("append").foreachBatch { (batch: DataFrame, _: Long) =>
      val s = batch.sparkSession
      Checkpoints.scoped {
        val bandsDir = s"$indexDir/bands"
        val shDir = s"$indexDir/shingles"
        // existence via the Hadoop FS of the PATH (not java.io.File): a
        // driver-local check on an hdfs://-or-s3a:// index would read
        // "absent" every batch — probing silently disabled while appends
        // still grow the index, total loss of dedup with no error
        def readIf(dir: String, schema: String): DataFrame = {
          val p = new org.apache.hadoop.fs.Path(dir)
          val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) s.read.parquet(dir)
          else s.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            org.apache.spark.sql.types.StructType.fromDDL(schema))
        }
        val sh = Checkpoints.take(LlmOps.shingleHashes(batch)
          .withColumn("hs", array_distinct(col("hs"))))
        val bands = LlmOps.minhashBandsFromHashes(sh)
        val corpusBands = readIf(bandsDir, "doc_id BIGINT, band INT, sig STRING")
        val corpusSh = readIf(shDir, "doc_id BIGINT, hs ARRAY<BIGINT>")
        // exact-Jaccard verify of banded candidates, shared by the
        // corpus probe and the in-batch self-probe below
        def verified(cand: DataFrame, rightSh: DataFrame): DataFrame = cand
          .join(sh.select(col("doc_id").as("bd"), col("hs").as("xa")), Seq("bd"))
          .join(rightSh.select(col("doc_id").as("cd"), col("hs").as("xb")), Seq("cd"))
          .withColumn("i", size(array_intersect(col("xa"), col("xb"))))
          .withColumn("j", round(col("i") * lit(1.0) /
            (size(col("xa")) + size(col("xb")) - col("i")), 6))
          .filter(col("j") >= tau)
        val cand = bands.select(col("band"), col("sig"), col("doc_id").as("bd"))
          .join(corpusBands.select(col("band"), col("sig"), col("doc_id").as("cd")),
            Seq("band", "sig"))
          .select("bd", "cd").distinct()
        val droppedVsCorpus = verified(cand, corpusSh)
          .select(col("bd").as("doc_id")).distinct()
        // IN-BATCH near-dups (a backlog's first trigger delivers a doc
        // and its near-dup together — neither is in the index yet): the
        // corpus survivors self-probe, min doc_id of a verified pair
        // wins, so exactly one representative is kept and indexed
        val survivorBands = bands.join(droppedVsCorpus, Seq("doc_id"), "left_anti")
        val selfCand = survivorBands.select(col("band"), col("sig"), col("doc_id").as("bd"))
          .join(survivorBands.select(col("band"), col("sig"), col("doc_id").as("cd")),
            Seq("band", "sig"))
          .filter(col("bd") > col("cd")) // bd drops, cd (lower id) represents
          .select("bd", "cd").distinct()
        val droppedInBatch = verified(selfCand, sh)
          .select(col("bd").as("doc_id")).distinct()
        val dropped = droppedVsCorpus.unionByName(droppedInBatch).distinct()
        val kept = Checkpoints.take(batch.join(dropped, Seq("doc_id"), "left_anti"))
        emit(kept)
        val keptIds = kept.select("doc_id")
        sh.join(keptIds, Seq("doc_id")).write.mode("append").parquet(shDir)
        bands.join(keptIds, Seq("doc_id")).write.mode("append").parquet(bandsDir)
      }
    }.start()
  }

  /** Seed the near-dup index with a standing corpus (batch side). */
  def seedNearDupIndex(corpus: DataFrame, indexDir: String): Unit = {
    import graft.ops.LlmOps
    Checkpoints.scoped {
      val sh = Checkpoints.take(LlmOps.shingleHashes(corpus)
        .withColumn("hs", array_distinct(col("hs"))))
      sh.write.mode("overwrite").parquet(s"$indexDir/shingles")
      LlmOps.minhashBandsFromHashes(sh).write.mode("overwrite").parquet(s"$indexDir/bands")
    }
  }

  /** Continuous-ingest SemDeDup — the streaming twin of the registered
    * `dedup_semdedup_keep` row (Abbas et al. 2023: keep one
    * representative per embedding-space cluster): new vectors arrive,
    * keep/drop is decided against the GROWING representative index,
    * and every input vector emits a (vec_id, canonical, keep)
    * decision. The `corpusNearDup` foreachBatch shape with the
    * semantic-dedup pipeline swapped in; per micro-batch:
    * (1) EXACT-DUPLICATE COLLAPSE (the r17 device): identical
    * embeddings collapse to the min-id rep before any pair work, so a
    * mega-dup burst contributes ONE rep to every join; (2) the batch
    * reps' multi-table LSH buckets probe the standing bucket index
    * ([[graft.ops.LlmOps.multiLshBucketsOf]] — the SAME definition
    * the batch row buckets with), matches verify by exact cosine
    * ≥ τ and inherit the matched entry's CANONICAL (not its id:
    * chains across batches resolve to the original representative);
    * (3) survivors+droppers self-cluster IN-BATCH via verified pairs
    * + distributed CC (a backlog's first trigger delivers a cluster
    * together — one representative must win), component canonical =
    * min(component min id, min inherited index canonical);
    * (4) decisions emit for EVERY input vector (members inherit their
    * rep's canonical; keep ⇔ vec_id == canonical, the batch row's
    * exact contract); (5) ALL reps append to the index with their
    * canonical — indexing dropped reps too is what makes chain
    * clusters (a~b, b~c, a≁c) resolve like the batch CC does.
    *
    * Streaming-inherent limit (documented, not a bug): decisions are
    * append-only. If a later vector MERGES two components that were
    * each kept earlier, the batch fixpoint would keep only the min —
    * the stream cannot retract the other's emitted keep; it assigns
    * the merging vector the min canonical and both indexed components
    * keep their labels. Replay of a committed epoch re-emits
    * IDENTICAL decisions: a rep's own index entry is excluded from
    * its probe, batch-mate entries verify into the same component
    * they were in, and duplicate index rows never change a min/
    * distinct-shaped decision (the corpusNearDup caveat).
    *
    * As in `corpusNearDup`, `emit` must consume its frame inside the
    * call: the batch's checkpoints, the CC's included, are freed when
    * the batch body returns.
    */
  def corpusSemDedup(vecs: DataFrame, indexDir: String, tau: Double = 0.45,
      nPlanes: Int = 6, nTables: Int = 6)
      (emit: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.ops.LlmOps
    vecs.writeStream.outputMode("append").foreachBatch { (batch0: DataFrame, _: Long) =>
      val s = batch0.sparkSession
      Checkpoints.scoped {
        val embDir = s"$indexDir/reps"
        val bkDir = s"$indexDir/buckets"
        def readIf(dir: String, schema: String): DataFrame = {
          val p = new org.apache.hadoop.fs.Path(dir)
          val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) s.read.parquet(dir)
          else s.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            org.apache.spark.sql.types.StructType.fromDDL(schema))
        }
        // (1) exact collapse: one payload-keyed window, min id is rep
        val wEmb = Window.partitionBy("embedding")
        val member = Checkpoints.take(batch0.select("vec_id", "embedding")
          .withColumn("rep", min("vec_id").over(wEmb)))
        val reps = member.filter(col("vec_id") === col("rep"))
          .select("vec_id", "embedding")
        // (2) cross-batch probe of the standing index
        val bk = Checkpoints.take(LlmOps.multiLshBucketsOf(reps, nPlanes, nTables))
        val idxBk = readIf(bkDir,
          "vec_id BIGINT, tbl INT, bucket STRING, canonical BIGINT")
        val idxEmb = readIf(embDir,
          "vec_id BIGINT, embedding ARRAY<FLOAT>, canonical BIGINT")
        val idxMatch = bk.select(col("tbl"), col("bucket"), col("vec_id").as("a"))
          .join(idxBk.select(col("tbl"), col("bucket"), col("vec_id").as("b")),
            Seq("tbl", "bucket"))
          .filter(col("a") =!= col("b")) // replay guard: own entry is no match
          .select("a", "b").distinct()
          .join(reps.select(col("vec_id").as("a"), col("embedding").as("ea")), Seq("a"))
          .join(idxEmb.select(col("vec_id").as("b"), col("embedding").as("eb"),
            col("canonical").as("bc")), Seq("b"))
          .filter(round(graft.functions.vec.cosine(col("ea"), col("eb")), 6) >= tau)
          .groupBy(col("a").as("vec_id")).agg(min("bc").as("idxCanon"))
        // (3) in-batch clustering of reps (verified pairs -> CC)
        val pairs = LlmOps.multiLshCandidatesOf(reps, nPlanes, nTables)
          .join(reps.select(col("vec_id").as("a"), col("embedding").as("ea")), Seq("a"))
          .join(reps.select(col("vec_id").as("b"), col("embedding").as("eb")), Seq("b"))
          .filter(round(graft.functions.vec.cosine(col("ea"), col("eb")), 6) >= tau)
          .select("a", "b")
        val cc = LlmOps.connectedComponents(pairs)
        val lbl = reps.select("vec_id")
          .join(cc.select(col("id").as("vec_id"), col("lbl")), Seq("vec_id"), "left")
          .withColumn("lbl", coalesce(col("lbl"), col("vec_id")))
        val canonOfComp = lbl.join(idxMatch, Seq("vec_id"), "left")
          .groupBy("lbl").agg(min("idxCanon").as("minIdx"))
          .select(col("lbl"), when(col("minIdx").isNull, col("lbl"))
            .otherwise(least(col("lbl"), col("minIdx"))).as("canonical"))
        val repCanon = Checkpoints.take(lbl.join(canonOfComp, Seq("lbl"))
          .select(col("vec_id").as("rep"), col("canonical")))
        // (4) corpus-shaped decisions: members inherit the rep's canonical
        val out = Checkpoints.take(member.select("vec_id", "rep").join(repCanon, Seq("rep"))
          .select(col("vec_id"), col("canonical"),
            (col("vec_id") === col("canonical")).as("keep")))
        emit(out)
        // (5) grow the index: every rep, labeled — dropped reps included
        val repOut = reps
          .join(repCanon.withColumnRenamed("rep", "vec_id"), Seq("vec_id"))
        repOut.select("vec_id", "embedding", "canonical")
          .write.mode("append").parquet(embDir)
        bk.join(repOut.select("vec_id", "canonical"), Seq("vec_id"))
          .select("vec_id", "tbl", "bucket", "canonical")
          .write.mode("append").parquet(bkDir)
      }
    }.start()
  }

  /** Stream-static enrichment: the event stream joins a slowly
    * changing dimension frame, re-broadcast per micro-batch —
    * stateless, no stream-side shuffle, no watermark needed on the
    * static side. The aggregation mirrors the batch fixpoint
    * (`stream_static_enrich`).
    */
  def staticEnrich(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n"), round(sum("value").cast("double"), 4).as("sum_value"))

  /** Watermarked stream-stream interval join: click→purchase
    * attribution within 10 minutes per user. Both sides carry
    * watermarks and the join predicate bounds the time skew, so each
    * side's state store holds only the 10-minute horizon — the
    * canonical bounded-state stream-stream join
    * (`stream_stream_join` is the batch fixpoint).
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts").as("cts"), col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_uid"), col("ts").as("pts"),
        col("event_id").as("purchase_id"))
    c.join(p,
      col("user_id") === col("p_uid") &&
        col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr("interval 10 minutes"))
      .select("click_id", "purchase_id")
  }

  // ------------------------------------------------------------ funnel

  case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  /** First-occurrence micros per funnel step, Long.MaxValue = unseen;
    * `done` pins exactly-once emission against re-deliveries; `last`
    * is the NEWEST event micros seen for the key (any step, monotone
    * max) — the retention clock's basis. First-occurrence times can't
    * serve that role: they never advance on repeated steps, so an
    * actively-engaged user would look dormant and be evicted
    * mid-funnel (and a stale timeout below the watermark crashes the
    * query — Spark rejects it).
    */
  case class FunnelState(vt: Long, ct: Long, pt: Long, done: Boolean, last: Long)
  case class FunnelHit(user_id: Long, completed_at: java.sql.Timestamp)

  private val funnelEmpty =
    FunnelState(Long.MaxValue, Long.MaxValue, Long.MaxValue, done = false,
      last = Long.MinValue)

  /** Fold one batch slice into the min-timestamp state — shared by
    * both state-API funnels so they cannot drift. Tracking
    * FIRST-occurrence micros (not a stage machine) is what makes the
    * online operator agree with the batch fixpoint
    * `stream_stateful_custom` (first view < first click < first
    * purchase): a stage machine would IGNORE a click arriving before
    * the first view and complete users the batch predicate rejects.
    * min() is arrival-order-independent, so no per-batch sort is
    * needed (and none would be exact: Timestamp.getTime is
    * ms-truncated; comparisons here stay in exact micros).
    */
  private def foldFunnel(st0: FunnelState,
      rows: Iterator[FunnelEvent]): FunnelState = {
    var st = st0
    rows.foreach { e =>
      val us = micros(e.ts)
      if (us > st.last) st = st.copy(last = us)
      e.event_type match {
        case "view" => if (us < st.vt) st = st.copy(vt = us)
        case "click" => if (us < st.ct) st = st.copy(ct = us)
        case "purchase" => if (us < st.pt) st = st.copy(pt = us)
        case _ =>
      }
    }
    st
  }

  /** The batch fixpoint's predicate over the folded state. MaxValue
    * sentinels make the strict inequalities false unless all three
    * steps are present and ordered; `done` pins exactly-once emission.
    */
  private def funnelReady(st: FunnelState): Boolean =
    !st.done && st.vt < st.ct && st.ct < st.pt

  /** Micros-exact "the watermark has passed `us`" with the watermark
    * only available ms-truncated: wmMs*1000 ≥ us iff no event with
    * ts < us can still arrive (Spark admits rows with ts ≥ watermark).
    */
  private def wmCovers(wmMs: Long, us: Long): Boolean = wmMs * 1000L >= us

  private def tsOfMicros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Custom per-user state (SURVEY §2.J stream_stateful_custom): emits
    * one row per user once first-view < first-click < first-purchase
    * holds — the batch fixpoint's predicate verbatim (see
    * [[foldFunnel]]). flatMapGroupsWithState keeps one 25-byte struct
    * per user. With `ttl` set (the production deployment; requires a
    * watermark upstream, exactly like [[cdcApply]]) the state carries
    * an EVENT-TIME timeout at last-activity + ttl, so dormant and
    * completed users evict with retention and the store is
    * retention-bounded, not total-distinct-user-sized (an evicted
    * completed user can re-emit only if its entire ordered history is
    * re-delivered after retention — the standard retention trade).
    * Event-time, not processing-time: processing timers force
    * shouldRunAnotherBatch=true every trigger — a hot no-data
    * micro-batch loop — and are replay-unstable.
    *
    * EMISSION FINALITY: in the watermarked (ttl) deployment a hit is
    * emitted only once the watermark passes the completion time
    * `pt` — any event still admissible has ts ≥ watermark ≥ pt and
    * cannot lower a first-occurrence below pt, so the predicate's
    * truth is final and an Append-mode row can never contradict the
    * batch fixpoint (a late in-watermark click BEFORE the first view
    * flips vt<ct to false; eager emission could not retract it). A
    * completion awaiting the watermark flushes via the same
    * event-time timer (set to the earlier of flush-due and
    * retention-due). Without ttl there is no watermark contract and
    * no timer API (NoTimeout), so emission is eager — documented
    * best-effort for in-order/replay inputs, the parity-test config.
    */
  def funnel(events: Dataset[FunnelEvent],
      ttl: Option[java.time.Duration] = None): Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (ttl.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (user: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) => {
          val wmMs = if (ttl.isDefined) state.getCurrentWatermarkMs() else 0L
          val st0 =
            if (state.hasTimedOut) state.getOption.getOrElse(funnelEmpty)
            else foldFunnel(state.getOption.getOrElse(funnelEmpty), rows)
          val ready = funnelReady(st0)
          // Finality gate (see scaladoc): watermarked mode emits only
          // once the watermark covers pt; unwatermarked mode is eager.
          val emitNow = ready && (ttl.isEmpty || wmCovers(wmMs, st0.pt))
          val st = if (emitNow) st0.copy(done = true) else st0
          val retireNow = ttl.exists(t =>
            state.hasTimedOut && !(ready && !emitNow) &&
              st.last != Long.MinValue &&
              wmMs >= st.last / 1000L + t.toMillis)
          if (retireNow) state.remove()
          else {
            state.update(st)
            // The single GroupState timer serves both duties: flush a
            // pending completion as soon as the watermark passes pt,
            // and retire the key at last-activity + ttl (replay-stable,
            // like cdcApply's st.us). The max() clamp guards the
            // IllegalArgumentException Spark raises for a timeout at or
            // below the current watermark.
            ttl.foreach { t =>
              if (st.last != Long.MinValue) {
                val retainAt = st.last / 1000L + t.toMillis
                val flushAt =
                  if (ready && !emitNow) Math.floorDiv(st.pt + 999L, 1000L)
                  else Long.MaxValue
                state.setTimeoutTimestamp(
                  math.max(math.min(retainAt, flushAt), wmMs + 1L))
              }
            }
          }
          if (emitNow) Iterator.single(FunnelHit(user, tsOfMicros(st.pt)))
          else Iterator.empty
        })
  }

  // ------------------------------------------- funnel (state API v2)

  /** Same funnel on `transformWithState` (Spark 4 arbitrary-state v2):
    * explicit typed `ValueState` on the RocksDB state store, with TTL
    * and timers available — the forward path for custom streaming
    * state. Kept alongside the flatMapGroupsWithState version so both
    * stateful APIs are exercised; `StreamingSpec` asserts they emit
    * identical results on the same input. Requires
    * `spark.sql.streaming.stateStore.providerClass =
    * ...RocksDBStateStoreProvider` on the running query.
    */
  class FunnelProcessor(
      ttl: Option[java.time.Duration] = None)
    extends StatefulProcessor[Long, FunnelEvent, FunnelHit] {
    @transient private var st: ValueState[FunnelState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      // TTLConfig here must follow the query's TimeMode (funnelV2 runs
      // TimeMode.None for the parity tests; a production deployment
      // passes a ttl and runs ProcessingTime) — see funnelV2
      st = getHandle.getValueState[FunnelState]("funnel",
        Encoders.product[FunnelState],
        ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE))

    override def handleInputRows(user: Long, rows: Iterator[FunnelEvent],
        timerValues: TimerValues): Iterator[FunnelHit] = {
      // Eager emission: the v2 TTL clock is processing-time (no
      // event-time watermark in this TimeMode), so the watermark
      // finality gate of [[funnel]]'s ttl path is unavailable here —
      // same best-effort contract as the unwatermarked v1 config.
      val folded = foldFunnel(if (st.exists()) st.get() else funnelEmpty, rows)
      val emit = funnelReady(folded)
      val next = if (emit) folded.copy(done = true) else folded
      st.update(next)
      if (emit) Iterator.single(FunnelHit(user, tsOfMicros(next.pt)))
      else Iterator.empty
    }
  }

  /** v2-state-API funnel. With `ttl` set the RocksDB ValueState
    * carries a native TTL (requires ProcessingTime mode, the v2 API's
    * only TTL clock today); without it the query runs TimeMode.None —
    * the parity-test configuration.
    */
  def funnelV2(events: Dataset[FunnelEvent],
      ttl: Option[java.time.Duration] = None): Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    val mode = if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    events
      .groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor(ttl), mode, OutputMode.Append())
  }

  // ------------------------------------------- Page CUSUM drift alarm

  case class CusumEvent(user_id: Long, ts: java.sql.Timestamp,
      event_id: Long, cents: Long)
  case class CusumState(n: Long, s: Long, mx: Long, alarms: Long,
      firstAlarm: Long) // firstAlarm −1 = none yet
  case class CusumRow(user_id: Long, n_events: Long, cusum_max: Double,
      n_alarms: Long, first_alarm_event: Option[Long])

  /** Streaming one-sided Page CUSUM (Page 1954) — the DEPLOYED form of
    * the batch `ts_page_cusum` registry row: the batch query answers
    * "where did drift happen" retrospectively via the reflection
    * closed form; a production monitor wants the alarm AS EVENTS
    * ARRIVE, which is the recurrence s ← max(0, s + x − k) verbatim —
    * O(1) state per user (current stat, running max, alarm count,
    * first alarm id), no window machinery needed online.
    *
    * `kCents` is supplied by the caller: Page's statistic assumes a
    * KNOWN reference value — production monitors take it from a
    * historical baseline; the batch twin derives it from the full
    * dataset, which a stream cannot see. Emits the post-batch row per
    * touched user per micro-batch (Update semantics, the cdcApply
    * shape). CONTRACT: per-user in-order delivery ACROSS micro-batches
    * — the fold is sequential by definition, so unlike [[cdcApply]]
    * there is no out-of-order convergence to fall back on; within a
    * batch the slice is sorted by exact-micros (ts, event_id), the
    * batch twin's window order. StreamingSpec pins multi-batch parity
    * with `ts_page_cusum` on the real events slice.
    */
  def pageCusum(events: Dataset[CusumEvent], kCents: Long,
      hCents: Long = 25000L): Dataset[CusumRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[CusumEvent], state: GroupState[CusumState]) => {
          var st = state.getOption.getOrElse(CusumState(0L, 0L, 0L, 0L, -1L))
          rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            val s1 = math.max(0L, st.s + e.cents - kCents)
            val alarm = s1 >= hCents
            st = CusumState(st.n + 1, s1, math.max(st.mx, s1),
              st.alarms + (if (alarm) 1L else 0L),
              if (alarm && st.firstAlarm < 0) e.event_id else st.firstAlarm)
          }
          state.update(st)
          Iterator.single(CusumRow(user, st.n, st.mx.toDouble / 100, st.alarms,
            if (st.firstAlarm < 0) None else Some(st.firstAlarm)))
        })
  }

  case class SrmEvent(user_id: Long)
  case class SrmNew(user_id: Long, treat: Boolean)

  /** Streaming sample-ratio-mismatch feed — the DEPLOYED form of the
    * batch `dq_ab_srm` registry row: the batch query censuses distinct
    * users retrospectively; a production experimentation platform
    * wants the SRM alarm to fire DURING ramp-up, which needs the
    * running distinct-user-per-arm counts as events arrive. State is
    * the minimal correct one: a presence bit per user (the streaming
    * DISTINCT — counting events instead of users would let one chatty
    * user fake an imbalance), emitting each user's arm exactly once on
    * first sight; the per-arm running counts and the χ² alarm are an
    * ordinary streaming aggregate over this feed (exercised in
    * StreamingSpec via cumulative parity with dq_ab_srm). At-least-once
    * replay is safe: a replayed event hits the presence bit and emits
    * nothing.
    */
  def srmNewUsers(events: Dataset[SrmEvent]): Dataset[SrmNew] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (user: Long, _: Iterator[SrmEvent], state: GroupState[Boolean]) => {
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator.single(SrmNew(user, user % 2 == 0))
          }
        })
  }

  case class PatternEvent(user_id: Long, ts: java.sql.Timestamp,
      event_id: Long, symbol: String)
  case class PatternState(dfa: Int, len: Long, matches: Long,
      first: String, buf: String, // buf = in-flight candidate segment
      trunc: Boolean)             // candidate outgrew the cap pre-match
  case class PatternRow(user_id: Long, seq_len: Long, n_matches: Long,
      first_match: String)

  /** Streaming row-pattern matching — the DEPLOYED form of the batch
    * `win_event_pattern` registry row (MATCH_RECOGNIZE's
    * `v[^p]*c[^p]*p` conversion journey, AFTER MATCH SKIP PAST LAST
    * ROW): the same 4-state DFA the batch fold runs, carried as
    * O(1) per-user `GroupState` so matches fire AS EVENTS ARRIVE —
    * Flink-CEP territory expressed as flatMapGroupsWithState. State is
    * (dfa state, event count, match count, first match, candidate
    * buffer, trunc flag); the buffer holds only the CURRENT candidate
    * segment, only until the first match lands, and is HARD-CAPPED at
    * [[graft.ops.WindowOps.EventPatternCap]] chars (r14) — so state is
    * genuinely bounded even for a user whose candidate never
    * terminates. A first match whose candidate outgrew the cap is
    * still COUNTED exactly but reports first_match = "" (detectable:
    * n_matches > 0 with empty first_match) — a stream cannot re-read
    * history, so the batch form's positional rescue has no streaming
    * equivalent; run the registered batch query for the exact text.
    * Same in-order-delivery contract as [[pageCusum]] (a sequential
    * fold has no out-of-order convergence to fall back on); within a
    * batch the slice sorts by exact-micros (ts, event_id). Emits the
    * post-batch row per touched user (Update semantics). StreamingSpec
    * pins multi-batch parity with the registered batch query on the
    * real events slice.
    */
  def eventPattern(events: Dataset[PatternEvent],
      cap: Int = graft.ops.WindowOps.EventPatternCap): Dataset[PatternRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[PatternEvent], state: GroupState[PatternState]) => {
          var st = state.getOption.getOrElse(
            PatternState(0, 0L, 0L, null, "", trunc = false))
          var dfa = st.dfa
          var len = st.len
          var matches = st.matches
          var first = st.first
          var trunc = st.trunc
          val buf = new java.lang.StringBuilder(st.buf)
          rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            val c = if (e.symbol.isEmpty) ' ' else e.symbol.charAt(0)
            len += 1
            if (first == null && (dfa != 0 || c == 'v')) {
              if (!trunc) {
                if (buf.length() < cap) buf.append(c)
                else { trunc = true; buf.setLength(0) }
              }
            }
            if (c == 'p') {
              if (dfa == 2) {
                matches += 1
                if (first == null) first = if (trunc) "" else buf.toString
              }
              dfa = 0
              if (first == null) { buf.setLength(0); trunc = false }
            } else if (c == 'c') { if (dfa == 1) dfa = 2 }
            else if (c == 'v') { if (dfa == 0) dfa = 1 }
          }
          st = PatternState(dfa, len, matches, first,
            if (first == null) buf.toString else "", first == null && trunc)
          state.update(st)
          Iterator.single(PatternRow(user, len, matches,
            if (first == null) "" else first))
        })
  }

  case class DistinctEvent(event_type: String, user_id: Long)
  case class DistinctEstimate(event_type: String, occupied: Long, estimate: Long)

  /** One item → (register j, rank rho) under the SAME portable HLL as
    * the batch rows (RelationalOps.hllRegisters: 60-bit md5-prefix
    * hash, j = h mod 4096, rho = lowest set bit of h div 4096 capped
    * at 33) — java.security MD5 of the decimal string is identical to
    * Spark's md5(cast(v as string)), so a register table folded here
    * is bit-equal to the batch fold of the same rows.
    */
  private[graft] def hllSlot(v: String): (Int, Int) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString.substring(0, 15)
    val h = java.lang.Long.parseLong(hex, 16) // 60 bits, never negative
    val sfx = h / 4096L
    val rho =
      if (sfx == 0L) 33 else math.min(java.lang.Long.numberOfTrailingZeros(sfx) + 1, 33)
    ((h % 4096L).toInt, rho)
  }

  /** Register array → estimate, mirroring RelationalOps.hllEstimate's
    * column arithmetic term for term (same association order; sp terms
    * are 2⁻³³ multiples so the sum is order-free — the reason the
    * streaming fold can match the batch shuffle bit-for-bit).
    */
  private[graft] def hllEstimateOf(regs: Array[Byte]): (Long, Long) = {
    var vp = 0L
    var sp = 0.0
    var i = 0
    while (i < regs.length) {
      if (regs(i) > 0) { vp += 1; sp += 1.0 / (1L << regs(i)).toDouble }
      i += 1
    }
    val m = 4096.0
    val alphaMM = 0.7213 / (1.0 + 1.079 / m) * m * m
    val e = alphaMM / (sp + (m - vp))
    val v = 4096L - vp
    val est = if (e <= 2.5 * m && v > 0) m * math.log(m / v.toDouble) else e
    (vp, math.floor(est + 1e-6).toLong)
  }

  /** Streaming approximate distinct-count — the DEPLOYED form of the
    * batch `agg_approx_distinct`/`agg_hll_partial_merge` registry rows:
    * a per-key HLL register array held in GroupState, folded as events
    * arrive and re-estimated per micro-batch (Update semantics, the
    * pageCusum shape). THE state-size argument is the whole point at
    * 100 TB: exact streaming distinct (dropDuplicates or a user-id set
    * in state) grows state with the distinct count — unbounded on an
    * open-web stream — while this holds EXACTLY 4096 bytes per key
    * forever, and register max is associative/commutative/idempotent,
    * so replayed micro-batches (foreachBatch at-least-once) cannot
    * corrupt the sketch. Estimates are monotone non-decreasing across
    * batches (register growth only raises both the harmonic and
    * linear-counting branches). Parity contract: the final estimate
    * equals the batch HLL fold of the union of all slices, bit-for-bit
    * (StreamingSpec pins it against RelationalOps.hllRegisters +
    * hllEstimate on the same rows).
    */
  def approxDistinct(events: Dataset[DistinctEvent]): Dataset[DistinctEstimate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[DistinctEvent], state: GroupState[Array[Byte]]) => {
          val regs = state.getOption.getOrElse(new Array[Byte](4096))
          rows.foreach { e =>
            val (j, rho) = hllSlot(e.user_id.toString)
            if (rho > regs(j)) regs(j) = rho.toByte
          }
          state.update(regs)
          val (vp, est) = hllEstimateOf(regs)
          Iterator.single(DistinctEstimate(key, vp, est))
        })
  }

  // ------------------------------------------------------- CDC apply

  case class Change(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
      event_type: String, value: Double)
  case class CdcState(us: Long, eventId: Long, value: Double, deleted: Boolean)
  case class CdcRow(user_id: Long, value: Double, live: Boolean, last_us: Long)

  /** Continuous CDC apply — the streaming twin of the batch
    * `pipeline_snapshot_upsert`: per-key latest-wins state with
    * tombstones (`error` = delete), one row emitted per touched key
    * per micro-batch carrying the post-batch state. The ordering
    * guard makes the apply correct under OUT-OF-ORDER delivery: a
    * change older than the current state (by event-time, event_id
    * tiebreak) is ignored rather than regressing the key — replaying
    * the stream in any arrival order converges to the same snapshot.
    * State is one small struct per touched key — including TOMBSTONED
    * keys, which would otherwise accumulate forever — so `ttl` bounds
    * the keyspace: when the event-time watermark passes a key's last
    * change + ttl, the state evicts (EventTimeTimeout), and the next
    * change for that key builds fresh state (re-inserts as new — the
    * ordering guard's memory is gone by design, exactly the retention
    * contract). With a TTL the caller must put `withWatermark` on the
    * stream; Spark then also drops input rows older than the
    * watermark before the stateful operator, so an eviction can never
    * be trailed by a stale resurrection. StreamingSpec pins both the
    * eviction (state row count drops) and the re-insert.
    */
  /** Exact event-time micros: Timestamp.getTime floors to millis —
    * the repo's event data is sub-millisecond (T() rebuilds exact µs
    * from the nanos parquet), so the batch twin's ordering would
    * diverge on a ms-truncated key. getNanos carries the full
    * sub-second component.
    */
  private def micros(ts: java.sql.Timestamp): Long =
    // floorDiv, not /: getNanos is always in [0, 1e9), so the whole
    // seconds must FLOOR for pre-epoch instants — plain division
    // truncates toward zero and sign-flips the sub-second part
    // (1969-12-31T23:59:59.5 would read +0.5s instead of −0.5s)
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  def cdcApply(changes: Dataset[Change],
      ttl: Option[java.time.Duration] = None): Dataset[CdcRow] = {
    import changes.sparkSession.implicits._
    val timeoutConf =
      if (ttl.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    changes
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (user: Long, rows: Iterator[Change], state: GroupState[CdcState]) => {
          if (state.hasTimedOut) {
            // retention lapsed: evict silently — the snapshot keeps the
            // last emitted row; the key's next change re-inserts fresh
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.orNull
            // no batch-local sort needed: the strictly-newer guard makes
            // the fold order-independent — the exact property the replay
            // convergence contract relies on
            rows.foreach { c =>
              val us = micros(c.ts)
              if (st == null || us > st.us || (us == st.us && c.event_id > st.eventId))
                st = CdcState(us, c.event_id, c.value, c.event_type == "error")
            }
            state.update(st)
            // timeout rides the key's own event time, not processing
            // time: retention is data-defined and replay-stable
            ttl.foreach(t => state.setTimeoutTimestamp(st.us / 1000L + t.toMillis))
            Iterator.single(CdcRow(user, st.value, !st.deleted, st.us))
          }
        })
  }
}
