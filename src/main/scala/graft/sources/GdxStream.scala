package graft.sources

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType

/** Offset of the GDX file-arrival stream: the set of shard FILE NAMES
  * already processed. Name-set (not count or high-watermark) because
  * shard names carry task ids, so arrival order is not lexicographic
  * and a late-arriving writer must still be picked up exactly once.
  * Serialized as a sorted JSON string array (same minimal escaping as
  * the write manifest).
  */
case class GdxShardOffset(files: Seq[String]) extends Offset {
  override def json: String =
    files.sorted.map(f => "\"" + GdxManifest.js(f) + "\"").mkString("[", ",", "]")
}

object GdxShardOffset {
  private val entry = """"((?:[^"\\]|\\.)*)"""".r
  def fromJson(j: String): GdxShardOffset =
    GdxShardOffset(entry.findAllMatchIn(j).map(m => GdxManifest.unjs(m.group(1))).toSeq)
}

/** O(1) offset for `committedOnly` mode: the number of MANIFEST
  * ENTRIES processed. The manifest is append-only under the streaming
  * sink (entries preserved verbatim on append, idempotent re-commits
  * skip existing files), so a prefix length identifies the processed
  * set exactly — where the name-set offset re-serializes every
  * processed shard name into the offset WAL each trigger, growing the
  * log without bound at the connector's own O(10⁵)-shard target. The
  * listing mode KEEPS name sets: arrival there is genuinely unordered
  * (task-id names, late writers), so no watermark is sound — the same
  * trade Spark's own FileStreamSource makes with its seen-files log.
  */
case class GdxManifestOffset(n: Int) extends Offset {
  override def json: String = s"""{"n":$n}"""
}

/** Streaming ingestion of a sharded GDX directory (readStream.format
  * ("gdx")): each micro-batch plans one InputPartition per NEWLY
  * ARRIVED shard file — the natural continuation of the sharded write
  * layout, where independent producers drop self-contained shard-*.gdx
  * files (own UEL table, own records) into the dataset directory. The
  * existing batch reader factory decodes each shard unchanged, so
  * batch and streaming reads share one decode path (batch parity is
  * asserted in StreamingSpec). Exactly-once at file granularity for
  * shards that stay put: offsets are processed-name sets and shards
  * are immutable once published (atomic rename). Caveat, inherent to
  * directory-arrival sources: a shard published by a task of an
  * upstream streaming epoch that later ABORTS may be listed, consumed,
  * and then deleted — replay skips the vanished file. For
  * exactly-once under such upstream failure,
  * `.option("committedOnly", "true")` makes shard membership the
  * MANIFEST, not the listing: task-published files from an
  * uncommitted or aborted upstream epoch stay invisible until their
  * epoch's manifest append publishes them — the streaming analog of
  * the batch reader's committed-membership rule. In that mode a
  * manifest-recorded shard that has vanished is committed-data loss
  * and fails loudly instead of being skipped.
  */
class GdxMicroBatchStream(path: String, symbol: String, fullSchema: StructType,
    required: StructType, pushed: Seq[DimLabelFilter],
    raw: Boolean = false, committedOnly: Boolean = false) extends MicroBatchStream {

  require(symbol != GdxTable.CatalogSymbol, "gdx: the catalog view is not streamable")
  require(symbol != GdxTable.UelSymbol, "gdx: the UEL view is not streamable")

  // listing-mode arrival set only: the committedOnly branch reads the
  // manifest directly in latestOffset (a prefix-length offset), so this
  // is never called there
  private def currentFiles: Seq[String] =
    GdxTable.shardsOf(path).map(p => new java.io.File(p).getName)

  // Empty symbol = "the dataset's first symbol": resolved ONCE, from
  // the first shard that arrives, and cached for the stream's lifetime
  // — the batch scan resolves the name once at plan time for the same
  // reason (GdxScan.planInputPartitions): per-shard resolution would
  // let each partition decode a DIFFERENT first symbol under one
  // schema on hand-assembled or multi-symbol dirs, silently mixing
  // rows (or crashing the dim_i emitter when dims differ).
  private var resolvedSymbol: String = symbol
  private def resolveOnce(firstShard: String): String = {
    if (resolvedSymbol.isEmpty)
      resolvedSymbol =
        GdxTable.resolveSymbol(graft.gdx.GdxCodec.readHeader(firstShard), "", firstShard).name
    resolvedSymbol
  }

  override def initialOffset(): Offset =
    if (committedOnly) GdxManifestOffset(0) else GdxShardOffset(Nil)

  override def latestOffset(): Offset =
    if (committedOnly)
      GdxManifestOffset(GdxManifest.files(path).map(_.size).getOrElse(0))
    else GdxShardOffset(currentFiles)

  override def deserializeOffset(json: String): Offset =
    if (json.trim.startsWith("{"))
      GdxManifestOffset("""\d+""".r.findFirstIn(json).map(_.toInt).getOrElse(0))
    else GdxShardOffset.fromJson(json)

  /** The batch's file names under either offset scheme. Mixed
    * (name-set start, manifest end) handles a checkpoint written by
    * the older name-set code resuming under committedOnly.
    */
  private def batchFiles(start: Offset, end: Offset): Seq[String] = (start, end) match {
    case (GdxManifestOffset(a), GdxManifestOffset(b)) =>
      val all = GdxManifest.files(path).getOrElse(Nil)
      if (all.size < b)
        throw new IllegalStateException(
          s"gdx stream: manifest shrank below a recorded offset ($b > ${all.size}) " +
            "— committed data lost or manifest rewritten mid-stream")
      all.slice(a, b)
    case (GdxShardOffset(fs), GdxManifestOffset(b)) =>
      val seen = fs.toSet
      GdxManifest.files(path).getOrElse(Nil).take(b).filterNot(seen)
    case (GdxShardOffset(fs), GdxShardOffset(es)) =>
      val seen = fs.toSet
      es.filterNot(seen)
    case (s0, e0) =>
      // (manifest start, name-set end): a checkpoint written under
      // committedOnly=true restarted with the option dropped — the
      // prefix offset is meaningless against listing arrival, so fail
      // with the actual conflict rather than a ClassCastException
      throw new IllegalStateException(
        "gdx stream: offset scheme changed mid-stream " +
          s"(${s0.getClass.getSimpleName} -> ${e0.getClass.getSimpleName}) — " +
          "a checkpoint written under committedOnly=true cannot resume " +
          "with committedOnly=false; restore the option or start a fresh checkpoint")
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val dir = new java.io.File(path)
    batchFiles(start, end).sorted.flatMap { n =>
      val full = if (dir.isDirectory) new java.io.File(dir, n).getPath else path
      if (new java.io.File(full).isFile)
        Some(GdxInputPartition(full, resolveOnce(full)): InputPartition)
      else if (committedOnly)
        // the manifest said this shard was committed: its absence is
        // data loss, not an in-flight producer racing the listing
        throw new IllegalStateException(
          s"gdx stream: committed shard '$n' vanished from $path " +
            "(committed data lost or manifest corrupted)")
      else
        // a shard recorded in an offset can vanish before replay (an
        // upstream epoch abort deleted its task-published files): skip
        // it rather than wedge the stream — directory-arrival sources
        // are at-least-once over such producers by nature
        None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GdxReaderFactory(required, pushed, raw)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}
