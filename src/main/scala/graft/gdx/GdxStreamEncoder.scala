package graft.gdx

import java.io.{BufferedInputStream, BufferedOutputStream, DataOutputStream, File, FileInputStream, FileOutputStream, OutputStream}

import scala.collection.mutable

/** Streaming single-symbol GDX shard encoder.
  *
  * The DSv2 sharded write path previously buffered every row of a task's
  * partition in an ArrayBuffer before encoding in commit() — executor
  * memory O(partition size), at odds with the 100 TB stance. Here
  * records are delta-encoded into fixed-size blocks (GdxCodec
  * .BlockWriter — the SAME encoder the eager writer uses) that spill to
  * a temp file as they fill, so task memory is O(distinct labels + set
  * texts + one block) (the UEL dictionary, which the GDX format
  * genuinely requires a pre-pass for), independent of record count.
  *
  * Constraint handled: the section layout puts the set-text pool and
  * the block index FIRST, but texts and block metas are only known once
  * streaming ends. Blocks therefore spill (already compressed) to a temp;
  * finish() writes pool + block index to the shard, then stream-copies
  * the spilled blocks. Disk cost: one extra sequential pass.
  *
  * Input rows are expected in GDX key order — guaranteed on the write
  * path by RequiresDistributionAndOrdering (GdxWrite) — which is what
  * makes the shard's manifest [lo, hi] label range tight AND the block
  * index selective (clustered dim_1 → narrow per-block key ranges).
  * Record order in the shard is that LABEL order; it coincides with
  * UEL-index order (and the output is byte-identical to GdxCodec.write)
  * for dim ≤ 1, while deeper dims may interleave index order when a
  * label was first seen under an earlier leading group. Decode never
  * assumes index order, and delta encoding is order-agnostic
  * (GdxCodecSpec property).
  */
final class GdxStreamEncoder(finalPath: String, name: String, typ: Int, dim: Int,
    explText: String = "", userInfo: Int = 0, domains: Seq[String] = Nil,
    producer: String = "gdxpyspark", compress: Boolean = true,
    tempTag: String = "", acronyms: Seq[GdxAcronym] = Nil,
    blockSize: Int = GdxCodec.DefaultBlockSize) {

  private val uels = mutable.ArrayBuffer.empty[String]
  private val uelIndex = mutable.HashMap.empty[String, Int] // lower-cased key
  private val textPool = mutable.LinkedHashMap.empty[String, Int]

  private val tmpRecords = File.createTempFile("gdx-spill-", ".rec")
  private val spill = new BufferedOutputStream(new FileOutputStream(tmpRecords), 1 << 16)
  private val bw = new GdxCodec.BlockWriter(typ, dim, compress, blockSize, spill)
  private var count = 0
  private var loLabel: String = null
  private var hiLabel: String = null

  private def registerUel(label: String): Int = {
    require(label.length <= 63, s"UEL label longer than 63 chars: $label")
    uelIndex.getOrElseUpdate(label.toLowerCase(java.util.Locale.ROOT), { uels += label; uels.size - 1 })
  }

  def add(labels: Array[String], values: Array[Double], text: Option[String]): Unit = {
    require(labels.length == dim, s"record arity ${labels.length} != dim $dim for $name")
    val keys = new Array[Int](dim)
    var i = 0
    while (i < dim) { keys(i) = registerUel(labels(i)); i += 1 }
    if (dim > 0) {
      val l0 = labels(0).toLowerCase(java.util.Locale.ROOT)
      if (loLabel == null || l0 < loLabel) loLabel = l0
      if (hiLabel == null || l0 > hiLabel) hiLabel = l0
    }
    // explicit record cap: on highly compressible data far more than
    // 2^31 records fit under the 2 GiB data-section guard, and a
    // wrapped Int would only surface hours later as a confusing
    // negative-varint failure inside finish() — fail here, at the
    // record that crossed the line, with the actionable message
    require(count < Int.MaxValue,
      s"gdx shard exceeds ${Int.MaxValue} records — lower records per shard")
    bw.add(keys, values,
      text.map(t => textPool.getOrElseUpdate(t, textPool.size) + 1).getOrElse(0))
    count += 1
  }

  def records: Long = count.toLong
  def labelRange: (Option[String], Option[String]) = (Option(loLabel), Option(hiLabel))

  /** Write section header (pool + block index), stream-copy the spilled
    * blocks, assemble the shard file, delete temps. The shard is
    * assembled under a `.inprogress` suffix and atomically renamed into
    * place, so directory listers (the batch reader's shardsOf glob AND
    * the file-arrival micro-batch stream) never observe a torn shard —
    * a shard either exists completely or not at all.
    */
  def finish(): Unit = {
    val metas = bw.finish()
    spill.close()
    var fullyWritten = false
    try {
      // section header (pool + block index) is built in memory — it is
      // O(texts + blocks), tiny next to the spilled blob
      val hdrBuf = new java.io.ByteArrayOutputStream()
      val hdr = new DataOutputStream(hdrBuf)
      GdxCodec.writeSectionHeader(hdr, textPool.keys, metas)
      hdr.flush()
      val dataLen = hdrBuf.size().toLong + tmpRecords.length()
      require(dataLen <= Int.MaxValue,
        s"gdx shard data section exceeds 2 GiB ($dataLen bytes) — lower records per shard")
      val out = new DataOutputStream(
        new BufferedOutputStream(new FileOutputStream(inProgress), 1 << 16))
      try {
        GdxCodec.writeFile(out, producer, compress, uels, acronyms,
            Seq(GdxSymbol(name, typ, dim, explText, userInfo, domains))) { _ =>
          GdxCodec.Section(count, dataLen.toInt, o => { hdrBuf.writeTo(o); copyTo(tmpRecords, o) })
        }
      } finally out.close()
      // idempotent epoch re-run overwrites its own shard ATOMICALLY:
      // a window with no file at finalPath would make a committedOnly
      // reader replaying a manifest-recorded offset throw
      // committed-data-lost (and a listing reader silently skip the
      // shard). publishAtomically carries the full fallback
      // discipline: capability-exception-only fallback, no manual
      // delete+rename pair, transient errors propagate with dst
      // intact, and on publish failure the in-progress file is the
      // only copy of the shard — the finally below must not remove it.
      fullyWritten = true
      GdxCodec.publishAtomically(inProgress, new File(finalPath))
    } finally {
      tmpRecords.delete()
      if (!fullyWritten) inProgress.delete()
    }
  }

  // tempTag makes the in-progress path attempt-unique when several task
  // attempts race toward the same deterministic finalPath (streaming
  // epochs): each assembles privately; the atomic rename is last-wins
  private def inProgress: File = new File(finalPath + ".inprogress" + tempTag)

  /** Abandon the stream and remove temp files (task abort path). */
  def dispose(): Unit = {
    try spill.close() catch { case _: Throwable => () }
    tmpRecords.delete()
    inProgress.delete()
  }

  private def copyTo(src: File, out: OutputStream): Unit = {
    val in = new BufferedInputStream(new FileInputStream(src), 1 << 16)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { if (n > 0) out.write(buf, 0, n); n = in.read(buf) }
    } finally in.close()
  }
}
