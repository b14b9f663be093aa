package graft.gdx

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException, FileInputStream, FileOutputStream, InputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.util.zip.{Inflater, InflaterInputStream}

import net.jpountz.lz4.LZ4Factory
import net.jpountz.xxhash.{XXHash32, XXHashFactory}

/** Binary codec for the graft GDX container.
  *
  * Structural features follow the GDX data-section design (SPEC
  * GAMS-dev/gdx; SURVEY.md §1.1): per-symbol sparse coordinate lists
  * with delta-encoded keys (only the first-changed dimension onward is
  * rewritten per record), one global ordered UEL table, a file-level
  * acronym table, special-value sentinels in-band, optional LZ4
  * compression per data block. The byte layout is re-derived (no
  * GAMS-produced files exist in this environment — SURVEY.md §0) and
  * gated on round-trip property tests (GdxCodecSpec).
  *
  * Layout (v4, magic "GRFTGDX4"):
  * {{{
  * magic "GRFTGDX4" | producer UTF | codec byte (0 = none, 1 = LZ4)
  * uelCount varint  | uel UTF ×N
  * acrCount varint  | per acronym: index varint, name UTF, text UTF
  * symCount varint
  * per symbol:
  *   name UTF | explText UTF | typ byte | dim byte | userInfo varint
  *   domains UTF ×dim | recordCount varint | dataLen varint | data section
  * }}}
  * Data section (dataLen bytes):
  * {{{
  * textPoolCount varint | text UTF ×N          (set associated texts)
  * blockCount varint
  * per block: recCount varint
  *          | per dim d: minKey_d varint, maxKey_d varint   (zone map)
  *          | blobLen varint
  * block blobs back-to-back
  * }}}
  * With codec 0 a blob is the block's raw record bytes. With codec 1 it
  * is
  * {{{
  * rawLen int32 (big-endian) | XXH32(raw bytes, seed 0) int32 | LZ4 block
  * }}}
  * and the reader checks rawLen against the block's record count (at
  * most [[maxRecordBytes]] each) and [[MaxBlockRawBytes]] before it
  * allocates anything, then decompresses the whole block with one call
  * and checks the length and the checksum, so a damaged block fails as
  * an `IOException` naming the file and the symbol instead of decoding
  * to wrong records.
  *
  * Inside a block, per record: firstChanged byte, then varint keys for
  * dims firstChanged..dim-1, then values (set: varint textIndex+1 or 0;
  * parameter: 1 double; var/equ: 5 doubles). Doubles are raw IEEE bits.
  * Delta encoding RESETS at each block boundary, so every block is
  * independently decodable — that is what buys the sparse BLOCK INDEX:
  * each block carries a PER-DIMENSION (min,max) UEL-index ZONE MAP
  * (2·dim varints — still noise next to 4096 records), and a pushed
  * label filter on ANY dimension skips whole blocks without reading
  * them. dim_1 pruning is range-exact (writer paths emit sorted,
  * dim_1-clustered records, so a one-label slice decodes ~one block —
  * the sorted-first-dim range skip a 100 TB slice needs); dim_2+ zone
  * maps prune exactly like parquet column min/max stats — best when a
  * dim_1 run spans many blocks, never worse than no index (superset
  * pass, the per-record filter still applies). Symbol data sections
  * are independently decodable given the UEL table — the DSv2 scan
  * plans one InputPartition per symbol and skips other sections via
  * dataLen without decompressing them.
  *
  * Older files remain readable; there the header byte is a compressed
  * flag whose 1 means zlib deflate, read as [[CodecZlib]], which no
  * writer emits. v3 ("GRFTGDX3") has the v4 layout with each
  * compressed blob one deflate stream; v2 ("GRFTGDX2") also carries
  * dim_1 (min,max) only in its block index, so dims 2+ degrade to full
  * range; v1 ("GRFTGDX1") has no acronym table and one deflate stream
  * per symbol with the text pool inside, no block index. The writer
  * always emits v4.
  *
  * Record decode runs on one [[ByteCursor]] per stream, a reusable,
  * unsynchronized cursor that parses bytes, varints, IEEE doubles and
  * value skips straight out of an array. Each matching v2–v4 block is
  * read whole with one bulk read; the cursor then reads a raw blob, or
  * a decoded LZ4 block, in place, and refills its window from a zlib
  * blob's inflater. For v1 it refills from the section stream. All four
  * versions share the one record decode; a read past the data throws
  * `EOFException`.
  */
object GdxCodec {

  val Magic: Array[Byte] = "GRFTGDX1".getBytes(StandardCharsets.US_ASCII)
  val Magic2: Array[Byte] = "GRFTGDX2".getBytes(StandardCharsets.US_ASCII)
  val Magic3: Array[Byte] = "GRFTGDX3".getBytes(StandardCharsets.US_ASCII)
  val Magic4: Array[Byte] = "GRFTGDX4".getBytes(StandardCharsets.US_ASCII)

  /** Block codec ids: the v4 header byte. */
  val CodecNone = 0
  val CodecLz4 = 1
  /** A v1–v3 header's compressed flag: zlib deflate, read-only. */
  val CodecZlib = -1

  /** Byte width of one record's VALUE field(s) on the wire, per symbol
    * type: sets/aliases carry none (their text index lives with the
    * keys), parameters one IEEE double, variables/equations the 5-field
    * level/marginal/lower/upper/scale block. The single source of truth
    * for BOTH `readValuesInto` (reads width/8 doubles) and `skipValues`
    * (skips width bytes) on the lazy scan path — one definition so the
    * two can never silently desync (GdxCodecSpec pins the interleave).
    */
  def valueByteWidth(typ: Int): Int = typ match {
    case SymbolType.Set | SymbolType.Alias => 0
    case SymbolType.Parameter => 8
    case _ => 40
  }

  /** Records per data block (v2). Small enough that a block decodes in
    * L2-cache-sized chunks and a one-label slice decodes ~one block;
    * large enough that the per-block index (4 varints) is noise
    * (<0.1% of encoded size at typical ~20-60 B/record).
    */
  val DefaultBlockSize = 4096

  /** Largest symbol arity a header may declare (GMS_MAX_INDEX_DIM). */
  val MaxDim = 20

  /** Widest encoding of one record: the firstChanged byte, `dim` varint
    * keys of at most 5 bytes, and at most 40 value bytes.
    */
  def maxRecordBytes(dim: Int): Long = 1L + 5L * dim + 40

  /** Cap on one block's raw bytes. The writer cuts a block before it
    * would pass this, whatever its `blockSize`; a reader rejects an LZ4
    * block that claims more. 4096 records of the widest kind take 564 KiB.
    */
  val MaxBlockRawBytes: Int = 1 << 24

  /** LZ4 block codec. The JNI build wraps liblz4's bounds-checked
    * `LZ4_decompress_safe`; without it, the pure-Java build whose every
    * access is JVM bounds-checked (not the `sun.misc.Unsafe` one).
    */
  private lazy val lz4: LZ4Factory =
    try LZ4Factory.nativeInstance() catch { case _: Throwable => LZ4Factory.safeInstance() }
  private lazy val xxh32: XXHash32 = XXHashFactory.fastestInstance().hash32()
  private val ChecksumSeed = 0

  /** Bytes the record cursor pulls from its source per refill. */
  private[gdx] val CursorWindow = 1 << 15

  /** Total records decoded across all record streams in this JVM —
    * observability hook for the block-skip contract (GdxSourceSpec
    * asserts a pushed dim_1 slice decodes a strict subset). A LongAdder
    * so concurrent partition readers never contend; each stream adds
    * its count once per block and on close, not once per record.
    */
  private[graft] val decodedRecords = new java.util.concurrent.atomic.LongAdder

  // ------------------------------------------------------------ varint

  private[gdx] def writeVarInt(out: DataOutputStream, value: Int): Unit = {
    var v = value
    require(v >= 0, s"varint must be non-negative: $v")
    while ((v & ~0x7f) != 0) {
      out.writeByte((v & 0x7f) | 0x80)
      v >>>= 7
    }
    out.writeByte(v)
  }

  private[gdx] def readVarInt(in: DataInputStream): Int = {
    var shift = 0
    var result = 0
    var b = in.readByte()
    while ((b & 0x80) != 0) {
      result |= (b & 0x7f) << shift
      shift += 7
      // unbounded shift would WRAP (JVM uses the low 5 bits), turning a
      // corrupt varint into a silently wrong count far from the damage
      if (shift > 28)
        throw new java.io.IOException("gdx: malformed varint (>5 bytes)")
      b = in.readByte()
    }
    // at shift==28 only bits 0-2 of the final byte fit in a
    // non-negative Int (writeVarInt encodes values >= 0 only); bit 3
    // would flip the sign and bits 4-6 shift out entirely — the same
    // silently-wrong-count failure the >5-byte guard exists for, just
    // one byte earlier
    if (shift == 28 && (b & 0x78) != 0)
      throw new java.io.IOException("gdx: malformed varint (value overflows Int)")
    result | ((b & 0x7f) << shift)
  }

  /** The record decoder's input: a reusable, unsynchronized cursor
    * over an array. `reset(bytes, len)` points it at a whole block
    * already in memory; `reset(in)` at a stream (a v1 section, or one
    * zlib block's inflater) that it refills `window` bytes at a time
    * with one bulk `read`. Either way a record costs array loads
    * instead of one synchronized stream call per byte. `what` names the
    * data in error messages.
    */
  private[gdx] final class ByteCursor(what: String, window: Int = CursorWindow) {
    // allocated on the first stream source: LZ4 and raw blocks never need it
    private var windowBuf: Array[Byte] = null
    private var buf: Array[Byte] = null
    private var pos = 0
    private var lim = 0
    private var src: InputStream = null

    def reset(in: InputStream): Unit = {
      if (windowBuf == null) windowBuf = new Array[Byte](window)
      buf = windowBuf; src = in; pos = 0; lim = 0
    }

    /** Read `bytes(0 until len)` in place; the end of them is the end of the data. */
    def reset(bytes: Array[Byte], len: Int): Unit = {
      buf = bytes; src = null; pos = 0; lim = len
    }

    /** Refill the window; false at the end of the source. */
    private def refill(): Boolean = src != null && {
      var n = 0
      while (n == 0) n = src.read(buf, 0, buf.length)
      if (n < 0) false else { pos = 0; lim = n; true }
    }

    private def fill(): Unit =
      if (!refill()) throw new EOFException(s"gdx: truncated record data in $what")

    def byte(): Byte = {
      if (pos == lim) fill()
      val b = buf(pos)
      pos += 1
      b
    }

    /** [[readVarInt]] on the window, with the same two guards. */
    def varInt(): Int = {
      var shift = 0
      var result = 0
      var b = byte()
      while ((b & 0x80) != 0) {
        result |= (b & 0x7f) << shift
        shift += 7
        if (shift > 28)
          throw new java.io.IOException("gdx: malformed varint (>5 bytes)")
        b = byte()
      }
      if (shift == 28 && (b & 0x78) != 0)
        throw new java.io.IOException("gdx: malformed varint (value overflows Int)")
      result | ((b & 0x7f) << shift)
    }

    /** Big-endian 8 bytes, the `DataOutputStream.writeDouble` layout. */
    def long(): Long = {
      var v = 0L
      if (lim - pos >= 8) {
        val end = pos + 8
        while (pos < end) { v = (v << 8) | (buf(pos) & 0xff); pos += 1 }
      } else {
        var i = 0
        while (i < 8) { v = (v << 8) | (byte() & 0xff); i += 1 }
      }
      v
    }

    def skip(n: Int): Unit = {
      var left = n
      while (left > 0) {
        if (pos == lim) fill()
        val k = math.min(left, lim - pos)
        pos += k
        left -= k
      }
    }

    /** The window as a plain stream (-1 at the source's end), for the
      * few fields parsed with `DataInputStream` (the v1 text pool).
      */
    def asStream: InputStream = new InputStream {
      override def read(): Int =
        if (pos < lim || refill()) { val b = buf(pos) & 0xff; pos += 1; b }
        else -1
    }
  }

  // ------------------------------------------------------------ publish

  /** Publish a fully-written temp file over `dst`, atomically where the
    * filesystem supports it. THE one publish implementation — the codec
    * writer, the streaming shard encoder, and the manifest writer all
    * route here so the fallback discipline cannot drift between copies.
    *
    * Semantics:
    *  - ATOMIC_MOVE first; readers never observe a missing/partial dst.
    *  - Fallback ONLY on CAPABILITY exceptions (AtomicMoveNotSupported,
    *    plus FileAlreadyExists/AccessDenied — ATOMIC_MOVE ignores
    *    REPLACE_EXISTING per the Files.move spec, and providers where
    *    dst exists signal it with those). A TRANSIENT IOException (EIO,
    *    a concurrent truncate having deleted the temp) propagates with
    *    dst INTACT.
    *  - The fallback is a plain REPLACE_EXISTING move — never a manual
    *    dst.delete() + rename pair, whose failure after the delete
    *    would leave NEITHER file.
    *  - If even the fallback fails, the exception names `tmp`, which is
    *    KEPT on disk: at that point it holds the only copy of the new
    *    bytes, and a caller's cleanup must not remove it (callers gate
    *    their temp-deletion on this method not having thrown).
    */
  private[graft] def publishAtomically(tmp: java.io.File, dst: java.io.File): Unit = {
    try java.nio.file.Files.move(tmp.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e @ (_: java.nio.file.AtomicMoveNotSupportedException |
                _: java.nio.file.FileAlreadyExistsException |
                _: java.nio.file.AccessDeniedException) =>
        if (!tmp.exists()) throw e
        try java.nio.file.Files.move(tmp.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        catch {
          case e2: java.io.IOException =>
            throw new java.io.IOException(
              s"gdx: cannot publish $dst — new bytes kept at $tmp", e2)
        }
    }
  }

  // ------------------------------------------------------------ write

  def write(container: GdxContainer, path: String, compress: Boolean = true,
      blockSize: Int = DefaultBlockSize): Unit = {
    // validate BEFORE any byte is produced, and write via temp + atomic
    // rename (the GdxStreamEncoder discipline): streaming straight to
    // the destination would leave a torn file over a pre-existing good
    // one if anything throws mid-write.
    require(blockSize > 0, s"gdx: blockSize must be positive, got $blockSize")
    container.uels.foreach { u =>
      require(u.length <= 63, s"UEL label longer than 63 chars: $u")
    }
    require(container.acronyms.map(_.index).distinct.size == container.acronyms.size,
      s"gdx: duplicate acronym indices: ${container.acronyms.map(_.index).mkString(",")}")
    container.symbols.foreach { sym =>
      sym.records.foreach { r =>
        r.keys.foreach(k => require(k >= 0 && k < container.uels.size,
          s"gdx: record key index $k outside UEL table (${container.uels.size}) " +
            s"in symbol ${sym.name} — a reader would crash on label lookup"))
      }
    }
    val tmp = new java.io.File(path + s".inprogress-${java.util.UUID.randomUUID().toString.take(8)}")
    var fullyWritten = false
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(tmp), 1 << 16))
    try {
      writeFile(out, container.producer, compress, container.uels, container.acronyms,
          container.symbols) { sym =>
        val sorted = sortRecords(sym.records)
        val blob = encodeRecords(sym, sorted, compress, blockSize)
        Section(sorted.size, blob.length, _.write(blob))
      }
      out.close()
      fullyWritten = true
      publishAtomically(tmp, new java.io.File(path))
    } finally {
      out.close() // no-op if already closed
      // a partial temp (write-body failure) is worthless — remove it;
      // after a FAILED publish of a fully-written temp, the temp is
      // the only copy of the new bytes (publishAtomically names it in
      // the exception) — keep it. After a successful publish the move
      // consumed it and delete() is a no-op.
      if (!fullyWritten) tmp.delete()
    }
  }

  /** One symbol's data section as [[writeFile]] takes it: its record
    * count, its length in bytes, and how to write it.
    */
  private[gdx] final case class Section(records: Int, dataLen: Int, writeTo: java.io.OutputStream => Unit)

  /** Serialize a whole file: magic, producer, codec byte, UEL table,
    * acronym table, then per symbol its catalog entry and
    * `section(symbol)`. The eager writer and the streaming shard
    * encoder both write through here, so the format version and the
    * codec byte are set in this one place.
    */
  private[gdx] def writeFile(out: DataOutputStream, producer: String, compress: Boolean,
      uels: collection.Seq[String], acronyms: Seq[GdxAcronym], symbols: Seq[GdxSymbol])(
      section: GdxSymbol => Section): Unit = {
    out.write(Magic4)
    out.writeUTF(producer)
    out.writeByte(if (compress) CodecLz4 else CodecNone)
    writeVarInt(out, uels.size)
    uels.foreach(out.writeUTF)
    writeVarInt(out, acronyms.size)
    acronyms.foreach { a => writeVarInt(out, a.index); out.writeUTF(a.name); out.writeUTF(a.text) }
    writeVarInt(out, symbols.size)
    symbols.foreach { sym =>
      out.writeUTF(sym.name)
      out.writeUTF(sym.explText)
      out.writeByte(sym.typ)
      out.writeByte(sym.dim)
      writeVarInt(out, sym.userInfo)
      val doms = if (sym.domains.size == sym.dim) sym.domains else Seq.fill(sym.dim)("*")
      doms.foreach(out.writeUTF)
      val s = section(sym)
      writeVarInt(out, s.records)
      writeVarInt(out, s.dataLen)
      s.writeTo(out)
    }
  }

  /** Record order is WRITER-DEPENDENT: GdxBuilder (this path) emits
    * UEL-index-sorted records — lexicographic by key tuple — which
    * maximizes delta-encoding wins; GdxStreamEncoder's sharded writes
    * emit arrival/label order. Readers must NOT assume index order
    * (no sorted-scan early termination): delta encoding itself is
    * order-agnostic — it only compresses better when sorted.
    */
  def sortRecords(records: Vector[GdxRecord]): Vector[GdxRecord] =
    records.sortWith { (a, b) =>
      val n = a.keys.length
      var i = 0
      while (i < n && a.keys(i) == b.keys(i)) i += 1
      i < n && a.keys(i) < b.keys(i)
    }

  /** One block's index entry: record count, per-dimension UEL-index
    * zone map (mins(d)..maxs(d) — v2 files carry dim_1 only, the rest
    * degrade to full range), and the (possibly compressed) blob length
    * in bytes.
    */
  private[gdx] final case class BlockMeta(recCount: Int, mins: Vector[Int],
      maxs: Vector[Int], len: Int)

  /** Shared per-record block encoder: delta-encodes records into
    * independently decodable fixed-record-count blocks (LZ4-compressed
    * when `compress`), tracking each block's per-dim key range. ONE
    * implementation for the eager writer and the streaming shard
    * encoder, so the two paths stay byte-identical for
    * identically-ordered input (GdxStreamEncoderSpec pins this). The
    * caller owns the text pool (pool ids arrive here pre-resolved) and
    * writes the section header; this class only emits block blobs to
    * `sink` and returns their index. One raw buffer and one blob buffer
    * serve every block.
    */
  private[gdx] final class BlockWriter(typ: Int, dim: Int, compress: Boolean,
      blockSize: Int, sink: java.io.OutputStream) {
    require(blockSize > 0, s"gdx: blockSize must be positive, got $blockSize")
    private val metas = Vector.newBuilder[BlockMeta]
    private val cur = new RawBlock
    private lazy val compressor = lz4.fastCompressor()
    private var blob = new Array[Byte](0)
    // a block is cut early once one more record could pass the raw cap
    private val cutAt = MaxBlockRawBytes - maxRecordBytes(dim)
    private var prev: Array[Int] = null
    private var count = 0
    // per-dim zone map of the in-flight block
    private val minD = Array.fill(math.max(dim, 1))(Int.MaxValue)
    private val maxD = Array.fill(math.max(dim, 1))(-1)

    /** `textCode` = pool index + 1, or 0 for no text (sets only). */
    def add(keys: Array[Int], values: Array[Double], textCode: Int): Unit = {
      require(keys.length == dim, s"record arity ${keys.length} != dim $dim")
      val first =
        if (prev == null) 0
        else {
          var i = 0
          while (i < dim && prev(i) == keys(i)) i += 1
          i
        }
      cur.byte(first)
      var i = first
      while (i < dim) { cur.varInt(keys(i)); i += 1 }
      typ match {
        case SymbolType.Set | SymbolType.Alias =>
          cur.varInt(textCode)
        case SymbolType.Parameter =>
          cur.double(if (values.nonEmpty) values(0) else 0.0)
        case _ =>
          var f = 0
          while (f < 5) {
            cur.double(if (f < values.length) values(f) else 0.0); f += 1
          }
      }
      prev = keys
      var d = 0
      while (d < dim) {
        if (keys(d) < minD(d)) minD(d) = keys(d)
        if (keys(d) > maxD(d)) maxD(d) = keys(d)
        d += 1
      }
      count += 1
      if (count == blockSize || cur.size > cutAt) flushBlock()
    }

    private def flushBlock(): Unit = if (count > 0) {
      val raw = cur.bytes
      val rawLen = cur.size
      val blobLen =
        if (compress) {
          val need = 8 + compressor.maxCompressedLength(rawLen)
          blob = atLeast(blob, need)
          ByteBuffer.wrap(blob).putInt(rawLen).putInt(xxh32.hash(raw, 0, rawLen, ChecksumSeed))
          val n = 8 + compressor.compress(raw, 0, rawLen, blob, 8, need - 8)
          sink.write(blob, 0, n)
          n
        } else {
          sink.write(raw, 0, rawLen)
          rawLen
        }
      metas += BlockMeta(count,
        Vector.tabulate(dim)(minD(_)), Vector.tabulate(dim)(maxD(_)), blobLen)
      cur.size = 0
      // delta reset: every block decodes independently (the skip contract)
      prev = null
      count = 0
      java.util.Arrays.fill(minD, Int.MaxValue)
      java.util.Arrays.fill(maxD, -1)
    }

    /** Flush the trailing partial block and return the block index. */
    def finish(): Vector[BlockMeta] = { flushBlock(); metas.result() }
  }

  /** `a`, or a new array with room for `n` bytes plus an eighth: block
    * sizes wander by a few bytes, which should not cost a reallocation
    * each.
    */
  private def atLeast(a: Array[Byte], n: Int): Array[Byte] =
    if (a.length >= n) a else new Array[Byte](math.min(n + (n >> 3).toLong, Int.MaxValue - 8L).toInt)

  /** The in-flight block's raw record bytes: a growable array written
    * in the [[writeVarInt]] and `DataOutputStream.writeDouble` layouts,
    * without a synchronized stream call per field, and read in place.
    */
  private final class RawBlock {
    var bytes = new Array[Byte](1 << 12)
    var size = 0

    private def room(n: Int): Unit =
      if (size + n > bytes.length)
        bytes = java.util.Arrays.copyOf(bytes, math.max(size + n, bytes.length * 2))

    def byte(b: Int): Unit = { room(1); bytes(size) = b.toByte; size += 1 }

    def varInt(value: Int): Unit = {
      require(value >= 0, s"varint must be non-negative: $value")
      room(5)
      var v = value
      while ((v & ~0x7f) != 0) { bytes(size) = ((v & 0x7f) | 0x80).toByte; size += 1; v >>>= 7 }
      bytes(size) = v.toByte
      size += 1
    }

    def double(d: Double): Unit = {
      room(8)
      val v = java.lang.Double.doubleToLongBits(d)
      var shift = 56
      while (shift >= 0) { bytes(size) = (v >>> shift).toByte; size += 1; shift -= 8 }
    }
  }

  /** Serialize a v3/v4 data-section header (text pool + block index
    * with per-dim zone maps).
    */
  private[gdx] def writeSectionHeader(d: DataOutputStream,
      texts: Iterable[String], metas: Seq[BlockMeta]): Unit = {
    writeVarInt(d, texts.size)
    texts.foreach(d.writeUTF)
    writeVarInt(d, metas.size)
    metas.foreach { m =>
      writeVarInt(d, m.recCount)
      var i = 0
      while (i < m.mins.length) {
        writeVarInt(d, m.mins(i))
        writeVarInt(d, m.maxs(i))
        i += 1
      }
      writeVarInt(d, m.len)
    }
  }

  private def encodeRecords(sym: GdxSymbol, sorted: Vector[GdxRecord],
      compress: Boolean, blockSize: Int): Array[Byte] = {
    // set associated texts: per-symbol text pool, referenced by index
    val textPool = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    sorted.foreach(_.text.foreach(t => textPool.getOrElseUpdate(t, textPool.size)))
    val blocksBuf = new ByteArrayOutputStream()
    val bw = new BlockWriter(sym.typ, sym.dim, compress, blockSize, blocksBuf)
    sorted.foreach { r =>
      require(r.keys.length == sym.dim, s"record dim mismatch in ${sym.name}")
      bw.add(r.keys, r.values, r.text.map(textPool(_) + 1).getOrElse(0))
    }
    val metas = bw.finish()
    val raw = new ByteArrayOutputStream()
    val d = new DataOutputStream(raw)
    writeSectionHeader(d, textPool.keys, metas)
    d.flush()
    blocksBuf.writeTo(raw)
    raw.toByteArray
  }

  // ------------------------------------------------------------ read

  /** Catalog entry: symbol metadata + the byte offset/length of its data
    * blob, so scans can seek straight to one symbol.
    */
  final case class SymbolMeta(name: String, typ: Int, dim: Int, explText: String,
      userInfo: Int, domains: Seq[String], records: Int, offset: Long, dataLen: Int)

  /** `codec` is the block codec: the v4 header byte as stored (a
    * record stream rejects an unknown one), or for v1–v3 [[CodecZlib]]
    * or [[CodecNone]] from the compressed flag.
    */
  final case class Header(producer: String, codec: Int,
      uels: IndexedSeq[String], metas: Vector[SymbolMeta],
      version: Int, acronyms: Vector[GdxAcronym])

  /** Read header, UEL table, acronym table and symbol metas; data blobs
    * are skipped (cheap catalog read — mirrors
    * gdxSystemInfo/gdxSymbolInfo/gdxAcronymGetInfo).
    */
  def readHeader(path: String): Header = {
    val cin = new CountingInputStream(new BufferedInputStream(new FileInputStream(path), 1 << 16))
    val in = new DataInputStream(cin)
    try {
      val magic = new Array[Byte](Magic.length)
      in.readFully(magic)
      val version =
        if (magic.sameElements(Magic4)) 4
        else if (magic.sameElements(Magic3)) 3
        else if (magic.sameElements(Magic2)) 2
        else if (magic.sameElements(Magic)) 1
        else throw new IllegalArgumentException(s"not a graft GDX file: $path")
      val producer = in.readUTF()
      val codec =
        if (version >= 4) in.readUnsignedByte()
        else if (in.readBoolean()) CodecZlib
        else CodecNone
      val nUels = readVarInt(in)
      val uels = Vector.fill(nUels)(in.readUTF())
      val acronyms =
        if (version >= 2)
          Vector.fill(readVarInt(in))(GdxAcronym(readVarInt(in), in.readUTF(), in.readUTF()))
        else Vector.empty
      val nSyms = readVarInt(in)
      val metas = Vector.fill(nSyms) {
        val name = in.readUTF()
        val expl = in.readUTF()
        val typ = in.readByte().toInt
        val dim = in.readByte().toInt
        // a hostile dim would otherwise surface far away, as a
        // NegativeArraySizeException in the record stream
        if (dim < 0 || dim > MaxDim)
          throw new java.io.IOException(
            s"gdx: $path: symbol $name declares dim $dim, outside 0..$MaxDim")
        val userInfo = readVarInt(in)
        val domains = Seq.fill(dim)(in.readUTF())
        val nRec = readVarInt(in)
        val dataLen = readVarInt(in)
        val offset = cin.count
        var skipped = 0L
        while (skipped < dataLen) {
          val s = in.skip(dataLen - skipped)
          if (s <= 0) throw new EOFException(s"truncated data blob for $name")
          skipped += s
        }
        SymbolMeta(name, typ, dim, expl, userInfo, domains, nRec, offset, dataLen)
      }
      Header(producer, codec, uels, metas, version, acronyms)
    } finally in.close()
  }

  /** Decode one symbol's records given its meta (seeks to the blob).
    * Convenience eager form of [[openRecordStream]].
    */
  def readSymbolRecords(path: String, header: Header, meta: SymbolMeta): Vector[GdxRecord] = {
    val s = openRecordStream(path, header, meta)
    try s.toVector finally s.close()
  }

  /** STREAMING decode of one symbol's records: seeks to the section and
    * decodes record-by-record, one block in memory at a time — the DSv2
    * `PartitionReader` pulls from this, so per-task read memory is
    * O(1 block + UEL table + block index) regardless of shard size (the
    * eager Vector form would make task memory proportional to shard
    * records).
    *
    * `dimAllowed`: admissible UEL indices per dimension (0-based) from
    * pushed label filters. Blocks whose zone map excludes every allowed
    * index on ANY filtered dimension are SKIPPED WITHOUT READING THEM —
    * dim_1 range-exactly (writer paths emit dim_1-clustered records, so
    * a one-label slice decodes ~one block out of records/4096), dims 2+
    * via the v3/v4 per-dim zone map (parquet-stats-style pruning). A
    * SUPERSET pass: the per-record filter (reader `keep`) still applies.
    * v2 files prune on dim_1 only; v1 files decode fully (no index) —
    * the filter stays correct via the reader's per-record check.
    */
  def openRecordStream(path: String, header: Header, meta: SymbolMeta,
      dimAllowed: Map[Int, Set[Int]] = Map.empty): GdxRecordStream =
    new GdxRecordStream(path, header.codec, header.version, header.uels.length, meta, dimAllowed)

  /** Read a v2–v4 section header: the text pool and the block index.
    * v2 carries dim_1 (min,max) only; dims 2+ degrade to full range.
    */
  private[gdx] def readSectionHeader(din: DataInputStream, dim: Int,
      version: Int): (Vector[String], Vector[BlockMeta]) = {
    val ts = Vector.fill(readVarInt(din))(din.readUTF())
    val bs = Vector.fill(readVarInt(din)) {
      val rc = readVarInt(din)
      if (version >= 3) {
        val mins = new Array[Int](dim)
        val maxs = new Array[Int](dim)
        var i = 0
        while (i < dim) {
          mins(i) = readVarInt(din); maxs(i) = readVarInt(din); i += 1
        }
        BlockMeta(rc, mins.toVector, maxs.toVector, readVarInt(din))
      } else {
        val (lo, hi) = (readVarInt(din), readVarInt(din))
        val mins = Vector.tabulate(dim)(i => if (i == 0) lo else 0)
        val maxs = Vector.tabulate(dim)(i => if (i == 0) hi else Int.MaxValue)
        BlockMeta(rc, mins, maxs, readVarInt(din))
      }
    }
    (ts, bs)
  }

  final class GdxRecordStream private[GdxCodec] (path: String, codec: Int,
      version: Int, uelCount: Int, meta: SymbolMeta, dimAllowed: Map[Int, Set[Int]])
      extends Iterator[GdxRecord] with java.io.Closeable {
    private val fin = new FileInputStream(path)
    /** Records this stream actually decoded (observability: block skip). */
    var decoded: Long = 0L
    // the share of `decoded` already added to decodedRecords
    private var published = 0L
    // every record byte is read through this one cursor, for all versions
    private val cursor = new ByteCursor(meta.name)

    private def malformed(why: String, cause: Throwable = null): java.io.IOException =
      new java.io.IOException(s"gdx: $path: symbol ${meta.name}: $why", cause)

    // everything after the open can throw on a truncated/corrupt shard;
    // a constructor that throws leaves the caller no handle to close,
    // so the fd must be released HERE or task retries leak one each
    //
    // `base` is the section stream: for v2–v4 the buffered raw bytes
    // that blocks are read (or skipped) from, for v1 the record source
    // itself. v1 has no block index: `blocks` is empty and `remaining`
    // covers the whole symbol. A v2–v4 block index must account for its
    // section exactly, before anything is allocated for a block: its
    // record counts sum to the catalog's, its lengths to the bytes the
    // section holds after its header, on disk. A damaged count or length
    // in the index, or a truncated section, is then rejected at open,
    // even when the scan would skip the block it describes.
    private val (base, texts, blocks) =
      try {
        if (codec != CodecNone && codec != CodecLz4 && codec != CodecZlib)
          throw malformed(s"unknown block codec $codec")
        var toSkip = meta.offset
        while (toSkip > 0) {
          val s = fin.skip(toSkip)
          if (s <= 0) throw new EOFException(s"cannot seek to ${meta.name}")
          toSkip -= s
        }
        val bounded = new BoundedInputStream(fin, meta.dataLen)
        if (version >= 2) {
          // uncompressed section header (text pool + block index), then
          // independently decodable block blobs
          val counted = new CountingInputStream(new BufferedInputStream(bounded, 1 << 16))
          val din = new DataInputStream(counted)
          val (ts, bs) = readSectionHeader(din, meta.dim, version)
          val onDisk = math.min(meta.dataLen.toLong, fin.getChannel.size() - meta.offset)
          val blobBytes = onDisk - counted.count
          val lens = bs.iterator.map(_.len.toLong).sum
          if (lens > blobBytes)
            throw malformed(s"block index overruns its section: blocks of $lens bytes, $blobBytes on disk")
          if (lens < blobBytes)
            throw malformed(s"block index leaves ${blobBytes - lens} of its section's bytes unread")
          val recs = bs.iterator.map(_.recCount.toLong).sum
          if (recs != meta.records)
            throw malformed(s"blocks hold $recs records, the catalog says ${meta.records}")
          (din, ts, bs)
        } else {
          // v1: one deflate stream for the whole symbol, pool inside
          val src = if (codec == CodecZlib) new InflaterInputStream(bounded) else bounded
          cursor.reset(src)
          val pool = new DataInputStream(cursor.asStream)
          val ts = Vector.fill(readVarInt(pool))(pool.readUTF())
          (new DataInputStream(src), ts, Vector.empty[BlockMeta])
        }
      } catch {
        case e: Throwable => fin.close(); throw e
      }
    private val prev = new Array[Int](meta.dim)
    private var blockIdx = 0
    private var remaining = if (version >= 2) 0 else meta.records
    // reused across blocks: the blob as read, and an LZ4 block decoded
    private var blob = new Array[Byte](0)
    private var raw = new Array[Byte](0)
    // one inflater for every zlib block, ended on close
    private var inflater: Inflater = null

    private def blockMatches(b: BlockMeta): Boolean =
      dimAllowed.forall { case (d, allowed) =>
        // small allowed sets (pushed labels) → iterate the set, not the
        // range; a dim past this symbol's arity never filters
        d >= meta.dim ||
          allowed.exists(k => k >= b.mins(d) && k <= b.maxs(d))
      }

    /** Records in the blocks the zone maps keep: what a full drain
      * decodes (v1 has no block index, so all of its records). Reads
      * nothing; the block index is in memory once the stream is open.
      */
    def matchingRecords: Long =
      if (version < 2) meta.records
      else blocks.iterator.filter(blockMatches).map(_.recCount.toLong).sum

    private def publishDecoded(): Unit = if (decoded != published) {
      decodedRecords.add(decoded - published)
      published = decoded
    }

    /** Point the cursor at a block with records left; false when the
      * section is exhausted. Called only with `remaining == 0`, so the
      * previous block's count is published first.
      */
    private def ensureBlock(): Boolean = {
      publishDecoded()
      while (remaining == 0 && blockIdx < blocks.length) {
        val b = blocks(blockIdx)
        blockIdx += 1
        if (!blockMatches(b)) {
          var toSkip = b.len.toLong
          while (toSkip > 0) {
            val s = base.skip(toSkip)
            if (s <= 0) throw new EOFException(s"gdx: $path: truncated block in ${meta.name}")
            toSkip -= s
          }
        } else {
          if (codec == CodecLz4 && b.len < 8)
            throw malformed(s"LZ4 block of ${b.len} bytes, under its 8-byte head")
          blob = atLeast(blob, b.len)
          try base.readFully(blob, 0, b.len)
          catch { case e: EOFException => throw malformed("truncated block", e) }
          codec match {
            case CodecLz4 =>
              val n = decodeLz4(b) // may replace `raw`
              cursor.reset(raw, n)
            case CodecZlib =>
              if (inflater == null) inflater = new Inflater() else inflater.reset()
              cursor.reset(new InflaterInputStream(new ByteArrayInputStream(blob, 0, b.len),
                inflater, math.max(1, math.min(b.len, 1 << 16))))
            case _ => cursor.reset(blob, b.len)
          }
          java.util.Arrays.fill(prev, 0) // delta resets per block
          remaining = b.recCount
        }
      }
      remaining > 0
    }

    /** Check and decode the LZ4 block in `blob` into `raw`; its length. */
    private def decodeLz4(b: BlockMeta): Int = {
      val head = ByteBuffer.wrap(blob)
      val rawLen = head.getInt(0)
      val most = math.min(b.recCount * maxRecordBytes(meta.dim), MaxBlockRawBytes.toLong)
      if (rawLen < 0 || rawLen > most)
        throw malformed(s"LZ4 block of ${b.recCount} records claims $rawLen raw bytes, " +
          s"outside 0..$most")
      raw = atLeast(raw, rawLen)
      val n =
        try lz4.safeDecompressor().decompress(blob, 8, b.len - 8, raw, 0, rawLen)
        catch { case e: RuntimeException => throw malformed("corrupt LZ4 block", e) }
      if (n != rawLen) throw malformed(s"LZ4 block decoded to $n bytes, its head says $rawLen")
      if (xxh32.hash(raw, 0, rawLen, ChecksumSeed) != head.getInt(4))
        throw malformed("LZ4 block checksum mismatch")
      rawLen
    }

    override def hasNext: Boolean = remaining > 0 || ensureBlock()

    /** Decode the next record into CALLER-OWNED arrays — the flyweight
      * path (r14): no per-record GdxRecord / keys / values allocation.
      * `values` must hold ≥ the symbol's
      * value arity (0/1/5; values(0) is zeroed for sets so the
      * special-value flag columns read 0.0, matching [[next]]'s
      * empty-values semantics). Returns the 1-based text-pool index
      * (0 = no text) — resolve via [[textAt]].
      */
    def nextInto(keys: Array[Int], values: Array[Double]): Int = {
      val t = nextKeysInto(keys)
      readValuesInto(values)
      t
    }

    /** Keys-only decode — the LAZY half of the flyweight path (r15):
      * delta keys + set-text index only; the value field(s) stay
      * unparsed in the stream until the caller decides the record
      * survives its residual filter ([[readValuesInto]]) or not
      * ([[skipValues]]). On selective scans most records die on their
      * keys, and 8–40 bytes of double assembly per corpse is the
      * dominant avoidable cost once blocks already match the zone map.
      * Every call MUST be paired with exactly one of the two value
      * calls before the next record.
      */
    def nextKeysInto(keys: Array[Int]): Int = {
      if (remaining == 0 && !ensureBlock())
        throw new NoSuchElementException(s"gdx: past end of ${meta.name}")
      // firstChanged is 0..dim; anything else would index `prev` wild
      val first = cursor.byte() & 0xff
      if (first > meta.dim)
        throw new java.io.IOException(
          s"gdx: corrupt record in ${meta.name}: first changed dim $first > ${meta.dim}")
      // every key must index the UEL table and every text the pool: the
      // readers index both unchecked. Keys a record keeps from the block
      // start are 0, valid only if the table is not empty.
      if (first > 0 && uelCount == 0)
        throw malformed(s"record keeps UEL index 0 of an empty UEL table")
      var i = first
      while (i < meta.dim) {
        val k = cursor.varInt()
        if (k < 0 || k >= uelCount)
          throw malformed(s"record key $k outside the UEL table ($uelCount labels)")
        prev(i) = k
        i += 1
      }
      System.arraycopy(prev, 0, keys, 0, meta.dim)
      var t = 0
      meta.typ match {
        case SymbolType.Set | SymbolType.Alias =>
          t = cursor.varInt()
          if (t < 0 || t > texts.length)
            throw malformed(s"record text $t outside the text pool (${texts.length} texts)")
        case _ => ()
      }
      remaining -= 1
      decoded += 1
      t
    }

    /** Parse the current record's value field(s) (pairs with
      * [[nextKeysInto]]). Sets zero values(0) so the special-value flag
      * columns read 0.0 — [[next]]'s empty-values semantics. Reads
      * exactly [[GdxCodec.valueByteWidth]](typ) bytes — the SAME
      * single source of truth [[skipValues]] skips, so the lazy scan
      * path cannot desync if the value encoding ever changes.
      */
    def readValuesInto(values: Array[Double]): Unit = {
      val n = GdxCodec.valueByteWidth(meta.typ) >> 3
      if (n == 0) { if (values.length > 0) values(0) = 0.0 }
      else {
        var f = 0
        while (f < n) { values(f) = java.lang.Double.longBitsToDouble(cursor.long()); f += 1 }
      }
    }

    /** Skip the current record's value bytes without assembling them
      * (pairs with [[nextKeysInto]] when the residual filter killed the
      * record). Width comes from [[GdxCodec.valueByteWidth]] — shared
      * with [[readValuesInto]] by construction.
      */
    def skipValues(): Unit = cursor.skip(GdxCodec.valueByteWidth(meta.typ))

    def textAt(t: Int): String = texts(t - 1)

    private val scratchVals = new Array[Double](5)

    override def next(): GdxRecord = {
      val keys = new Array[Int](meta.dim)
      val t = nextInto(keys, scratchVals)
      meta.typ match {
        case SymbolType.Set | SymbolType.Alias =>
          GdxRecord(keys, Array.empty, if (t == 0) None else Some(texts(t - 1)))
        case SymbolType.Parameter =>
          GdxRecord(keys, Array(scratchVals(0)))
        case _ =>
          GdxRecord(keys, java.util.Arrays.copyOf(scratchVals, 5))
      }
    }

    override def close(): Unit = {
      publishDecoded()
      if (inflater != null) { inflater.end(); inflater = null }
      base.close()
      fin.close()
    }
  }

  /** Caps reads at `limit` bytes so a section read never crosses into
    * the next symbol's blob.
    */
  private final class BoundedInputStream(in: InputStream, limit: Long) extends InputStream {
    private var remaining = limit
    override def read(): Int =
      if (remaining <= 0) -1
      else { val r = in.read(); if (r >= 0) remaining -= 1; r }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (remaining <= 0) return -1
      val r = in.read(b, off, math.min(len.toLong, remaining).toInt)
      if (r > 0) remaining -= r
      r
    }
    override def skip(n: Long): Long = {
      if (remaining <= 0 || n <= 0) return 0
      val r = in.skip(math.min(n, remaining))
      if (r > 0) remaining -= r
      r
    }
    override def close(): Unit = in.close()
  }

  /** Full read (all symbols + acronym table). */
  def read(path: String): GdxContainer = {
    val h = readHeader(path)
    GdxContainer(h.producer, h.uels,
      h.metas.map(m => GdxSymbol(m.name, m.typ, m.dim, m.explText, m.userInfo,
        m.domains, readSymbolRecords(path, h, m))),
      h.acronyms)
  }

  private final class CountingInputStream(in: InputStream) extends InputStream {
    var count: Long = 0
    override def read(): Int = {
      val r = in.read(); if (r >= 0) count += 1; r
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val r = in.read(b, off, len); if (r > 0) count += r; r
    }
    override def skip(n: Long): Long = {
      val r = in.skip(n); count += r; r
    }
    override def close(): Unit = in.close()
  }
}
