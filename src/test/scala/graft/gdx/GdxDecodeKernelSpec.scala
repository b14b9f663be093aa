package graft.gdx

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataOutputStream, EOFException, IOException, InputStream}
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The record-decode kernel: the [[GdxCodec.ByteCursor]] window that
  * every record byte is read through, the per-block publication of
  * [[GdxCodec.decodedRecords]], and the typed errors a truncated or
  * patched file must end in.
  */
class GdxDecodeKernelSpec extends AnyFunSuite {

  private def tmp(name: String): String =
    Files.createTempDirectory("gdx-kernel").resolve(name).toString

  /** Hands out at most `chunk` bytes per read, so window refills land
    * at every offset of a field.
    */
  private final class Trickle(bytes: Array[Byte], chunk: Int) extends InputStream {
    private val in = new ByteArrayInputStream(bytes)
    override def read(): Int = in.read()
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      in.read(b, off, math.min(len, chunk))
  }

  test("cursor: varints, doubles and skips split across every window edge decode exactly") {
    val rnd = new scala.util.Random(7)
    val ints = Vector.fill(400)(rnd.nextInt(6) match {
      case 0 => rnd.nextInt(128)
      case 1 => Int.MaxValue
      case _ => rnd.nextInt(Int.MaxValue) >>> rnd.nextInt(31)
    })
    val doubles = SpecialValues.EPS +: -0.0 +: Vector.fill(398)(rnd.nextDouble() * 1e6 - 5e5)
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    ints.zip(doubles).foreach { case (i, d) =>
      out.writeByte(i & 0x7f); GdxCodec.writeVarInt(out, i); out.writeDouble(d); out.writeLong(-1L)
    }
    out.flush()
    val bytes = bos.toByteArray
    for (window <- 1 to 11; chunk <- Seq(1, 3, 64)) {
      val c = new GdxCodec.ByteCursor("t", window)
      c.reset(new Trickle(bytes, chunk))
      ints.zip(doubles).foreach { case (i, d) =>
        assert(c.byte() == (i & 0x7f).toByte)
        assert(c.varInt() == i, s"window $window chunk $chunk")
        assert(java.lang.Double.doubleToRawLongBits(java.lang.Double.longBitsToDouble(c.long())) ==
          java.lang.Double.doubleToRawLongBits(d))
        c.skip(8)
      }
      intercept[EOFException](c.byte())
    }
  }

  test("cursor: reads past the data throw EOFException; malformed varints keep their guards") {
    def cursorOn(bytes: Int*): GdxCodec.ByteCursor = {
      val c = new GdxCodec.ByteCursor("t", 4)
      c.reset(new ByteArrayInputStream(bytes.map(_.toByte).toArray))
      c
    }
    intercept[EOFException](cursorOn(1, 2, 3).long())
    intercept[EOFException](cursorOn(1, 2).skip(3))
    intercept[EOFException](cursorOn(0x80, 0x80).varInt())
    val long = intercept[IOException](cursorOn(0x80, 0x80, 0x80, 0x80, 0x80, 0x01).varInt())
    assert(long.getMessage.contains(">5 bytes"))
    val wide = intercept[IOException](cursorOn(0xff, 0xff, 0xff, 0xff, 0x0f).varInt())
    assert(wide.getMessage.contains("overflows Int"))
    assert(cursorOn(0xff, 0xff, 0xff, 0xff, 0x07).varInt() == Int.MaxValue)
  }

  /** A 3-dim variable with >128 UELs (1- and 2-byte key varints) whose
    * blocks are several cursor windows long.
    */
  private def bigVariable(): GdxContainer = {
    val uels = Vector.tabulate(300)(i => f"u$i%03d")
    val recs = Vector.tabulate(12000) { i =>
      GdxRecord(Array(i / 600, (i * 7) % 300, i % 251),
        Array(i * 0.5, -i.toDouble, if (i % 5 == 0) SpecialValues.EPS else 0.0,
          if (i % 3 == 0) SpecialValues.PINF else i + 1.0, 1.0 + i % 4))
    }
    GdxContainer("kernel", uels, Vector(GdxSymbol("x", SymbolType.Variable, 3, records = recs)))
  }

  test("records straddling cursor refills round-trip, compressed and raw, lazy and eager") {
    val c = bigVariable()
    val want = GdxCodec.sortRecords(c.symbols.head.records)
    for (compress <- Seq(true, false)) {
      val p = tmp(s"big-$compress.gdx")
      GdxCodec.write(c, p, compress)
      val h = GdxCodec.readHeader(p)
      val meta = h.metas.head
      // decoded block bytes ≈ records/block × (1 + keys + 40) ≫ one window
      assert(GdxCodec.DefaultBlockSize * 41 > 4 * GdxCodec.CursorWindow)
      if (!compress) assert(meta.dataLen / 3 > GdxCodec.CursorWindow)
      // eager: the Iterator path
      assert(GdxCodec.readSymbolRecords(p, h, meta) == want, s"eager, compress=$compress")
      // lazy: keys first, values read or skipped per record
      val s = GdxCodec.openRecordStream(p, h, meta)
      try {
        val keys = new Array[Int](3)
        val vals = new Array[Double](5)
        var i = 0
        while (s.hasNext) {
          s.nextKeysInto(keys)
          assert(keys.toSeq == want(i).keys.toSeq, s"lazy keys at $i, compress=$compress")
          if (i % 3 == 1) s.skipValues()
          else {
            s.readValuesInto(vals)
            assert(vals.toSeq == want(i).values.toSeq, s"lazy values at $i, compress=$compress")
          }
          i += 1
        }
        assert(i == want.size)
      } finally s.close()
    }
  }

  /** Three symbols (set with texts, parameter, variable) in 4-record blocks. */
  private def threeSymbols(): GdxContainer = {
    val b = new GdxBuilder()
    b.addSymbol("s", SymbolType.Set, 2, (0 until 11).map(i =>
      (Seq(s"a${i % 4}", s"b$i"), Array.empty[Double], if (i % 2 == 0) Some(s"text $i") else None)))
    b.addSymbol("p", SymbolType.Parameter, 1, (0 until 13).map(i =>
      (Seq(s"a$i"), Array(i * 1.5), None)))
    b.addSymbol("v", SymbolType.Variable, 2, (0 until 9).map(i =>
      (Seq(s"a$i", s"b${i % 3}"), Array(i.toDouble, 0.5, 0.0, 10.0, 1.0), None)))
    b.result()
  }

  /** Decode every symbol on the eager path, which must give `want`,
    * then on the lazy one.
    */
  private def decodeBothWays(path: String, want: GdxContainer): Unit = {
    assert(GdxCodec.read(path) == want)
    val h = GdxCodec.readHeader(path)
    h.metas.foreach { m =>
      val s = GdxCodec.openRecordStream(path, h, m)
      try {
        val keys = new Array[Int](m.dim)
        while (s.hasNext) { s.nextKeysInto(keys); s.skipValues() }
      } finally s.close()
    }
  }

  test("every truncation prefix of a multi-block v3 shard decodes or throws an IOException") {
    for (compress <- Seq(true, false)) {
      val full = tmp(s"full-$compress.gdx")
      GdxCodec.write(threeSymbols(), full, compress, blockSize = 4)
      val bytes = Files.readAllBytes(Paths.get(full))
      val want = GdxCodec.read(full)
      val cut = tmp(s"cut-$compress.gdx")
      for (n <- 0 until bytes.length) {
        Files.write(Paths.get(cut), java.util.Arrays.copyOf(bytes, n))
        // a prefix that decodes at all must decode to the original
        // records: reading past the end may never invent data
        try decodeBothWays(cut, want)
        catch {
          case _: IOException => ()
          case e: Throwable =>
            fail(s"prefix $n of ${bytes.length} (compress=$compress) threw $e, not an IOException")
        }
      }
    }
  }

  /** (symbol name, first byte, length) of every block blob in `path`:
    * the blobs end each symbol's data section, back to back.
    */
  private def blobsOf(path: String): Seq[(String, Int, Int)] = {
    val h = GdxCodec.readHeader(path)
    h.metas.flatMap { m =>
      val in = new java.io.DataInputStream(new ByteArrayInputStream(
        Files.readAllBytes(Paths.get(path)), m.offset.toInt, m.dataLen))
      val lens = GdxCodec.readSectionHeader(in, m.dim, h.version)._2.map(_.len)
      val ends = lens.scanLeft(m.offset.toInt + m.dataLen - lens.sum)(_ + _)
      lens.indices.map(i => (m.name, ends(i), lens(i)))
    }
  }

  private def assertNames(e: IOException, path: String, sym: String): Unit =
    assert(String.valueOf(e.getMessage).contains(path) &&
      String.valueOf(e.getMessage).contains(s"symbol $sym"), e.getMessage)

  test("every byte flip in an LZ4 block blob throws an IOException naming file and symbol, or decodes exactly") {
    val full = tmp("fuzz.gdx")
    GdxCodec.write(threeSymbols(), full, blockSize = 4)
    val bytes = Files.readAllBytes(Paths.get(full))
    val want = GdxCodec.read(full)
    val blobs = blobsOf(full)
    assert(GdxCodec.readHeader(full).codec == GdxCodec.CodecLz4 && blobs.size == 10)
    val cut = tmp("flipped.gdx")
    var caught = 0
    for ((sym, start, len) <- blobs; at <- start until start + len; mask <- Seq(0x01, 0x80, 0xff)) {
      val patched = bytes.clone()
      patched(at) = (patched(at) ^ mask).toByte
      Files.write(Paths.get(cut), patched)
      try decodeBothWays(cut, want)
      catch {
        case e: IOException => assertNames(e, cut, sym); caught += 1
        case e: Throwable => fail(s"flip $mask at $at in a block of $sym threw $e, not an IOException")
      }
    }
    // only a flip that leaves the decoded bytes equal (say, a match
    // offset onto an identical copy) may decode; nearly all must throw
    assert(caught > blobs.map(_._3).sum * 3 * 9 / 10, s"$caught flips caught")
  }

  test("hostile rawLen values and an unknown codec byte are rejected naming file and symbol") {
    val full = tmp("hostile.gdx")
    GdxCodec.write(threeSymbols(), full, blockSize = 4)
    val bytes = Files.readAllBytes(Paths.get(full))
    val (sym, start, _) = blobsOf(full).find(_._1 == "v").get
    val widest = 4 * GdxCodec.maxRecordBytes(2).toInt
    for (rawLen <- Seq(-1, Int.MinValue, widest + 1, GdxCodec.MaxBlockRawBytes + 1)) {
      val patched = bytes.clone()
      java.nio.ByteBuffer.wrap(patched).putInt(start, rawLen)
      val q = tmp(s"rawlen$rawLen.gdx")
      Files.write(Paths.get(q), patched)
      val e = intercept[IOException](GdxCodec.read(q))
      assertNames(e, q, sym)
      assert(e.getMessage.contains(s"claims $rawLen raw bytes"), e.getMessage)
    }
    // the fixed cap binds once recCount × widest record passes it; the
    // blob past the head is never looked at
    def oneBlock(recCount: Int, indexLen: Int, blob: Array[Byte]): String = {
      val sec = new ByteArrayOutputStream()
      val d = new DataOutputStream(sec)
      GdxCodec.writeSectionHeader(d, Nil,
        Seq(GdxCodec.BlockMeta(recCount, Vector(0), Vector(0), indexLen)))
      d.write(blob)
      val q = tmp("assembled.gdx")
      val out = new DataOutputStream(new java.io.FileOutputStream(q))
      try GdxCodec.writeFile(out, "t", compress = true, Vector("u0"), Nil,
          Seq(GdxSymbol("hostile_p", SymbolType.Parameter, 1))) { _ =>
        GdxCodec.Section(recCount, sec.size, sec.writeTo)
      } finally out.close()
      q
    }
    val overCap = java.nio.ByteBuffer.allocate(10).putInt(GdxCodec.MaxBlockRawBytes + 1).array()
    val capped = oneBlock(1000000, overCap.length, overCap)
    val e = intercept[IOException](GdxCodec.read(capped))
    assertNames(e, capped, "hostile_p")
    assert(e.getMessage.contains(s"outside 0..${GdxCodec.MaxBlockRawBytes}"), e.getMessage)
    // a blob shorter than its 8-byte head, and one longer than its section
    val short = oneBlock(1, 5, new Array[Byte](5))
    assertNames(intercept[IOException](GdxCodec.read(short)), short, "hostile_p")
    val long = oneBlock(1, 40, new Array[Byte](20))
    val overrun = intercept[IOException](GdxCodec.read(long))
    assertNames(overrun, long, "hostile_p")
    assert(overrun.getMessage.contains("overruns"), overrun.getMessage)

    // the codec byte follows the magic and the producer UTF
    val codecAt = GdxCodec.Magic4.length + 2 + GdxCodec.readHeader(full).producer.length
    assert(bytes(codecAt) == GdxCodec.CodecLz4)
    for (codec <- Seq(2, 0x7f, 0xff)) {
      val patched = bytes.clone()
      patched(codecAt) = codec.toByte
      val q = tmp(s"codec$codec.gdx")
      Files.write(Paths.get(q), patched)
      val h = GdxCodec.readHeader(q)
      assert(h.codec == codec)
      val e = intercept[IOException](GdxCodec.openRecordStream(q, h, h.metas.head))
      assertNames(e, q, h.metas.head.name)
      assert(e.getMessage.contains(s"unknown block codec $codec"), e.getMessage)
    }
  }

  test("a key outside the UEL table or a text outside the pool, patched into a raw block, is rejected naming file and symbol") {
    val b = new GdxBuilder()
    b.addSymbol("p", SymbolType.Parameter, 1, (0 until 5).map(i => (Seq(s"u$i"), Array(i.toDouble), None)))
    b.addSymbol("s", SymbolType.Set, 1, (0 until 3).map(i => (Seq(s"u$i"), Array.empty[Double], Some(s"text $i"))))
    val full = tmp("keys.gdx")
    GdxCodec.write(b.result(), full, compress = false)
    assert(GdxCodec.readHeader(full).codec == GdxCodec.CodecNone)
    val bytes = Files.readAllBytes(Paths.get(full))
    val blobs = blobsOf(full)
    // a record is firstChanged, then one key varint per dim, then (sets
    // only) a text varint; 0x7f is a one-byte varint past both tables
    for ((sym, at, why) <- Seq(("p", 1, "outside the UEL table"), ("s", 2, "outside the text pool"))) {
      val start = blobs.find(_._1 == sym).get._2
      val patched = bytes.clone()
      assert(patched(start + at) < 5, s"$sym: byte $at is not a small index")
      patched(start + at) = 0x7f
      val q = tmp(s"patched-$sym.gdx")
      Files.write(Paths.get(q), patched)
      val e = intercept[IOException](GdxCodec.read(q))
      assertNames(e, q, sym)
      assert(e.getMessage.contains(why), e.getMessage)
    }
  }

  test("the writer cuts a block before its raw bytes pass the cap, whatever blockSize") {
    val p = tmp("cut.gdx")
    val enc = new GdxStreamEncoder(p, "v", SymbolType.Variable, 0, blockSize = Int.MaxValue)
    // a 0-dim variable record is 41 raw bytes: firstChanged + 5 doubles
    val perBlock = GdxCodec.MaxBlockRawBytes / 41
    val n = perBlock + 1000
    (0 until n).foreach(i => enc.add(Array.empty, Array(i.toDouble, 0.0, 0.0, 1.0, 1.0), None))
    enc.finish()
    val h = GdxCodec.readHeader(p)
    val m = h.metas.head
    val in = new java.io.DataInputStream(new ByteArrayInputStream(
      Files.readAllBytes(Paths.get(p)), m.offset.toInt, m.dataLen))
    assert(GdxCodec.readSectionHeader(in, 0, h.version)._2.map(_.recCount) == Vector(perBlock, 1000))
    val s = GdxCodec.openRecordStream(p, h, m)
    try assert(s.zipWithIndex.forall { case (r, i) => r.values(0) == i } && s.decoded == n)
    finally s.close()
  }

  test("decodedRecords is published once per block and on close, and stays exact") {
    val c = GdxContainer("t", Vector.tabulate(150)(i => f"k$i%03d"), Vector(
      GdxSymbol("p", SymbolType.Parameter, 1,
        records = Vector.tabulate(150)(i => GdxRecord(Array(i), Array(i.toDouble))))))
    val p = tmp("counted.gdx")
    GdxCodec.write(c, p, blockSize = 64)
    val h = GdxCodec.readHeader(p)
    def delta(before: Long): Long = GdxCodec.decodedRecords.sum() - before

    // closed mid-block: block 1 is published on entering block 2, the
    // 36 records decoded from block 2 on close
    val b0 = GdxCodec.decodedRecords.sum()
    val mid = GdxCodec.openRecordStream(p, h, h.metas.head)
    (0 until 100).foreach(_ => mid.next())
    assert(delta(b0) == 64, "only whole blocks are published before close")
    mid.close()
    assert(mid.decoded == 100 && delta(b0) == 100)
    mid.close()
    assert(delta(b0) == 100, "a second close adds nothing")

    // drained: the last block is published when hasNext runs out
    val b1 = GdxCodec.decodedRecords.sum()
    val all = GdxCodec.openRecordStream(p, h, h.metas.head)
    assert(all.size == 150 && delta(b1) == 150)
    all.close()
    assert(delta(b1) == 150)

    // skipped blocks count nothing: only block 3 (22 records) decodes
    val b2 = GdxCodec.decodedRecords.sum()
    val sliced = GdxCodec.openRecordStream(p, h, h.metas.head, Map(0 -> Set(140)))
    assert(sliced.count(_.keys(0) == 140) == 1)
    sliced.close()
    assert(sliced.decoded == 22 && delta(b2) == 22)
  }

  test("a hostile dim byte is rejected by readHeader with a typed error naming file and symbol") {
    val c = GdxContainer("t", Vector.empty, Vector(GdxSymbol("hostile_sym", SymbolType.Parameter, 1)))
    val p = tmp("dim.gdx")
    GdxCodec.write(c, p)
    val bytes = Files.readAllBytes(Paths.get(p))
    // name UTF, empty explText UTF, typ byte, then the dim byte
    val name = "hostile_sym".getBytes("US-ASCII")
    val marker = Array[Byte](0, name.length.toByte) ++ name ++ Array[Byte](0, 0, SymbolType.Parameter.toByte, 1)
    val at = bytes.indexOfSlice(marker) + marker.length - 1
    assert(at > 0 && GdxCodec.readHeader(p).metas.head.dim == 1)
    for (bad <- Seq(-1, -128, 21, 127)) {
      val patched = bytes.clone()
      patched(at) = bad.toByte
      val q = tmp(s"dim$bad.gdx")
      Files.write(Paths.get(q), patched)
      val e = intercept[IOException](GdxCodec.readHeader(q))
      assert(e.getMessage.contains(q) && e.getMessage.contains("hostile_sym") &&
        e.getMessage.contains(s"dim $bad"), e.getMessage)
    }
    // 20 (GMS_MAX_INDEX_DIM) passes the guard; the domains that follow
    // are then misparsed, which must fail typed but not as a dim error
    val max = bytes.clone()
    max(at) = 20
    val q = tmp("dim20.gdx")
    Files.write(Paths.get(q), max)
    try GdxCodec.readHeader(q)
    catch {
      case e: IOException => assert(!String.valueOf(e.getMessage).contains("declares dim"), e)
    }
  }
}
