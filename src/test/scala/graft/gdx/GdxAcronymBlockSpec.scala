package graft.gdx

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** v2 container features: the file-level acronym table (SPEC
  * gdxAcronymAdd/gdxAcronymGetInfo; sentinels ≥ 1e301 in 1e300 steps)
  * and the block-structured data section (per-block sparse first-dim
  * index → decode skip for pushed label slices). Pure codec level —
  * the DSv2/tool surfaces are covered in GdxSourceSpec/GdxDiffSpec.
  */
class GdxAcronymBlockSpec extends AnyFunSuite {

  private def tmp(name: String): String =
    Files.createTempDirectory("gdxacr").resolve(name).toString

  test("acronym sentinel algebra: value/index round-trip, classification bands") {
    for (idx <- Seq(10, 11, 42, 100000)) {
      val v = SpecialValues.acronymValue(idx)
      assert(SpecialValues.isAcronym(v), s"idx $idx")
      assert(SpecialValues.acronymIndex(v) == idx, s"idx $idx")
      assert(SpecialValues.toDouble(v).isNaN, "lossy map → NaN like NA")
    }
    // named specials are NOT acronyms; plain numbers neither
    Seq(SpecialValues.UNDEF, SpecialValues.NA, SpecialValues.PINF,
      SpecialValues.MINF, SpecialValues.EPS, 0.0, 1.5, -3.0e299).foreach { v =>
      assert(!SpecialValues.isAcronym(v), s"$v")
    }
    assert(!SpecialValues.isAcronym(Double.PositiveInfinity))
    assert(!SpecialValues.isAcronym(Double.NaN))
    intercept[IllegalArgumentException](SpecialValues.acronymValue(9))
  }

  test("acronym table round-trips through write/read; builder assigns indices from 10") {
    val b = new GdxBuilder()
    val hi = b.addAcronym("high", "priority high")
    val lo = b.addAcronym("low")
    assert(SpecialValues.acronymIndex(hi) == 10 && SpecialValues.acronymIndex(lo) == 11)
    b.addSymbol("p", SymbolType.Parameter, 1, Seq(
      (Seq("a"), Array(hi), None),
      (Seq("b"), Array(lo), None),
      (Seq("c"), Array(2.5), None)))
    val path = tmp("acr.gdx")
    GdxCodec.write(b.result(), path)
    val c = GdxCodec.read(path)
    assert(c.acronyms == Vector(GdxAcronym(10, "high", "priority high"),
      GdxAcronym(11, "low", "")))
    val vals = c.symbol("p").get.records.map(_.values(0))
    assert(vals == Vector(hi, lo, 2.5)) // sentinels survive bit-exactly
    intercept[IllegalArgumentException](b.addAcronym("HIGH")) // case-insensitive unique
  }

  test("multi-block round-trip: records and set texts identical across block boundaries") {
    val rnd = new scala.util.Random(12)
    val labels = (0 until 40).map(i => f"l$i%02d")
    val recs = for (i <- 0 until 997) yield // deliberately not a multiple of blockSize
      (Seq(labels(i / 25), labels(i % 40)),
        Array(rnd.nextDouble()), Option.empty[String])
    val b = new GdxBuilder()
    b.addSymbol("big", SymbolType.Parameter, 2, recs)
    // tiny blocks → many boundaries; delta reset per block must hold
    val path = tmp("blocks.gdx")
    GdxCodec.write(b.result(), path, compress = true, blockSize = 64)
    val got = GdxCodec.read(path).symbol("big").get.records
    val want = GdxCodec.sortRecords(b.result().symbol("big").get.records)
    assert(got == want)

    // sets: text pool indices must survive block splitting too
    val b2 = new GdxBuilder()
    b2.addSymbol("s", SymbolType.Set, 1,
      (0 until 300).map(i => (Seq(f"k$i%03d"), Array.empty[Double],
        if (i % 3 == 0) Some(s"text ${i % 7}") else None)))
    val p2 = tmp("settexts.gdx")
    GdxCodec.write(b2.result(), p2, compress = true, blockSize = 32)
    val gotS = GdxCodec.read(p2).symbol("s").get.records
    assert(gotS.size == 300 &&
      gotS.count(_.text.isDefined) == 100 &&
      gotS.forall(r => r.text.forall(_.startsWith("text "))))
  }

  test("block index skips non-matching blocks: one-label slice decodes ~one block") {
    // sorted 1-dim parameter, 1000 records, blocks of 50 → 20 blocks;
    // a single-label filter must decode only the one covering block
    val b = new GdxBuilder()
    b.addSymbol("p", SymbolType.Parameter, 1,
      (0 until 1000).map(i => (Seq(f"k$i%04d"), Array(i.toDouble), None)))
    val path = tmp("skip.gdx")
    GdxCodec.write(b.result(), path, blockSize = 50)
    val h = GdxCodec.readHeader(path)
    val meta = h.metas.head
    // UEL index of label k0777 (labels registered in record order here)
    val uelIdx = h.uels.indexWhere(_ == "k0777")
    assert(uelIdx >= 0)
    val s = GdxCodec.openRecordStream(path, h, meta, Map(0 -> Set(uelIdx)))
    val hits = s.toVector
    val decoded = s.decoded
    s.close()
    assert(hits.exists(r => r.keys(0) == uelIdx && r.values(0) == 777.0))
    assert(decoded <= 50, s"decoded $decoded records; block skip did not fire")
    // and the unfiltered stream decodes everything
    val full = GdxCodec.openRecordStream(path, h, meta)
    assert(full.size == 1000)
    full.close()
  }

  test("uncompressed blocks skip too; v2 files read with either compression") {
    val b = new GdxBuilder()
    b.addSymbol("p", SymbolType.Parameter, 1,
      (0 until 200).map(i => (Seq(f"k$i%03d"), Array(i.toDouble), None)))
    val path = tmp("plain.gdx")
    GdxCodec.write(b.result(), path, compress = false, blockSize = 10)
    val h = GdxCodec.readHeader(path)
    val uelIdx = h.uels.indexWhere(_ == "k123")
    val s = GdxCodec.openRecordStream(path, h, h.metas.head, Map(0 -> Set(uelIdx)))
    val hits = s.toVector
    assert(s.decoded <= 10 && hits.exists(_.values(0) == 123.0))
    s.close()
  }

  test("stream encoder emits the same v2 shape: acronyms + block index + skip") {
    val path = tmp("enc.gdx")
    val enc = new GdxStreamEncoder(path, "p", SymbolType.Parameter, 1,
      acronyms = Seq(GdxAcronym(10, "high", "hi")), blockSize = 25)
    (0 until 500).foreach(i => enc.add(Array(f"k$i%03d"), Array(i.toDouble), None))
    enc.finish()
    val h = GdxCodec.readHeader(path)
    assert(h.version == 4 && h.acronyms == Vector(GdxAcronym(10, "high", "hi")))
    val uelIdx = h.uels.indexWhere(_ == "k400")
    val s = GdxCodec.openRecordStream(path, h, h.metas.head, Map(0 -> Set(uelIdx)))
    val hits = s.toVector
    assert(s.decoded <= 25 && hits.exists(_.values(0) == 400.0))
    s.close()
  }

  test("v3 per-dim zone maps: a dim_2 slice skips blocks dim_1 pruning cannot") {
    // 4 dim_1 labels × 250 dim_2 labels, sorted → each dim_1 run spans
    // 5 blocks of 50, with dim_2 sorted WITHIN the run; a dim_2 label
    // filter matches ~1 block per run (4 of 20 blocks), which dim_1
    // pruning alone could never skip
    val d1 = Seq("a", "b", "c", "d")
    val d2 = (0 until 250).map(i => f"k$i%03d")
    val recs = for (x <- d1; y <- d2) yield (Seq(x, y), Array((x + y).hashCode.toDouble), None)
    val b = new GdxBuilder()
    b.addSymbol("p", SymbolType.Parameter, 2, recs)
    val path = tmp("dim2zone.gdx")
    GdxCodec.write(b.result(), path, blockSize = 50)
    val h = GdxCodec.readHeader(path)
    val uelIdx = h.uels.indexWhere(_ == "k123")
    assert(uelIdx >= 0)
    val s = GdxCodec.openRecordStream(path, h, h.metas.head, Map(1 -> Set(uelIdx)))
    val hits = s.toVector.filter(_.keys(1) == uelIdx)
    val decoded = s.decoded
    s.close()
    assert(hits.size == 4, s"expected one k123 hit per dim_1 run, got ${hits.size}")
    assert(decoded <= 4 * 50,
      s"decoded $decoded of 1000 records; dim_2 zone map did not prune")
    // combined dim_1 + dim_2 slice prunes on BOTH: ~1 block survives
    val s2 = GdxCodec.openRecordStream(path, h, h.metas.head,
      Map(0 -> Set(h.uels.indexWhere(_ == "c")), 1 -> Set(uelIdx)))
    val hits2 = s2.toVector.filter(r =>
      r.keys(0) == h.uels.indexWhere(_ == "c") && r.keys(1) == uelIdx)
    val decoded2 = s2.decoded
    s2.close()
    assert(hits2.size == 1 && decoded2 <= 50,
      s"decoded $decoded2; combined per-dim skip did not intersect")
  }

  test("v2 files (dim_1-only block index) remain readable and dim_1-skippable") {
    // hand-assembled v2 bytes: no writer emits v2 anymore, so read
    // compat is pinned here the way GdxCodecSpec pins v1
    val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def byte(v: Int): Unit = buf += v.toByte
    def utf(s: String): Unit = {
      byte(s.length >> 8); byte(s.length & 0xff); s.foreach(c => byte(c.toInt))
    }
    def varint(v: Int): Unit = {
      var x = v
      while ((x & ~0x7f) != 0) { byte((x & 0x7f) | 0x80); x >>>= 7 }
      byte(x)
    }
    def dbl(v: Double): Unit = {
      val bits = java.lang.Double.doubleToLongBits(v)
      (7 to 0 by -1).foreach(i => byte(((bits >>> (8 * i)) & 0xff).toInt))
    }
    "GRFTGDX2".foreach(c => byte(c.toInt))
    utf("hand-assembled-v2")
    byte(0) // uncompressed
    varint(4); Seq("u0", "u1", "u2", "u3").foreach(utf)
    varint(1); varint(10); utf("high"); utf("hi") // acronym table
    varint(1) // one symbol
    utf("p"); utf(""); byte(SymbolType.Parameter); byte(1); varint(0)
    utf("*")
    varint(4) // records
    // data section: pool, block index (v2 = 4 varints/block), 2 blobs
    val section = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def inSection(body: => Unit): Unit = {
      val keep = buf.clone(); buf.clear(); body
      section ++= buf; buf.clear(); buf ++= keep
    }
    def blockBlob(recs: Seq[(Int, Double)]): Array[Byte] = {
      val keep = buf.clone(); buf.clear()
      recs.foreach { case (k, v) => byte(0); varint(k); dbl(v) }
      val out = buf.toArray; buf.clear(); buf ++= keep; out
    }
    val blob1 = blockBlob(Seq(0 -> 0.5, 1 -> 1.5))
    val blob2 = blockBlob(Seq(2 -> 2.5, 3 -> 3.5))
    inSection {
      varint(0) // empty text pool
      varint(2) // two blocks
      varint(2); varint(0); varint(1); varint(blob1.length)
      varint(2); varint(2); varint(3); varint(blob2.length)
    }
    section ++= blob1; section ++= blob2
    varint(section.length)
    buf ++= section
    val path = tmp("v2compat.gdx")
    Files.write(java.nio.file.Paths.get(path), buf.toArray)

    val h = GdxCodec.readHeader(path)
    assert(h.version == 2 && h.acronyms == Vector(GdxAcronym(10, "high", "hi")))
    val full = GdxCodec.openRecordStream(path, h, h.metas.head)
    assert(full.toVector.map(_.values(0)) == Vector(0.5, 1.5, 2.5, 3.5))
    full.close()
    // dim_1 skip still works off the v2 index
    val s = GdxCodec.openRecordStream(path, h, h.metas.head, Map(0 -> Set(3)))
    val hits = s.toVector
    assert(s.decoded <= 2 && hits.exists(_.values(0) == 3.5))
    s.close()
    // a dim_2-style filter on a v2 file degrades safely (no skip, no loss)
    val s2 = GdxCodec.openRecordStream(path, h, h.metas.head, Map(1 -> Set(0)))
    assert(s2.toVector.size == 4)
    s2.close()
  }

  test("v3 files (per-dim zone maps, zlib or raw blobs) remain readable and dim_2-skippable") {
    // hand-assembled v3 bytes: no writer emits v3 anymore, so read
    // compat is pinned here the way the v2 test above pins v2
    def deflate(raw: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(raw); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](64)
      while (!d.finished()) out.write(chunk, 0, d.deflate(chunk))
      d.end()
      out.toByteArray
    }
    for (compressed <- Seq(true, false)) {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
      def byte(v: Int): Unit = buf += v.toByte
      def utf(s: String): Unit = {
        byte(s.length >> 8); byte(s.length & 0xff); s.foreach(c => byte(c.toInt))
      }
      def varint(v: Int): Unit = {
        var x = v
        while ((x & ~0x7f) != 0) { byte((x & 0x7f) | 0x80); x >>>= 7 }
        byte(x)
      }
      def dbl(v: Double): Unit = {
        val bits = java.lang.Double.doubleToLongBits(v)
        (7 to 0 by -1).foreach(i => byte(((bits >>> (8 * i)) & 0xff).toInt))
      }
      /** `body`'s bytes, taken out of `buf`. */
      def bytesOf(body: => Unit): Array[Byte] = {
        val mark = buf.length
        body
        val out = buf.slice(mark, buf.length).toArray
        buf.remove(mark, buf.length - mark)
        out
      }
      def blob(body: => Unit): Array[Byte] = {
        val raw = bytesOf(body)
        if (compressed) deflate(raw) else raw
      }
      /** One symbol: catalog entry, then its section (pool, block
        * index with a (min,max) pair per dim, blobs).
        */
      def symbol(name: String, typ: Int, dim: Int, records: Int, pool: Seq[String],
          blocks: Seq[(Int, Seq[(Int, Int)], Array[Byte])]): Unit = {
        utf(name); utf(""); byte(typ); byte(dim); varint(0)
        (0 until dim).foreach(_ => utf("*"))
        varint(records)
        val section = bytesOf {
          varint(pool.size); pool.foreach(utf)
          varint(blocks.size)
          blocks.foreach { case (n, zone, bytes) =>
            varint(n); zone.foreach { case (lo, hi) => varint(lo); varint(hi) }; varint(bytes.length)
          }
          blocks.foreach { case (_, _, bytes) => buf ++= bytes }
        }
        varint(section.length)
        buf ++= section
      }
      "GRFTGDX3".foreach(c => byte(c.toInt))
      utf("hand-assembled-v3")
      byte(if (compressed) 1 else 0)
      varint(6); (0 until 6).foreach(i => utf(s"u$i"))
      varint(1); varint(10); utf("high"); utf("hi") // acronym table
      varint(2) // two symbols
      // 2-dim parameter, 3 blocks of 2 delta-encoded records each
      val b1 = blob { byte(0); varint(0); varint(1); dbl(0.5); byte(1); varint(2); dbl(1.5) }
      val b2 = blob { byte(0); varint(1); varint(3); dbl(2.5); byte(1); varint(4); dbl(3.5) }
      val b3 = blob { byte(0); varint(2); varint(1); dbl(4.5); byte(1); varint(2); dbl(5.5) }
      symbol("p", SymbolType.Parameter, 2, 6, Nil, Seq(
        (2, Seq(0 -> 0, 1 -> 2), b1), (2, Seq(1 -> 1, 3 -> 4), b2), (2, Seq(2 -> 2, 1 -> 2), b3)))
      // 1-dim set with a text pool
      val sb = blob { byte(0); varint(0); varint(1); byte(0); varint(3); varint(0); byte(0); varint(5); varint(2) }
      symbol("s", SymbolType.Set, 1, 3, Seq("alpha", "beta"), Seq((3, Seq(0 -> 5), sb)))
      val path = tmp(s"v3compat-$compressed.gdx")
      Files.write(java.nio.file.Paths.get(path), buf.toArray)

      val h = GdxCodec.readHeader(path)
      assert(h.version == 3 && h.acronyms == Vector(GdxAcronym(10, "high", "hi")))
      val c = GdxCodec.read(path)
      assert(c.symbol("p").get.records == Vector(
        GdxRecord(Array(0, 1), Array(0.5)), GdxRecord(Array(0, 2), Array(1.5)),
        GdxRecord(Array(1, 3), Array(2.5)), GdxRecord(Array(1, 4), Array(3.5)),
        GdxRecord(Array(2, 1), Array(4.5)), GdxRecord(Array(2, 2), Array(5.5))),
        s"compressed=$compressed")
      assert(c.symbol("s").get.records == Vector(
        GdxRecord(Array(0), Array.empty, Some("alpha")), GdxRecord(Array(3), Array.empty),
        GdxRecord(Array(5), Array.empty, Some("beta"))))
      // zone maps: u4 on dim_2 decodes block 2 only, u0 on dim_1 block 1 only
      val pMeta = h.metas.find(_.name == "p").get
      val s2 = GdxCodec.openRecordStream(path, h, pMeta, Map(1 -> Set(4)))
      assert(s2.toVector.filter(_.keys(1) == 4).map(_.values(0)) == Vector(3.5))
      assert(s2.decoded == 2, s"compressed=$compressed")
      s2.close()
      val s1 = GdxCodec.openRecordStream(path, h, pMeta, Map(0 -> Set(0)))
      assert(s1.toVector.map(_.values(0)) == Vector(0.5, 1.5) && s1.decoded == 2)
      s1.close()
    }
  }

  test("write rejects duplicate acronym indices") {
    val c = GdxContainer(acronyms = Vector(GdxAcronym(10, "a"), GdxAcronym(10, "b")))
    intercept[IllegalArgumentException](GdxCodec.write(c, tmp("dup.gdx")))
  }

  test("property: random records × dim × blockSize × compression round-trip exactly") {
    val rnd = new scala.util.Random(123)
    for (trial <- 1 to 30) {
      val dim = rnd.nextInt(4) // 0..3
      val typ = Seq(SymbolType.Parameter, SymbolType.Set, SymbolType.Variable)(rnd.nextInt(3))
      val nRec = rnd.nextInt(400)
      val labels = (0 until 30).map(i => s"l$i")
      val seen = scala.collection.mutable.HashSet.empty[Seq[String]]
      val recs = (0 until nRec).flatMap { _ =>
        val key = Seq.fill(dim)(labels(rnd.nextInt(labels.length)))
        if (!seen.add(key)) None
        else Some((key,
          typ match {
            case SymbolType.Set => Array.empty[Double]
            case SymbolType.Parameter => Array(rnd.nextDouble())
            case _ => Array.fill(5)(rnd.nextDouble())
          },
          if (typ == SymbolType.Set && rnd.nextBoolean()) Some(s"t${rnd.nextInt(5)}")
          else None))
      }
      val b = new GdxBuilder()
      b.addSymbol("s", typ, dim, recs)
      val blockSize = 1 + rnd.nextInt(64)
      val compress = rnd.nextBoolean()
      val path = tmp(s"prop$trial.gdx")
      GdxCodec.write(b.result(), path, compress, blockSize)
      val got = GdxCodec.read(path).symbol("s").get.records
      val want = GdxCodec.sortRecords(b.result().symbol("s").get.records)
      assert(got == want,
        s"trial $trial: dim=$dim typ=$typ n=${recs.size} blockSize=$blockSize compress=$compress")
    }
  }

  test("probe: 500k-record symbol at default block size — slice decodes ≤1 block, ~125x faster") {
    // scale-shape evidence beyond the toy sizes: one sorted 500k-record
    // parameter (≈ one production shard), DEFAULT 4096-record blocks
    // (~123 blocks); a one-label slice must decode ≤ one block and be
    // wall-clock-far from the full scan, not merely counter-smaller
    val n = 500000
    val b = new GdxBuilder()
    b.addSymbol("p", SymbolType.Parameter, 1,
      (0 until n).view.map(i => (Seq(f"k$i%06d"), Array(i.toDouble), None)))
    val path = tmp("probe.gdx")
    GdxCodec.write(b.result(), path)
    val h = GdxCodec.readHeader(path)
    val uelIdx = h.uels.indexWhere(_ == "k400000")
    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (full, tFull) = timed {
      val s = GdxCodec.openRecordStream(path, h, h.metas.head)
      try s.size finally s.close()
    }
    assert(full == n)
    val ((hits, decoded), tSlice) = timed {
      val s = GdxCodec.openRecordStream(path, h, h.metas.head, Map(0 -> Set(uelIdx)))
      try (s.count(_.keys(0) == uelIdx), s.decoded) finally s.close()
    }
    assert(hits == 1 && decoded <= GdxCodec.DefaultBlockSize,
      s"decoded $decoded of $n")
    // generous band (CI-safe): the skip path reads the block index +
    // one block; even on a stalled host it beats the full decode by 10x
    assert(tSlice < tFull / 10,
      s"slice $tSlice s vs full $tFull s — block skip not paying for itself")
  }
}
