package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{GeneralScalarExpression, Literal, NamedReference, Expression => V2Expr}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.gdx._

/** The connector-internal form of a pushed label predicate: dim ordinal
  * (0-based) plus the admissible labels, lowercased. The decoder matches
  * case-insensitively — a SUPERSET of what any of the accepted source
  * predicates admits (exact `=`/`IN` or the `lower(dim_i) = lit` shape
  * gdxpy-style case-insensitive filters lower to) — and every predicate
  * is also returned to Spark as a residual, so post-scan evaluation
  * restores the exact semantics either way.
  */
case class DimLabelFilter(dim: Int, labels: Set[String]) {
  override def toString: String =
    s"dim_${dim + 1} IN {${labels.toSeq.sorted.mkString(",")}}"
}

/** Scan with column pruning (gdx_scan_fields: only requested value
  * fields are materialized) and dim-label filter pushdown
  * (filter_label_eq: `=`/`IN` on dim columns — plain or wrapped in
  * LOWER(), the case-insensitive gdxpy filt shape — is applied on UEL
  * indices inside the decoder, before any row is built; label→index
  * lookup happens once per partition against the shard's UEL table).
  * V2 predicates rather than v1 Filters precisely so the LOWER() form
  * pushes: v1 translation only carries bare-attribute comparisons.
  */
class GdxScanBuilder(fullSchema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownV2Filters {

  private var required: StructType = fullSchema
  private var pushed: Array[Predicate] = Array.empty
  private var dimFilters: Seq[DimLabelFilter] = Nil

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // keep full-schema field order for decode simplicity
    val names = requiredSchema.fieldNames.toSet
    required = StructType(fullSchema.fields.filter(f => names.contains(f.name)))
  }

  // dim_i reference, bare or LOWER-wrapped (both admit the same
  // superset under the decoder's case-insensitive match)
  private def dimOf(e: V2Expr): Option[Int] = e match {
    case f: NamedReference if f.fieldNames.length == 1 &&
        f.fieldNames()(0).matches("dim_[0-9]+") =>
      Some(f.fieldNames()(0).stripPrefix("dim_").toInt - 1)
    case g: GeneralScalarExpression if g.name == "LOWER" && g.children.length == 1 =>
      dimOf(g.children()(0))
    case _ => None
  }

  private def strOf(e: V2Expr): Option[String] = e match {
    case l: Literal[_] if l.dataType.isInstanceOf[StringType] && l.value != null =>
      Some(l.value.toString)
    case _ => None
  }

  private def translate(p: Predicate): Option[DimLabelFilter] = p.name() match {
    case "=" => p.children() match {
      case Array(a, b) =>
        (for { d <- dimOf(a); s <- strOf(b) } yield DimLabelFilter(d, Set(s.toLowerCase(java.util.Locale.ROOT))))
          .orElse(for { d <- dimOf(b); s <- strOf(a) } yield DimLabelFilter(d, Set(s.toLowerCase(java.util.Locale.ROOT))))
      case _ => None
    }
    case "IN" =>
      val cs = p.children()
      for {
        d <- cs.headOption.flatMap(dimOf)
        vs = cs.drop(1).map(strOf) if vs.forall(_.isDefined)
      } yield DimLabelFilter(d, vs.flatten.map(_.toLowerCase(java.util.Locale.ROOT)).toSet)
    case _ => None
  }

  override def pushPredicates(predicates: Array[Predicate]): Array[Predicate] = {
    val accepted = predicates.flatMap(p => translate(p).map(p -> _))
    pushed = accepted.map(_._1)
    dimFilters = accepted.map(_._2).toSeq
    predicates // all residual: the decoder match is a superset, Spark re-checks exactly
  }

  override def pushedPredicates(): Array[Predicate] = pushed

  override def build(): Scan = new GdxScan(fullSchema, required, dimFilters, options)
}

/** A GDX symbol (or catalog view) scan. It plans one partition per
  * committed shard that manifest pruning keeps, once per scan. A scan
  * that pushes a label filter, plans at most `defaultParallelism`
  * partitions and keeps at most [[GdxScan.DriverBudget]] records in each
  * shard's zone maps runs on the driver with no Spark job
  * ([[GdxDriverScan]], through [[driverCores]]); every other scan runs in
  * tasks, through [[createReaderFactory]].
  */
class GdxScan(fullSchema: StructType, required: StructType, pushed: Seq[DimLabelFilter],
    options: CaseInsensitiveStringMap) extends Scan with Batch {

  private val path = GdxTable.localPath(options.get("path"))
  private val symbol = Option(options.get("symbol")).getOrElse("")
  private val raw = options.getOrDefault("specialValues", "map") == "raw"
  // re-validated HERE, not only in schemaFor: a user-supplied schema
  // (supportsExternalMetadata) skips schema inference entirely, and a
  // typo'd mode ("RAW") would otherwise silently degrade to lossy map
  // semantics — sentinel-destroying, exactly what the guard exists for
  locally {
    val sv = options.getOrDefault("specialValues", "map")
    require(sv == "map" || sv == "columns" || sv == "raw",
      s"gdx: specialValues must be map|columns|raw (case-sensitive), got '$sv'")
  }

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GdxMicroBatchStream(path, symbol, fullSchema, required, pushed, raw,
      committedOnly = options.getBoolean("committedOnly", false))

  /** Planned once per scan, from one manifest read, and shared by the
    * driver-venue size check and BatchScanExec: the partitions, and per
    * symbol partition the records its shard's manifest entry declares.
    */
  private lazy val planned: (Array[InputPartition], Seq[Option[Long]]) = {
    // batch membership honors the manifest (exactly-once vs in-flight
    // streaming epochs); un-manifested dirs fall back to listing
    val shards = GdxTable.committedShards(path)
    val paths = shards.map(_._1)
    if (symbol == GdxTable.CatalogSymbol) (Array(GdxCatalogPartition(paths)), Nil)
    else if (symbol == GdxTable.UelSymbol) (Array(GdxUelPartition(paths)), Nil)
    else if (symbol == GdxTable.AcronymSymbol) (Array(GdxAcronymPartition(paths)), Nil)
    else {
      // empty symbol means "the dataset's first symbol" — resolve the
      // NAME once at plan time (from the same first shard schemaFor
      // used) so a multi-shard scan cannot silently union each shard's
      // OWN first symbol; a shard genuinely lacking the resolved name
      // then errors loudly in its reader instead of mixing rows
      val resolved =
        if (symbol.nonEmpty) symbol
        else paths.headOption.map { s0 =>
          GdxTable.resolveSymbol(GdxCodec.readHeader(s0), "", s0).name
        }.getOrElse(symbol)
      val kept = prunedByManifest(shards)
      (kept.map(s => GdxInputPartition(s._1, resolved): InputPartition).toArray,
        kept.map(_._2.flatMap(_.records)))
    }
  }

  override def planInputPartitions(): Array[InputPartition] = planned._1

  /** Driver-side shard pruning: pushed dim_1 equality/IN labels are
    * checked against the manifest's per-shard [lo, hi] label ranges —
    * with the clustered write layout a label lives in exactly one shard,
    * so a label-equality scan plans ONE InputPartition out of O(10⁵)
    * without opening a single shard header. Shards lacking range info
    * are always kept.
    */
  private def prunedByManifest(shards: Seq[(String, Option[GdxManifest.Entry])])
      : Seq[(String, Option[GdxManifest.Entry])] = {
    val labels: Set[String] = pushed.collect {
      case DimLabelFilter(0, ls) => ls
    }.foldLeft(Option.empty[Set[String]]) {
      // multiple pushed filters on dim_1 → intersection semantics
      case (None, s) => Some(s)
      case (Some(acc), s) => Some(acc.intersect(s))
    }.getOrElse(return shards)
    // Range pruning is exact only when default-locale lowercasing
    // coincides with Locale.ROOT lowercasing for every string: the
    // decoder's label resolution deliberately unions BOTH lowercases
    // (see GdxSymbolDecode.resolveLabels), while the manifest records
    // only ROOT-lowercased [lo, hi] — so under a divergent locale a
    // pushed label can match a shard whose ROOT-range excludes it
    // (tr: pushed dotless 'ıstanbul' vs stored "istanbul"), and
    // pruning that shard loses its rows with no residual to catch it.
    // java.lang.ConditionalSpecialCasing diverges from ROOT only for
    // tr/az/lt, so everywhere else the test below is exact; on those
    // three, skip pruning — correctness over the optimization.
    // (Assumes driver and executors share a locale, the standard Spark
    // deployment; the decoder itself is locale-robust either way.)
    val lang = java.util.Locale.getDefault.getLanguage
    if (lang == "tr" || lang == "az" || lang == "lt") return shards
    shards.filter { case (_, e) =>
      e.flatMap(_.range) match {
        case Some((lo, hi)) => labels.exists(l => l >= lo && l <= hi)
        case None => true
      }
    }
  }

  /** The open decode cores of this scan, in shard order, when it may run
    * on the driver ([[GdxDriverScan]]): it pushes at least one label
    * filter, plans at most `maxPartitions` symbol partitions, and the
    * blocks each shard's zone maps keep hold at most
    * [[GdxScan.DriverBudget]] records. None otherwise, with every core it
    * opened closed again.
    *
    * The budget is checked cheaply. A shard's manifest `records` bound
    * its kept blocks from above (a writer's commit records its shard's
    * count, an adopted shard the sum over its symbols); only a shard
    * whose entry is over the budget, or missing, has its block index
    * counted, and the check stops at the first shard over the budget. A
    * label recurring in every block of an over-budget shard therefore
    * costs the header reads up to that shard before the scan falls back.
    */
  private[sources] def driverCores(maxPartitions: Int): Option[Seq[GdxSymbolDecode]] = {
    val (parts, records) = planned
    val shards = parts.collect { case p: GdxInputPartition => p }
    if (overBudget || pushed.isEmpty || parts.length > maxPartitions || shards.length != parts.length)
      return None
    val cores = scala.collection.mutable.ArrayBuffer.empty[GdxSymbolDecode]
    var fits = true
    try {
      val it = shards.iterator.zip(records.iterator)
      while (fits && it.hasNext) {
        val (p, declared) = it.next()
        cores += new GdxSymbolDecode(p.shardPath, p.symbol, pushed, raw)
        fits = declared.exists(_ <= GdxScan.DriverBudget) ||
          cores.last.matchingRecords <= GdxScan.DriverBudget
      }
    } catch { case e: Throwable => cores.foreach(_.close()); throw e }
    if (fits) Some(cores.toSeq)
    else { overBudget = true; cores.foreach(_.close()); None }
  }

  // set once a budget check fails: an action's limit plans this scan
  // twice (under the limit, then under Spark's CollectLimitExec), and a
  // second check would read the same block indexes again
  @volatile private var overBudget = false

  /** A row reader over a core from [[driverCores]]; closing it closes the core. */
  private[sources] def rowReader(core: GdxSymbolDecode): PartitionReader[InternalRow] =
    new GdxSymbolReader(core, required)

  override def createReaderFactory(): PartitionReaderFactory =
    new GdxReaderFactory(required, pushed, raw,
      // vectorized by default; option("vectorized","false") hands Spark
      // rows instead of batches: the same columnar decode read through
      // its row view (GdxSymbolReader), for consumers that want rows
      vectorized = options.getBoolean("vectorized", true))

  override def description(): String =
    s"GdxScan(path=$path, symbol=$symbol, pushed=${pushed.mkString(",")})"
}

object GdxScan {
  /** Records one shard may keep in its zone maps for the scan to run on
    * the driver: 64 blocks of [[GdxCodec.DefaultBlockSize]]. The driver
    * decodes its shards concurrently, one thread per core
    * ([[GdxDriverScan.maxShards]]), so the budget is per core: v4 decodes
    * ~15–16 M records/s on one core, ~0.26 ms per 4096-record block, and
    * 64 blocks take ~16 ms.
    *
    * Measured at the boundary on a 4-vCPU host (`local[4]`, one `dim_2`
    * label present in every block, collect, median of 15 runs after 5
    * warm-ups, two rounds with the venue order swapped), driver venue
    * vs a Spark job, with the driver reading the columnar decode's rows:
    *  - 1/32 of the records kept, as gdx_io's recurring labels, 64
    *    blocks a shard: 30–31 vs 55 ms on one shard, 58 vs 75–76 ms on
    *    four;
    *  - 7/8 of the records kept, four shards: 528–561 vs 605–609 ms at
    *    64 blocks; 264–350 vs 318–333 ms at 32, one round each way; at
    *    128 blocks, past the budget, 979–1003 vs 965–993 ms.
    */
  val DriverBudget: Long = 64L * GdxCodec.DefaultBlockSize
}

case class GdxInputPartition(shardPath: String, symbol: String) extends InputPartition
case class GdxCatalogPartition(shardPaths: Seq[String]) extends InputPartition
case class GdxUelPartition(shardPaths: Seq[String]) extends InputPartition
case class GdxAcronymPartition(shardPaths: Seq[String]) extends InputPartition

class GdxReaderFactory(required: StructType, pushed: Seq[DimLabelFilter],
    raw: Boolean = false, vectorized: Boolean = true)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case GdxCatalogPartition(shards) => GdxHeaderReader.catalog(shards, required)
      case GdxUelPartition(shards) => GdxHeaderReader.uels(shards, required)
      case GdxAcronymPartition(shards) => GdxHeaderReader.acronyms(shards, required)
      case GdxInputPartition(shard, sym) =>
        new GdxSymbolReader(new GdxSymbolDecode(shard, sym, pushed, raw), required)
    }

  // vectorized path for symbol record scans (the data-sized reads —
  // catalog/UEL/acronym views are header-sized and stay row-based):
  // every symbol column type has an OnHeapColumnVector filler, so the
  // decision is unconditional per partition type
  override def supportColumnarReads(partition: InputPartition): Boolean =
    vectorized && partition.isInstanceOf[GdxInputPartition]

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    partition match {
      case GdxInputPartition(shard, sym) =>
        new GdxSymbolColumnarReader(new GdxSymbolDecode(shard, sym, pushed, raw), required)
      case other => throw new IllegalStateException(
        s"columnar read requested for non-symbol partition $other")
    }
}

/** A header-sized view (catalog, UEL table, acronym table): one row per
  * item, holding exactly the required fields, in order, each from its
  * view's emitter. Header-only reads, no record blobs touched.
  */
private[sources] final class GdxHeaderReader[A](items: Iterator[A], required: StructType,
    view: String, emitters: Map[String, A => Any]) extends PartitionReader[InternalRow] {

  private val emit: Array[A => Any] = required.fieldNames.map(f =>
    emitters.getOrElse(f, throw new IllegalArgumentException(s"unknown $view field $f")))
  private var cur: A = _

  override def next(): Boolean = { val h = items.hasNext; if (h) cur = items.next(); h }

  override def get(): InternalRow = new GenericInternalRow(emit.map(e => e(cur)))

  override def close(): Unit = ()
}

private[sources] object GdxHeaderReader {

  /** One row per symbol — the gdx_catalog view. On a sharded directory
    * the metas of ALL shards are merged (record counts summed per symbol
    * name) so the catalog reflects the whole dataset, not one shard.
    */
  def catalog(paths: Seq[String], required: StructType): PartitionReader[InternalRow] = {
    // merged record count carried as a separate Long: per-shard counts are
    // Int, but across O(10^5) shards a symbol's total overflows Int
    val all = paths.flatMap(p => GdxCodec.readHeader(p).metas)
    val metas = all.groupBy(_.name.toLowerCase(java.util.Locale.ROOT)).values.map { ms =>
      (ms.head, ms.map(_.records.toLong).sum)
    }.toSeq.sortBy(_._1.name)
    new GdxHeaderReader[(GdxCodec.SymbolMeta, Long)](metas.iterator, required, "catalog", Map(
      "name" -> (m => UTF8String.fromString(m._1.name)),
      "type" -> (m => UTF8String.fromString(SymbolType.names.getOrElse(m._1.typ, "unknown"))),
      "dim" -> (m => m._1.dim),
      // variable/equation subtype (GMS_VARTYPE/GMS_EQUTYPE class) —
      // rides the codec's userInfo slot, 0 for sets/parameters
      "subtype" -> (m => m._1.userInfo),
      "records" -> (m => m._2),
      "expl_text" -> (m => UTF8String.fromString(m._1.explText)),
      "domains" -> (m => UTF8String.fromString(m._1.domains.mkString(",")))))
  }

  /** The UEL (label) dictionary — gdxpy's gdxGetUEL loop view: one
    * (uel_index, label) row per registered label. Single file: the
    * file's own table in registration order. Sharded dataset: shards are
    * merged in sorted path order with case-insensitive first-appearance
    * dedup and a fresh 1-based index (per-shard indices are local to
    * each shard's table, so a global view must re-number).
    */
  def uels(paths: Seq[String], required: StructType): PartitionReader[InternalRow] = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    val out = Vector.newBuilder[String]
    paths.sorted.foreach { p =>
      GdxCodec.readHeader(p).uels.foreach { u =>
        if (seen.add(u.toLowerCase(java.util.Locale.ROOT))) out += u
      }
    }
    val labels = out.result().zipWithIndex.map { case (u, i) => (i + 1, u) }
    new GdxHeaderReader[(Int, String)](labels.iterator, required, "uel", Map(
      "uel_index" -> (u => u._1),
      "label" -> (u => UTF8String.fromString(u._2))))
  }

  /** The acronym table (gdxAcronymCount/gdxAcronymGetInfo view): one
    * (acr_index, name, text) row per registered acronym. Sharded
    * datasets merge by index; a shard registering a DIFFERENT name
    * (case-insensitively — GAMS identifier semantics) under an
    * already-seen index fails loudly — the EXACT contract
    * [[graft.gdx.Gdx.merge]] enforces, so a hand-assembled dir is
    * readable through this view iff it is mergeable: names compare
    * case-insensitively, explanatory TEXT differences are tolerated
    * with first-shard-wins (paths iterate sorted, so the pick is
    * deterministic). A silent first-wins on the NAME would rename
    * sentinel values; the sharded writer stamps every shard with the
    * same table, so legitimate data never trips this.
    */
  def acronyms(paths: Seq[String], required: StructType): PartitionReader[InternalRow] = {
    val seen = scala.collection.mutable.HashMap.empty[Int, GdxAcronym]
    paths.sorted.foreach { p =>
      GdxCodec.readHeader(p).acronyms.foreach { a =>
        seen.get(a.index) match {
          case None => seen(a.index) = a
          case Some(prev) =>
            if (!prev.name.equalsIgnoreCase(a.name))
              throw new IllegalArgumentException(
                s"gdx: acronym index ${a.index} disagrees across shards: " +
                  s"(${prev.name}) vs (${a.name}) in $p")
        }
      }
    }
    new GdxHeaderReader[GdxAcronym](seen.values.toVector.sortBy(_.index).iterator, required, "acronym", Map(
      "acr_index" -> (a => a.index),
      "name" -> (a => UTF8String.fromString(a.name)),
      "text" -> (a => UTF8String.fromString(a.text))))
  }
}

/** The symbol-decode core under [[GdxSymbolColumnarReader]] (and so
  * under its row view [[GdxSymbolReader]] and the driver venue):
  * header + UEL index resolution, pushed-filter translation, the
  * block-skipping record stream, and the residual per-record check.
  */
private[sources] final class GdxSymbolDecode(path: String, symbol: String,
    pushed: Seq[DimLabelFilter], raw: Boolean) {

  val header = GdxCodec.readHeader(path)
  val meta = GdxTable.resolveSymbol(header, symbol, path)

  // label filters → UEL index predicates, resolved once here, in one
  // pass over this shard's UEL table (see resolveLabels)
  private val dimFilters: Map[Int, Set[Int]] =
    GdxSymbolDecode.resolveLabels(header.uels, pushed)
  // the same predicate on primitive arrays for the per-record residual:
  // the filtered dim ordinals, and per ordinal a UEL-indexed admit table
  private val filterDims: Array[Int] = dimFilters.keys.toArray
  private val admits: Array[Array[Boolean]] = filterDims.map { d =>
    val a = new Array[Boolean](header.uels.length)
    dimFilters(d).foreach(a(_) = true)
    a
  }

  // shard skip: a pushed label absent from this shard's UEL table can
  // match nothing here — with the clustered write layout each label
  // lives in exactly one shard, so every other shard skips its record
  // blob entirely (header-only read).
  private val shardCanMatch = dimFilters.valuesIterator.forall(_.nonEmpty)

  // streaming decode: one block in memory at a time — task memory is
  // O(UEL table + block index + one block), never O(shard records). ALL
  // pushed per-dim index sets ride into the stream, where the block
  // zone maps skip non-matching blocks WITHOUT reading them (dim_1
  // range-exactly on sorted layouts — a one-label slice decodes ~one
  // block; dims 2+ parquet-stats-style on v3/v4 files); `keepKeys` below
  // still re-checks per record, so the skip is a pure superset pass.
  private val stream =
    if (shardCanMatch) GdxCodec.openRecordStream(path, header, meta, dimFilters)
    else null

  // raw mode: sentinels pass through as their finite 1e300 encodings —
  // the lossless representation the tool suite (merge/diff/dump) uses
  // for ALL five value fields (flag columns only describe values(0));
  // flag mode needs no special-casing here: toDouble already maps EPS
  // to 0.0, and the is_* columns carry the lossless bit
  def mapValue(v: Double): Double =
    if (raw) v else SpecialValues.toDouble(v)

  /** The next record passing the residual per-record filter, decoded
    * into caller-owned arrays (no per-record allocation), returning the
    * 1-based text-pool index (0 = none) or -1 at stream end. Values
    * materialize lazily (r15): keys decode first, and the value bytes
    * of a record the residual filter kills are skipped, never
    * assembled — on selective scans whose blocks still match the zone
    * maps, that is most of the per-corpse decode cost.
    */
  def nextKeptInto(keys: Array[Int], values: Array[Double]): Int = {
    if (stream == null) return -1
    while (stream.hasNext) {
      val t = stream.nextKeysInto(keys)
      if (keepKeys(keys)) { stream.readValuesInto(values); return t }
      else stream.skipValues()
    }
    -1
  }

  private def keepKeys(keys: Array[Int]): Boolean = {
    var i = 0
    while (i < filterDims.length) {
      val k = keys(filterDims(i))
      val a = admits(i)
      if (k >= a.length || !a(k)) return false
      i += 1
    }
    true
  }

  def textOf(t: Int): String = stream.textAt(t)

  /** Records in the blocks this shard's zone maps keep (0 if the shard
    * cannot match); see the record stream's `matchingRecords`.
    */
  def matchingRecords: Long = if (stream == null) 0L else stream.matchingRecords

  /** Records decoded so far. */
  def decoded: Long = if (stream == null) 0L else stream.decoded

  /** Stored value arity of this symbol (0 set/alias, 1 parameter, 5). */
  val valueArity: Int = meta.typ match {
    case SymbolType.Set | SymbolType.Alias => 0
    case SymbolType.Parameter => 1
    case _ => 5
  }

  def close(): Unit = if (stream != null) stream.close()
}

private[sources] object GdxSymbolDecode {

  /** Pushed label filters → admissible UEL indices per dim, in ONE pass
    * over the shard's UEL table (no per-task index of the whole table).
    * A label absent from the table matches nothing. Multiple pushed
    * filters on the same dim (`=` + `IN`) intersect — matching
    * prunedByManifest's semantics — rather than last-wins.
    *
    * A UEL is admitted when either of its lowercases (Locale.ROOT and
    * the default locale) equals either lowercase of a pushed label, so
    * the match stays a SUPERSET of the engine-evaluated predicate:
    *  - every case-duplicate is kept: the codec does not forbid a UEL
    *    table carrying both 'Foo' and 'FOO' (only the builders dedup),
    *    and a first-occurrence-wins match would drop rows the residual
    *    re-check could never restore (it only sees rows the decoder
    *    emitted);
    *  - both lowercases matter on tr/az JVMs (dotted/dotless I): Spark's
    *    lower() takes the default-locale path for non-ASCII strings, so
    *    a ROOT-only match could lose rows the same way.
    */
  def resolveLabels(uels: IndexedSeq[String],
      pushed: Seq[DimLabelFilter]): Map[Int, Set[Int]] = {
    if (pushed.isEmpty) return Map.empty
    // lowercase form → positions (in `pushed`) of the filters naming it
    val wanted = scala.collection.mutable.HashMap.empty[String, List[Int]]
    for ((f, fi) <- pushed.zipWithIndex; l <- f.labels) {
      val root = l.toLowerCase(java.util.Locale.ROOT)
      for (k <- Seq(root, l.toLowerCase).distinct)
        wanted(k) = fi :: wanted.getOrElse(k, Nil)
    }
    val hits = Array.fill(pushed.length)(scala.collection.mutable.BitSet.empty)
    var i = 0
    while (i < uels.length) {
      val root = uels(i).toLowerCase(java.util.Locale.ROOT)
      wanted.get(root).foreach(_.foreach(hits(_) += i))
      val dflt = uels(i).toLowerCase
      if (dflt != root) wanted.get(dflt).foreach(_.foreach(hits(_) += i))
      i += 1
    }
    pushed.indices.groupBy(pushed(_).dim).map { case (d, fis) =>
      d -> fis.map(hits(_).toSet).reduce(_ intersect _)
    }
  }
}

/** The row view of [[GdxSymbolColumnarReader]]: the rows of each batch's
  * `rowIterator()`, so special values, texts and flags are the columnar
  * fillers' and nothing is built per record. The row it returns is
  * reused across `next()` calls; Spark puts a projection to unsafe rows
  * above every row-based DSv2 scan, and [[GdxDriverScan]] projects and
  * copies each row it keeps.
  */
class GdxSymbolReader private[sources] (core: GdxSymbolDecode, required: StructType)
    extends PartitionReader[InternalRow] {

  private val batches = new GdxSymbolColumnarReader(core, required)
  private var rows: java.util.Iterator[InternalRow] = java.util.Collections.emptyIterator()
  private var row: InternalRow = _

  override def next(): Boolean = {
    if (!rows.hasNext) {
      if (!batches.next()) return false
      rows = batches.get().rowIterator()
    }
    row = rows.next()
    true
  }

  override def get(): InternalRow = row

  override def close(): Unit = batches.close()
}

/** Vectorized symbol reader ([[SupportsColumnarReads]] path): decodes
  * straight into `OnHeapColumnVector`s and hands Spark whole
  * `ColumnarBatch`es — no per-row `GenericInternalRow` allocation, no
  * per-field boxing, and the downstream plan consumes the batch inside
  * whole-stage codegen's vectorized loop, the same contract as the
  * parquet vectorized reader (the r12 verdict's #4: at 100 TB the
  * row-at-a-time scan is the bottleneck). Dimension columns are
  * DICTIONARY-ENCODED since r14: the GDX UEL table is the dictionary
  * (labels byte-encode once per reader), each row stores only a 4-byte
  * UEL id, and `getUTF8String` decodes zero-copy through the
  * `Dictionary` hook — the identical layout the parquet reader gives
  * dictionary-encoded pages, eliminating the per-row label byte copy
  * the r13 reader paid. The only symbol decode: [[GdxSymbolReader]]
  * and the driver venue read its batches as rows.
  */
class GdxSymbolColumnarReader private[sources] (core: GdxSymbolDecode,
    required: StructType, batchSize: Int = GdxCodec.DefaultBlockSize)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  import org.apache.spark.sql.execution.vectorized.{Dictionary, OnHeapColumnVector, WritableColumnVector}
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(batchSize, required)
  private val batch = new ColumnarBatch(vectors.map(v => v: ColumnVector))

  // lazily-encoded label bytes, keyed by UEL index (shared across dims)
  private val labelBytes = new Array[Array[Byte]](core.header.uels.length)
  private def bytesOf(uel: Int): Array[Byte] = {
    var b = labelBytes(uel)
    if (b == null) {
      b = core.header.uels(uel).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      labelBytes(uel) = b
    }
    b
  }

  /** The UEL table AS the column dictionary (r13 verdict #4): dim
    * columns store 4-byte dictionary IDs (the record's raw UEL index)
    * instead of copying each label's UTF-8 bytes into the vector per
    * row — the same layout the parquet vectorized reader uses for
    * dictionary-encoded pages. `decodeToBinary` returns the CACHED
    * per-UEL byte array (encoded once per reader), which
    * `getUTF8String` wraps zero-copy.
    */
  private val uelDict: Dictionary = new Dictionary {
    override def decodeToInt(id: Int): Int = throw new UnsupportedOperationException
    override def decodeToLong(id: Int): Long = throw new UnsupportedOperationException
    override def decodeToFloat(id: Int): Float = throw new UnsupportedOperationException
    override def decodeToDouble(id: Int): Double = throw new UnsupportedOperationException
    override def decodeToBinary(id: Int): Array[Byte] = bytesOf(id)
  }
  // per-column dictionary-id vectors (non-null only for dim_ columns)
  private val dimIds: Array[WritableColumnVector] =
    required.fields.zipWithIndex.map { case (f, c) =>
      if (f.name.startsWith("dim_")) {
        vectors(c).setDictionary(uelDict)
        vectors(c).reserveDictionaryIds(batchSize)
      } else null
    }

  // flyweight record state: the decode fills these caller-owned arrays
  // (no keys / values allocation per record)
  private val recKeys = new Array[Int](math.max(core.meta.dim, 1))
  private val recVals = new Array[Double](5)
  private def firstVal: Double = if (core.valueArity == 0) 0.0 else recVals(0)
  // text-pool bytes encode once per distinct text (pool-sized cache)
  private val textBytes = new scala.collection.mutable.HashMap[Int, Array[Byte]]()

  // per-field vector fillers, the one place special values, texts, set
  // membership and flags are mapped; t is the 1-based text-pool index
  // (0 = none)
  private val fillers: Array[(Int, Int, OnHeapColumnVector) => Unit] =
    required.fields.zipWithIndex.map[(Int, Int, OnHeapColumnVector) => Unit] { case (f, c) =>
      f.name match {
        case n if n.startsWith("dim_") =>
          val i = n.stripPrefix("dim_").toInt - 1
          val ids = dimIds(c)
          (_t, row, _v) => ids.putInt(row, recKeys(i))
        case "text" =>
          (t, row, v) =>
            if (t == 0) v.putNull(row)
            else {
              val b = textBytes.getOrElseUpdate(t, core.textOf(t)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
              v.putByteArray(row, b, 0, b.length)
            }
        case "value" if core.meta.typ == SymbolType.Set ||
            core.meta.typ == SymbolType.Alias =>
          (_t, row, v) => v.putDouble(row, 1.0)
        case "value" =>
          (_t, row, v) => v.putDouble(row, core.mapValue(recVals(0)))
        case "is_eps" =>
          (_t, row, v) => v.putBoolean(row, firstVal == SpecialValues.EPS)
        case "is_na" =>
          (_t, row, v) => v.putBoolean(row, firstVal == SpecialValues.NA)
        case "is_undef" =>
          (_t, row, v) => v.putBoolean(row, firstVal == SpecialValues.UNDEF)
        case "is_acronym" =>
          (_t, row, v) => v.putBoolean(row, SpecialValues.isAcronym(firstVal))
        case "acr_index" =>
          (_t, row, v) => {
            val x = firstVal
            v.putInt(row, if (SpecialValues.isAcronym(x)) SpecialValues.acronymIndex(x) else 0)
          }
        case field =>
          val vi = ValField.names.indexOf(field)
          require(vi >= 0, s"unknown gdx field $field")
          (_t, row, v) => v.putDouble(row,
            core.mapValue(if (vi < core.valueArity) recVals(vi) else 0.0))
      }
    }

  override def next(): Boolean = {
    var i = 0
    while (i < vectors.length) {
      vectors(i).reset() // keeps the dictionary; ids vector resets below
      if (dimIds(i) != null) dimIds(i).reset()
      i += 1
    }
    var n = 0
    var t = core.nextKeptInto(recKeys, recVals)
    while (t >= 0) {
      var c = 0
      while (c < fillers.length) { fillers(c)(t, n, vectors(c)); c += 1 }
      n += 1
      t = if (n < batchSize) core.nextKeptInto(recKeys, recVals) else -1
    }
    batch.setNumRows(n)
    n > 0
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    batch.close()
    core.close()
  }
}
