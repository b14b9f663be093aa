package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.gdx._

/** DataSource V2 connector for the graft GDX container: format "gdx".
  *
  * Read:  spark.read.format("gdx").option("symbol", "x").load(path)
  *   - `symbol` (default: first symbol) — case-insensitive, mirrors
  *     gdxFindSymbol; `__catalog__` returns the symbol table
  *     (gdxSystemInfo/gdxSymbolInfo view).
  *   - `specialValues` = map (default; gdxpy-compatible NaN/±inf/0) |
  *     columns (adds is_eps/is_na/is_undef flags — lossless for the
  *     first value field) | raw (sentinels kept as their finite 1e300
  *     encodings — lossless for ALL value fields; scan→write is the
  *     identity, which is what the gdxmerge/gdxdiff tools ride).
  *   - `path` may be a single .gdx file or a sharded directory produced
  *     by the writer (shard-*.gdx + _manifest.json) — one InputPartition
  *     per (shard, symbol), which is what makes scans parallel at 100 TB
  *     (SURVEY.md §7 hard part #3: single-symbol streams are delta-
  *     encoded and not splittable; sharding is the scale path).
  *
  * Write: df.write.format("gdx").option("symbol", "x").save(path)
  *   - sharded layout by default (directory of shard-*.gdx, each with
  *     its own UEL table, plus _manifest.json) — executors write shards
  *     independently; nothing funnels through the driver.
  *   - option("singleFile", "true") merges on the driver (global key
  *     sort + one UEL table — the GDX single-file invariant); documented
  *     for small/medium symbols only.
  */
class GdxDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "gdx"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GdxTable.schemaFor(options)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GdxTable(schema, new CaseInsensitiveStringMap(properties))

  override def supportsExternalMetadata(): Boolean = true
}

object GdxTable {
  val CatalogSymbol = "__catalog__"
  val UelSymbol = "__uels__"
  val AcronymSymbol = "__acronyms__"

  /** The acronym-table view (gdxAcronymCount/gdxAcronymGetInfo surface):
    * one (acr_index, name, text) row per registered acronym; an acronym
    * sentinel value decodes as acr_index·1e300.
    */
  val acronymSchema: StructType = StructType(Seq(
    StructField("acr_index", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("text", StringType, nullable = true)))

  /** The UEL (unique-element/label) dictionary view — gdxpy's
    * gdxSystemInfo nUels + gdxGetUEL loop surface. `uel_index` is the
    * 1-based registration order: the file's own table for a single
    * .gdx, first-appearance order across shards (sorted shard paths,
    * case-insensitive dedup) for a sharded dataset.
    */
  val uelSchema: StructType = StructType(Seq(
    StructField("uel_index", IntegerType, nullable = false),
    StructField("label", StringType, nullable = false)))

  val catalogSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("dim", IntegerType, nullable = false),
    StructField("subtype", IntegerType, nullable = false),
    StructField("records", LongType, nullable = false),
    StructField("expl_text", StringType, nullable = true),
    StructField("domains", StringType, nullable = true)))

  /** The SQL catalog path (`CREATE TABLE … USING gdx`) arrives as a
    * `file:` URI; the DataFrame API hands a plain local path. The codec
    * opens `java.io.File`s, so strip the scheme once at every entry.
    * Opaque forms (`file:rel.gdx` → null getPath) and unencoded spaces
    * (URISyntaxException) fall back to a plain prefix strip rather
    * than NPE/throwing on a path the filesystem would accept.
    */
  def localPath(p: String): String =
    if (!p.startsWith("file:")) p
    else try Option(new java.net.URI(p).getPath).getOrElse(p.stripPrefix("file:"))
    catch { case _: java.net.URISyntaxException => p.stripPrefix("file:") }

  /** Resolve the list of shard files behind a path (file or dir) by
    * DIRECTORY LISTING — arrival semantics, used by the micro-batch
    * stream (a dropped file IS publication there) and as the fallback
    * for un-manifested directories.
    */
  def shardsOf(rawPath: String): Seq[String] = {
    val path = localPath(rawPath)
    val f = new java.io.File(path)
    if (f.isDirectory)
      f.listFiles((_, n) => n.endsWith(".gdx")).map(_.getPath).sorted.toSeq
    else Seq(path)
  }

  /** Shard membership for BATCH reads: when `_manifest.json` exists,
    * only shards the manifest records are read — task-published files
    * from an uncommitted/aborted streaming epoch stay invisible, which
    * is what makes the sink exactly-once for batch consumers. A
    * committed-but-missing file is corruption and fails loudly.
    * Directories without a manifest (hand-assembled, or a sink before
    * its first epoch commit) fall back to listing. Each shard comes with
    * its manifest entry, when it has one.
    */
  def committedShards(rawPath: String): Seq[(String, Option[GdxManifest.Entry])] = {
    val path = localPath(rawPath)
    val f = new java.io.File(path)
    if (!f.isDirectory) return Seq(path -> None)
    GdxManifest.entries(path) match {
      case None => shardsOf(path).map(_ -> None)
      case Some(es) =>
        es.sortBy(_.file).map { e =>
          val s = new java.io.File(f, e.file)
          require(s.isFile,
            s"gdx: manifest records shard '${e.file}' but the file is missing at $path " +
              "(committed data lost or manifest corrupted)")
          s.getPath -> Some(e)
        }
    }
  }

  def committedShardsOf(rawPath: String): Seq[String] = committedShards(rawPath).map(_._1)

  /** Per-shard lowercased dim_1 label ranges from _manifest.json, keyed
    * by shard file name (see [[GdxManifest.ranges]]).
    */
  def shardRangesOf(rawPath: String): Map[String, (String, String)] =
    GdxManifest.ranges(localPath(rawPath))

  def schemaFor(options: CaseInsensitiveStringMap): StructType = {
    val path = Option(options.get("path"))
      .getOrElse(throw new IllegalArgumentException("gdx: path required"))
    val symbol = Option(options.get("symbol")).getOrElse("")
    if (symbol == CatalogSymbol) return catalogSchema
    if (symbol == UelSymbol) return uelSchema
    if (symbol == AcronymSymbol) return acronymSchema
    val shards = committedShardsOf(path)
    val sv = options.getOrDefault("specialValues", "map")
    // fail fast on a typo'd mode: "RAW"/"cols"/… would otherwise fall
    // back to lossy map mode SILENTLY (EPS→0.0, NA/UNDEF→NaN) in a
    // pipeline that believed it asked for lossless sentinels
    require(sv == "map" || sv == "columns" || sv == "raw",
      s"gdx: specialValues must be map|columns|raw (case-sensitive), got '$sv'")
    val flags = sv == "columns"
    if (shards.isEmpty) {
      // start-before-producers streaming pattern: no shard exists yet,
      // so the schema must come from options — `dims` (dimension
      // count) plus optional symbolType (default parameter)
      val dims = options.getInt("dims", -1)
      require(dims >= 0,
        s"gdx: no .gdx files at $path — to start a stream on an empty " +
          "directory, declare the schema via .option(\"dims\", n) " +
          "(+ optional symbolType)")
      val typ = Option(options.get("symbolType")).map {
        case "set" => SymbolType.Set
        case "parameter" => SymbolType.Parameter
        case "variable" => SymbolType.Variable
        case "equation" => SymbolType.Equation
        case other => throw new IllegalArgumentException(s"gdx: bad symbolType $other")
      }.getOrElse(SymbolType.Parameter)
      val meta = GdxCodec.SymbolMeta(
        if (symbol.isEmpty) "data" else symbol, typ, dims, "", 0,
        Seq.fill(dims)("*"), 0, 0L, 0)
      return schemaOf(meta, flags)
    }
    val h = GdxCodec.readHeader(shards.head)
    val meta = resolveSymbol(h, symbol, shards.head)
    schemaOf(meta, flags)
  }

  def resolveSymbol(h: GdxCodec.Header, symbol: String, path: String): GdxCodec.SymbolMeta = {
    val meta =
      if (symbol.isEmpty) h.metas.headOption
        .getOrElse(throw new IllegalArgumentException(s"gdx: no symbols in $path"))
      else h.metas.find(_.name.equalsIgnoreCase(symbol))
        .getOrElse(throw new IllegalArgumentException(
          s"gdx: symbol '$symbol' not found in $path (have: ${h.metas.map(_.name).mkString(", ")})"))
    // Alias = catalog-level redirect (SURVEY §1.2): reading an alias
    // reads its target. The target rides in the explanatory text, the
    // GAMS convention ("Aliased with X") our builder also writes.
    if (meta.typ == SymbolType.Alias) {
      val target = meta.explText.stripPrefix("Aliased with ").trim
      h.metas.find(m => m.name.equalsIgnoreCase(target) && m.typ != SymbolType.Alias)
        .getOrElse(throw new IllegalArgumentException(
          s"gdx: alias '${meta.name}' points at missing symbol '$target' in $path"))
    } else meta
  }

  /** Long-form relational encoding of a symbol (SURVEY.md §1.2):
    * dim_i string columns (with domain metadata), then the value
    * field(s) per symbol type, then optional special-value flags.
    */
  def schemaOf(meta: GdxCodec.SymbolMeta, flagCols: Boolean): StructType = {
    val dims = (1 to meta.dim).map { i =>
      val dom = if (meta.domains.size >= i) meta.domains(i - 1) else "*"
      val md = new MetadataBuilder().putString("domain", dom).build()
      StructField(s"dim_$i", StringType, nullable = false, md)
    }
    val vals = meta.typ match {
      case SymbolType.Set | SymbolType.Alias => Seq(
        StructField("value", DoubleType, nullable = false),
        StructField("text", StringType, nullable = true))
      case SymbolType.Parameter => Seq(StructField("value", DoubleType, nullable = false))
      case _ => ValField.names.map(n => StructField(n, DoubleType, nullable = false))
    }
    val flags = if (flagCols) Seq(
      StructField("is_eps", BooleanType, nullable = false),
      StructField("is_na", BooleanType, nullable = false),
      StructField("is_undef", BooleanType, nullable = false),
      // acronym sentinels (≥ 1e301): flag + table index (0 = none) keep
      // the first value field lossless in flag mode, like the trio above
      StructField("is_acronym", BooleanType, nullable = false),
      StructField("acr_index", IntegerType, nullable = false)) else Nil
    StructType(dims ++ vals ++ flags)
  }
}

class GdxTable(schema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String =
    s"gdx:${options.get("path")}#${Option(options.get("symbol")).getOrElse("")}"

  override def schema(): StructType = schema

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE).asJava

  override def newScanBuilder(opts: CaseInsensitiveStringMap) = {
    val merged = new CaseInsensitiveStringMap(
      (options.asScala ++ opts.asScala).asJava)
    new GdxScanBuilder(schema, merged)
  }

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo) =
    new GdxWriteBuilder(info, options)
}
