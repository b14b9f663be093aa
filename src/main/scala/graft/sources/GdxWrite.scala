package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.gdx._

/** DSv2 write path for format "gdx".
  *
  * Default layout is SHARDED: every task encodes its partition into its
  * own shard-*.gdx (local UEL table, locally sorted records) and the
  * driver's commit only writes _manifest.json — no data moves through
  * the driver, so writes scale with executor count (SURVEY.md §7 hard
  * part #1: the single-file GDX invariant of one global key sort + one
  * UEL table is what does NOT scale; sharding is the designed answer).
  *
  * option("singleFile", "true") keeps the strict single-file invariant:
  * tasks ship their rows back in commit messages and the driver merges
  * into one globally-sorted file — correct, driver-bounded, and
  * documented as small-symbol-only.
  */
class GdxWriteBuilder(info: LogicalWriteInfo, options: CaseInsensitiveStringMap)
    extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write with RequiresDistributionAndOrdering {
    import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
    import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, SortOrder}

    private def dimNames: Array[String] = info.schema().fields
      .filter(f => f.dataType == StringType && f.name.toLowerCase(java.util.Locale.ROOT) != "text")
      .map(_.name)

    /** Range-distribute and sort by the full key tuple (SURVEY §4.3
      * "GDX write ordering"): Spark plans a range shuffle + sort, so the
      * shard SEQUENCE is globally key-sorted — the distributed analog of
      * the single-file GDX sorted invariant — every shard owns a tight,
      * non-overlapping [lo, hi] label range (manifest-level shard
      * pruning on label filters), and each writer task receives records
      * already in GDX key order. (Hash clustering was tried first: it
      * interleaves labels, so every shard's range spans the whole label
      * space and range pruning can never fire.)
      */
    override def requiredDistribution(): Distribution =
      if (dimNames.isEmpty) Distributions.unspecified()
      else Distributions.ordered(requiredOrdering())

    override def requiredOrdering(): Array[SortOrder] =
      dimNames.map(n => Expressions.sort(Expressions.column(n),
        SortDirection.ASCENDING))

    private def path = GdxTable.localPath(options.get("path"))
    private def symbol = Option(options.get("symbol")).getOrElse("data")
    private def typ: Option[Int] = Option(options.get("symbolType")).map {
      case "set" => SymbolType.Set
      case "parameter" => SymbolType.Parameter
      case "variable" => SymbolType.Variable
      case "equation" => SymbolType.Equation
      case other => throw new IllegalArgumentException(s"gdx: bad symbolType $other")
    }
    // variable/equation subtype (VarType.* / EquType.*), stored as the
    // symbol's userInfo so default-bound semantics survive round-trip
    private def subtype = options.getInt("subtype", 0)
    // file-level acronym table ("index:name[:text]," entries) stamped on
    // every shard, so acronym sentinels stay resolvable after the write
    private def acronyms: Vector[GdxAcronym] =
      Option(options.get("acronyms")).map(GdxWriteLayout.parseAcronyms)
        .getOrElse(Vector.empty)

    // controlling-set names, one per dim ("*" = unchecked universe) —
    // recorded in the written symbol meta (gdxSymbolGetDomainX parity)
    private def domains: Seq[String] =
      Option(options.get("domains"))
        .map(_.split(",", -1).map(_.trim).toSeq).getOrElse(Nil)

    /** Write-side domain ENFORCEMENT (SPEC: gdxDataErrorCount — real
      * GAMS rejects out-of-domain records at write, where
      * `gdx_domain_check` only audits after the fact):
      * option("domainCheck","enforce") + option("domainSource", path)
      * loads each named controlling set's members ONCE at plan time
      * (sets are label-sized — O(labels) driver memory, same contract
      * as the scan's UEL table) and ships the lowercased label sets in
      * the task closure; every writer task then rejects violating rows
      * as a map-side anti-join — zero extra shuffle at any scale, and
      * a violation fails the task, so Spark aborts the job before any
      * shard is manifested.
      */
    private def domainSets: Map[Int, (String, Set[String])] =
      Option(options.get("domainCheck")) match {
        case None => Map.empty
        case Some("enforce") =>
          val src = Option(options.get("domainSource")).getOrElse(
            throw new IllegalArgumentException(
              "gdx: domainCheck=enforce needs option(\"domainSource\", <gdx path>)"))
          val doms = domains
          require(doms.nonEmpty,
            "gdx: domainCheck=enforce needs option(\"domains\", \"set1,set2,…\")")
          require(doms.size == dimNames.length,
            s"gdx: domains has ${doms.size} entries for ${dimNames.length} dim columns")
          val spark = org.apache.spark.sql.SparkSession.active
          doms.zipWithIndex.collect { case (dn, i) if dn != "*" =>
            val members = Gdx.symbol(spark, src, dn).select("dim_1").collect()
              .map(_.getString(0).toLowerCase(java.util.Locale.ROOT)).toSet
            i -> (dn -> members)
          }.toMap
        case Some(other) => throw new IllegalArgumentException(
          s"gdx: bad domainCheck '$other' (only 'enforce' is supported)")
      }

    override def toBatch: BatchWrite = {
      val single = options.getBoolean("singleFile", false)
      new GdxBatchWrite(path, symbol, info.schema(), single, typ, subtype, doTruncate,
        acronyms, domains, domainSets)
    }

    /** Streaming sink (`writeStream.format("gdx")`): every epoch's tasks
      * encode their partition into epoch-deterministic shard files
      * (idempotent under epoch re-runs) and the epoch commit APPENDS the
      * new entries to `_manifest.json` — the continuous-producer face of
      * the sharded layout, symmetric with GdxMicroBatchStream on the
      * read side. Sharded only: the single-file invariant (one global
      * sort, one UEL table) cannot hold under appends.
      */
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(!options.getBoolean("singleFile", false),
        "gdx: singleFile is a batch-only layout; streaming writes are sharded")
      // complete mode arrives as truncate(): every epoch would re-write
      // the FULL result as new shards and the dataset would accumulate
      // N-fold duplicates — reject instead of corrupting
      require(!doTruncate,
        "gdx: the streaming sink is append-only — use outputMode(\"append\") " +
          "(complete mode would re-append every epoch's full result)")
      new GdxStreamingWrite(path, symbol, info.schema(), typ, subtype, acronyms,
        domains, domainSets)
    }
  }
}

/** Read/append/rewrite of a sharded dataset's `_manifest.json`. Raw
  * entry JSON is preserved verbatim on append, and an append skips
  * shard files already present — the idempotence an epoch re-commit
  * needs. The entry regex tolerates any label content inside the
  * quoted lo/hi strings (including braces) — only unescaped quotes
  * delimit strings.
  */
object GdxManifest {
  // an entry = {"file":"…" followed by bare tokens or quoted strings
  // (which may contain braces) up to the closing brace
  private val entryRx =
    """\{"file":"((?:[^"\\]|\\.)*)"(?:[^{}"]|"(?:[^"\\]|\\.)*")*\}""".r
  private[sources] def js(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
  private[sources] def unjs(s: String) = s.replace("\\\"", "\"").replace("\\\\", "\\")

  /** A committed shard: its file name, and its `records` and lowercased
    * dim_1 label range when the entry has them.
    */
  final case class Entry(file: String, records: Option[Long], range: Option[(String, String)])

  // fields matched per FIELD (not one positional entry regex): a quoted
  // value can never contain an unescaped quote, so "lo":" cannot occur
  // inside another field's value, and entries stay parseable if fields
  // are reordered or added — the same tolerance entryRx gives file names
  private val loRx = """"lo":"((?:[^"\\]|\\.)*)"""".r
  private val hiRx = """"hi":"((?:[^"\\]|\\.)*)"""".r
  private val recordsRx = """"records":([0-9]+)""".r

  /** The entries of a manifested dataset (None without a manifest): the
    * one parser of the file, so membership, ranges and record counts
    * cannot drift.
    */
  def entries(path: String): Option[Seq[Entry]] = {
    val mf = new File(path, "_manifest.json")
    if (!mf.isFile) None
    else Some(entryRx.findAllMatchIn(new String(Files.readAllBytes(mf.toPath),
      StandardCharsets.UTF_8)).map { m =>
      def field(rx: scala.util.matching.Regex) = rx.findFirstMatchIn(m.matched).map(_.group(1))
      Entry(unjs(m.group(1)), field(recordsRx).map(_.toLong),
        for (lo <- field(loRx); hi <- field(hiRx)) yield (unjs(lo), unjs(hi)))
    }.toSeq)
  }

  /** Committed shard file names, when `path` is a manifested dataset. */
  def files(path: String): Option[Seq[String]] = entries(path).map(_.map(_.file))

  /** Per-shard lowercased dim_1 [lo, hi] label ranges, keyed by shard
    * file name; shards without range fields are absent (never pruned).
    */
  def ranges(path: String): Map[String, (String, String)] =
    entries(path).getOrElse(Nil).flatMap(e => e.range.map(e.file -> _)).toMap

  def entryJson(c: GdxShardCommit): String = {
    val range = (c.lo, c.hi) match {
      case (Some(l), Some(h)) => s""","lo":"${js(l)}","hi":"${js(h)}""""
      case _ => ""
    }
    s"""{"file":"${js(c.fileName)}","records":${c.records}$range}"""
  }

  /** Manifest publication is write-temp + atomic rename, never an
    * in-place truncate-and-write: shards already publish atomically,
    * and a reader racing an in-place rewrite (or a crash mid-write)
    * would see an empty/partial manifest and silently scan a subset
    * of committed shards — wrong results with no error.
    */
  def write(path: String, symbol: String, entries: Seq[String]): Unit = {
    val body =
      s"""{"symbol":"${js(symbol)}","shards":[${entries.mkString(",")}]}"""
        .getBytes(StandardCharsets.UTF_8)
    val tmp = Paths.get(path,
      s"_manifest.json.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    Files.write(tmp, body)
    // shared fallback discipline (capability-exception-only fallback,
    // no manual delete+rename, transient errors propagate with the
    // live manifest intact) lives in GdxCodec.publishAtomically — the
    // codec writer and the shard encoder publish through the same code
    graft.gdx.GdxCodec.publishAtomically(
      tmp.toFile, Paths.get(path, "_manifest.json").toFile)
  }

  /** Run `body` holding the dataset's cross-process commit lock
    * (`_manifest.lock`), serialized JVM-locally by the enclosing
    * synchronized (so the overlapping-FileLock exception can't fire
    * between same-JVM committers). The channel cannot leak: it is
    * closed even when lock() itself throws. Degrade to LOCK-LESS
    * execution ONLY on UnsupportedOperationException — the spec'd
    * no-FileLock-support signal (still safe for the common
    * single-writer case). An IOException from lock() is an ORDINARY
    * I/O error (its javadoc), not a capability statement: proceeding
    * unlocked would silently drop the mutual exclusion on a healthy
    * filesystem, so the commit fails loudly instead (channel closed).
    */
  private[sources] def withCommitLock[A](path: String)(body: => A): A =
    synchronized {
      val ch = java.nio.channels.FileChannel.open(
        Paths.get(path, "_manifest.lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val lk =
        try ch.lock()
        catch {
          case _: UnsupportedOperationException => ch.close(); null
          case e: Throwable => ch.close(); throw e
        }
      if (lk == null) body
      else try body finally { lk.release(); ch.close() }
    }

  /** Append is guarded by the cross-process commit lock: two PROCESSES
    * append-committing to the same dataset (a streaming sink plus a
    * batch append, or two applications) would otherwise race the
    * read-modify-write and the loser's shard entries would vanish
    * from the manifest — shards on disk but invisible to
    * manifest-based readers.
    */
  def append(path: String, symbol: String, commits: Seq[GdxShardCommit]): Unit = {
    // Empty append (an idle streaming epoch whose partitions all came
    // up empty): nothing to add, so do NOT take the lock, re-read, and
    // rewrite an identical manifest every trigger — and crucially do
    // not CREATE a manifest on a fresh or hand-assembled dir, which
    // would flip reader membership from the listing fallback to "zero
    // committed shards" and hide every file already there.
    if (commits.isEmpty) return
    withCommitLock(path) {
      // A concurrent truncate-overwrite may have deleted this append's
      // already-published shards between task commit and this driver
      // commit (tasks don't hold the lock). Manifesting entries for
      // deleted files would hand readers dangling references —
      // committed-data-lost with both writers reporting success. Fail
      // the APPEND loudly instead: overwrite-vs-append concurrency is
      // an application-level conflict, and the overwrite's semantics
      // ("replace the dataset") are the ones that stand.
      val gone = commits.filterNot(c => new File(path, c.fileName).isFile)
      if (gone.nonEmpty)
        throw new IllegalStateException(
          "gdx: shard(s) removed before manifest commit (concurrent " +
            s"overwrite?): ${gone.map(_.fileName).mkString(", ")}")
      val mf = new File(path, "_manifest.json")
      val existing =
        if (mf.isFile)
          entryRx.findAllMatchIn(new String(Files.readAllBytes(mf.toPath),
            StandardCharsets.UTF_8)).map(m => unjs(m.group(1)) -> m.matched).toSeq
        else {
          // First manifest-creating append over a dir that ALREADY holds
          // published shards (hand-assembled, or produced before this
          // writer ran): readers have been seeing those rows via the
          // listing fallback, and a manifest listing only this append's
          // commits would silently unpublish them the moment it exists
          // — data loss with both the write and later reads reporting
          // success. Adopt them: one entry per pre-existing shard
          // (records summed from its header — a cheap header-only read;
          // no lo/hi, so range pruning never drops them).
          val fresh = commits.map(_.fileName).toSet
          val dir = new File(path)
          val pre =
            if (!dir.isDirectory) Array.empty[File]
            else dir.listFiles((_, n) => n.endsWith(".gdx") && !fresh.contains(n))
          pre.map(_.getName).sorted.toSeq.map { n =>
            // records is informational (membership and ranges are what
            // readers consume) — an unreadable pre-existing file is
            // adopted with records:0 rather than failing the append:
            // the listing fallback exposed it too, and a batch read
            // will still fail loudly on its header either way
            val recs =
              try graft.gdx.GdxCodec.readHeader(new File(path, n).getPath)
                .metas.map(_.records.toLong).sum
              // NonFatal, not just IOException: a stray non-GDX *.gdx
              // file makes readHeader throw IllegalArgumentException
              // (bad magic) — adoption must still proceed with
              // records:0 instead of failing the first driver commit
              catch { case scala.util.control.NonFatal(_) => 0L }
            n -> s"""{"file":"${js(n)}","records":$recs}"""
          }
        }
      val have = existing.map(_._1).toSet
      // a shard adopted before its OWN driver commit ran (another
      // writer's task published it into a manifest-less dir) carries a
      // rangeless placeholder entry — the real commit upgrades it, so
      // range pruning isn't permanently lost for that shard
      val byName = commits.iterator.map(c => c.fileName -> c).toMap
      val kept = existing.map { case (n, json) =>
        byName.get(n) match {
          case Some(c) if c.lo.isDefined && loRx.findFirstIn(json).isEmpty =>
            entryJson(c)
          case _ => json
        }
      }
      val added = commits.filterNot(c => have.contains(c.fileName)).map(entryJson)
      write(path, symbol, kept ++ added)
    }
  }
}

/** Streaming sink: shard-per-(epoch, partition) via the same
  * GdxDataWriter/GdxStreamEncoder spill path as the batch writer —
  * task memory stays O(UEL dictionary), shards publish by atomic
  * rename, and the manifest grows by append at each epoch commit.
  */
class GdxStreamingWrite(path: String, symbol: String, schema: StructType,
    typOpt: Option[Int], subtype: Int, acronyms: Seq[GdxAcronym] = Nil,
    domains: Seq[String] = Nil,
    domainSets: Map[Int, (String, Set[String])] = Map.empty)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private val layout = GdxWriteLayout.infer(schema, symbol, typOpt, acronyms)
    .copy(domains = domains, domainSets = domainSets)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    new File(path).mkdirs()
    new GdxStreamingWriterFactory(path, layout, subtype)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    GdxManifest.append(path, layout.symbol,
      messages.collect { case c: GdxShardCommit if c.records > 0 => c }.toSeq)

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    // deterministic epoch names mean a RE-RUN of an already-committed
    // epoch writes the same file names: if the re-run aborts, deleting
    // by name would destroy shards the manifest still records from the
    // prior successful commit (every later read throws committed-data-
    // lost). Only unpublished files may go — same rule as the
    // task-level GdxDataWriter.abort.
    val published = GdxManifest.files(path).getOrElse(Nil).toSet
    messages.collect {
      case GdxShardCommit(f, _, _, _) if !published.contains(f) =>
        new File(path, f).delete()
    }
  }
}

class GdxStreamingWriterFactory(path: String, layout: GdxWriteLayout, subtype: Int)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  // epoch-deterministic FINAL shard names (no task id): a re-run of the
  // same epoch rewrites the same files and the manifest append de-dups
  // them. The in-progress temp IS task-attempt-unique (tempTag below):
  // concurrent attempts (speculation, zombie retries) each assemble
  // their own temp and the last atomic rename wins — they never
  // interleave writes into one file, and a losing attempt's abort
  // removes only its own temp, never the published shard.
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    new GdxDataWriter(path, layout, single = false, subtype, partitionId, taskId,
      nameOverride = Some(f"shard-e$epochId%06d-$partitionId%05d.gdx"))
}

/** Serializable description of how df columns map onto a GDX symbol.
  * `flagCols` = indices of the boolean `is_eps`/`is_na`/`is_undef`
  * columns a `specialValues="columns"` scan produces (-1 when absent),
  * so a flag-mode read → write round-trips the GDX sentinels.
  * `acrFlagCol`/`acrIdxCol` = the `is_acronym`/`acr_index` pair of the
  * same scan mode (acronym sentinels re-encode as acr_index·1e300).
  * `acronyms` = the file-level acronym table to stamp on every shard
  * (from the writer's `acronyms` option).
  */
case class GdxWriteLayout(symbol: String, typ: Int, dimCols: Array[Int],
    valCols: Array[Int], textCol: Int,
    flagCols: Array[Int] = Array(-1, -1, -1),
    acrFlagCol: Int = -1, acrIdxCol: Int = -1,
    acronyms: Seq[GdxAcronym] = Nil,
    domains: Seq[String] = Nil,
    domainSets: Map[Int, (String, Set[String])] = Map.empty)
    extends Serializable {
  def hasFlags: Boolean = flagCols.exists(_ >= 0) || acrFlagCol >= 0
}

object GdxWriteLayout {
  /** Parse the writer's `acronyms` option: comma-separated
    * `index:name[:text]` entries. Text may itself contain colons
    * (split limit 3); literal commas/colons in the TEXT may be escaped
    * `\,` / `\:` (with `\\` for a backslash) — the form
    * [[escapeAcronyms]] emits, so `Gdx.merge` can thread ANY legal
    * acronym text through the option. Duplicate indices are rejected
    * HERE, before shards are stamped: `GdxCodec.write` would catch
    * them on the single-file path only, and first-wins resolution at
    * read time would silently rename values.
    */
  // escape-aware split/unescape: a regex lookbehind cannot tell an
  // escaping backslash from an ESCAPED one (`\\` before a real
  // separator), so both are explicit scanners with two-char steps
  private def splitUnescaped(s: String, sep: Char, limit: Int): Vector[String] = {
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var n = 1
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) { cur.append(c).append(s.charAt(i + 1)); i += 2 }
      else if (c == sep && n < limit) { out += cur.toString; cur.clear(); n += 1; i += 1 }
      else { cur.append(c); i += 1 }
    }
    out += cur.toString
    out.result()
  }

  private def unescape(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) { b.append(s.charAt(i + 1)); i += 2 }
      else { b.append(c); i += 1 }
    }
    b.toString
  }

  def parseAcronyms(spec: String): Vector[GdxAcronym] = {
    val out = splitUnescaped(spec, ',', Int.MaxValue)
      .map(_.trim).filter(_.nonEmpty).map { e =>
        val parts = splitUnescaped(e, ':', 3)
        require(parts.length >= 2 && parts(0).nonEmpty && parts(0).forall(_.isDigit),
          s"gdx: bad acronyms entry '$e' (want index:name[:text])")
        GdxAcronym(parts(0).toInt, unescape(parts(1)),
          if (parts.length == 3) unescape(parts(2)) else "")
      }
    require(out.map(_.index).distinct.size == out.size,
      s"gdx: duplicate acronym indices in option: ${out.map(_.index).mkString(",")}")
    out
  }

  /** Inverse of [[parseAcronyms]]: serialize a table into the writer
    * option with metacharacters escaped, losslessly for any text.
    */
  def escapeAcronyms(acrs: Seq[GdxAcronym]): String = {
    def esc(s: String): String =
      s.replace("\\", "\\\\").replace(",", "\\,").replace(":", "\\:")
    acrs.map { a =>
      if (a.text.nonEmpty) s"${a.index}:${esc(a.name)}:${esc(a.text)}"
      else s"${a.index}:${esc(a.name)}"
    }.mkString(",")
  }

  def infer(schema: StructType, symbol: String, typOpt: Option[Int],
      acronyms: Seq[GdxAcronym] = Nil): GdxWriteLayout = {
    val names = schema.fieldNames
    def idx(n: String) = names.indexWhere(_.equalsIgnoreCase(n))
    def flagIdx(n: String) = {
      val i = idx(n)
      if (i >= 0 && schema.fields(i).dataType == BooleanType) i else -1
    }
    val dimCols = names.zipWithIndex
      .filter { case (n, i) => schema.fields(i).dataType == StringType && n.toLowerCase(java.util.Locale.ROOT) != "text" }
      .map(_._2)
    val textCol = idx("text")
    val fiveFields = ValField.names.map(idx)
    val typ = typOpt.getOrElse {
      if (fiveFields.forall(_ >= 0)) SymbolType.Variable
      else if (idx("value") >= 0) SymbolType.Parameter
      else SymbolType.Set
    }
    val valCols = typ match {
      case SymbolType.Set | SymbolType.Alias => Array.empty[Int]
      case SymbolType.Parameter =>
        val v = idx("value")
        require(v >= 0, "gdx write: parameter needs a 'value' column")
        Array(v)
      case _ =>
        require(fiveFields.forall(_ >= 0),
          "gdx write: variable/equation needs level,marginal,lower,upper,scale columns")
        fiveFields.toArray
    }
    val acrFlag = flagIdx("is_acronym")
    val acrIdx = {
      val i = idx("acr_index")
      if (i >= 0 && schema.fields(i).dataType == IntegerType) i else -1
    }
    // an is_acronym flag without a usable index column would silently
    // write every acronym row as NA (the NaN value field maps to the
    // NA sentinel before the flag override) — exactly the corruption
    // the flag-mode write identity exists to prevent; fail at plan time
    require(acrFlag < 0 || acrIdx >= 0,
      "gdx write: is_acronym column present but no IntegerType acr_index column — " +
        "acronym rows would be silently written as NA (cast acr_index back to INT)")
    GdxWriteLayout(symbol, typ, dimCols, valCols, textCol,
      Array(flagIdx("is_eps"), flagIdx("is_na"), flagIdx("is_undef")),
      acrFlag, acrIdx, acronyms)
  }
}

class GdxBatchWrite(path: String, symbol: String, schema: StructType,
    single: Boolean, typOpt: Option[Int], subtype: Int, truncate: Boolean,
    acronyms: Seq[GdxAcronym] = Nil, domains: Seq[String] = Nil,
    domainSets: Map[Int, (String, Set[String])] = Map.empty)
    extends BatchWrite {

  private val layout = GdxWriteLayout.infer(schema, symbol, typOpt, acronyms)
    .copy(domains = domains, domainSets = domainSets)
  // unique per batch write → cross-JVM append-safe shard names
  private val writeId = java.util.UUID.randomUUID().toString.take(8)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // overwrite does NOT truncate here: job start is the wrong moment
    // to destroy the previous dataset (a failed job would leave
    // NOTHING, and concurrent readers would see an empty dir for the
    // whole job). The old shards survive untouched until commit().
    if (!single) new File(path).mkdirs()
    new GdxWriterFactory(path, layout, single, subtype, writeId)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    if (single) {
      // driver-side merge: one UEL table, one globally sorted record list
      val b = new GdxBuilder()
      val rows = messages.collect { case GdxRowsCommit(rs) => rs }.flatten
      val dim = if (rows.nonEmpty) rows.head._1.length else layout.dimCols.length
      b.addSymbol(layout.symbol, layout.typ, dim,
        rows.map { case (ls, vs, t) => (ls.toSeq, vs, Option(t)) },
        userInfo = subtype,
        domains = if (layout.domains.size == dim) layout.domains
                  else Seq.fill(dim)("*"))
      GdxCodec.write(b.result().copy(acronyms = layout.acronyms.toVector), path)
    } else {
      // per-shard lowercased dim_1 label range → planInputPartitions
      // prunes shards driver-side on pushed label filters without
      // opening any shard header. Append mode must APPEND the manifest:
      // replacing it would silently unpublish every earlier batch's
      // shards (truncate mode already cleared the dir, so a fresh write
      // and an append are the same thing there).
      val commits = messages.collect { case c: GdxShardCommit => c }.toSeq
      if (truncate) GdxManifest.withCommitLock(path) {
        // overwrite commits atomically: first the new manifest (the
        // atomic-rename write switches manifest-readers to exactly the
        // new shard set in one step), THEN the previous dataset's
        // files are removed. New shards carry this write's unique
        // writeId, so old and new never collide by name. The whole
        // replace runs under the SAME cross-process lock append-commits
        // take: without it, an append holding the lock mid-read-modify-
        // write would write back the pre-overwrite entries — a manifest
        // referencing just-deleted shards, and every overwrite entry
        // silently lost. Under the lock an append COMMIT lands either
        // before (and is replaced — overwrite semantics) or after (and
        // appends to the NEW manifest). Residual, documented race: an
        // overwrite concurrent with a mid-flight append can delete that
        // append's .gdx.inprogress temps AND its already-published but
        // not-yet-manifested shards (tasks don't hold the commit lock)
        // — the append then FAILS LOUDLY, at the task (temp gone) or at
        // its driver commit (GdxManifest.append verifies every shard
        // file still exists before manifesting it). Nothing is ever
        // silently lost or dangling.
        GdxManifest.write(path, layout.symbol, commits.map(GdxManifest.entryJson))
        val keep = commits.map(_.fileName).toSet
        val dir = new File(path)
        if (dir.isDirectory)
          dir.listFiles((_, n) => (n.endsWith(".gdx") && !keep.contains(n))
              || n.contains(".gdx.inprogress"))
            .foreach(_.delete())
      } else GdxManifest.append(path, layout.symbol, commits)
    }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    if (!single) messages.collect { case GdxShardCommit(f, _, _, _) =>
      new File(path, f).delete()
    }
}

case class GdxShardCommit(fileName: String, records: Long,
    lo: Option[String], hi: Option[String]) extends WriterCommitMessage
case class GdxRowsCommit(rows: Array[(Array[String], Array[Double], String)])
  extends WriterCommitMessage

class GdxWriterFactory(path: String, layout: GdxWriteLayout, single: Boolean,
    subtype: Int, writeId: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GdxDataWriter(path, layout, single, subtype, partitionId, taskId,
      writeId = writeId)
}

/** Sharded path: records stream through a GdxStreamEncoder (delta-encode
  * to a spill file as they arrive) — task memory is O(UEL dictionary),
  * not O(partition rows). Single-file path keeps buffering: its rows must
  * travel to the driver in the commit message anyway (documented
  * small-symbol-only, GdxWriteBuilder scaladoc).
  */
class GdxDataWriter(path: String, layout: GdxWriteLayout, single: Boolean,
    subtype: Int, partitionId: Int, taskId: Long,
    nameOverride: Option[String] = None,
    writeId: String = "") extends DataWriter[InternalRow] {

  // batch shard names carry a per-write unique token: taskIds restart
  // from 0 in every fresh SparkContext, so `shard-<partition>-<task>`
  // alone COLLIDES across JVMs — a later append would atomically
  // replace an earlier run's shard while the manifest's fileName dedup
  // silently dropped its commit (stale records/ranges, lost rows).
  // Streaming shards (nameOverride) stay epoch-deterministic by design.
  private val shardName = nameOverride.getOrElse(
    if (writeId.nonEmpty) f"shard-$writeId-$partitionId%05d-$taskId.gdx"
    else f"shard-$partitionId%05d-$taskId.gdx")

  private val rows = // single-file path only
    scala.collection.mutable.ArrayBuffer.empty[(Array[String], Array[Double], String)]
  private val enc: GdxStreamEncoder =
    if (single) null
    else new GdxStreamEncoder(new File(path, shardName).getPath, layout.symbol,
      layout.typ, layout.dimCols.length, userInfo = subtype,
      domains = layout.domains,
      // deterministic-named (streaming) shards need an attempt-unique
      // temp so concurrent attempts never share an in-progress file
      tempTag = if (nameOverride.isDefined) s"-a$taskId" else "",
      acronyms = layout.acronyms)

  override def write(row: InternalRow): Unit = {
    val labels = layout.dimCols.map { i =>
      require(!row.isNullAt(i),
        s"gdx write: null label in dim column ${layout.dimCols.indexOf(i) + 1} " +
          "(GDX labels cannot be null — filter or fill before writing)")
      row.getUTF8String(i).toString
    }
    // write-side domain enforcement (domainCheck=enforce): map-side
    // anti-join against the plan-time-loaded controlling sets — the
    // task fails, the job aborts, nothing is manifested
    layout.domainSets.foreach { case (d, (dn, allowed)) =>
      if (!allowed.contains(labels(d).toLowerCase(java.util.Locale.ROOT)))
        throw new IllegalArgumentException(
          s"gdx write: label '${labels(d)}' in dim_${d + 1} is not a member " +
            s"of controlling set '$dn' (domainCheck=enforce)")
    }
    val values = layout.valCols.map(i => row.getDouble(i))
    // Re-encode GDX sentinels so flag-mode read → write is the identity
    // (SURVEY §7 hard part #2: the flag design threads through write).
    // Flags describe values(0) — the field the scan derived them from;
    // NaN/±inf in any field map to their canonical sentinels either way
    // (a raw NaN has no GDX meaning; NA is the stored form).
    def sentinel(v: Double): Double =
      if (v.isNaN) SpecialValues.NA
      else if (v == Double.PositiveInfinity) SpecialValues.PINF
      else if (v == Double.NegativeInfinity) SpecialValues.MINF
      else v
    var vi = 0
    while (vi < values.length) { values(vi) = sentinel(values(vi)); vi += 1 }
    if (layout.hasFlags && values.nonEmpty) {
      def flag(i: Int) = i >= 0 && !row.isNullAt(i) && row.getBoolean(i)
      if (flag(layout.flagCols(2))) values(0) = SpecialValues.UNDEF
      else if (flag(layout.flagCols(1))) values(0) = SpecialValues.NA
      else if (flag(layout.flagCols(0))) values(0) = SpecialValues.EPS
      else if (flag(layout.acrFlagCol)) {
        // flag-mode scan → write identity for acronyms too: the sentinel
        // rebuilds from the table index (value field scanned as NaN). A
        // null index under a set flag has no faithful encoding — NA
        // would silently destroy acronym identity, so fail the row
        require(!row.isNullAt(layout.acrIdxCol),
          "gdx write: is_acronym=true with NULL acr_index — no sentinel to rebuild")
        values(0) = SpecialValues.acronymValue(row.getInt(layout.acrIdxCol))
      }
    }
    val text =
      if (layout.textCol >= 0 && !row.isNullAt(layout.textCol))
        row.getUTF8String(layout.textCol).toString
      else null
    if (single) rows += ((labels, values, text))
    else enc.add(labels, values, Option(text))
  }

  override def commit(): WriterCommitMessage =
    if (single) GdxRowsCommit(rows.toArray)
    else if (nameOverride.isDefined && enc.records == 0) {
      // streaming epochs routinely have empty partitions; publishing a
      // 0-record shard per (epoch × partition) would grow the dataset
      // and manifest without bound on a continuous sink — emit nothing
      // (GdxStreamingWrite.commit drops 0-record messages too)
      enc.dispose()
      GdxShardCommit(shardName, 0, None, None)
    } else {
      enc.finish()
      val (lo, hi) = enc.labelRange
      GdxShardCommit(shardName, enc.records, lo, hi)
    }

  override def abort(): Unit = if (!single) {
    enc.dispose()
    // batch shard names are attempt-unique (taskId embedded) — this
    // attempt owns the file. Streaming names are epoch-deterministic,
    // so the published file may belong to ANOTHER (winning) attempt:
    // leave it; epoch-level abort / the next epoch re-run handles it.
    if (nameOverride.isEmpty) new File(path, shardName).delete()
  }
  override def close(): Unit = rows.clear()
}
