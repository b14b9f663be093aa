package graft.gdx

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Symbol-level API reproducing gdxpy's ergonomics on DataFrames
  * (SURVEY.md §3.1: loadsymbols with `*` patterns over multiple files,
  * case-insensitive lookup, reshape helpers, special-value semantics).
  * Everything returns lazy DataFrames — the Spark contrast to the
  * reference's eager scan→materialize→pandas lifecycle (§3.4).
  */
object Gdx {

  /** Symbol table of a GDX file — mirrors gdxSystemInfo + per-symbol
    * gdxSymbolInfo loop (REF gdxpy catalog behavior, SURVEY §2.A).
    */
  def catalog(spark: SparkSession, path: String): DataFrame =
    spark.read.format("gdx").option("symbol", "__catalog__").load(path)

  /** UEL (unique-element/label) dictionary of a GDX file or sharded
    * dataset — the gdxSystemInfo nUels + gdxGetUEL loop surface
    * (SURVEY §3.3): one (uel_index, label) row per registered label,
    * 1-based registration order.
    */
  def uels(spark: SparkSession, path: String): DataFrame =
    spark.read.format("gdx").option("symbol", "__uels__").load(path)

  /** Acronym table of a GDX file or sharded dataset (SPEC
    * gdxAcronymCount + gdxAcronymGetInfo loop): one
    * (acr_index, name, text) row per registered acronym. A parameter
    * value of acr_index·1e300 (≥ 1e301) is that acronym's sentinel —
    * `specialValues="columns"` scans surface it as
    * `is_acronym`/`acr_index`, raw scans keep the sentinel double.
    */
  def acronyms(spark: SparkSession, path: String): DataFrame =
    spark.read.format("gdx").option("symbol", "__acronyms__").load(path)

  /** Driver-side acronym name map (catalog-sized by construction). */
  private def acronymMap(spark: SparkSession, path: String): Map[Int, String] =
    acronyms(spark, path).select("acr_index", "name").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap

  /** Run one independent Spark action per symbol CONCURRENTLY from a
    * fixed thread pool, preserving input order in the result (r12-r14
    * watch item: merge/rename drove one distributed job per symbol from
    * a serial driver loop — fine at O(10²) symbols, but a 10³-symbol
    * catalog serializes on per-job latency while executors idle).
    * Spark's scheduler is thread-safe and FIFO-shares the executors
    * across concurrently-submitted jobs, so N small per-symbol
    * write jobs overlap their scheduling/commit latencies. Pool size 8:
    * enough overlap to hide per-job overhead, small enough that the
    * shared FileSystem/committer paths aren't thrashed. Failures are
    * FAIL-FAST (r15 advisory): completions drain through a
    * CompletionService, so the first failure cancels every queued job
    * immediately — a shape-mismatch on symbol 1 of 1000 surfaces in
    * one job's latency, like the serial loop, not after the queue.
    */
  private[gdx] def parPerSymbol[A, B](items: Seq[A],
      parallelism: Int = sys.props.get("graft.gdx.symbolJobs")
        .flatMap(_.toIntOption).getOrElse(8))(
      f: A => B): Seq[B] = {
    if (items.lengthCompare(2) < 0 || parallelism <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, items.length))
      try {
        val ecs =
          new java.util.concurrent.ExecutorCompletionService[(Int, B)](pool)
        val futures = items.zipWithIndex.map { case (a, i) =>
          ecs.submit(() => (i, f(a)))
        }
        val out = new Array[Any](items.length)
        var done = 0
        try {
          while (done < items.length) {
            val (i, b) = ecs.take().get()
            out(i) = b
            done += 1
          }
        } catch {
          case e: java.util.concurrent.ExecutionException =>
            futures.foreach(_.cancel(true))
            // drain before rethrowing: an interrupted-but-running write
            // job must not outlive the failure surface (the caller may
            // inspect/clean the output dir as soon as it catches)
            pool.shutdownNow()
            pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
            throw e.getCause
        }
        out.toSeq.map(_.asInstanceOf[B])
      } finally pool.shutdown()
    }
  }

  /** Where does a label appear? One (symbol, dim, n_records) row per
    * dimension slot the label (case-insensitive, GAMS UEL semantics)
    * occurs in — the `gdxdump | grep` workflow as a first-class query
    * (SPEC: the GAMS IDE's "find UEL" / gdxViewer search). The
    * catalog is collected driver-side (catalog-bounded, the merge/dump
    * discipline) and each symbol contributes ONE conditional-count
    * aggregation over its scan — the per-dim label equality is exactly
    * the pushed-filter shape, so the codec's zone maps skip
    * non-matching blocks and a label absent from a shard's UEL table
    * skips the whole shard. Zero-count slots are dropped.
    */
  def labelUsage(spark: SparkSession, path: String, label: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val lc = label.toLowerCase(java.util.Locale.ROOT)
    val cat = catalog(spark, path).select("name", "dim", "type").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    val parts = cat.toSeq.sortBy(_._1).flatMap { case (name, dim0, typ) =>
      // aliases catalog at dim 0 — their scan resolves to the target
      // symbol's shape, so take the dim from the resolved schema
      lazy val sym = symbol(spark, path, name)
      val dim = if (typ == "alias")
        sym.columns.count(_.startsWith("dim_")) else dim0
      (1 to dim).map { i =>
        sym.filter(lower(col(s"dim_$i")) === lc)
          .agg(count(lit(1)).as("n_records"))
          .select(lit(name).as("symbol"), lit(i).as("dim"), col("n_records"))
      }
    }
    // a catalog that is empty or all-scalar (dim 0) contributes no
    // per-dim parts — return the empty frame with the contract schema
    // rather than letting reduce throw on the empty Seq
    parts.reduceOption(_ unionByName _) match {
      case Some(u) => u.filter(col("n_records") > 0)
      case None =>
        import spark.implicits._
        Seq.empty[(String, Int, Long)].toDF("symbol", "dim", "n_records")
    }
  }

  /** One symbol in long form; name matching is case-insensitive
    * (gdxFindSymbol). specialValues: "map" (gdxpy-compatible) or
    * "columns" (lossless is_eps/is_na/is_undef flags).
    */
  def symbol(spark: SparkSession, path: String, name: String,
      specialValues: String = "map"): DataFrame =
    spark.read.format("gdx")
      .option("symbol", name)
      .option("specialValues", specialValues)
      .load(path)

  /** 0-dim parameter as a plain value — gdxpy loads scalars as Python
    * scalars, not Series (SURVEY §1.1: "0-dim symbols load as
    * scalars"). The symbol must be 0-dimensional with one record;
    * absent record → the GDX sparse default, 0.0.
    */
  def scalar(spark: SparkSession, path: String, name: String): Double = {
    // dim must be 0: a 1-dim parameter that happens to hold one record
    // is NOT a scalar under the gdxpy contract
    val rows0 = catalog(spark, path)
      .filter(lower(col("name")) === name.toLowerCase(java.util.Locale.ROOT))
      .select("dim", "type").collect()
    require(rows0.nonEmpty, s"gdx: no symbol '$name'")
    require(rows0.head.getInt(0) == 0,
      s"gdx: '$name' is not a scalar (dim=${rows0.head.getInt(0)})")
    // the TYPE gate matters for aliases: an alias catalogs as dim 0,
    // and without it an alias to a single-record set would pass the
    // dim check and silently return the set's placeholder 1.0
    require(rows0.head.getString(1) == "parameter",
      s"gdx: '$name' is not a scalar parameter (type=${rows0.head.getString(1)})")
    val rows = symbol(spark, path, name).select("value").collect()
    require(rows.length <= 1, s"gdx: '$name' is not a scalar (${rows.length} records)")
    rows.headOption.map(_.getDouble(0)).getOrElse(0.0)
  }

  /** gdxpy `loadsymbols("x*,y", files)`: expand `*` patterns against
    * each file's catalog, load every match from every file, tagging
    * provenance in a `gdx_file` column (long form beats the reference's
    * name-suffixing at scale — SURVEY §2.A gdx_multifile).
    */
  def loadSymbols(spark: SparkSession, patterns: String,
      paths: Seq[String]): Map[String, DataFrame] = {
    val pats = patterns.split("[ ,]+").filter(_.nonEmpty).map(globToRegex)
    val perFile = for {
      p <- paths
      names = catalog(spark, p).select("name").collect().map(_.getString(0))
      n <- names if pats.exists(_.matches(n.toLowerCase(java.util.Locale.ROOT)))
    } yield (n.toLowerCase(java.util.Locale.ROOT), p)
    perFile.groupBy(_._1).map { case (name, files) =>
      val frames = files.map { case (_, f) =>
        (f, symbol(spark, f, name).withColumn("gdx_file", lit(f)))
      }
      // same symbol name with different dim/type across files would
      // make unionByName throw an opaque missing-column
      // AnalysisException and lose every OTHER matched symbol with it
      // — fail with the merge()-style clear message instead
      val shapes = frames.map { case (f, df) => (f, df.columns.toSeq.sorted) }
      require(shapes.map(_._2).distinct.size == 1,
        s"gdx: symbol '$name' has incompatible shapes across files: " +
          shapes.map { case (f, cs) => s"$f -> ${cs.mkString(",")}" }.mkString("; "))
      name -> frames.map(_._2).reduce(_ unionByName _)
    }
  }

  private[gdx] def globToRegex(pat: String): scala.util.matching.Regex =
    // Locale.ROOT: a tr_TR default locale would map 'I' to dotless ı
    // while Spark's lower() keeps the ASCII path — the regex would
    // silently match nothing
    ("(?i)" + pat.toLowerCase(java.util.Locale.ROOT).flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if "\\.[]{}()+-^$|".contains(c) => "\\" + c
      case c => c.toString
    }).r

  /** dim_* columns in numeric dimension order. NOT a lexicographic
    * sort: GDX allows 20 dimensions and "dim_10" < "dim_2" as strings —
    * a string sort would silently permute coordinates. Non-numeric
    * suffixes (user frames like dim_year) sort lexicographically after
    * the numeric ones instead of throwing.
    */
  private[gdx] def dimCols(df: DataFrame): IndexedSeq[String] =
    df.columns.filter(_.startsWith("dim_")).toIndexedSeq
      .sortBy(c => (c.stripPrefix("dim_").toIntOption.getOrElse(Int.MaxValue), c))

  /** One matched symbol's catalog shape — the tool suite's unit. */
  private[gdx] final case class SymShape(name: String, dim: Int,
      typ: String, subtype: Int, explText: String, domains: Seq[String])

  /** Lowercased non-alias symbols matching the comma/space-separated
    * glob list, name-sorted. The shared front door for the tool suite
    * (diff/merge/dump) — one place for pattern and alias semantics.
    * Carries the variable/equation subtype so merge can preserve it
    * (a real gdxmerge keeps the vartype; default-bound semantics
    * depend on it).
    */
  private def matchedSymbols(spark: SparkSession, path: String,
      patterns: String): Seq[SymShape] = {
    val pats = patterns.split("[ ,]+").filter(_.nonEmpty).map(globToRegex)
    catalog(spark, path).filter(col("type") =!= "alias")
      .select("name", "dim", "type", "subtype", "expl_text", "domains")
      .collect().toSeq
      .map(r => SymShape(r.getString(0).toLowerCase(java.util.Locale.ROOT), r.getInt(1), r.getString(2),
        r.getInt(3), Option(r.getString(4)).getOrElse(""),
        Option(r.getString(5)).filter(_.nonEmpty).map(_.split(",", -1).toSeq).getOrElse(Nil)))
      .filter(s => pats.exists(_.matches(s.name)))
      .sortBy(_.name)
  }

  /** Union a per-symbol frame list in a balanced binary tree: log-depth
    * plan instead of a linear chain, so a pathological 10⁵-symbol
    * catalog cannot blow the analyzer stack (a chain recurses once per
    * node at resolution time).
    */
  private[gdx] def treeUnion(dfs: Seq[DataFrame]): Option[DataFrame] = {
    var cur = dfs
    while (cur.length > 1)
      cur = cur.grouped(2).map(g =>
        if (g.length == 2) g(0).unionByName(g(1)) else g(0)).toSeq
    cur.headOption
  }

  /** gdxdump's rendering token for a RAW sentinel value, null for
    * ordinary numbers. Acronym sentinels (≥ 1e301) render their NAME
    * when `acrNames` carries the file's table (gdxdump behavior),
    * falling back to `Acr<index>` for an index missing from the table —
    * visible rather than a silently huge double.
    */
  private def sentinelToken(v: Column, acrNames: Map[Int, String] = Map.empty): Column = {
    val base = when(v === SpecialValues.EPS, "Eps")
      .when(v === SpecialValues.NA, "NA")
      .when(v === SpecialValues.UNDEF, "Undf")
      .when(v === SpecialValues.PINF, "+Inf")
      .when(v === SpecialValues.MINF, "-Inf")
    val withNames = acrNames.toSeq.sortBy(_._1).foldLeft(base) {
      case (w, (idx, name)) =>
        // the sentinel compare uses the SAME IEEE multiply as the
        // encoder (acronymValue), so equality is exact
        w.when(v === SpecialValues.acronymValue(idx), name)
    }
    withNames.when(!isnan(v) && v < Double.PositiveInfinity && v >= 9.5e300,
      concat(lit("Acr"), round(v / 1.0e300).cast("long").cast("string")))
  }

  private def emptyFrame(spark: SparkSession, fields: (String, org.apache.spark.sql.types.DataType)*): DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(fields.map { case (n, t) =>
        org.apache.spark.sql.types.StructField(n, t)
      }))

  /** gdxpy's Series→DataFrame reshape: pivot the last dimension to
    * columns (SURVEY §2.D agg_pivot / §2.I reshape_long_to_wide).
    */
  /** gdxpy `to_frame`-style pivot of the last dimension to columns.
    * CONTRACT: inherently driver-bounded — one output COLUMN per
    * distinct last-dim label. Without `lastDimValues` Spark runs an
    * eager distinct at call time (capped by spark.sql.pivotMaxValues,
    * default 10k) — the one eager entry point in this file, flagged
    * here rather than hidden. Pass `lastDimValues` to keep the call
    * lazy (no distinct job) when the label set is known; for a
    * genuinely wide dimension (time/scenario at scale) keep long form
    * and aggregate instead — a million-column frame is the wrong shape
    * on ANY engine.
    */
  def pivotLastDim(df: DataFrame, valueCol: String = "value",
      lastDimValues: Seq[String] = Nil): DataFrame = {
    val dims = dimCols(df)
    require(dims.length >= 2, "pivot needs >= 2 dims")
    val g = df.groupBy(dims.dropRight(1).map(col): _*)
    val piv = if (lastDimValues.nonEmpty) g.pivot(dims.last, lastDimValues)
              else g.pivot(dims.last)
    piv.agg(first(col(valueCol)))
  }

  /** Densify: expand sparse symbol over explicit domain-set DataFrames
    * (one column each), filling absent records with `default` —
    * inverse of GDX sparsity (SURVEY §2.I densify_default_fill).
    */
  def densify(df: DataFrame, domains: Seq[DataFrame], default: Double = 0.0): DataFrame = {
    val dims = dimCols(df)
    require(domains.size == dims.length, "one domain set per dimension")
    val grid = domains.zip(dims).map { case (dom, d) =>
      dom.toDF(d)
    }.reduce(_ crossJoin _)
    // UEL label matching is case-INSENSITIVE (the doctrine every other
    // label-matching entry point here follows — diff, renameUel,
    // query(filt)): a case-variant domain set must still hit the
    // stored record, not silently replace its value with the default.
    // Display case in the output comes from the GRID (the domain
    // sets), matching the left join's column provenance.
    grid.join(df.withColumnsRenamed(dims.map(d => d -> s"__r_$d").toMap),
        dims.map(d => lower(col(d)) === lower(col(s"__r_$d"))).reduce(_ && _),
        "left")
      .drop(dims.map(d => s"__r_$d"): _*)
      .withColumn("value", coalesce(col("value"), lit(default)))
  }

  /** Sparsify: drop default-valued records, keeping EPS-flagged zeros
    * (what GDX storage does on write — EPS means "stored zero").
    */
  def sparsify(df: DataFrame, default: Double = 0.0): DataFrame =
    if (df.columns.contains("is_eps"))
      df.filter(col("value") =!= default || col("is_eps"))
    else df.filter(col("value") =!= default)

  /** GAMS `gdxdiff` tool parity (SPEC: gdxdiff utility — compares two
    * GDX files and reports inserted/deleted/changed records): one row
    * per differing record across every symbol matched by `patterns`.
    *
    * Output: `(symbol, key, status, value_a, value_b, special_a,
    * special_b, text_a, text_b)` where `key` is the dot-joined label
    * tuple (GAMS `i.j.k` convention) and status is `del` (record only
    * in A), `ins` (only in B), `chg` (both present, different), `dim`
    * (symbol present in both files with different dimensionality — one
    * summary row), or `type` (different symbol types — one summary row,
    * checked before dim so a set-vs-parameter pair never value-joins
    * on the set's storage placeholder). Values display gdxpy-decoded
    * (EPS→0.0, NA/UNDEF→NaN); `special_*` carries the tool's token
    * (`Eps`/`NA`/`Undf`/`+Inf`/`-Inf`, null for ordinary numbers) so an
    * EPS-vs-0 change is readable in the report, like real gdxdiff
    * output. Sets compare by membership and associated text (`text_*`,
    * null for numeric symbols). `field` applies to var/equ symbols
    * only; parameters and sets diff their own field regardless, as the
    * real tool does. Equal records are omitted. Labels match
    * case-insensitively (UEL semantics); the displayed key keeps A's
    * casing when present.
    *
    * Scale: driver work is O(catalog) — symbol names and dims only.
    * Each symbol compares via a distributed full-outer equi-join on the
    * lowercased key string. Records scan in RAW sentinel mode — the
    * 1e300 encodings are ordinary finite doubles, so plain null-safe
    * equality distinguishes EPS from 0 and NA from UNDEF in EVERY value
    * field (flag columns only describe the first), with no NaN
    * arithmetic anywhere. No record data ever passes through the
    * driver, so two 100 TB GDX datasets diff as a sequence of ordinary
    * shuffle joins.
    */
  def diff(spark: SparkSession, pathA: String, pathB: String,
      patterns: String = "*", field: String = "level",
      tol: Double = 0.0): DataFrame = {
    require(ValField.names.contains(field),
      s"gdx diff: unknown field '$field' (one of ${ValField.names.mkString("/")})")
    val inA = matchedSymbols(spark, pathA, patterns).map(s => s.name -> s).toMap
    val inB = matchedSymbols(spark, pathB, patterns).map(s => s.name -> s).toMap
    val all = (inA.keySet ++ inB.keySet).toSeq.sorted

    // (key, value, text). Sets have no numeric field: value is null and
    // the associated text drives change detection (real gdxdiff compares
    // set text, not the storage placeholder). The field selection
    // applies to var/equ symbols only — a parameter or set in a
    // field="marginal" diff falls back to its own field instead of
    // failing the whole diff (real gdxdiff semantics).
    def keyed(path: String, name: String, typ: String): DataFrame = {
      val isSet = typ == "set"
      val df =
        if (isSet) symbol(spark, path, name)
        else symbol(spark, path, name, specialValues = "raw")
      val dims = dimCols(df)
      val key = if (dims.isEmpty) lit("") else concat_ws(".", dims.map(col): _*)
      // JOIN key: the lowercased label ARRAY, not the dot-joined
      // display string — labels may themselves contain '.', so tuples
      // like ('a.b','c') and ('a','b.c') concatenate identically and a
      // string join would pair records that differ (one 'chg' instead
      // of a 'del' + 'ins'). Array equality is collision-free.
      // Lowercasing cannot fan the join out m×n: within one
      // well-formed file, case-variant labels are ONE UEL
      // (GdxBuilder.registerUel keys its index on the lowercase form,
      // first-seen display case wins), so no symbol carries two
      // records whose keys differ only by case; ACROSS files a case
      // difference pairing up is exactly the case-insensitive match
      // real gdxdiff performs. CAVEAT (sharded datasets): each shard
      // registers its OWN UEL table, so a frame whose rows land
      // 'Foo' and 'FOO' in different shards CAN carry both as
      // distinct records — such a dataset is malformed under UEL
      // doctrine (one logical key with conflicting values; diff of a
      // case-collided key then pairs m×n). The sharded writer's range
      // distribution sorts on the raw label, which co-locates exact
      // duplicates but not case variants; producers of case-variant
      // keys must normalize case before writing.
      val karr =
        if (dims.isEmpty) array().cast("array<string>")
        else array(dims.map(c => lower(col(c))): _*)
      val value =
        if (isSet) lit(null).cast("double")
        else if (df.columns.contains(field)) col(field)
        else if (df.columns.contains("value")) col("value")
        else col("level")
      val text =
        if (isSet && df.columns.contains("text")) col("text")
        else lit(null).cast("string")
      df.select(key.as("key"), karr.as("k"), value.as("value"), text.as("text"))
    }
    def display(v: Column): Column =
      when(v === SpecialValues.EPS, 0.0)
        .when(v === SpecialValues.NA || v === SpecialValues.UNDEF, Double.NaN)
        .when(v === SpecialValues.PINF, Double.PositiveInfinity)
        .when(v === SpecialValues.MINF, Double.NegativeInfinity)
        // acronyms display gdxpy-decoded like NA (no numeric meaning);
        // the special_* token column carries the acronym name
        .when(v >= 9.5e300 && v < Double.PositiveInfinity, Double.NaN)
        .otherwise(v)
    // per-side acronym tables: an acronym renders by ITS file's name
    // (driver cost O(acronym table)); raw-value inequality is what
    // detects the change, so acronym-vs-NA is a chg even unnamed
    val acrA = acronymMap(spark, pathA)
    val acrB = acronymMap(spark, pathB)
    def token(v: Column, acr: Map[Int, String]): Column = Gdx.sentinelToken(v, acr)
    def summaryRow(n: String, key: String, status: String): DataFrame =
      spark.range(1).select(lit(n).as("symbol"),
        lit(key).as("key"), lit(status).as("status"),
        lit(null).cast("double").as("value_a"),
        lit(null).cast("double").as("value_b"),
        lit(null).cast("string").as("special_a"),
        lit(null).cast("string").as("special_b"),
        lit(null).cast("string").as("text_a"),
        lit(null).cast("string").as("text_b"))
    def oneSide(name: String, path: String, typ: String, status: String): DataFrame = {
      val nul = lit(null).cast("double")
      val nus = lit(null).cast("string")
      keyed(path, name, typ).select(
        lit(name).as("symbol"), col("key"), lit(status).as("status"),
        (if (status == "del") display(col("value")) else nul).as("value_a"),
        (if (status == "ins") display(col("value")) else nul).as("value_b"),
        (if (status == "del") token(col("value"), acrA) else nus).as("special_a"),
        (if (status == "ins") token(col("value"), acrB) else nus).as("special_b"),
        (if (status == "del") col("text") else nus).as("text_a"),
        (if (status == "ins") col("text") else nus).as("text_b"))
    }

    val perSymbol = all.map { n =>
      (inA.get(n), inB.get(n)) match {
        case (Some(sa), None) => oneSide(n, pathA, sa.typ, "del")
        case (None, Some(sb)) => oneSide(n, pathB, sb.typ, "ins")
        // a set-in-A / parameter-in-B symbol must NOT value-join (sets
        // scan a placeholder) — report the type change, like real
        // gdxdiff, before the dim check can mask it
        case (Some(sa), Some(sb)) if sa.typ != sb.typ =>
          summaryRow(n, s"type ${sa.typ}<>${sb.typ}", "type")
        case (Some(sa), Some(sb)) if sa.dim != sb.dim =>
          summaryRow(n, s"dim ${sa.dim}<>${sb.dim}", "dim")
        case _ =>
          val sa = inA(n)
          val a = keyed(pathA, n, sa.typ).toDF("key_a", "k", "raw_a", "text_a")
          val b = keyed(pathB, n, sa.typ).toDF("key_b", "k", "raw_b", "text_b")
          // raw sentinels are huge finite numbers, so the tol window
          // never swallows a sentinel-vs-number difference; for sets the
          // raw columns are null on both sides and only text can differ
          val changed = (!(col("raw_a") <=> col("raw_b")) &&
            !(abs(col("raw_a") - col("raw_b")) <= tol)) ||
            !(col("text_a") <=> col("text_b"))
          a.join(b, Seq("k"), "full_outer")
            .withColumn("status",
              when(col("key_b").isNull, "del")
                .when(col("key_a").isNull, "ins")
                .when(changed, "chg"))
            .filter(col("status").isNotNull)
            .select(lit(n).as("symbol"),
              coalesce(col("key_a"), col("key_b")).as("key"), col("status"),
              when(col("status") =!= "ins", display(col("raw_a"))).as("value_a"),
              when(col("status") =!= "del", display(col("raw_b"))).as("value_b"),
              when(col("status") =!= "ins", token(col("raw_a"), acrA)).as("special_a"),
              when(col("status") =!= "del", token(col("raw_b"), acrB)).as("special_b"),
              when(col("status") =!= "ins", col("text_a")).as("text_a"),
              when(col("status") =!= "del", col("text_b")).as("text_b"))
      }
    }
    treeUnion(perSymbol).getOrElse(
      emptyFrame(spark,
        "symbol" -> org.apache.spark.sql.types.StringType,
        "key" -> org.apache.spark.sql.types.StringType,
        "status" -> org.apache.spark.sql.types.StringType,
        "value_a" -> org.apache.spark.sql.types.DoubleType,
        "value_b" -> org.apache.spark.sql.types.DoubleType,
        "special_a" -> org.apache.spark.sql.types.StringType,
        "special_b" -> org.apache.spark.sql.types.StringType,
        "text_a" -> org.apache.spark.sql.types.StringType,
        "text_b" -> org.apache.spark.sql.types.StringType))
  }

  /** GAMS `gdxmerge` tool parity (SPEC: gdxmerge utility — combines
    * multiple GDX files into one dataset, prefixing every symbol with a
    * new first dimension that identifies the source file): for each
    * symbol matched by `patterns`, union its records across all files
    * where it appears, prepend the file tag as `dim_1` (remaining dims
    * shift up), and write the merged symbol through the sharded DSv2
    * writer under `outDir/<symbol>`. Returns the merged symbol names.
    *
    * Scale: each merged symbol is one distributed union → sharded
    * write; driver work is O(catalog) per input. Unlike the real tool's
    * single output file, the sharded layout keeps the merge of N large
    * files executor-parallel end-to-end (SCALE.md §3). Records scan in
    * RAW sentinel mode and the writer passes the finite 1e300 encodings
    * straight through, so EPS/NA/UNDEF/±Inf survive the merge exactly
    * in EVERY value field (marginals and bounds included, where flag
    * columns could not help — they describe the first field only).
    * Variable/equation subtypes (vartype bounds class) ride the
    * catalog's `subtype` column into the writer, so a merged positive
    * variable is still a positive variable and `defaultFill` on the
    * merged output matches the per-input result.
    */
  def merge(spark: SparkSession, paths: Seq[String], outDir: String,
      patterns: String = "*", tags: Seq[String] = null): Seq[String] = {
    require(paths.nonEmpty, "gdx merge: no input files")
    val fileTags = Option(tags).getOrElse(paths.indices.map(i => s"f${i + 1}"))
    require(fileTags.length == paths.length, "gdx merge: one tag per file")
    // uniqueness is judged case-INSENSITIVELY: the tag becomes dim_1,
    // and UELs are case-insensitive (GdxBuilder keys on lowercase), so
    // tags "Run"/"run" would collapse into ONE label and produce
    // duplicate key tuples in the merged symbol — the invariant diff's
    // join-safety argument declares impossible
    require(fileTags.map(_.toLowerCase(java.util.Locale.ROOT)).distinct.length
        == fileTags.length,
      "gdx merge: tags must be unique (case-insensitively — tags become UELs)")
    val cats = paths.map { p =>
      matchedSymbols(spark, p, patterns).map(s => s.name -> s).toMap
    }
    // union of the inputs' acronym tables rides into every merged
    // symbol's shards (driver cost O(acronym tables)): an acronym
    // SENTINEL survives the raw-mode union bit-exactly, so losing the
    // table would orphan it. Same index must mean the same acronym
    // across files — a silent first-wins there would rename values.
    val mergedAcrs = {
      val all = paths.flatMap(p => acronyms(spark, p)
        .select("acr_index", "name", "text").collect()
        .map(r => GdxAcronym(r.getInt(0), r.getString(1),
          Option(r.getString(2)).getOrElse(""))))
      val byIdx = all.groupBy(_.index).toSeq.sortBy(_._1).map { case (idx, as) =>
        require(as.map(_.name.toLowerCase(java.util.Locale.ROOT)).distinct.size == 1,
          s"gdx merge: acronym index $idx names differ across files: " +
            as.map(_.name).distinct.mkString(", "))
        as.head
      }
      // the converse check: the same NAME under two different indices
      // would give one logical acronym two sentinel values in the
      // merged data — reject it, mirroring GdxBuilder.addAcronym's
      // case-insensitive name uniqueness
      byIdx.groupBy(_.name.toLowerCase(java.util.Locale.ROOT)).foreach {
        case (n, as) => require(as.size == 1,
          s"gdx merge: acronym name $n registered under different " +
            s"indices across files: ${as.map(_.index).mkString(", ")}")
      }
      byIdx
    }
    // lossless for ANY legal name/text: metacharacters escape through
    // the writer option (GdxWriteLayout.escapeAcronyms/parseAcronyms)
    val acrSpec = graft.sources.GdxWriteLayout.escapeAcronyms(mergedAcrs)
    val names = cats.flatMap(_.keys).distinct.sorted
    parPerSymbol(names) { n =>
      val present = paths.lazyZip(fileTags).lazyZip(cats).toSeq
        .collect { case (p, t, c) if c.contains(n) => (p, t, c(n)) }
      val shapes = present.map(s => (s._3.dim, s._3.typ, s._3.subtype)).distinct
      require(shapes.length == 1,
        s"gdx merge: symbol $n has mixed dim/type/subtype across files: ${shapes.mkString(", ")}")
      val (_, typ, subtype) = shapes.head
      val merged = treeUnion(present.map { case (p, t, _) =>
        // raw mode keeps every sentinel lossless through the round trip;
        // sets have no numeric values, so they scan plain
        val df =
          if (typ == "set") symbol(spark, p, n)
          else symbol(spark, p, n, specialValues = "raw")
        val dims = dimCols(df)
        // sets scan with a constant `value` column; the writer must see
        // only text for a set, so keep value for parameters/var/equ only
        val valCols = df.columns.toIndexedSeq
          .filterNot(_.startsWith("dim_"))
          .filterNot(c => typ == "set" && c == "value")
        df.select((lit(t).as("dim_1") +:
          dims.zipWithIndex.map { case (c, i) => col(c).as(s"dim_${i + 2}") }) ++
          valCols.map(col): _*)
      }).get
      val w = merged.write.format("gdx").mode("overwrite")
        .option("symbol", n).option("symbolType", typ)
        .option("subtype", subtype.toString)
      (if (acrSpec.nonEmpty) w.option("acronyms", acrSpec) else w)
        .save(s"$outDir/$n")
      n
    }
  }

  /** GAMS `gdxrename` tool parity (SPEC: gdxrename utility — renames
    * UELs across a GDX file; the gdxcc surface is gdxRenameUEL): apply
    * a label mapping to every dimension of every matched symbol and
    * write the result through the sharded DSv2 writer under
    * `outDir/<symbol>`. Matching is case-insensitive (UEL semantics);
    * unmapped labels pass through untouched. Returns the rewritten
    * symbol names.
    *
    * Scale: the mapping is O(renamed labels) and folds into a map-side
    * CASE chain on each dim column — no shuffle beyond the write;
    * driver work is O(catalog). Sentinels ride the RAW scan unchanged.
    */
  def renameUel(spark: SparkSession, path: String, outDir: String,
      mapping: Map[String, String], patterns: String = "*"): Seq[String] = {
    require(mapping.nonEmpty, "gdx rename: empty label mapping")
    val lowered = mapping.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    require(lowered.size == mapping.size,
      s"gdx rename: mapping keys collide case-insensitively (UEL semantics): " +
        mapping.keys.mkString(", "))
    // collision guard (real gdxrename refuses): a target must not
    // produce duplicate key tuples — reject targets that collide with
    // each other or with a label the REWRITTEN symbols actually use
    // and that is not itself renamed away. Scoped to the matched
    // symbols (a clash that lives only in an excluded symbol cannot
    // duplicate any written key). Membership runs as a DISTRIBUTED
    // semi-join of the label union against the broadcast-tiny target
    // list — driver work stays O(mapping), never O(labels), even if a
    // UEL table reaches 10⁸.
    val targets = lowered.values.map(_.toLowerCase(java.util.Locale.ROOT)).toSeq
    require(targets.distinct.size == targets.size,
      s"gdx rename: two labels map to one target: ${mapping.values.mkString(", ")}")
    val matched = matchedSymbols(spark, path, patterns)
    // only targets NOT renamed away can clash — prefilter driver-side
    val candidates = targets.filterNot(lowered.contains).distinct
    val clashes = treeUnion(matched.map { sym =>
      val df = symbol(spark, path, sym.name)
      val dims = dimCols(df)
      if (dims.isEmpty) emptyFrame(spark,
        "l" -> org.apache.spark.sql.types.StringType)
      else treeUnion(dims.map(c => df.select(lower(col(c)).as("l")))).get
    }) match {
      case Some(labels) if candidates.nonEmpty =>
        import spark.implicits._
        labels.join(broadcast(candidates.toDF("l")), Seq("l"), "left_semi")
          .distinct().collect().map(_.getString(0)).toSeq // ≤ |mapping| rows
      case _ => Nil
    }
    require(clashes.isEmpty,
      s"gdx rename: target label(s) already exist in the matched symbols and are " +
        s"not renamed away — duplicate keys would result: ${clashes.mkString(", ")}")
    parPerSymbol(matched) { sym =>
      val df =
        if (sym.typ == "set") symbol(spark, path, sym.name)
        else symbol(spark, path, sym.name, specialValues = "raw")
      val dims = dimCols(df).toSet
      val renamed = df.select(df.columns.toIndexedSeq.map { c =>
        if (!dims(c)) col(c)
        else lowered.foldLeft(when(lit(false), col(c))) {
          case (w, (from, to)) => w.when(lower(col(c)) === from, to)
        }.otherwise(col(c)).as(c)
      }: _*)
      val valCols = renamed.columns.toIndexedSeq
        .filterNot(c => sym.typ == "set" && c == "value")
      renamed.select(valCols.map(col): _*)
        .write.format("gdx").mode("overwrite")
        .option("symbol", sym.name).option("symbolType", sym.typ)
        .option("subtype", sym.subtype.toString)
        .save(s"$outDir/${sym.name}")
      sym.name
    }
  }

  /** GAMS `gdxdump` tool parity (SPEC: gdxdump utility — renders a GDX
    * file as GAMS assignment text): one `(symbol, line)` row per record,
    * `name('k1','k2') = value;` GAMS syntax (sets render their
    * associated text, variables/equations their level field). Ordinary
    * values format through DECIMAL(18,6) so the rendering is
    * deterministic and engine-independent (no Double.toString
    * locale/precision drift); special values render as the tool's
    * tokens (`Eps`, `NA`, `Undf`, `+Inf`, `-Inf`), and magnitudes
    * beyond the decimal's range fall back to the raw double text
    * rather than a null line. Per-record lines are the distributed
    * unit — the real tool's block headers are presentation, not data,
    * and a single text file is exactly what does not scale; this dump
    * stays an ordinary DataFrame to write wherever needed.
    *
    * `format="blocks"` adds gdxdump-style symbol blocks: one header row
    * (`Parameter nat(n) "expl text" /`), one row per record
    * (`'k1'.'k2' value,` — sets render their text, var/equ their
    * level), one footer row (`/;`). The result gains `(rank, key)`
    * columns; sorting by `(symbol, rank, key)` reproduces the block
    * text in order WITHOUT a global window — header rank 0, records
    * rank 1 keyed by the dot-joined labels, footer rank 2 — so the
    * presentation mode stays as distributed as the default frame.
    */
  /** gdxdump's quoting rule: labels/texts quote with `'`, switching to
    * `"` when the token itself contains a `'`. A token carrying BOTH
    * quote kinds has no legal GAMS source form — it renders with `"`
    * and the embedded `"` doubled, keeping the line machine-splittable
    * instead of silently ambiguous.
    */
  private def gamsQuoted(c: Column): Column =
    when(c.contains("'"),
      concat(lit("\""), regexp_replace(c, "\"", "\"\""), lit("\"")))
      .otherwise(concat(lit("'"), c, lit("'")))

  /** RFC-4180 quoted field: embedded `"` doubles — unconditional
    * quoting is only valid CSV when this escape is applied.
    */
  private def csvQuoted(c: Column): Column =
    concat(lit("\""), regexp_replace(c, "\"", "\"\""), lit("\""))

  def dump(spark: SparkSession, path: String, patterns: String = "*",
      format: String = "records"): DataFrame = {
    require(format == "records" || format == "blocks",
      s"gdx dump: unknown format '$format' (records|blocks)")
    val blocks = format == "blocks"
    val acrNames = acronymMap(spark, path) // acronyms render by name, like the real tool
    val perSymbol = matchedSymbols(spark, path, patterns).map { s =>
      val (n, typ) = (s.name, s.typ)
      val df =
        if (typ == "set") symbol(spark, path, n)
        else symbol(spark, path, n, specialValues = "raw")
      val dims = dimCols(df)
      val quotedKeys = dims.map(c => gamsQuoted(col(c)))
      def rendered = {
        val v = col(if (df.columns.contains("value")) "value" else "level")
        // raw scan → sentinel tokens by equality; ordinary values
        // range-guard the decimal cast (ANSI mode makes an overflowing
        // cast THROW, so the fallback must gate it, not catch a null)
        coalesce(sentinelToken(v, acrNames),
          when(abs(v) < 1e12, v.cast("decimal(18,6)").cast("string"))
            .otherwise(v.cast("string")))
      }
      if (!blocks) {
        val keys =
          if (dims.isEmpty) lit("")
          else concat(lit("("), concat_ws(",", quotedKeys: _*), lit(")"))
        val body = typ match {
          case "set" =>
            when(col("text").isNotNull, concat(lit(" "), gamsQuoted(col("text"))))
              .otherwise(lit(""))
          case _ => concat(lit(" = "), rendered)
        }
        df.select(lit(n).as("symbol"), concat(lit(n), keys, body, lit(";")).as("line"))
      } else {
        // header: declared domains, padded with * for unnamed dims
        val doms = (s.domains ++ Seq.fill(s.dim - s.domains.length)("*")).take(s.dim)
        val sig = if (s.dim == 0) "" else doms.mkString("(", ",", ")")
        val expl =
          if (s.explText.nonEmpty) "\"" + s.explText.replace("\"", "\"\"") + "\" "
          else ""
        val headerLine = s"${typ.capitalize} $n$sig $expl/"
        val keyStr = if (dims.isEmpty) lit("") else concat_ws(".", dims.map(col): _*)
        val keyQuoted =
          if (dims.isEmpty) lit("") else concat_ws(".", quotedKeys: _*)
        val body = typ match {
          case "set" =>
            when(col("text").isNotNull,
              concat(lit(" "), gamsQuoted(col("text")), lit(",")))
              .otherwise(lit(","))
          case _ => concat(lit(" "), rendered, lit(","))
        }
        // dim-0 records render the bare value (no key prefix)
        val recLine =
          if (dims.isEmpty) concat(rendered, lit(",")) else concat(keyQuoted, body)
        val header = spark.range(1).select(lit(n).as("symbol"), lit(0).as("rank"),
          lit("").as("key"), lit(headerLine).as("line"))
        val recs = df.select(lit(n).as("symbol"), lit(1).as("rank"),
          keyStr.as("key"), recLine.as("line"))
        val footer = spark.range(1).select(lit(n).as("symbol"), lit(2).as("rank"),
          lit("").as("key"), lit("/;").as("line"))
        header.unionByName(recs).unionByName(footer)
      }
    }
    treeUnion(perSymbol).getOrElse(
      if (blocks)
        emptyFrame(spark,
          "symbol" -> org.apache.spark.sql.types.StringType,
          "rank" -> org.apache.spark.sql.types.IntegerType,
          "key" -> org.apache.spark.sql.types.StringType,
          "line" -> org.apache.spark.sql.types.StringType)
      else
        emptyFrame(spark,
          "symbol" -> org.apache.spark.sql.types.StringType,
          "line" -> org.apache.spark.sql.types.StringType))
  }

  /** gdxdump CSV mode (SPEC: `gdxdump file symb=NAME format=csv` — one
    * symbol rendered as CSV): a header line of the symbol's domain
    * names (positional `Dim1..DimN` where a domain is unnamed, exactly
    * like the tool) plus `Val` for parameters/variables or `Text` for
    * sets, then one line per record. Labels and header names are
    * ALWAYS double-quoted — the real tool quotes conditionally, but
    * unconditional quoting is valid CSV and keeps the rendering
    * deterministic; values render through the same
    * DECIMAL(18,6)/sentinel pipeline as [[dump]]. The result carries
    * explicit `(rn, key)` sort columns (header rn 0, records rn 1
    * keyed by the dot-joined labels) instead of a global line window,
    * so the presentation mode stays as distributed as the record
    * frame — same split as the blocks mode.
    */
  def dumpCsv(spark: SparkSession, path: String, symbolName: String): DataFrame = {
    val matched = matchedSymbols(spark, path, symbolName)
    require(matched.length == 1,
      s"gdx dumpCsv: pattern '$symbolName' matched ${matched.length} symbols (CSV mode needs exactly 1)")
    val shape = matched.head
    val df =
      if (shape.typ == "set") symbol(spark, path, shape.name)
      else symbol(spark, path, shape.name, specialValues = "raw")
    val dims = dimCols(df)
    val doms = (shape.domains ++ Seq.fill(shape.dim - shape.domains.length)("*"))
      .take(shape.dim)
      .zipWithIndex.map { case (dn, i) => if (dn == "*") s"Dim${i + 1}" else dn }
    val valHeader = if (shape.typ == "set") "Text" else "Val"
    val headerLine = (doms :+ valHeader)
      .map(h => "\"" + h.replace("\"", "\"\"") + "\"").mkString(",")
    val v = col(if (df.columns.contains("value")) "value" else "level")
    val rendered = coalesce(sentinelToken(v, acronymMap(spark, path)),
      when(abs(v) < 1e12, v.cast("decimal(18,6)").cast("string"))
        .otherwise(v.cast("string")))
    val valPart =
      if (shape.typ == "set")
        when(col("text").isNotNull, csvQuoted(col("text"))).otherwise(lit(""))
      else rendered
    val fields = dims.map(c => csvQuoted(col(c))) :+ valPart
    val keyStr = if (dims.isEmpty) lit("") else concat_ws(".", dims.map(col): _*)
    val header = spark.range(1).select(lit(0).as("rn"), lit("").as("key"),
      lit(headerLine).as("line"))
    val recs = df.select(lit(1).as("rn"), keyStr.as("key"),
      concat_ws(",", fields: _*).as("line"))
    header.unionByName(recs)
  }

  /** Per-vartype default bound fill (SURVEY §2.H fn_special_values). */
  def defaultFill(df: DataFrame, varType: Int): DataFrame = {
    val (lo, up) = VarType.defaultBounds(varType)
    fillBounds(df, lo, up)
  }

  /** Equation analog: per-EquType default bounds for unstored fields
    * (=g= → [0, +inf], =l= → [-inf, 0], …).
    */
  def defaultFillEqu(df: DataFrame, equType: Int): DataFrame = {
    val (lo, up) = EquType.defaultBounds(equType)
    fillBounds(df, lo, up)
  }

  private def fillBounds(df: DataFrame, lo: Double, up: Double): DataFrame = {
    def fill(c: String, d: Double): Column = {
      val dd = SpecialValues.toDouble(d)
      // a raw-mode scan keeps the EPS sentinel, which is GAMS's marker
      // for an EXPLICIT zero bound (stored precisely to defeat the
      // "0.0 = unstored" convention): it must become a literal 0.0,
      // never the type default. A plain 0.0 means unstored → default.
      // Map-mode scans have already collapsed EPS to 0.0 — there the
      // fill's 0.0 = unstored reading is the documented approximation;
      // scan with specialValues="raw" when explicit zero bounds matter.
      when(col(c) === SpecialValues.EPS, lit(0.0))
        .when(col(c) === 0.0, lit(dd))
        .otherwise(col(c))
    }
    df.withColumn("lower", fill("lower", lo)).withColumn("upper", fill("upper", up))
  }
}

/** Object API mirroring the reference's second entry point (SURVEY
  * §3.2): keep a file handle, query symbols with per-call options —
  * value field selection, label filter, reshape — except every result
  * is a lazy DataFrame, not a materialized pandas object.
  *
  * {{{
  * val f = GdxFile(spark, "/data/results.gdx")
  * f.catalog.show()
  * f("x")                                  // level values, long form
  * f.query("x", field = "marginal")        // duals
  * f.query("x", filt = "us*")              // label slice on dim_1
  * f.query("x", reshape = true)            // last dim pivoted to columns
  * }}}
  */
final case class GdxFile(spark: SparkSession, path: String) {

  def catalog: DataFrame = Gdx.catalog(spark, path)

  /** UEL dictionary view (gdxGetUEL loop surface). */
  def uels: DataFrame = Gdx.uels(spark, path)

  /** Acronym table view (gdxAcronymGetInfo loop surface). */
  def acronyms: DataFrame = Gdx.acronyms(spark, path)

  def apply(name: String): DataFrame = query(name)

  /** gdxdiff against another file (tool suite on the object API). */
  def diff(other: String, patterns: String = "*", tol: Double = 0.0): DataFrame =
    Gdx.diff(spark, path, other, patterns = patterns, tol = tol)

  /** gdxdump of this file as (symbol, line) GAMS text rows; `blocks`
    * adds gdxdump-style symbol block headers/footers.
    */
  def dump(patterns: String = "*", format: String = "records"): DataFrame =
    Gdx.dump(spark, path, patterns, format)

  /** 0-dim parameter unwrapped to its value (gdxpy scalar surface). */
  def scalar(name: String): Double = Gdx.scalar(spark, path, name)

  /** @param field  which value field to keep (level/marginal/lower/
    *               upper/scale); non-level fields exist for variables
    *               and equations only.
    * @param filt   optional case-insensitive glob over dim_1 labels.
    *               A wildcard-free filt lowers to `lower(dim_1) = lit`,
    *               which the connector pushes into the GDX decoder AND
    *               prunes shards against the manifest label ranges (a
    *               literal label plans ONE InputPartition out of O(10⁵)
    *               shards); globs with wildcards apply post-scan. Such a
    *               slice runs on the driver, with no Spark job, when it
    *               plans at most one shard per driver core (and at most
    *               `defaultParallelism`) and each shard's zone maps keep
    *               at most [[graft.sources.GdxScan.DriverBudget]] records (64
    *               blocks: the shards decode concurrently, one thread
    *               each, at ~0.26 ms a block, so about 16 ms against the
    *               13–45 ms a job costs); see [[graft.sources.GdxDriverScan]].
    * @param reshape pivot the last dimension to columns (gdxpy's 2-D
    *               Series→DataFrame reshape).
    */
  def query(name: String, field: String = "level", filt: String = null,
      reshape: Boolean = false): DataFrame = {
    var df = Gdx.symbol(spark, path, name)
    // parameters/sets carry `value`; variables/equations carry the five
    // named fields — either way the result exposes one `value` column
    val src =
      if (df.columns.contains(field)) field
      else if (field == "level" && df.columns.contains("value")) "value"
      else throw new IllegalArgumentException(
        s"symbol $name has no field '$field' (columns: ${df.columns.mkString(",")})")
    val dims = Gdx.dimCols(df)
    df = df.select((dims.map(col) :+ col(src).as("value")): _*)
    if (filt != null && dims.nonEmpty) {
      if (!filt.exists(c => c == '*' || c == '?'))
        // no wildcard → equality on the lowercased label: the exact
        // shape V2ExpressionBuilder translates (LOWER(dim_1) = lit),
        // so the connector prunes shards and filters in the decoder
        df = df.filter(lower(col("dim_1")) === filt.toLowerCase(java.util.Locale.ROOT))
      else {
        val rx = Gdx.globToRegex(filt).regex
        df = df.filter(lower(col("dim_1")).rlike("^" + rx.stripPrefix("(?i)") + "$"))
      }
    }
    if (reshape && dims.length >= 2) Gdx.pivotLastDim(df) else df
  }
}

/** EPS-aware value for aggregation in flag mode. */
case class EpsVal(value: Double, is_eps: Boolean, is_na: Boolean, is_undef: Boolean)

/** GDX-semantics sum (SURVEY §2.D agg_eps_sum): EPS participates as 0,
  * but a sum over only-EPS records is EPS (stored zero), not plain 0;
  * UNDEF then NA propagate. Cannot be a builtin sum — a typed
  * Aggregator keeps it codegen-adjacent (object hash aggregate).
  */
object EpsSum extends Aggregator[EpsVal, (Double, Boolean, Boolean, Boolean, Boolean), EpsVal] {
  // (sum, sawEps, sawNonEps, sawNa, sawUndef)
  def zero = (0.0, false, false, false, false)
  def reduce(b: (Double, Boolean, Boolean, Boolean, Boolean), v: EpsVal) =
    (b._1 + (if (v.is_eps) 0.0 else v.value),
      b._2 || v.is_eps, b._3 || !v.is_eps, b._4 || v.is_na, b._5 || v.is_undef)
  def merge(a: (Double, Boolean, Boolean, Boolean, Boolean),
      b: (Double, Boolean, Boolean, Boolean, Boolean)) =
    (a._1 + b._1, a._2 || b._2, a._3 || b._3, a._4 || b._4, a._5 || b._5)
  def finish(b: (Double, Boolean, Boolean, Boolean, Boolean)): EpsVal =
    if (b._5) EpsVal(Double.NaN, is_eps = false, is_na = false, is_undef = true)
    else if (b._4) EpsVal(Double.NaN, is_eps = false, is_na = true, is_undef = false)
    else if (b._2 && !b._3) EpsVal(0.0, is_eps = true, is_na = false, is_undef = false)
    else EpsVal(b._1, is_eps = false, is_na = false, is_undef = false)
  def bufferEncoder: Encoder[(Double, Boolean, Boolean, Boolean, Boolean)] =
    Encoders.product[(Double, Boolean, Boolean, Boolean, Boolean)]
  def outputEncoder: Encoder[EpsVal] = Encoders.product[EpsVal]
}
