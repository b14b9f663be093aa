package graft.ops

import java.io.File

import graft.{QueryModule, T}
import graft.gdx._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.A (GDX scans/sources/sinks) + §2.B filter_special +
  * §2.H fn_special_values + §2.D agg_eps_sum — the reference-domain
  * operators, exercised end-to-end through the DSv2 connector.
  *
  * Fixtures are derived deterministically from the harness parquet
  * (nation/region), written once per sfDir into tmp as (a) a hand-built
  * multi-symbol GDX, (b) a DSv2 single-file write, (c) a DSv2 sharded
  * write — so the oracle SQL can verify the full parquet→GDX→parquet
  * round trip against the original tables.
  */
object GdxOps extends QueryModule {

  private val lock = new Object
  private val built = scala.collection.mutable.Set.empty[String]

  /** Bump when fixture CONTENT changes: the marker file below persists
    * in tmp across JVM runs, so without a version a stale fixture from
    * an older build would be silently reused by a newer one.
    * v2: acronym table + `acr` symbol (round 12).
    * v3: codec v3 per-dim zone maps (round 13) — content identical but
    * the container format changed, and gdx_sliced_scan_dim2's skip
    * path should exercise v3 files, not stale v2 leftovers.
    * v4: codec v4 LZ4 blocks — content identical, but the gdx_* keys
    * should read v4 fixtures, not v3 leftovers.
    */
  private val fixtureVersion = 4

  /** Fixture dir keyed on basename PLUS a content fingerprint
    * (size+mtime of the source parquet dirs, the TokenizerOps.corpusKey
    * rule): basename alone would serve stale fixtures after an
    * in-place corpus regeneration — or a FOREIGN corpus's fixtures to
    * a different sfDir sharing a basename — and because the oracle
    * reads the new parquet while gdx_* scans the old fixture, that
    * surfaces as a spurious red (or masks a real one).
    */
  private def fixtureDir(sfDir: String): String = {
    val fp = graft.Fingerprint.of(
      Seq("nation.parquet", "region.parquet").map(t => new File(sfDir, t)))
    val tag = java.lang.Long.toHexString(
      java.util.Objects.hash(new File(sfDir).getCanonicalPath, fp._1, fp._2)
        .toLong & 0xffffffffL)
    s"${System.getProperty("java.io.tmpdir")}/graft-gdx-${new File(sfDir).getName}-$tag"
  }

  /** Cross-PROCESS build-once guard (the three harness entry points —
    * Verify, Bench, the test JVM — can run concurrently against the
    * same sfDir): within one JVM callers already hold `lock`; across
    * processes an O_EXCL lock file serializes the build and an
    * after-build marker publishes it. The lock carries the owner's PID
    * and a daemon thread touches its mtime every 10 s while the build
    * runs, so waiters can tell a SLOW builder (alive + beating — wait
    * indefinitely; a wall-clock timeout here once meant two concurrent
    * overwrite-mode fixture writes on a contended host) from a DEAD
    * one (process gone, or heartbeat silent >60 s — steal). Returns
    * once the marker exists.
    */
  private def buildOnce(dir: String, marker: String)(body: => Unit): Unit = {
    val markerFile = new File(dir, marker)
    if (markerFile.exists()) return
    new File(dir).mkdirs()
    val lockFile = new File(dir, s"$marker.lock")
    val staleMs = 60000L
    // lock content = pid:uuid — the uuid gives each lock an IDENTITY,
    // which is what makes a steal verifiable (pid alone can recur)
    val myId = s"${ProcessHandle.current().pid()}:${java.util.UUID.randomUUID()}"
    def readId(f: File): String =
      try new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim
      catch { case _: Exception => "" }
    while (!markerFile.exists()) {
      val acquired =
        try {
          java.nio.file.Files.write(lockFile.toPath,
            myId.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            java.nio.file.StandardOpenOption.CREATE_NEW)
          // CONFIRM after a short delay: a racing stealer that judged
          // the PREVIOUS lock stale could have moved ours aside in the
          // window between its judgment and its move; it restores
          // within microseconds on seeing the identity mismatch, so if
          // our id is still (or again) in place after 300 ms, no
          // correct stealer will ever displace it
          Thread.sleep(300)
          readId(lockFile) == myId
        }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      if (acquired) {
        val beat = new Thread(() => {
          try while (true) {
            Thread.sleep(10000)
            lockFile.setLastModified(System.currentTimeMillis())
          } catch { case _: InterruptedException => }
        }, s"gdx-fixture-lock-heartbeat-$marker")
        beat.setDaemon(true)
        beat.start()
        try {
          if (!markerFile.exists()) {
            body
            java.nio.file.Files.createFile(markerFile.toPath)
          }
        } finally { beat.interrupt(); lockFile.delete() }
      } else {
        Thread.sleep(200)
        val judgedId = readId(lockFile)
        val mtime = lockFile.lastModified() // 0 if already gone
        val age = System.currentTimeMillis() - mtime
        val silent = mtime > 0 && age > staleMs
        // steal only when the owner is provably dead, or silent for so
        // long (10 min) that even a monster GC pause is implausible —
        // a 60s-silent-but-alive owner may just be STW-paused with its
        // heartbeat thread, and stealing from it would readmit the
        // two-concurrent-builders corruption. The steal is a VERIFIED
        // atomic rename: move the lock aside, check the moved file
        // still carries the id we judged stale, and restore it
        // immediately if not (we displaced a FRESH lock re-created
        // after our judgment — the ABA race a bare delete or an
        // unverified rename both lose). Combined with the 300 ms
        // acquisition confirm above, a wrongly-displaced owner never
        // proceeds unconfirmed.
        if (judgedId.nonEmpty &&
            ((silent && lockOwnerDead(lockFile)) ||
             (mtime > 0 && age > 10 * 60 * 1000L))) {
          val aside = new File(dir,
            s"$marker.lock.stale-${java.util.UUID.randomUUID().toString.take(8)}")
          try {
            java.nio.file.Files.move(lockFile.toPath, aside.toPath,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            if (readId(aside) == judgedId) aside.delete() // stole the stale lock
            else {
              // displaced a fresh owner: put it back before its confirm
              try java.nio.file.Files.move(aside.toPath, lockFile.toPath,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              catch { case _: Exception => aside.delete() } // a 3rd lock appeared; its owner will confirm
            }
          } catch { case _: Exception => () } // lost the steal race: re-poll
        }
      }
    }
  }

  /** True iff the lock file names a PID that no longer exists. A
    * momentarily unreadable/empty lock (creation race, concurrent
    * steal) reads as ALIVE — the heartbeat-staleness test above is
    * the backstop, so a false "alive" only costs another 200 ms poll.
    */
  private def lockOwnerDead(lockFile: File): Boolean =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(lockFile.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim
      val pid = s.takeWhile(_ != ':') // content is pid:uuid
      pid.nonEmpty && ProcessHandle.of(pid.toLong).isEmpty
    } catch { case _: Exception => false }

  /** Process-scoped scratch dir for queries that WRITE as part of the
    * operator (merge/rename/round-trip): pid-unique so concurrent
    * Verify/Bench JVMs never collide, OUTSIDE the persistent fixture
    * dir (whose marker scheme assumes its contents are the fixtures),
    * and recursively removed on JVM exit — pid-suffixed dirs inside
    * the fixture root accumulated one orphan dataset per run.
    */
  private lazy val scratchRoot: String = {
    val root = new File(System.getProperty("java.io.tmpdir"),
      s"graft-scratch-${ProcessHandle.current().pid()}")
    root.mkdirs()
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: File): Unit = {
        if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(root)
    }, "graft-scratch-cleanup"))
    root.getPath
  }
  private def scratch(name: String): String = s"$scratchRoot/$name"

  /** Static special-value fixture records (label, raw GDX value). */
  private val specRecords = Seq(
    ("s0", 1.5), ("s1", SpecialValues.EPS), ("s2", SpecialValues.NA),
    ("s3", SpecialValues.UNDEF), ("s4", SpecialValues.PINF), ("s5", SpecialValues.MINF))

  private def ensureFixtures(s: SparkSession, sfDir: String): String = lock.synchronized {
    val dir = fixtureDir(sfDir)
    if (!built.contains(dir)) {
      buildOnce(dir, s"fixtures.v$fixtureVersion.ok") {
      val nation = T(s, sfDir, "nation")
        .select(col("n_name"), col("n_nationkey").cast("double"),
          col("n_regionkey").cast("double"))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
        .sortBy(_._1)
      val region = T(s, sfDir, "region")
        .select(col("r_name"), col("r_regionkey").cast("double"))
        .collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)
      val regionByKey = region.map { case (n, k) => k.toInt -> n }.toMap

      // (a) hand-built multi-symbol file
      val b = new GdxBuilder()
      b.addSymbol("nat", SymbolType.Parameter, 1,
        nation.map { case (n, k, _) => (Seq(n), Array(k), None) },
        explText = "nation key by name", domains = Seq("n"))
      b.addSymbol("natreg", SymbolType.Parameter, 2,
        nation.map { case (n, k, rk) =>
          (Seq(n, regionByKey(rk.toInt % region.length)), Array(k), None)
        }, domains = Seq("n", "r"))
      b.addSymbol("regset", SymbolType.Set, 1,
        region.map { case (r, k) => (Seq(r), Array.empty[Double], Some(s"region $k")) })
      b.addSymbol("spec", SymbolType.Parameter, 1,
        specRecords.map { case (l, v) => (Seq(l), Array(v), None) })
      // acronym fixture: two table entries (indices 10, 11 — SPEC
      // sentinels ≥ 1e301 in 1e300 steps), a symbol mixing acronym /
      // NA / plain values so flag, raw and table surfaces all exercise
      val hiAcr = b.addAcronym("high", "priority high")
      val loAcr = b.addAcronym("low", "priority low")
      b.addSymbol("acr", SymbolType.Parameter, 1, Seq(
        (Seq("a0"), Array(hiAcr), None),
        (Seq("a1"), Array(loAcr), None),
        (Seq("a2"), Array(SpecialValues.NA), None),
        (Seq("a3"), Array(1.25), None),
        (Seq("a4"), Array(hiAcr), None)))
      // 0-dim scalar (gdxpy loads these as plain Python scalars)
      b.addSymbol("ncount", SymbolType.Parameter, 0,
        Seq((Seq.empty, Array(nation.length.toDouble), None)))
      // domain-check fixture: one in-domain record, one violation
      b.addSymbol("natbad", SymbolType.Parameter, 2, Seq(
        (Seq(nation.head._1, region.head._1), Array(1.0), None),
        (Seq(nation(1)._1, "ATLANTIS"), Array(2.0), None)),
        domains = Seq("n", "r"))
      b.addAlias("r", "regset")
      GdxCodec.write(b.result(), s"$dir/file1.gdx")

      // (b) DSv2 single-file write: region-derived `nat` (multifile demo)
      T(s, sfDir, "region")
        .select(col("r_name").as("dim_1"), col("r_regionkey").cast("double").as("value"))
        .write.format("gdx").mode("overwrite")
        .option("symbol", "nat").option("singleFile", "true")
        .save(s"$dir/file2.gdx")

      // (c) DSv2 sharded write: nation-derived `nat` across partitions
      T(s, sfDir, "nation")
        .select(col("n_name").as("dim_1"), col("n_nationkey").cast("double").as("value"))
        .repartition(4)
        .write.format("gdx").mode("overwrite")
        .option("symbol", "nat")
        .save(s"$dir/sharded")
      }
      built += dir
    }
    dir
  }

  // ------------------------------------------------------------ scans

  q("gdx_scan_symbol",
    """SELECT n_name AS dim_1, CAST(n_nationkey AS DOUBLE) AS value
      |FROM nation ORDER BY dim_1""") { (s, d) =>
    val dir = ensureFixtures(s, d)
    Gdx.symbol(s, s"$dir/file1.gdx", "NAT") // case-insensitive lookup
      .select("dim_1", "value")
      .orderBy("dim_1")
  }

  q("gdx_catalog",
    """SELECT * FROM (
      |  SELECT 'acr' AS name, 'parameter' AS type, 1 AS dim, 0 AS subtype,
      |         CAST(5 AS BIGINT) AS records
      |  UNION ALL SELECT 'nat', 'parameter', 1, 0, (SELECT count(*) FROM nation)
      |  UNION ALL SELECT 'natbad', 'parameter', 2, 0, CAST(2 AS BIGINT)
      |  UNION ALL SELECT 'natreg', 'parameter', 2, 0, (SELECT count(*) FROM nation)
      |  UNION ALL SELECT 'ncount', 'parameter', 0, 0, CAST(1 AS BIGINT)
      |  UNION ALL SELECT 'r', 'alias', 0, 0, CAST(0 AS BIGINT)
      |  UNION ALL SELECT 'regset', 'set', 1, 0, (SELECT count(*) FROM region)
      |  UNION ALL SELECT 'spec', 'parameter', 1, 0, CAST(6 AS BIGINT)) t
      |ORDER BY name""") { (s, d) =>
    val dir = ensureFixtures(s, d)
    Gdx.catalog(s, s"$dir/file1.gdx")
      .select("name", "type", "dim", "subtype", "records")
      .orderBy("name")
  }

  /** UEL dictionary scan (SPEC gdxSystemInfo nUels + gdxGetUEL loop —
    * the reference's low-level passthrough exposes exactly this view,
    * SURVEY §3.3): every label registered by any symbol of the file.
    * The registry row verifies the label SET; the 1-based
    * registration-order index contract is pinned in GdxSourceSpec
    * (registration order is not SQL-derivable from the parquet).
    */
  q("gdx_uel_scan",
    """SELECT label FROM (
      |  SELECT n_name AS label FROM nation
      |  UNION SELECT r_name FROM region
      |  UNION SELECT 'ATLANTIS'
      |  UNION SELECT 's' || CAST(i AS VARCHAR) FROM range(6) t(i)
      |  UNION SELECT 'a' || CAST(i AS VARCHAR) FROM range(5) t(i)) u
      |ORDER BY label""") { (s, d) =>
    val dir = ensureFixtures(s, d)
    Gdx.uels(s, s"$dir/file1.gdx")
      .select("label")
      .orderBy("label")
  }

  q("gdx_scan_fields",
    "SELECT CAST(n_nationkey AS DOUBLE) AS value FROM nation ORDER BY value") { (s, d) =>
    val dir = ensureFixtures(s, d)
    // value-field-only projection → SupportsPushDownRequiredColumns path
    Gdx.symbol(s, s"$dir/file1.gdx", "nat")
      .select("value")
      .orderBy("value")
  }

  q("gdx_load_pattern",
    """SELECT 'nat' AS symbol, count(*) AS n FROM nation
      |UNION ALL SELECT 'natbad', CAST(2 AS BIGINT)
      |UNION ALL SELECT 'natreg', count(*) FROM nation ORDER BY symbol""") { (s, d) =>
    val dir = ensureFixtures(s, d)
    Gdx.loadSymbols(s, "nat*", Seq(s"$dir/file1.gdx")).toSeq
      .sortBy(_._1)
      .map { case (name, df) => df.groupBy(lit(name).as("symbol")).agg(count(lit(1)).as("n")) }
      .reduce(_ unionByName _)
      .orderBy("symbol")
  }

  q("gdx_multifile",
    """SELECT 'f1' AS f, count(*) AS n FROM nation
      |UNION ALL SELECT 'f2', count(*) FROM region ORDER BY f""") { (s, d) =>
    val dir = ensureFixtures(s, d)
    Gdx.loadSymbols(s, "nat", Seq(s"$dir/file1.gdx", s"$dir/file2.gdx"))("nat")
      .groupBy(when(col("gdx_file").endsWith("file1.gdx"), "f1").otherwise("f2").as("f"))
      .agg(count(lit(1)).as("n"))
      .orderBy("f")
  }

  q("gdx_write",
    """SELECT n_name AS dim_1, CAST(n_nationkey AS DOUBLE) AS value
      |FROM nation ORDER BY dim_1""") { (s, d) =>
    val dir = ensureFixtures(s, d)
    // read back the SHARDED DSv2 write (4 shards, per-shard UEL tables)
    Gdx.symbol(s, s"$dir/sharded", "nat")
      .select("dim_1", "value")
      .orderBy("dim_1")
  }

  /** One-label slice through the FULL pruning stack — V2 predicate
    * pushdown (`lower(dim_1) = lit`) → manifest shard pruning (plans
    * ~1 of 4 InputPartitions) → codec-v2 block skip (non-matching
    * blocks never inflate) → UEL-index record filter → Spark residual
    * re-check. The registered face of gdxpy's indexed record access
    * (r11 verdict missing #3): the oracle hash proves the slice is
    * EXACT after all four pruning layers, at every gated SF.
    */
  q("gdx_sliced_scan",
    """SELECT n_name AS dim_1, CAST(n_nationkey AS DOUBLE) AS value
      |FROM nation WHERE lower(n_name) = 'canada' ORDER BY dim_1""") { (s, d) =>
    val dir = ensureFixtures(s, d)
    Gdx.symbol(s, s"$dir/sharded", "nat")
      .filter(lower(col("dim_1")) === "canada")
      .select("dim_1", "value")
      .orderBy("dim_1")
  }

  /** [[gdx_sliced_scan]]'s NON-LEADING-dimension twin: a pushed dim_2
    * label slice through the codec-v3 per-dim block zone maps. dim_1
    * pruning rides the sort order (range-exact); dim_2 is NOT
    * clustered, so this is parquet-stats-style pruning — blocks whose
    * dim_2 (min,max) UEL-index range excludes the label never inflate
    * (GdxAcronymBlockSpec pins the decode-counter drop with a small
    * blockSize; at registry SFs natreg is single-block and the row
    * pins EXACTNESS of the superset-pass + residual stack instead).
    */
  q("gdx_sliced_scan_dim2",
    """SELECT n.n_name AS dim_1, r.r_name AS dim_2,
      |       CAST(n.n_nationkey AS DOUBLE) AS value
      |FROM nation n JOIN region r
      |  ON r.r_regionkey = n.n_regionkey % (SELECT count(*) FROM region)
      |WHERE lower(r.r_name) = 'africa' ORDER BY dim_1, dim_2""") { (s, d) =>
    val dir = ensureFixtures(s, d)
    Gdx.symbol(s, s"$dir/file1.gdx", "natreg")
      .filter(lower(col("dim_2")) === "africa")
      .select("dim_1", "dim_2", "value")
      .orderBy("dim_1", "dim_2")
  }

  /** Label search across every symbol of a file ([[graft.gdx.Gdx
    * .labelUsage]] — the `gdxdump | grep` / IDE "find UEL" workflow):
    * where does 'africa' appear, per (symbol, dimension slot), with
    * occurrence counts. The oracle re-derives each hit relationally:
    * regset membership (1), its alias `r` (1), natreg's region
    * dimension (all nations mapped to AFRICA), and natbad's one
    * in-domain record.
    */
  q("gdx_label_usage",
    """SELECT * FROM (
      |  SELECT 'natbad' AS symbol, 2 AS dim, CAST(1 AS BIGINT) AS n_records
      |  UNION ALL
      |  SELECT 'natreg', 2,
      |         (SELECT count(*) FROM nation n JOIN region r
      |            ON r.r_regionkey = n.n_regionkey % (SELECT count(*) FROM region)
      |          WHERE lower(r.r_name) = 'africa')
      |  UNION ALL SELECT 'r', 1, 1
      |  UNION ALL SELECT 'regset', 1, 1) t
      |ORDER BY symbol, dim""".stripMargin) { (s, d) =>
    val dir = ensureFixtures(s, d)
    Gdx.labelUsage(s, s"$dir/file1.gdx", "AFRICA")
      .reportSorted("symbol", "dim")
  }

  // ------------------------------------------------- special values

  q("filter_special",
    """SELECT * FROM (VALUES ('s0', 1.5, false), ('s1', 0.0, true),
      |  ('s4', CAST('infinity' AS DOUBLE), false),
      |  ('s5', CAST('-infinity' AS DOUBLE), false)) t(dim_1, value, is_eps)
      |ORDER BY dim_1""") { (s, d) =>
    val dir = ensureFixtures(s, d)
    Gdx.symbol(s, s"$dir/file1.gdx", "spec", specialValues = "columns")
      .filter(!col("is_na") && !col("is_undef"))
      .select("dim_1", "value", "is_eps")
      .orderBy("dim_1")
  }

  q("fn_special_values",
    """SELECT * FROM (VALUES ('s0', false, false, false), ('s1', true, false, false),
      |  ('s2', false, true, false), ('s3', false, false, true),
      |  ('s4', false, false, false), ('s5', false, false, false))
      |  t(dim_1, is_eps, is_na, is_undef)
      |ORDER BY dim_1""") { (s, d) =>
    val dir = ensureFixtures(s, d)
    Gdx.symbol(s, s"$dir/file1.gdx", "spec", specialValues = "columns")
      .select("dim_1", "is_eps", "is_na", "is_undef")
      .orderBy("dim_1")
  }

  // ------------------------------------------------------- acronyms

  /** Acronym table view (SPEC gdxAcronymCount + gdxAcronymGetInfo loop):
    * the file-level (index, name, text) registry whose sentinels are
    * index·1e300 (≥ 1e301, 1e300 steps — SURVEY §1.1). Golden oracle
    * over the deterministic fixture table.
    */
  q("gdx_acronym_table",
    """SELECT * FROM (VALUES (10, 'high', 'priority high'),
      |                      (11, 'low', 'priority low'))
      |  t(acr_index, name, text) ORDER BY acr_index""") { (s, d) =>
    val dir = ensureFixtures(s, d)
    Gdx.acronyms(s, s"$dir/file1.gdx")
      .select("acr_index", "name", "text")
      .orderBy("acr_index")
  }

  /** Flag-mode scan of an acronym-bearing parameter: `is_acronym` +
    * `acr_index` keep the sentinel lossless while `value` decodes
    * gdxpy-style (NaN — excluded here so the hash never sees NaN);
    * distinguishes acronym-vs-NA, which both display as NaN.
    */
  q("gdx_acronym_scan",
    """SELECT * FROM (VALUES ('a0', true, 10, false), ('a1', true, 11, false),
      |                      ('a2', false, 0, true), ('a3', false, 0, false),
      |                      ('a4', true, 10, false))
      |  t(dim_1, is_acronym, acr_index, is_na) ORDER BY dim_1""") { (s, d) =>
    val dir = ensureFixtures(s, d)
    Gdx.symbol(s, s"$dir/file1.gdx", "acr", specialValues = "columns")
      .select("dim_1", "is_acronym", "acr_index", "is_na")
      .orderBy("dim_1")
  }

  /** Raw-mode acronym round trip THROUGH THE SHARDED WRITER: flag-mode
    * scan → DSv2 write (acronym table riding the `acronyms` option) →
    * raw scan; the index re-derives from the sentinel by the same
    * round(v/1e300) both engines compute. Golden oracle = the fixture
    * contract, so a lossy rewrite anywhere in the chain reds the hash.
    */
  q("gdx_acronym_roundtrip",
    """SELECT * FROM (VALUES ('a0', 10, 'high'), ('a1', 11, 'low'), ('a4', 10, 'high'))
      |  t(dim_1, acr_index, name) ORDER BY dim_1""") { (s, d) =>
    val dir = ensureFixtures(s, d)
    val out = scratch("acr-rt")
    Gdx.symbol(s, s"$dir/file1.gdx", "acr", specialValues = "columns")
      .write.format("gdx").mode("overwrite")
      .option("symbol", "acr").option("symbolType", "parameter")
      .option("acronyms", "10:high:priority high,11:low:priority low")
      .save(out)
    val raw = Gdx.symbol(s, out, "acr", specialValues = "raw")
      .filter(col("value") >= 9.5e300)
      .select(col("dim_1"),
        round(col("value") / 1.0e300).cast("int").as("acr_index"))
    raw.join(broadcast(Gdx.acronyms(s, out).select("acr_index", "name")), Seq("acr_index"))
      .select("dim_1", "acr_index", "name")
      .orderBy("dim_1")
  }

  // Static fixture → golden-value oracle (same pattern as filter_special):
  // hash-checks the full GDX round trip + EpsSum algebra, not just rows>0.
  q("agg_eps_sum",
    """SELECT * FROM (VALUES ('eps_only', CAST(0.0 AS DOUBLE), true),
      |                      ('numeric', CAST(1.5 AS DOUBLE), false))
      |  t(grp, value, is_eps) ORDER BY grp""") { (s, d) =>
    val dir = ensureFixtures(s, d)
    import s.implicits._
    val epsSum = udaf(EpsSum)
    // eps-only group must come back EPS-flagged; mixed group numeric
    Gdx.symbol(s, s"$dir/file1.gdx", "spec", specialValues = "columns")
      .filter(!col("is_na") && !col("is_undef") &&
        !col("value").isin(Double.PositiveInfinity, Double.NegativeInfinity))
      .withColumn("grp", when(col("is_eps"), "eps_only").otherwise("numeric"))
      .groupBy("grp")
      .agg(epsSum(col("value"), col("is_eps"), col("is_na"), col("is_undef")).as("s"))
      .select(col("grp"), col("s.value").as("value"), col("s.is_eps").as("is_eps"))
      .orderBy("grp")
  }

  /** Per-vartype default-bound fill (SURVEY §2.H fn_special_values
    * "defaultFill(vartype)"): a positive variable's unstored bounds are
    * lower=0, upper=+inf — `Gdx.defaultFill` threads them in after the
    * scan. Golden oracle over the static fixture.
    */
  q("gdx_default_fill",
    """SELECT * FROM (VALUES
      |  ('v1', CAST(3.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST('infinity' AS DOUBLE)),
      |  ('v2', CAST(7.5 AS DOUBLE), CAST(2.0 AS DOUBLE), CAST(9.0 AS DOUBLE)))
      |  t(dim_1, level, lower, upper) ORDER BY dim_1""") { (s, d) =>
    ensureFixtures(s, d)
    val dir = fixtureDir(d)
    val p = s"$dir/posvar.gdx"
    lock.synchronized {
      buildOnce(dir, s"posvar.v$fixtureVersion.ok") {
        val b = new GdxBuilder()
        // v1 stores only a level (bounds unstored = 0); v2 stores explicit bounds
        b.addSymbol("x", SymbolType.Variable, 1, Seq(
          (Seq("v1"), Array(3.0, 0.0, 0.0, 0.0, 1.0), None),
          (Seq("v2"), Array(7.5, 0.0, 2.0, 9.0, 1.0), None)),
          userInfo = VarType.Positive)
        GdxCodec.write(b.result(), p)
      }
    }
    Gdx.defaultFill(Gdx.symbol(s, p, "x"), VarType.Positive)
      .select("dim_1", "level", "lower", "upper")
      .orderBy("dim_1")
  }

  /** Equation symbol end-to-end (SURVEY §1.1: equations are one of the
    * five symbol classes): a =g= equation written THROUGH the DSv2
    * connector (sharded write, `symbolType=equation` + `subtype` →
    * userInfo), scanned back with all five value fields, unstored
    * bounds filled per EquType defaults ([0, +inf] for =g=) — the exact
    * analog of gdx_default_fill for variables. Golden oracle.
    */
  q("gdx_equation_scan",
    """SELECT * FROM (VALUES
      |  ('e1', CAST(10.0 AS DOUBLE), CAST(0.5 AS DOUBLE),
      |   CAST(0.0 AS DOUBLE), CAST('infinity' AS DOUBLE)),
      |  ('e2', CAST(4.0 AS DOUBLE), CAST(1.25 AS DOUBLE),
      |   CAST(2.0 AS DOUBLE), CAST(8.0 AS DOUBLE)))
      |  t(dim_1, level, marginal, lower, upper) ORDER BY dim_1""") { (s, d) =>
    ensureFixtures(s, d)
    val dir = fixtureDir(d)
    val p = s"$dir/equ"
    lock.synchronized {
      // buildOnce, not a bare exists() check: a concurrent harness JVM
      // racing this overwrite-mode SHARDED write (no single-file atomic
      // rename protects it) could delete shards the other's fresh
      // manifest lists — the cross-process guard exists for exactly this
      buildOnce(dir, s"equ.v$fixtureVersion.ok") {
        import s.implicits._
        // e1 stores level+marginal only (bounds unstored = sparse 0);
        // e2 stores explicit bounds — defaults must NOT overwrite them
        Seq(("e1", 10.0, 0.5, 0.0, 0.0, 1.0), ("e2", 4.0, 1.25, 2.0, 8.0, 1.0))
          .toDF("dim_1", "level", "marginal", "lower", "upper", "scale")
          .write.format("gdx").mode("overwrite")
          .option("symbol", "supbal")
          .option("symbolType", "equation")
          .option("subtype", EquType.G.toString)
          .save(p)
      }
    }
    Gdx.defaultFillEqu(Gdx.symbol(s, p, "supbal"), EquType.G)
      .select("dim_1", "level", "marginal", "lower", "upper")
      .orderBy("dim_1")
  }

  /** 0-dim scalar through the connector: a symbol with no dim columns,
    * one record — gdxpy's "scalars load as scalars" surface
    * (`Gdx.scalar` is the unwrapped-value helper on the same scan).
    */
  q("gdx_scalar",
    "SELECT CAST(count(*) AS DOUBLE) AS value FROM nation") { (s, d) =>
    val dir = ensureFixtures(s, d)
    Gdx.symbol(s, s"$dir/file1.gdx", "ncount").select("value")
  }

  /** GAMS domain checking (SPEC gdxSymbolGetDomainX; SURVEY §2.C
    * join_anti provenance): records whose label is not covered by the
    * controlling domain set — the anti-join through the connector.
    */
  q("gdx_domain_check",
    """SELECT * FROM (VALUES ('NATION_1', 'ATLANTIS', CAST(2.0 AS DOUBLE)))
      |  t(dim_1, dim_2, value) ORDER BY dim_1""") { (s, d) =>
    val dir = ensureFixtures(s, d)
    val natbad = Gdx.symbol(s, s"$dir/file1.gdx", "natbad")
    val domain = Gdx.symbol(s, s"$dir/file1.gdx", "regset")
      .select(col("dim_1").as("r_label"))
    natbad
      .join(domain, col("dim_2") === col("r_label"), "left_anti")
      .select("dim_1", "dim_2", "value")
      .orderBy("dim_1")
  }

  /** The GAMS dollar-condition idiom `p(n)$regset(r)` — restrict a
    * parameter to records whose controlling label is a member of a
    * set (the complement of gdx_domain_check's anti-join): a semi
    * join through the connector, mapping-set side broadcastable.
    */
  q("gdx_dollar_condition",
    """SELECT (SELECT min(n_name) FROM nation) AS dim_1,
      |       (SELECT min(r_name) FROM region) AS dim_2,
      |       CAST(1.0 AS DOUBLE) AS value""") { (s, d) =>
    val dir = ensureFixtures(s, d)
    val natbad = Gdx.symbol(s, s"$dir/file1.gdx", "natbad")
    val domain = Gdx.symbol(s, s"$dir/file1.gdx", "regset")
      .select(col("dim_1").as("r_label"))
    natbad
      .join(broadcast(domain), col("dim_2") === col("r_label"), "left_semi")
      .select("dim_1", "dim_2", "value")
      .orderBy("dim_1")
  }

  /** GDX alias (SURVEY §1.2): reading the alias reads its target set —
    * resolved inside the connector, verified against the region table
    * the target was built from.
    */
  q("gdx_alias_scan",
    """SELECT r_name AS dim_1, CAST(1.0 AS DOUBLE) AS value,
      |       'region ' || CAST(CAST(r_regionkey AS DOUBLE) AS VARCHAR) AS text
      |FROM region ORDER BY dim_1""") { (s, d) =>
    val dir = ensureFixtures(s, d)
    Gdx.symbol(s, s"$dir/file1.gdx", "r") // alias of regset
      .select("dim_1", "value", "text")
      .orderBy("dim_1")
  }

  /** Mapping-set aggregation — THE everyday GAMS/gdxpy analysis move
    * (`sum(n$map(n,r), p(n))`): roll a nation-keyed parameter up to
    * regions through a many-to-one mapping set. Scale shape: the
    * mapping is O(labels) — BROADCAST it onto the data-sized parameter
    * scan (map-side relabel, no shuffle), then one two-phase agg on
    * the target label. The mapping here is `natreg`'s (n, r) domain
    * pairs; the oracle re-derives it relationally from nation/region.
    */
  q("gdx_map_aggregate",
    """SELECT r.r_name AS r, CAST(sum(CAST(n.n_nationkey AS DOUBLE)) AS DOUBLE) AS value
      |FROM nation n JOIN region r
      |  ON r.r_regionkey = n.n_regionkey % (SELECT count(*) FROM region)
      |GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val dir = ensureFixtures(s, d)
    val p = Gdx.symbol(s, s"$dir/file1.gdx", "nat")
      .select(col("dim_1").as("n"), col("value"))
    val mapping = Gdx.symbol(s, s"$dir/file1.gdx", "natreg")
      .select(col("dim_1").as("n"), col("dim_2").as("r"))
    p.join(broadcast(mapping), Seq("n"))
      .groupBy("r").agg(sum("value").as("value"))
      .reportSorted("r")
  }

  /** Fixture pair for gdx_diff: file A holds every nation plus a
    * regions-only symbol; file B drops nationkey%7 names, shifts
    * nationkey%3 values by +0.5 and adds one new label — so the diff
    * exercises del / chg / ins and a whole-symbol deletion at once.
    * A region-keyed SET pair (member drop / text change / new member)
    * and a parameter-in-A-set-in-B symbol extend the report with the
    * text-diff and type-mismatch paths.
    */
  private def ensureDiffFixtures(s: SparkSession, sfDir: String): String =
    lock.synchronized {
      val dir = fixtureDir(sfDir)
      // marker written AFTER both files (inside buildOnce): a crash
      // mid-build can only leave unmarked partials, which the next
      // builder overwrites under the cross-process lock
      buildOnce(dir, s"diff.v$fixtureVersion.ok") {
        val nation = T(s, sfDir, "nation")
          .select(col("n_name"), col("n_nationkey").cast("double"))
          .collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)
        val region = T(s, sfDir, "region")
          .select(col("r_name"), col("r_regionkey").cast("double"))
          .collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)
        val a = new GdxBuilder()
        a.addSymbol("p", SymbolType.Parameter, 1,
          nation.map { case (n, k) => (Seq(n), Array(k), None) })
        a.addSymbol("onlya", SymbolType.Parameter, 1,
          region.map { case (r, k) => (Seq(r), Array(k), None) })
        a.addSymbol("s", SymbolType.Set, 1,
          region.map { case (r, k) => (Seq(r), Array.empty[Double], Some(s"region $k")) })
        a.addSymbol("mix", SymbolType.Parameter, 1, Seq((Seq("only"), Array(1.0), None)))
        GdxCodec.write(a.result(), s"$dir/diffA.gdx")
        val b = new GdxBuilder()
        b.addSymbol("p", SymbolType.Parameter, 1,
          (nation.filter(_._2.toInt % 7 != 0).map { case (n, k) =>
            (Seq(n), Array(if (k.toInt % 3 == 0) k + 0.5 else k), None)
          } :+ ((Seq("zz_extra"), Array(99.0), None))).sortBy(_._1.head))
        // set delta: AFRICA dropped, AMERICA's text replaced, zz_new added
        b.addSymbol("s", SymbolType.Set, 1,
          (region.filter(_._1 != "AFRICA").map { case (r, k) =>
            (Seq(r), Array.empty[Double],
              if (r == "AMERICA") Some("america changed") else Some(s"region $k"))
          } :+ ((Seq("zz_new"), Array.empty[Double], None))).sortBy(_._1.head))
        b.addSymbol("mix", SymbolType.Set, 1,
          Seq((Seq("only"), Array.empty[Double], None)))
        GdxCodec.write(b.result(), s"$dir/diffB.gdx")
      }
      dir
    }

  /** gdxdiff tool parity (SPEC: GAMS gdxdiff — the standard way GAMS
    * users compare two model-run outputs): full del/ins/chg report
    * across symbols, distributed per-symbol full-outer joins. Output is
    * bounded by the differing-record count (here O(nation)+O(region)) →
    * reportSorted is legitimate.
    */
  q("gdx_diff",
    """SELECT *, CAST(NULL AS VARCHAR) AS special_a, CAST(NULL AS VARCHAR) AS special_b
      |FROM (
      |  SELECT 'onlya' AS symbol, r_name AS key, 'del' AS status,
      |         CAST(r_regionkey AS DOUBLE) AS value_a, CAST(NULL AS DOUBLE) AS value_b,
      |         CAST(NULL AS VARCHAR) AS text_a, CAST(NULL AS VARCHAR) AS text_b
      |  FROM region
      |  UNION ALL
      |  SELECT 'p', n_name, 'del', CAST(n_nationkey AS DOUBLE), NULL, NULL, NULL
      |  FROM nation WHERE n_nationkey % 7 = 0
      |  UNION ALL
      |  SELECT 'p', n_name, 'chg', CAST(n_nationkey AS DOUBLE), n_nationkey + 0.5,
      |         NULL, NULL
      |  FROM nation WHERE n_nationkey % 7 <> 0 AND n_nationkey % 3 = 0
      |  UNION ALL
      |  SELECT 'p', 'zz_extra', 'ins', NULL, CAST(99.0 AS DOUBLE), NULL, NULL
      |  UNION ALL
      |  SELECT 'mix', 'type parameter<>set', 'type', NULL, NULL, NULL, NULL
      |  UNION ALL
      |  SELECT 's', r_name, 'del', NULL, NULL,
      |         'region ' || CAST(CAST(r_regionkey AS DOUBLE) AS VARCHAR), NULL
      |  FROM region WHERE r_name = 'AFRICA'
      |  UNION ALL
      |  SELECT 's', r_name, 'chg', NULL, NULL,
      |         'region ' || CAST(CAST(r_regionkey AS DOUBLE) AS VARCHAR),
      |         'america changed'
      |  FROM region WHERE r_name = 'AMERICA'
      |  UNION ALL
      |  SELECT 's', 'zz_new', 'ins', NULL, NULL, NULL, NULL) t
      |ORDER BY symbol, key, status""") { (s, d) =>
    val dir = ensureDiffFixtures(s, d)
    Gdx.diff(s, s"$dir/diffA.gdx", s"$dir/diffB.gdx")
      .reportSorted("symbol", "key", "status")
  }

  /** gdxmerge tool parity (SPEC: GAMS gdxmerge — combine runs into one
    * dataset keyed by a new file dimension): merges the two fixture
    * files' `nat` (nation-keyed in file1, region-keyed in file2), then
    * reads the merged symbol back through the connector — so the oracle
    * checks the whole merge → sharded-write → scan round trip. The
    * merge write IS the operator, so it runs inside the query
    * (mode=overwrite keeps repeats idempotent). The output dir is
    * process-unique: a concurrent bench/correctness run in another JVM
    * must not overwrite the dataset this one is still reading back.
    */
  q("gdx_merge",
    """SELECT * FROM (
      |  SELECT 'f1' AS dim_1, n_name AS dim_2, CAST(n_nationkey AS DOUBLE) AS value
      |  FROM nation
      |  UNION ALL
      |  SELECT 'f2', r_name, CAST(r_regionkey AS DOUBLE) FROM region) t
      |ORDER BY dim_1, dim_2""") { (s, d) =>
    val dir = ensureFixtures(s, d)
    val out = scratch("merged")
    Gdx.merge(s, Seq(s"$dir/file1.gdx", s"$dir/file2.gdx"),
      out, patterns = "nat")
    Gdx.symbol(s, s"$out/nat", "nat")
      .select("dim_1", "dim_2", "value")
      .reportSorted("dim_1", "dim_2")
  }

  /** gdxrename tool parity (SPEC: GAMS gdxrename / gdxRenameUEL —
    * relabel UELs across a file): rename a region label across the
    * 2-dim mapping symbol, write through the sharded DSv2 writer, read
    * back — oracle re-derives the relabeled mapping relationally.
    * Process-unique output dir, like gdx_merge.
    */
  q("gdx_rename_uel",
    """SELECT n.n_name AS dim_1,
      |       CASE WHEN r.r_name = 'AFRICA' THEN 'AFRIKA' ELSE r.r_name END AS dim_2,
      |       CAST(n.n_nationkey AS DOUBLE) AS value
      |FROM nation n JOIN region r
      |  ON r.r_regionkey = n.n_regionkey % (SELECT count(*) FROM region)
      |ORDER BY dim_1, dim_2""") { (s, d) =>
    val dir = ensureFixtures(s, d)
    val out = scratch("renamed")
    Gdx.renameUel(s, s"$dir/file1.gdx", out,
      Map("africa" -> "AFRIKA"), patterns = "natreg")
    Gdx.symbol(s, s"$out/natreg", "natreg")
      .select("dim_1", "dim_2", "value")
      .reportSorted("dim_1", "dim_2")
  }

  /** gdxdump tool parity (SPEC: GAMS gdxdump — GDX → GAMS assignment
    * text): render the fixture's 1-dim parameter and the region set,
    * oracle re-derives the exact lines (DECIMAL(18,6) both sides, so
    * the value text is engine-independent).
    */
  q("gdx_dump",
    """SELECT * FROM (
      |  SELECT 'nat' AS symbol,
      |         concat('nat(''', n_name, ''') = ',
      |                CAST(CAST(n_nationkey AS DECIMAL(18,6)) AS VARCHAR), ';') AS line
      |  FROM nation
      |  UNION ALL
      |  SELECT 'regset',
      |         concat('regset(''', r_name, ''') ''region ',
      |                CAST(CAST(r_regionkey AS DOUBLE) AS VARCHAR), ''';')
      |  FROM region) t
      |ORDER BY symbol, line""") { (s, d) =>
    val dir = ensureFixtures(s, d)
    Gdx.dump(s, s"$dir/file1.gdx", patterns = "nat,regset")
      .reportSorted("symbol", "line")
  }

  /** gdxdump block mode (SPEC: gdxdump's symbol-block rendering —
    * `Parameter nat(n) "text" /` … records … `/;`): the presentation
    * format a GAMS user diffs against, kept distributed by carrying
    * explicit (rank, key) sort columns instead of a global window —
    * sorting by (symbol, rank, key) reproduces the text in order.
    */
  q("gdx_dump_blocks",
    """SELECT * FROM (
      |  SELECT 'nat' AS symbol, 0 AS rank, '' AS key,
      |         'Parameter nat(n) "nation key by name" /' AS line
      |  UNION ALL
      |  SELECT 'nat', 1, n_name,
      |         '''' || n_name || ''' ' ||
      |         CAST(CAST(n_nationkey AS DECIMAL(18,6)) AS VARCHAR) || ','
      |  FROM nation
      |  UNION ALL SELECT 'nat', 2, '', '/;'
      |  UNION ALL SELECT 'regset', 0, '', 'Set regset(*) /'
      |  UNION ALL
      |  SELECT 'regset', 1, r_name,
      |         '''' || r_name || ''' ''region ' ||
      |         CAST(CAST(r_regionkey AS DOUBLE) AS VARCHAR) || ''','
      |  FROM region
      |  UNION ALL SELECT 'regset', 2, '', '/;') t
      |ORDER BY symbol, rank, key""") { (s, d) =>
    val dir = ensureFixtures(s, d)
    Gdx.dump(s, s"$dir/file1.gdx", patterns = "nat,regset", format = "blocks")
      .reportSorted("symbol", "rank", "key")
  }

  /** gdxdump CSV mode (`gdxdump file symb=nat format=csv`) — the
    * machine-readable export the tool offers alongside the GAMS text
    * renderings; see [[graft.gdx.Gdx.dumpCsv]] for the quoting and
    * ordering contract. Output is symbol-sized → report sort.
    */
  q("gdx_dump_csv",
    """SELECT * FROM (
      |  SELECT 0 AS rn, '' AS key, '"n","Val"' AS line
      |  UNION ALL
      |  SELECT 1, n_name,
      |         '"' || n_name || '",' ||
      |         CAST(CAST(n_nationkey AS DECIMAL(18,6)) AS VARCHAR)
      |  FROM nation) t
      |ORDER BY rn, key""") { (s, d) =>
    val dir = ensureFixtures(s, d)
    Gdx.dumpCsv(s, s"$dir/file1.gdx", "nat").reportSorted("rn", "key")
  }

  /** The gdxpy post-load `.shift()` idiom (the reference materializes
    * symbols to pandas Series and users difference them — GAMS
    * `p(t) - p(t-1)` over an ordered set): one window lag per
    * partition key, label order standing in for set order. One shuffle
    * on the partition dimension; the lag itself is sort-local.
    */
  q("gdx_lag_shift",
    """SELECT dim_1, dim_2, value,
      |       value - lag(value) OVER (PARTITION BY dim_2 ORDER BY dim_1) AS delta
      |FROM (SELECT n.n_name AS dim_1, r.r_name AS dim_2,
      |             CAST(n.n_nationkey AS DOUBLE) AS value
      |      FROM nation n JOIN region r
      |        ON r.r_regionkey = n.n_regionkey % (SELECT count(*) FROM region)) t
      |ORDER BY dim_1, dim_2""") { (s, d) =>
    val dir = ensureFixtures(s, d)
    val w = Window.partitionBy("dim_2").orderBy("dim_1")
    Gdx.symbol(s, s"$dir/file1.gdx", "natreg")
      .select(col("dim_1"), col("dim_2"), col("value"),
        (col("value") - lag("value", 1).over(w)).as("delta"))
      .reportSorted("dim_1", "dim_2")
  }

  // gdxpy reshape: pivot last dim to columns over the 2-dim symbol
  q("gdx_pivot_last_dim",
    """SELECT n_name AS dim_1,
      |       sum(CASE WHEN r = 'AFRICA' THEN k END) AS "AFRICA",
      |       sum(CASE WHEN r = 'AMERICA' THEN k END) AS "AMERICA",
      |       sum(CASE WHEN r = 'ASIA' THEN k END) AS "ASIA",
      |       sum(CASE WHEN r = 'EUROPE' THEN k END) AS "EUROPE",
      |       sum(CASE WHEN r = 'MIDDLE EAST' THEN k END) AS "MIDDLE EAST"
      |FROM (SELECT n.n_name, rg.r_name AS r, CAST(n.n_nationkey AS DOUBLE) AS k
      |      FROM nation n JOIN region rg
      |        ON rg.r_regionkey = n.n_regionkey % (SELECT count(*) FROM region)) t
      |GROUP BY n_name ORDER BY dim_1""") { (s, d) =>
    val dir = ensureFixtures(s, d)
    val wide = Gdx.pivotLastDim(Gdx.symbol(s, s"$dir/file1.gdx", "natreg"))
    wide.select(col("dim_1") +: wide.columns.filter(_ != "dim_1").sorted.toIndexedSeq
        .map(c => col(s"`$c`")): _*)
      .orderBy("dim_1")
  }
}
