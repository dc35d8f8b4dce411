package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

/** Materialized-view ROUTING: serve a grouped aggregate over a keyed
  * table from its registered, FRESH bucketed agg state instead of
  * scanning the base — the reference's compile-and-cache idea
  * (reference: preql/core/evaluate.py:612-638 caches compiled queries)
  * applied to STORAGE, and the same automatic-rewrite contract as a
  * warehouse's materialized views.
  *
  * The registry maps a BASE table dir to its maintained agg states
  * (dir + measures + a base-version WATERMARK), and is DURABLE:
  * registrations persist under `<base>/_mvs/` and load lazily in any
  * later session; the watermark is the pin `txn(<base> → version)`
  * in the state's own manifest. A language group-by over the pristine
  * `read_keyed` snapshot whose keys and aggregates are covered routes
  * onto the state (O(state) rows read, the base's files never open).
  * Routable shapes (r12): the view's exact grain, any KEY-SUBSET grain
  * (every state column is associative, so a coarser group-by is a fold
  * of the finer states — this is also what serves a bucket-grain
  * view's queries), the global `{=> aggs}` fold, and a selection whose
  * predicate touches ONLY grain columns (a group passes or fails
  * wholesale, so filtering state rows equals filtering base rows).
  * Anything not covered — or a STALE view (the base's manifest version
  * moved past the watermark), or a frame PINNED at a different version
  * than the watermark — falls back to the scan plan. Routing never
  * guesses: stale, partial, or type-unroutable views answer from the
  * base.
  *
  * Scale: this is the difference between a dashboard group-by costing
  * O(state) (a few thousand rows) and O(100 TB) — the state is
  * maintained incrementally (`refreshMvIncremental`, cost ∝ changed
  * base buckets), so the full scan is paid ONCE at build, never per
  * query and never per refresh.
  */
object MatView {

  /** The bucket-grain tag column: a view built by `buildMv` tracks one
    * state row per (group, base-bucket) so a base commit can replace
    * exactly the changed buckets' partials (`refreshMvIncremental`).
    * Deliberately NOT `__`-prefixed (state-column dispatch is
    * prefix-driven); collisions with a real base column fail loudly at
    * build.
    */
  val BucketTagCol = "mv__bucket"

  /** A registered view: `mvDir` holds the bucketed agg state
    * (resolve=agg), `baseDir` the keyed table it summarizes,
    * `keys`/`valueCols` its LOGICAL grain (the bucket tag, when
    * present, is carried separately in `bucketTag`), `baseVersion` the
    * base-manifest watermark the state covers (the state's pin, as this
    * session last saw it). The keys come from the
    * STATE's own manifest (never a caller guess). `floatSums` is the
    * caller's declaration that float/double measures hold ≤2-decimal
    * values (money): the state's exact-decimal(28,2) sums then match
    * the scan plan's IEEE sums to the gates' rounding — WITHOUT it,
    * sum/mean over a float/double measure never routes (per-row
    * decimal rounding would lose real precision on e.g. latencies).
    */
  final case class MvDef(mvDir: String, baseDir: String,
                         keys: Seq[String], valueCols: Seq[String],
                         baseVersion: Int,
                         distinctKey: Option[String] = None,
                         aggP: Int = 12,
                         floatSums: Boolean = false,
                         bucketTag: Option[String] = None)

  // in-memory registry — a CACHE of the durable `_mvs` files (plus
  // anything registered this session); loaded once per base per session
  private val reg =
    new java.util.concurrent.ConcurrentHashMap[String, MvDef]()
  private val loadedBases =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** IO-scope record of the last `refreshMvIncremental` on this JVM:
    * (changed base buckets, the base files the re-aggregation actually
    * read). Diagnostics/specs only — the changed-buckets-only contract
    * is asserted against the REAL frame the refresh aggregated.
    */
  @volatile var lastRefreshScan: Option[(Seq[Int], Seq[String])] = None

  private def clean(d: String): String = d.replaceAll("/+$", "")

  private def mvFile(d: MvDef): Path =
    new Path(s"${d.baseDir}/_mvs/${Maintenance.dirName(d.mvDir)}")

  /** The registration file's format stamp; a file without exactly this
    * stamp is not loaded (no route).
    */
  private val RegFormat = 1

  /** Persist a registration under `<base>/_mvs/<dirName(mvDir)>` as
    * JSON (the manifest codec's mapper), stamped `"format": 1`:
    * `mvDir`, `valueCols` (an array), `distinctKey` (omitted when
    * absent), `floatSums`. Grain/p/sample metadata and the watermark
    * live in the STATE's manifest (one source of truth); the file
    * carries only what the state can't know, and its name points
    * `vacuumKeyed` at the state. Written once, at `register`: a
    * routing hint with a fail-safe reader (a torn file just means no
    * route), not a commit point.
    */
  private def persist(spark: SparkSession, d: MvDef): Unit = {
    val p = mvFile(d)
    val fs = Fs.forWrite(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration))
    fs.mkdirs(p.getParent)
    val json = Maintenance.KeyedManifest.json
    val o = json.createObjectNode()
    o.put("format", RegFormat).put("mvDir", d.mvDir)
    val vals = o.putArray("valueCols")
    d.valueCols.foreach(v => vals.add(v))
    d.distinctKey.foreach(k => o.put("distinctKey", k))
    o.put("floatSums", d.floatSums)
    val out = fs.create(p, true)
    try out.write(json.writeValueAsBytes(o)) finally out.close()
  }

  /** Load the durable registrations of `baseDir` into the session
    * cache (once per base per session; in-memory entries win). A dead
    * state dir or unparsable file is skipped — the fail-safe is the
    * scan plan.
    */
  private def ensureLoaded(spark: SparkSession, baseDir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val base = clean(baseDir)
    if (!loadedBases.add(base)) return
    val md = new Path(base, "_mvs")
    val fs = md.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Fs.listOrEmpty(fs, md).foreach { st =>
      try {
        val in = fs.open(st.getPath)
        val o =
          try Maintenance.KeyedManifest.json.readTree(in) finally in.close()
        require(o.path("format").asInt(0) == RegFormat)
        val mv = o.get("mvDir").asText
        val vals = o.get("valueCols").elements().asScala.map(_.asText).toSeq
        val dk = Option(o.get("distinctKey")).map(_.asText)
        val fsum = o.get("floatSums").asBoolean
        val m = Maintenance.readManifest(spark, mv)
        if (m.resolve == "agg" && m.nBuckets > 0) {
          val tag = m.keyCols.find(_ == BucketTagCol)
          val d = MvDef(mv, base, m.keyCols.filterNot(_ == BucketTagCol),
            vals, watermark(m, base), dk, m.aggP, fsum, tag)
          reg.putIfAbsent(mv, d)
        }
      } catch { case _: Exception => () } // unloadable hint: no route
    }
  }

  /** The base version state manifest `m` covers; 0 = unpinned (stale). */
  private def watermark(m: Maintenance.KeyedManifest, baseDir: String): Int =
    m.txn.get(baseDir).fold(0)(_.toInt)

  /** Publish watermark `v` alone as the state's next manifest. */
  private def pin(spark: SparkSession, d: MvDef, v: Int): MvDef = {
    Maintenance.commitPins(spark, d.mvDir)(_ + (d.baseDir -> v.toLong))
    armed(d, v)
  }

  private def armed(d: MvDef, v: Int): MvDef = {
    val nd = d.copy(baseVersion = v)
    reg.put(nd.mvDir, nd)
    nd
  }

  /** Register the agg state at `mvDir` as a materialized view of
    * `baseDir`, watermarked at `baseVersion` (the version the state
    * was built from — read it BEFORE building; defaults to the base's
    * current version for a state built just now in the same thread).
    * An unpinned state gets the pin as its next manifest.
    * Validates against the state's own manifest: it must be a bucketed
    * agg state, and its schema must carry every declared measure's
    * state columns (single measure = the unsuffixed classic names).
    * `floatSums` opts float/double measures into sum/mean routing —
    * see `MvDef`. The registration persists under `<base>/_mvs/`.
    */
  def register(spark: SparkSession, mvDir: String, baseDir: String,
               valueCols: Seq[String],
               distinctKey: Option[String] = None,
               floatSums: Boolean = false,
               baseVersion: Option[Int] = None): MvDef = {
    require(valueCols.nonEmpty, "register: no measure columns")
    val mv = clean(mvDir); val base = clean(baseDir)
    val m = Maintenance.readManifest(spark, mv)
    require(m.resolve == "agg" && m.nBuckets > 0,
      s"$mv is not a bucketed agg state (resolve='${m.resolve}')")
    val cols = m.schema.fieldNames.toSet
    val sfx: String => String =
      c => if (valueCols.length == 1) "" else s"_$c"
    valueCols.foreach(c => require(cols.contains(s"__sum${sfx(c)}"),
      s"$mv does not track measure '$c' (missing __sum${sfx(c)})"))
    // the declared distinct column must actually feed the state's HLL
    // registers — routing approx_count_distinct(c) for a c the
    // registers don't track would be a silent wrong answer
    distinctKey.foreach(_ => require(cols.contains("__regs"),
      s"$mv tracks no HLL registers — build with distinctKey first"))
    val baseV = baseVersion.getOrElse(
      Maintenance.manifestVersions(spark, base).lastOption
        .getOrElse(throw new IllegalArgumentException(
          s"$base has no keyed-table manifest")))
    val tag = m.keyCols.find(_ == BucketTagCol)
    val d = MvDef(mv, base, m.keyCols.filterNot(_ == BucketTagCol),
      valueCols, baseV, distinctKey,
      m.aggP, floatSums, tag)
    persist(spark, d)
    if (watermark(m, base) == baseV) armed(d, baseV) else pin(spark, d, baseV)
  }

  /** ONE-CALL build + register at BUCKET GRAIN: aggregate the base's
    * pinned snapshot per (keys..., base bucket) — the stored `kb` each
    * row was read from — into a bucketed agg state, then register it
    * watermarked at exactly that pinned version (no build-then-
    * watermark window). The bucket tag is what makes
    * `refreshMvIncremental` O(changed base buckets) for ARBITRARY
    * changes (updates and deletes included): a changed bucket's
    * partials are replaced wholesale, no retraction arithmetic needed.
    * Queries still route at the logical grain (any key-subset group-by
    * folds the per-bucket states — associative columns only).
    */
  def buildMv(spark: SparkSession, baseDir: String, mvDir: String,
              keys: Seq[String], valueCols: Seq[String], nBuckets: Int,
              distinctKey: Option[String] = None,
              floatSums: Boolean = false,
              sampleK: Int = 0,
              sampleUnique: Option[String] = None): MvDef = {
    val base = clean(baseDir)
    val v0 = buildState(spark, base, mvDir, keys, Some(BucketTagCol),
      valueCols, nBuckets, distinctKey, 12, sampleK, sampleUnique)
    register(spark, mvDir, base, valueCols, distinctKey, floatSums,
      baseVersion = Some(v0))
  }

  /** Build the state of `base`'s pinned snapshot at `mvDir` and return
    * that pinned version, which the build's commit records as the
    * watermark. A bucket-grain state keys on (`tag`, keys...) and
    * buckets on the tag alone, so a base bucket's partials all sit in
    * one state bucket that `replaceAggStateByTag` finds on the driver.
    */
  private def buildState(spark: SparkSession, base: String, mvDir: String,
                         keys: Seq[String], tag: Option[String],
                         valueCols: Seq[String], nBuckets: Int,
                         distinctKey: Option[String], p: Int, sampleK: Int,
                         sampleUnique: Option[String]): Int = {
    val (rows, v0) = Maintenance.readKeyedPinned(spark, base)
    require(rows.columns.contains("kb"),
      s"$base is not a manifest-keyed table (no kb column)")
    require(tag.forall(!rows.columns.contains(_)),
      s"$base already has a '$BucketTagCol' column — bucket-grain " +
        "views reserve that name")
    val mv = new Path(clean(mvDir))
    mv.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(mv, true)
    Maintenance.writeKeyedInternal(Maintenance.partialAggCols(
        tag.fold(rows)(rows.withColumn(_, F.col("kb"))), tag.toSeq ++ keys,
        valueCols, distinctKey, p, sampleK, sampleUnique),
      mvDir, tag.toSeq ++ keys, nBuckets, Seq.empty, resolve = "agg",
      txn = Map(base -> v0.toLong), aggP = p, aggK = sampleK,
      aggSU = sampleUnique.getOrElse(""), bucketCols = tag.toSeq)
    v0
  }

  /** Re-arm the watermark after the caller merged the base's changes
    * into the state: one manifest publish, no data change. `toVersion`
    * is the base version the merge was COMPUTED against — read it
    * BEFORE the merge and pass it here; a None re-arms at the base's
    * current version, which is only safe when no other writer can
    * commit to the base between the caller's merge and this call
    * (single-maintainer tables).
    */
  def refreshed(spark: SparkSession, mvDir: String,
                toVersion: Option[Int] = None): MvDef = {
    val d = registered(mvDir)
    pin(spark, d, toVersion.getOrElse(
      Maintenance.manifestVersions(spark, d.baseDir).last))
  }

  private def registered(mvDir: String): MvDef = {
    val mv = clean(mvDir)
    Option(reg.get(mv)).getOrElse(throw new IllegalArgumentException(
      s"$mv is not a registered materialized view"))
  }

  /** Make a stale view fresh again in ONE call by REBUILDING the state
    * from the base's pinned current snapshot (the registration + state
    * manifest remember grain, measures, distinct column, bucket/p/
    * sample settings — including the r12-recorded sample GRAIN column,
    * so a row-uniform `__smpr` state rebuilds at its own grain instead
    * of silently flipping to distinct-value sampling) and re-arm the
    * watermark at exactly that pinned version, in the build's commit.
    * O(base) — the incremental path is `refreshMvIncremental` (cost ∝
    * changes).
    */
  def rebuildMv(spark: SparkSession, mvDir: String): MvDef = {
    val d = registered(mvDir)
    val m = Maintenance.readManifest(spark, d.mvDir)
    armed(d, buildState(spark, d.baseDir, d.mvDir, d.keys, d.bucketTag,
      d.valueCols, m.nBuckets, d.distinctKey, m.aggP, m.aggK,
      Option(m.aggSU).filter(_.nonEmpty)))
  }

  /** INCREMENTAL refresh from the base's own change history — one
    * call, cost ∝ the base buckets that changed since the watermark:
    * the two manifests say which buckets moved (zero data IO), and ONE
    * write query re-aggregates the changed buckets' CURRENT rows into
    * per-(group, bucket) partials while `replaceAggStateByTag` swaps
    * exactly those tags' state rows and moves the watermark in the same
    * commit (the watermark alone when no bucket changed; nothing when
    * up to date).
    * Handles upserts, deletes, delta appends, and splits (a split
    * bucket's old tag is condemned, its children's partials land under
    * the new ids). Re-running after a crash replays the SAME replace —
    * idempotent by construction. Falls back to `rebuildMv` when the
    * view's state is not bucketed on its tag, the base re-bootstrapped,
    * or a forced vacuum dropped the watermark manifest (the
    * registration floors the base's vacuum at the watermark).
    */
  def refreshMvIncremental(spark: SparkSession, mvDir: String): MvDef = {
    val d = registered(mvDir)
    val mv = d.mvDir
    val mSt = Maintenance.readManifest(spark, mv)
    val from = watermark(mSt, d.baseDir)
    val head = Maintenance.manifestVersions(spark, d.baseDir).last
    if (head == from) return armed(d, head)
    // a state not bucketed on its tag (no tag, or a layout older than
    // the tag prefix) cannot replace in place: rebuild it
    val tag = d.bucketTag.filter(t => mSt.bucketKey == Seq(t))
      .getOrElse(return rebuildMv(spark, mv))
    val (mFrom, mTo) =
      try (Maintenance.readManifest(spark, d.baseDir, Some(from)),
        Maintenance.readManifest(spark, d.baseDir, Some(head)))
      catch { case _: Exception => return rebuildMv(spark, mv) }
    // a re-bootstrap (key/bucket-count change) re-hashes every row —
    // the per-bucket partials are all stale; rebuild
    if (mFrom.nBuckets != mTo.nBuckets || mFrom.keyCol != mTo.keyCol ||
        mFrom.bucketKey != mTo.bucketKey)
      return rebuildMv(spark, mv)
    val changed = mTo.changedFrom(mFrom)
    if (changed.isEmpty) return pin(spark, d, head)
    val fresh = Maintenance.resolveBuckets(spark, d.baseDir, mTo, changed)
    lastRefreshScan = Some((changed, fresh.inputFiles.toSeq))
    val partial = Maintenance.partialAggCols(
      fresh.withColumn(tag, F.col("kb")),
      d.keys :+ tag, d.valueCols, d.distinctKey,
      mSt.aggP, mSt.aggK,
      Option(mSt.aggSU).filter(_.nonEmpty))
    Maintenance.replaceAggStateByTag(spark, mv, partial, tag, changed,
      txn = Map(d.baseDir -> head.toLong))
    armed(d, head)
  }

  /** The view's FINALIZED rows at its LOGICAL grain (bucket-grain
    * states fold their per-bucket partials first) — what the language
    * faces return.
    */
  def readMv(spark: SparkSession, mvDir: String): DataFrame = {
    val mv = clean(mvDir)
    val m = Maintenance.readManifest(spark, mv)
    val st = Maintenance.resolveBuckets(spark, mv, m, m.liveBuckets())
    val logical = m.keyCols.filterNot(_ == BucketTagCol)
    val folded =
      if (m.keyCols.contains(BucketTagCol))
        Maintenance.aggOfState(st.drop(BucketTagCol), logical,
          m.aggP, m.aggK)
      else st
    Maintenance.finalizeAgg(folded, logical, m.aggP)
  }

  /** Unregister AND delete the durable hint file, which also stops the
    * view flooring the base's vacuum (the state itself stays on disk).
    */
  def unregister(spark: SparkSession, mvDir: String): Unit = {
    val d = Option(reg.remove(clean(mvDir)))
    d.foreach { dd =>
      val p = mvFile(dd)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, false)
    }
  }

  def clear(): Unit = { reg.clear(); loadedBases.clear() }

  /** Every registered view (registry listing, mvDir order). */
  def list(): Seq[MvDef] = {
    import scala.jdk.CollectionConverters._
    reg.values.asScala.toSeq.sortBy(_.mvDir)
  }

  /** The views registered over `baseDir`. */
  def forBase(baseDir: String): Seq[MvDef] = {
    val b = clean(baseDir)
    import scala.jdk.CollectionConverters._
    reg.values.asScala.filter(_.baseDir == b).toSeq.sortBy(_.mvDir)
  }

  /** How far behind its base the view is: base head version −
    * watermark (0 = fresh; the maintain loop's at-a-glance metric).
    */
  def staleness(spark: SparkSession, d: MvDef): Int =
    Maintenance.manifestVersions(spark, d.baseDir).lastOption
      .map(_ - d.baseVersion).getOrElse(0)

  /** Refresh EVERY registered view of `baseDir` in one call — the
    * maintain-loop sweep (incremental per view: cost ∝ each view's
    * changed base buckets; a fresh view no-ops). Loads the durable
    * registry first, so a scheduler in a fresh session sweeps
    * everything that was ever registered, not just this session's.
    */
  def refreshMvs(spark: SparkSession, baseDir: String): Seq[MvDef] = {
    ensureLoaded(spark, baseDir)
    forBase(baseDir).map(d => refreshMvIncremental(spark, d.mvDir))
  }

  /** The operational kill switch: set the session conf
    * `spark.graft.mv.routing=false` to force every query back onto
    * the scan plan without touching registrations — the first thing
    * to flip when triaging a suspected wrong answer.
    */
  private def routingEnabled(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.mv.routing", "true").toBoolean

  /** Try to serve `SELECT keys, aggs FROM read_keyed(baseDir)[filters]
    * GROUP BY keys` from a registered view. `keys` = (output name,
    * base column); `aggs` = (output name, op, measure) with op ∈ count
    * (row count, no measure), countv (non-null count), sum, mean, min,
    * max, adist. `pinnedVersion` is the manifest version the caller's
    * frame resolved at (the read_keyed mark): the view must be
    * watermarked at EXACTLY that version — a base commit after the
    * read must not change which rows the frame aggregates. None (the
    * library face) checks against the base's latest version instead.
    * `filters` may reference ONLY the view's grain columns (checked by
    * analysis against the state's key schema; a group passes or fails
    * wholesale, so the state filter equals the base filter). Returns
    * None — never a wrong answer — when nothing registered is fresh,
    * grain-compatible (requested keys ⊆ view keys), and
    * measure-covering.
    */
  def route(spark: SparkSession, baseDir: String,
            keys: Seq[(String, String)],
            aggs: Seq[(String, String, Option[String])],
            pinnedVersion: Option[Int] = None,
            filters: Seq[Column] = Nil)
      : Option[DataFrame] = {
    if (!routingEnabled(spark)) return None
    val outNames = keys.map(_._1) ++ aggs.map(_._1)
    if (outNames.distinct.length != outNames.length) return None
    if (keys.isEmpty || aggs.isEmpty) return None
    ensureLoaded(spark, baseDir)
    val curBase = pinnedVersion.orElse(
      Maintenance.manifestVersions(spark, clean(baseDir)).lastOption)
      .getOrElse(return None)
    forBase(baseDir).iterator
      .filter(_.baseVersion == curBase) // fresh at the PINNED version
      .filter(d => keys.map(_._2).toSet.subsetOf(d.keys.toSet)) // grain
      .map(d => tryBuild(spark, d, curBase, keys, aggs, filters))
      .collectFirst { case Some(df) => df }
  }

  /** GLOBAL-aggregation route: `SELECT aggs FROM
    * read_keyed(baseDir)[filters]` (no GROUP BY). Any fresh registered
    * view over the base whose grain covers the filter columns serves
    * it — a global aggregate is the fold of the per-key states (every
    * state column is associative). Same coverage and never-a-guess
    * rules as `route`; `approx_count_distinct` folds the registers
    * (`unionState`) before the same estimate, so it stays
    * bit-identical to the scan plan.
    */
  def routeGlobal(spark: SparkSession, baseDir: String,
                  aggs: Seq[(String, String, Option[String])],
                  pinnedVersion: Option[Int] = None,
                  filters: Seq[Column] = Nil)
      : Option[DataFrame] = {
    if (!routingEnabled(spark)) return None
    val outNames = aggs.map(_._1)
    if (aggs.isEmpty || outNames.distinct.length != outNames.length)
      return None
    ensureLoaded(spark, baseDir)
    val curBase = pinnedVersion.orElse(
      Maintenance.manifestVersions(spark, clean(baseDir)).lastOption)
      .getOrElse(return None)
    forBase(baseDir).iterator
      .filter(_.baseVersion == curBase)
      .map(d => tryBuild(spark, d, curBase, Nil, aggs, filters))
      .collectFirst { case Some(df) => df }
  }

  /** `filters` must resolve against the view's GRAIN columns alone and
    * be deterministic — anything else is unanswerable from state rows.
    */
  private def filtersRoutable(st: DataFrame, grain: Seq[String],
                              filters: Seq[Column]): Boolean =
    filters.isEmpty || (try {
      val plan = st.limit(0).select(grain.map(F.col): _*)
        .filter(filters.reduce(_ && _)).queryExecution.analyzed
      plan.expressions.forall(_.deterministic)
    } catch { case _: Exception => false })

  /** None unless the newest state manifest is pinned at `baseV`. */
  private def tryBuild(spark: SparkSession, d: MvDef, baseV: Int,
                       keys: Seq[(String, String)],
                       aggs: Seq[(String, String, Option[String])],
                       filters: Seq[Column])
      : Option[DataFrame] = {
    val m = Maintenance.readManifest(spark, d.mvDir)
    if (watermark(m, d.baseDir) != baseV) return None
    val st0 = Maintenance.resolveBuckets(spark, d.mvDir, m, m.liveBuckets())
    if (!filtersRoutable(st0, d.keys, filters)) return None
    val st = if (filters.isEmpty) st0 else st0.filter(filters.reduce(_ && _))
    val cols = st.columns.toSet
    val sfx: String => String =
      c => if (d.valueCols.length == 1) "" else s"_$c"
    def measure(c: Option[String]): Option[String] =
      c.filter(d.valueCols.contains)
    def measureType(mc: String): Option[DataType] =
      st.schema.fields.find(_.name == s"__min${sfx(mc)}").map(_.dataType)
    // the scan plan's sum(col) keeps integral sums LONG and float sums
    // DOUBLE; the state's exact-decimal __sum casts back losslessly
    // below 2^53 for integrals, and for floats ONLY when the caller
    // declared ≤2-decimal values (floatSums) — otherwise the
    // decimal(28,2) per-row rounding is real precision loss, not ulp
    // noise, so those measures never route (ADVICE r11). Other measure
    // types (decimal scale arithmetic differs) stay unrouted.
    def sumCast(mc: String): Option[DataType] =
      measureType(mc).flatMap {
        case ByteType | ShortType | IntegerType | LongType =>
          Some(LongType)
        case FloatType | DoubleType if d.floatSums => Some(DoubleType)
        case _ => None
      }
    // DecimalType means do NOT route: the scan plan's avg(decimal)
    // returns DecimalType(p+4, s+4) with decimal rounding, while the
    // routed sum/count division is a Double — routing would silently
    // change the result's TYPE, and "routing never guesses" extends to
    // types (ADVICE r12; mirrors sumCast's decimal exclusion).
    def meanOk(mc: String): Boolean = measureType(mc) match {
      case Some(ByteType | ShortType | IntegerType | LongType) => true
      case Some(FloatType | DoubleType) => d.floatSums
      case _ => false
    }
    // exact grain over a group-grain state reads rows DIRECTLY (one
    // state row per group — the original r11 plan shape); a key-subset
    // grain, a bucket-grain state, or a global fold AGGREGATES the
    // state (every column is associative, so the fold is exact —
    // grain-superset routing, r12)
    val direct = d.bucketTag.isEmpty && keys.nonEmpty &&
      keys.map(_._2).toSet == d.keys.toSet
    val mapped: Seq[Option[Column]] = aggs.map {
      case (out, "count", None) =>
        Some(if (direct) F.col("__cnt").as(out)
        // counts coalesce to 0 like the scan plan's count() over an
        // EMPTY table (sum over zero state rows is NULL); grouped
        // routes can't hit this (no rows -> no groups)
        else F.coalesce(F.sum(F.col("__cnt")), F.lit(0L)).as(out))
      case (out, "countv", c) =>
        measure(c).map(mc => if (direct) F.col(s"__cnv${sfx(mc)}").as(out)
          else F.coalesce(F.sum(F.col(s"__cnv${sfx(mc)}")), F.lit(0L))
            .as(out))
      case (out, "sum", c) =>
        measure(c).flatMap(mc => sumCast(mc).map(t =>
          (if (direct) F.col(s"__sum${sfx(mc)}")
           else F.sum(F.col(s"__sum${sfx(mc)}"))).cast(t).as(out)))
      case (out, "mean", c) =>
        // avg(c) divides by the NON-NULL count, __cnv
        measure(c).filter(meanOk)
          .map(mc =>
            (if (direct)
              F.col(s"__sum${sfx(mc)}").cast(DoubleType) /
                F.col(s"__cnv${sfx(mc)}")
            else
              F.sum(F.col(s"__sum${sfx(mc)}")).cast(DoubleType) /
                F.sum(F.col(s"__cnv${sfx(mc)}"))).as(out))
      case (out, "min", c) =>
        measure(c).filter(mc => cols.contains(s"__min${sfx(mc)}"))
          .map(mc => (if (direct) F.col(s"__min${sfx(mc)}")
          else F.min(F.col(s"__min${sfx(mc)}"))).as(out))
      case (out, "max", c) =>
        measure(c).filter(mc => cols.contains(s"__max${sfx(mc)}"))
          .map(mc => (if (direct) F.col(s"__max${sfx(mc)}")
          else F.max(F.col(s"__max${sfx(mc)}"))).as(out))
      case (out, "adist", c) =>
        // approx_count_distinct(c) routes to the state's HLL registers
        // — BIT-IDENTICAL to the scan plan by construction
        // (register-wise max is associative; the estimate is the same
        // scalar over the same registers), but only when c IS the
        // column the registers track and the state was built at the
        // language's p (12)
        c.filter(d.distinctKey.contains).filter(_ => d.aggP == 12)
          .filter(_ => cols.contains("__regs"))
          .map(_ =>
            (if (direct) graft.plans.HllRegs.estimate(F.col("__regs"), d.aggP)
            else graft.plans.HllRegs.estimate(
              graft.plans.HllRegs.unionState(F.col("__regs"), d.aggP),
              d.aggP)).as(out))
      case _ => None
    }
    if (mapped.exists(_.isEmpty)) None
    else if (direct)
      Some(st.select(
        keys.map { case (out, src) => F.col(src).as(out) } ++
          mapped.map(_.get): _*))
    else if (keys.isEmpty)
      Some(st.agg(mapped.head.get, mapped.tail.map(_.get): _*))
    else
      Some(st.groupBy(keys.map { case (out, src) =>
        F.col(src).as(out) }: _*)
        .agg(mapped.head.get, mapped.tail.map(_.get): _*))
  }
}
