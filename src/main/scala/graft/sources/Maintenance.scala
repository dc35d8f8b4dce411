package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{expressions => E}
import org.apache.spark.sql.{functions => F}

/** Table-maintenance operators for parquet datasets at scale —
  * extension surface with no reference counterpart (the reference
  * delegates storage to the target SQL database; a Spark-native engine
  * owns its files and must manage them).
  *
  * Two jobs a 100 TB corpus needs constantly:
  *  - **compaction**: streaming/incremental ingest leaves thousands of
  *    small files per partition; scans then pay one task + one open per
  *    file. Rewriting to ~targetBytes files restores scan efficiency.
  *  - **multi-dimensional clustering (Z-order)**: range queries over
  *    two dimensions can't be served by a sort on either one alone;
  *    interleaving the dimensions' bits into one Z-value and clustering
  *    files by it bounds BOTH dimensions' min/max per file, so a
  *    2-D range predicate touches a handful of files instead of all of
  *    them (the same layout trick Delta's OPTIMIZE ZORDER applies).
  */
object Maintenance {

  /** Total length in bytes of the (recursively listed) files under
    * `dir`, via the Hadoop FileSystem API (works on any FS Spark can
    * read — local, HDFS, S3; see Fs's java.io.File warning).
    */
  def dirBytes(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.getContentSummary(p).getLength
  }

  /** Compact the parquet dataset at `inDir` into exactly `nFiles`
    * files at `outDir`; returns `nFiles`. `coalesce` (not
    * repartition) keeps it shuffle-free: the read tasks are merged,
    * never re-keyed — compaction moves bytes once, through no
    * exchange. Parallelism during the rewrite is capped at the output
    * file count, which is what bounds memory per writer too; at
    * 100 TB you compact per partition-subdirectory (each call is one
    * subdirectory), not the whole table in one job.
    */
  def compactTo(spark: SparkSession, inDir: String, outDir: String,
                nFiles: Int): Int = {
    require(nFiles > 0, s"nFiles must be > 0, got $nFiles")
    spark.read.parquet(inDir).coalesce(nFiles)
      .write.mode("overwrite").parquet(outDir)
    nFiles
  }

  // ---- keyed tables: manifest-committed snapshot upsert / delete ----------
  //
  // Layout (a minimal table FORMAT, not just table ops):
  //   dir/
  //     b00003_g000000001-<pid>x<n>-<attempt>/part.snappy.parquet
  //         immutable bucket-generation dirs, ONE key-sorted file each
  //         (kb kept as a DATA column; d… = a merge-on-read delta)
  //     _manifests/v000000001.json   {"format":1,...,"buckets":{"3":"b00003_g000000001-…",...}}
  //     _manifests/v000000002.json
  //
  // A commit writes NEW bucket-generation dirs in place (invisible to
  // readers: nothing references them yet) and then publishes ONE new
  // manifest file, the only commit point. Readers resolve the latest
  // manifest and scan exactly the dirs it lists, so a reader racing a
  // writer sees either the old or the new COMPLETE snapshot — never a
  // missing bucket. Old snapshots stay readable (time travel) until
  // `vacuumKeyed` garbage-collects their unreferenced dirs. Writers are
  // optimistic: a losing manifest publish-if-absent recomputes against
  // the winner's snapshot and retries. Readers need no coordination.

  /** The key-bucket column of a table with `m`'s layout: md5-derived
    * (portable, never tied to Spark's internal hash), pure per-row — the
    * same layout contract as the persisted IVF/LSH indexes. The hash
    * covers `m.bucketKey`, the key prefix the table buckets on (the
    * whole key unless `bucketCols` says otherwise), so every row of one
    * bucket-key value lives in one bucket.
    *
    * The hash input is the bucket-key components' string casts, a NULL
    * component written as the reserved sentinel `\u0000` and
    * components joined on `\u0001`. On a non-NULL key these are exactly
    * the bytes of `md5(cast(key))` (one column) or of
    * `concat_ws('\u0001', ...)` (composite), so every existing layout
    * stays valid; the sentinel keeps ("a", NULL) distinct from ("a").
    * A component whose string form CONTAINS `\u0000` or `\u0001` is out
    * of contract (it could alias another key); real keys never carry
    * them.
    *
    * NULL keys are legal only where the table's `resolve` says the key
    * is a GROUP: an agg state ("agg") keeps NULL as one group, as SQL's
    * group-by does. A row table's key is a primary key, so a NULL
    * component fails the job with a clear message (without the guard
    * no upsert, delete or lookup could ever match the row: their key
    * matches are equality joins and IN-lists).
    */
  private def kb(m: KeyedManifest): Column =
    if (m.resolve == "agg") bucketOf(m)
    else F.when(m.keyCols.map(c => F.col(c).isNull).reduce(_ || _),
        F.raise_error(F.lit(
          s"keyed table: key column(s) ${m.keyCol} must not be NULL")))
      .otherwise(bucketOf(m))
      .cast(org.apache.spark.sql.types.IntegerType)

  /** `kb` without the NULL-key guard: the bucket of a row's bucket-key
    * columns alone under `m`'s base count and split depths.
    */
  private def bucketOf(m: KeyedManifest): Column = {
    import org.apache.spark.sql.types.{IntegerType, StringType}
    require(m.keyCols.nonEmpty, "keyed table: no key columns")
    val h = graft.ext.TextAnalysis.h60(
      m.bucketKey.map(c => F.coalesce(F.col(c).cast(StringType),
        F.lit("\u0000"))).reduceLeft((a, b) =>
        F.concat(a, F.lit("\u0001"), b)))
    if (m.depths.isEmpty || m.depths.values.forall(_ == 0))
      // the flat layout: the exact pre-r11 expression, byte-for-byte
      F.pmod(h, F.lit(m.nBuckets.toLong)).cast(IntegerType)
    else {
      // extendible-hashing layout (splitKeyed): the leaf for hash h
      // is the unique id in the depth tree with h mod (N·2^d) = id.
      // The fine-to-leaf table is UNROLLED AT PLAN-BUILD TIME into a
      // literal int array (bounded by the split-depth cap), so the
      // per-row cost is one pmod + one array index — no per-row tree
      // walk, and the expression stays codegen-friendly.
      val dmax = m.depths.values.max
      val fineN = m.nBuckets << dmax
      val leafArr = Array.tabulate(fineN)(leafOf(_, m.nBuckets, m.depths,
        dmax))
      F.get(F.lit(leafArr),
        F.pmod(h, F.lit(fineN.toLong)).cast(IntegerType))
    }
  }

  /** The sorted buckets under `m` that hold the bucket-key values in
    * `keys`, a driver-local frame of `m.bucketKey` columns: `bucketOf`
    * evaluated on the driver (a LocalRelation collect runs no job).
    */
  private[graft] def bucketsOf(m: KeyedManifest, keys: DataFrame): Seq[Int] =
    keys.select(bucketOf(m)).collect().map(_.getInt(0)).distinct.sorted.toSeq

  /** The leaf bucket a fine id (h mod N·2^dmax) belongs to: the unique
    * prefix-tree leaf whose (id, depth) matches — descend from the
    * deepest recorded depth; no match at any positive depth means the
    * flat depth-0 leaf (id mod N).
    */
  private def leafOf(fine: Int, n: Int, depths: Map[Int, Int],
                     dmax: Int): Int = {
    var d = dmax
    while (d > 0) {
      val c = fine % (n << d)
      if (depths.getOrElse(c, -1) == d) return c
      d -= 1
    }
    fine % n
  }

  /** One committed snapshot: the decoded `_manifests/v<N>.json`. Keyed
    * tables use every field; commit groups reuse the format with `txn`
    * alone (noted below).
    *  - `version`: the manifest version (from the file name).
    *  - `buckets`: live dir per bucket — the base generation of each
    *    keyed bucket.
    *  - `keyCol`: the key column list, comma-joined (composite keys).
    *  - `bucketCols`: the key PREFIX the bucket hash covers; empty =
    *    the whole key. A search index's postings key on (term, doc_id)
    *    and bucket on term, so a query reads its terms' buckets only.
    *  - `nBuckets`: the base bucket count; 0 = not a keyed table.
    *    Like `keyCol` and `depths` it is LAYOUT TRUTH: a querier
    *    guessing a different count would compute wrong bucket ids and
    *    silently prune away real rows.
    *  - `schemaDdl`: the snapshot schema as Spark DDL (additively
    *    unioned across commits), so reads plan without footer scans and
    *    an emptied snapshot stays self-describing.
    *  - `deltas`: per-bucket ordered MERGE-ON-READ delta dirs; readers
    *    resolve base ⊕ deltas (last-wins, max-seq-wins or
    *    re-aggregation) and compaction folds chains back into bases.
    *  - `rows`: ROW count per referenced dir, from its parquet file's
    *    footer — `keyedStats` and merge planning read the manifest
    *    instead of scanning the table.
    *  - `counters`: named table-wide totals the writer adds at each
    *    commit (`writeKeyed` starts them, `appendDeltaKeyedCols` adds
    *    to them, every other commit carries them forward) — a search
    *    index's corpus stats n_docs and sdl.
    *  - `tsMillis`: the commit wall-clock millis, stamped at publish —
    *    `versionAt` reads it instead of FS mtimes (object-store
    *    "renames" copy and rewrite them).
    *  - `statsCols` + `colStats`: per-dir MIN/MAX zone maps for the
    *    columns declared at writeKeyed time; range and predicate reads
    *    prune whole buckets against them.
    *  - `resolve`: the delta-resolution discipline `resolveBuckets`
    *    applies — empty = last-wins row data, "agg" = the chains hold
    *    aggregate partials and resolution is re-aggregation.
    *  - `txn`: writer-app transaction watermarks (appId → last applied
    *    batch id), carried forward through every commit so the
    *    watermark and the data land in one atomic publish (exactly-once
    *    sinks); commit groups store their pins here (table → version).
    *  - `aggP` / `aggK` / `aggSU`: an agg state's HLL precision, bounded
    *    sample size and sample-grain column, recorded at build time so
    *    reads, merges and rebuilds never trust the caller to repeat
    *    them (0 / -1 / "" on non-agg tables).
    *  - `depths`: per-leaf split depth of the extendible-hashing layout
    *    (`splitKeyed`); a leaf at depth d holds the keys with
    *    h mod (nBuckets·2^d) = leaf id; absent = depth 0.
    *  - `seqCol`: the SEQUENCE column; once set, delta resolution is
    *    max-seq-wins instead of chain-order-wins.
    *
    * Derived, not stored: `chain(b)` is bucket b's delta dirs,
    * `dirsOf(b)` its base generation then its chain, `changedFrom(prev)`
    * the buckets whose generation or chain moved since `prev`, and
    * `liveBuckets` the buckets holding rows — a base generation or a
    * non-empty chain. This is the one definition of "live"; readers
    * pass any bucket selection to the one resolver (`resolveBuckets`),
    * which keeps only the live ones.
    */
  final case class KeyedManifest(version: Int, buckets: Map[Int, String],
                                 keyCol: String = "", nBuckets: Int = 0,
                                 schemaDdl: String = "",
                                 deltas: Map[Int, Seq[String]] = Map.empty,
                                 rows: Map[String, Long] = Map.empty,
                                 tsMillis: Long = 0L,
                                 statsCols: Seq[String] = Seq.empty,
                                 colStats: Map[String, Map[String, (String, String)]] = Map.empty,
                                 resolve: String = "",
                                 txn: Map[String, Long] = Map.empty,
                                 aggP: Int = 0, aggK: Int = -1,
                                 depths: Map[Int, Int] = Map.empty,
                                 aggSU: String = "",
                                 seqCol: String = "",
                                 bucketCols: Seq[String] = Seq.empty,
                                 counters: Map[String, Long] = Map.empty) {
    /** The key as a COLUMN LIST: composite keys store the names
      * comma-joined in `keyCol` (column names in this engine never
      * carry commas — the DDL round-trip would reject them).
      */
    def keyCols: Seq[String] =
      if (keyCol.isEmpty) Seq.empty else keyCol.split(",").toSeq

    /** The columns `kb` hashes: `bucketCols`, or the whole key. */
    def bucketKey: Seq[String] =
      if (bucketCols.isEmpty) keyCols else bucketCols

    /** `schemaDdl` parsed (`fromDDL` runs the full SQL parser): once per
      * instance, and a memoized manifest is one instance per version.
      */
    lazy val schema: org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)

    def chain(b: Int): Seq[String] = deltas.getOrElse(b, Nil)

    def dirsOf(b: Int): Seq[String] = buckets.get(b).toSeq ++ chain(b)

    /** The live buckets among `among` (default: every bucket this
      * manifest names), ascending.
      */
    def liveBuckets(among: Iterable[Int] = buckets.keySet ++ deltas.keySet)
        : Seq[Int] =
      among.filter(b => buckets.contains(b) || chain(b).nonEmpty)
        .toSeq.distinct.sorted

    /** The buckets whose base generation or delta chain differs from
      * `prev`'s, ascending — what a changelog or an incremental refresh
      * between the two snapshots re-reads.
      */
    def changedFrom(prev: KeyedManifest): Seq[Int] =
      (prev.buckets.keySet ++ buckets.keySet ++ prev.deltas.keySet ++
        deltas.keySet)
        .filter(b => prev.buckets.get(b) != buckets.get(b) ||
          prev.chain(b) != chain(b))
        .toSeq.sorted
  }

  /** The on-disk manifest codec: compact JSON stamped `"format": 1`.
    * A field equal to its default is omitted (the manifest is read on
    * every keyed read and counted in stored bytes), and decoding
    * restores the default, so `decode(m.version, encode(m)) == m`.
    * The version lives in the file name, not the body.
    */
  object KeyedManifest {
    val Format = 1

    private[sources] val json = new com.fasterxml.jackson.databind.ObjectMapper()
    private type Node = com.fasterxml.jackson.databind.JsonNode
    private type Obj = com.fasterxml.jackson.databind.node.ObjectNode

    def encode(m: KeyedManifest): String = {
      val o = json.createObjectNode()
      o.put("format", Format)
      def str(k: String, v: String): Unit = if (v.nonEmpty) o.put(k, v)
      def obj[K: Ordering, V](k: String, mp: Map[K, V])
                            (put: (Obj, String, V) => Unit): Unit =
        if (mp.nonEmpty) {
          val n = o.putObject(k)
          mp.toSeq.sortBy(_._1).foreach { case (key, v) =>
            put(n, key.toString, v) }
        }
      def strs(n: com.fasterxml.jackson.databind.node.ArrayNode,
               vs: Seq[String]): Unit = vs.foreach(v => n.add(v))
      str("keyCol", m.keyCol)
      if (m.nBuckets != 0) o.put("nBuckets", m.nBuckets)
      str("schema", m.schemaDdl)
      obj("buckets", m.buckets)((n, k, d) => n.put(k, d))
      obj("deltas", m.deltas)((n, k, ds) => strs(n.putArray(k), ds))
      obj("rows", m.rows)((n, k, v) => n.put(k, v))
      if (m.bucketCols.nonEmpty) strs(o.putArray("bucketCols"), m.bucketCols)
      obj("counters", m.counters)((n, k, v) => n.put(k, v))
      if (m.statsCols.nonEmpty) strs(o.putArray("statsCols"), m.statsCols)
      obj("colstats", m.colStats) { (n, d, cs) =>
        val per = n.putObject(d)
        cs.toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
          per.putArray(c).add(lo).add(hi) }
      }
      str("resolve", m.resolve)
      obj("txn", m.txn)((n, k, v) => n.put(k, v))
      if (m.aggP != 0) o.put("aggP", m.aggP)
      if (m.aggK != -1) o.put("aggK", m.aggK)
      str("aggSU", m.aggSU)
      str("seqCol", m.seqCol)
      obj("depths", m.depths)((n, k, v) => n.put(k, v))
      if (m.tsMillis != 0L) o.put("ts", m.tsMillis)
      json.writeValueAsString(o)
    }

    /** Decode the manifest body of `version`. Refuses (with
      * IllegalArgumentException) anything that is not a JSON object
      * stamped with exactly this codec's format.
      */
    def decode(version: Int, text: String): KeyedManifest = {
      import scala.jdk.CollectionConverters._
      val o =
        try json.readTree(text)
        catch {
          case e: com.fasterxml.jackson.core.JsonProcessingException =>
            throw new IllegalArgumentException(
              s"manifest v$version is not JSON: ${e.getOriginalMessage}")
        }
      if (o == null || !o.isObject)
        throw new IllegalArgumentException(
          s"manifest v$version is not a JSON object")
      val fmt = o.get("format")
      if (fmt == null || !fmt.isInt || fmt.intValue != Format)
        throw new IllegalArgumentException(
          s"manifest v$version has format " +
            s"${Option(fmt).fold("(missing)")(_.toString)}; this engine " +
            s"reads format $Format only")
      def str(k: String): String = Option(o.get(k)).fold("")(_.asText)
      def int(k: String, dflt: Int): Int = Option(o.get(k)).fold(dflt)(_.asInt)
      def fields(n: Node): Seq[(String, Node)] =
        if (n == null) Nil
        else n.properties().asScala.toSeq.map(e => e.getKey -> e.getValue)
      def obj[K, V](k: String)(key: String => K, v: Node => V): Map[K, V] =
        fields(o.get(k)).map { case (fk, fv) => key(fk) -> v(fv) }.toMap
      def strs(n: Node): Seq[String] = n.elements().asScala.map(_.asText).toSeq
      KeyedManifest(version,
        buckets = obj("buckets")(_.toInt, _.asText),
        keyCol = str("keyCol"),
        nBuckets = int("nBuckets", 0),
        schemaDdl = str("schema"),
        deltas = obj("deltas")(_.toInt, strs),
        rows = obj("rows")(identity, _.asLong),
        tsMillis = Option(o.get("ts")).fold(0L)(_.asLong),
        statsCols = Option(o.get("statsCols")).fold(Seq.empty[String])(strs),
        colStats = obj("colstats")(identity, per => fields(per).map {
          case (c, lh) => c -> (lh.get(0).asText, lh.get(1).asText)
        }.toMap),
        resolve = str("resolve"),
        txn = obj("txn")(identity, _.asLong),
        aggP = int("aggP", 0),
        aggK = int("aggK", -1),
        depths = obj("depths")(_.toInt, _.asInt),
        aggSU = str("aggSU"),
        seqCol = str("seqCol"),
        bucketCols = Option(o.get("bucketCols")).fold(Seq.empty[String])(strs),
        counters = obj("counters")(identity, _.asLong))
    }
  }

  private def cleanDir(dir: String): String = dir.replaceAll("/+$", "")

  private def hadoopFs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(clean: String) = new Path(clean, "_manifests")

  /** Thrown when a concurrent writer committed the manifest version
    * this commit was built against — the optimistic-concurrency
    * signal. upsert/delete/merge catch it and recompute against the
    * fresh snapshot; callers driving commits manually should too.
    */
  final class CommitConflict(msg: String) extends RuntimeException(msg)

  private val stageCounter = new java.util.concurrent.atomic.AtomicLong()

  /** The WRITER-UNIQUE suffix of generation dirs and manifest temps:
    * two writers of the same version never share a path, so the atomic
    * manifest publish is the ONLY contention point.
    */
  private def uniqueSuffix(): String =
    s"${ProcessHandle.current().pid()}x${stageCounter.incrementAndGet()}"

  private val ManifestName = """v(\d{9})\.json""".r
  /** Union two snapshot schemas field-by-name (additive evolution:
    * the recorded schema only ever grows; types never change — a batch
    * retyping an existing column FAILS here, loudly, instead of the
    * recorded schema silently disagreeing with the data files).
    */
  private def unionSchema(a: org.apache.spark.sql.types.StructType,
                          b: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val have = a.fields.map(f => f.name -> f.dataType).toMap
    // compare up to NULLABILITY: the recorded schema round-trips
    // through DDL, which drops array/struct element nullability (a
    // fresh plan's containsNull=false array is the SAME type)
    b.fields.foreach(f => have.get(f.name).foreach(t =>
      require(t.catalogString == f.dataType.catalogString,
        s"column '${f.name}' is $t in the table but ${f.dataType} in " +
          "the batch — types never change; rewrite the table to retype")))
    org.apache.spark.sql.types.StructType(
      a.fields ++ b.fields.filterNot(f => have.contains(f.name)))
  }

  /** All committed manifest versions at `dir`, ascending. */
  def manifestVersions(spark: SparkSession, dir: String): Seq[Int] = {
    val md = manifestDir(cleanDir(dir))
    Fs.listOrEmpty(hadoopFs(spark, md), md).map(_.getPath.getName).collect {
      case ManifestName(v) => v.toInt
    }.sorted
  }

  /** Resolve the manifest at `version` (latest when None). */
  def readManifest(spark: SparkSession, dir: String,
                   version: Option[Int] = None): KeyedManifest = {
    val clean = cleanDir(dir)
    val versions = manifestVersions(spark, dir)
    require(versions.nonEmpty, s"no keyed-table manifest under $clean")
    val v = version.getOrElse(versions.last)
    require(versions.contains(v),
      s"manifest version $v not found under $clean (have $versions)")
    tryReadManifest(spark, clean, v).getOrElse(throw new IllegalArgumentException(
      s"manifest version $v of $clean disappeared mid-read (vacuumed?)"))
  }

  /** Parsed-manifest memo. Manifest FILES are write-once (the publish
    * is rename/hard-link-if-absent), but a vacuumed-then-recreated
    * table reuses version NUMBERS — so the key is the file's identity
    * (`Fs.fileId`: path, mtime, length), never just its path: a
    * recreated v1 parses fresh instead of serving the dead table's
    * entry. The payoff is every repeated read/merge/poll of the same
    * snapshot: manifests carry rows/colstats/txn on every commit, and
    * the re-open + re-decode per readManifest call was measurable on
    * delta-heavy paths (ql51/x98).
    */
  private val manifestCache = new MetaCache[KeyedManifest]()

  /** Open + parse one manifest by version WITHOUT a directory listing;
    * None when the file is gone (a racing vacuum between a version
    * listing and this read degrades to a skip, not a crash).
    */
  private def tryReadManifest(spark: SparkSession, clean: String,
                              v: Int): Option[KeyedManifest] = {
    val p = new Path(manifestDir(clean), f"v$v%09d.json")
    val fs = hadoopFs(spark, p)
    try {
      val st = fs.getFileStatus(p)
      Some(manifestCache.getOrLoad(Fs.fileId(st)) {
        val in = fs.open(p)
        val txt =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        try KeyedManifest.decode(v, txt)
        catch {
          case e: IllegalArgumentException =>
            throw new IllegalArgumentException(s"$p: ${e.getMessage}", e)
        }
      })
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** The newest manifest at `dir` from one listing; None when `dir`
    * has none.
    */
  private[graft] def newestManifest(spark: SparkSession, dir: String)
      : Option[KeyedManifest] =
    manifestVersions(spark, dir).lastOption
      .flatMap(tryReadManifest(spark, cleanDir(dir), _))

  /** Publish a manifest: write to a dot-temp in `_manifests`, then
    * publish it as `v<N>.json` through `Fs.publishIfAbsent`. That
    * publish IS the commit point — everything else a commit did is
    * invisible until it — and because it fails when the version
    * exists, a concurrent writer racing to the same version loses
    * cleanly: the loser gets a CommitConflict and retries against the
    * fresh snapshot (optimistic concurrency, Delta-style). The commit
    * wall-clock `ts` is stamped here.
    */
  private def writeManifest(spark: SparkSession, clean: String,
                            m: KeyedManifest): Unit = {
    val md = manifestDir(clean)
    val fs = Fs.forWrite(hadoopFs(spark, md))
    fs.mkdirs(md)
    val body = KeyedManifest.encode(
      m.copy(tsMillis = System.currentTimeMillis()))
    val tmp = new Path(md,
      s".tmp_v${m.version}_${uniqueSuffix()}")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    if (!Fs.publishIfAbsent(fs, tmp, new Path(md, f"v${m.version}%09d.json")))
      throw new CommitConflict(
        s"version ${m.version} of $clean was committed by a concurrent " +
          "writer; recompute against the fresh snapshot and retry")
  }

  /** Optimistic-concurrency retry: re-run `body` (which must re-read
    * the manifest each attempt) until its commit wins or `attempts`
    * conflicts pass through. Staged dirs of losing attempts are
    * unreferenced and reclaimed by vacuum. Every conflict round has a
    * winner, so N contending writers each need at most ~N×(their
    * queue) attempts — the default bounds a realistic writer pool,
    * and the jittered backoff de-synchronizes retriers so the same
    * two writers stop losing to each other in lockstep.
    */
  private def withCommitRetry[T](what: String, attempts: Int = 20)
                                (body: => T): T = {
    var i = 1
    while (true) {
      try return body
      catch {
        case c: CommitConflict =>
          if (i >= attempts)
            throw new CommitConflict(
              s"$what lost $attempts optimistic-commit races: ${c.getMessage}")
          Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
            .nextLong(20L + 30L * math.min(i, 10)))
          i += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The newest manifest version whose COMMIT TIME is ≤ `tsMillis`:
    * timestamp-based time travel, `readKeyed(dir, Some(versionAt(…)))`.
    * The commit time is the `ts` the manifest BODY records at publish
    * (FS-independent — object-store "renames" copy and rewrite mtime).
    * A manifest a concurrent vacuum deletes between the listing and the
    * read is skipped (it was a dropped version anyway); errors when no
    * snapshot existed yet at that time.
    */
  def versionAt(spark: SparkSession, dir: String, tsMillis: Long): Int = {
    val clean = cleanDir(dir)
    val at = manifestVersions(spark, dir).filter(v =>
      tryReadManifest(spark, clean, v).exists(_.tsMillis <= tsMillis))
    require(at.nonEmpty,
      s"no snapshot of $clean existed at $tsMillis (oldest retained " +
        s"commit is newer — vacuumed, or the table is younger)")
    at.last
  }

  /** Read the keyed table's snapshot at `version` (latest when None).
    * Scans exactly the bucket dirs the manifest lists; `kb` is a data
    * column in the files. Buckets with merge-on-read delta chains are
    * resolved by the table's discipline — last-wins, or re-aggregation
    * for an agg state (see `resolveBuckets`); buckets without deltas
    * read straight through with NO resolution shuffle.
    */
  def readKeyed(spark: SparkSession, dir: String,
                version: Option[Int] = None): DataFrame =
    readSnapshot(spark, dir, version)._1

  /** The pristine latest snapshot AND the manifest version it resolved
    * at — ONE manifest read, so the returned pin can never disagree
    * with the data (a separate version listing could race a concurrent
    * commit). The language's `read_keyed` face records this version in
    * the frame's keyed mark; MV routing then requires the registered
    * watermark to equal the PINNED version, not whatever the latest
    * manifest happens to be at query time (a post-read base commit
    * must not change which ROWS the already-read frame aggregates).
    */
  def readKeyedPinned(spark: SparkSession, dir: String): (DataFrame, Int) =
    readSnapshot(spark, dir, None)

  private def readSnapshot(spark: SparkSession, dir: String,
                           version: Option[Int]): (DataFrame, Int) = {
    val m = readManifest(spark, dir, version)
    (resolveBuckets(spark, dir, m, m.liveBuckets()), m.version)
  }

  /** Range read with ZONE-MAP pruning: the rows where
    * `lo <= colName <= hi`, reading only the buckets whose manifest
    * min/max stats (recorded at commit time for `statsCols` — see
    * `writeKeyed`) can intersect the range — Iceberg/Delta-style data
    * skipping on NON-key predicates, planned entirely from the
    * manifest (zero data IO for skipped buckets).
    *
    * Pruning is at BUCKET granularity, deliberately: inside a
    * delta-carrying bucket the last-wins resolution must see every
    * chain level (a delta may move a key's value OUT of the range —
    * per-dir pruning would resurrect the superseded base row), so a
    * bucket is skipped only when NONE of its dirs can hold a matching
    * row — then no version of any key matches, and the winner can't
    * either. The row filter itself applies AFTER resolution for the
    * same reason. Dirs without recorded stats for the column are
    * unprunable (never a guess).
    */
  def readKeyedRange(spark: SparkSession, dir: String, colName: String,
                     lo: Any, hi: Any,
                     version: Option[Int] = None): DataFrame = {
    val m = readManifest(spark, dir, version)
    // the caller's exact column and probes, never a re-analyzed
    // predicate: a Double probe on a Long column analyzes to a cast on
    // the ATTRIBUTE side, which readKeyedWhere rightly refuses to prune
    val kept = zonePrune(m, m.liveBuckets(),
      Seq(colName -> Seq((Some(lo), Some(hi)))))
    resolveBuckets(spark, dir, m, kept)
      .filter(F.col(colName) >= F.lit(lo) && F.col(colName) <= F.lit(hi))
  }

  /** Predicate-planned read — the scan-planning surface Delta/Iceberg
    * run inside their DSv2 scan builders, as a function: prune buckets
    * from `cond`'s OWN STRUCTURE, then apply the full predicate after
    * resolution.
    *  - Key-pinning conjuncts (`k = 5`, `k IN (…)`, an OR-chain of
    *    equalities; for composite keys an equality per component)
    *    delegate to `lookupKeyed`'s point-read: only the keys' buckets
    *    are scanned and the IN-list pushes into every chain level.
    *  - Range conjuncts (`ranges`) on zone-mapped columns skip buckets
    *    via the manifest stats at BUCKET granularity — the same
    *    delta-safety rule as `readKeyedRange`.
    *  - Unrecognized predicate shapes (e.g. a CROSS-column OR) prune
    *    nothing and filter everything: pruning is never a guess.
    */
  def readKeyedWhere(spark: SparkSession, dir: String, cond: Column,
                     version: Option[Int] = None): DataFrame = {
    val m = readManifest(spark, dir, version)
    val cs = analyzedConjuncts(spark, m, cond)
    // a PINNED version threads through to the point read: a base
    // commit after the caller's read_keyed must not change the frame's
    // rows (the KeyedMark contract)
    pinnedKeys(m, cs) match {
      case Some(ks) => lookupKeyed(spark, dir, ks, version).filter(cond)
      case None =>
        val zone = cs.flatMap(ranges(_)).flatMap { case (n, rs) =>
          m.statsCols.find(_.equalsIgnoreCase(n)).map(real => (real, rs))
        }
        resolveBuckets(spark, dir, m, zonePrune(m, m.liveBuckets(), zone))
          .filter(cond)
    }
  }

  /** `cond` resolved against `m`'s snapshot schema, as its conjuncts:
    * the condition of a filter over the EMPTY snapshot (zero IO) —
    * attribute names case-normalized, literal-side casts explicit. An
    * unanalyzable predicate has no conjuncts (it prunes nothing).
    */
  private def analyzedConjuncts(spark: SparkSession, m: KeyedManifest,
                                cond: Column): Seq[E.Expression] = {
    def conjuncts(e: E.Expression): Seq[E.Expression] = e match {
      case E.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    scala.util.Try {
      emptySnapshot(spark, m).filter(cond)
        .queryExecution.analyzed.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            f.condition
        }
    }.toOption.flatten.map(conjuncts).getOrElse(Seq.empty)
  }

  /** The key tuples the conjuncts `cs` pin: point ranges of a
    * one-column key (`k = 5`, `k IN (…)`, an OR-chain of equalities);
    * an equality per component of a composite key. None when they pin
    * no key, or more than 1000 (a 100k-element IN-list would explode
    * the pushed predicate and the probe frame; past the cap the
    * scan+filter path is the better plan anyway).
    */
  private def pinnedKeys(m: KeyedManifest, cs: Seq[E.Expression])
      : Option[Seq[Any]] = {
    val keyCols = m.keyCols
    val keyTuples: Option[Seq[Any]] =
      if (keyCols.length == 1)
        cs.flatMap(ranges(_)).collectFirst {
          case (n, rs) if n.equalsIgnoreCase(keyCols.head) &&
              rs.forall { case (lo, hi) => lo.isDefined && lo == hi } =>
            rs.map(_._1.get)
        }
      else if (keyCols.nonEmpty) {
        val eqs = cs.flatMap(eqPin(_))
          .groupBy(_._1.toLowerCase).map { case (k, v) => k -> v.head._2 }
        if (keyCols.forall(k => eqs.contains(k.toLowerCase)))
          Some(Seq(keyCols.map(k => eqs(k.toLowerCase))))
        else None
      } else None
    keyTuples.filter(ks => ks.nonEmpty && ks.length <= 1000)
  }

  /** A conjunct reduced to a DISJUNCTION of [lo, hi] ranges on ONE
    * column (None = unbounded; conservatively inclusive — strict bounds
    * keep a touching bucket, never drop one): comparisons and
    * equalities give one range, `BETWEEN` arrives as two conjuncts
    * (Column.between analyzes to >= AND <=), an IN-list gives a point
    * range per element, and OR combines same-column disjuncts
    * recursively — so `v IN (…)`, `v < a OR v > b`, and OR-chains of
    * equalities all prune. A cross-column OR (or any unrecognized
    * disjunct) leaves the whole conjunct unrecognized: it prunes
    * nothing (never a guess).
    */
  private def ranges(e: E.Expression)
      : Option[(String, Seq[(Option[Any], Option[Any])])] = e match {
    case E.Or(l, r) =>
      for {
        (nl, rl) <- ranges(l)
        (nr, rr) <- ranges(r)
        if nl.equalsIgnoreCase(nr)
      } yield (nl, rl ++ rr)
    case E.In(a, vs) if attrName(a).isDefined &&
        vs.nonEmpty && vs.forall(litVal(_).isDefined) =>
      // a NULL element matches no rows, so it contributes no range
      // (an all-NULL list leaves zero ranges → every bucket prunes,
      // which is exactly `col IN (NULL)`'s empty answer)
      Some((attrName(a).get,
        vs.map(litVal(_).get).filter(_ != null)
          .map(v => (Some(v), Some(v)))))
    case c @ (_: E.GreaterThan | _: E.GreaterThanOrEqual | _: E.LessThan |
              _: E.LessThanOrEqual) =>
      val b = c.asInstanceOf[E.BinaryComparison]
      val lower = b.isInstanceOf[E.GreaterThan] ||
        b.isInstanceOf[E.GreaterThanOrEqual]
      // `k > v` and `v < k` both bound k from below
      attrLit(b.left, b.right).map { case (n, v, litLeft) =>
        (n, Seq(if (lower != litLeft) (Some(v), None) else (None, Some(v))))
      }
    case _ => eqPin(e).map { case (n, v) => (n, Seq((Some(v), Some(v)))) }
  }

  private def attrName(e: E.Expression): Option[String] = {
    import org.apache.spark.sql.types._
    def integral(t: DataType) = t match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    e match {
      case a: E.Attribute => Some(a.name)
      // the analyzer wraps BOTH comparison sides in casts to the
      // common type (isin puts a no-op cast on the column itself);
      // identity and integral-widening casts preserve equality and
      // order against a coerced probe, so they are safe to see
      // through — anything else (string/float reinterpretations)
      // changes semantics and prunes nothing
      case c: E.Cast if c.child.dataType == c.dataType ||
          (integral(c.child.dataType) && integral(c.dataType)) =>
        attrName(c.child)
      case _ => None
    }
  }

  private def litVal(e: E.Expression): Option[Any] = e match {
    case l: E.Literal =>
      Some(org.apache.spark.sql.catalyst.CatalystTypeConverters
        .convertToScala(l.value, l.dataType))
    // analysis casts the LITERAL side to the column's type (an int
    // probe against a bigint key) — the original value compares fine
    // (lookupKeyed coerces widenings; zone compares are numeric-
    // string based). A cast on the ATTRIBUTE side is NOT looked
    // through: that changes comparison semantics, so prune nothing.
    case c: E.Cast => litVal(c.child)
    case _ => None
  }

  /** (column, literal, whether the literal is the LEFT side) of a
    * comparison of a column with a literal, in either order.
    */
  private def attrLit(l: E.Expression, r: E.Expression)
      : Option[(String, Any, Boolean)] =
    (for (n <- attrName(l); v <- litVal(r)) yield (n, v, false))
      .orElse(for (n <- attrName(r); v <- litVal(l)) yield (n, v, true))

  // = and <=> both pin (the language's `==` is null-safe); a NULL
  // literal pins nothing (keys are non-null by construction, and
  // `col = NULL` matches no rows anyway) — conservative, not wrong
  private def eqPin(e: E.Expression): Option[(String, Any)] = (e match {
    case E.EqualTo(l, r) => attrLit(l, r)
    case E.EqualNullSafe(l, r) => attrLit(l, r)
    case _ => None
  }).collect { case (n, v, _) if v != null => (n, v) }

  /** The zone-map pruner behind `readKeyedRange` and `readKeyedWhere`:
    * the buckets among `buckets` that the manifest's min/max stats
    * cannot rule out. `zone` is a list of (column, disjunct ranges)
    * conjuncts; a bucket is kept iff, for EVERY conjunct, SOME of its
    * dirs can intersect SOME of the ranges (bucket granularity — see
    * `readKeyedRange`). A dir without stats for the column, or a column
    * of unknown type, is unprunable.
    */
  private def zonePrune(m: KeyedManifest, buckets: Seq[Int],
                        zone: Seq[(String, Seq[(Option[Any], Option[Any])])])
      : Seq[Int] = {
    val types = m.schema.fields
      .map(f => f.name -> f.dataType).toMap
    buckets.filter { b =>
      zone.forall { case (n, rs) =>
        m.dirsOf(b).exists { d =>
          (types.get(n), m.colStats.get(d).flatMap(_.get(n))) match {
            case (Some(t), Some((mn, mx))) =>
              rs.exists { case (lo, hi) =>
                statOverlapBounds(t, mn, mx, lo, hi) }
            case _ => true
          }
        }
      }
    }
  }

  /** Can [lo, hi] intersect a dir whose recorded stats are [mnS, mxS]?
    * None = unbounded on that side. Overlap requires mn ≤ hi and
    * mx ≥ lo — each check skipped for an open bound. The strings decode
    * by the column's SPARK type (mirroring `statEncode`'s parquet-value
    * forms); unknown types or undecodable comparisons answer true
    * (unprunable — pruning must never be a guess).
    */
  private def statOverlapBounds(dt: org.apache.spark.sql.types.DataType,
                                mnS: String, mxS: String,
                                lo: Option[Any], hi: Option[Any])
      : Boolean = {
    import org.apache.spark.sql.types._
    def micros(v: Any): Option[Long] = v match {
      case t: java.sql.Timestamp =>
        Some(t.getTime / 1000 * 1000000L + t.getNanos / 1000L)
      case i: java.time.Instant =>
        Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
      case _ => None
    }
    def days(v: Any): Option[Long] = v match {
      case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
      case d: java.time.LocalDate => Some(d.toEpochDay)
      case _ => None
    }
    // sign of (statValue - probe), None when undecodable
    def cmp(statS: String, probe: Any): Option[Int] =
      try dt match {
        case StringType => Some(statS.compareTo(probe.toString))
        case ByteType | ShortType | IntegerType | LongType
             | FloatType | DoubleType =>
          Some(BigDecimal(statS).compare(BigDecimal(probe.toString)))
        case DateType => days(probe).map(p => statS.toLong.compareTo(p))
        case TimestampType =>
          micros(probe).map(p => statS.toLong.compareTo(p))
        case _ => None
      } catch { case _: NumberFormatException => None }
    hi.forall(h => cmp(mnS, h).forall(_ <= 0)) &&
      lo.forall(l => cmp(mxS, l).forall(_ >= 0))
  }

  /** The schema every read of `m` returns: the recorded snapshot
    * schema (plus `__tomb` for delta levels), every field nullable like
    * parquet inference (file-source columns are always nullable on
    * read; `asNullable` is private[spark], and fromDDL already made
    * nested levels nullable). An emptied table therefore reads back
    * with the same schema as a non-empty read of it, even when the
    * DDL recorded `NOT NULL` fields.
    */
  private def readSchema(m: KeyedManifest, withTomb: Boolean)
      : org.apache.spark.sql.types.StructType = {
    val base = m.schema
    val sch =
      if (withTomb && !base.fieldNames.contains("__tomb"))
        base.add("__tomb", org.apache.spark.sql.types.BooleanType)
      else base
    org.apache.spark.sql.types.StructType(
      sch.fields.map(_.copy(nullable = true)))
  }

  /** A fully-emptied table is a legal snapshot: an EMPTY frame with
    * the schema the manifest records (self-describing, so this
    * survives vacuuming every prior generation).
    */
  private def emptySnapshot(spark: SparkSession,
                            m: KeyedManifest): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      readSchema(m, withTomb = false))

  /** Parquet read of generation/delta dirs with the manifest's OWN
    * recorded schema instead of `mergeSchema` footer inference: every
    * commit records the additively-unioned snapshot schema, so
    * re-deriving it from file footers would launch one schema-merge
    * Spark job per read for information the manifest already holds.
    * Dirs missing a newer column surface it as NULL exactly as the
    * mergeSchema read did.
    */
  private def readGenDirs(spark: SparkSession, clean: String,
                          m: KeyedManifest, dirs: Seq[String],
                          withTomb: Boolean): DataFrame =
    spark.read.schema(readSchema(m, withTomb))
      .parquet(dirs.sorted.map(d => s"$clean/$d"): _*)

  /** The CHAIN LEVELS of `buckets` under `m`, one frame per non-empty
    * level: level 0 is the buckets' base generations (a bucket born
    * from a pure delta insert has none), level i every bucket's i-th
    * delta. Each level reads through `readGenDirs` — delta levels
    * (i >= 1) always carry `__tomb` in their files, which the recorded
    * snapshot schema deliberately drops, so it is added back for them
    * only — and is tagged `__prec = i`. The one place chain levels are
    * built; `resolveBuckets` and `keyedChangesOnePass` each aggregate
    * them their own way.
    */
  private def chainLevels(spark: SparkSession, clean: String,
                          m: KeyedManifest,
                          buckets: Seq[Int]): Seq[DataFrame] = {
    val maxChain = (0 +: buckets.map(m.chain(_).length)).max
    (0 to maxChain).flatMap { i =>
      val dirs =
        if (i == 0) buckets.flatMap(m.buckets.get)
        else buckets.flatMap(m.chain(_).lift(i - 1))
      if (dirs.isEmpty) None
      else Some(readGenDirs(spark, clean, m, dirs, withTomb = i >= 1)
        .withColumn("__prec", F.lit(i)))
    }
  }

  /** The live rows of `buckets` under manifest `m`: plain buckets read
    * straight from their generation dir; buckets carrying a delta
    * chain resolve LAST-WINS per key — precedence 0 is the base
    * generation, precedence i the i-th delta, the highest precedence
    * row wins, and a winning tombstone (`__tomb`) removes the key.
    * The resolution window shuffles ONLY the delta-carrying buckets'
    * rows (a same-bucket chain never spans buckets, so the per-key
    * window is correct across the multi-bucket union); `keyFilter`
    * (point lookups) pushes into every level's parquet scan BEFORE
    * the window. Levels union by name so delta batches may carry
    * additive schema changes like any merge.
    *
    * An agg state (`m.resolve == "agg"`) resolves its delta-carrying
    * buckets by RE-AGGREGATION instead: its chains hold aggregate
    * partials, every state column is associative, so the per-key fold
    * of base ⊕ chain (`aggOfState` at the build's recorded `aggP` /
    * `aggK`) IS the merge, bit for bit in any order; `kb` is recomputed
    * on the folded rows.
    *
    * The one place a manifest and a bucket selection turn into rows:
    * callers pass any selection straight through — buckets that are
    * not live are skipped, and a selection with no live bucket reads as
    * the empty snapshot.
    */
  private[graft] def resolveBuckets(spark: SparkSession, dir: String,
                                    m: KeyedManifest, buckets: Seq[Int],
                                    keyFilter: Option[Column] = None)
      : DataFrame = {
    val clean = cleanDir(dir)
    val (deltaB, plainB) =
      m.liveBuckets(buckets).partition(m.chain(_).nonEmpty)
    def filtered(df: DataFrame): DataFrame = keyFilter.fold(df)(df.filter)
    val plain = plainB.flatMap(m.buckets.get) match {
      case Nil => None
      case dirs => Some(filtered(
        readGenDirs(spark, clean, m, dirs, withTomb = false)))
    }
    val resolved =
      if (deltaB.isEmpty) None
      else if (m.resolve == "agg") {
        val raw = readGenDirs(spark, clean, m, deltaB.flatMap(m.dirsOf),
          withTomb = true)
        Some(aggOfState(filtered(raw).drop("kb", "__tomb"), m.keyCols,
          m.aggP, m.aggK).withColumn("kb", kb(m)))
      } else {
        val un = chainLevels(spark, clean, m, deltaB).map(filtered)
          .reduce(_.unionByName(_, allowMissingColumns = true))
        // chain-order-wins by default; a table with a registered
        // SEQUENCE column resolves max-seq-wins (ties break by chain
        // order) — the out-of-order CDC contract: a late-arriving old
        // event can never overwrite a newer stored row.
        // ARGMAX aggregate, not a row_number window (r15): the window
        // had to SORT every key partition by (seq, prec) to number
        // rows it then discarded, and got no map-side reduction; the
        // native top-row aggregate keeps one winner per key (bounded
        // state), reduces partials before the exchange, and plans
        // with no Sort. Interpreted struct ordering puts a NULL seq
        // below any stamped one — exactly the window's
        // desc_nulls_last. (seq, prec) is unique per key (the
        // unique-keys-per-level guard), so there are no ties.
        val ord =
          if (m.seqCol.nonEmpty && un.columns.contains(m.seqCol))
            F.struct(F.col(m.seqCol), F.col("__prec"))
          else F.col("__prec")
        val top = un.groupBy(m.keyCols.map(F.col): _*)
          .agg(graft.plans.TopRow.topRow(spark,
            ord, F.struct(un.columns.map(F.col): _*)).as("__win"))
          .select(F.col("__win.*"))
        val alive =
          if (un.columns.contains("__tomb"))
            top.filter(!F.coalesce(F.col("__tomb"), F.lit(false)))
          else top
        Some(alive.drop("__prec", "__tomb"))
      }
    (plain ++ resolved).reduceOption(
      _.unionByName(_, allowMissingColumns = true))
      .getOrElse(emptySnapshot(spark, m))
  }

  /** Write `df` as a KEYED table: hash-bucketed into `nBuckets` dirs on
    * `kb = h60(key) mod nBuckets`, committed as manifest v1. The layout
    * is what makes `upsertKeyed`/`deleteKeyed` proportional to the
    * BATCH, not the table: a change batch touches only the buckets its
    * keys hash into, and the merge job reads exactly those dirs via the
    * manifest (path-level pruning — the untouched 99.x% of a 100 TB
    * table contributes zero IO, not even footer reads). Size nBuckets
    * so one bucket ≈ one comfortable rewrite (e.g. 100 TB / 10k buckets
    * = 10 GB merges).
    */
  def writeKeyed(df: DataFrame, dir: String, keyCol: String,
                 nBuckets: Int): Unit =
    writeKeyed(df, dir, Seq(keyCol), nBuckets)

  /** COMPOSITE-key variant (real CDC feeds key on (tenant, id) pairs):
    * the bucket hash joins the components' string casts (see `kb`),
    * the manifest records the column list, and every downstream face —
    * merge/delta/lookup/changes/CDC — keys on the full tuple.
    * `statsCols` declares the zone-map column list: each commit then
    * records per-dir MIN/MAX for them (from the same footer pass that
    * counts rows) and `readKeyedRange` prunes against range predicates.
    * `bucketCols`, a prefix of `keyCols`, buckets on that prefix only
    * (empty = the whole key). `counters` is read after the write job
    * and recorded as the table's starting `counters`.
    */
  def writeKeyed(df: DataFrame, dir: String, keyCols: Seq[String],
                 nBuckets: Int, statsCols: Seq[String] = Seq.empty,
                 bucketCols: Seq[String] = Seq.empty,
                 counters: () => Map[String, Long] = () => Map.empty): Unit =
    writeKeyedInternal(df, dir, keyCols, nBuckets, statsCols,
      bucketCols = bucketCols, counters = counters)

  private[sources] def writeKeyedInternal(df: DataFrame, dir: String,
                                          keyCols: Seq[String], nBuckets: Int,
                                          statsCols: Seq[String],
                                          resolve: String = "",
                                          txn: Map[String, Long] = Map.empty,
                                          aggP: Int = 0, aggK: Int = -1,
                                          aggSU: String = "",
                                          bucketCols: Seq[String] = Seq.empty,
                                          counters: () => Map[String, Long] =
                                            () => Map.empty)
      : Unit = {
    require(nBuckets > 0, s"nBuckets must be > 0, got $nBuckets")
    require(statsCols.forall(df.columns.contains),
      s"statsCols ${statsCols.mkString(",")} must exist in the frame")
    require(keyCols.startsWith(bucketCols),
      s"bucketCols ${bucketCols.mkString(",")} must be a prefix of the key " +
        keyCols.mkString(","))
    val spark = df.sparkSession
    val clean = cleanDir(dir)
    // the table's layout and identity; each commit below adds its
    // version, dirs, schema, stats and txn (a bucket key equal to the
    // whole key is stored as the empty default)
    val layout = KeyedManifest(0, Map.empty, keyCols.mkString(","),
      nBuckets, statsCols = statsCols, resolve = resolve, aggP = aggP,
      aggK = aggK, aggSU = aggSU,
      bucketCols = if (bucketCols == keyCols) Seq.empty else bucketCols)
    val withKb = df.withColumn("kb", kb(layout))
    def staged(version: Int): KeyedManifest = {
      val st = stageBuckets(spark, clean, withKb, version, keyCols,
        statsCols, nBuckets)
      layout.copy(version = version, buckets = st.dirs,
        schemaDdl = withKb.schema.toDDL, rows = st.rows, colStats = st.stats,
        txn = txn, counters = counters())
    }
    if (manifestVersions(spark, dir).isEmpty) {
      val fs = hadoopFs(spark, new Path(clean))
      // reclaim LEGACY (pre-format plain-parquet) files only — never
      // `_manifests` or generation dirs, which a RACING bootstrap may
      // have just committed (a recursive dir delete here was a TOCTOU
      // hole: writer B could wipe writer A's committed v1 between A's
      // publish and B's stage)
      if (fs.exists(new Path(clean)))
        fs.listStatus(new Path(clean)).toSeq
          .filterNot(s => s.getPath.getName == "_manifests" ||
            s.getPath.getName.matches("""[bd]\d{5}_g\d{9}(-.*)?"""))
          .foreach(s => fs.delete(s.getPath, true))
      val next = staged(1)
      try writeManifest(spark, clean, next)
      catch {
        case _: CommitConflict =>
          // another bootstrap won v1 — our staged dirs (writer-unique
          // names, version digits cosmetic) become the next full
          // replacement through the ordinary optimistic path
          withCommitRetry(s"writeKeyed($dir)") {
            val m = readManifest(spark, dir)
            writeManifest(spark, clean,
              next.copy(version = m.version + 1, txn = m.txn ++ txn))
          }
      }
    } else {
      // re-bootstrap over an EXISTING keyed table stays snapshot-
      // isolated: stage the replacement generations (invisible) and
      // publish the next manifest — a racing reader sees the old or
      // the new COMPLETE table, never a half-deleted directory (the
      // pre-r9 delete-then-restage violated exactly that); the old
      // generations vacuum away later
      withCommitRetry(s"writeKeyed($dir)") {
        val m = readManifest(spark, dir)
        writeManifest(spark, clean,
          staged(m.version + 1).copy(txn = m.txn ++ txn))
      }
    }
  }

  /** The writer-app transaction watermark recorded for `appId` (the
    * Delta-style idempotent-sink read): the last batch id a streaming
    * sink committed into this table, carried forward through every
    * commit. None when the table has no manifest or no entry yet.
    */
  def lastTxn(spark: SparkSession, dir: String, appId: String)
      : Option[Long] =
    newestManifest(spark, dir).flatMap(_.txn.get(appId))

  /** Row count + per-column MIN/MAX zone maps of the parquet `file`,
    * from its FOOTER alone, with read options built from `conf`. The
    * task that wrote a generation file reads it this way into the
    * manifest `rows`/`colstats` maps: one metadata read at commit time
    * buys every later `keyedStats`/`readKeyedRange`/planning call an
    * O(manifest) answer.
    *
    * A column's stats land only when EVERY row group in the file
    * carries usable parquet statistics of the expected physical type
    * (a missing/unsupported chunk makes the whole dir unprunable for
    * that column — pruning must never be a guess). Supported Spark
    * types: integral, float/double, string, date, timestamp
    * (INT64-micros layout).
    */
  private def footerInfo(conf: org.apache.hadoop.conf.Configuration,
                         file: Path, statsCols: Seq[String])
      : (Long, Map[String, (String, String)]) = {
    // per-column fold: cur = running (min, max) over usable chunks;
    // failed = some chunk carried rows but no usable stats (the dir is
    // then unprunable for that column). A file MISSING the column
    // entirely contributes only nulls there (schema evolution), which
    // never satisfy a range predicate — it doesn't widen or fail.
    val cur = scala.collection.mutable.Map
      .empty[String, (Comparable[Any], Comparable[Any])]
    val failed = scala.collection.mutable.Set.empty[String]
    // the one-argument open re-parses the default XML confs per call
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf).build())
    try {
      rd.getFooter.getBlocks.forEach { blk =>
        blk.getColumns.forEach { cc =>
          val c = cc.getPath.toDotString
          if (statsCols.contains(c) && !failed(c)) {
            val s = cc.getStatistics
            if (s != null && !s.isEmpty && !s.hasNonNullValue &&
                s.getNumNulls == blk.getRowCount) {
              // all-null chunk: contributes nothing, fails nothing
            } else if (s == null || s.isEmpty || !s.hasNonNullValue ||
                !supportedStat(cc)) {
              failed += c; cur -= c
            } else {
              val mn = s.genericGetMin.asInstanceOf[Comparable[Any]]
              val mx = s.genericGetMax.asInstanceOf[Comparable[Any]]
              cur(c) = cur.get(c) match {
                case None => (mn, mx)
                case Some((a, b)) => (
                  if (mn.compareTo(a) < 0) mn else a,
                  if (mx.compareTo(b) > 0) mx else b)
              }
            }
          }
        }
      }
      (rd.getRecordCount, cur.toMap.map { case (c, (mn, mx)) =>
        c -> (statEncode(mn), statEncode(mx)) })
    } finally rd.close()
  }

  /** Usable physical layouts for zone-map stats: plain primitives and
    * UTF8 binary. Excludes INT96 timestamps (no reliable parquet
    * stats) and decimal/complex encodings.
    */
  private def supportedStat(
      cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): Boolean = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val pt = cc.getPrimitiveType
    pt.getPrimitiveTypeName match {
      case INT32 | INT64 | FLOAT | DOUBLE =>
        pt.getLogicalTypeAnnotation match {
          // decimal-annotated ints store unscaled values — skip rather
          // than compare a scaled probe against unscaled stats
          case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
            false
          // the reader decodes timestamps as MICROS — any other unit
          // (or INT96, rejected by the primitive match) stays unpruned
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
          case _ => true
        }
      case BINARY =>
        pt.getLogicalTypeAnnotation
          .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
      case _ => false
    }
  }

  private def statEncode(v: Comparable[Any]): String = (v: Any) match {
    case b: org.apache.parquet.io.api.Binary =>
      new String(b.getBytes, "UTF-8")
    case x => x.toString
  }

  /** Write `withKb` (any frame carrying the int `kb` column) as one
    * generation's bucket dirs in ONE Spark job, each task writing its
    * buckets straight to their final names: one key-sorted parquet file
    * per bucket, `<prefix><bucket>_g<version>-<writer suffix>-<task
    * attempt>/part<ext>`, whose footer rows and zone stats the task
    * returns. No staging dir, committer or rename: nothing references
    * the dirs until the caller's manifest publish, the only commit. A
    * retried or speculative attempt writes its own dir; only the
    * accepted attempt's result returns and vacuum reclaims the rest.
    * The in-bucket key sort keeps the key column's row-group min/max
    * narrow, so a point lookup's pushed IN-list skips most row groups.
    * The same sort makes equal keys adjacent: each task counts the rows
    * whose key repeats the previous row's under the sort's null-safe
    * ordering (n − distinct keys).
    *
    * With `dropHits`, `withKb` also carries the boolean `Hit` flag of a
    * predicate DML's matching rows: each task counts them per bucket,
    * drops them when `dropHits` is true (a delete), never writes the
    * column, and deletes the file of a bucket without one (the bucket
    * is unchanged). Returns `Staged`.
    */
  private def stageBuckets(spark: SparkSession, clean: String,
                           withKb: DataFrame, version: Int,
                           keyCols: Seq[String],
                           statsCols: Seq[String], nBuckets: Int,
                           prefix: Char = 'b',
                           dropHits: Option[Boolean] = None): Staged = {
    import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
    import org.apache.spark.sql.execution.SQLExecution
    import org.apache.spark.sql.execution.datasources.OutputWriter
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    // EXPLICIT partition count (r14): AQE coalesces the session count,
    // so a small commit wrote every bucket file serially in ONE task
    // (548 ms after each 32-task map in x144); an explicit count is
    // exempt. One partition per table bucket: one task ≈ one bucket
    // (colliding bucket ids just share a task).
    val qe = withKb.repartition(nBuckets, F.col("kb"))
      .sortWithinPartitions(F.col("kb") +: keyCols.map(F.col): _*)
      .queryExecution
    val suffix = uniqueSuffix()
    val written = SQLExecution.withNewExecutionId(qe, Some("stageBuckets")) {
      // the PHYSICAL output schema, as Spark's own file writer uses: its
      // nullability is the optimized plan's (a folded cast is required)
      val schema = qe.executedPlan.schema
      val kbAt = schema.fieldIndex("kb")
      val hitAt = if (dropHits.isDefined) schema.fieldIndex(Hit) else -1
      val drop = dropHits.contains(true)
      val outSchema = org.apache.spark.sql.types.StructType(
        schema.filterNot(_.name == Hit))
      val outAt = outSchema.map(f => schema.fieldIndex(f.name)).toIndexedSeq
      val keyOrd = new E.InterpretedOrdering(keyCols.map(c => E.SortOrder(
        E.BoundReference(schema.fieldIndex(c), schema(c).dataType, true),
        E.Ascending)))
      val job = Job.getInstance(spark.sessionState.newHadoopConf())
      Fs.forWrite(job.getConfiguration)
      val writers = new ParquetFileFormat()
        .prepareWrite(spark, job, Map.empty, outSchema)
      // one broadcast per write: in the closure every task deserializes it
      val conf = spark.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(
          job.getConfiguration))
      try qe.toRdd.mapPartitions { rows =>
        val ctx = new TaskAttemptContextImpl(conf.value.value,
          new TaskAttemptID())
        val attempt = org.apache.spark.TaskContext.get().taskAttemptId()
        val it = rows.buffered
        val out = ProjectingInternalRow(outSchema, outAt)
        // one file per run of equal kb, opened at its first kept row;
        // each row is written before the next is read (the sort reuses
        // its row object: keep a copy)
        Iterator.continually(it).takeWhile(_.hasNext).map { _ =>
          val b = it.head.getInt(kbAt)
          val dir = new Path(clean,
            f"$prefix$b%05d_g$version%09d-$suffix-$attempt")
          var w: OutputWriter = null
          var prev: InternalRow = null
          var repeats, hits = 0L
          try while (it.hasNext && it.head.getInt(kbAt) == b) {
            val r = it.next()
            val hit = hitAt >= 0 && r.getBoolean(hitAt)
            if (hit) hits += 1
            if (!(hit && drop)) {
              if (w == null) w = writers.newInstance(
                s"$dir/part" + writers.getFileExtension(ctx), outSchema, ctx)
              if (prev != null && keyOrd.compare(r, prev) == 0) repeats += 1
              out.project(r)
              w.write(out)
              prev = r.copy()
            }
          } finally if (w != null) w.close()
          val unchanged = hitAt >= 0 && hits == 0L
          if (w != null && unchanged)
            dir.getFileSystem(conf.value.value).delete(dir, true)
          if (w == null || unchanged)
            (b, None, 0L, Map.empty[String, (String, String)], repeats, hits)
          else {
            val (n, cs) = footerInfo(conf.value.value, new Path(w.path),
              statsCols)
            (b, Some(dir.getName), n, cs, repeats, hits)
          }
        }
      }.collect()
      finally conf.destroy()
    }
    val files = written.collect { case (b, Some(d), n, cs, _, _) =>
      (b, d, n, cs) }
    Staged(files.map(x => x._1 -> x._2).toMap,
      files.map(x => x._2 -> x._3).toMap,
      files.collect { case (_, d, _, cs) if cs.nonEmpty => d -> cs }.toMap,
      written.map(_._5).sum,
      written.filter(_._6 > 0L).groupMapReduce(_._1)(_._6)(_ + _))
  }

  /** The predicate-DML flag column `stageBuckets` counts (never lands). */
  private val Hit = "__hit"

  /** `stageBuckets`' result: bucket → dir of every file it left, dir →
    * rows, dir → zone stats, repeated keys, bucket → flagged rows.
    */
  private final case class Staged(dirs: Map[Int, String],
                                  rows: Map[String, Long],
                                  stats: Map[String, Map[String, (String, String)]],
                                  repeats: Long, hits: Map[Int, Long])

  /** A staged-but-uncommitted merge: every new bucket-generation dir is
    * on disk, the next manifest is computed, and NO reader can see any
    * of it until `commitKeyed` publishes the manifest. Split out so the
    * snapshot-isolation property is directly testable.
    */
  private[graft] final case class PendingCommit(clean: String,
                                                manifest: KeyedManifest,
                                                matched: Long = 0L)

  /** Stage `merged`, the new rows of the `touched` buckets, and compute
    * the next manifest. With `dropHits` (see `stageBuckets`), `matched`
    * is the flagged-row count and only the buckets holding a flagged
    * row change.
    */
  private[graft] def stageMerge(spark: SparkSession, dir: String,
                                merged: DataFrame, touched: Seq[Int],
                                base: KeyedManifest,
                                txn: Map[String, Long] = Map.empty,
                                dropHits: Option[Boolean] = None)
      : PendingCommit = {
    val clean = cleanDir(dir)
    // the commit targets base.version + 1 — NOT a re-read of the
    // latest manifest: the merge was computed against `base`'s data,
    // and if a concurrent commit landed since, publishing on top of it
    // would silently drop that writer's changes. Targeting base+1
    // makes the manifest rename fail instead (CommitConflict → the
    // caller recomputes against the fresh snapshot).
    val st = stageBuckets(spark, clean, merged, base.version + 1,
      base.keyCols, base.statsCols, base.nBuckets, dropHits = dropHits)
    // a touched bucket without a flagged row keeps its generation and
    // chain (its task deleted the copy)
    val changed =
      if (dropHits.isEmpty) touched else touched.filter(st.hits.contains)
    // a changed bucket that wrote no file lost ALL its rows (delete
    // path): it simply leaves the manifest
    val next = base.buckets -- changed ++ st.dirs
    // a full merge of a bucket FOLDS its delta chain into the new
    // base generation (the caller merged its resolved rows), so
    // changed buckets' deltas leave the manifest
    val nextDeltas = base.deltas -- changed
    val liveDirs = next.values.toSet ++ nextDeltas.values.flatten
    val nextRows = base.rows.filter { case (d, _) => liveDirs(d) } ++ st.rows
    val nextStats = base.colStats.filter { case (d, _) => liveDirs(d) } ++
      st.stats
    // snapshot schema grows additively across merges: prior schema
    // ∪ the merged frame's (which carries any new batch columns)
    val schema = unionSchema(base.schema, merged.drop(Hit).schema).toDDL
    PendingCommit(clean, base.copy(version = base.version + 1,
      buckets = next, schemaDdl = schema, deltas = nextDeltas,
      rows = nextRows, colStats = nextStats, txn = base.txn ++ txn),
      st.hits.values.sum)
  }

  private[graft] def commitKeyed(spark: SparkSession,
                                 pending: PendingCommit): Unit =
    writeManifest(spark, pending.clean, pending.manifest)

  /** MERGE (upsert) `updates` into the keyed table at `dir`: rows whose
    * key matches an update are replaced, new keys are inserted, and —
    * the scale contract — only the buckets the batch's keys hash into
    * are read or rewritten (the manifest gives path-level pruning).
    * The merge is anti-join + union into new bucket-generation dirs;
    * the commit is one manifest publish, so concurrent READERS always
    * see a complete snapshot (old until the commit, new after).
    * Schema evolves ADDITIVELY: an update batch may carry columns the
    * table doesn't have yet (they land for the merged rows; untouched
    * generations surface them as NULL through readKeyed's mergeSchema)
    * and may omit table columns (the batch's rows get NULL there).
    * Dropping or retyping a column is NOT supported — rewrite.
    * Later duplicate keys WITHIN the batch are the caller's contract
    * to avoid (both copies land, same as inserting twice).
    * CONCURRENT WRITERS are safe on any FS with atomic
    * publish-if-absent (HDFS/local; object stores need a conditional
    * PUT): generation dirs are writer-unique, the manifest publish is the
    * only contention point, and a losing writer transparently
    * recomputes its merge against the winner's snapshot and retries.
    */
  def upsertKeyed(spark: SparkSession, dir: String, updates: DataFrame,
                  keyCol: String, nBuckets: Int): Unit =
    mergeKeyed(spark, dir, updates, Seq(keyCol), nBuckets)

  /** Composite-key upsert. */
  def upsertKeyed(spark: SparkSession, dir: String, updates: DataFrame,
                  keyCols: Seq[String], nBuckets: Int): Unit =
    mergeKeyed(spark, dir, updates, keyCols, nBuckets)

  /** Delete by key from the keyed table at `dir`; `keys` is a 1-column
    * frame. Same pruned-read + staged-commit shape as upsertKeyed; a
    * bucket whose every row was deleted has no staged dir and leaves
    * the manifest outright.
    */
  def deleteKeyed(spark: SparkSession, dir: String, keys: DataFrame,
                  keyCol: String, nBuckets: Int): Unit =
    deleteKeyed(spark, dir, keys.select(F.col(keys.columns.head).as(keyCol)),
      Seq(keyCol), nBuckets)

  /** Composite-key delete: `keys` carries the key columns by name. */
  def deleteKeyed(spark: SparkSession, dir: String, keys: DataFrame,
                  keyCols: Seq[String], nBuckets: Int): Unit =
    mergeKeyed(spark, dir, keys.select(keyCols.map(F.col) :+
      F.lit(true).as(Tombstone): _*), keyCols, nBuckets, Some(Tombstone))

  /** `deleteKeyed`'s tombstone flag column (it never lands). */
  private val Tombstone = "__tombstone"

  /** `batch`'s non-tombstone rows, without the flag column. */
  private def upserts(batch: DataFrame, deleteCol: Option[String]) =
    deleteCol.fold(batch)(dc =>
      batch.filter(!F.coalesce(F.col(dc), F.lit(false))).drop(dc))

  /** `df` with its `kb` column, frozen, and the sorted buckets it
    * touches. A LocalRelation (rows built on the driver: the language,
    * toDF) is already frozen and its kb collect runs with no job.
    */
  private def hashedBatch(df: DataFrame, kbCol: Column)
      : (DataFrame, Seq[Int]) = {
    val h = df.withColumn("kb", kbCol)
    val (frozen, kbs) = df.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        (h, h.select("kb"))
      case _ => val c = h.localCheckpoint(); (c, c.select("kb").distinct())
    }
    (frozen, kbs.collect().map(_.getInt(0)).distinct.sorted.toSeq)
  }

  /** The ONE merge body behind upsert, delete, and the CDC batch sink:
    * each `batch` row replaces its key's stored row or inserts it; with
    * `deleteCol`, a row whose flag is true is a TOMBSTONE that deletes
    * its key (the flag never lands); with `seqCol`, a row applies only
    * when its sequence is ≥ the stored row's (`>=` keeps exact replays
    * idempotent), so a late or replayed older change never regresses a
    * row. The guard is one left join against the touched base rows,
    * inside the commit retry: a losing race recomputes it against the
    * winner's snapshot. Upserts and tombstones land in a SINGLE staged
    * commit (one manifest publish), so a reader racing a
    * tombstone-carrying batch never observes the
    * updates-applied/deletes-pending state that two commits would
    * expose.
    */
  private def mergeKeyed(spark: SparkSession, dir: String,
                         batch: DataFrame, keyCols: Seq[String],
                         nBuckets: Int, deleteCol: Option[String] = None,
                         seqCol: Option[String] = None): Unit = {
    // the bucket function derives from the CURRENT layout (the depth
    // map is manifest metadata, r11) — read it before hashing the batch,
    // and refuse a seq-resolved table BEFORE any batch job
    val m0 = readManifest(spark, dir)
    requireBatchWins(m0, dir, keyCols, nBuckets)
    val (hashed, touched) = hashedBatch(batch, kb(m0))
    if (touched.isEmpty) return
    val keys = keyCols.map(F.col)
    withCommitRetry(s"mergeKeyed($dir)") {
      // ONE manifest read per attempt, threaded through base read AND
      // commit: the publish targets exactly the version the merge was
      // computed against
      val m = readManifest(spark, dir)
      requireBatchWins(m, dir, keyCols, nBuckets)
      // the batch was hashed under m0's depths — a concurrent SPLIT
      // since would park rows in buckets they no longer hash to
      require(m.depths == m0.depths,
        s"keyed table $dir re-bucketed mid-merge (splitKeyed) — " +
          "re-run the merge")
      // the touched buckets' live rows, delta chains RESOLVED: the
      // staged generation folds them (stageMerge drops the chains)
      val base = resolveBuckets(spark, cleanDir(dir), m, touched)
      val live = seqCol match {
        case Some(sc) if base.columns.contains(sc) =>
          hashed.join(base.select(keys :+ F.col(sc).as("__curseq"): _*),
            keyCols, "left")
            .filter(F.col("__curseq").isNull ||
              F.col(sc) >= F.col("__curseq"))
            .drop("__curseq")
        case _ => hashed
      }
      // no distinct(): an anti join keeps the same rows either way, and
      // on a driver-local batch the aggregate was a shuffle job of its
      // own before the broadcast
      val kept = base.join(live.select(keys: _*), keyCols, "left_anti")
      val merged = kept.unionByName(upserts(live, deleteCol),
        allowMissingColumns = true)
      commitKeyed(spark, stageMerge(spark, dir, merged, touched, m))
    }
  }

  /** PREDICATE DELETE — `DELETE FROM t WHERE cond` for keyed tables:
    * the predicate's own structure prunes the read (key-equality
    * conjuncts pin buckets, zone-mapped ranges skip via manifest
    * stats — `readKeyedWhere`'s planning), only the buckets that
    * actually HOLD matching rows are rewritten, and one manifest
    * publish commits the whole delete atomically. Returns the number
    * of rows deleted. At 100 TB a retention sweep
    * (`ts < now - 90d` over a zone-mapped ts) touches exactly the
    * cold buckets, never the table.
    */
  def deleteKeyedWhere(spark: SparkSession, dir: String,
                       cond: Column): Long =
    dmlKeyedWhere(spark, dir, cond, Nil)

  /** PREDICATE UPDATE — `UPDATE t SET c = e, ... WHERE cond`: same
    * pruned plan and atomic commit as `deleteKeyedWhere`; matched
    * rows get the assignments (evaluated against the OLD row, like
    * SQL), unmatched rows in the touched buckets rewrite unchanged.
    * Key columns cannot be reassigned (that is a delete + insert —
    * the row would change buckets). Returns the number of rows
    * matched.
    */
  def updateKeyedWhere(spark: SparkSession, dir: String, cond: Column,
                       assignments: Seq[(String, Column)]): Long = {
    require(assignments.nonEmpty, "updateKeyedWhere: no assignments")
    dmlKeyedWhere(spark, dir, cond, assignments)
  }

  /** MERGE-ON-READ predicate delete: tombstones for the keys matching
    * `cond` (as of the current snapshot) APPEND as per-bucket delta
    * dirs — bytes written ∝ MATCHES, the base generations never
    * rewrite (the copy-on-write `deleteKeyedWhere` pays O(touched
    * buckets), which a narrow delete over fat buckets cannot afford).
    * Resolution hides the rows immediately; `compactKeyed` reclaims
    * the bytes. On a SEQ-RESOLVED table pass `seq` — the stamp the
    * tombstones carry (it must outrank the stored rows to take
    * effect, and late-arriving older events still lose to it); on
    * chain-order tables the append order IS the statement order.
    * Semantics are snapshot-at-read, applied at append order — the
    * same contract as any appendDeltaKeyed batch computed from a
    * read. Returns the number of keys tombstoned.
    */
  def deleteKeyedWhereDelta(spark: SparkSession, dir: String,
                            cond: Column,
                            seq: Option[Column] = None): Long = {
    val clean = cleanDir(dir)
    val m = deltaDmlTarget(spark, clean, seq, "deleteKeyedWhereDelta")
    // the read is pinned to m.version, so it evaluates once, inside the
    // append's write, whose staged rows are the matches
    val hit = readKeyedWhere(spark, clean, cond,
      version = Some(m.version))
    val keys = seq match {
      case Some(sc) if m.seqCol.nonEmpty =>
        hit.select(m.keyCols.map(F.col) :+ sc.as(m.seqCol): _*)
      case _ => hit.select(m.keyCols.map(F.col): _*)
    }
    appendDelta(spark, clean, hit.drop("kb").limit(0), m.keyCols,
      m.nBuckets, tombstoneKeys = Some(keys))
  }

  /** MERGE-ON-READ predicate update: the matching rows (as of the
    * current snapshot) with assignments applied APPEND as per-bucket
    * deltas — bytes ∝ matches, bases untouched, resolution serves the
    * new values immediately (`updateKeyedWhere` is the copy-on-write
    * twin that rewrites the touched buckets). Same stamping rule as
    * the delta delete on seq-resolved tables; same
    * snapshot-at-read/applied-at-append contract. Returns the number
    * of rows updated.
    */
  def updateKeyedWhereDelta(spark: SparkSession, dir: String,
                            cond: Column,
                            assignments: Seq[(String, Column)],
                            seq: Option[Column] = None): Long = {
    require(assignments.nonEmpty, "updateKeyedWhereDelta: no assignments")
    val clean = cleanDir(dir)
    val m = deltaDmlTarget(spark, clean, seq, "updateKeyedWhereDelta",
      assignments)
    // every row of the pruned read MATCHES cond, so assignments apply
    // unconditionally; a seq stamp overwrites the row's seq column. The
    // pinned read evaluates once, inside the append's write
    val hit = readKeyedWhere(spark, clean, cond,
      version = Some(m.version)).drop("kb")
    val stamped = (seq, Option(m.seqCol).filter(_.nonEmpty)) match {
      case (Some(sv), Some(sc)) => assignments.toMap + (sc -> sv)
      case _ => assignments.toMap
    }
    appendDelta(spark, clean, hit.select(hit.columns.toSeq.map { c =>
      stamped.get(c).map(_.as(c)).getOrElse(F.col(c))
    }: _*), m.keyCols, m.nBuckets)
  }

  /** The manifest delta DML `op` appends to. Refused: what
    * `requireDmlTarget` refuses, no stamp on a seq-resolved table (stored
    * rows would outrank it), and a stamp on any other (chain order would
    * silently ignore it).
    */
  private def deltaDmlTarget(spark: SparkSession, clean: String,
                             seq: Option[Column], op: String,
                             assignments: Seq[(String, Column)] = Nil)
      : KeyedManifest = {
    val m = readManifest(spark, clean)
    requireDmlTarget(m, clean, op, assignments)
    require(m.seqCol.isEmpty || seq.isDefined,
      s"$clean resolves by sequence column '${m.seqCol}' — $op must " +
        "STAMP its rows (pass seq = the statement's sequence value)")
    require(seq.isEmpty || m.seqCol.nonEmpty,
      s"$op($clean): a seq stamp was passed but the table is not " +
        "sequence-resolved — declare the seq column at the first delta " +
        "append, or drop the stamp")
    m
  }

  /** What every predicate DML refuses, copy-on-write and merge-on-read
    * alike, each refusal naming `op`: a dir without keyed metadata, an
    * agg state (DML runs against its BASE table), and an assignment to a
    * key column (the row would change buckets) or to a column the table
    * lacks (a typo'd name would report matches while changing nothing).
    */
  private def requireDmlTarget(m: KeyedManifest, clean: String, op: String,
                               assignments: Seq[(String, Column)]): Unit = {
    require(m.nBuckets > 0, s"$op: $clean has no keyed metadata")
    require(m.resolve != "agg",
      s"$op: $clean is an agg state — DML runs against its BASE table")
    val have = m.schema.fieldNames
    assignments.foreach { case (c, _) =>
      require(!m.keyCols.contains(c),
        s"$op cannot reassign key column '$c' (the row would change " +
          "buckets) — delete + re-insert instead")
      require(c != "kb" && have.contains(c),
        s"$op: '$c' is not a column of $clean (have ${have.mkString(",")})")
    }
  }

  /** Copy-on-write predicate DML: a delete when `assignments` is empty,
    * else an update. ONE write query per attempt: the touched buckets'
    * resolved rows carry the `Hit` flag of `cond`, and `stageBuckets`
    * counts the flagged rows (the returned count), drops them for a
    * delete, and keeps every bucket without one unchanged. A predicate
    * that pins keys (`readKeyedWhere`'s point-read shapes) names its
    * buckets on the driver; any other finds them by one probe over its
    * pruned read. Nothing matched publishes nothing.
    */
  private def dmlKeyedWhere(spark: SparkSession, dir: String,
                            cond: Column,
                            assignments: Seq[(String, Column)]): Long = {
    val clean = cleanDir(dir)
    val op = if (assignments.isEmpty) "deleteKeyedWhere" else "updateKeyedWhere"
    withCommitRetry(s"$op($dir)") {
      val m = readManifest(spark, dir)
      requireDmlTarget(m, clean, op, assignments)
      // same batch-wins rule as upsert/delete: a seq-resolved table
      // changes only through stamped appends
      require(m.seqCol.isEmpty,
        s"$clean resolves by sequence column '${m.seqCol}' — " +
          "predicate DML is batch-wins; append stamped deltas instead")
      // a NONDETERMINISTIC predicate would match different rows when a
      // lost commit race re-runs the body; current_timestamp()-style
      // functions are Catalyst-"deterministic" but re-stamp per query
      // execution. Both refused. Unanalyzable: the write fails loudly.
      val cs = analyzedConjuncts(spark, m, cond)
      require(cs.forall(_.deterministic) && !cs.exists(_.exists {
          case _: E.CurrentTimestamp | _: E.CurrentDate | _: E.Now |
               _: E.LocalTimestamp => true
          case _ => false
        }), "DML predicate must be deterministic " +
        "(current_timestamp/current_date re-stamp per execution — " +
        "resolve them to literals first)")
      val touched = pinnedKeys(m, cs) match {
        case Some(ks) => keyProbe(spark, m, clean, ks)._1
        case None => readKeyedWhere(spark, clean, cond,
          version = Some(m.version)).agg(F.collect_set(F.col("kb"))).head
          .getSeq[Int](0).sorted
      }
      if (touched.isEmpty) 0L
      else {
        val resolved = resolveBuckets(spark, clean, m, touched)
        // cond is NULL-safe SQL semantics: NULL matches nothing, so a
        // delete KEEPS NULL-cond rows and an update leaves them alone
        val hit = F.coalesce(cond, F.lit(false))
        val amap = assignments.toMap
        val out = resolved.select(resolved.columns.toSeq.map { c =>
          amap.get(c).fold(F.col(c))(e =>
            F.when(hit, e).otherwise(F.col(c)).as(c))
        } :+ hit.as(Hit): _*)
        val pending = stageMerge(spark, clean, out, touched, m,
          dropHits = Some(amap.isEmpty))
        if (pending.matched > 0L) commitKeyed(spark, pending)
        pending.matched
      }
    }
  }

  /** One CDC micro-batch (the body of a streaming CDC sink's
    * `foreachBatch`, streaming/Streams.upsertKeyedBatch): the batch's
    * per-key winner merges through `mergeKeyed` in ONE manifest commit.
    *  - `seqCol`: last-wins per key within the batch AND against the
    *    stored row (`mergeKeyed`'s stored-seq guard);
    *  - `deleteCol`: boolean tombstone — the key's winning row being a
    *    tombstone DELETES it; the column itself never lands.
    * The first batch bootstraps the table; its tombstones insert
    * nothing.
    */
  def cdcMergeKeyed(spark: SparkSession, dir: String, batch: DataFrame,
                    keyCol: String, nBuckets: Int,
                    seqCol: Option[String] = None,
                    deleteCol: Option[String] = None): Unit =
    cdcMergeKeyedCols(spark, dir, batch, Seq(keyCol), nBuckets, seqCol,
      deleteCol)

  /** Composite-key CDC merge — same contract, keyed on the tuple. */
  def cdcMergeKeyedCols(spark: SparkSession, dir: String, batch: DataFrame,
                        keyCols: Seq[String], nBuckets: Int,
                        seqCol: Option[String] = None,
                        deleteCol: Option[String] = None): Unit = {
    val reduced = seqCol match {
      case Some(sc) =>
        // per-key max-seq via the native argmax (no per-key sort, and
        // map-side partial reduction — the window had neither). The
        // ord wraps in a STRUCT so a key whose every row has a NULL
        // seq still keeps one arbitrary row, exactly like the
        // window's desc (nulls-last) ranking did.
        batch.groupBy(keyCols.map(F.col): _*)
          .agg(graft.plans.TopRow.topRow(spark, F.struct(F.col(sc)),
            F.struct(batch.columns.map(F.col): _*)).as("__win"))
          .select(F.col("__win.*"))
      case None => batch
    }
    if (newestManifest(spark, dir).isEmpty)
      writeKeyed(upserts(reduced, deleteCol), dir, keyCols, nBuckets)
    else
      mergeKeyed(spark, dir, reduced, keyCols, nBuckets, deleteCol, seqCol)
  }

  /** `requireLayout`, and no sequence column: a SEQUENCE-resolved
    * table's winner is max-seq, so a batch-wins merge would overwrite
    * newer stored rows with older batch rows — those tables change only
    * through appendDeltaKeyed (stamped) + compactKeyed.
    */
  private def requireBatchWins(m: KeyedManifest, dir: String,
                               keyCols: Seq[String], nBuckets: Int): Unit = {
    requireLayout(m, dir, keyCols, nBuckets)
    require(m.seqCol.isEmpty,
      s"${cleanDir(dir)} resolves by sequence column '${m.seqCol}' — " +
        "upsert/delete/CoW-merge are batch-wins and would break it; " +
        "append stamped deltas instead (appendDeltaKeyed) and compact")
  }

  /** A mismatched bucket count or key would hash a batch into the WRONG
    * buckets and silently merge against the wrong base slices.
    */
  private def requireLayout(m: KeyedManifest, dir: String,
                            keyCols: Seq[String], nBuckets: Int): Unit =
    require(m.nBuckets == nBuckets && m.keyCols == keyCols,
      s"keyed table ${cleanDir(dir)} is (${m.keyCol}, ${m.nBuckets}) " +
        s"buckets; caller passed (${keyCols.mkString(",")}, $nBuckets)")

  /** MERGE-ON-READ upsert: append the batch as per-bucket DELTA dirs
    * and publish a manifest whose delta chains grew — the base
    * generations are NEVER read or rewritten, so bytes written are
    * ∝ THE BATCH, not the touched buckets (the copy-on-write
    * `upsertKeyed` pays O(bucket) per batch, which a high-frequency
    * CDC stream into 10 GB buckets cannot afford). Readers resolve
    * base ⊕ deltas last-wins per key (`resolveBuckets`); read cost
    * grows with chain length until `compactKeyed` folds the chains
    * back into base generations. `tombstoneKeys` rows delete their
    * keys at resolution (the classic merge-on-read delete vector).
    *
    * Contracts: keys must be UNIQUE within one call (duplicate keys at
    * the same precedence level have no resolution order — reduce CDC
    * batches by sequence first, as `cdcMergeKeyed` does); cross-batch
    * ordering is DELTA ORDER (append order), so out-of-order sequence
    * delivery needs the copy-on-write CDC path's stored-seq guard.
    * The staged delta dirs don't depend on the base snapshot, so a
    * losing commit race just re-publishes against the fresh manifest —
    * no recompute, no restage.
    */
  def appendDeltaKeyed(spark: SparkSession, dir: String, updates: DataFrame,
                       keyCol: String, nBuckets: Int,
                       tombstoneKeys: Option[DataFrame] = None): Unit =
    appendDeltaKeyedCols(spark, dir, updates, Seq(keyCol), nBuckets,
      tombstoneKeys)

  /** Composite-key merge-on-read append — same contract, keyed on the
    * tuple (`tombstoneKeys` carries the key columns by name). `counters`
    * is read after the write job and added to the table's `counters`
    * in the same commit.
    */
  def appendDeltaKeyedCols(spark: SparkSession, dir: String,
                           updates: DataFrame,
                           keyCols: Seq[String], nBuckets: Int,
                           tombstoneKeys: Option[DataFrame] = None,
                           txn: Map[String, Long] = Map.empty,
                           seqCol: Option[String] = None,
                           counters: () => Map[String, Long] =
                             () => Map.empty): Unit =
    appendDelta(spark, dir, updates, keyCols, nBuckets, tombstoneKeys, txn,
      seqCol, counters)

  /** `appendDeltaKeyedCols`, returning the rows it staged. */
  private[graft] def appendDelta(spark: SparkSession, dir: String,
                                 updates: DataFrame,
                                 keyCols: Seq[String], nBuckets: Int,
                                 tombstoneKeys: Option[DataFrame] = None,
                                 txn: Map[String, Long] = Map.empty,
                                 seqCol: Option[String] = None,
                                 counters: () => Map[String, Long] =
                                   () => Map.empty): Long = {
    val clean = cleanDir(dir)
    val keyCol = keyCols.mkString(",")
    val m0 = readManifest(spark, dir)
    // the SEQUENCE column (out-of-order CDC): once registered,
    // resolution is max-seq-wins table-wide. It can be declared only
    // while no delta chain exists yet (flipping the comparator under
    // existing chains would reorder history); thereafter callers may
    // omit it (the manifest remembers) but may not contradict it.
    val seqEff = seqCol.map(_.trim).filter(_.nonEmpty)
    seqEff.foreach { sc =>
      require(m0.seqCol.isEmpty || m0.seqCol == sc,
        s"$clean resolves by sequence column '${m0.seqCol}'; the append " +
          s"passed '$sc'")
      require(m0.seqCol == sc || m0.deltas.values.forall(_.isEmpty),
        s"$clean already carries chain-ordered delta history — a " +
          "sequence column must be declared before the first delta " +
          "append (compact first, then re-declare)")
      require(updates.columns.contains(sc),
        s"appendDeltaKeyed($clean): updates carry no '$sc' column")
    }
    val seqActive = seqEff.orElse(Option(m0.seqCol).filter(_.nonEmpty))
    val ups = updates.withColumn("__tomb", F.lit(false))
    val all = tombstoneKeys.fold(ups) { tk =>
      // in seq mode a tombstone must carry ITS OWN sequence number —
      // an unstamped delete would sort nulls-last and lose to every
      // stored row instead of deleting as of its time
      seqActive.foreach(sc => require(tk.columns.contains(sc),
        s"appendDeltaKeyed($clean): tombstones must carry the " +
          s"sequence column '$sc' (nulls would never win resolution)"))
      val sel = seqActive match {
        case Some(sc) => tk.select((keyCols :+ sc).map(F.col): _*)
        case None =>
          if (keyCols.length == 1)
            tk.select(F.col(tk.columns.head).as(keyCols.head))
          else tk.select(keyCols.map(F.col): _*)
      }
      ups.unionByName(sel.withColumn("__tomb", F.lit(true)),
        allowMissingColumns = true)
    }
    requireLayout(m0, dir, keyCols, nBuckets)
    val withKb = all.withColumn("kb", kb(m0))
    // Stage FIRST: the batch evaluates exactly once, into the staged
    // files, whose dir names give the touched buckets. The unique-keys-
    // per-call guard is the write's own repeated-key count, over exactly
    // the rows that would commit: duplicate keys at one precedence level
    // have no resolution order, so refuse before publishing and delete
    // the unreferenced stagings.
    val st = stageBuckets(spark, clean, withKb, m0.version + 1, keyCols,
      m0.statsCols, nBuckets, 'd')
    val added = counters()
    // a batch with no rows still commits what it adds to the counters
    // (a search index's documents without tokens count in n_docs)
    if (st.dirs.isEmpty && added.values.forall(_ == 0L)) return 0L
    if (st.repeats != 0L) {
      val fs = hadoopFs(spark, new Path(clean))
      st.dirs.values.foreach(d => fs.delete(new Path(clean, d), true))
      throw new IllegalArgumentException(
        s"appendDeltaKeyed($clean): ${st.repeats} " +
          "duplicate keys within one call — a delta level has no " +
          "intra-level resolution order; reduce the batch per key first " +
          "(cdcMergeKeyed does this by sequence)")
    }
    withCommitRetry(s"appendDeltaKeyed($dir)") {
      val m = readManifest(spark, dir)
      // re-validate against the FRESH manifest: a concurrent
      // re-bootstrap may have changed the bucket layout since m0, and
      // publishing deltas hashed under the OLD layout would park keys
      // in buckets they no longer hash to (silently unreachable rows)
      require(m.nBuckets == nBuckets && m.keyCol == keyCol &&
        m.bucketCols == m0.bucketCols && m.depths == m0.depths,
        s"keyed table $clean re-bootstrapped/re-bucketed to " +
          s"(${m.keyCol}, ${m.nBuckets}) buckets mid-append; caller " +
          s"staged for ($keyCol, $nBuckets) — re-run the append")
      val nextDeltas = m.deltas ++ st.dirs.map { case (b, d) =>
        b -> (m.chain(b) :+ d)
      }
      val schema = unionSchema(m.schema,
        withKb.drop("__tomb").schema).toDDL
      writeManifest(spark, clean, m.copy(version = m.version + 1,
        schemaDdl = schema, deltas = nextDeltas, rows = m.rows ++ st.rows,
        colStats = m.colStats ++ st.stats, txn = m.txn ++ txn,
        seqCol = seqEff.getOrElse(m.seqCol),
        counters = m.counters ++ added.map { case (k, v) =>
          k -> (m.counters.getOrElse(k, 0L) + v) }))
    }
    st.rows.values.sum
  }

  /** Fold merge-on-read delta chains back into base generations: the
    * resolved rows of each target bucket (re-aggregated for an agg
    * state, see `resolveBuckets`) stage as a new generation and
    * ONE manifest commit drops the chains — exactly a full merge whose
    * batch is empty, through the same snapshot-isolated commit path.
    * Defaults to every bucket carrying deltas; pass `buckets` to
    * compact incrementally (e.g. only chains past a length threshold,
    * read straight off the manifest).
    */
  def compactKeyed(spark: SparkSession, dir: String,
                   buckets: Option[Seq[Int]] = None,
                   minChain: Int = 1): Unit = {
    require(minChain >= 1, s"minChain must be >= 1, got $minChain")
    val clean = cleanDir(dir)
    if (manifestVersions(spark, dir).isEmpty) return
    withCommitRetry(s"compactKeyed($dir)") {
      val m = readManifest(spark, dir)
      // `minChain` is the maintenance policy knob: compact only the
      // buckets whose chain reached the threshold — planned entirely
      // from the MANIFEST (zero data IO), so a scheduler can call this
      // every few batches and it no-ops until chains build up
      val target = buckets.getOrElse(m.deltas.keys.toSeq)
        .filter(m.chain(_).length >= minChain).sorted
      if (target.nonEmpty)
        commitKeyed(spark, stageMerge(spark, clean,
          resolveBuckets(spark, clean, m, target), target, m))
    }
  }

  /** SPLIT PLANNING from the manifest (zero data IO): the current
    * leaf buckets whose LIVE BYTES exceed `targetBytes`, worst first —
    * exactly the feed a maintenance scheduler hands `splitKeyed` on a
    * cadence (the split twin of `compactKeyed(minChain)`'s policy
    * knob). Bytes come from an fs listing of each leaf's dirs
    * (bounded metadata work, ≤ live dirs), never a scan; a leaf's
    * delta-chain bytes count toward it (the chain resolves into the
    * children at split time).
    */
  def splitCandidates(spark: SparkSession, dir: String,
                      targetBytes: Long): Seq[(Int, Long)] = {
    require(targetBytes > 0, s"targetBytes must be > 0")
    val clean = cleanDir(dir)
    val m = readManifest(spark, dir)
    require(m.nBuckets > 0, s"$clean has no keyed metadata")
    val fs = hadoopFs(spark, new Path(clean))
    m.liveBuckets().map(b => b -> leafBytes(fs, clean, m, b))
      .filter(_._2 > targetBytes).sortBy(-_._2)
  }

  /** A leaf's live bytes: its base generation + delta chain. */
  private def leafBytes(fs: org.apache.hadoop.fs.FileSystem, clean: String,
                        m: KeyedManifest, b: Int): Long =
    m.dirsOf(b).map(d =>
      fs.getContentSummary(new Path(clean, d)).getLength).sum

  /** MERGE PLANNING (the contraction twin of `splitCandidates`, zero
    * data IO): the sibling leaf PAIRS whose combined live bytes fell
    * below `targetBytes / 2` — after deletes/retention, a skew that
    * once forced a split has drained and the two half-empty leaves
    * should fold back into their parent. Returns (parent id, combined
    * bytes), EMPTIEST first (the cheapest rewrites reclaim the most
    * leaf-count pressure per byte). The half-target threshold is the
    * split/merge HYSTERESIS: a freshly-split leaf's children combine
    * to the bytes that exceeded `targetBytes`, so they can never
    * bounce straight back, and a merged parent (< targetBytes/2) can
    * never immediately re-split.
    */
  def mergeCandidates(spark: SparkSession, dir: String,
                      targetBytes: Long): Seq[(Int, Long)] = {
    require(targetBytes > 0, s"targetBytes must be > 0")
    val clean = cleanDir(dir)
    val m = readManifest(spark, dir)
    require(m.nBuckets > 0, s"$clean has no keyed metadata")
    val n = m.nBuckets
    val fs = hadoopFs(spark, new Path(clean))
    def bytes(b: Int): Long = leafBytes(fs, clean, m, b)
    m.depths.toSeq
      // the LOW sibling names the pair (parent id = its own id); the
      // high sibling must be a leaf at the SAME depth (one side split
      // deeper blocks the merge until its subtree folds first)
      .filter { case (b, d) => d >= 1 && b < (n << (d - 1)) &&
        m.depths.getOrElse(b + (n << (d - 1)), 0) == d }
      .map { case (p, d) => p -> (bytes(p) + bytes(p + (n << (d - 1)))) }
      .filter(_._2 < targetBytes / 2)
      .sortBy(_._2)
  }

  /** EXTENDIBLE-HASHING CONTRACTION — the inverse of `splitKeyed`:
    * fold each listed PARENT's two sibling leaves (parent p at depth
    * d−1 re-absorbs leaves p and p + N·2^(d−1), both at depth d) back
    * into one leaf. Same shape as the split: only the merged leaves'
    * rows are read and restaged (their delta chains fold in the
    * process, by the table's own resolve discipline), and ONE manifest
    * commit publishes the new generation AND the shrunk depth map
    * atomically — a mid-merge reader sees the old or the new COMPLETE
    * layout. Writers racing the merge fail loudly on the same
    * depth-map guard as splits and re-run against the new layout.
    * Without this, leaf count marches monotonically toward the
    * 100000-leaf cap and small-file pressure grows after every
    * retention sweep.
    */
  def mergeLeaves(spark: SparkSession, dir: String,
                  parents: Seq[Int]): Unit = {
    require(parents.nonEmpty, "mergeLeaves: no parents to merge")
    val clean = cleanDir(dir)
    withCommitRetry(s"mergeLeaves($dir)") {
      val m = readManifest(spark, dir)
      require(m.nBuckets > 0, s"$clean has no keyed metadata")
      val n = m.nBuckets
      val pairs = parents.distinct.sorted.map { p =>
        val d = m.depths.getOrElse(p, 0)
        require(d >= 1,
          s"mergeLeaves($clean): $p is not a split leaf (depth 0)")
        require(p < (n << (d - 1)),
          s"mergeLeaves($clean): $p is a HIGH sibling — pass the " +
            s"parent id ${p - (n << (d - 1))}")
        val sib = p + (n << (d - 1))
        require(m.depths.getOrElse(sib, 0) == d,
          s"mergeLeaves($clean): $p's sibling $sib is not a leaf at " +
            s"depth $d (depths: ${m.depths}) — fold its subtree first")
        (p, sib, d)
      }
      val newDepths = pairs.foldLeft(m.depths) { case (ds, (p, sib, d)) =>
        // depth 0 is the ABSENT default for ids < nBuckets — a parent
        // landing back at depth 0 leaves the map entirely
        val cleared = ds - p - sib
        if (d - 1 == 0) cleared else cleared + (p -> (d - 1))
      }
      // under the SHRUNK map every row lands in its pair's parent leaf
      relayout(spark, dir, m,
        pairs.flatMap { case (p, sib, _) => Seq(p, sib) }, newDepths)
    }
  }

  /** Commit `m` under the depth map `depths`: the live rows of
    * `buckets`, resolved by the table's own discipline (chains fold,
    * exactly like their compaction), rehash into their new leaves as
    * one staged generation; with no live row it is a depth-only commit.
    */
  private def relayout(spark: SparkSession, dir: String, m: KeyedManifest,
                       buckets: Seq[Int], depths: Map[Int, Int]): Unit = {
    val live = m.liveBuckets(buckets)
    val next =
      if (live.isEmpty) m.copy(version = m.version + 1)
      else stageMerge(spark, dir, resolveBuckets(spark, dir, m, live)
        .withColumn("kb", kb(m.copy(depths = depths))), buckets, m).manifest
    writeManifest(spark, cleanDir(dir), next.copy(depths = depths))
  }

  /** ONE maintenance pass — the policy loop over `splitCandidates` +
    * chain compaction + `mergeCandidates` that a scheduler calls on a
    * cadence instead of hand-planning layout surgery: split every leaf
    * whose live bytes exceed `targetBytes`, worst first, until
    * `budgetBytes` of rewrite is spent (a split rewrites roughly the
    * leaf's bytes); fold any delta chains that reached `minChain`
    * (by the table's resolve discipline); then MERGE
    * drained sibling pairs back (combined bytes < targetBytes/2),
    * emptiest first within `mergeBudgetBytes`, cascading up the depth
    * tree until it converges — the contraction half without which leaf
    * count only ever grows. All three phases plan from the MANIFEST
    * and rewrite only their target buckets, so a pass over a healthy
    * table is metadata-only — call it after every few batches and it
    * no-ops until something actually outgrows (or outshrinks) the
    * policy. Returns the split bucket ids (empty = the split phase
    * converged); merges show in the manifest's depth map.
    */
  def maintainKeyed(spark: SparkSession, dir: String, targetBytes: Long,
                    budgetBytes: Long = Long.MaxValue,
                    minChain: Int = 2,
                    mergeBudgetBytes: Long = Long.MaxValue): Seq[Int] = {
    require(budgetBytes > 0, "maintainKeyed: budgetBytes must be > 0")
    require(mergeBudgetBytes >= 0,
      "maintainKeyed: mergeBudgetBytes must be >= 0")
    val cands = splitCandidates(spark, dir, targetBytes)
    var budget = budgetBytes
    val picked = Seq.newBuilder[Int]
    cands.foreach { case (b, bytes) =>
      if (bytes <= budget) { picked += b; budget -= bytes }
    }
    val chosen = picked.result()
    if (chosen.nonEmpty) splitKeyed(spark, dir, chosen)
    // fold chains the split didn't already resolve (splitting a bucket
    // compacts its chain as a side effect)
    compactKeyed(spark, dir, minChain = minChain)
    // contraction, cascading: a merged parent may itself pair with ITS
    // sibling one level up, so re-plan until nothing qualifies or the
    // budget runs out (terminates — each round strictly shrinks the
    // depth map). A merge rewrites roughly the pair's combined bytes.
    var mBudget = mergeBudgetBytes
    var more = mBudget > 0
    while (more) {
      val mc = mergeCandidates(spark, dir, targetBytes)
      val mPicked = Seq.newBuilder[Int]
      mc.foreach { case (p, bytes) =>
        if (bytes <= mBudget) { mPicked += p; mBudget -= bytes }
      }
      val mChosen = mPicked.result()
      if (mChosen.nonEmpty) mergeLeaves(spark, dir, mChosen)
      more = mChosen.nonEmpty && mBudget > 0
    }
    chosen
  }

  /** ONLINE RE-BUCKETING (extendible-hashing bucket split, r11):
    * split each listed LEAF bucket into two children one hash bit
    * deeper — leaf b at depth d becomes b and b + N·2^d at depth d+1
    * (N = the table's base bucket count; both children keep
    * ≡ b mod N·2^d, so every other leaf's id and contents are
    * untouched). ONLY the split buckets' rows are read and restaged
    * (delta chains fold in the process, like a compaction of those
    * buckets); one manifest commit publishes the new generations AND
    * the new depth map atomically, so a mid-split reader sees the old
    * or the new COMPLETE layout — never a half-split bucket. This is
    * what makes `nBuckets` a day-one ESTIMATE instead of a forever
    * decision: at 100 TB, the handful of buckets that outgrew their
    * rewrite budget split in place for O(those buckets), not a full
    * re-bootstrap.
    *
    * Works for row tables AND bucketed agg states (the rewrite is
    * last-wins resolution or re-aggregation respectively — the same
    * discipline their compactions use). Writers racing a split fail
    * loudly on the depth-map guard and re-run against the new layout.
    */
  def splitKeyed(spark: SparkSession, dir: String,
                 buckets: Seq[Int]): Unit = {
    require(buckets.nonEmpty, "splitKeyed: no buckets to split")
    val clean = cleanDir(dir)
    withCommitRetry(s"splitKeyed($dir)") {
      val m = readManifest(spark, dir)
      require(m.nBuckets > 0, s"$clean has no keyed metadata")
      val n = m.nBuckets
      def leafDepth(b: Int): Int =
        m.depths.getOrElse(b, if (b >= 0 && b < n) 0 else -1)
      val targets = buckets.distinct.sorted
      targets.foreach(b => require(leafDepth(b) >= 0,
        s"splitKeyed($clean): $b is not a current leaf bucket " +
          s"(depths: ${m.depths}, nBuckets: $n)"))
      val newDepths = m.depths ++ targets.flatMap { b =>
        val d = leafDepth(b)
        Seq(b -> (d + 1), (b + (n << d)) -> (d + 1))
      }
      // two hard caps, both layout invariants: bucket dir names carry
      // 5-digit ids (the vacuum/bootstrap patterns match exactly
      // those), and the plan-literal fine-to-leaf array must stay
      // small enough to inline
      val dmax = newDepths.values.max
      require((n.toLong << dmax) <= 100000,
        s"splitKeyed($clean): depth $dmax over $n base buckets exceeds " +
          "the 100000-leaf layout cap")
      relayout(spark, dir, m, targets, newDepths)
    }
  }

  /** Point lookup on the keyed table: the rows whose key is in `keys`,
    * reading ONLY the bucket dirs those keys hash into (`keyProbe`), so
    * the cost is O(|keys| buckets' files), independent of table size.
    * A key with a NULL component matches no row, as `k = NULL` does.
    * Composite-key tables take each key as a Seq of the components in
    * manifest order. `version` pins the snapshot the probe answers from
    * (time travel, the pinned-frame selection path); latest when None.
    */
  def lookupKeyed(spark: SparkSession, dir: String,
                  keys: Seq[Any], version: Option[Int] = None): DataFrame = {
    require(keys.nonEmpty, "lookupKeyed: no keys")
    val m = readManifest(spark, dir, version)
    val (touched, filt) = keyProbe(spark, m, cleanDir(dir), keys)
    resolveBuckets(spark, dir, m, touched, Some(filt))
  }

  /** The buckets under `m` that hold `keys` and the filter matching
    * exactly those keys. The buckets are the engine's own hash of a tiny
    * local key frame (`bucketsOf`: no Spark job), bit-identical to the
    * stored layout for every key type; a NULL component pins nothing.
    */
  private def keyProbe(spark: SparkSession, m: KeyedManifest, clean: String,
                       keys: Seq[Any]): (Seq[Int], Column) = {
    require(m.nBuckets > 0,
      s"$clean has no keyed metadata (a commit group)")
    val keyCols = m.keyCols
    val schema = m.schema
    val keyFields = keyCols.map(c => schema.fields.find(_.name == c)
      .getOrElse(throw new IllegalArgumentException(
        s"lookupKeyed: key column '$c' missing from $clean's schema")))
    // normalize each key to a component tuple, coercing common JVM
    // widenings (an Int probe against a LongType key)
    val tuples = keys.map {
      case s: Seq[_] => s
      case p: Product if keyCols.length > 1 => p.productIterator.toSeq
      case k => Seq(k)
    }
    tuples.foreach(t => require(t.length == keyCols.length,
      s"lookupKeyed: table keys on (${keyCols.mkString(",")}); got a " +
        s"${t.length}-component key"))
    import org.apache.spark.sql.types._
    def coerce(v: Any, dt: DataType): Any = (v, dt) match {
      case (n: Number, LongType) => n.longValue
      case (n: Number, IntegerType) => n.intValue
      case (n: Number, ShortType) => n.shortValue
      case (n: Number, ByteType) => n.byteValue
      case (n: Number, DoubleType) => n.doubleValue
      case (n: Number, FloatType) => n.floatValue
      case (d: BigDecimal, _: DecimalType) => d.bigDecimal
      case _ => v
    }
    val rows = tuples.filterNot(_.contains(null)).map(t =>
      org.apache.spark.sql.Row(
        t.zip(keyFields).map { case (v, f) => coerce(v, f.dataType) }: _*))
    import scala.jdk.CollectionConverters._
    val touched = bucketsOf(m, spark.createDataFrame(rows.asJava,
      StructType(keyFields.map(f => StructField(f.name, f.dataType)))))
    // native-typed key values (not a string cast) so the predicate
    // PUSHES into the parquet scan of EVERY chain level and the
    // within-bucket key sort lets row-group min/max stats skip most
    // of each bucket file; delta chains resolve AFTER the pushed
    // filter, over the probe keys' rows only (the key never changes
    // across chain levels, so a key filter is resolution-invariant)
    val filt =
      if (keyCols.length == 1)
        inSetOf(spark, keyFields.head,
          rows.map(_.get(0)).distinct)
      else tuples.map(t =>
        t.zip(keyFields).map { case (v, f) =>
          F.col(f.name) === F.lit(coerce(v, f.dataType))
        }.reduce(_ && _)).reduce(_ || _)
    (touched, filt)
  }

  /** `field IN values` as an `InSet` at any size when every value's
    * literal type is the field's (else `isin`, whose `In` inlines its
    * literals into generated code: a class per fresh small key set).
    * Parquet pushdown stays: `DataSourceStrategy` translates InSet.
    */
  private def inSetOf(spark: SparkSession,
                      field: org.apache.spark.sql.types.StructField,
                      values: Seq[Any]): Column = {
    val fn = org.apache.spark.sql.catalyst.FunctionIdentifier("graft_in_set")
    val registry = spark.sessionState.functionRegistry
    if (!values.forall(v => scala.util.Try(E.Literal(v).dataType).toOption
        .contains(field.dataType)))
      return F.col(field.name).isin(values: _*)
    if (!registry.functionExists(fn))
      registry.registerFunction(fn,
        new E.ExpressionInfo(classOf[E.InSet].getName, fn.funcName),
        // a HashSet at every size: the code casts to the set's class,
        // and sets of 1-4 elements each have their own
        (es: Seq[E.Expression]) => E.InSet(es.head,
          scala.collection.immutable.HashSet.from(
            es.tail.map(_.asInstanceOf[E.Literal].value))))
    F.call_function(fn.funcName, F.col(field.name) +: values.map(F.lit): _*)
  }

  /** Changelog between two snapshots of the keyed table: one row per
    * key that was added / removed / changed between `fromV` and `toV`
    * (same-rows are omitted — this is a CDC feed, not a diff report).
    * The decisive property: the manifests tell which buckets changed
    * generation, so ONLY those buckets' dirs are read on either side —
    * the cost is O(changed data), never table size. A downstream
    * incremental consumer processes `keyedChanges(v_yesterday, v_now)`
    * instead of re-scanning 100 TB.
    */
  def keyedChanges(spark: SparkSession, dir: String,
                   fromV: Int, toV: Int): DataFrame = {
    val clean = cleanDir(dir)
    val m1 = readManifest(spark, dir, Some(fromV))
    val m2 = readManifest(spark, dir, Some(toV))
    // a materialized view's changelog is the VIEW diff with old_*
    // retractions (aggStateChanges) — never last-wins row comparison
    if (m2.resolve == "agg") return aggStateChanges(spark, dir, fromV, toV)
    require(m1.keyCol.nonEmpty, s"$clean has no keyed metadata")
    keyedChangesOnePass(spark, clean, m1, m2, m2.changedFrom(m1))
  }

  /** The r15 changelog plan: ONE shuffle. Both versions' generation
    * levels for the changed buckets union into a single frame tagged
    * (side, precedence); ONE per-key aggregate computes each side's
    * winning row via the native argmax (`graft_top_row` — exactly
    * resolveBuckets' resolution order per side), and the status falls
    * out of the two winners. Replaces two window resolutions (each an
    * exchange + a per-key sort) + a full-outer self-join (two more
    * sorted exchanges) — and the aggregate reduces map-side, which the
    * windows never did. Dirs shared by both versions (an unchanged
    * base generation under a grown delta chain) are read once per
    * side, like the old plan read them once per resolution.
    */
  private def keyedChangesOnePass(spark: SparkSession, clean: String,
                                  m1: KeyedManifest, m2: KeyedManifest,
                                  changed: Seq[Int]): DataFrame = {
    val keyCols = m1.keyCols
    // columns both versions' snapshots carry (additive evolution may
    // have grown m2 past m1): only these are comparable — a column
    // new in m2 surfaces as NULL for m1-side rows exactly like the
    // old full-outer diff's missing-column semantics... which never
    // compared it at all (shared-column rule). kb is layout, not data.
    val sch1 = m1.schema.fieldNames.toSeq
    val sch2 = m2.schema.fieldNames.toSeq
    val shared = sch1.intersect(sch2)
      .filterNot(c => keyCols.contains(c) || c == "kb")
    val sides = Seq(m1, m2).zipWithIndex.flatMap { case (m, side) =>
      chainLevels(spark, clean, m, changed)
        .map(_.withColumn("__side", F.lit(side)))
    }
    if (sides.isEmpty)
      // nothing live on either side: the empty changelog, in the
      // changelog's schema
      return emptySnapshot(spark, m2)
        .select(keyCols.map(F.col) :+ F.lit("same").as("status"): _*)
        .limit(0).filter(F.col("status") =!= "same")
    val un = sides.reduce(_.unionByName(_, allowMissingColumns = true))
    val hasTomb = un.columns.contains("__tomb")
    val ordBase =
      if (m2.seqCol.nonEmpty && un.columns.contains(m2.seqCol))
        F.struct(F.col(m2.seqCol), F.col("__prec"))
      else F.struct(F.col("__prec"))
    val valCols = (if (hasTomb) Seq("__tomb") else Nil) ++ shared
    val vstruct = F.struct(
      (F.lit(true).as("__won") +: valCols.map(F.col)): _*)
    def win(side: Int) = graft.plans.TopRow.topRow(spark,
      F.when(F.col("__side") === side, ordBase), vstruct)
    val agged = un.groupBy(keyCols.map(F.col): _*)
      .agg(win(0).as("__a"), win(1).as("__b"))
    def aliveC(c: Column) = c.isNotNull &&
      (if (hasTomb) !F.coalesce(c.getField("__tomb"), F.lit(false))
       else F.lit(true))
    val aliveA = aliveC(F.col("__a"))
    val aliveB = aliveC(F.col("__b"))
    val sameCols =
      if (shared.isEmpty) F.lit(true)
      else shared.map(c =>
        F.col("__a").getField(c) <=> F.col("__b").getField(c))
        .reduce(_ && _)
    agged
      .filter(aliveA || aliveB)
      .select(keyCols.map(F.col) :+
        F.when(aliveA && !aliveB, F.lit("removed"))
          .when(!aliveA && aliveB, F.lit("added"))
          .when(sameCols, F.lit("same"))
          .otherwise(F.lit("changed")).as("status"): _*)
      .filter(F.col("status") =!= "same")
  }

  /** Garbage-collect snapshots: keep the newest `keepVersions`
    * manifests, delete older manifest files and every bucket dir no
    * kept manifest references — but ONLY when the dir is older than
    * `graceMs`. The grace window protects (a) readers still holding a
    * dropped snapshot and (b) a concurrent writer's freshly-staged
    * dirs whose manifest publish has not landed yet (without it, a
    * vacuum racing a commit would delete dirs the imminent manifest
    * references). Crashed-writer residue — orphaned `.tmp_*` manifest
    * files — is reclaimed under the same age rule, and so are the
    * superseded versions of every registered cursor. Versions a
    * registered consumer still needs survive unless `force`.
    */
  def vacuumKeyed(spark: SparkSession, dir: String,
                  keepVersions: Int = 1,
                  graceMs: Long = 15 * 60 * 1000L,
                  force: Boolean = false): Unit = {
    vacuumGenerations(spark, dir, keepVersions, graceMs,
      """[bd]\d{5}_g\d{9}(-.*)?""",
      cursorFloor =
        if (force) 0
        else Seq(registeredConsumerMin(spark, dir),
          registeredGroupMin(spark, dir)).filter(_ > 0)
          .minOption.getOrElse(0))
    // a cursor is its newest manifest; superseded ones go under grace
    val cd = new Path(cleanDir(dir), "_cursors")
    Fs.listOrEmpty(hadoopFs(spark, cd), cd).foreach(st =>
      vacuumGroup(spark, st.getPath.toString, 1, graceMs))
  }

  /** The REGISTERED CDC cursor path for consumer `name` of the keyed
    * table at `dir`: `<dir>/_cursors/<name>`. A cursor living here is
    * visible to `vacuumKeyed`, which then refuses to drop the manifest
    * versions the consumer still needs (its recorded version onward)
    * unless forced — the retention/CDC coupling that keeps a lagging
    * consumer from failing on a vacuumed `from` snapshot. Cursors
    * elsewhere still work, but are unprotected.
    */
  def registeredCursorPath(dir: String, name: String): String = {
    require(name.nonEmpty && !name.contains("/"),
      s"cursor name must be a plain file name, got '$name'")
    s"${cleanDir(dir)}/_cursors/$name"
  }

  /** A CDC cursor's `txn` keys: the last version it processed and,
    * mid bounded initial load only, the buckets of it already emitted.
    */
  private[graft] val CursorVersion = "version"
  private[graft] val CursorBucket = "bucket"

  /** Publish the next manifest version of `dir`, carrying every field
    * of the newest one (none: an empty manifest) but `txn`, which
    * becomes `pins(newest txn)`: the one commit of a consumer position
    * — a CDC cursor, a commit group's pins, a view's watermark. A lost
    * publish race re-reads and re-publishes. Returns the version.
    */
  private[graft] def commitPins(spark: SparkSession, dir: String)
                               (pins: Map[String, Long] => Map[String, Long])
      : Int = withCommitRetry(s"commitPins($dir)") {
    val prev = newestManifest(spark, dir)
      .getOrElse(KeyedManifest(0, Map.empty))
    writeManifest(spark, cleanDir(dir), prev.copy(
      version = prev.version + 1, txn = pins(prev.txn)))
    prev.version + 1
  }

  /** `dir`, cleaned, as one path component (url-safe base64): the
    * name of a consumer's pointer under a table's `_groups/` or `_mvs/`.
    */
  private[graft] def dirName(dir: String): String =
    java.util.Base64.getUrlEncoder.withoutPadding
      .encodeToString(cleanDir(dir).getBytes("UTF-8"))

  /** The dir a `dirName` names; None for a name it cannot have made. */
  private def nameDir(name: String): Option[String] =
    try Some(new String(java.util.Base64.getUrlDecoder.decode(name), "UTF-8"))
    catch { case _: IllegalArgumentException => None }

  /** The smallest version of `dir` a registered consumer still needs
    * (0 = none constrains): the pin in the NEWEST manifest of each
    * cursor dir under `<dir>/_cursors/` (its `CursorVersion`) and of
    * each view state an `<dir>/_mvs/` registration names (its watermark,
    * keyed by `dir`). A consumer at v next diffs (v, v+1..).
    */
  private def registeredConsumerMin(spark: SparkSession, dir: String): Int = {
    val clean = cleanDir(dir)
    val fs = hadoopFs(spark, new Path(clean))
    def names(sub: String) =
      Fs.listOrEmpty(fs, new Path(clean, sub)).map(_.getPath.getName)
    val pins = names("_mvs").flatMap(nameDir).map(_ -> clean) ++
      names("_cursors").map(n => (s"$clean/_cursors/$n", CursorVersion))
    pins.flatMap { case (d, key) =>
      try newestManifest(spark, d).flatMap(_.txn.get(key))
      catch { case _: Exception => None } // unreadable: no floor
    }.map(_.toInt).filter(_ > 0).minOption.getOrElse(0)
  }

  /** The COMMIT-GROUP pointer file registering `groupDir` as a
    * consumer of the member table at `memberDir`:
    * `<member>/_groups/<dirName(groupDir)>`. Written by `commitGroup`
    * for every member it pins; `vacuumKeyed` then reads the LIVE group
    * manifests (never a cached number — manifest publishes are atomic,
    * pointer files just locate them) and retains every member version
    * any group version still pins, unless forced. This closes the r11
    * gap where a pinned version could be GC'd out from under
    * `readGroup` (which then failed loudly).
    */
  def registeredGroupPath(memberDir: String, groupDir: String): String =
    s"${cleanDir(memberDir)}/_groups/${dirName(groupDir)}"

  /** The smallest version of `dir` any registered commit group still
    * pins, across every group version (0 = none constrains). A deleted
    * group dir stops constraining; its stale pointer is ignored.
    */
  private def registeredGroupMin(spark: SparkSession, dir: String): Int = {
    val gd = new Path(cleanDir(dir), "_groups")
    val member = cleanDir(dir)
    Fs.listOrEmpty(hadoopFs(spark, gd), gd)
      .flatMap(st => nameDir(st.getPath.getName)).flatMap { groupDir =>
        try manifestVersions(spark, groupDir).flatMap(v =>
          readManifest(spark, groupDir, Some(v)).txn.get(member)
            .map(_.toInt))
        catch { case _: Exception => Nil } // dead group: no floor
      }.filter(_ > 0).minOption.getOrElse(0)
  }

  private def vacuumGenerations(spark: SparkSession, dir: String,
                                keepVersions: Int, graceMs: Long,
                                genPattern: String,
                                cursorFloor: Int = 0): Unit = {
    require(keepVersions >= 1, s"keepVersions must be >= 1")
    val clean = cleanDir(dir)
    val p = new Path(clean)
    val fs = hadoopFs(spark, p)
    // at or before the cutoff is past the grace: with graceMs = 0, a
    // file written in this same millisecond is eligible too
    val cutoff = System.currentTimeMillis() - graceMs
    val versions = manifestVersions(spark, dir)
    val (drop0, keep) = versions.splitAt(math.max(0, versions.size - keepVersions))
    // retention/CDC coupling: a registered consumer's cursor pins its
    // version and everything after — those manifests (and, through
    // `referenced` below, their data) survive any keepVersions policy
    // unless the caller FORCES the drop (then the consumer fails
    // loudly on its next poll, the pre-r11 behavior)
    val drop = if (cursorFloor > 0) drop0.filter(_ < cursorFloor) else drop0
    // dropped manifest FILES get the same grace as generation dirs: a
    // time traveler that listed versions just before the vacuum can
    // still resolve its snapshot while the grace holds. Deletion
    // happens FIRST so `referenced` can then protect the data dirs of
    // every manifest that survives this pass (kept OR grace-retained) —
    // a graced old manifest must never outlive its own data.
    drop.foreach { v =>
      val mf = new Path(manifestDir(clean), f"v$v%09d.json")
      if (fs.exists(mf) && fs.getFileStatus(mf).getModificationTime <= cutoff)
        fs.delete(mf, false)
    }
    val referenced = manifestVersions(spark, dir)
      .map(v => readManifest(spark, dir, Some(v)))
      .flatMap(m => m.buckets.values ++ m.deltas.values.flatten).toSet
    fs.listStatus(p).toSeq
      .filter(s => s.getPath.getName.matches(genPattern) &&
        !referenced.contains(s.getPath.getName) &&
        s.getModificationTime <= cutoff)
      .foreach(s => fs.delete(s.getPath, true))
    // pointer hygiene: a `_groups` pointer whose decoded group dir no
    // longer has any committed manifest is DEAD — it stopped
    // constraining already (registeredGroupMin ignores it), but the
    // file would otherwise accumulate forever and cost a listing +
    // failed read per vacuum pass. Swept under the same age rule as
    // everything else (a freshly-registered group whose first commit
    // is in flight must survive).
    Fs.listOrEmpty(fs, new Path(clean, "_groups"))
      .filter(_.getModificationTime <= cutoff)
      .filter { s =>
        // the catch is scoped to the LISTING only: an undecodable name
        // is dead by construction, but a transient IO error while
        // listing a live group's manifests must NOT classify the
        // pointer as dead — deleting it would let a later vacuum drop
        // versions the group still pins (r13 ADVICE). Keep the pointer
        // this pass; a later clean listing sweeps it.
        nameDir(s.getPath.getName).forall(g =>
          try manifestVersions(spark, g).isEmpty
          catch { case _: Exception => false })
      }
      .foreach(s => fs.delete(s.getPath, false))
    // crashed-writer residue: manifest temps
    Fs.listOrEmpty(fs, manifestDir(clean))
      .filter(s => s.getPath.getName.startsWith(".tmp_") &&
        s.getModificationTime <= cutoff)
      .foreach(s => fs.delete(s.getPath, false))
  }

  /** Layout report over any frame carrying a partition/bucket column:
    * rows and file count per value — the "is my table healthy" probe
    * that decides when to compact (files per value creeping up) or
    * re-bucket (row skew). One aggregated scan; the file name is
    * projected before the aggregate (Spark 4 rejects nondeterministic
    * expressions inside aggregate arguments).
    */
  def tableStats(df: DataFrame, partCol: String): DataFrame =
    df.select(F.col(partCol), F.input_file_name().as("__f"))
      .groupBy(F.col(partCol))
      .agg(F.count(F.lit(1)).as("n_rows"),
        F.countDistinct(F.col("__f")).as("n_files"))

  /** tableStats over a raw partitioned dataset directory. */
  def tableStats(spark: SparkSession, dir: String,
                 partCol: String): DataFrame =
    tableStats(spark.read.parquet(dir), partCol)

  /** tableStats over a keyed table's LIVE snapshot (manifest-resolved;
    * stale generations don't pollute the report). Buckets that carry no
    * delta chain answer from the manifest's recorded row counts + a
    * file listing — zero data IO; delta-carrying buckets need the
    * resolved scan (a chain's live count isn't the sum of its levels).
    * The fs listing per bucket is bounded metadata work (≤ nBuckets
    * dirs), same class as the manifest read itself. Refuses a manifest
    * with no keyed metadata (a commit group).
    */
  def keyedStats(spark: SparkSession, dir: String): DataFrame = {
    val clean = cleanDir(dir)
    val m = readManifest(spark, dir)
    require(m.nBuckets > 0,
      s"$clean has no keyed metadata (a commit group)")
    val (fast, slow) = m.liveBuckets().partition(m.chain(_).isEmpty)
    val fs = hadoopFs(spark, new Path(clean))
    def filesIn(d: String): Long = fs.listStatus(new Path(clean, d))
      .count(_.getPath.getName.endsWith(".parquet")).toLong
    val fastRows = fast.map(b => (b, m.rows(m.buckets(b)),
      filesIn(m.buckets(b))))
    // slow buckets (delta chains): live row counts need the resolved
    // scan, but the FILE count comes from the manifest's dir list —
    // input_file_name() above the resolve window's exchange reads empty
    // (the file-block context doesn't cross a shuffle), which
    // under-reported exactly the chained buckets a compaction policy
    // watches
    val slowCounts =
      if (slow.isEmpty) Map.empty[Int, Long]
      else resolveBuckets(spark, clean, m, slow)
        .groupBy("kb").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val slowRows = slow.map(b =>
      (b, slowCounts.getOrElse(b, 0L), m.dirsOf(b).map(filesIn).sum))
    val all = (fastRows ++ slowRows).sortBy(_._1)
    if (all.isEmpty) tableStats(readKeyed(spark, dir).limit(0), "kb")
    else spark.createDataFrame(all).toDF("kb", "n_rows", "n_files")
  }

  // ---- reconciliation ------------------------------------------------------

  /** Row-level diff of two keyed frames: one row per key present on
    * either side, with status `added` (b only), `removed` (a only),
    * `changed` (both, any shared non-key column differs null-safely) or
    * `same`. Keys match and columns compare DIRECTLY and null-safely
    * (`<=>`: a NULL group key of an agg state is one key on both
    * sides) — no hashing, so there is nothing to mirror and no
    * collision caveat. One shuffle per side (the
    * full-outer equi-join); at 100 TB both sides stream through a
    * sort-merge join with no row amplification. Keys are assumed
    * UNIQUE per side (the keyed-table contract); duplicate keys
    * multiply through the full-outer join like in any SQL diff.
    */
  def diff(a: DataFrame, b: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "diff needs at least one key column")
    val shared = a.columns.filter(b.columns.contains).filterNot(keyCols.contains)
    val aa = a.select((keyCols ++ shared).map(F.col): _*)
      .withColumn("__pa", F.lit(1)).alias("a")
    val bb = b.select((keyCols ++ shared).map(F.col): _*)
      .withColumn("__pb", F.lit(1)).alias("b")
    val cond = keyCols.map(k => F.col(s"a.$k") <=> F.col(s"b.$k"))
      .reduce(_ && _)
    val sameCols =
      if (shared.isEmpty) F.lit(true)
      else shared.map(c => F.col(s"a.$c") <=> F.col(s"b.$c")).reduce(_ && _)
    aa.join(bb, cond, "full_outer").select(
      keyCols.map(k =>
        F.coalesce(F.col(s"a.$k"), F.col(s"b.$k")).as(k)) :+
        F.when(F.col("__pb").isNull, F.lit("removed"))
          .when(F.col("__pa").isNull, F.lit("added"))
          .when(sameCols, F.lit("same"))
          .otherwise(F.lit("changed")).as("status"): _*)
  }

  // ---- incremental aggregation (materialized-view maintenance) ------------

  // An incrementally maintained `group by keys → count / sum / mean /
  // min / max [/ approx distinct] [/ approx quantiles]` view persists
  // ONE partial-aggregate row per group:
  //   __cnt, __sum (EXACT DECIMAL(28,2) — merge order can never change
  //   results), __cnv (non-NULL count), __min/__max (mergeable under
  //   min/max), and, when `distinctKey` is set, __regs — the 2^p
  //   md5-HLL max-rank registers of `PF.hllMd5`, mergeable under
  //   element-wise max (so the estimate after any merge sequence is
  //   BIT-IDENTICAL to the full recompute, and DuckDB can mirror it).
  // The state lives in the bucketed agg-state table below
  // (`buildAggStateKeyed`): the build is the one full pass over
  // history, and every refresh after that is `mergeAggStateKeyed`.
  // NULL group keys are one group, as in SQL's group-by.

  /** Per-measure state-column suffix: ONE measure keeps the exact
    * pre-r11 names (__sum/__cnv/__min/__max — every existing state
    * stays valid); k ≥ 2 measures suffix each column with the measure
    * name (__sum_price, __min_qty, …). The shared row count stays
    * __cnt either way.
    */
  private def msfx(valueCols: Seq[String], c: String): String =
    if (valueCols.length == 1) "" else s"_$c"

  private def basicAggs(valueCols: Seq[String]) =
    Seq(F.count(F.lit(1)).as("__cnt")) ++ valueCols.flatMap { c =>
      val s = msfx(valueCols, c)
      Seq(
        F.sum(F.col(c).cast(org.apache.spark.sql.types.DecimalType(28, 2)))
          .as(s"__sum$s"),
        // the measure's NON-NULL row count (r11): what `avg(c)` and
        // `count(c)` divide/count by — __cnt is count(*); without this
        // a routed mean over a null-carrying measure would silently
        // disagree with the scan plan. Mergeable under sum.
        F.count(F.col(c)).as(s"__cnv$s"),
        F.min(F.col(c)).as(s"__min$s"),
        F.max(F.col(c)).as(s"__max$s"))
    }

  /** Multi-measure partial aggregate: one state row per group tracking
    * (__sum/__cnv/__min/__max) PER MEASURE — a dashboard tracking
    * (revenue, qty, latency) per key pays ONE state, one merge, one
    * manifest instead of three. The bounded sample, when requested,
    * tracks the FIRST measure (quantiles over more than one measure =
    * two states by design — the sample is the one state column whose
    * merge isn't a per-column fold).
    */
  private[sources] def partialAggCols(df: DataFrame, keys: Seq[String],
                                      valueCols: Seq[String],
                                      distinctKey: Option[String], p: Int,
                                      sampleK: Int = 0,
                                      sampleUnique: Option[String] = None)
      : DataFrame = {
    require(p >= 7 && p <= 16, s"hll p in [7,16], got $p")
    require(valueCols.nonEmpty, "agg state: no measure columns")
    val valueCol = valueCols.head
    val extra =
      // the native register aggregate (plans.HllRegsState): ONE
      // aggregation, a bounded 2^p-byte buffer per group, registers
      // persisted as BINARY. (A first cut densified a per-bucket
      // rollup with element_at-on-a-map inside a transform lambda —
      // CollapseProject inlined the map construction INTO the lambda
      // and rebuilt it per array element: 41 s for five rows.)
      distinctKey.map(dk =>
        graft.plans.HllRegs.stateMd5(F.col(dk), p).as("__regs")).toSeq ++
        // mergeable deterministic sample: the sampleK rows with the
        // SMALLEST sample hash — a pure function of the rows, so ANY
        // merge order (and a DuckDB ORDER BY hash LIMIT k mirror)
        // reproduces the identical sample; bounded per-group state
        // via the EarliestK heap. Quantiles finalize from the sample
        // (see finalizeAgg).
        //
        // SAMPLE GRAIN — the caller's one modeling decision:
        //  - default (sampleUnique = None): the hash is md5("smp:" ||
        //    value-string), so DUPLICATE VALUES share one hash key and
        //    the sample is uniform over DISTINCT VALUES, not rows. On
        //    skewed data (one value holding 99% of rows) the
        //    finalized quantiles estimate the distinct-value
        //    distribution — a value's multiplicity never raises its
        //    chance of being sampled.
        //  - sampleUnique = Some(rowKey): the hash salts in the
        //    row-unique key, making the sample UNIFORM OVER ROWS —
        //    the right grain for multiset quantiles on skewed data.
        //    The key must be unique per row and stable across
        //    refreshes (re-processing a row reproduces its hash), and
        //    the DuckDB mirror replays the same concatenation.
        // the GRAIN is part of the state's identity: the row-uniform
        // sample persists as __smpr, the distinct-value one as __smp,
        // so a refresh built with the WRONG grain fails loudly at the
        // merge's identity check (the select of the stored columns)
        // instead of silently mixing two hash functions into one heap
        (if (sampleK > 0) {
          val hashIn = sampleUnique match {
            case Some(u) => F.concat(F.lit("smp:"),
              F.col(valueCol).cast(org.apache.spark.sql.types.StringType),
              F.lit(":"),
              F.col(u).cast(org.apache.spark.sql.types.StringType))
            case None => F.concat(F.lit("smp:"),
              F.col(valueCol).cast(org.apache.spark.sql.types.StringType))
          }
          Seq(graft.plans.EarliestK.earliestK(
            graft.ext.TextAnalysis.h60(hashIn),
            F.col(valueCol).cast(org.apache.spark.sql.types.StringType),
            sampleK).as(
            if (sampleUnique.isDefined) "__smpr" else "__smp"))
        } else Nil)
    val ba = basicAggs(valueCols)
    df.groupBy(keys.map(F.col): _*).agg(ba.head, ba.tail ++ extra: _*)
  }

  /** Merge state rows per key: every state column is associative, so
    * the fold is a per-column aggregate — counts and sums add, min/max
    * fold, HLL registers union, bounded samples keep the k smallest.
    * Column handling is NAME-DRIVEN (prefix match), so single- and
    * multi-measure states, with or without registers or a sample,
    * merge through the same body.
    */
  private[sources] def aggOfState(state: DataFrame, keys: Seq[String],
                                  p: Int, sampleK: Int): DataFrame = {
    val cols = state.columns
    val aggs =
      Seq(F.sum(F.col("__cnt")).as("__cnt")) ++
      cols.filter(c => c.startsWith("__sum") || c.startsWith("__cnv"))
        .map(c => F.sum(F.col(c)).as(c)) ++
      cols.filter(_.startsWith("__min")).map(c => F.min(F.col(c)).as(c)) ++
      cols.filter(_.startsWith("__max")).map(c => F.max(F.col(c)).as(c)) ++
      (if (cols.contains("__regs"))
        Seq(graft.plans.HllRegs.unionState(F.col("__regs"), p).as("__regs"))
      else Nil) ++
      (Seq("__smp", "__smpr").filter(cols.contains).map(c =>
        // k smallest of the union of the (≤ sources) bounded samples —
        // a tiny interpreted sort over ≤ 2k entries per key; the sort
        // order (hash, value-string) is exactly the heap's
        F.slice(F.array_sort(F.flatten(F.collect_list(F.col(c)))),
          1, sampleK).as(c)))
    state.groupBy(keys.map(F.col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Finalize a state frame into the user-facing view:
    * (keys, n, total, mean[, vmin, vmax][, approx_distinct]) — the
    * extra columns appear when the state tracks them. `p` must match
    * the build's (the register count is 2^p).
    */
  def finalizeAgg(state: DataFrame, keys: Seq[String],
                  p: Int = 12): DataFrame = {
    // multi-measure states (r11) finalize per measure with suffixed
    // names: n, then total_<m>/mean_<m>/vmin_<m>/vmax_<m> for each —
    // single-measure states keep the exact pre-r11 shape
    val multi = state.columns.filter(_.startsWith("__sum_"))
      .map(_.stripPrefix("__sum_")).toSeq
    val base =
      if (multi.isEmpty) Seq(
        F.col("__cnt").as("n"),
        F.col("__sum").cast(org.apache.spark.sql.types.DoubleType).as("total"),
        // ONE IEEE division over the exact decimal sum (not decimal
        // division, whose result scale differs across engines)
        (F.col("__sum").cast(org.apache.spark.sql.types.DoubleType) /
          F.col("__cnt")).as("mean"))
      else F.col("__cnt").as("n") +: multi.flatMap(c => Seq(
        F.col(s"__sum_$c").cast(org.apache.spark.sql.types.DoubleType)
          .as(s"total_$c"),
        (F.col(s"__sum_$c").cast(org.apache.spark.sql.types.DoubleType) /
          F.col("__cnt")).as(s"mean_$c")))
    val minmax =
      if (multi.nonEmpty)
        multi.filter(c => state.columns.contains(s"__min_$c")).flatMap(c =>
          Seq(F.col(s"__min_$c").as(s"vmin_$c"),
            F.col(s"__max_$c").as(s"vmax_$c")))
      else if (state.columns.contains("__min"))
        Seq(F.col("__min").as("vmin"), F.col("__max").as("vmax"))
      else Nil
    val distinct =
      if (state.columns.contains("__regs"))
        // PF.hllMd5's estimate over the persisted registers — the
        // native scalar shares its arithmetic with graft_hll_regs
        // (and the DuckDB oracle replays it bit-for-bit)
        Seq(graft.plans.HllRegs.estimate(F.col("__regs"), p)
          .as("approx_distinct"))
      else Nil
    val quantiles =
      Seq("__smp", "__smpr").find(state.columns.contains).toSeq.flatMap { sc =>
        // the sample's order statistics estimate the population's at
        // the sample's GRAIN — distinct values (__smp, the default) or
        // rows (__smpr, built with sampleUnique; see partialAggCols'
        // sample-grain note); the median uses explicit middle/average
        // arithmetic, other quantiles nearest-rank v[ceil(q·n)] —
        // both exactly replayable in any SQL engine
        val sorted = s"array_sort(transform($sc, e -> CAST(e.p AS DOUBLE)))"
        def rank(q: Double) = F.round(F.expr(
          s"""CASE WHEN size($sc) = 0 THEN NULL ELSE
             |  $sorted[CAST(ceil($q * size($sc)) AS INT) - 1]
             |END""".stripMargin), 6)
        Seq(
          rank(0.25).as("approx_p25"),
          F.round(F.expr(
            s"""CASE WHEN size($sc) = 0 THEN NULL ELSE (
               |  $sorted[CAST((size($sc) + 1) / 2 AS INT) - 1]
               |  + $sorted[CAST(size($sc) / 2 + 1 AS INT) - 1]
               |) / 2.0 END""".stripMargin), 6).as("approx_median"),
          rank(0.9).as("approx_p90"))
      }
    state.select(keys.map(F.col) ++ base ++ minmax ++ distinct ++ quantiles: _*)
  }

  // ---- the agg-state table (merge cost ∝ batch) ----------------------------
  //
  // The ONE store of the incremental agg state: a KEYED TABLE
  // hash-bucketed by the group keys (state rows are unique per key by
  // construction, so the keyed layout fits exactly; a one-bucket state
  // is the whole-state rewrite of a small view, and high-cardinality
  // states size `nBuckets` so a refresh stays ∝ the batch):
  //  - the default refresh is copy-on-write at BUCKET granularity —
  //    only the buckets the batch's keys hash into are read,
  //    re-aggregated, and restaged (manifest path pruning, the same
  //    contract as upsertKeyed);
  //  - `asDeltas = true` APPENDS the batch's partial rows as per-bucket
  //    merge-on-read delta dirs — bytes written ∝ THE BATCH, never the
  //    buckets. Every state column is associative (counts, decimal
  //    sums, min/max, register-wise max, bounded bottom-k samples), so
  //    resolution is RE-AGGREGATION of the chain levels at read, and
  //    `compactKeyed` folds chains back into base generations on the
  //    `minChain` policy.
  // The manifest records resolve="agg" (and the build's aggP/aggK) for
  // these tables, so `resolveBuckets` — behind readKeyed, lookupKeyed,
  // compactKeyed and every other reader — re-aggregates their chains
  // instead of keeping the newest partial per key, and `kb` accepts a
  // NULL group key (one group, one bucket).

  /** (Re)build the BUCKETED agg state at `dir` from scratch: the
    * partial-aggregate of `df` written as a keyed table keyed on the
    * group keys (state columns and sample grain: `partialAggCols`);
    * size `nBuckets` so one bucket ≈ one comfortable rewrite at the
    * full state's scale.
    */
  def buildAggStateKeyed(df: DataFrame, dir: String, keys: Seq[String],
                         valueCol: String, nBuckets: Int,
                         distinctKey: Option[String] = None,
                         p: Int = 12, sampleK: Int = 0,
                         sampleUnique: Option[String] = None,
                         txn: Map[String, Long] = Map.empty): Unit =
    buildAggStateKeyedCols(df, dir, keys, Seq(valueCol), nBuckets,
      distinctKey, p, sampleK, sampleUnique, txn)

  /** MULTI-MEASURE variant (r11): one state tracking
    * (__sum/__cnv/__min/__max) per measure — a dashboard's
    * (revenue, qty, latency) per key is ONE state, one merge per
    * refresh, one manifest, instead of N of each. Single-element
    * `valueCols` is byte-identical to the classic build.
    */
  def buildAggStateKeyedCols(df: DataFrame, dir: String, keys: Seq[String],
                             valueCols: Seq[String], nBuckets: Int,
                             distinctKey: Option[String] = None,
                             p: Int = 12, sampleK: Int = 0,
                             sampleUnique: Option[String] = None,
                             txn: Map[String, Long] = Map.empty): Unit = {
    val spark = df.sparkSession
    val clean = cleanDir(dir)
    hadoopFs(spark, new Path(clean)).delete(new Path(clean), true)
    writeKeyedInternal(
      partialAggCols(df, keys, valueCols, distinctKey, p, sampleK,
        sampleUnique),
      dir, keys, nBuckets, Seq.empty, resolve = "agg",
      txn = txn,
      // the build's p/sampleK/sampleUnique are TABLE METADATA from
      // here on: reads, merges, compactions, and MV rebuilds default
      // to them instead of trusting the caller to repeat the build's
      // numbers (the sample GRAIN is part of the state's identity)
      aggP = p, aggK = sampleK, aggSU = sampleUnique.getOrElse(""))
  }

  /** Fold one batch into the bucketed agg state. An omitted
    * `p`/`sampleK` (sentinels 0/-1) or `sampleUnique` is the build's,
    * recorded in the manifest, and a contradicting one fails loudly;
    * `distinctKey` must match the build's — a missing state column
    * fails loudly at the align select (see `partialAggCols`).
    * Copy-on-write mode reads +
    * re-aggregates + restages ONLY the touched buckets inside the
    * optimistic-commit retry; `asDeltas` appends the partial as delta
    * dirs (bytes ∝ batch) — the batch partial has unique keys per call
    * by construction, satisfying appendDeltaKeyed's contract.
    */
  def mergeAggStateKeyed(spark: SparkSession, dir: String, batch: DataFrame,
                         keys: Seq[String], valueCol: String,
                         distinctKey: Option[String] = None,
                         p: Int = 0, sampleK: Int = -1,
                         sampleUnique: Option[String] = None,
                         asDeltas: Boolean = false,
                         txn: Map[String, Long] = Map.empty): Unit =
    mergeAggStateKeyedCols(spark, dir, batch, keys, Seq(valueCol),
      distinctKey, p, sampleK, sampleUnique, asDeltas, txn)

  /** Multi-measure merge — the batch partial carries every measure's
    * columns; a measure set differing from the build's fails loudly at
    * the stored-column align select (same identity rule as the sample
    * grain).
    */
  def mergeAggStateKeyedCols(spark: SparkSession, dir: String,
                             batch: DataFrame,
                             keys: Seq[String], valueCols: Seq[String],
                             distinctKey: Option[String] = None,
                             p: Int = 0, sampleK: Int = -1,
                             sampleUnique: Option[String] = None,
                             asDeltas: Boolean = false,
                             txn: Map[String, Long] = Map.empty): Unit = {
    val clean = cleanDir(dir)
    val m0 = readManifest(spark, dir)
    require(m0.nBuckets > 0 && m0.keyCol == keys.mkString(","),
      s"$clean is keyed on (${m0.keyCol}, ${m0.nBuckets} buckets); " +
        s"the merge passed (${keys.mkString(",")})")
    require(m0.resolve == "agg",
      s"$clean is not an agg-state table (resolve='${m0.resolve}') — " +
        "row tables merge through upsertKeyed/appendDeltaKeyed")
    // p/sampleK are the BUILD's recorded values (sentinels 0/-1 =
    // "use the manifest"); a contradicting one fails loudly — a smaller
    // sampleK would truncate the touched buckets' samples under the
    // build's recorded aggK, a different p would union HLL registers of
    // two sizes
    require(p <= 0 || p == m0.aggP,
      s"$clean records hll p=${m0.aggP}; the merge passed p=$p")
    require(sampleK < 0 || sampleK == m0.aggK,
      s"$clean records sampleK=${m0.aggK}; the merge passed sampleK=$sampleK")
    // the sample GRAIN also defaults to the build's recorded column
    // (r12 manifests): a caller passing None no longer silently flips
    // a row-uniform (__smpr) state to the distinct-value grain — and a
    // caller CONTRADICTING the recorded column fails loudly (two salt
    // columns under one __smpr name would silently mix hash functions
    // in one heap)
    require(sampleUnique.isEmpty || m0.aggSU.isEmpty ||
      sampleUnique.contains(m0.aggSU),
      s"$clean records sample grain column '${m0.aggSU}'; the merge " +
        s"passed sampleUnique='${sampleUnique.get}'")
    val sue = sampleUnique.orElse(Option(m0.aggSU).filter(_.nonEmpty))
    val partial = partialAggCols(batch, keys, valueCols, distinctKey,
      m0.aggP, m0.aggK, sue)
    if (asDeltas) {
      appendDeltaKeyedCols(spark, dir, partial, keys, m0.nBuckets,
        txn = txn)
      return
    }
    val (withKb, touched) = hashedBatch(partial,
      kb(m0))
    if (touched.isEmpty) return
    withCommitRetry(s"mergeAggStateKeyed($dir)") {
      val m = readManifest(spark, dir)
      // the partial's kb was computed under m0's layout — a concurrent
      // re-bootstrap changing it would park state in the wrong buckets
      require(m.nBuckets == m0.nBuckets && m.keyCol == m0.keyCol &&
        m.depths == m0.depths,
        s"$clean re-bootstrapped/re-bucketed to (${m.keyCol}, " +
          s"${m.nBuckets}) buckets mid-merge — re-run the merge")
      // touched buckets' CURRENT state: base generations ∪ any agg
      // delta chains, read RAW (resolution is the re-aggregate below —
      // never last-wins) — so a CoW merge also folds existing chains
      val dirs = touched.flatMap(m.dirsOf)
      val base =
        if (dirs.nonEmpty)
          readGenDirs(spark, clean, m, dirs, withTomb = true)
        else withKb.limit(0)
      // align the batch partial to the STORED column set — the
      // state's identity check: partial columns the state never
      // tracked (__regs of a merge naming a distinctKey the build did
      // not) drop; a state column the partial lacks (wrong sample
      // grain / missing distinctKey) fails loudly here
      val cols = base.columns.filterNot(c => c == "kb" || c == "__tomb")
        .toIndexedSeq
      val merged = aggOfState(
        base.select(cols.map(F.col): _*)
          .unionByName(withKb.select(cols.map(F.col): _*)),
        keys, m0.aggP, m0.aggK)
        .withColumn("kb", kb(m))
      commitKeyed(spark, stageMerge(spark, dir, merged, touched, m,
        txn = txn))
    }
  }

  /** REPLACE the agg-state rows whose `tagCol` value is in `tags` with
    * `partial`'s rows (which must all carry tags in `tags`) — the
    * refresh primitive for BUCKET-GRAIN materialized views: the state
    * tracks per-(group, base-bucket) partials, a base commit
    * invalidates the changed buckets' partials wholesale, and this
    * swaps exactly those rows in one manifest commit. Unlike a merge
    * (which FOLDS partials into existing rows — correct only for
    * insert-only feeds), replace handles updates and deletes, and is
    * IDEMPOTENT: re-running the same refresh reproduces the same state.
    * `txn` lands in the same commit (a view's watermark).
    *
    * Cost: ONE write query. The state is bucketed on `tagCol` alone, so
    * the condemned rows and the partial's sit in the tags' own buckets
    * (`bucketsOf`, on the driver), the only ones read and rewritten. The
    * partial is computed in the write (a retry recomputes it from its
    * pinned inputs); a row of it outside `tags` fails the write job.
    */
  private[graft] def replaceAggStateByTag(spark: SparkSession, dir: String,
                                         partial: DataFrame, tagCol: String,
                                         tags: Seq[Int],
                                         txn: Map[String, Long]): Unit = {
    require(tags.nonEmpty, "replaceAggStateByTag: no tags")
    val clean = cleanDir(dir)
    withCommitRetry(s"replaceAggStateByTag($dir)") {
      val m = readManifest(spark, dir)
      require(m.resolve == "agg" && m.bucketKey == Seq(tagCol),
        s"$clean is not an agg state bucketed on '$tagCol' (resolve=" +
          s"'${m.resolve}', bucket key ${m.bucketKey.mkString(",")})")
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
      val touched = bucketsOf(m, spark.createDataFrame(
        tags.map(org.apache.spark.sql.Row(_)).asJava,
        StructType(Seq(StructField(tagCol, IntegerType)))))
      val cond = F.coalesce(F.col(tagCol).isin(tags: _*), F.lit(false))
      val partKb = partial.withColumn("kb", F.when(!cond, F.raise_error(
        F.lit(s"replaceAggStateByTag($clean): partial carries rows " +
          "outside the replaced tag set — those would merge, not replace")))
        .otherwise(kb(m)).cast(IntegerType))
      val merged = resolveBuckets(spark, clean, m, touched).filter(!cond)
        .unionByName(partKb, allowMissingColumns = true)
      commitKeyed(spark, stageMerge(spark, dir, merged, touched, m, txn))
    }
  }

  // ---- cross-table commit groups -------------------------------------------
  //
  // A pipeline writing a fact table + its search index + its agg state
  // makes three INDEPENDENT manifest commits — a reader can observe
  // fact v(n+1) next to index v(n). A commit GROUP pins (table dir →
  // manifest version) tuples in one manifest of its own, published
  // with the same hard-link/rename-if-absent discipline, so a reader
  // resolving through the group sees a version SET some writer
  // published atomically — never a mix. Reuses the keyed-manifest
  // format: pins ride the b64-keyed `txn` map (no buckets).

  /** Publish `pins` as the next version of the commit group at
    * `groupDir`; tables the previous group version pinned and this
    * call doesn't re-pin CARRY FORWARD (a pipeline pins what it wrote).
    * Returns the committed group version. Losing a publish race
    * re-reads and re-publishes — pins are writer-local facts, nothing
    * to recompute.
    */
  def commitGroup(spark: SparkSession, groupDir: String,
                  pins: Map[String, Int],
                  keepVersions: Int = 0): Int = {
    require(pins.nonEmpty, "commitGroup: no pins")
    val clean = cleanDir(groupDir)
    val p = pins.map { case (t, v) => cleanDir(t) -> v.toLong }
    val committed = commitPins(spark, clean)(_ ++ p)
    // register the group with each member it pins (idempotent pointer
    // file; the retention floor itself is read from the group's LIVE
    // manifests at vacuum time, so this write races nothing)
    p.keys.foreach { member =>
      val gp = new Path(registeredGroupPath(member, clean))
      val fs = Fs.forWrite(hadoopFs(spark, gp))
      if (!fs.exists(gp)) {
        fs.mkdirs(gp.getParent)
        val out = fs.create(gp, true)
        try out.write(clean.getBytes("UTF-8")) finally out.close()
      }
    }
    // groups need their own retention cadence: every surviving group
    // VERSION's pins floor member vacuum, so a pipeline committing the
    // group per run would otherwise pin members at its FIRST run
    // forever (and each member vacuum re-reads O(versions) group
    // manifests). keepVersions > 0 applies the policy right here —
    // the usual call is keepVersions = 1 (only the newest pin set
    // constrains); 0 keeps every version (a time-travel group).
    if (keepVersions > 0) vacuumGroup(spark, clean, keepVersions)
    committed
  }

  /** GC old versions of the commit group at `groupDir` (same
    * keep-newest + grace contract as `vacuumKeyed` — group manifests
    * are pins only, so this never deletes data, it only RELAXES the
    * members' vacuum floors). A reader time-traveling to a dropped
    * group version fails loudly, like any vacuumed snapshot.
    */
  def vacuumGroup(spark: SparkSession, groupDir: String,
                  keepVersions: Int = 1,
                  graceMs: Long = 15 * 60 * 1000L): Unit =
    vacuumGenerations(spark, groupDir, keepVersions, graceMs,
      genPattern = "(?!)") // groups have no generation dirs

  /** Delete the commit group at `groupDir` ENTIRELY: sweep the pointer
    * files it registered at every member its LATEST version pins, then
    * remove the group dir. Members' vacuum floors relax immediately;
    * a `readGroup` against the dropped group fails loudly. The inverse
    * of the `commitGroup` lifecycle — call when the pipeline the group
    * served is decommissioned.
    */
  def dropGroup(spark: SparkSession, groupDir: String): Unit = {
    val clean = cleanDir(groupDir)
    val members =
      if (manifestVersions(spark, clean).isEmpty) Seq.empty[String]
      else readManifest(spark, clean).txn.keys.toSeq
    members.foreach { member =>
      val gp = new Path(registeredGroupPath(member, clean))
      val fs = hadoopFs(spark, gp)
      fs.delete(gp, false)
    }
    val p = new Path(clean)
    hadoopFs(spark, p).delete(p, true)
  }

  /** Delete the registered CDC cursor `<dir>/_cursors/<name>` and its
    * versions: the consumer is decommissioned and its version floor
    * must stop constraining `vacuumKeyed`. (A consumer merely PAUSING
    * keeps its cursor — that is the whole point of registration.)
    */
  def unregisterCursor(spark: SparkSession, dir: String,
                       name: String): Unit = {
    val p = new Path(registeredCursorPath(dir, name))
    hadoopFs(spark, p).delete(p, true)
  }

  /** The group's pins (table dir → pinned manifest version) at
    * `version` (latest when None).
    */
  def groupPins(spark: SparkSession, groupDir: String,
                version: Option[Int] = None): Map[String, Int] =
    readManifest(spark, cleanDir(groupDir), version).txn
      .map { case (t, v) => t -> v.toInt }

  /** Read `tableDir`'s snapshot AT THE VERSION the commit group pins —
    * the consistent-read face. ONE group manifest resolves every
    * member table, so a reader racing a pipeline sees the whole
    * version set of one atomic group publish; each member resolves by
    * its own manifest discipline (row table or agg state). A
    * member vacuumed past its pin fails loudly (size the members'
    * vacuum retention to the group's consumers, like CDC cursors).
    */
  def readGroup(spark: SparkSession, groupDir: String,
                tableDir: String, version: Option[Int] = None): DataFrame = {
    val t = cleanDir(tableDir)
    val pins = groupPins(spark, groupDir, version)
    val v = pins.getOrElse(t, throw new IllegalArgumentException(
      s"commit group ${cleanDir(groupDir)} does not pin $t " +
        s"(pins: ${pins.keys.toSeq.sorted.mkString(", ")})"))
    readKeyed(spark, t, Some(v))
  }

  /** Changelog of a MATERIALIZED VIEW (bucketed agg state) between two
    * snapshots: one row per group key whose FINALIZED view row was
    * added / removed / changed between `fromV` and `toV`, carrying the
    * NEW finalized columns (NULL for removed) plus the OLD ones as
    * `old_<col>` (NULL for added) — exactly what a downstream consumer
    * needs to maintain ITS state incrementally (apply new, retract
    * old). The changelog is defined ON THE VIEW: a refresh that left a
    * group's finalized row identical emits nothing.
    *
    * Scale contract (the keyedChanges twin): the manifests tell which
    * buckets changed generation or chain, so only THOSE buckets are
    * read and re-aggregated on either side — O(changed buckets), never
    * state size. A re-bootstrap between the versions (layout change)
    * diffs every bucket, which is what actually happened.
    */
  def aggStateChanges(spark: SparkSession, dir: String,
                      fromV: Int, toV: Int): DataFrame = {
    val clean = cleanDir(dir)
    val m1 = readManifest(spark, dir, Some(fromV))
    val m2 = readManifest(spark, dir, Some(toV))
    require(m2.resolve == "agg" && m1.resolve == "agg",
      s"$clean is not a bucketed agg state — use keyedChanges")
    val sameLayout = m1.nBuckets == m2.nBuckets && m1.keyCol == m2.keyCol &&
      m1.bucketKey == m2.bucketKey && m1.depths == m2.depths
    val changed =
      if (sameLayout) m2.changedFrom(m1)
      else (m1.liveBuckets() ++ m2.liveBuckets()).distinct
    val keys = m2.keyCols
    def side(m: KeyedManifest): DataFrame =
      finalizeAgg(resolveBuckets(spark, clean, m, changed), keys)
    val o = side(m1)
    val n = side(m2)
    val valCols = n.columns.filterNot(keys.contains).toSeq
    val d = diff(o, n, keys).filter(F.col("status") =!= "same")
    // attach each side's values by a NULL-SAFE key match (a USING join
    // would drop the NULL group's values)
    def prefixed(df: DataFrame, p: String, names: String => String) =
      df.select(keys.map(k => F.col(k).as(s"$p$k")) ++
        valCols.map(c => F.col(c).as(names(c))): _*)
    def on(p: String) = keys.map(k => F.col(k) <=> F.col(s"$p$k"))
      .reduce(_ && _)
    d.join(prefixed(n, "__n_", identity), on("__n_"), "left")
      .join(prefixed(o, "__o_", c => s"old_$c"), on("__o_"), "left")
      .select(keys.map(F.col) ++ (F.col("status") +:
        (valCols.map(F.col) ++ valCols.map(c => F.col(s"old_$c")))): _*)
  }

  /** Write `df` clustered by the Z-order (Morton) interleave of two
    * integer dimension columns. Rows whose Z-values share the top
    * `bucketBits` bits land in the same file, so every file covers a
    * small aligned rectangle of the (a, b) space — its parquet min/max
    * stats on BOTH columns are narrow, and a conjunctive range filter
    * prunes to the few files whose rectangle intersects it. One
    * exchange (on the Z-bucket) paid at write time; the Z-bucket is a
    * PURE function of the row (no range-sampling nondeterminism).
    *
    * `aCol`/`bCol` must be non-negative and < 2^bits (callers bucket
    * raw dimensions down with `%`/`div` first).
    */
  def writeZOrdered(df: DataFrame, dir: String, aCol: String, bCol: String,
                    bits: Int = 10, bucketBits: Int = 6): Unit =
    writeZOrderedN(df, dir, Seq(aCol, bCol), bits, bucketBits)

  /** N-dimensional variant: cluster files by the top `bucketBits`
    * bits of the k-way Morton interleave, so every file covers an
    * aligned k-rectangle of the dimension space and a conjunctive
    * range predicate over ANY subset of the dimensions prunes files.
    * More dimensions split the same skipping budget — 2-3 is the
    * sweet spot (the same guidance as Delta's OPTIMIZE ZORDER).
    */
  def writeZOrderedN(df: DataFrame, dir: String, cols: Seq[String],
                     bits: Int = 10, bucketBits: Int = 6): Unit = {
    require(bucketBits >= 1 && bucketBits <= cols.length * bits,
      s"bucketBits must be in [1, ${cols.length * bits}], got $bucketBits")
    val zb = F.shiftright(
      graft.functions.PF.zvalueN(cols.map(F.col), bits),
      cols.length * bits - bucketBits)
    df.withColumn("__zb", zb)
      .repartition(1 << bucketBits, F.col("__zb"))
      .drop("__zb")
      .write.mode("overwrite").parquet(dir)
  }
}
