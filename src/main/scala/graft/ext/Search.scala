package graft.ext

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import TextAnalysis.{tokens, h60}

/** Ranked text retrieval over a document corpus: BM25 search, TF-IDF
  * keyword extraction, corpus-frequency analytics, and a persisted
  * term-bucketed inverted index for build-once/query-many deployments.
  * (The reference engine has no search operator; this extends the
  * corpus-pipeline family the same way the ANN/dedup modules do.)
  *
  * Scale shapes:
  *  - `bm25Search` is ZERO-shuffle on the corpus: per-term tfs are
  *    scan-level expressions (the query's terms are plan-build-time
  *    constants, so "probe the inverted index" becomes "count matches
  *    inside the token array"), corpus statistics reduce to ONE
  *    broadcast row, and ranking is a TakeOrderedAndProject — at
  *    100 TB the cost is two projection-pruned scans (stats pass +
  *    scoring pass) and nothing else.
  *  - `topTermsPerDoc` / `topTokens` shuffle ∝ tokens once (the
  *    partial-agg groupBy), never ∝ docs² — document frequency joins
  *    back via a broadcastable per-term table.
  *  - `buildIndex`/`searchIndex` persist term-bucketed postings so
  *    repeated queries skip the corpus scan entirely: bucket ids are
  *    pure functions of the query terms, so Spark prunes every
  *    non-matching partition statically (same discipline as the
  *    persisted IVF index).
  *
  * Determinism: scoring is RATIONAL arithmetic only (the classic BM25
  * `ln((N-df+0.5)/(df+0.5) + 1)` idf is replaced by its argument —
  * a strictly monotone per-term transform; libm's log differs in
  * final ulps across engines, +,*,/ do not), association order is
  * fixed, and scores round to 6 decimals before the rank sort, so
  * cross-engine hash checks are exact. `classicIdf = true` restores
  * the log form when Lucene-parity matters more than bit equality.
  */
object Search {

  private val segObsCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Per-term raw term frequency inside a whitespace-token array —
    * a pure scan expression (no explode, no shuffle).
    */
  def termFreq(text: Column, term: String): Column =
    F.size(F.filter(tokens(text), t => t === lit(term)))

  /** The ONE BM25 per-term scoring expression, shared verbatim by the
    * direct scan path and the index-backed path — their bit-identity
    * (asserted by x61/x62 and SearchSpec) must be structural, not
    * maintained by copy-paste. `tf`/`dfr` supply each term's columns;
    * the association order here is the cross-engine contract mirrored
    * by SparkEntry.bm25OracleSql.
    */
  private def bm25ScoreExpr(nTerms: Int, tf: Int => Column,
                            dfr: Int => Column, dl: Column,
                            n: Column, sdl: Column,
                            k1: Double, b: Double,
                            classicIdf: Boolean): Column = {
    val nD = n.cast(DoubleType)
    val avgdl = sdl.cast(DoubleType) / nD
    (0 until nTerms).map { i =>
      val tfD = tf(i).cast(DoubleType)
      val dfD = dfr(i).cast(DoubleType)
      val rational = (nD - dfD + lit(0.5)) / (dfD + lit(0.5))
      val idf = if (classicIdf) F.log(rational + lit(1.0)) else rational
      idf * (tfD * lit(k1 + 1.0)) /
        (tfD + lit(k1) * (lit(1.0) - lit(b) +
          lit(b) * (dl.cast(DoubleType) / avgdl)))
    }.reduce(_ + _)
  }

  /** BM25 top-k ranked retrieval for a bag of query terms (duplicate
    * terms collapse — SET semantics, mirrored by the oracle builder).
    *
    * Plan: two projection-pruned corpus scans, zero corpus shuffles —
    * one scan folds to the single-row stats aggregate (N, Σdl,
    * df_i...) broadcast back via cross join, the other computes
    * (dl, tf_i...) per doc and scores; top-k via
    * TakeOrderedAndProject on (score desc, id) — never a global sort.
    */
  def bm25Search(df: DataFrame, idCol: String, textCol: String,
                 queryTerms: Seq[String], k: Int,
                 k1: Double = 1.2, b: Double = 0.75,
                 classicIdf: Boolean = false,
                 requireAll: Boolean = false): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Search: empty query")
    val terms = queryTerms.distinct
    val fCols = col(idCol) +: F.size(tokens(col(textCol))).as("dl") +:
      terms.zipWithIndex.map { case (t, i) =>
        termFreq(col(textCol), t).as(s"tf_$i")
      }
    val feat = df.select(fCols: _*)
    val stats = feat.agg(
      F.count(lit(1)).as("n_docs"),
      F.sum(col("dl")).as("sdl") +:
        terms.indices.map(i =>
          F.sum(F.when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i")): _*)
    val score = bm25ScoreExpr(terms.length,
      i => col(s"tf_$i"), i => col(s"df_$i"), col("dl"),
      col("n_docs"), col("sdl"), k1, b, classicIdf)
    // conjunctive (AND) mode gates on every term present; corpus
    // statistics stay corpus-wide either way (the standard BM25-AND:
    // same scores, restricted candidate set) — still a pure scan
    // predicate, no extra shuffle
    val gate =
      if (requireAll)
        terms.indices.map(i => col(s"tf_$i") > 0).reduce(_ && _)
      else lit(true)
    feat.crossJoin(F.broadcast(stats))
      .filter(gate)
      .select(col(idCol), F.round(score, 6).as("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Evaluate `cols` ONCE per row and let `body` reference the bound
    * values — a let-binding via array(struct(...)) + transform.
    * Catalyst has no let, and CollapseProject inlines a projected
    * subexpression INTO downstream HOF lambdas, re-evaluating it per
    * array element (a tokenizing split inside a position lambda
    * re-splits the text per candidate position — measured 3-10x on
    * the phrase/proximity scans). Binding through a single-element
    * transform forces one evaluation: the HOF argument is computed
    * once, the lambda references the bound element.
    */
  private def let(cols: Seq[Column])(body: Seq[Column] => Column): Column =
    F.element_at(
      F.transform(F.array(F.struct(cols.zipWithIndex.map {
        case (c, i) => c.as(s"_l$i")
      }: _*)),
        s => body(cols.indices.map(i => s.getField(s"_l$i")))),
      1)

  /** Count of exact CONSECUTIVE occurrences of `phrase` inside the
    * whitespace-token array — a pure scan expression like `termFreq`
    * (the phrase is a plan-build-time constant; no explode, no
    * shuffle). Overlapping occurrences each count ("a a a" contains
    * "a a" twice).
    */
  def phraseCount(text: Column, phrase: Seq[String]): Column = {
    require(phrase.nonEmpty, "phraseCount: empty phrase")
    val L = phrase.length
    let(Seq(tokens(text))) { case Seq(tok) =>
      // guard n < L explicitly: sequence(0, n-L) would COUNT DOWN for
      // n < L (implicit step -1) and fabricate start positions
      F.when(F.size(tok) < L, lit(0)).otherwise(
        F.size(F.filter(F.sequence(lit(0), F.size(tok) - L), i =>
          phrase.zipWithIndex.map { case (t, j) =>
            F.element_at(tok, i + j + 1) === lit(t) // element_at is 1-based
          }.reduce(_ && _))))
    }
  }

  /** Exact-phrase retrieval on the direct scan path: every doc
    * containing `phrase` as consecutive tokens, with its occurrence
    * count. One projection-pruned scan, no shuffle at all — the
    * phrase test never leaves the row.
    */
  def phraseSearch(df: DataFrame, idCol: String, textCol: String,
                   phrase: Seq[String]): DataFrame =
    df.select(col(idCol), phraseCount(col(textCol), phrase).as("n_occ"))
      .filter(col("n_occ") > 0)

  /** 0-based positions of `term` inside the token array — the scan
    * expression the near/proximity operators chain over (the index
    * path reads the same positions from the postings instead).
    */
  private def posOf(tok: Column, term: String): Column =
    F.filter(F.sequence(lit(0), F.size(tok) - 1),
      p => F.element_at(tok, p + 1) === lit(term))

  /** Count of ORDERED proximity chains: positions q_0 < q_1 < ... with
    * q_{j+1} - q_j <= slop, q_j a position of terms(j). slop = 1 is
    * exactly the phrase semantics; larger slop allows up to slop-1
    * intervening tokens between consecutive terms. The count is the
    * number of chain STARTS (distinct q_0 that can begin a full
    * chain), so it is deterministic and oracle-mirrorable. Built as
    * nested EXISTS lambdas over the per-term position arrays — shared
    * verbatim by the scan and index paths (their bit-identity is
    * structural).
    */
  private def chainCount(posOfSlot: Int => Column, nSlots: Int,
                         slop: Int): Column = {
    def rest(j: Int, prev: Column): Column =
      if (j == nSlots) lit(true)
      else F.exists(posOfSlot(j),
        q => q > prev && q <= prev + slop && rest(j + 1, q))
    F.size(F.filter(posOfSlot(0), q0 => rest(1, q0)))
  }

  /** Ordered-proximity retrieval on the direct scan path: docs where
    * the terms occur in order with at most `slop - 1` intervening
    * tokens between consecutive terms, with the chain-start count.
    * Same zero-shuffle shape as `phraseSearch` (which this equals at
    * slop = 1).
    */
  def nearSearch(df: DataFrame, idCol: String, textCol: String,
                 terms: Seq[String], slop: Int): DataFrame = {
    require(terms.nonEmpty, "nearSearch: empty query")
    require(slop >= 1, s"nearSearch: slop must be >= 1, got $slop")
    val uniq = terms.distinct
    // nested lets: the token split binds once per row, then each
    // slot's position array binds once — the nested exists chains
    // reference BOUND arrays, never re-derive them per candidate
    val cnt = let(Seq(tokens(col(textCol)))) { case Seq(tok) =>
      let(uniq.map(t => posOf(tok, t))) { poss =>
        chainCount(j => poss(uniq.indexOf(terms(j))), terms.length, slop)
      }
    }
    df.select(col(idCol), cnt.as("n_occ"))
      .filter(col("n_occ") > 0)
  }

  /** TF-IDF keyword extraction: the `m` most distinctive terms per
    * document, scored tf * (N / df) (rational idf — same determinism
    * rationale as `bm25Search`), ties broken lexicographically.
    *
    * Plan: explode → (id, term) partial-agg count (the one shuffle,
    * ∝ tokens); per-term document frequency is a second partial agg
    * over the already-grouped postings and joins back broadcastable;
    * per-doc top-m is a window PARTITIONED BY doc — thousands of
    * parallel partitions, never a global sort.
    */
  def topTermsPerDoc(df: DataFrame, idCol: String, textCol: String,
                     m: Int): DataFrame = {
    val postings = df
      .select(col(idCol), F.explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(F.count(lit(1)).as("tf"))
    val ndocs = df.agg(F.count(lit(1)).as("n_docs"))
    // document frequency derives from the BASE table as a sibling
    // branch, not from `postings` itself — joining a frame onto a
    // subplan of its own lineage misresolves join keys (CLAUDE.md
    // shared-exprId rule); recomputing the explode is the measured-
    // cheaper side of the checkpoint economics anyway
    val dfreq = df
      .select(col(idCol), F.explode(tokens(col(textCol))).as("term"))
      .distinct()
      .groupBy("term").agg(F.count(lit(1)).as("df"))
    val scored = postings
      .join(dfreq, "term")
      .crossJoin(F.broadcast(ndocs))
      .select(col(idCol), col("term"),
        F.round(col("tf").cast(DoubleType) *
          (col("n_docs").cast(DoubleType) / col("df").cast(DoubleType)), 6)
          .as("tfidf"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", F.row_number().over(w))
      .filter(col("rank") <= m)
      .select(col(idCol), col("rank"), col("term"), col("tfidf"))
  }

  /** Exact corpus heavy hitters: the `k` most frequent tokens with
    * their counts. One partial-agg shuffle on the term, then a
    * TakeOrderedAndProject — the exact baseline the Misra-Gries
    * sketch approximates.
    */
  def topTokens(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(F.explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(F.count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(k)

  /** Misra-Gries frequent tokens as (term, n) rows — the bounded-state
    * face of `topTokens` (state capped at `cap` counters per partition
    * regardless of vocabulary; exact while the vocabulary fits the
    * capacity, a guaranteed-band estimate beyond it). The one pipeline
    * behind both the x59 query and the in-language `freq_tokens`.
    */
  def freqTokens(df: DataFrame, textCol: String, cap: Int): DataFrame =
    df.select(F.explode(tokens(col(textCol))).as("term"))
      .agg(graft.plans.FreqSketch.freqSketch(col("term"), cap).as("sk"))
      .select(F.explode(col("sk")).as("e"))
      .select(col("e.term").as("term"), col("e.est").as("n"))

  // ---- persisted inverted index -----------------------------------------

  /** Build a term-bucketed inverted index under `dir`, committed as a
    * SEGMENTED dataset (sources/Maintenance manifest): the manifest
    * lists immutable segment dirs, each holding
    *  - `postings/` (bucket, term, doc_id, tf, dl[, positions])
    *    partitioned by bucket = md5-hash(term) mod nBuckets; the
    *    sorted 0-based token positions make the same index serve
    *    phrase/proximity queries (`phraseSearchIndex`) — Lucene's
    *    positional-postings layout, one array per (doc, term),
    *  - `stats/` the segment's corpus-stats row (n_docs, sdl) —
    *    ADDITIVE across segments, so `appendIndex` can grow the index
    *    without touching existing segments (Lucene's segment model),
    *    and queries fold the per-segment rows into corpus statistics.
    * Per-term document frequency is NOT materialized separately: it
    * folds out of the postings at query time after partition pruning
    * (the pruned slice is tiny), which keeps a segment build one
    * explode + one shuffle. A rebuild REPLACES the segment list in one
    * manifest commit (readers mid-rebuild resolve the old or new
    * complete index); old segments GC via `vacuumIndex`.
    *
    * `filesPerBucket` decouples the build's write parallelism from the
    * pruning granularity: the pre-write exchange used to be exactly
    * nBuckets tasks, which bounds BOTH parallelism and file size by
    * the bucket count — a sub-split key keeps one bucket = one
    * partition DIR (pruning unchanged) while spreading its rows over
    * several tasks/files.
    */
  def buildIndex(df: DataFrame, idCol: String, textCol: String,
                 dir: String, nBuckets: Int = 64,
                 positions: Boolean = true,
                 filesPerBucket: Int = 1): Unit = {
    val spark = df.sparkSession
    val seg = stageSegment(df, idCol, textCol, dir, nBuckets, positions,
      filesPerBucket)
    graft.sources.Maintenance.commitSegment(spark, dir, seg, replace = true)
  }

  /** Append `df`'s documents to an EXISTING index as a new segment:
    * existing segments are never read or rewritten (bytes ∝ the new
    * documents), one manifest commit makes the grown index visible
    * atomically. Bucket count and positional layout come from the
    * index's own metadata — never a caller guess. Doc ids must be
    * disjoint from those already indexed (same contract as appending
    * rows to any corpus; duplicate ids would double-count df/tf).
    */
  def appendIndex(df: DataFrame, idCol: String, textCol: String,
                  dir: String, filesPerBucket: Int = 1): Unit = {
    val spark = df.sparkSession
    // fail BEFORE staging: a dir holding no index manifest (never
    // built, or a pre-manifest layout) has no segment list to extend
    require(graft.sources.Maintenance.manifestVersions(spark, dir).nonEmpty,
      s"$dir holds no index manifest (not built, or a pre-manifest " +
        "layout) — build it (buildIndex) before appending")
    val segs = graft.sources.Maintenance.listSegments(spark, dir)
    val nBuckets = statsOf(spark, segs)._3
    // positional layout detection from ONE parquet footer, read
    // driver-side (schema inference over the partitioned root lists
    // every bucket dir — a distributed listing job past the discovery
    // threshold — for a yes/no answer one footer already holds).
    // Scans SEGMENTS until one with postings is found: an empty first
    // segment (no bucket= dirs — an empty batch writes only _SUCCESS)
    // must not silently flip a positional index to non-positional for
    // every doc appended after it. Bucket dirs are walked lazily, so
    // the listing stops at the first one holding a parquet file.
    val conf = spark.sparkContext.hadoopConfiguration
    val positions = segs.iterator.flatMap { seg =>
      val root = new org.apache.hadoop.fs.Path(seg + "/postings")
      val fs = root.getFileSystem(conf)
      val dirs =
        try fs.listStatus(root).iterator
        catch { case _: java.io.FileNotFoundException => Iterator.empty }
      dirs.filter(s => s.isDirectory &&
          s.getPath.getName.startsWith("bucket="))
        .flatMap(d => fs.listStatus(d.getPath).iterator
          .filter(_.getPath.getName.endsWith(".parquet")))
        .nextOption()
        .map { f =>
          val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile
              .fromStatus(f, conf),
            org.apache.parquet.HadoopReadOptions.builder(conf).build())
          try rd.getFooter.getFileMetaData.getSchema
            .getFields.asScala.exists(_.getName == "positions")
          finally rd.close()
        }
    }.nextOption().getOrElse(false)
    val seg = stageSegment(df, idCol, textCol, dir, nBuckets, positions,
      filesPerBucket)
    graft.sources.Maintenance.commitSegment(spark, dir, seg, replace = false)
  }

  /** GC segments no kept manifest references (a rebuild's predecessors,
    * losing stage attempts) — same grace contract as the keyed table.
    */
  def vacuumIndex(spark: SparkSession, dir: String,
                  keepVersions: Int = 1,
                  graceMs: Long = 15 * 60 * 1000L): Unit =
    graft.sources.Maintenance.vacuumSegments(spark, dir, keepVersions,
      graceMs)

  /** FOLD the segment list (Lucene's segment merge): `appendIndex`
    * grows segments unboundedly and every query unions per-segment
    * stats + postings, so read cost creeps with append count until a
    * compaction. The fold never re-tokenizes: doc ids are disjoint
    * across segments (the append contract), so the merged postings ARE
    * the union of the source postings, and the stats row folds
    * additively — one staged segment, one manifest commit. Segments a
    * concurrent append lands mid-fold SURVIVE the commit (the manifest
    * swaps exactly the folded ones); old segments GC via `vacuumIndex`.
    *
    * Policy knobs: a no-op until the segment count reaches
    * `minSegments` (a scheduler can call this every append);
    * `smallestK` folds only the k smallest segments by on-disk bytes —
    * the tiered-merge shape that keeps compaction IO ∝ the small tail
    * instead of rewriting the big base segment every time.
    */
  def compactIndex(spark: SparkSession, dir: String, minSegments: Int = 2,
                   smallestK: Option[Int] = None,
                   filesPerBucket: Int = 1): Unit = {
    require(minSegments >= 2, s"minSegments must be >= 2, got $minSegments")
    require(smallestK.forall(_ >= 2), "smallestK must be >= 2 to fold")
    val M = graft.sources.Maintenance
    if (M.manifestVersions(spark, dir).isEmpty) return
    val all = M.listSegments(spark, dir)
    if (all.length < minSegments) return
    val target = smallestK match {
      case Some(k) if k < all.length =>
        // per-segment bytes from the MANIFEST (recorded at each
        // commit), not a recursive dir walk per segment per pass
        val recorded = M.readManifest(spark, dir).bytes
        val prefix = dir.replaceAll("/+$", "") + "/"
        all.sortBy(s => recorded(s.stripPrefix(prefix))).take(k)
      case _ => all
    }
    val (nDocsAll, sdlAll, nBuckets) = statsOf(spark, target)
    val seg = M.nextSegmentName(spark, dir)
    val segPath = s"$dir/$seg"
    target.map(s => spark.read.parquet(s + "/postings"))
      .reduce(_.unionByName(_))
      .withColumn("__sub", F.pmod(h60(col("doc_id")),
        lit(filesPerBucket.toLong)))
      .repartition(nBuckets * filesPerBucket, col("bucket"), col("__sub"))
      .drop("__sub")
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(segPath + "/postings")
    spark.range(1).select(lit(nDocsAll).as("n_docs"),
        lit(sdlAll).as("sdl"), lit(nBuckets).as("n_buckets"))
      .coalesce(1).write.mode("overwrite").parquet(segPath + "/stats")
    M.commitSegmentsFold(spark, dir, seg,
      target.map(_.stripPrefix(dir.replaceAll("/+$", "") + "/")))
  }

  /** Stage one segment (postings + stats) under a writer-unique dir —
    * invisible until the manifest commit references it.
    */
  private def stageSegment(df: DataFrame, idCol: String, textCol: String,
                           dir: String, nBuckets: Int, positions: Boolean,
                           filesPerBucket: Int): String = {
    require(filesPerBucket >= 1,
      s"filesPerBucket must be >= 1, got $filesPerBucket")
    val spark = df.sparkSession
    val M = graft.sources.Maintenance
    val seg = M.nextSegmentName(spark, dir)
    val segPath = s"$dir/$seg"
    val base = df.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("tok"))
    val posAgg =
      // positions roughly double the posting payload; a pure-BM25
      // deployment can skip them (phrase/near queries then need a
      // positional rebuild — they fail fast on the missing column)
      if (positions)
        Seq(F.sort_array(F.collect_list(col("pos"))).as("positions"))
      else Nil
    // corpus stats WITHOUT a second tokenization pass AND without the
    // r14 extra count job: BOTH stats are observed on the staging
    // write's own input, BEFORE the explode — n_docs = count(1) over
    // the tokenized frame (zero-token docs flow through the metrics
    // node and only then drop out of posexplode) and sdl =
    // sum(size(tok)) = total token instances = sum of every posting's
    // tf, bit-identical to both prior formulations. One Spark job per
    // segment build, total (r13: write + stats re-tokenization; r14:
    // write + a separate column-pruned count — the measured x129/ql54
    // regression).
    val obs = org.apache.spark.sql.Observation(
      s"segstats_${ProcessHandle.current().pid()}x${
        segObsCounter.incrementAndGet()}")
    base.observe(obs,
        F.count(lit(1)).as("n_docs"),
        F.coalesce(F.sum(F.size(col("tok"))), lit(0L)).as("sdl"))
      .select(col("doc_id"), F.size(col("tok")).as("dl"),
        F.posexplode(col("tok")).as(Seq("pos", "term")))
      .groupBy("doc_id", "dl", "term")
      .agg(F.count(lit(1)).as("tf"), posAgg: _*)
      .withColumn("bucket", F.pmod(h60(col("term")), lit(nBuckets.toLong)))
      // co-locate each bucket into few tasks before the partitioned
      // write: without this every task writes a sliver of every
      // bucket (tasks × buckets files, thousands of open handles per
      // executor at scale); with it the layout is filesPerBucket
      // well-sized files per bucket dir (the sub-split key widens the
      // exchange without fragmenting the layout or the pruning)
      .withColumn("__sub", F.pmod(h60(col("doc_id")),
        lit(filesPerBucket.toLong)))
      .repartition(nBuckets * filesPerBucket, col("bucket"), col("__sub"))
      .drop("__sub")
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(segPath + "/postings")
    val sdl = obs.get("sdl").asInstanceOf[Long]
    val nDocs = obs.get("n_docs").asInstanceOf[Long]
    spark.range(1)
      .select(lit(nDocs).as("n_docs"), lit(sdl).as("sdl"),
        // the bucket count is INDEX METADATA, not a query parameter: a
        // querier guessing a different B would compute wrong bucket ids
        // and silently prune away real postings
        lit(nBuckets).as("n_buckets"))
      .coalesce(1).write.mode("overwrite").parquet(segPath + "/stats")
    seg
  }

  /** Public face of the folded corpus-stats row (n_docs, sdl,
    * n_buckets) of the index at `dir` — what the language's
    * build/append faces return.
    */
  def indexStats(spark: SparkSession, dir: String): DataFrame = {
    val (nDocs, sdl, nBuckets) = statsOf(spark,
      graft.sources.Maintenance.listSegments(spark, dir))
    spark.range(1).select(lit(nDocs).as("n_docs"), lit(sdl).as("sdl"),
      lit(nBuckets).as("n_buckets"))
  }

  /** Memo of one SEGMENT's stats row keyed by its stats files'
    * identities — segment dirs are immutable once committed (metadata
    * values, never query results; a rewritten file misses by identity).
    * Without it every index query paid one `.head` Spark job per stats
    * consult plus a broadcast of the stats row into the scoring plan.
    */
  private val statsCache = new graft.sources.MetaCache[(Long, Long, Int)]()

  /** The corpus-stats values folded over a segment list: n_docs and
    * sdl are additive; the bucket count must agree across segments (it
    * is layout metadata — `appendIndex` always reuses the base's).
    */
  private def statsOf(spark: SparkSession,
                      segs: Seq[String]): (Long, Long, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val per = segs.map { s =>
      val root = new org.apache.hadoop.fs.Path(s + "/stats")
      val fs = root.getFileSystem(conf)
      val files = fs.listStatus(root).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.toString)
      val key = files.map(graft.sources.Fs.fileId).mkString("|")
      statsCache.getOrLoad(key) {
        val row = spark.read.parquet(s + "/stats")
          .select(col("n_docs").cast("long"), col("sdl").cast("long"),
            col("n_buckets").cast("int"))
          .agg(F.sum(col("n_docs")), F.sum(col("sdl")),
            F.min(col("n_buckets")), F.max(col("n_buckets"))).head
        require(row.getInt(2) == row.getInt(3),
          "index segments disagree on n_buckets — rebuild the index")
        (row.getLong(0), row.getLong(1), row.getInt(2))
      }
    }
    val nb = per.map(_._3).distinct
    require(nb.length == 1,
      "index segments disagree on n_buckets — rebuild the index")
    (per.map(_._1).sum, per.map(_._2).sum, nb.head)
  }

  /** The pruned postings scan over every live segment: bucket ids are
    * literal IN-list constants per segment, so partition pruning is
    * static in each, and the union's cost is ∝ matching postings
    * across segments, not corpus size.
    */
  private def prunedPostings(spark: SparkSession, segs: Seq[String],
                             buckets: Seq[Long],
                             terms: Seq[String]): DataFrame =
    segs.map { s =>
      // enumerate the matching bucket DIRS directly instead of scanning
      // the partitioned root: reading `<seg>/postings` lists every
      // bucket dir up front (a distributed listing job once the dir
      // count passes the discovery threshold) only for partition
      // pruning to discard most of them — the bucket ids are already
      // plan-time constants, so hand Spark exactly those paths
      // (basePath keeps `bucket` as a partition column). A bucket dir
      // may not exist in a given segment (no postings hashed there) —
      // checked driver-side, one getFileStatus per (segment, bucket).
      val root = new org.apache.hadoop.fs.Path(s + "/postings")
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val present = buckets.map(b => s"$s/postings/bucket=$b")
        .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
      val df =
        if (present.isEmpty)
          spark.read.parquet(s + "/postings").limit(0)
        else spark.read.option("basePath", s + "/postings")
          .parquet(present: _*)
      df.filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
    }.reduce(_.unionByName(_, allowMissingColumns = true))

  /** BM25 top-k over a persisted index — bit-identical scores to
    * `bm25Search` on the source corpus (the parquet round-trip is
    * lossless and the arithmetic is identical), but the scan touches
    * ONLY the partitions holding the query's term buckets: bucket ids
    * are literal IN-list constants, so pruning is static and the cost
    * is ∝ matching postings, not corpus size.
    *
    * Per-doc aggregation pivots each term's (tf, df) into fixed
    * columns (max of a guarded case — at most one posting per
    * (doc, term)) so the cross-term sum happens in ONE fixed-order
    * expression: no float-sum over a nondeterministic row order.
    */
  def searchIndex(spark: SparkSession, dir: String,
                  queryTerms: Seq[String], k: Int,
                  k1: Double = 1.2, b: Double = 0.75,
                  classicIdf: Boolean = false,
                  requireAll: Boolean = false): DataFrame = {
    require(queryTerms.nonEmpty, "searchIndex: empty query")
    val terms = queryTerms.distinct
    val segs = graft.sources.Maintenance.listSegments(spark, dir)
    // corpus stats from the index's own metadata (memoized driver-side
    // values at plan-build time — never a caller's guess, and no
    // per-query stats job or broadcast since r15; the literals are the
    // exact longs the old broadcast row carried, so scores are
    // bit-identical)
    val (nDocs, sdlV, nBuckets) = statsOf(spark, segs)
    val buckets = terms.map(t => TextAnalysis.h60Value(t) % nBuckets).distinct
    // `def`: each call builds a FRESH pruned-scan plan, so the df
    // aggregate below is a sibling branch, not a subplan of the
    // posting side's own lineage (CLAUDE.md shared-exprId rule)
    def pruned = prunedPostings(spark, segs, buckets, terms)
    val post = pruned
    // per-term document frequency from the pruned slice (tiny), then
    // pivot tf/df into fixed per-term columns keyed by doc
    val dfreq = pruned.groupBy("term").agg(F.count(lit(1)).as("df"))
    val joined = post.join(F.broadcast(dfreq), "term")
    val pivoted = joined.groupBy("doc_id")
      .agg(F.max(col("dl")).as("dl"),
        terms.zipWithIndex.flatMap { case (t, i) =>
          Seq(F.max(F.when(col("term") === t, col("tf"))).as(s"tf_$i"),
            F.max(F.when(col("term") === t, col("df"))).as(s"df_$i"))
        }: _*)
    // a doc missing term i has NULL tf_i/df_i → coalesce to 0: the
    // zero numerator makes the term contribute exactly what the
    // direct path computes for tf = 0
    val score = bm25ScoreExpr(terms.length,
      i => F.coalesce(col(s"tf_$i"), lit(0L)),
      i => F.coalesce(col(s"df_$i"), lit(0L)),
      col("dl"), lit(nDocs), lit(sdlV), k1, b, classicIdf)
    // conjunctive gate mirrors bm25Search's: every term's (coalesced)
    // tf must be positive — bit-identical candidate set to the direct
    // scan path in AND mode
    val gate =
      if (requireAll)
        terms.indices
          .map(i => F.coalesce(col(s"tf_$i"), lit(0L)) > 0)
          .reduce(_ && _)
      else lit(true)
    pivoted
      .filter(gate)
      .select(col("doc_id"), F.round(score, 6).as("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Exact-phrase retrieval over the persisted index — row-identical
    * to `phraseSearch` on the source corpus, but the scan touches only
    * the partitions holding the phrase terms' buckets (static IN-list
    * pruning, like `searchIndex`). Each phrase term's sorted position
    * array pivots into a fixed per-slot column keyed by doc (at most
    * one posting per (doc, term)); the occurrence count is then ONE
    * array expression — starts q in slot-0's positions such that
    * q + j sits in slot-j's positions — with no join fan-out and no
    * per-occurrence rows. Overlaps count, duplicate phrase terms
    * reuse the same position array (correct by construction).
    */
  def phraseSearchIndex(spark: SparkSession, dir: String,
                        phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseSearchIndex: empty phrase")
    val terms = phrase.distinct
    val slotOf = phrase.map(terms.indexOf) // phrase slot j -> term index
    val segs = graft.sources.Maintenance.listSegments(spark, dir)
    val nBuckets = statsOf(spark, segs)._3
    val buckets = terms.map(t => TextAnalysis.h60Value(t) % nBuckets).distinct
    val pruned = prunedPostings(spark, segs, buckets, terms)
    require(pruned.columns.contains("positions"),
      s"index at $dir was built with positions = false — phrase " +
        "queries need a positional rebuild")
    val pivoted = pruned.groupBy("doc_id")
      .agg(
        F.max(F.when(col("term") === terms.head, col("positions")))
          .as("pos_0"),
        terms.zipWithIndex.tail.map { case (t, i) =>
          F.max(F.when(col("term") === t, col("positions"))).as(s"pos_$i")
        }: _*)
    // a doc missing ANY phrase term cannot match (null array gate)
    val gate = terms.indices.map(i => col(s"pos_$i").isNotNull).reduce(_ && _)
    val count = F.size(F.filter(col(s"pos_${slotOf.head}"), q =>
      slotOf.zipWithIndex.tail.map { case (ti, j) =>
        F.array_contains(col(s"pos_$ti"), q + j)
      }.foldLeft(lit(true): Column)(_ && _)))
    pivoted.filter(gate)
      .select(col("doc_id"), count.as("n_occ"))
      .filter(col("n_occ") > 0)
  }

  /** Ordered-proximity retrieval over the positional index —
    * row-identical to `nearSearch` (the same chainCount expression
    * runs over the stored position arrays), touching only the query
    * terms' buckets.
    */
  def nearSearchIndex(spark: SparkSession, dir: String,
                      terms: Seq[String], slop: Int): DataFrame = {
    require(terms.nonEmpty, "nearSearchIndex: empty query")
    require(slop >= 1, s"nearSearchIndex: slop must be >= 1, got $slop")
    val uniq = terms.distinct
    val segs = graft.sources.Maintenance.listSegments(spark, dir)
    val nBuckets = statsOf(spark, segs)._3
    val buckets = uniq.map(t => TextAnalysis.h60Value(t) % nBuckets).distinct
    val pruned = prunedPostings(spark, segs, buckets, uniq)
    require(pruned.columns.contains("positions"),
      s"index at $dir was built with positions = false — proximity " +
        "queries need a positional rebuild")
    val pivoted = pruned.groupBy("doc_id")
      .agg(
        F.max(F.when(col("term") === uniq.head, col("positions")))
          .as("__pos_0"),
        uniq.zipWithIndex.tail.map { case (t, i) =>
          F.max(F.when(col("term") === t, col("positions"))).as(s"__pos_$i")
        }: _*)
    val gate = uniq.indices.map(i => col(s"__pos_$i").isNotNull).reduce(_ && _)
    val slotCol = terms.map(t => col(s"__pos_${uniq.indexOf(t)}"))
    pivoted.filter(gate)
      .select(col("doc_id"),
        chainCount(slotCol(_), terms.length, slop).as("n_occ"))
      .filter(col("n_occ") > 0)
  }
}
