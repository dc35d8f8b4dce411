package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import TextAnalysis.tokens

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
  *  - `buildIndex`/`searchIndex` persist postings as a keyed table
  *    bucketed on the term, so repeated queries skip the corpus scan
  *    entirely: bucket ids are pure functions of the query terms, so a
  *    query reads only its terms' bucket dirs (same discipline as the
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

  private val M = graft.sources.Maintenance

  /** The postings table's key: one row per (term, doc), bucketed on
    * the term alone, so a query reads only its terms' buckets.
    */
  private val PostingsKey = Seq("term", "doc_id")

  /** Build a term-bucketed inverted index under `dir`: a KEYED TABLE of
    * postings (term, doc_id, dl, tf[, positions]) keyed (term, doc_id)
    * and bucketed on term = md5-hash(term) mod nBuckets, committed by
    * the keyed table's one manifest protocol (`writeKeyed`). The sorted
    * 0-based token positions make the same index serve phrase/proximity
    * queries (`phraseSearchIndex`) — Lucene's positional-postings
    * layout, one array per (doc, term). The corpus stats n_docs and sdl
    * are the manifest's `counters`, observed on the write job's own
    * input (no second pass), and ADDITIVE, so `appendIndex` grows them
    * in its commit. Per-term document frequency is NOT materialized
    * separately: it folds out of the query terms' postings at query
    * time. A rebuild REPLACES the table in one manifest commit (readers
    * mid-rebuild resolve the old or new complete index); old
    * generations GC via `vacuumKeyed`.
    */
  def buildIndex(df: DataFrame, idCol: String, textCol: String,
                 dir: String, nBuckets: Int = 64,
                 positions: Boolean = true): Unit = {
    val (post, stats) = postings(df, idCol, textCol, positions)
    M.writeKeyed(post, dir, PostingsKey, nBuckets,
      bucketCols = Seq("term"), counters = stats)
  }

  /** Append `df`'s documents to an EXISTING index as one merge-on-read
    * delta per touched bucket (`appendDeltaKeyedCols`): existing
    * generations are never read or rewritten (bytes ∝ the new
    * documents), one manifest commit makes the grown index and its
    * grown corpus stats visible atomically. Bucket count and positional
    * layout come from the index's own manifest — never a caller guess.
    * Doc ids must be disjoint from those already indexed (same contract
    * as appending rows to any corpus; a repeated id would double-count
    * n_docs and sdl).
    */
  def appendIndex(df: DataFrame, idCol: String, textCol: String,
                  dir: String): Unit = {
    val spark = df.sparkSession
    // fail BEFORE the write job: a dir holding no index manifest (never
    // built, or a pre-manifest layout) has nothing to extend
    require(M.manifestVersions(spark, dir).nonEmpty,
      s"$dir holds no index manifest (not built, or a pre-manifest " +
        "layout) — build it (buildIndex) before appending")
    val m = postingsManifest(spark, dir)
    val (post, stats) = postings(df, idCol, textCol,
      m.schema.fieldNames.contains("positions"))
    M.appendDeltaKeyedCols(spark, dir, post, PostingsKey, m.nBuckets,
      counters = stats)
  }

  /** Fold the appended deltas back into base generations
    * (`compactKeyed`): every query resolves each bucket's chain, so
    * read cost creeps with the append count until a compaction. The
    * fold never re-tokenizes — the resolved postings are rewritten as
    * they are, and the corpus stats carry forward unchanged.
    */
  def compactIndex(spark: SparkSession, dir: String): Unit =
    M.compactKeyed(spark, dir)

  /** The postings of `df`'s documents and the counters of its write:
    * n_docs = count(1) over the tokenized frame (documents without text
    * count, then drop out of posexplode) and sdl = sum(size(tok)), the
    * total token instances — both observed on the write job's own
    * input, so a build or append is one Spark job. A write that got no
    * postings reports no observation (AQE drops the observed stage
    * once it sees the write is empty); its counters are then one
    * aggregate over the tokenized frame.
    */
  private def postings(df: DataFrame, idCol: String, textCol: String,
                       positions: Boolean)
      : (DataFrame, () => Map[String, Long]) = {
    val posAgg =
      // positions roughly double the posting payload; a pure-BM25
      // deployment can skip them (phrase/near queries then need a
      // positional rebuild — they fail fast on the missing column)
      if (positions)
        Seq(F.sort_array(F.collect_list(col("pos"))).as("positions"))
      else Nil
    val tok = df.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("tok"))
    val stats = Seq(F.count(lit(1)).as("n_docs"),
      F.coalesce(F.sum(F.size(col("tok"))), lit(0L)).as("sdl"))
    val obs = org.apache.spark.sql.Observation()
    val post = tok.observe(obs, stats.head, stats.tail: _*)
      .select(col("doc_id"), F.size(col("tok")).as("dl"),
        F.posexplode(col("tok")).as(Seq("pos", "term")))
      .groupBy("term", "doc_id", "dl")
      .agg(F.count(lit(1)).as("tf"), posAgg: _*)
    def counters(): Map[String, Long] = {
      val seen = obs.get
      val row =
        if (seen.nonEmpty) seen
        else tok.agg(stats.head, stats.tail: _*).head
          .getValuesMap[Any](Seq("n_docs", "sdl"))
      row.map { case (k, v) => k -> v.asInstanceOf[Long] }
    }
    (post, counters _)
  }

  /** The manifest of the postings table at `dir`, refusing any other
    * table: its layout must be the postings key bucketed on term, with
    * the corpus stats recorded.
    */
  private def postingsManifest(spark: SparkSession,
                               dir: String): M.KeyedManifest = {
    val m = M.readManifest(spark, dir)
    require(m.keyCols == PostingsKey && m.bucketKey == Seq("term") &&
      m.counters.contains("n_docs"),
      s"$dir is not a search index (keyed on (${m.keyCol}) bucketed on " +
        s"(${m.bucketKey.mkString(",")}); an index keys on " +
        "(term,doc_id) bucketed on (term)) — build it with buildIndex")
    m
  }

  /** Public face of the corpus-stats row (n_docs, sdl, n_buckets) of
    * the index at `dir`, read from its manifest — what the language's
    * build/append faces return.
    */
  def indexStats(spark: SparkSession, dir: String): DataFrame = {
    val m = postingsManifest(spark, dir)
    spark.range(1).select(lit(m.counters("n_docs")).as("n_docs"),
      lit(m.counters("sdl")).as("sdl"), lit(m.nBuckets).as("n_buckets"))
  }

  /** The postings of `terms` under `m`: only the buckets the terms hash
    * to are read (their ids come from the table's own `kb` on the
    * driver), and the `term IN` list pushes into every level's parquet
    * scan, before any delta-chain resolution.
    */
  private def termPostings(spark: SparkSession, dir: String,
                           m: M.KeyedManifest,
                           terms: Seq[String]): DataFrame = {
    import spark.implicits._
    M.resolveBuckets(spark, dir, m, M.bucketsOf(m, terms.toDF("term")),
      Some(col("term").isin(terms: _*)))
  }

  /** BM25 top-k over a persisted index — bit-identical scores to
    * `bm25Search` on the source corpus (the parquet round-trip is
    * lossless and the arithmetic is identical), but the scan touches
    * ONLY the bucket dirs of the query's terms, chosen at plan-build
    * time from the manifest, so the cost is ∝ matching postings, not
    * corpus size.
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
    // corpus stats from the index's own manifest (plan-build-time
    // literals — never a caller's guess, no stats job or broadcast)
    val m = postingsManifest(spark, dir)
    // `def`: each call builds a FRESH postings plan, so the df
    // aggregate below is a sibling branch, not a subplan of the
    // posting side's own lineage (CLAUDE.md shared-exprId rule)
    def pruned = termPostings(spark, dir, m, terms)
    val post = pruned
    // per-term document frequency from the terms' postings (tiny), then
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
      col("dl"), lit(m.counters("n_docs")), lit(m.counters("sdl")), k1, b,
      classicIdf)
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

  /** `termPostings` of a positional index; `what` names the refused
    * query kind when the index was built with positions = false.
    */
  private def positionalPostings(spark: SparkSession, dir: String,
                                 terms: Seq[String],
                                 what: String): DataFrame = {
    val m = postingsManifest(spark, dir)
    require(m.schema.fieldNames.contains("positions"),
      s"index at $dir was built with positions = false — $what " +
        "queries need a positional rebuild")
    termPostings(spark, dir, m, terms)
  }

  /** Exact-phrase retrieval over the persisted index — row-identical
    * to `phraseSearch` on the source corpus, but the scan touches only
    * the phrase terms' bucket dirs (like `searchIndex`). Each phrase term's sorted position
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
    val pruned = positionalPostings(spark, dir, terms, "phrase")
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
    val pruned = positionalPostings(spark, dir, uniq, "proximity")
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
