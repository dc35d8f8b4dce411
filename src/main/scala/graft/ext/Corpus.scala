package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Corpus-preparation operators for training-data pipelines: the three
  * standard moves between "filtered documents" and "model input" —
  * deterministic train/val/test splitting, token-window chunking, and
  * sequence packing. None exist in the reference (it stops at
  * relational queries); all three are everyday operations over a
  * 100 TB text corpus, so they get the same treatment as the dedup /
  * ANN extensions: scan-parallel Catalyst plans, md5-derived
  * determinism (cross-engine oracle-able), no RDD exits.
  */
object Corpus {

  /** Deterministic train/val/test assignment: bucket = md5-derived
    * uniform of the row key in [0,100), split by cumulative
    * percentages. Pure per-row expression — scan-parallel, stable
    * across runs/engines (the property that matters: a re-run of the
    * pipeline must not move documents between splits), and
    * join-free. `"split:" + key` domain-separates the hash from other
    * md5 uses of the same key (sampling, dedup).
    */
  def trainSplit(df: DataFrame, key: Column,
                 trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val bucket = TextAnalysis.h60(F.concat(F.lit("split:"), key.cast("string"))) % 100
    df.withColumn("split",
      F.when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Token-window chunking: split each document into windows of
    * `size` tokens advancing by `size - overlap` (the long-context
    * preprocessing move). One output row per chunk; all offsets are
    * computed per row and exploded — linear output, whole-stage
    * codegen, zero shuffles. A document of n tokens yields
    * max(1, floor((n - overlap - 1) / stride) + 1) chunks, so every
    * token is covered and consecutive chunks share `overlap` tokens.
    */
  def chunk(df: DataFrame, id: Column, text: Column,
            size: Int, overlap: Int): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"chunk: need 0 <= overlap < size, got size=$size overlap=$overlap")
    val stride = size - overlap
    val toks = F.split(F.trim(text), "\\s+")
    val n = F.size(toks)
    // Column `/` is DOUBLE division — floor() recovers the integral
    // quotient (operands are non-negative after the greatest() guard)
    val nChunks = F.greatest(F.lit(1L),
      F.floor((n - overlap - 1) / F.lit(stride)) + 1)
    df.select(id.as("doc_id"), toks.as("toks"), nChunks.as("nc"))
      .select(F.col("doc_id"),
        F.explode(F.sequence(F.lit(0L), F.col("nc") - 1)).as("chunk_id"),
        F.col("toks"))
      // slice() is 1-based; chunks past the end are naturally short
      .select(F.col("doc_id"), F.col("chunk_id").cast(LongType).as("chunk_id"),
        F.array_join(F.slice(F.col("toks"),
          (F.col("chunk_id") * stride + 1).cast("int"), F.lit(size)), " ")
          .as("chunk_text"))
      .withColumn("chunk_tokens",
        F.size(F.split(F.col("chunk_text"), " ")).cast(LongType))
  }

  /** Quality-weighted sampling: keep each row with probability equal
    * to its weight column (clamped to [0,1]) — the standard
    * "sample proportional to quality score" corpus move. The uniform
    * is an md5-derived function of the row key (domain-separated), so
    * the decision is deterministic per document: re-runs keep exactly
    * the same rows, and the sample is reproducible in any engine.
    * Pure per-row predicate — scan-parallel, join-free, no shuffle.
    */
  def weightedSample(df: DataFrame, key: Column, weight: Column): DataFrame = {
    val u = (TextAnalysis.h60(
      F.concat(F.lit("wsample:"), key.cast("string"))) % 1000000L)
      .cast("double") / 1000000.0
    df.filter(u < F.greatest(F.lit(0.0), F.least(F.lit(1.0), weight)))
  }

  /** Gopher-style repetition signals (the standard quality filters for
    * web corpora: Rae et al. 2021 §A1.1): per-document fraction of
    * duplicated lines, fraction of characters in duplicated lines, and
    * the share of word 2-grams taken by the most frequent 2-gram.
    *
    * Scale shape: one scan → one explode of kind-tagged units
    * (lines + 2-grams from the same projection — no second pass over
    * the text) → two hash aggregations, both with map-side partials.
    * Shuffle volume ∝ tokens, never pairs²; a per-row HOF counting
    * duplicates inside the arrays would be shuffle-free but O(len²)
    * per document — unbounded on the long documents exactly where
    * repetition filtering matters, so the linear explode+agg wins at
    * 100 TB.
    *
    * Values are kind-tagged ("l:" / "g:" prefix) instead of struct
    * fields: named_struct inside HOF lambdas next to a generator is
    * fragile (field names drop), and one string column shuffles
    * smaller than a struct anyway.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = F.col(textCol)
    val lines = F.filter(
      F.transform(F.split(text, "\n"), l => F.trim(l)), l => l =!= "")
    val toks = TextAnalysis.tokens(text) // \s+ covers newlines too
    val grams = F.when(F.size(toks) < 2, F.array().cast("array<string>"))
      .otherwise(F.transform(F.sequence(F.lit(0), F.size(toks) - 2),
        i => F.concat_ws(" ", F.slice(toks, i + 1, F.lit(2)))))
    // explode_outer: a document with no lines and no grams (empty /
    // whitespace text) must still produce an all-zeros output row —
    // quality gates join per-document, a silently vanished doc would
    // slip past a `signals.dup_line_frac < x` filter. The null unit
    // row matches neither kind tag, so it contributes nothing.
    val units = Dedup.ensureParallelism(df)
      .select(F.col(idCol).as("doc_id"),
        F.explode_outer(F.concat(
          F.transform(lines, l => F.concat(F.lit("l:"), l)),
          F.transform(grams, g => F.concat(F.lit("g:"), g)))).as("tv"))
      .select(F.col("doc_id"),
        F.substring(F.col("tv"), 1, 1).as("kind"),
        // the payload after "l:"/"g:"; its length = line char count
        F.expr("substring(tv, 3)").as("v"))
    val counted = units.groupBy("doc_id", "kind", "v")
      .agg(F.count(F.lit(1)).as("cnt"))
    val isL = F.col("kind") === "l"
    val isG = F.col("kind") === "g"
    val dup = F.col("cnt") > 1
    val chars = F.col("cnt") * F.length(F.col("v"))
    def zsum(c: Column): Column = F.coalesce(F.sum(c), F.lit(0L))
    counted.groupBy("doc_id").agg(
        zsum(F.when(isL, F.col("cnt"))).as("n_lines"),
        zsum(F.when(isL && dup, F.col("cnt"))).as("dup_lines"),
        zsum(F.when(isL, chars)).as("line_chars"),
        zsum(F.when(isL && dup, chars)).as("dup_line_chars"),
        zsum(F.when(isG, F.col("cnt"))).as("n_grams"),
        F.coalesce(F.max(F.when(isG, F.col("cnt"))), F.lit(0L)).as("top_gram"))
      .select(F.col("doc_id"), F.col("n_lines"),
        F.when(F.col("n_lines") === 0, 0.0)
          .otherwise(F.col("dup_lines").cast("double") / F.col("n_lines"))
          .as("dup_line_frac"),
        F.when(F.col("line_chars") === 0, 0.0)
          .otherwise(F.col("dup_line_chars").cast("double") / F.col("line_chars"))
          .as("dup_line_char_frac"),
        F.when(F.col("n_grams") === 0, 0.0)
          .otherwise(F.col("top_gram").cast("double") / F.col("n_grams"))
          .as("top_2gram_frac"))
  }

  /** Benchmark decontamination: drop every training document sharing
    * at least one word n-gram with the evaluation set — the standard
    * guard against test-set leakage into training corpora.
    *
    * Scale shape: the eval side reduces to DISTINCT n-gram hashes
    * (small — eval suites are MBs, corpora are TBs) and BROADCASTS;
    * the corpus side streams its n-gram hashes through the broadcast
    * semi-join (no corpus shuffle), and the surviving ids anti-join
    * back. Documents shorter than n tokens hash as one whole-text
    * shingle (`Dedup.shinglesFromTokens`), so a verbatim short eval
    * doc still contaminates its copies.
    */
  private def gramHashes(text: Column, n: Int,
                         hasher: Column => Column): Column =
    F.transform(
      Dedup.shinglesFromTokens(TextAnalysis.tokens(text), F.trim(text), n),
      s => hasher(s))

  /** The eval set reduced to its DISTINCT n-gram hashes — one `gh`
    * column. Computed once and reused (a caller decontaminating many
    * batches materializes it once, so no batch re-hashes the eval
    * suite).
    */
  def benchGramSet(bench: DataFrame, benchTextCol: String, n: Int = 8,
                   hasher: Column => Column = Dedup.portableHasher): DataFrame =
    bench.select(F.explode(gramHashes(F.col(benchTextCol), n, hasher))
      .as("gh")).distinct()

  /** Decontamination against an already-prepared gram set (see
    * `benchGramSet`).
    */
  def decontaminateWithGrams(docs: DataFrame, idCol: String, textCol: String,
                             benchGrams: DataFrame, n: Int = 8,
                             hasher: Column => Column = Dedup.portableHasher): DataFrame = {
    val contaminated = Dedup.ensureParallelism(docs)
      .select(F.col(idCol),
        F.explode(gramHashes(F.col(textCol), n, hasher)).as("gh"))
      .join(F.broadcast(benchGrams), "gh")
      .select(F.col(idCol)).distinct()
    docs.join(contaminated, Seq(idCol), "left_anti")
  }

  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    bench: DataFrame, benchTextCol: String, n: Int = 8,
                    hasher: Column => Column = Dedup.portableHasher): DataFrame =
    decontaminateWithGrams(docs, idCol, textCol,
      benchGramSet(bench, benchTextCol, n, hasher), n, hasher)

  /** Per-document contamination REPORT (the audit twin of
    * `decontaminate`'s drop): how many of a document's word n-grams
    * appear in the eval set, and what fraction. Drop decisions are
    * blunt; the score lets a pipeline grade severity (one shared
    * phrase vs a verbatim test copy), threshold per benchmark, or just
    * measure leakage before deciding anything.
    *
    * Same scale shape as decontaminate: corpus grams stream through a
    * BROADCAST probe of the eval gram set; the per-document rollup is
    * one partial-agg groupBy on the id. Never shuffles text.
    */
  def contaminationScore(docs: DataFrame, idCol: String, textCol: String,
                         bench: DataFrame, benchTextCol: String, n: Int = 8,
                         hasher: Column => Column = Dedup.portableHasher): DataFrame = {
    val benchGrams = benchGramSet(bench, benchTextCol, n, hasher)
    val grams = Dedup.ensureParallelism(docs)
      .select(F.col(idCol),
        F.explode(gramHashes(F.col(textCol), n, hasher)).as("gh"))
    grams.join(F.broadcast(benchGrams.withColumn("_hit", F.lit(1))),
        Seq("gh"), "left")
      .groupBy(idCol)
      .agg(F.count(F.lit(1)).as("n_grams"),
        F.sum(F.when(F.col("_hit").isNotNull, 1L).otherwise(0L)).as("n_hit"))
      .withColumn("contamination",
        F.col("n_hit").cast("double") / F.col("n_grams"))
  }

  // ---- n-gram language-model quality scoring ----------------------------
  /** A trained bigram language model: hashed bigram counts, hashed
    * context (unigram) counts, and the vocabulary size for add-one
    * smoothing. Both count tables are id→long pairs — broadcastable
    * after `minCount` pruning (the KenLM-style pruning CCNet applies);
    * text never leaves the training scan.
    */
  /** A trained order-n model: hashed n-gram counts, hashed
    * (n-1)-gram context counts, the smoothing vocabulary size, and
    * the order itself (scoring must window the same n).
    */
  final case class NgramLm(bigrams: DataFrame, contexts: DataFrame,
                           vocabSize: Long, order: Int = 2)

  private def gramIdx(toks: Column, n: Int): Column =
    F.when(F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n))
      .otherwise(F.array().cast("array<int>"))

  /** Train an order-n LM over a reference corpus (the CCNet move:
    * score the crawl against a model of the clean reference; Wenzek
    * et al. 2020 §3.2 use KenLM perplexity — a smoothed n-gram model
    * exactly like this one, which is the distributable, oracle-able
    * core of it). One scan of the reference: word n-grams and
    * (n-1)-gram contexts count under partial aggregation on 60-bit
    * hashes; `minCount` prunes the n-gram tail so the model stays
    * broadcast-sized no matter how big the reference is.
    */
  def lmTrain(ref: DataFrame, textCol: String,
              minCount: Long = 1, n: Int = 2): NgramLm = {
    require(n >= 2, s"lmTrain: order must be >= 2, got $n")
    val toks = TextAnalysis.tokens(F.col(textCol))
    // n=2 contexts are the tokens themselves (WordNgrams at width 1)
    val uni = Dedup.ensureParallelism(ref)
      .select(F.explode(graft.plans.WordNgrams(toks, n - 1)).as("c"))
      .select(TextAnalysis.h60(F.col("c")).as("ch"))
      .groupBy("ch").agg(F.count(F.lit(1)).as("cc"))
    val bi = Dedup.ensureParallelism(ref)
      .select(F.explode(graft.plans.WordNgrams(toks, n)).as("g"))
      .select(TextAnalysis.h60(F.col("g")).as("bh"))
      .groupBy("bh").agg(F.count(F.lit(1)).as("cb"))
      .filter(F.col("cb") >= minCount)
    NgramLm(bi, uni, uni.count(), n)
  }

  /** Score documents under a trained model: mean add-one
    * log-likelihood per n-gram, ln((c(w..)+1) / (c(ctx)+V)) — the
    * perplexity-filter signal (low score = unlike the reference:
    * gibberish, boilerplate, wrong language). Deterministic across
    * engines/partitionings: each per-gram log term is rounded to 9
    * decimals and summed EXACTLY as DECIMAL(28,9) (float sums reorder
    * under partial aggregation; ln of the same small integer agrees
    * across engines far below 1e-9), with one IEEE division at the
    * end rounded to `roundTo`.
    *
    * Scale shape: the corpus explodes (id, bh, ch) hashes only, both
    * model joins BROADCAST (pruned model), rollup is one partial-agg
    * groupBy on the id; docs with no n-gram (< n tokens) surface with
    * n_grams = 0 and a null score via the id-spine left join.
    */
  def lmScore(docs: DataFrame, idCol: String, textCol: String,
              model: NgramLm, roundTo: Int = 6): DataFrame = {
    val n = model.order
    val toks = TextAnalysis.tokens(F.col(textCol))
    val grams = Dedup.ensureParallelism(docs)
      .select(F.col(idCol), toks.as("_tks"))
      .select(F.col(idCol), F.explode(gramIdx(F.col("_tks"), n)).as("_i"),
        F.col("_tks"))
      .select(F.col(idCol),
        TextAnalysis.h60(F.concat_ws(" ",
          F.slice(F.col("_tks"), F.col("_i") + 1, F.lit(n)))).as("bh"),
        TextAnalysis.h60(F.concat_ws(" ",
          F.slice(F.col("_tks"), F.col("_i") + 1, F.lit(n - 1)))).as("ch"))
    val lp = F.round(
      F.log(F.coalesce(F.col("cb"), F.lit(0L)) + 1) -
        F.log(F.coalesce(F.col("cc"), F.lit(0L)) + model.vocabSize),
      9).cast(org.apache.spark.sql.types.DecimalType(28, 9))
    val scored = grams
      .join(F.broadcast(model.bigrams), Seq("bh"), "left")
      .join(F.broadcast(model.contexts), Seq("ch"), "left")
      .groupBy(idCol)
      .agg(F.count(F.lit(1)).as("n_grams"),
        F.sum(F.when(F.col("cb").isNull, 1L).otherwise(0L)).as("n_oov"),
        F.sum(lp).as("_slp"))
      .withColumn("lm_score",
        F.round((F.col("_slp").cast("double") / F.col("n_grams")), roundTo))
      .drop("_slp")
    docs.select(F.col(idCol))
      .join(scored, Seq(idCol), "left")
      .withColumn("n_grams", F.coalesce(F.col("n_grams"), F.lit(0L)))
      .withColumn("n_oov", F.coalesce(F.col("n_oov"), F.lit(0L)))
  }

  // ---- bloom-filter decontamination -------------------------------------
  /** Double-hashing position family over a power-of-two bloom filter,
    * shared verbatim by build and probe (and mirrored by the oracle):
    * from the 60-bit md5 gram hash, h1 = low b bits, h2 = the NEXT b
    * bits forced odd (odd steps cycle the full 2^b ring), position_i
    * = (h1 + i*h2) mod 2^b. Exact long arithmetic in any engine.
    */
  private def bloomPositions(gh: Column, nBits: Int, k: Int): Seq[Column] = {
    val b = java.lang.Integer.numberOfTrailingZeros(nBits)
    val mask = F.lit((nBits - 1).toLong)
    val h1 = gh.bitwiseAND(mask)
    val h2 = F.shiftright(gh, b).bitwiseAND(mask).bitwiseOR(F.lit(1L))
    (0 until k).map(i => (h1 + F.lit(i.toLong) * h2).bitwiseAND(mask))
  }

  /** Build the bloom filter over a gram-hash set as a dense word
    * array (32 bits per long-stored word — no sign games in any
    * engine). Distributed bit_or partials per word, then ONE bounded
    * driver collect of ≤ nBits/32 rows — the index-build step, same
    * grain as collecting k-means centroids. nBits must be a power of
    * two; 2^20 (128 KiB) holds ~10^5 grams at k=3 under 1e-5 FP,
    * 2^27 (16 MiB) holds ~10^7.
    */
  def bloomWords(gramSet: DataFrame, nBits: Int, k: Int = 3): Array[Long] = {
    require(nBits >= 64 && Integer.bitCount(nBits) == 1,
      s"nBits must be a power of two >= 64, got $nBits")
    val gh = F.col("gh")
    val pos = gramSet.select(
      F.explode(F.array(bloomPositions(gh, nBits, k): _*)).as("p"))
    val words = pos.select(F.shiftright(F.col("p"), 5).as("wi"),
        F.call_function("shiftleft", F.lit(1L),
          F.col("p").bitwiseAND(F.lit(31L))).as("m"))
      .groupBy("wi").agg(F.call_function("bit_or", F.col("m")).as("bits"))
      .collect()
    val dense = new Array[Long](nBits / 32)
    words.foreach(r => dense(r.getLong(0).toInt) = r.getLong(1))
    dense
  }

  /** All-k-bits-set membership probe against a plan-literal word
    * array — a pure scalar expression, codegen'd on the scan.
    */
  private def bloomHit(gh: Column, words: Column,
                       nBits: Int, k: Int): Column =
    bloomPositions(gh, nBits, k).map { p =>
      val word = F.element_at(words,
        F.shiftright(p, 5).cast(IntegerType) + 1)
      F.call_function("shiftright", word, p.bitwiseAND(F.lit(31L)))
        .bitwiseAND(F.lit(1L)) === 1L
    }.reduce(_ && _)

  /** Decontamination through a bloom filter of the eval set's gram
    * hashes — the BOUNDED-memory twin of `decontaminate`. The
    * broadcast DISTINCT gram set grows with the eval suite (10^7
    * 8-gram hashes ≈ a multi-hundred-MB broadcast hash relation); the
    * bloom filter is a FIXED nBits/8 bytes regardless, and the probe
    * is a pure filtered scan — zero joins, zero shuffle, no broadcast
    * at query time. The price is deterministic false positives
    * (clean docs whose grams collide all k positions get dropped
    * too): strictly conservative for decontamination, rate set by
    * nBits. Uses the full 60-bit hash (not the mod-P minhash
    * domain) so both halves of the double-hash family carry real
    * entropy.
    */
  /** The clean-document predicate as a standalone Column: builds the
    * bloom (one batch job over the bench side, at plan-build time)
    * and returns a pure filter expression. Because it carries NO
    * joins or state it applies unchanged to a STREAMING DataFrame:
    * filtering a stream by it is streaming decontamination.
    */
  def bloomKeepPredicate(text: Column, bench: DataFrame,
                         benchTextCol: String, n: Int = 8,
                         nBits: Int = 1 << 20, k: Int = 3,
                         hasher: Column => Column = TextAnalysis.h60)
      : Column = {
    val grams = benchGramSet(bench, benchTextCol, n, hasher)
    val words = F.typedlit(bloomWords(grams, nBits, k).toSeq)
    // coalesce: null text → null gram array → null exists → a bare
    // filter would silently DROP the doc, where the exact path's
    // anti-join keeps it (null text cannot be contaminated)
    F.coalesce(!F.exists(gramHashes(text, n, hasher),
      gh => bloomHit(gh, words, nBits, k)), F.lit(true))
  }

  def decontaminateBloom(docs: DataFrame, idCol: String, textCol: String,
                         bench: DataFrame, benchTextCol: String,
                         n: Int = 8, nBits: Int = 1 << 20, k: Int = 3,
                         hasher: Column => Column = TextAnalysis.h60)
      : DataFrame =
    docs.filter(bloomKeepPredicate(F.col(textCol), bench, benchTextCol,
      n, nBits, k, hasher))

  /** CCNet-style cross-document line deduplication (Wenzek et al.
    * 2020 §3.1): drop every line whose normalized form appears in more
    * than `maxDocs` distinct documents — the standard boilerplate
    * remover (headers, cookie banners, navigation chrome) for web
    * corpora — and reassemble each document from its surviving lines
    * in original order.
    *
    * Scale shape (everything linear in corpus size, nothing
    * quadratic):
    *  1. one scan → posexplode(lines) — positions ride along so
    *     reassembly needs no second look at the text;
    *  2. document frequency per line via two hash aggregations
    *     ((line-hash, doc) dedup then count), both with map-side
    *     partials — shuffle keys are 60-bit md5 hashes, not line text;
    *  3. the frequent set (df > maxDocs) is tiny by construction —
    *     AQE turns the anti-join into a broadcast at runtime;
    *  4. reassembly shuffles (doc_id, pos, line) once and rebuilds
    *     with sort_array(collect_list(struct(pos, line))) — per-doc
    *     arrays, bounded by document size.
    * Fully-boilerplate documents come back as empty text (a join back
    * to the id spine keeps them visible to downstream gates), mirroring
    * the explode_outer guard in `repetitionSignals`.
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                maxDocs: Long, delim: String = "\n",
                keepEmpty: Boolean = true): DataFrame = {
    val lines = F.split(F.col(textCol),
      java.util.regex.Pattern.quote(delim))
    // `keyed` fans out (doc-frequency aggregate + probe side) and is
    // deliberately NOT materialized: recomputing the explode+md5 twice
    // MEASURED faster than checkpointing the exploded rows at every
    // tested scale (x45, 10.5M instances: 4.3s recomputed vs 5.8s
    // checkpointed) — the explode output carries the line text, which
    // is bigger than the compute it would save
    val keyed = Dedup.ensureParallelism(df)
      .select(F.col(idCol),
        F.posexplode(lines).as(Seq("pos", "line")))
      .filter(F.trim(F.col("line")) =!= "")
      .withColumn("lk", TextAnalysis.h60(F.trim(F.col("line"))))
    val frequent = keyed.select("lk", idCol).distinct()
      .groupBy("lk").agg(F.count(F.lit(1)).as("docfreq"))
      .filter(F.col("docfreq") > maxDocs)
      .select(F.col("lk"), F.lit(1).as("_bad"))
    val flagged = keyed.join(frequent, Seq("lk"), "left")
    val rebuilt = flagged.groupBy(idCol).agg(
      F.sum(F.when(F.col("_bad").isNull, 1L).otherwise(0L)).as("n_kept"),
      F.sum(F.when(F.col("_bad").isNull, 0L).otherwise(1L)).as("n_removed"),
      F.array_join(
        F.transform(
          F.array_sort(F.collect_list(
            F.when(F.col("_bad").isNull,
              F.struct(F.col("pos"), F.col("line"))))),
          s => s.getField("line")), delim).as("clean_text"))
    // the restore-join re-admits docs with NO non-blank line (absent
    // from `keyed`, so from `rebuilt` too) as (id, "", 0, 0) rows — a
    // THIRD evaluation of `df`. Callers that filter n_kept > 0 anyway
    // (the lifecycle pipelines) pass keepEmpty = false and skip that
    // whole input pass; all-bad-line docs are unaffected either way
    // (they sit in `rebuilt` with n_kept = 0).
    if (keepEmpty)
      df.select(F.col(idCol))
        .join(rebuilt, Seq(idCol), "left")
        .select(F.col(idCol), // the caller's id name is preserved
          F.coalesce(F.col("clean_text"), F.lit("")).as("clean_text"),
          F.coalesce(F.col("n_kept"), F.lit(0L)).as("n_kept"),
          F.coalesce(F.col("n_removed"), F.lit(0L)).as("n_removed"))
    else rebuilt.select(F.col(idCol), F.col("clean_text"),
      F.col("n_kept"), F.col("n_removed"))
  }

  /** Weighted corpus mixing under a token budget (the data-mixture
    * move: sample each source at a rate proportional to its mixture
    * weight, capped at 1.0 — cf. the fixed mixture weights of
    * GPT-3/Pile-style training setups). Per-source keep rate =
    * min(1, budget·(wᵢ/Σw) / tokensᵢ); the keep decision is an
    * md5-derived uniform of (source, id), so re-runs and engines agree
    * row-for-row.
    *
    * Scale shape: pass 1 aggregates per-source token totals (one row
    * per source — the collect is #sources, not data); pass 2 is a pure
    * per-row filter with the rates baked into the plan as a CASE
    * chain. Two scans total, zero joins, zero shuffles on the data
    * path (the totals agg shuffles #sources partial rows).
    *
    * Keep weights exactly representable in binary (integers, halves)
    * if cross-engine bit-identical rate doubles matter — the engine
    * itself doesn't care.
    */
  def mixBySource(df: DataFrame, idCol: String, sourceCol: String,
                  tokens: Column, weights: Map[String, Double],
                  budgetTokens: Long,
                  defaultWeight: Double = 1.0): DataFrame = {
    val (base, rateCol, u) =
      mixRates(df, idCol, sourceCol, tokens, weights, budgetTokens,
        defaultWeight, cap = true)
    base.filter(u < rateCol).drop("_nt", "_rate")
  }

  /** `mixBySource` with UPSAMPLING: a source whose target exceeds its
    * stock repeats — the standard mixture move for scarce high-quality
    * sources (e.g. an encyclopedia sampled ~3 epochs while the crawl
    * is sub-sampled, as in published GPT-3-style mixture tables). Each
    * row yields floor(rate) whole epochs plus one more when its
    * md5-uniform falls under the fractional part, exploded with an
    * `epoch` column (1-based) so downstream packing can interleave or
    * separate epochs. Expected output tokens per source =
    * rate × stock = the budget share, exactly as in the capped
    * operator — but now from both directions.
    *
    * Scale shape: unchanged — per-row arithmetic off the same baked-in
    * rate CASE chain; the explode produces output ∝ sampled tokens.
    */
  def mixBySourceUpsampled(df: DataFrame, idCol: String, sourceCol: String,
                           tokens: Column, weights: Map[String, Double],
                           budgetTokens: Long,
                           defaultWeight: Double = 1.0): DataFrame = {
    val (base, rateCol, u) =
      mixRates(df, idCol, sourceCol, tokens, weights, budgetTokens,
        defaultWeight, cap = false)
    val whole = F.floor(rateCol).cast(LongType)
    val copies = whole + F.when(u < rateCol - F.floor(rateCol), 1L)
      .otherwise(0L)
    // sequence(1, 0) would run DESCENDING in Spark, not empty — guard
    // the zero-copies case explicitly
    base.withColumn("epoch",
        F.explode(F.when(copies >= 1L, F.sequence(F.lit(1L), copies))
          .otherwise(F.array().cast("array<bigint>"))))
      .drop("_nt", "_rate")
  }

  /** Above this many sources the per-source rates join in via a
    * broadcast table instead of a baked-in CASE chain — plan size
    * stays O(1) instead of O(#sources) (a thousands-branch CASE blows
    * up analysis/codegen long before it misbehaves at runtime).
    */
  private val maxInlineRates = 1000

  private def mixRates(df: DataFrame, idCol: String, sourceCol: String,
                       tokens: Column, weights: Map[String, Double],
                       budgetTokens: Long, defaultWeight: Double,
                       cap: Boolean): (DataFrame, Column, Column) = {
    val base = df.withColumn("_nt", tokens.cast(LongType))
    // null-source rows get no weight bucket: excluded from the totals
    // (the rate CASE chain already falls through to 0.0 for them)
    val totals = base.groupBy(sourceCol).agg(F.sum("_nt").as("t"))
      .collect().filter(!_.isNullAt(0))
      // a source whose every token count is null sums to null:
      // zero stock, rate 0 — not an NPE
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
      .toMap
    def w(s: String): Double = weights.getOrElse(s, defaultWeight)
    val wsum = totals.keys.toSeq.sorted.map(w).sum
    require(wsum > 0, "mixBySource: total weight must be positive")
    val rates: Seq[(String, Double)] = totals.toSeq.sortBy(_._1).map {
      case (s, t) =>
        val target = budgetTokens * (w(s) / wsum)
        val r = if (t == 0L) 0.0 else target / t
        s -> (if (cap) math.min(1.0, r) else r)
    }
    val u = (TextAnalysis.h60(F.concat(F.lit("mix:"), F.col(sourceCol),
      F.lit(":"), F.col(idCol).cast("string"))) % 1000000L)
      .cast("double") / 1000000.0
    if (rates.size <= maxInlineRates) {
      // few sources: bake the rates into the plan — the data path is a
      // pure filtered scan, zero joins
      val rateCol = rates.foldLeft(F.lit(0.0): Column) { case (acc, (s, r)) =>
        F.when(F.col(sourceCol) === s, r).otherwise(acc)
      }
      (base, rateCol, u)
    } else {
      // many sources: one broadcast (source, rate) join; unmatched /
      // null-source rows fall through to rate 0.0 like the CASE chain.
      // Re-select the input column order — the using-column join puts
      // sourceCol first, and the two paths must emit IDENTICAL schemas
      // or positional consumers break when the source count crosses
      // the inline cap.
      val rateDf = df.sparkSession.createDataFrame(rates)
        .toDF(sourceCol, "_rate")
      val joined = base.join(F.broadcast(rateDf), Seq(sourceCol), "left")
        .select((base.columns :+ "_rate").map(F.col).toIndexedSeq: _*)
      (joined, F.coalesce(F.col("_rate"), F.lit(0.0)), u)
    }
  }

  /** Deterministic shard assignment for training export: shard =
    * md5-hash(key) mod nShards. A pure per-row expression — the global
    * shuffle that training pipelines need (break source/time locality
    * before sequence packing) without ever sorting the corpus: the
    * hash IS the permutation.
    */
  def shardAssign(df: DataFrame, key: Column, nShards: Int): DataFrame = {
    require(nShards > 0, s"shardAssign: nShards must be positive, got $nShards")
    df.withColumn("shard",
      TextAnalysis.h60(F.concat(F.lit("shard:"), key.cast("string")))
        % nShards.toLong)
  }

  /** Sharded JSONL export — the standard interchange format training
    * loaders read: one directory per shard (`shard=K/part-*.json`, one
    * JSON object per line), rows within each shard in deterministic
    * md5 order. md5-mod shard is the global permutation without a
    * global sort; one Exchange on `shard` (nShards partitions) plus
    * sortWithinPartitions, no driver funnel. Byte-stable across
    * re-runs given stable input: the standard contract for resumable
    * 100 TB exports. Spark's json sink IS JSONL per part file, so
    * nothing bespoke is maintained.
    */
  def writeJsonlShards(df: DataFrame, key: Column, dir: String,
                       nShards: Int): Unit =
    shardAssign(df, key, nShards)
      .withColumn("_ord",
        TextAnalysis.h60(F.concat(F.lit("ord:"), key.cast("string"))))
      .repartition(nShards, F.col("shard"))
      .sortWithinPartitions("shard", "_ord")
      .drop("_ord")
      .write.mode("overwrite").partitionBy("shard").json(dir)

  /** Sequence packing, concat-and-split attribution: documents are
    * laid out contiguously in `order` and cut every `budget` tokens;
    * a document belongs to the sequence where it STARTS
    * (seq_id = floor(tokens_before / budget) — the attribution used
    * when packed training sequences are sliced from a concatenated
    * stream). The global prefix sum is the scale-critical part: a
    * single-partition window would funnel 100 TB through one task, so
    * it runs as a fully-distributed two-LEVEL decomposition — bounded
    * per-group windows over a PURE partition function of the row
    * (`order div groupEvery`; range-repartition sampling is
    * nondeterministic across plan re-executions), then the same trick
    * again on the per-group totals (1 row per 65k docs): per-super-
    * group windows, with the super-group offsets closed by a
    * broadcast triangular self-join over the SUPER totals — by then
    * 1 row per groupEvery² ≈ 4.3e9 docs, so the quadratic pair count
    * is trivial at any real corpus size. No driver collect and no
    * single-partition funnel anywhere; offsets rejoin via broadcast.
    */
  def packSequences(df: DataFrame, order: Column, tokens: Column,
                    budget: Long, groupEvery: Long = 65536): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grp = (order / groupEvery).cast(LongType)
    val base = df.select(order.cast(LongType).as("ord"),
      tokens.cast(LongType).as("n_tokens"), grp.as("grp"))
    // pass 1: per-group token totals — one small row per 65k docs
    val totals = base.groupBy("grp").agg(F.sum("n_tokens").as("t"))
      .withColumn("sgrp", (F.col("grp") / groupEvery).cast(LongType))
    // within-super-group exclusive prefix over group totals (bounded:
    // groupEvery rows per super-group)
    val wIn = Window.partitionBy("sgrp").orderBy("grp")
      .rowsBetween(Window.unboundedPreceding, -1)
    val inPrefix = totals.withColumn("in_off",
      F.coalesce(F.sum("t").over(wIn), F.lit(0L)))
    // super-group offsets: exclusive prefix over the super totals via
    // a broadcast triangular self-join (full column rename on the
    // build side — unrenamed exprIds would misresolve the self-join).
    // An unpartitioned window would be simpler but funnels through a
    // SinglePartition exchange; at 1 row per groupEvery² docs the
    // pair count here is trivial instead.
    val superTotals = totals.groupBy("sgrp").agg(F.sum("t").as("st"))
    val earlier = superTotals
      .select(F.col("sgrp").as("sgrp_b"), F.col("st").as("st_b"))
    val superOff = superTotals
      .join(F.broadcast(earlier), F.col("sgrp_b") < F.col("sgrp"), "left")
      .groupBy("sgrp")
      .agg(F.coalesce(F.sum("st_b"), F.lit(0L)).as("s_off"))
    val offsetDf = inPrefix.join(F.broadcast(superOff), "sgrp")
      .select(F.col("grp"),
        (F.col("in_off") + F.col("s_off")).as("grp_offset"))
    // pass 2: within-group running sum (bounded window) + group offset
    val w = Window.partitionBy("grp").orderBy("ord")
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(F.broadcast(offsetDf), "grp")
      .withColumn("tokens_before",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0L)) + F.col("grp_offset"))
      .select(F.col("ord"), F.col("n_tokens"),
        (F.col("tokens_before") / budget).cast(LongType).as("seq_id"))
  }

  /** Cap every group at `k` rows, deterministically: the kept subset
    * is the k lowest md5-hash rows per group — a per-domain /
    * per-source document cap ("no single domain dominates the mix"),
    * the de-biasing counterpart of weighted mixing. Reproducible
    * across runs, engines, partitionings and cluster sizes (unlike a
    * LIMIT inside a group, which is order-undefined), and re-runs on
    * a grown corpus keep a stable preference order — a document only
    * leaves the cap when k genuinely lower-hash newcomers arrive.
    * One key-partitioned window; the hash is computed in the scan
    * projection.
    */
  def capPerGroup(df: DataFrame, keyCols: Seq[String], idCol: String,
                  k: Int): DataFrame = {
    require(k >= 1, s"capPerGroup: k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(F.col): _*)
      .orderBy(TextAnalysis.h60(F.col(idCol)), F.col(idCol))
    df.withColumn("_rn", F.row_number().over(w))
      .filter(F.col("_rn") <= k)
      .drop("_rn")
  }
}
