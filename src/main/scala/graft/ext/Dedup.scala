package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types._
import TextAnalysis.{h60, tokens, fingerprint}

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard. Designed for the 100 TB
  * shape of the problem:
  *
  *  - Per-document signatures (minhash/simhash) are pure Column
  *    expressions over the text — computed during the scan, no shuffle,
  *    no UDF, fully codegen'd.
  *  - Candidate generation shuffles ONCE on (band, bucket) — the
  *    classic LSH band trick — instead of the O(n²) all-pairs join.
  *  - Exact verification (Jaccard) runs only on candidate pairs.
  *  - All hashes are md5-derived → deterministic across engines,
  *    partitionings and cluster sizes.
  */
object Dedup {

  // ---- exact -------------------------------------------------------------
  /** Exact dedup on normalized text: keep the lowest id per
    * fingerprint. One hash-shuffle on the 16-byte fingerprint, not the
    * full text — at scale the shuffle payload is (fingerprint, id).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy("fp").agg(F.min(col(idCol)).as("keep_id"),
        F.count(lit(1)).as("n_copies"))

  // ---- incremental exact dedup against a persisted index -----------------
  /** Persist the corpus's distinct fingerprints to `dir` — the seen-set
    * a later ingest batch dedups against. Stored as bare 32-hex-char
    * fingerprints (16 bytes of payload per historical document class),
    * so a 100 TB corpus's index is a few hundred GB of parquet — small
    * enough to shuffle, far too big to broadcast, which is why
    * `dedupAgainstIndex` uses a plain equi-join and lets AQE pick the
    * strategy.
    */
  def buildFpIndex(df: DataFrame, textCol: String, dir: String): Unit =
    df.select(fingerprint(col(textCol)).as("fp")).distinct()
      .write.mode("overwrite").parquet(dir)

  /** Incremental exact dedup: keep each incoming document that is (a)
    * the first occurrence of its fingerprint WITHIN the batch and (b)
    * novel against the persisted index — the steady-state shape of a
    * continuously-ingesting corpus (daily crawl appends vs. an
    * all-history seen-set). With `updateIndex = true` the surviving
    * fingerprints append to the index, so consecutive batches
    * accumulate exactly-once semantics.
    *
    * Scale shape: the batch reduces to (fp, min id) with map-side
    * partials, then one equi-join against the index on the 16-byte
    * fingerprint — shuffle payload is fingerprints and ids, never
    * text. The kept-id semi-join back to the batch is id-only.
    */
  def dedupAgainstIndex(incoming: DataFrame, idCol: String, textCol: String,
                        dir: String, updateIndex: Boolean = false): DataFrame = {
    val spark = incoming.sparkSession
    // bootstrap: a missing/empty index dir means "nothing seen yet" —
    // the first batch of a continuous ingest must not need a separate
    // buildFpIndex call. Probed via the Hadoop FileSystem API so the
    // index can live where a 100 TB seen-set actually lives (HDFS/S3);
    // a java.io.File probe would silently read any non-local index as
    // empty and readmit every historical duplicate.
    val idx = {
      if (graft.sources.Fs.hasParquet(spark, dir)) spark.read.parquet(dir)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("fp", StringType))))
    }
    val firsts = incoming
      .select(fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy("fp").agg(F.min(col(idCol)).as(idCol))
    val novel0 = firsts.join(idx, Seq("fp"), "left_anti")
    // when also appending to the index, materialize once so the append
    // and the result semi-join don't each recompute the anti-join
    val novel = if (updateIndex) novel0.localCheckpoint(true) else novel0
    if (updateIndex)
      novel.select("fp").write.mode("append").parquet(dir)
    incoming.join(novel.select(col(idCol)), Seq(idCol), "left_semi")
  }

  /** Build (or rebuild) the persisted NEAR-dup index: one row per
    * (band, bucket) per document, carrying the full minhash signature
    * for probe-time verification. Text is NOT stored — at 100 TB the
    * index is k longs + bands buckets per doc (~150 bytes), not the
    * corpus; the price is that probe verification is the signature
    * ESTIMATE of Jaccard (E[est] = J, sd = sqrt(J(1-J)/k)) instead of
    * the exact token intersection `minhashPairs` can afford when both
    * texts are in hand.
    */
  def buildLshIndex(df: DataFrame, idCol: String, textCol: String,
                    dir: String, k: Int = 12, bands: Int = 4,
                    hasher: Column => Column = portableHasher): Unit = {
    val r = k / bands
    val hashed = ensureParallelism(df).select(col(idCol).as("id"),
        shingleHashes(col(textCol), hasher = hasher).as("hs"))
      .localCheckpoint(true)
    hashed.select(col("id"), signatureFromHashes(col("hs"), k).as("sig"))
      .select(col("id"), col("sig"),
        F.posexplode(bandBuckets(col("sig"), bands, r))
          .as(Seq("band", "bucket")))
      .select(col("band"), col("bucket"), col("id"), col("sig"))
      .write.mode("overwrite").parquet(dir)
  }

  /** Incremental NEAR-dup dedup: keep each incoming document that (a)
    * has no lower-id near-duplicate WITHIN the batch and (b) matches
    * nothing in the persisted index — the fuzzy twin of
    * `dedupAgainstIndex` (daily crawl vs all-history corpus, where
    * re-LSHing 100 TB per batch is not an option).
    *
    * Scale shape — the INDEX NEVER SHUFFLES: the batch's (band,
    * bucket) keys broadcast (a batch is small by definition), the
    * index streams through its scan into a broadcast hash join, and
    * only matching candidate rows survive to the signature-estimate
    * check. Intra-batch candidates come from the same bucket table
    * self-joined (batch-sized). Greedy keep rule: a doc drops if it
    * estimates >= threshold against the index OR against ANY lower-id
    * batch doc — deterministic and engine-independent.
    *
    * With `updateIndex` the survivors' bucket rows append, so
    * consecutive batches accumulate. NOTE: plain append is for
    * DRIVEN batch loops; under an at-least-once trigger (foreachBatch)
    * key the append by batchId with overwrite instead — a replayed
    * trigger would otherwise double-append.
    */
  def neardupAgainstIndex(incoming: DataFrame, idCol: String,
                          textCol: String, dir: String,
                          threshold: Double, k: Int = 12, bands: Int = 4,
                          hasher: Column => Column = portableHasher,
                          updateIndex: Boolean = false): DataFrame = {
    val spark = incoming.sparkSession
    // cold start: an empty index in the `buildLshIndex` schema
    val idx =
      if (graft.sources.Fs.hasParquet(spark, dir)) spark.read.parquet(dir)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("band", IntegerType),
          StructField("bucket", StringType),
          StructField("id", LongType),
          StructField("sig", ArrayType(LongType)))))
    val r = k / bands
    // materialize the batch bucket table once: it fans out to the
    // index probe, BOTH sides of the intra-batch self-join (severed
    // lineage also keeps the self-join's exprIds distinct), and the
    // index write
    val bbuck = ensureParallelism(incoming)
      .select(col(idCol).as("bid"),
        shingleHashes(col(textCol), hasher = hasher).as("hs"))
      .localCheckpoint(true)
      .select(col("bid"), signatureFromHashes(col("hs"), k).as("bsig"))
      .select(col("bid"), col("bsig"),
        F.posexplode(bandBuckets(col("bsig"), bands, r))
          .as(Seq("band", "bucket")))
      .localCheckpoint(true)
    def est(a: Column, b: Column): Column =
      F.size(F.filter(F.zip_with(a, b, (x, y) => x === y),
        v => v)).cast(DoubleType) / k
    val vsIndex = idx.join(F.broadcast(bbuck), Seq("band", "bucket"))
      .filter(est(col("bsig"), col("sig")) >= threshold)
      .select(col("bid")).distinct()
    val vsBatch = bbuck.alias("a")
      .join(bbuck.alias("b"), col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") && col("a.bid") < col("b.bid"))
      .filter(est(col("a.bsig"), col("b.bsig")) >= threshold)
      .select(col("b.bid")).distinct()
    val survivors0 = incoming.select(col(idCol).as("bid"))
      .join(vsIndex, Seq("bid"), "left_anti")
      .join(vsBatch, Seq("bid"), "left_anti")
    // when also appending, materialize so the append and the result
    // semi-join don't each recompute the anti-joins
    val survivors =
      if (updateIndex) survivors0.localCheckpoint(true) else survivors0
    if (updateIndex)
      bbuck.join(survivors, Seq("bid"), "left_semi")
        .select(col("band"), col("bucket"), col("bid").as("id"),
          col("bsig").as("sig"))
        .write.mode("append").parquet(dir)
    incoming.join(survivors.withColumnRenamed("bid", idCol),
      Seq(idCol), "left_semi")
  }

  // ---- shingling -----------------------------------------------------------
  /** Word n-gram shingles; texts shorter than n words → one shingle
    * (the whole trimmed text).
    */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesFromTokens(tokens(text), F.trim(text), n)

  /** Shingles from a PRECOMPUTED token array (share one tokenization
    * pass between the shingle/minhash pipeline and exact-Jaccard
    * verification — they both start from the same split).
    */
  def shinglesFromTokens(toks: Column, trimmed: Column, n: Int = 3): Column =
    // main branch is one native pass (WordNgrams — byte-identical
    // strings to the transform/slice/concat_ws chain, which walked an
    // index array through an interpreted lambda per shingle); the
    // short-text fallback stays engine-side
    when(F.size(toks) < n, F.array(trimmed))
      .otherwise(graft.plans.WordNgrams(toks, n))

  // ---- MinHash + LSH -------------------------------------------------------
  /** Mersenne prime 2^31-1: the minhash value domain. Base shingle
    * hashes are reduced mod P so the affine family a*h+b (a < 2^29)
    * stays within 62 bits — exact long arithmetic in any engine.
    */
  val P: Long = 2147483647L

  /** Portable base hash: md5-derived, reproducible in any engine —
    * the default, so results can be oracle-checked externally.
    */
  val portableHasher: Column => Column = (c: Column) => h60(c) % P

  /** Production fast path: xxhash64 (native codegen'd Catalyst
    * expression, ~10x cheaper than the md5+hex pipeline). Same
    * statistical properties, NOT portable across engines — use when
    * reproducibility within Spark is enough (it is deterministic
    * across runs/partitionings/cluster sizes).
    */
  val fastHasher: Column => Column =
    (c: Column) => F.pmod(F.xxhash64(c), lit(P))

  /** One base hash per shingle, reduced mod P. The expensive hash
    * happens ONCE per shingle; the k hash functions are cheap affine
    * transforms of this base (the classic minhash trick — at 100 TB
    * the base-hash count is the dominant CPU term).
    */
  def shingleHashes(text: Column, shingleN: Int = 3,
                    hasher: Column => Column = portableHasher): Column =
    F.transform(shingles(text, shingleN), s => hasher(s))

  /** Affine hash-family parameters, md5-derived so any engine
    * reproduces them (a_i odd < 2^29, b_i < 2^28) — but computed HERE
    * at plan-build time and embedded as literals: leaving them as
    * engine expressions inside the per-shingle lambda re-evaluates the
    * md5 once per array element (12M md5 calls at sf0.1 — measured
    * 25s → <1s after hoisting).
    */
  private def md5_28(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.take(4).map(b => f"$b%02x").mkString.take(7), 16)
  }
  def fam(i: Int): (Long, Long) =
    (md5_28(s"a_$i") * 2 + 1, md5_28(s"b_$i"))

  /** k-wide MinHash signature from precomputed base hashes:
    * sig[i] = min over shingles of (a_i*h + b_i) mod P.
    */
  def signatureFromHashes(hs: Column, k: Int = 12): Column =
    // one native pass over the base hashes (bit-identical exact long
    // arithmetic — see AffineMinHash); the k-way array_min/transform
    // fold ran ~k x |hs| interpreted lambda calls per row on the
    // hottest scan of the dedup pipeline
    graft.plans.AffineMinHash(hs, P, (0 until k).map(fam))

  /** Spread a hash-heavy expression pipeline across the cluster when
    * the source arrives UNDER-partitioned. File splitting sizes
    * partitions by scan bytes; shingle/minhash pipelines cost ~100×
    * more CPU per byte, so a sub-core partition count serializes the
    * job (a 600 KB parquet = 1 partition = 1 of 32 cores busy). The
    * guard only fires below `spark.graft.minParallelism` (default:
    * defaultParallelism) — at 100 TB inputs already carry thousands of
    * partitions and this is a no-op.
    */
  def ensureParallelism(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val want = graft.GraftConf.minParallelism(spark)
    // estimate the scan's partition count WITHOUT forcing physical
    // planning (df.rdd built the whole RDD DAG on every call): file
    // sources split at maxPartitionBytes, so logical-plan stats give
    // the count directly. Post-shuffle/checkpointed inputs carry
    // large or default stats and skip the guard — exactly the inputs
    // that are already parallel.
    val plan = df.queryExecution.optimizedPlan
    val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join,
      Repartition, RepartitionByExpression, Sort}
    val parts: BigInt = plan.collectFirst {
      // explicit repartitions and materialized (checkpointed) inputs
      // carry their partition count in the plan
      case r: Repartition => BigInt(r.numPartitions)
      case r: RepartitionByExpression => BigInt(r.optNumPartitions
        .getOrElse(spark.sessionState.conf.numShufflePartitions))
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        BigInt(lr.rdd.getNumPartitions)
      // a shuffle-introducing operator already spreads the frame over
      // numShufflePartitions — the size estimate below would force a
      // REDUNDANT full repartition of every aggregated/joined input
      case _: Aggregate | _: Join | _: Sort =>
        BigInt(spark.sessionState.conf.numShufflePartitions)
    }.getOrElse((plan.stats.sizeInBytes + maxBytes - 1) / maxBytes)
    if (parts < want) df.repartition(want) else df
  }

  /** (id, sig) signature table: base hashes computed ONCE per row and
    * materialized before the k-way expansion (k× less hash work than
    * hashing per signature slot; at 100 TB the base hash is the
    * dominant CPU term).
    */
  def signatures(df: DataFrame, idCol: String, textCol: String,
                 k: Int = 12, shingleN: Int = 3,
                 hasher: Column => Column = portableHasher): DataFrame =
    ensureParallelism(df)
      .select(col(idCol).as("id"),
        shingleHashes(col(textCol), shingleN, hasher).as("hs"))
      .localCheckpoint(true)
      .select(col("id"), signatureFromHashes(col("hs"), k).as("sig"))

  /** LSH band buckets: split the k-signature into bands of r rows;
    * bucket id = md5 of the band's minhashes. Equal bucket ⇒ candidate.
    */
  def bandBuckets(sig: Column, bands: Int, r: Int): Column =
    F.transform(F.sequence(lit(0), lit(bands - 1)),
      b => F.md5(F.concat_ws(",",
        F.transform(F.slice(sig, b * lit(r) + 1, lit(r)), x => x.cast(StringType)))))

  /** Candidate near-dup pairs: ids sharing any (band, bucket).
    * One shuffle on (band, bucket); output deduplicated (a < b).
    */
  def candidatePairs(buckets: DataFrame): DataFrame = {
    val a = buckets.alias("a")
    val b = buckets.alias("b")
    a.join(b, col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Full MinHash-LSH near-dup pipeline with exact Jaccard
    * verification of candidates at `threshold`.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, k: Int = 12, bands: Int = 4,
                   hasher: Column => Column = portableHasher): DataFrame = {
    val r = k / bands
    // ONE tokenization pass feeds both the shingle/minhash pipeline
    // and the exact-Jaccard verification join
    val base = ensureParallelism(df).select(col(idCol).as("jid"),
        tokens(col(textCol)).as("tok"), F.trim(col(textCol)).as("_t"))
      .localCheckpoint(true)
    val hashed = base.select(col("jid").as("id"),
        F.transform(shinglesFromTokens(col("tok"), col("_t")),
          s => hasher(s)).as("hs"))
      .localCheckpoint(true) // expensive hash pipeline — compute once
    val buckets = hashed.select(col("id"),
        F.posexplode(bandBuckets(signatureFromHashes(col("hs"), k), bands, r))
          .as(Seq("band", "bucket")))
      .localCheckpoint(true) // self-joined below
    val cand = candidatePairs(buckets)
    val toks = base.select(col("jid"), col("tok"))
    cand
      .join(toks.alias("ta"), col("id_a") === col("ta.jid"))
      .join(toks.alias("tb"), col("id_b") === col("tb.jid"))
      .select(col("id_a"), col("id_b"),
        graft.plans.TokenJaccard(col("ta.tok"), col("tb.tok")).as("jac"))
      .filter(col("jac") >= threshold)
  }

  // ---- SimHash -------------------------------------------------------------
  /** 32-bit SimHash from a PRECOMPUTED token-hash array: bit j of the
    * result is set iff the sum over hashes of ±1 (by bit j) is >= 0.
    * Take the hashes from a materialized projection (`tokenHashes`) so
    * the md5 pipeline runs once, not `bits` times — as a single
    * expression the hash subtree would be duplicated into all 32 bit
    * sums (no let-binding in Catalyst; measured 32×).
    */
  def simhashFromHashes(hashes: Column, bits: Int = 32): Column = {
    // 2^j via pow→long (exact for j<=52); shiftleft/shiftright only
    // accept literal shift amounts, not lambda-bound columns.
    def p2(j: Column): Column = F.pow(lit(2.0), j).cast(LongType)
    F.aggregate(
      F.sequence(lit(0), lit(bits - 1)),
      lit(0L),
      (acc, j) => acc + when(
        F.aggregate(hashes, lit(0L),
          // bit j of h: (h mod 2^(j+1)) >= 2^j — exact long arithmetic
          (s, h) => s + when((h % (p2(j) * 2)) >= p2(j), 1L)
            .otherwise(-1L)) >= 0,
        p2(j)).otherwise(0L))
  }

  /** Distinct-token md5 hashes — the input to simhash. */
  def tokenHashes(text: Column): Column =
    F.transform(F.array_distinct(tokens(text)), t => h60(t))

  // ---- n-gram Jaccard ------------------------------------------------------
  /** EXACT similarity join via prefix filtering (PPJoin-style; see
    * Xiao et al., "Efficient Similarity Joins for Near Duplicate
    * Detection", WWW'08 — public algorithm): two documents with
    * Jaccard >= t MUST share at least one token among the first
    * `|d| - ceil(t*|d|) + 1` tokens of a COMMON total order. Ordering
    * tokens by ascending global frequency makes those prefixes rare
    * tokens, so the candidate join on (block, prefix-token) generates
    * near-linear candidates instead of block² — exactness preserved
    * (unlike the LSH fallback), which makes this the default 100 TB
    * path for exact thresholds:
    *
    *   1. one shuffle to count global token frequencies,
    *   2. one shuffle to re-sort each document's tokens by (freq, tok),
    *   3. candidate equi-join on (block, prefix token),
    *   4. size-ratio prune + exact TokenJaccard verification.
    */
  def jaccardPairsExact(df: DataFrame, idCol: String, textCol: String,
                        blockCols: Seq[String],
                        threshold: Double): DataFrame = {
    // no ensureParallelism here: PPJoin is SHUFFLE-dominated (freq
    // count + prefix join reshuffle everything anyway) — an upfront
    // repartition measured ~1s SLOWER at sf0.1, unlike the scan-CPU-
    // bound minhash/simhash pipelines above
    val base = df.select(Seq(col(idCol).as("id"),
      F.array_distinct(tokens(col(textCol))).as("tok")) ++
      blockCols.map(col): _*)
      .localCheckpoint(true)
    val freq = base.select(F.explode(col("tok")).as("t"))
      .groupBy("t").agg(F.count(lit(1)).as("f"))
    // canonical per-document ordering: rarest tokens first
    val sorted = base.select(Seq(col("id"), F.explode(col("tok")).as("t")) ++
        blockCols.map(col): _*)
      .join(freq, "t")
      .groupBy((col("id") +: blockCols.map(col)): _*)
      .agg(F.transform(
        F.array_sort(F.collect_list(F.struct(col("f"), col("t")))),
        s => s.getField("t")).as("stok"))
      .localCheckpoint(true) // self-joined below
    val n = F.size(col("stok"))
    val plen = (n - F.ceil(n * threshold) + 1).cast("int")
    val pref = sorted.select(Seq(col("id"), F.size(col("stok")).as("_nd"),
      F.explode(F.slice(col("stok"), lit(1), plen)).as("ptok")) ++
      blockCols.map(col): _*)
    val blockEq = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _)
    val cand = pref.alias("a").join(pref.alias("b"),
        blockEq && col("a.ptok") === col("b.ptok") &&
          col("a.id") < col("b.id") &&
          // size-ratio prune: J <= min/max of distinct counts
          F.least(col("a._nd"), col("b._nd")) >=
            F.greatest(col("a._nd"), col("b._nd")) * threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val toks = base.select(col("id"), col("tok"))
    cand
      .join(toks.alias("ta"), col("id_a") === col("ta.id"))
      .join(toks.alias("tb"), col("id_b") === col("tb.id"))
      .select(col("id_a"), col("id_b"),
        graft.plans.TokenJaccard(col("ta.tok"), col("tb.tok")).as("jac"))
      .filter(col("jac") >= threshold)
  }

  // ---- cross-document repeated spans --------------------------------------
  /** Cross-document repeated n-token spans: every n-gram window (all
    * offsets — this is the shingle set, not strided chunks, so span
    * alignment never matters) counted by DISTINCT containing
    * documents; spans in ≥ minDocs docs are the candidates exact
    * substring dedup would cut (the scalable n-token-resolution
    * approximation of the suffix-array approach in Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" —
    * a distributed suffix array over 100 TB is not a Spark shape;
    * shingle counting is).
    *
    * Scale shape: one explode (output ∝ tokens), then the two-level
    * count-distinct partial aggregation keyed on the 60-bit span HASH
    * — span text never shuffles (it rides as min(span), equal within
    * a hash group). Output is only the repeated tail, tiny by
    * construction.
    */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 8, minDocs: Long = 2): DataFrame =
    ensureParallelism(df)
      .select(col(idCol).as("doc_id"),
        F.explode(shinglesFromTokens(tokens(col(textCol)),
          F.trim(col(textCol)), n)).as("span"))
      .select(col("doc_id"), col("span"), h60(col("span")).as("sh"))
      .groupBy("sh")
      .agg(F.min("span").as("span"),
        F.countDistinct("doc_id").as("n_docs"),
        F.min("doc_id").as("first_doc"))
      .filter(col("n_docs") >= minDocs)
      .select("span", "n_docs", "first_doc")

  /** Exact substring dedup with REMOVAL: cut from each document the
    * tokens covered by any n-token span that occurs in ≥ minDocs
    * DISTINCT documents — the surgery step `repeatedSpans` only
    * detects (Lee et al. 2022 remove duplicated substrings rather
    * than whole documents; boilerplate lives mid-document where
    * doc-level dedup can't see it). With `keepFirst` the
    * lowest-id containing document keeps its copy (the paper's
    * keep-one-occurrence form); default cuts everywhere (the
    * boilerplate-removal form, like CCNet line dedup).
    *
    * Scale shape — the text NEVER shuffles:
    *  1. one scan → posexplode of 60-bit span hashes (id, pos, sh);
    *  2. repeated set via (sh, id)-distinct partials then count — the
    *     output is the tiny repeated tail, AQE-broadcast on join-back;
    *  3. cut positions roll up per doc (ints only) and broadcast-join
    *     back to the id spine;
    *  4. reconstruction is a pure array expression over the original
    *     text: keep token i unless some repeated span start s covers
    *     it (s ≤ i < s+n), concat_ws — codegen'd, per-row.
    * Documents with nothing to cut keep their ORIGINAL bytes
    * (reconstruction would normalize whitespace); fully-boilerplate
    * documents come back as empty text, staying visible downstream.
    */
  def removeRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 8, minDocs: Long = 2,
                          keepFirst: Boolean = false,
                          hasher: Column => Column = h60(_)): DataFrame = {
    val spans = ensureParallelism(df)
      .select(col(idCol),
        F.posexplode(F.transform(
          shinglesFromTokens(tokens(col(textCol)), F.trim(col(textCol)), n),
          s => hasher(s))).as(Seq("pos", "sh")))
    val rep = spans.select(col(idCol), col("sh")).distinct()
      .groupBy("sh")
      .agg(F.count(lit(1)).as("nd"), F.min(idCol).as("_first_doc"))
      .filter(col("nd") >= minDocs)
      .select(col("sh"), col("_first_doc"))
    val hits = spans.join(rep, Seq("sh"))
    val cuts = (if (keepFirst) hits.filter(col(idCol) =!= col("_first_doc"))
                else hits)
      .groupBy(idCol).agg(F.collect_list("pos").as("_starts"))
    df.join(cuts, Seq(idCol), "left")
      .withColumn(textCol,
        when(col("_starts").isNull, col(textCol))
          .otherwise(F.concat_ws(" ",
            F.filter(tokens(col(textCol)), (t, i) =>
              !F.exists(col("_starts"), s => s <= i && i < s + n)))))
      .drop("_starts")
  }

  /** Per-document cross-corpus span duplication: the fraction of a
    * document's n-token windows that occur in ≥ minDocs DISTINCT
    * documents corpus-wide (itself included; a window repeated only
    * within one doc does not count) — the per-doc filtering signal
    * built on
    * `repeatedSpans`' detection (completes the duplication-signal
    * family: intra-doc repetition → Corpus.repetitionSignals,
    * whole-doc exact → exact, near → minhashPairs, span-level → this).
    *
    * Scale shape: one explode; the repeated-span set is the tiny tail
    * of the (sh, doc) distinct count, so its join back is
    * AQE-broadcastable; per-doc rollup is one partial-agg groupBy.
    */
  def spanDupFraction(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 8, minDocs: Long = 2): DataFrame = {
    // `spans` fans out (repeated-set aggregation + probe side) and is
    // deliberately NOT materialized: recomputing the shingle+md5 pass
    // twice MEASURED ~2x faster than checkpointing it (x51: 0.9s
    // recomputed vs 1.8s checkpointed) — the eager materialization
    // job costs more than the codegen'd second pass saves
    val spans = ensureParallelism(df)
      .select(col(idCol),
        F.explode(shinglesFromTokens(tokens(col(textCol)),
          F.trim(col(textCol)), n)).as("span"))
      .select(col(idCol), h60(col("span")).as("sh"))
    val rep = spans.distinct()
      .groupBy("sh").agg(F.count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("sh"), lit(1).as("_rep"))
    spans.join(rep, Seq("sh"), "left")
      .groupBy(idCol) // the caller's id name is preserved
      .agg(F.count(lit(1)).as("n_spans"),
        F.sum(F.when(col("_rep").isNotNull, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("span_dup_frac",
        col("n_dup").cast("double") / col("n_spans"))
  }

  // ---- cluster resolution --------------------------------------------------
  /** Connected components over near-dup pairs: assigns every id the
    * minimum id of its duplicate cluster (the canonical survivor).
    * Completes the dedup pipeline: pairs → clusters → keep canonical.
    *
    * Iterative min-label propagation — converges in O(cluster
    * diameter) rounds; each round is one join + one min-aggregation,
    * materialized eagerly so the plan stays O(1) in depth. Dup
    * clusters are near-cliques in practice, so diameter is tiny even
    * when the pair set is huge.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          driverLimit: Long = -1): DataFrame = {
    val spark = pairs.sparkSession
    // driverLimit < 0 (the default): spark.graft.dedup.driverLimit
    val dl =
      if (driverLimit >= 0) driverLimit
      else graft.GraftConf.dedupDriverLimit(spark)
    def mat(df: DataFrame): DataFrame = {
      val ck = df.localCheckpoint(true)
      spark.createDataFrame(ck.rdd, ck.schema)
    }
    val edges = mat(pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct())
    // Candidate-pair sets are usually tiny relative to the corpus
    // (LSH has already pruned). Below `driverLimit` edges, finish with
    // driver-side union-find: exact min-label components in one pass,
    // no per-round job latency. Above it, the distributed min-label
    // rounds below take over (the 100 TB path). ONE probe job decides
    // AND fetches: collect limit+1 rows — a full count() followed by
    // collect() would run two jobs over the checkpointed edges.
    val lim = (math.min(dl, Int.MaxValue - 2L) + 1).toInt
    val probe = edges.limit(lim).collect()
    if (probe.length < lim) {
      val rows = probe
      val parent = scala.collection.mutable.Map[Any, Any]()
      def find(x: Any): Any = { // iterative + path compression
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val nxt = parent(c); parent(c) = r; c = nxt
        }
        r
      }
      // union by MIN id so the representative is the canonical label
      def lt(a: Any, b: Any): Boolean = (a, b) match {
        case (x: Long, y: Long) => x < y
        case (x: Int, y: Int) => x < y
        case (x: String, y: String) => x < y
        case _ => a.toString < b.toString
      }
      rows.foreach { r =>
        val (a, b) = (find(r.get(0)), find(r.get(1)))
        if (a != b) { if (lt(a, b)) parent(b) = a else parent(a) = b }
      }
      val ids = rows.map(_.get(0)).distinct
      val out = ids.map(id => Row(id, find(id)))
      val idType = edges.schema.fields(0).dataType
      return spark.createDataFrame(
        java.util.Arrays.asList(out: _*),
        StructType(Seq(StructField("id", idType),
          StructField("label", idType))))
    }
    var labels = mat(edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label")))
    var changed = true
    var iter = 0
    while (changed && iter < maxIter) {
      iter += 1
      // Each node takes min(own label, neighbors' labels). The own-label
      // rows are flagged so the SAME aggregation also recovers the old
      // label — convergence is then a filter over the materialized
      // result, not an extra join + recompute per round.
      val viaEdges = edges.alias("e")
        .join(labels.alias("l"), col("e.src") === col("l.id"))
        .select(col("e.dst").as("id"), col("l.label").as("label"),
          lit(0).as("is_old"))
      val next = mat(labels
        .select(col("id"), col("label"), lit(1).as("is_old"))
        .unionAll(viaEdges)
        .groupBy("id").agg(F.min("label").as("label"),
          (F.min("label") =!= F.max(when(col("is_old") === 1, col("label"))))
            .as("changed")))
      changed = !next.filter(col("changed")).isEmpty
      labels = next.select("id", "label")
    }
    labels
  }

  /** All-pairs Jaccard within blocking groups (e.g. same lang+source):
    * blocking bounds the quadratic term to group size — but a skewed
    * block (one dominant lang+source) would reintroduce O(n²) at
    * 100 TB. Blocks larger than `maxBlock` therefore fall back to
    * MinHash-LSH candidate generation WITHIN the block: the quadratic
    * term is bounded by bucket-collision counts instead of block size.
    * The fallback is probabilistic (standard LSH recall) — pairs it
    * returns are exact-verified, but a hot block may miss a small
    * fraction of borderline pairs; exact behavior is unchanged for all
    * blocks ≤ maxBlock.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   blockCols: Seq[String], threshold: Double,
                   maxBlock: Int = 5000,
                   hasher: Column => Column = portableHasher): DataFrame = {
    val base = ensureParallelism(df).select(Seq(col(idCol).as("id"),
      tokens(col(textCol)).as("tok"), col(textCol).as("_text")) ++
      blockCols.map(col) :+
      F.size(F.array_distinct(tokens(col(textCol)))).as("_nd"): _*)
      .localCheckpoint(true) // self-joined below — tokenize once
    // block sizes ride along via one small aggregate (blocks are few;
    // broadcast back onto the rows)
    val sizes = base.groupBy(blockCols.map(col): _*)
      .agg(F.count(lit(1)).as("_bn"))
    val withN = base.join(F.broadcast(sizes), blockCols)
    val blockEq = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _)

    // small blocks: exact all-pairs (quadratic bounded by maxBlock).
    // Size-ratio prefilter: J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so
    // pairs whose distinct-token counts are too lopsided can never
    // reach the threshold — pruned with two int compares before the
    // O(n) set intersection runs.
    val sizeOk = F.least(col("a._nd"), col("b._nd")) >=
      F.greatest(col("a._nd"), col("b._nd")) * threshold
    val small = withN.filter(col("_bn") <= maxBlock)
    val smallPairs = small.alias("a").join(small.alias("b"),
        blockEq && col("a.id") < col("b.id") && sizeOk)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        graft.plans.TokenJaccard(col("a.tok"), col("b.tok")).as("jac"))
      .filter(col("jac") >= threshold)

    // hot blocks: LSH banding inside the block; candidates must share a
    // (block, band, bucket) — quadratic only in bucket collisions.
    // The minhash pipeline runs ONLY on hot-block rows (none in the
    // common case), hashes once (materialized before the k-way
    // expansion), then distinct on id pairs with tokens re-joined.
    val bigRows = withN.filter(col("_bn") > maxBlock)
      .withColumn("hs", shingleHashes(col("_text"), hasher = hasher))
      .localCheckpoint(true)
    val big = bigRows
      .withColumn("_sig", signatureFromHashes(col("hs")))
      .select(Seq(col("id"),
        F.posexplode(bandBuckets(col("_sig"), bands = 4, r = 3))
          .as(Seq("band", "bucket"))) ++ blockCols.map(col): _*)
    val bigCand = big.alias("a").join(big.alias("b"),
        blockEq && col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val toks = base.select(col("id"), col("tok"))
    val bigPairs = bigCand
      .join(toks.alias("ta"), col("id_a") === col("ta.id"))
      .join(toks.alias("tb"), col("id_b") === col("tb.id"))
      .select(col("id_a"), col("id_b"),
        graft.plans.TokenJaccard(col("ta.tok"), col("tb.tok")).as("jac"))
      .filter(col("jac") >= threshold)

    smallPairs.unionAll(bigPairs)
  }

  // ---- fuzzy (edit-distance) join ------------------------------------------
  /** All single-character deletions of `s` as an array expression:
    * position i dropped → prefix [1..i] + suffix [i+2..]. Pure HOF
    * Column — computed in the scan projection, codegen'd, no UDF.
    */
  private def delVariants1(s: Column): Column =
    F.transform(
      F.sequence(lit(0), F.greatest(F.length(s) - 1, lit(0))),
      i => F.concat(s.substr(lit(1), i), s.substr(i + lit(2), F.length(s))))

  /** Exact edit-distance-≤-k pair join via FastSS deletion
    * neighborhoods (Bocek et al. 2007, "Fast Similarity Search in
    * Large Dictionaries"): two strings with levenshtein ≤ k always
    * share a member of their depth-k deletion neighborhoods
    * (pigeonhole on the edit script), so candidates from a plain
    * equi-join on neighborhood hashes have GUARANTEED recall; an exact
    * threshold levenshtein then restores precision. Typo-tolerant
    * entity matching / fuzzy dedup for short strings (names, titles,
    * urls — neighborhood size is len+1 at k=1, O(len²) at k=2; not
    * meant for document bodies, where token-level MinHash is the
    * right tool).
    *
    * Scale shape: the candidate shuffle carries (60-bit md5 variant
    * hash, id) — 16 bytes per variant, the TEXT never enters the
    * wide shuffle; texts join back per-id only for the candidate
    * verify, which runs Spark's codegen'd threshold levenshtein
    * (early-exit above `maxDist`). Hash collisions only add
    * candidates (killed by the verify), never lose pairs. Rows with
    * NULL strings never match (SQL null semantics). Exact-duplicate
    * heavy inputs should run [[exact]] first — m identical strings
    * are m·(m−1)/2 genuine dist-0 pairs, a semantic blowup no
    * blocking can avoid.
    *
    * Output: (id1, id2, dist) with id1 < id2, dist ≤ maxDist.
    */
  def fuzzyPairs(df: DataFrame, idCol: String, strCol: String,
                 maxDist: Int): DataFrame = {
    require(maxDist == 1 || maxDist == 2,
      s"fuzzyPairs: maxDist must be 1 or 2, got $maxDist")
    val rows = df.select(col(idCol).as("id"), col(strCol).as("s"))
    val d1 = F.array_union(F.array(col("s")), delVariants1(col("s")))
    val neighborhood =
      if (maxDist == 1) d1
      else F.array_distinct(F.flatten(
        F.transform(d1, v => F.array_union(F.array(v), delVariants1(v)))))
    // the (vh, id) signature table feeds BOTH sides of the self-join;
    // at 16 bytes/row it is far smaller than its compute (len+1 md5s
    // per string) — the materialize case of the checkpoint economics,
    // same as minhash signatures
    val sigs = {
      val s = rows
        .select(col("id"), F.explode(neighborhood).as("v"))
        .select(col("id"), h60(col("v")).as("vh"))
      val ckpt = s.localCheckpoint(true)
      s.sparkSession.createDataFrame(ckpt.rdd, ckpt.schema)
    }
    val cand = sigs.alias("a").join(sigs.alias("b"),
        col("a.vh") === col("b.vh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    val texts1 = rows.select(col("id").as("id1"), col("s").as("s1"))
    val texts2 = rows.select(col("id").as("id2"), col("s").as("s2"))
    cand.join(texts1, "id1").join(texts2, "id2")
      .select(col("id1"), col("id2"),
        F.levenshtein(col("s1"), col("s2"), maxDist).as("dist"))
      .filter(col("dist") >= 0)
  }
}
