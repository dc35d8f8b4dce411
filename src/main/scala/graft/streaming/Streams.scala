package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming extensions — green-field relative to the
  * reference (SURVEY §2.10: no streaming exists there). The batch
  * operators in this engine are all expressed on DataFrames, so they
  * lift to streams unchanged; this module adds the stream-specific
  * pieces: watermarks, windowed aggregation, sessionization,
  * stream dedup, and custom keyed state.
  *
  * Scale notes: windowed aggs shuffle on (window, keys) with partial
  * aggregation; state stores are per-key — watermarks bound state
  * size; stream-stream joins need watermarks on both sides.
  */
object Streams {

  /** One micro-batch of streaming CDC MERGE into a manifest-committed
    * keyed table (sources/Maintenance layout). Semantics per batch:
    *  - `seqCol` (if set): last-wins per key — only the row with the
    *    highest sequence value applies, within the batch AND against
    *    the stored row (CDC batches carry several updates per key;
    *    sequence values must be unique per key).
    *  - `deleteCol` (if set): a boolean tombstone — a key whose last
    *    row has it true is DELETED, the column itself never lands in
    *    the table.
    * The first batch bootstraps the table. Upserts and tombstones land
    * in ONE manifest commit (Maintenance.cdcMergeKeyed), so a racing
    * reader never observes updates-applied/deletes-pending, and the
    * stored-seq guard sits INSIDE the optimistic-commit retry — safe
    * under concurrent writers, not just the single stream. REPLAY-SAFE
    * the way the manifest makes everything replay-safe: foreachBatch
    * is at-least-once, and re-merging the same batch produces a new
    * manifest version with IDENTICAL content.
    */
  def upsertKeyedBatch(batch: DataFrame, dir: String, keyCol: String,
                       nBuckets: Int, seqCol: Option[String] = None,
                       deleteCol: Option[String] = None,
                       asDeltas: Boolean = false): Unit =
    if (asDeltas)
      deltaKeyedBatch(batch, dir, keyCol, nBuckets, seqCol, deleteCol)
    else
      graft.sources.Maintenance.cdcMergeKeyed(batch.sparkSession, dir,
        batch, keyCol, nBuckets, seqCol, deleteCol)

  /** The MERGE-ON-READ twin of the CDC batch: the reduced batch lands
    * as per-bucket DELTA dirs (Maintenance.appendDeltaKeyed) — bytes
    * written ∝ the batch, never the touched buckets, which is what a
    * high-frequency small-batch stream into large buckets needs; run
    * `compactKeyed` on a maintenance cadence to fold the chains.
    * Last-wins across batches is DELTA ORDER (append order): correct
    * for in-order-per-key delivery (e.g. a log-compacted, key-
    * partitioned source), and exact replays are idempotent only in
    * CONTENT (a replayed batch appends an identical delta level — the
    * resolved rows are unchanged). An out-of-order source needs the
    * copy-on-write path's stored-seq guard (`asDeltas = false`).
    */
  private def deltaKeyedBatch(batch: DataFrame, dir: String, keyCol: String,
                              nBuckets: Int, seqCol: Option[String],
                              deleteCol: Option[String]): Unit = {
    import graft.sources.Maintenance
    val spark = batch.sparkSession
    val reduced = seqCol match {
      case Some(sc) =>
        // native argmax, not a row_number window (r15; same shape as
        // cdcMergeKeyedCols): struct-wrapped ord keeps one row for an
        // all-null-seq key, like the window's nulls-last rank did
        batch.groupBy(col(keyCol))
          .agg(graft.plans.TopRow.topRow(F.struct(F.col(sc)),
            F.struct(batch.columns.map(col(_)): _*)).as("__win"))
          .select(col("__win.*"))
      case None => batch
    }
    val (ups, dels) = deleteCol match {
      case Some(dc) =>
        (reduced.filter(!F.coalesce(col(dc), F.lit(false))).drop(dc),
          Some(reduced.filter(F.coalesce(col(dc), F.lit(false)))
            .select(col(keyCol))))
      case None => (reduced, None)
    }
    if (Maintenance.manifestVersions(spark, dir).isEmpty)
      Maintenance.writeKeyed(ups, dir, keyCol, nBuckets)
    else
      Maintenance.appendDeltaKeyed(spark, dir, ups, keyCol, nBuckets,
        tombstoneKeys = dels)
  }

  /** Continuous CDC MERGE: every micro-batch folds into the keyed
    * table via `upsertKeyedBatch`; concurrent readers always resolve a
    * complete snapshot (the manifest commit), so the table is live
    * while the stream runs.
    */
  def upsertKeyedStream(updates: DataFrame, dir: String, keyCol: String,
                        nBuckets: Int, seqCol: Option[String] = None,
                        deleteCol: Option[String] = None,
                        asDeltas: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          upsertKeyedBatch(batch, dir, keyCol, nBuckets, seqCol,
            deleteCol, asDeltas)
      }
      .start()

  // ---- streaming MATERIALIZED-VIEW maintenance ----------------------------
  //
  // Every micro-batch's partial-aggregate folds into the BUCKETED agg
  // state (sources/Maintenance.mergeAggStateKeyed) — delta partials by
  // default, so bytes written ∝ the batch — with compaction every
  // `compactEvery` batches bounding read amplification. Aggregation is
  // NOT last-wins-idempotent (re-applying a batch partial would double
  // the counts), so idempotency comes from the manifest's Delta-style
  // `txn` slot: the batch id commits ATOMICALLY with the data in the
  // same manifest publish, and a replayed batch whose id ≤ the
  // recorded watermark is skipped. One appId per sink; the watermark
  // carries forward through every commit (compaction included), so
  // interleaved maintenance can never blank it.

  /** One micro-batch of streaming agg-state maintenance — the body
    * behind `aggStateStream`, callable directly from a custom
    * foreachBatch. Bootstraps the state on the first batch. Returns
    * true when the batch applied, false when the watermark says it
    * already had (a foreachBatch replay).
    */
  def aggStateBatch(batch: DataFrame, batchId: Long, dir: String,
                    keys: Seq[String], valueCol: String, nBuckets: Int,
                    appId: String,
                    distinctKey: Option[String] = None,
                    p: Int = 0, sampleK: Int = -1,
                    sampleUnique: Option[String] = None,
                    asDeltas: Boolean = true,
                    compactEvery: Int = 8): Boolean = {
    import graft.sources.Maintenance
    val spark = batch.sparkSession
    if (Maintenance.lastTxn(spark, dir, appId).exists(_ >= batchId))
      return false
    if (Maintenance.manifestVersions(spark, dir).isEmpty)
      // the bootstrap DEFINES p/sampleK (recorded in the manifest);
      // later batches default to the recorded values via the sentinels
      Maintenance.buildAggStateKeyed(batch, dir, keys, valueCol,
        nBuckets, distinctKey, if (p > 0) p else 12,
        math.max(sampleK, 0), sampleUnique,
        txn = Map(appId -> batchId))
    else
      Maintenance.mergeAggStateKeyed(spark, dir, batch, keys, valueCol,
        distinctKey, p, sampleK, sampleUnique, asDeltas = asDeltas,
        txn = Map(appId -> batchId))
    // maintenance cadence: fold chains past the threshold — planned
    // from the manifest, a no-op while chains are short
    if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
      Maintenance.compactAggStateKeyed(spark, dir, p, sampleK,
        minChain = 2)
    true
  }

  /** Continuous incremental aggregation: the streaming materialized
    * view `group by keys → count/sum/mean[/min/max/distinct/quantiles]`
    * maintained in the bucketed agg-state table at `dir`, queryable
    * mid-stream via `Maintenance.readAggStateKeyed` + `finalizeAgg`.
    */
  def aggStateStream(updates: DataFrame, dir: String, keys: Seq[String],
                     valueCol: String, nBuckets: Int, appId: String,
                     distinctKey: Option[String] = None,
                     p: Int = 0, sampleK: Int = -1,
                     sampleUnique: Option[String] = None,
                     asDeltas: Boolean = true,
                     compactEvery: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          aggStateBatch(batch, batchId, dir, keys, valueCol, nBuckets,
            appId, distinctKey, p, sampleK, sampleUnique, asDeltas,
            compactEvery)
        ()
      }
      .start()

  // ---- CDC SOURCE: tail a keyed table's manifest version chain -----------
  //
  // The WRITE side streams in (upsertKeyedStream); this is the READ
  // side: a version-cursor loop that emits each committed snapshot's
  // changes as a batch, so a downstream incremental consumer processes
  // `changes(v_cursor, v_now)` instead of re-scanning 100 TB. The
  // cursor (last processed version) persists via the same atomic
  // temp+rename discipline as the manifest; the batch content for a
  // (from, to) pair is DETERMINISTIC (keyedChanges reads only the
  // generation-changed buckets of two immutable snapshots), so
  // at-least-once processing is replay-idempotent exactly like
  // foreachBatch: key any side effects by the version pair. ONE
  // consumer per cursor file; independent consumers use separate
  // cursors. The table's vacuum policy must retain the consumer's
  // horizon (`keepVersions` ≥ the max lag in versions) — a vacuumed
  // `from` manifest fails the poll loudly rather than emitting a gap.

  /** The cursor's last processed version; 0 = nothing consumed yet. */
  def readChangeCursor(spark: org.apache.spark.sql.SparkSession,
                       cursorPath: String): Int = {
    val p = new org.apache.hadoop.fs.Path(cursorPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
      finally in.close()
    }
  }

  /** Persist the cursor (temp + rename — a crash mid-write leaves the
    * old cursor intact, and the next poll simply re-emits the batch).
    */
  def commitChangeCursor(spark: org.apache.spark.sql.SparkSession,
                         cursorPath: String, v: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(cursorPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(cursorPath +
      s".tmp_${ProcessHandle.current().pid()}")
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    fs.delete(p, false) // single consumer per cursor: no rename race
    require(fs.rename(tmp, p), s"cursor commit failed: $cursorPath")
  }

  /** One micro-batch of the CDC source: `(changes, fromV, toV)` where
    * `changes` is one row per key added/removed/changed between the
    * cursor's version and the LATEST committed snapshot (the
    * `keyedChanges` shape: key columns + status), or None when the
    * consumer is up to date. Cursor 0 (fresh consumer) emits the whole
    * current snapshot as 'added' — the initial load. Does NOT advance
    * the cursor: process, then `commitChangeCursor(toV)`.
    */
  def pollKeyedChanges(spark: org.apache.spark.sql.SparkSession,
                       dir: String, cursorPath: String,
                       maxVersions: Int = Int.MaxValue)
      : Option[(DataFrame, Int, Int)] = {
    import graft.sources.Maintenance
    require(maxVersions >= 1, s"maxVersions must be >= 1")
    val from = readChangeCursor(spark, cursorPath)
    val latest = Maintenance.manifestVersions(spark, dir).lastOption
      .getOrElse(0)
    // bounded catch-up: a consumer far behind advances at most
    // maxVersions per batch instead of folding its whole lag into one
    // giant diff (manifest versions are dense by construction, so the
    // capped target always exists unless vacuumed — which fails loudly
    // in readManifest, same as an expired `from`)
    val to = math.min(latest, from.toLong + maxVersions).toInt
    if (to <= from) return None
    val m = Maintenance.readManifest(spark, dir, Some(to))
    require(m.keyCol.nonEmpty, s"$dir has no keyed metadata")
    // a MATERIALIZED VIEW (bucketed agg state) tails as a VIEW
    // changelog — the finalized row per changed group with old_*
    // retractions (aggStateChanges); the initial load emits the whole
    // finalized view as 'added' in the SAME shape, so a consumer's
    // fold logic is one code path
    if (m.resolve == "agg") {
      if (from == 0) {
        val fin = Maintenance.finalizeAgg(
          Maintenance.readAggStateKeyed(spark, dir, version = Some(to)),
          m.keyCols)
        val valCols = fin.columns.filterNot(m.keyCols.contains).toSeq
        Some((fin.select(m.keyCols.map(col) ++
          (F.lit("added").as("status") +: (valCols.map(col) ++
            valCols.map(c => F.lit(null).cast(fin.schema(c).dataType)
              .as(s"old_$c")))): _*), 0, to))
      } else
        Some((Maintenance.aggStateChanges(spark, dir, from, to), from, to))
    } else if (from == 0)
      Some((Maintenance.readKeyed(spark, dir, Some(to))
        .select(m.keyCols.map(col) :+ F.lit("added").as("status"): _*),
        0, to))
    else
      Some((Maintenance.keyedChanges(spark, dir, from, to), from, to))
  }

  // ---- bounded initial load -------------------------------------------
  //
  // `pollKeyedChanges` emits a fresh consumer's initial load as ONE
  // whole-snapshot batch — at 100 TB that first batch is the whole
  // table. The BOUNDED variant chunks the initial load at BUCKET
  // granularity across polls: every chunk reads only its buckets'
  // dirs (manifest path pruning) from the SAME pinned snapshot v0
  // (consistent even while writers commit), and once the chunks are
  // drained the cursor becomes a plain version and ordinary diff
  // polls take over — catching up from exactly v0, so nothing
  // committed mid-initial is lost or double-emitted. The cursor file
  // encodes the phase: "i:<v0>:<idx>" mid-initial (idx = buckets
  // already emitted, in sorted-bucket order), a plain version after.
  // `registeredCursorMin` understands both, so a registered
  // mid-initial cursor pins v0 against vacuum.

  private def cursorText(spark: org.apache.spark.sql.SparkSession,
                         cursorPath: String): String = {
    val p = new org.apache.hadoop.fs.Path(cursorPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) ""
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
  }

  /** Persist a raw cursor state (same atomic temp+rename discipline
    * as `commitChangeCursor`, which delegates here).
    */
  def commitChangeCursorState(spark: org.apache.spark.sql.SparkSession,
                              cursorPath: String, state: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(cursorPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(cursorPath +
      s".tmp_${ProcessHandle.current().pid()}")
    val out = fs.create(tmp, true)
    try out.write(state.getBytes("UTF-8")) finally out.close()
    fs.delete(p, false) // single consumer per cursor: no rename race
    require(fs.rename(tmp, p), s"cursor commit failed: $cursorPath")
  }

  /** One micro-batch of the BOUNDED CDC source: `(batch, nextCursor)`,
    * or None when up to date. Mid-initial, `batch` is the next ≤
    * `initialBuckets` buckets of snapshot v0 as 'added' rows (the
    * agg-state shape carries the finalized view + NULL old_*, same as
    * the unbounded poll); after the initial drains, ordinary
    * `keyedChanges`/`aggStateChanges` diffs bounded by `maxVersions`.
    * Commit `nextCursor` via `commitChangeCursorState` AFTER
    * processing — at-least-once, like the unbounded poll.
    */
  def pollKeyedChangesBounded(spark: org.apache.spark.sql.SparkSession,
                              dir: String, cursorPath: String,
                              maxVersions: Int = Int.MaxValue,
                              initialBuckets: Int = Int.MaxValue)
      : Option[(DataFrame, String)] = {
    import graft.sources.Maintenance
    require(initialBuckets >= 1, "initialBuckets must be >= 1")
    val raw = cursorText(spark, cursorPath)
    def initialChunk(v0: Int, idx: Int): Option[(DataFrame, String)] = {
      val m0 = Maintenance.readManifest(spark, dir, Some(v0))
      require(m0.keyCol.nonEmpty, s"$dir has no keyed metadata")
      val live = (m0.buckets.keySet ++ m0.deltas.keySet).toSeq.sorted
      val chunk = live.slice(idx, idx + initialBuckets)
      val nextIdx = idx + chunk.length
      val next = if (nextIdx >= live.length) v0.toString
                 else s"i:$v0:$nextIdx"
      val df =
        if (m0.resolve == "agg") {
          val fin = Maintenance.finalizeAgg(
            Maintenance.readAggStateBuckets(spark, dir, m0, chunk),
            m0.keyCols)
          val valCols = fin.columns.filterNot(m0.keyCols.contains).toSeq
          fin.select(m0.keyCols.map(col) ++
            (F.lit("added").as("status") +: (valCols.map(col) ++
              valCols.map(c => F.lit(null).cast(fin.schema(c).dataType)
                .as(s"old_$c")))): _*)
        } else
          Maintenance.resolveBuckets(spark, dir, m0, chunk)
            .select(m0.keyCols.map(col) :+
              F.lit("added").as("status"): _*)
      Some((df, next))
    }
    raw match {
      case "" | "0" =>
        val latest = Maintenance.manifestVersions(spark, dir).lastOption
          .getOrElse(0)
        if (latest == 0) None else initialChunk(latest, 0)
      case s if s.startsWith("i:") =>
        val parts = s.split(":")
        initialChunk(parts(1).toInt, parts(2).toInt)
      case _ =>
        // plain-version phase: the cursor file is a plain int — the
        // unbounded poll reads it directly
        pollKeyedChanges(spark, dir, cursorPath, maxVersions)
          .map { case (df, _, toV) => (df, toV.toString) }
    }
  }

  /** poll → process → advance for the bounded tail; returns whether a
    * batch was processed.
    */
  def tailKeyedChangesBounded(spark: org.apache.spark.sql.SparkSession,
                              dir: String, cursorPath: String,
                              maxVersions: Int = Int.MaxValue,
                              initialBuckets: Int = Int.MaxValue)
                             (f: DataFrame => Unit): Boolean =
    pollKeyedChangesBounded(spark, dir, cursorPath, maxVersions,
      initialBuckets) match {
      case Some((df, next)) =>
        f(df)
        commitChangeCursorState(spark, cursorPath, next)
        true
      case None => false
    }

  /** One poll → process → advance round of the CDC tail loop; returns
    * whether a batch was processed. `f` receives (changes, fromV, toV)
    * and runs BEFORE the cursor advances (at-least-once — a crash
    * between the two re-emits the identical batch next round).
    */
  def tailKeyedChanges(spark: org.apache.spark.sql.SparkSession,
                       dir: String, cursorPath: String,
                       maxVersions: Int = Int.MaxValue)
                      (f: (DataFrame, Int, Int) => Unit): Boolean =
    pollKeyedChanges(spark, dir, cursorPath, maxVersions) match {
      case Some((changes, fromV, toV)) =>
        f(changes, fromV, toV)
        commitChangeCursor(spark, cursorPath, toV)
        true
      case None => false
    }

  /** Tumbling-window counts/sums per key with late-data handling. */
  def tumblingAgg(events: DataFrame, tsCol: String, window: String,
                  watermark: String, keys: Seq[String],
                  aggs: Seq[Column]): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(F.window(col(tsCol), window) +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Sliding-window variant. */
  def slidingAgg(events: DataFrame, tsCol: String, window: String,
                 slide: String, watermark: String, keys: Seq[String],
                 aggs: Seq[Column]): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(F.window(col(tsCol), window, slide) +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Session windows: gap-based sessionization per key. */
  def sessionAgg(events: DataFrame, tsCol: String, gap: String,
                 watermark: String, keys: Seq[String],
                 aggs: Seq[Column]): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(F.session_window(col(tsCol), gap) +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Exactly-once stream dedup by id within the watermark horizon —
    * the streaming face of Dedup.exact.
    */
  def dedupStream(events: DataFrame, tsCol: String, watermark: String,
                  idCols: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicates(idCols :+ tsCol)

  /** Stream dedup where DUPLICATES may carry different event times
    * (retries, at-least-once sources): ids are deduplicated against
    * everything seen within the watermark horizon. State stays bounded
    * by the horizon; the exactly-once face of at-least-once delivery.
    */
  def dedupStreamWithinWatermark(events: DataFrame, tsCol: String,
                                 watermark: String,
                                 idCols: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Streaming NEAR-duplicate filter, simhash flavor: admit a document
    * only if its simhash was not seen within the watermark horizon.
    * One stateful operator, one 64-bit key per doc — the cheapest
    * continuous-ingestion dedup; catches near-identical texts (equal
    * simhash), not looser paraphrases (use the minhash flavor).
    */
  def nearDupStreamSimhash(docs: DataFrame, tsCol: String,
                           watermark: String, textCol: String,
                           bits: Int = 32): DataFrame =
    docs.withColumn("_simhash", graft.ext.Dedup.simhash(col(textCol), bits))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("_simhash")

  /** Streaming twin of the batch preprocessing pipeline
    * (x21_preprocess_pipeline): quality gate → language gate →
    * near-dup admission, continuously. The text signals are pure
    * expressions (computed in the scan stage, no state); the ONLY
    * stateful operator is the simhash admission, bounded by the
    * watermark horizon — the shape that ingests a 100 TB/day corpus
    * with per-microbatch cost proportional to new data only.
    */
  def preprocessStream(docs: DataFrame, tsCol: String, watermark: String,
                       textCol: String, minQuality: Double = 0.15,
                       lang: String = "en", minTokens: Int = 5): DataFrame = {
    val TA = graft.ext.TextAnalysis
    val gated = docs
      .withColumn("n_tokens", TA.tokenCount(col(textCol)))
      .withColumn("lang", TA.langId(col(textCol)))
      .withColumn("q", TA.qualityScore(col(textCol)))
      .filter(col("q") >= minQuality && col("lang") === lang &&
        col("n_tokens") >= minTokens)
    nearDupStreamSimhash(gated, tsCol, watermark, textCol)
  }

  /** Model-based streaming quality gate: the hashed-linear classifier
    * margin (TextAnalysis.linearMargin) is a pure scan expression, so
    * it gates a stream with ZERO state — the model runs at ingest
    * speed, needs no watermark, and composes in front of any stateful
    * op (dedup admission, windowed aggregation). Same expression as
    * the batch path: one classifier, two execution modes.
    */
  def classifierGateStream(docs: DataFrame, textCol: String,
                           weights: Array[Double], bias: Double,
                           minMargin: Double = 0.0): DataFrame =
    docs.withColumn("margin",
        graft.ext.TextAnalysis.linearMargin(col(textCol), weights, bias))
      .filter(col("margin") >= minMargin)

  /** Bloom-filter decontamination as a stateless streaming FILTER:
    * the eval set folds into a plan-literal bloom once at stream
    * definition (one batch job over the static bench side), and the
    * streaming plan is a pure filter expression — no foreachBatch, no
    * state store, no broadcast per trigger; works in any output mode
    * and composes with every downstream streaming operator. The
    * bounded-memory twin of `decontaminateStream` (whose broadcast
    * gram relation grows with the eval suite); false positives are
    * deterministic and conservative, identical to the batch path.
    */
  def decontaminateBloomStream(docs: DataFrame, textCol: String,
                               bench: DataFrame, benchTextCol: String,
                               n: Int = 8, nBits: Int = 1 << 20)
      : DataFrame =
    docs.filter(graft.ext.Corpus.bloomKeepPredicate(col(textCol),
      bench, benchTextCol, n, nBits))

  /** Continuous benchmark decontamination: each micro-batch of
    * incoming documents runs the BATCH decontamination operator
    * against a static eval set (stream-static composition, one code
    * path). The eval set reduces to its distinct n-gram hashes ONCE at
    * start and is materialized — per-trigger recomputation would
    * re-hash the whole eval suite on every batch. Stateless across
    * batches (a doc's verdict depends only on itself and the static
    * gram set), so state never grows; the broadcast probe shape is
    * identical to the batch plan.
    */
  def decontaminateStream(docs: DataFrame, idCol: String, textCol: String,
                          bench: DataFrame, benchTextCol: String, n: Int = 8)
                         (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val benchGrams = graft.ext.Corpus.benchGramSet(bench, benchTextCol, n)
      .localCheckpoint(true)
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty)
          sink(graft.ext.Corpus.decontaminateWithGrams(
            batch, idCol, textCol, benchGrams, n), id)
      }
      .start()
  }

  /** One micro-batch of incremental exact dedup, REPLAY-SAFE. The
    * index is laid out one subdirectory per batch (`b<batchId>/`);
    * the current batch dedups against every OTHER batch's
    * fingerprints and then OVERWRITES its own subdirectory. foreachBatch
    * is at-least-once — if the sink fails after the index write, Spark
    * replays the same batchId: excluding the batch's own subdir from
    * the seen-set makes the replay compute the identical kept-set (a
    * naive append-then-sink would anti-join the batch against its own
    * fingerprints on replay and silently drop every document), and the
    * overwrite makes the index write idempotent.
    */
  def dedupBatchAgainstIndex(batch: DataFrame, idCol: String,
                             textCol: String, indexDir: String,
                             batchId: Long): DataFrame = {
    import graft.ext.{Dedup, TextAnalysis}
    val spark = batch.sparkSession
    // Hadoop-FS discovery (works on HDFS/S3, not just local disk) and a
    // strict b<digits> name match, so an unrelated subdirectory under
    // indexDir (say "backup/") can never be read as fingerprints.
    val others = graft.sources.Fs.subdirs(spark, indexDir, "b\\d+")
      .filterNot(_.stripSuffix("/").endsWith(s"/b$batchId"))
    val idx =
      if (others.nonEmpty) spark.read.parquet(others.toIndexedSeq: _*)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("fp",
            org.apache.spark.sql.types.StringType))))
    val firsts = batch
      .select(TextAnalysis.fingerprint(F.col(textCol)).as("fp"), F.col(idCol))
      .groupBy("fp").agg(F.min(F.col(idCol)).as(idCol))
    val novel = firsts.join(idx, Seq("fp"), "left_anti").localCheckpoint(true)
    novel.select("fp").write.mode("overwrite")
      .parquet(s"$indexDir/b$batchId")
    batch.join(novel.select(F.col(idCol)), Seq(idCol), "left_semi")
  }

  /** LM quality gate on a stream: each micro-batch runs the BATCH
    * `lmScore` against a model trained once on a static reference
    * (stream-static, one code path). Pass the model through
    * `materializeLm` so per-trigger batches broadcast the two tiny
    * count tables instead of re-counting the reference every trigger.
    * Stateless across batches — a doc's score depends only on itself
    * and the static model.
    */
  def lmGateStream(docs: DataFrame, idCol: String, textCol: String,
                   model: graft.ext.Corpus.NgramLm, minScore: Double)
                  (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val m = materializeLm(model)
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty)
          sink(graft.ext.Corpus.lmScore(batch, idCol, textCol, m)
            .filter(F.col("lm_score") >= minScore), id)
      }
      .start()
  }

  /** Materialize a trained LM's count tables (they are tiny after
    * pruning) so streaming triggers don't recompute the reference
    * aggregation per batch.
    */
  def materializeLm(model: graft.ext.Corpus.NgramLm)
      : graft.ext.Corpus.NgramLm =
    model.copy(bigrams = model.bigrams.localCheckpoint(true),
      contexts = model.contexts.localCheckpoint(true))

  /** One micro-batch of incremental NEAR-dup dedup, REPLAY-SAFE — the
    * fuzzy twin of `dedupBatchAgainstIndex`, same durable layout: one
    * `b<batchId>/` subdirectory of (band, bucket, id, sig) rows per
    * batch, the current batch probing every OTHER batch's rows and
    * OVERWRITING its own. A replayed trigger excludes its own subdir
    * from the seen-set, so it computes the identical kept-set and the
    * write is idempotent. Streams default to the cheap xxhash64
    * hasher (signatures need no cross-engine portability inside a
    * stream; the estimate threshold semantics are unchanged).
    */
  def neardupBatchAgainstIndex(batch: DataFrame, idCol: String,
                               textCol: String, indexDir: String,
                               batchId: Long, threshold: Double,
                               k: Int = 12, bands: Int = 4,
                               hasher: org.apache.spark.sql.Column =>
                                 org.apache.spark.sql.Column =
                                 graft.ext.Dedup.fastHasher): DataFrame = {
    import graft.ext.Dedup
    val spark = batch.sparkSession
    val others = graft.sources.Fs.subdirs(spark, indexDir, "b\\d+")
      .filterNot(_.stripSuffix("/").endsWith(s"/b$batchId"))
    val idx =
      if (others.nonEmpty) spark.read.parquet(others.toIndexedSeq: _*)
      else Dedup.emptyLshIndex(spark)
    val (bbuck, survivors0) = Dedup.neardupProbe(batch, idCol, textCol,
      idx, threshold, k, bands, hasher)
    val survivors = survivors0.localCheckpoint(true)
    bbuck.join(survivors, Seq("bid"), "left_semi")
      .select(F.col("band"), F.col("bucket"), F.col("bid").as("id"),
        F.col("bsig").as("sig"))
      .write.mode("overwrite").parquet(s"$indexDir/b$batchId")
    batch.join(survivors.withColumnRenamed("bid", idCol),
      Seq(idCol), "left_semi")
  }

  /** Continuous incremental NEAR-dup dedup: every micro-batch drops
    * documents whose minhash-signature estimate clears `threshold`
    * against ANY prior batch (durable parquet seen-set — no watermark
    * horizon, survives restarts) or against a lower-id doc within the
    * batch, then persists its own survivors' bucket rows. Replay-safe
    * (see `neardupBatchAgainstIndex`); cold start bootstraps empty.
    */
  def neardupAgainstIndexStream(docs: DataFrame, idCol: String,
                                textCol: String, indexDir: String,
                                threshold: Double)
                               (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty)
          sink(neardupBatchAgainstIndex(batch, idCol, textCol, indexDir,
            id, threshold), id)
      }
      .start()

  /** Continuous incremental exact dedup: every micro-batch dedups
    * against the persisted all-history fingerprint index and adds its
    * own novel fingerprints — durable parquet, so unlike in-memory
    * streaming state there is no watermark horizon (a duplicate of a
    * document seen a year ago still drops) and the seen-set survives
    * restarts. Batch replays are idempotent (see
    * `dedupBatchAgainstIndex`); a cold start bootstraps an empty
    * index.
    */
  def dedupAgainstIndexStream(docs: DataFrame, idCol: String, textCol: String,
                              indexDir: String)
                             (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty)
          sink(dedupBatchAgainstIndex(batch, idCol, textCol, indexDir, id), id)
      }
      .start()

  /** Streaming MinHash-LSH near-dup band admissions: each document
    * explodes to its (band, bucket) keys; a band row is ADMITTED if
    * that (band, bucket) was not seen within the watermark horizon.
    * A document whose every band was admitted is new; any collision
    * means a near-dup of an already-admitted doc. The band-level
    * stream composes with a downstream windowed count
    * (`admitted.groupBy(window, id).count == bands`) or feeds offline
    * candidate verification — the same (band, bucket) shuffle key as
    * the batch pipeline (Dedup.lshBuckets).
    *
    * Streaming cannot localCheckpoint the shared hash array (the
    * batch pipeline's fix for Catalyst re-inlining), so the default
    * hasher here is the cheap xxhash64 — signatures need no
    * cross-engine portability inside a stream.
    */
  def nearDupStreamMinhashBands(docs: DataFrame, tsCol: String,
                                watermark: String, idCol: String,
                                textCol: String, k: Int = 12,
                                bands: Int = 4): DataFrame = {
    val r = k / bands
    val sig = graft.ext.Dedup.signatureFromHashes(
      graft.ext.Dedup.shingleHashes(col(textCol),
        hasher = graft.ext.Dedup.fastHasher), k)
    docs
      .select(col(idCol), col(tsCol),
        F.posexplode(graft.ext.Dedup.bandBuckets(sig, bands, r))
          .as(Seq("band", "bucket")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("band", "bucket")
  }

  /** Stream-stream interval join: left rows match right rows with the
    * same key whose time falls in [leftTs, leftTs + maxDelay]. Both
    * sides are watermarked — Spark can then bound the join state and
    * evict rows past the horizon (an un-watermarked stream-stream join
    * grows state forever).
    */
  def streamIntervalJoin(left: DataFrame, right: DataFrame, key: String,
                         leftTs: String, rightTs: String,
                         watermark: String, maxDelay: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") + F.expr(s"INTERVAL $maxDelay"))
  }

  /** Continuous similarity search: each micro-batch of incoming
    * embeddings is ranked against a STATIC corpus via the batch ANN
    * operator (stream-static composition — the micro-batch is the
    * broadcast query side, the corpus stays partitioned, and the
    * bounded TopKPairs ranking lifts unchanged, so the streaming path
    * shares one code path and one plan shape with the batch path).
    * The corpus projection (id, vector, norm) is prepped and
    * MATERIALIZED once at start — a per-trigger recomputation would
    * re-scan the corpus and re-fold every norm on every batch.
    * Stateless across batches: a batch's queries are answered within
    * its trigger, so state never grows — at 100 TB/day the only
    * scaling knob is trigger interval × corpus partitioning.
    */
  def annStream(queries: DataFrame, corpus: DataFrame, k: Int)
               (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val prepped = graft.ext.Similarity.prepCorpus(corpus)
      .localCheckpoint(true)
    queries.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty)
          sink(graft.ext.Similarity.bruteForceTopKPrepped(batch, prepped, k),
            id)
      }
      .start()
  }

  /** Windowed heavy-hitter terms over a continuous document stream:
    * per tumbling window, the Misra-Gries sketch of the token stream —
    * the streaming face of Search.topTokens/FreqSketch. Aggregation
    * state per window is BOUNDED at `cap` counters regardless of
    * vocabulary (an exact streaming top-k would hold every distinct
    * term in the state store forever); the watermark bounds how many
    * windows hold state. Same guarantee as batch:
    * `true − n/(cap+1) ≤ est ≤ true` per window.
    */
  def topTermsStream(docs: DataFrame, tsCol: String, textCol: String,
                     window: String, watermark: String,
                     cap: Int): DataFrame =
    docs.withWatermark(tsCol, watermark)
      .select(col(tsCol), F.explode(
        graft.ext.TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(F.window(col(tsCol), window))
      .agg(graft.plans.FreqSketch.freqSketch(col("term"), cap).as("heavy"))

  /** Streaming twin of `ext.Events.funnel`: the SAME greedy anchored
    * state machine ((depth, last, anchor) transitions, strict time
    * order, window from the anchor), run as O(1) per-user keyed state
    * via mapGroupsWithState and emitted on every update. Input is
    * (user, tsUs, stepIdx) with stepIdx pre-resolved (filter to step
    * types and map names → indexes upstream, exactly what the batch
    * operator's scan projection does). Rows are applied in (ts, idx)
    * order WITHIN each micro-batch; across batches the machine is
    * monotone, so an in-order feed reproduces the batch result
    * row-for-row (spec'd) and a late event that missed its slot is
    * ignored — the standard streaming-funnel tradeoff, made explicit.
    */
  case class FunnelDepth(user: Long, depth: Int)

  def funnelStream(events: Dataset[(Long, Long, Int)], k: Int,
                   windowUs: Long): Dataset[FunnelDepth] = {
    require(k >= 1 && windowUs > 0, s"need k >= 1, windowUs > 0")
    implicit val stateEnc: Encoder[(Int, Long, Long)] =
      Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong, Encoders.scalaLong)
    implicit val outEnc: Encoder[FunnelDepth] = Encoders.product[FunnelDepth]
    events.groupByKey(_._1)(Encoders.scalaLong)
      .mapGroupsWithState[(Int, Long, Long), FunnelDepth](
        GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[(Int, Long, Long)]) =>
          var (d, last, anchor) = state.getOption.getOrElse((0, 0L, 0L))
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, ts, i) =>
            if (d == 0 && i == 0) { d = 1; last = ts; anchor = ts }
            else if (d > 0 && d < k && i == d && ts > last &&
              ts <= anchor + windowUs) { d += 1; last = ts }
          }
          state.update((d, last, anchor))
          FunnelDepth(user, d)
      }
  }

  /** The production variant of `funnelStream`: same transition
    * function, but per-user state EXPIRES once the user's funnel can
    * no longer change — at `anchor + windowUs` past the watermark for
    * anchored users, or one window past their last event for users
    * still waiting on step 0. funnelStream's state is only 3 longs
    * per user, but "per user, forever" is unbounded on an unbounded
    * stream; with expiry the store holds just the users whose window
    * is still open (≈ active users per window, not all users ever
    * seen). Append semantics: the final depth is emitted exactly
    * once, when the user's window closes (use funnelStream for
    * emit-on-every-update dashboards). Input needs the raw TIMESTAMP
    * column (the watermark must be declared on event time before the
    * grouping).
    */
  def funnelStreamExpiring(events: DataFrame, userCol: String,
                           tsCol: String, typeCol: String,
                           steps: Seq[String], windowUs: Long,
                           watermark: String): Dataset[FunnelDepth] = {
    require(steps.nonEmpty && windowUs > 0, "need steps and windowUs > 0")
    val k = steps.length
    val idx = steps.zipWithIndex.tail.foldLeft(
      F.when(col(typeCol) === steps.head, F.lit(0))) {
      case (acc, (s, i)) => acc.when(col(typeCol) === s, F.lit(i))
    }
    implicit val inEnc: Encoder[(Long, java.sql.Timestamp, Int)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.TIMESTAMP,
        Encoders.scalaInt)
    implicit val stateEnc: Encoder[(Int, Long, Long)] =
      Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong, Encoders.scalaLong)
    implicit val outEnc: Encoder[FunnelDepth] = Encoders.product[FunnelDepth]
    // the WATERMARKED column itself must reach the grouping (Spark
    // tracks the watermark on the attribute — projecting it into
    // unix_micros silently discards the tag and event-time timeouts
    // are rejected), so micros derive from the Timestamp in the fold
    val prepared = events
      .withWatermark(tsCol, watermark)
      .filter(col(typeCol).isin(steps.map(x => x: Any): _*) &&
        col(tsCol).isNotNull)
      .select(col(userCol).cast("long"), col(tsCol), idx.cast("int"))
      .as[(Long, java.sql.Timestamp, Int)]
    def us(t: java.sql.Timestamp): Long =
      t.getTime * 1000 + (t.getNanos / 1000) % 1000
    prepared.groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState[(Int, Long, Long), FunnelDepth](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state: GroupState[(Int, Long, Long)]) =>
          if (state.hasTimedOut) {
            // the window is closed past the watermark: final answer
            val d = state.get._1
            state.remove()
            Iterator.single(FunnelDepth(user, d))
          } else {
            var (d, last, anchor) = state.getOption.getOrElse((0, 0L, 0L))
            var maxTs = 0L
            rows.toSeq.map(r => (us(r._2), r._3))
              .sortBy(identity).foreach { case (ts, i) =>
                maxTs = math.max(maxTs, ts)
                if (d == 0 && i == 0) { d = 1; last = ts; anchor = ts }
                else if (d > 0 && d < k && i == d && ts > last &&
                  ts <= anchor + windowUs) { d += 1; last = ts }
              }
            state.update((d, last, anchor))
            // anchored: nothing can change after anchor+window; not
            // yet anchored: keep the user one window past their last
            // event (a later step-0 could still arrive). CLAMP to
            // just past the current watermark: a late event can put
            // anchor+window BELOW the watermark, and Spark throws on
            // a timeout timestamp that isn't beyond it — the clamp
            // turns "late user" into "expires at the next trigger"
            // instead of killing the query
            val closesUs = (if (d > 0) anchor else maxTs) + windowUs
            state.setTimeoutTimestamp(math.max(closesUs / 1000 + 1,
              state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  /** Custom keyed state via mapGroupsWithState: running count + sum
    * per key, emitted on every trigger. State is a (count, sum) pair —
    * O(1) per key, watermark-free (runs forever); use timeouts for
    * bounded-retention variants.
    */
  case class KeyedRunning(key: Long, count: Long, sum: Double)

  def runningPerKey(events: Dataset[(Long, Double)]): Dataset[KeyedRunning] = {
    implicit val stateEnc: Encoder[(Long, Double)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble)
    implicit val outEnc: Encoder[KeyedRunning] = Encoders.product[KeyedRunning]
    events.groupByKey(_._1)(Encoders.scalaLong)
      .mapGroupsWithState[(Long, Double), KeyedRunning](
        GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[(Long, Double)]) =>
          val (c0, s0) = state.getOption.getOrElse((0L, 0.0))
          var c = c0; var s = s0
          rows.foreach { r => c += 1; s += r._2 }
          state.update((c, s))
          KeyedRunning(key, c, s)
      }
  }
}
