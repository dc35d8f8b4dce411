package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions.col

/** What the keyed table format needs from Structured Streaming. A
  * graft table is a DataFrame, so every batch operator runs on a
  * stream unchanged: watermarks, windows and stream dedup are plain
  * `withWatermark`/`window`/`dropDuplicatesWithinWatermark` calls at
  * the caller. This module holds only the table-format pieces:
  *  - `foreachBatch` sink bodies: `upsertKeyedBatch` (CDC MERGE into a
  *    keyed table) and `aggStateBatch` (incremental agg-state
  *    maintenance, replay-safe through the manifest's `txn` slot);
  *  - the CDC source over a keyed table's manifest version chain:
  *    `pollKeyedChanges`/`tailKeyedChangesBounded` and the cursor
  *    read/commit around them.
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
                       deleteCol: Option[String] = None): Unit =
    graft.sources.Maintenance.cdcMergeKeyed(batch.sparkSession, dir,
      batch, keyCol, nBuckets, seqCol, deleteCol)

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

  /** One micro-batch of streaming agg-state maintenance — the body of
    * a `foreachBatch` sink. Bootstraps the state on the first batch. Returns
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
      Maintenance.compactKeyed(spark, dir, minChain = 2)
    true
  }

  // ---- CDC SOURCE: tail a keyed table's manifest version chain -----------
  //
  // The WRITE side streams in through `upsertKeyedBatch`; this is the
  // READ side: a version-cursor loop that emits each committed snapshot's
  // changes as a batch, so a downstream incremental consumer processes
  // `changes(v_cursor, v_now)` instead of re-scanning 100 TB. The
  // cursor is a dir of versioned manifests whose newest `txn` is the
  // position, published like a table's manifest (a crash leaves the old
  // or the new position; `vacuumKeyed` reclaims a registered cursor's
  // superseded versions). The batch content for a (from, to) pair is
  // DETERMINISTIC (keyedChanges reads only the generation-changed
  // buckets of two immutable snapshots), so at-least-once processing
  // is replay-idempotent exactly like foreachBatch: key any side
  // effects by the version pair. ONE consumer per cursor; independent
  // consumers use separate cursors. The table's vacuum policy must
  // retain the consumer's horizon (`keepVersions` ≥ the max lag in
  // versions) — a vacuumed `from` manifest fails the poll loudly
  // rather than emitting a gap.

  private def cursorPins(spark: org.apache.spark.sql.SparkSession,
                         cursorPath: String): Map[String, Long] =
    graft.sources.Maintenance.newestManifest(spark, cursorPath)
      .fold(Map.empty[String, Long])(_.txn)

  /** The cursor's last processed version; 0 = nothing consumed yet. */
  def readChangeCursor(spark: org.apache.spark.sql.SparkSession,
                       cursorPath: String): Int = {
    import graft.sources.Maintenance.{CursorBucket, CursorVersion}
    val pins = cursorPins(spark, cursorPath)
    require(!pins.contains(CursorBucket), s"$cursorPath is mid bounded " +
      "initial load: tail it with tailKeyedChangesBounded")
    pins.get(CursorVersion).fold(0)(_.toInt)
  }

  /** Persist the cursor (its next manifest version — a crash leaves
    * the old or the new cursor, and the next poll re-emits the batch).
    */
  def commitChangeCursor(spark: org.apache.spark.sql.SparkSession,
                         cursorPath: String, v: Int): Unit =
    commitChangeCursorState(spark, cursorPath, v, None)

  private def commitChangeCursorState(spark: org.apache.spark.sql.SparkSession,
                                      cursorPath: String, v: Int,
                                      bucket: Option[Int]): Unit = {
    import graft.sources.Maintenance.{CursorBucket, CursorVersion}
    graft.sources.Maintenance.commitPins(spark, cursorPath)(_ =>
      Map(CursorVersion -> v.toLong) ++ bucket.map(CursorBucket -> _.toLong))
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
    require(maxVersions >= 1, s"maxVersions must be >= 1")
    changesFrom(spark, dir, readChangeCursor(spark, cursorPath), maxVersions)
  }

  private def changesFrom(spark: org.apache.spark.sql.SparkSession,
                          dir: String, from: Int, maxVersions: Int)
      : Option[(DataFrame, Int, Int)] = {
    import graft.sources.Maintenance
    val latest = Maintenance.manifestVersions(spark, dir).lastOption
      .getOrElse(0)
    // bounded catch-up: a consumer far behind advances at most
    // maxVersions per batch instead of folding its whole lag into one
    // giant diff (manifest versions are dense by construction, so the
    // capped target always exists unless vacuumed — which fails loudly
    // in readManifest, same as an expired `from`)
    val to = math.min(latest, from.toLong + maxVersions).toInt
    if (to <= from) None
    else if (from == 0) {
      val m = Maintenance.readManifest(spark, dir, Some(to))
      Some((added(spark, dir, m, m.liveBuckets()), 0, to))
    } else
      // a MATERIALIZED VIEW (bucketed agg state) tails as a VIEW
      // changelog (keyedChanges dispatches to aggStateChanges)
      Some((Maintenance.keyedChanges(spark, dir, from, to), from, to))
  }

  /** `buckets` of snapshot `m` as 'added' rows: key columns + status,
    * and for a view (agg state) the finalized row with NULL old_*
    * retractions — the changelog's shape, so a consumer's fold logic
    * is one code path.
    */
  private def added(spark: org.apache.spark.sql.SparkSession, dir: String,
                    m: graft.sources.Maintenance.KeyedManifest,
                    buckets: Seq[Int]): DataFrame = {
    import graft.sources.Maintenance
    require(m.keyCol.nonEmpty, s"$dir has no keyed metadata")
    if (m.resolve == "agg") {
      val fin = Maintenance.finalizeAgg(
        Maintenance.resolveBuckets(spark, dir, m, buckets), m.keyCols)
      val valCols = fin.columns.filterNot(m.keyCols.contains).toSeq
      fin.select(m.keyCols.map(col) ++
        (F.lit("added").as("status") +: (valCols.map(col) ++
          valCols.map(c => F.lit(null).cast(fin.schema(c).dataType)
            .as(s"old_$c")))): _*)
    } else
      Maintenance.resolveBuckets(spark, dir, m, buckets)
        .select(m.keyCols.map(col) :+ F.lit("added").as("status"): _*)
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
  // committed mid-initial is lost or double-emitted. Mid-initial the
  // cursor pins v0 plus the count of live buckets already emitted.

  /** One micro-batch of the BOUNDED CDC source: `(batch, version,
    * bucket)`, the cursor position to commit after processing it, or
    * None when up to date. Mid-initial, `batch` is the next ≤
    * `initialBuckets` live buckets of snapshot v0 as 'added' rows;
    * after the initial drains, ordinary diffs bounded by `maxVersions`.
    */
  private def pollKeyedChangesBounded(spark: org.apache.spark.sql.SparkSession,
                                      dir: String, cursorPath: String,
                                      maxVersions: Int, initialBuckets: Int)
      : Option[(DataFrame, Int, Option[Int])] = {
    import graft.sources.Maintenance
    import Maintenance.{CursorBucket, CursorVersion}
    require(initialBuckets >= 1, "initialBuckets must be >= 1")
    val pins = cursorPins(spark, cursorPath)
    val v = pins.get(CursorVersion).fold(0)(_.toInt)
    def initialChunk(v0: Int, idx: Int) = {
      val m0 = Maintenance.readManifest(spark, dir, Some(v0))
      val live = m0.liveBuckets()
      val chunk = live.slice(idx, idx + initialBuckets)
      val next = idx + chunk.length
      Some((added(spark, dir, m0, chunk), v0,
        Option(next).filter(_ < live.length)))
    }
    pins.get(CursorBucket) match {
      case Some(idx) => initialChunk(v, idx.toInt)
      case None if v == 0 =>
        Maintenance.manifestVersions(spark, dir).lastOption
          .flatMap(initialChunk(_, 0))
      case None =>
        changesFrom(spark, dir, v, maxVersions)
          .map { case (df, _, toV) => (df, toV, None) }
    }
  }

  /** poll → process → advance for the bounded tail; returns whether a
    * batch was processed. The cursor commits AFTER `f` — at-least-once,
    * like the unbounded poll.
    */
  def tailKeyedChangesBounded(spark: org.apache.spark.sql.SparkSession,
                              dir: String, cursorPath: String,
                              maxVersions: Int = Int.MaxValue,
                              initialBuckets: Int = Int.MaxValue)
                             (f: DataFrame => Unit): Boolean =
    pollKeyedChangesBounded(spark, dir, cursorPath, maxVersions,
      initialBuckets) match {
      case Some((df, v, bucket)) =>
        f(df)
        commitChangeCursorState(spark, cursorPath, v, bucket)
        true
      case None => false
    }
}
