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
  *    `pollKeyedChanges`/`pollKeyedChangesBounded` and the cursor
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
          .agg(graft.plans.TopRow.topRow(spark, F.struct(F.col(sc)),
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
      Maintenance.compactAggStateKeyed(spark, dir, p, sampleK,
        minChain = 2)
    true
  }

  // ---- CDC SOURCE: tail a keyed table's manifest version chain -----------
  //
  // The WRITE side streams in through `upsertKeyedBatch`; this is the
  // READ side: a version-cursor loop that emits each committed snapshot's
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

  /** The cursor's last processed version; 0 = nothing consumed yet. */
  def readChangeCursor(spark: org.apache.spark.sql.SparkSession,
                       cursorPath: String): Int =
    cursorText(spark, cursorPath) match {
      case "" => 0
      case t => t.toInt
    }

  /** Persist the cursor (temp + rename — a crash mid-write leaves the
    * old cursor intact, and the next poll simply re-emits the batch).
    */
  def commitChangeCursor(spark: org.apache.spark.sql.SparkSession,
                         cursorPath: String, v: Int): Unit =
    commitChangeCursorState(spark, cursorPath, v.toString)

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

  /** Persist a raw cursor state (same atomic temp+rename discipline
    * as `commitChangeCursor`, which delegates here).
    */
  def commitChangeCursorState(spark: org.apache.spark.sql.SparkSession,
                              cursorPath: String, state: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(cursorPath)
    val fs = graft.sources.Fs.forWrite(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration))
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
}
