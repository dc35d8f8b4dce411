package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.LongType

/** Event-sequence analytics over (user, timestamp, type) streams —
  * extension surface with no reference counterpart (the reference has
  * no event/funnel module; these are the product-analytics staples a
  * general engine is expected to own — cf. ClickHouse's windowFunnel /
  * retention aggregate combinators, which define the de-facto
  * semantics).
  *
  * Both operators are one-shuffle designs: events group by user once;
  * everything per-user happens inside bounded per-user state (an array
  * fold or a distinct-bucket set), never a cross-user window.
  */
object Events {

  /** Anchored funnel: for each user, how deep into the ordered `steps`
    * sequence they progressed, where the funnel ANCHORS at the user's
    * FIRST step-0 event and each later step must occur STRICTLY after
    * the previous step and within `windowUs` microseconds of the
    * anchor. (Greedy earliest-completion semantics: step i's time is
    * the MINIMUM eligible timestamp — deterministic, and exactly
    * mirrorable as a chain of min() subqueries in any SQL engine.)
    *
    * Returns one row per user that has ANY event of a step type:
    * (userCol, depth) with depth in [1, steps.length]; users with
    * events but none matching step 0 report depth 0 only if they have
    * at least one event of some step type — callers wanting the full
    * user universe left-join this result.
    *
    * Scale shape: the scan keeps only events whose type IS a step
    * (pushed filter), projects (user, ts, step-index) — 20 bytes/row
    * into the ONE user shuffle; the per-user fold is a codegen'd
    * `aggregate` HOF over the time-sorted array, state a 3-field
    * struct. No windows, no joins, no per-step re-scan of the corpus.
    */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
             typeCol: String, steps: Seq[String],
             windowUs: Long, maxEventsPerUser: Int = 0): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.length == steps.length,
      s"funnel steps must be distinct, got $steps")
    require(windowUs > 0, s"windowUs must be > 0, got $windowUs")
    val k = steps.length
    // step name -> index as a CASE chain (plan-time constant, codegen'd)
    val idx = steps.zipWithIndex.tail.foldLeft(
      F.when(F.col(typeCol) === steps.head, F.lit(0))) {
      case (acc, (s, i)) => acc.when(F.col(typeCol) === s, F.lit(i))
    }
    val byUser = events
      // the isin already drops null types; null TIMESTAMPS must go
      // too — a null-ts step-0 event would otherwise claim the anchor
      // slot with a null anchor and freeze the user at depth 1, while
      // SQL oracles' min(ts) skips nulls (CLAUDE.md: oracle semantics
      // must never depend on null-free testdata)
      .filter(F.col(typeCol).isin(steps.map(x => x: Any): _*) &&
        F.col(tsCol).isNotNull)
      .select(F.col(userCol),
        F.unix_micros(F.col(tsCol)).as("__ts"), idx.as("__i"))
    val folded =
      if (maxEventsPerUser > 0) {
        // BOUNDED per-user state: the depth is computed over each
        // user's EARLIEST maxEventsPerUser step-events (by (ts, step)),
        // via the graft_earliest_k heap aggregate — one bot user with
        // 10^8 events costs a k-entry buffer, not a multi-GB array.
        // The step index rides as a zero-padded string payload so the
        // heap's (ts, payload) tie-order IS the (ts, i) sort order.
        require(k <= 10000,
          s"capped funnel supports at most 10000 steps, got $k")
        byUser.groupBy(F.col(userCol))
          .agg(graft.plans.EarliestK.earliestK(F.col("__ts"),
            F.format_string("%04d", F.col("__i")), maxEventsPerUser)
            .as("__raw"))
          .select(F.col(userCol), F.expr(
            """transform(__raw,
              |  e -> named_struct('ts', e.ts, 'i', CAST(e.p AS INT)))"""
              .stripMargin).as("__evs"))
      } else byUser
        .groupBy(F.col(userCol))
        .agg(F.array_sort(F.collect_list(
          // named_struct, not struct().as: HOF lambdas lose struct()
          // aliases next to generators (CLAUDE.md); sort orders by
          // (ts, i), so same-timestamp events process in step order —
          // irrelevant to the result (matches need STRICT ts increase)
          // but keeps the fold input deterministic
          F.expr("named_struct('ts', __ts, 'i', __i)"))).as("__evs"))
    folded.select(F.col(userCol),
      F.expr(
        s"""aggregate(__evs,
           |  named_struct('d', 0, 'last', CAST(0 AS BIGINT),
           |               'anchor', CAST(0 AS BIGINT)),
           |  (acc, e) -> CASE
           |    WHEN acc.d = 0 AND e.i = 0 THEN
           |      named_struct('d', 1, 'last', e.ts, 'anchor', e.ts)
           |    WHEN acc.d > 0 AND acc.d < $k AND e.i = acc.d
           |         AND e.ts > acc.last
           |         AND e.ts <= acc.anchor + ${windowUs}L THEN
           |      named_struct('d', acc.d + 1, 'last', e.ts,
           |                   'anchor', acc.anchor)
           |    ELSE acc END).d""".stripMargin).as("depth"))
  }

  /** Top user journeys: each user's first `maxLen` event types in
    * time order joined into a path string (`a>b>c`), counted across
    * users. Same one-user-shuffle shape as `funnel`, but the per-user
    * state is BOUNDED BY CONSTRUCTION: the path depends only on the
    * user's earliest `maxLen` events, so the graft_earliest_k heap
    * aggregate holds at most maxLen entries per user (and map-side
    * partials cap each partition's contribution the same way) — a
    * collect_list here would have been the unbounded-bot-user trap.
    * Ties at the same timestamp order by event type, so the path is
    * deterministic and exactly mirrorable as `ORDER BY ts, type`.
    */
  def eventPaths(events: DataFrame, userCol: String, tsCol: String,
                 typeCol: String, maxLen: Int): DataFrame = {
    require(maxLen >= 1, s"maxLen must be >= 1, got $maxLen")
    events
      // null types/timestamps drop explicitly: array_join silently
      // SKIPS null elements but they'd still consume a slot,
      // silently shortening paths relative to any SQL mirror
      .filter(F.col(typeCol).isNotNull && F.col(tsCol).isNotNull)
      .select(F.col(userCol),
        F.unix_micros(F.col(tsCol)).as("__ts"), F.col(typeCol).as("__t"))
      .groupBy(F.col(userCol))
      .agg(graft.plans.EarliestK.earliestK(
        F.col("__ts"), F.col("__t"), maxLen).as("__evs"))
      .select(F.array_join(
        F.transform(F.col("__evs"), e => e("p")), ">").as("path"))
      .groupBy(F.col("path"))
      .agg(F.count(F.lit(1)).as("n_users"))
  }

  /** First-order Markov transition counts: how often event type `a`
    * is IMMEDIATELY followed by type `b` within the same user's
    * stream (ordered by (ts, type) — deterministic under timestamp
    * ties). Same one-user-shuffle shape as `funnel`/`eventPaths`:
    * adjacent pairs come from an index fold over the per-user sorted
    * array (`transform(sequence(...))`), never a lag window — the
    * window alternative shuffles AND sorts every event globally per
    * partition key; this sorts bounded per-user arrays inside the
    * aggregate.
    */
  def transitions(events: DataFrame, userCol: String, tsCol: String,
                  typeCol: String, maxEventsPerUser: Int = 0): DataFrame = {
    val byUser = events
      // null-type/-ts events are not observations of a transition;
      // dropping them is also the only semantics a lag-window SQL
      // mirror can express without engine-specific null ordering
      .filter(F.col(typeCol).isNotNull && F.col(tsCol).isNotNull)
      .select(F.col(userCol),
        F.unix_micros(F.col(tsCol)).as("__ts"), F.col(typeCol).as("__t"))
    val grouped =
      if (maxEventsPerUser > 0)
        // BOUNDED per-user state: transitions observed within each
        // user's earliest maxEventsPerUser events only (documented
        // prefix semantics — the bot-user cap, like funnel's)
        byUser.groupBy(F.col(userCol))
          .agg(graft.plans.EarliestK.earliestK(F.col("__ts"), F.col("__t"),
            maxEventsPerUser).as("__raw"))
          .select(F.col(userCol), F.expr(
            "transform(__raw, e -> named_struct('ts', e.ts, 't', e.p))")
            .as("__evs"))
      else byUser
        .groupBy(F.col(userCol))
        .agg(F.array_sort(F.collect_list(
          F.expr("named_struct('ts', __ts, 't', __t)"))).as("__evs"))
    grouped
      .select(F.explode(F.expr(
        // pairs for i in [2, size] only — sequence(2, 1) would count
        // DOWN in Spark (implicit step -1) and fabricate reversed
        // pairs for single-event users, so index from 1 and null out
        // i=1 instead
        """filter(transform(sequence(1, size(__evs)),
          |  i -> CASE WHEN i >= 2 THEN
          |    named_struct('a', __evs[i-2].t, 'b', __evs[i-1].t) END),
          |  p -> p IS NOT NULL)""".stripMargin)).as("__p"))
      .select(F.col("__p.a").as("from_type"), F.col("__p.b").as("to_type"))
      .groupBy(F.col("from_type"), F.col("to_type"))
      .agg(F.count(F.lit(1)).as("n"))
  }

  /** Batch sessionization: split each user's events into sessions
    * separated by ≥ `gapUs` of inactivity; one row per session with
    * its start and event count. Declarative `session_window` — the
    * same operator a stream runs under a watermark, so batch and
    * stream agree by construction (x16's oracle pins the window
    * semantics against an independent lag/cumsum formulation).
    */
  def sessionize(events: DataFrame, userCol: String, tsCol: String,
                 gapUs: Long): DataFrame = {
    require(gapUs > 0, s"gapUs must be > 0, got $gapUs")
    events.groupBy(F.col(userCol),
        F.session_window(F.col(tsCol), s"$gapUs microseconds"))
      .agg(F.count(F.lit(1)).as("n"))
      .select(F.col(userCol),
        F.col("session_window.start").as("session_start"), F.col("n"))
  }

  /** Cohort retention: bucket time into `bucketUs`-microsecond periods
    * (e.g. days); a user's cohort is the bucket of their FIRST event;
    * output one row per (cohort, offset ≥ 0) with the count of
    * DISTINCT users from that cohort active `offset` buckets later
    * (offset 0 = the cohort size itself). Buckets are absolute
    * (floor(epoch_us / bucketUs)) — pure per-row arithmetic, no
    * timezone/session state, identical in any engine.
    *
    * Scale shape: ONE user-keyed shuffle — per-user active buckets
    * collect as a set (bounded by the time span / bucket size, e.g.
    * ≤366 for daily buckets over a year; map-side partials dedup
    * before the exchange), the cohort is the set's min, offsets
    * explode from the set, and because (user, bucket) is unique after
    * the set, the per-(cohort, offset) distinct-user count is a plain
    * count — no second distinct, no join, no window. The final rollup
    * is buckets² rows at most.
    */
  def retention(events: DataFrame, userCol: String, tsCol: String,
                bucketUs: Long): DataFrame = {
    require(bucketUs > 0, s"bucketUs must be > 0, got $bucketUs")
    // integral `div`, not floor(double /): an epoch just under a
    // bucket boundary could round UP through the double quotient and
    // land in the wrong bucket. Exact for epochs >= 0 (all real event
    // data; pre-1970 timestamps would truncate toward zero instead of
    // flooring, same as DuckDB's // only for non-negatives).
    val bucket = F.expr(s"unix_micros(`$tsCol`) div ${bucketUs}L")
      .cast(LongType)
    events
      // collect_set would skip the null bucket anyway; the explicit
      // filter keeps the SQL mirror trivial (DISTINCT keeps null rows)
      .filter(F.col(tsCol).isNotNull)
      .select(F.col(userCol), bucket.as("__b"))
      .groupBy(F.col(userCol))
      .agg(F.collect_set(F.col("__b")).as("__bs"))
      .select(F.array_min(F.col("__bs")).as("cohort"),
        F.explode(F.col("__bs")).as("__b"))
      .groupBy(F.col("cohort"), (F.col("__b") - F.col("cohort")).as("offset"))
      .agg(F.count(F.lit(1)).as("n_users"))
  }
}
