package graft

/** Plan-quality regression guards: operators must keep producing the
  * physical shapes that scale (pushdown, pruning, broadcast, top-k).
  * These catch silent plan regressions — e.g. a refactor inserting a
  * materialization boundary that stops predicate pushdown.
  */
class PlanQualitySpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("bucketed agg state: chain-free reads plan a pure scan; the re-agg shuffle is confined to delta buckets") {
    import org.apache.spark.sql.functions._
    val M = graft.sources.Maintenance
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_bas").toString
    val full = spark.range(0, 2000)
      .select((col("id") % 64).as("g"), (col("id") % 9).cast("double").as("v"))
    M.buildAggStateKeyed(full, dir, Seq("g"), "v", nBuckets = 8)
    // no chains: the state read is a plain multi-dir scan — zero
    // exchange, zero aggregate (the stored rows ARE the state)
    val p0 = M.readKeyed(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p0.contains("Exchange") && !p0.contains("HashAggregate"),
      s"chain-free agg-state read gained a shuffle/agg:\n$p0")
    // one delta batch confined to one group -> ONE bucket carries a
    // chain; the re-aggregation must touch only that bucket's dirs
    // (2 files in the agg branch), every other bucket scans straight
    M.mergeAggStateKeyed(spark, dir,
      full.filter(col("g") === 3), Seq("g"), "v", asDeltas = true)
    val df1 = M.readKeyed(spark, dir)
    val p1 = df1.queryExecution.executedPlan.toString
    assert(p1.contains("HashAggregate"), s"chain not re-aggregated:\n$p1")
    val m = M.readManifest(spark, dir)
    val chained = m.deltas.count(_._2.nonEmpty)
    assert(chained == 1)
    // the plan reads all live dirs (8 bases + 1 delta), but the
    // aggregate branch holds only the chained bucket's base+delta;
    // the union's plain branch carries the other 7 buckets unshuffled
    assert(df1.inputFiles.length == m.buckets.size + 1,
      s"agg-state read touched unexpected files: ${df1.inputFiles.length}")
    // correctness of the confined fold: equals the one-shot recompute
    val dir2 = java.nio.file.Files.createTempDirectory("graft_pq_bas2").toString
    M.buildAggStateKeyed(full.unionByName(full.filter(col("g") === 3)),
      dir2, Seq("g"), "v", nBuckets = 8)
    val a = M.finalizeAgg(M.readKeyed(spark, dir), Seq("g"))
      .select("g", "n", "total").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = M.finalizeAgg(M.readKeyed(spark, dir2), Seq("g"))
      .select("g", "n", "total").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a == b)
  }

  test("MV routing: the routed group-by plans a PURE STATE SCAN — no aggregate, no exchange, no base files") {
    import org.apache.spark.sql.functions._
    val M = graft.sources.Maintenance
    val bdir = java.nio.file.Files.createTempDirectory("graft_pq_mvb").toString
    val mdir = java.nio.file.Files.createTempDirectory("graft_pq_mvs").toString
    val base = spark.range(0, 5000).select(col("id").as("k"),
      (col("id") % 11).as("g"), (col("id") % 9).cast("double").as("v"))
    M.writeKeyed(base, bdir, "k", 8)
    M.buildAggStateKeyed(M.readKeyed(spark, bdir), mdir, Seq("g"), "v", 4)
    graft.sources.MatView.register(spark, mdir, bdir, Seq("v"),
      floatSums = true)
    val routed = graft.sources.MatView.route(spark, bdir,
      Seq(("g", "g")), Seq(("n", "count", None),
        ("total", "sum", Some("v")))).get
    val p = routed.queryExecution.executedPlan.toString
    // the whole point: the group-by became a PROJECTION over the
    // state's few rows — no HashAggregate, no Exchange, and the scan
    // reads the state's dirs only
    assert(!p.contains("HashAggregate") && !p.contains("Exchange"),
      s"routed MV query still aggregates/shuffles:\n$p")
    assert(routed.inputFiles.nonEmpty &&
      !routed.inputFiles.exists(_.contains(bdir.split("/").last)))
  }

  test("readKeyedWhere: IN-lists and OR-of-ranges on a zone-mapped column prune buckets") {
    import org.apache.spark.sql.functions._
    val M = graft.sources.Maintenance
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_inor").toString
    // per-tenant-disjoint value bands (the shape zone maps serve)
    val base = spark.range(0, 64000).select((col("id") % 64).as("t"),
      ((col("id") % 64) * 100000L + col("id")).as("v"))
    M.writeKeyed(base, dir, Seq("t"), 64, statsCols = Seq("v"))
    val total = M.readKeyed(spark, dir).inputFiles.length
    val qIn = M.readKeyedWhere(spark, dir,
      col("v").isin(100007L, 6300063L))
    assert(qIn.inputFiles.length * 8 < total,
      s"IN-list did not prune: ${qIn.inputFiles.length}/$total files")
    assert(qIn.count() == base.filter(col("v").isin(100007L, 6300063L))
      .count())
    val qOr = M.readKeyedWhere(spark, dir,
      col("v") < 100000L || col("v") >= 6300000L)
    assert(qOr.inputFiles.length * 8 < total,
      s"OR-of-ranges did not prune: ${qOr.inputFiles.length}/$total files")
    // cross-column OR: full fallback, still correct
    val qX = M.readKeyedWhere(spark, dir,
      col("t") === 1L || col("v") < 100000L)
    assert(qX.inputFiles.length == total)
  }

  test("bucket split: point lookups under the split layout touch only the child bucket") {
    import org.apache.spark.sql.functions._
    val M = graft.sources.Maintenance
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_split").toString
    val base = spark.range(0, 32000).select(col("id").as("k"),
      (col("id") % 7).cast("double").as("v"))
    M.writeKeyed(base, dir, "k", 8)
    M.splitKeyed(spark, dir, Seq(0, 1, 2, 3, 4, 5, 6, 7))
    val m = M.readManifest(spark, dir)
    assert(m.buckets.size > 8, "split produced no child generations")
    val total = M.readKeyed(spark, dir).inputFiles.length
    val lk = M.lookupKeyed(spark, dir, Seq(123L))
    assert(lk.inputFiles.length * 4 < total,
      s"post-split lookup touched ${lk.inputFiles.length}/$total files")
    assert(lk.count() == 1)
  }

  test("keyed read: delta-free snapshots plan a pure scan; delta chains a pruned pushed-down resolve") {
    import org.apache.spark.sql.functions._
    val M = graft.sources.Maintenance
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_mor").toString
    M.writeKeyed(spark.range(0, 200).select(col("id").as("k"),
      col("id").as("v")), dir, "k", 4)
    // without deltas the snapshot read is a plain multi-dir scan:
    // no exchange, no window — resolution costs nothing until a
    // delta chain exists
    val p0 = M.readKeyed(spark, dir).queryExecution.executedPlan.toString
    assert(!p0.contains("Exchange") && !p0.contains("Window"),
      s"delta-free keyed read gained a shuffle:\n$p0")
    M.appendDeltaKeyed(spark, dir,
      spark.range(7, 8).select(col("id").as("k"), lit(-1L).as("v")),
      "k", 4)
    // with one delta chain, resolution is the native ARGMAX aggregate
    // (r15): partial graft_top_row before the exchange, NO per-key
    // sort and NO window — and the other buckets still scan clean
    // (their dirs sit outside the resolved union)
    val p1 = M.readKeyed(spark, dir).queryExecution.executedPlan.toString
    assert(p1.contains("partial_graft_top_row"),
      s"delta chain not resolved via the argmax aggregate:\n$p1")
    assert(!p1.contains("Window") && !p1.contains("Sort"),
      s"delta resolution regressed to a sort/window plan:\n$p1")
    // a point lookup pushes the key IN-list into EVERY chain level's
    // parquet scan (base + delta = 2 pushed scans here)
    val p2 = M.lookupKeyed(spark, dir, Seq(7L))
      .queryExecution.executedPlan.toString
    // a single-key IN-list folds to EqualTo; either way the key
    // predicate must reach BOTH levels' parquet scans
    assert("PushedFilters: \\[[^\\]]*(In|EqualTo)\\(k".r
      .findAllIn(p2).size == 2,
      s"lookup key filter not pushed into every level:\n$p2")
  }

  test("keyedChanges plans ONE exchange (tagged-union argmax, no join)") {
    import org.apache.spark.sql.functions._
    val M = graft.sources.Maintenance
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_chg").toString
    val base = spark.range(0, 4000).select(col("id").as("k"),
      (col("id") % 7).cast("double").as("v"))
    M.writeKeyed(base, dir, "k", 4)
    M.upsertKeyed(spark, dir,
      spark.range(0, 4000, 7).select(col("id").as("k"), lit(-1.0).as("v")),
      "k", 4)
    M.deleteKeyed(spark, dir,
      spark.range(0, 4000, 13).select(col("id").as("k")), "k", 4)
    val chg = M.keyedChanges(spark, dir, 1,
      M.manifestVersions(spark, dir).last)
    val p = chg.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size == 1,
      s"keyedChanges should shuffle exactly once:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      s"keyedChanges regressed to the join/window shape:\n$p")
    // semantics unchanged: the one-pass statuses match the closed form
    val got = chg.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = (0L until 4000L).flatMap { k =>
      if (k % 13 == 0) Some(k -> "removed")
      else if (k % 7 == 0) Some(k -> "changed")
      else None
    }.toSet
    assert(got == want, s"one-pass changelog diverged: ${
      (got -- want).take(5)} vs ${(want -- got).take(5)}")
  }

  test("selection pushes predicates into the parquet scan") {
    val p = planOf("q02_selection")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)"),
      s"filters not pushed:\n$p")
  }

  test("selection prunes columns at the scan") {
    val p = planOf("q02_selection")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_returnflag:string>"),
      s"columns not pruned:\n$p")
  }

  test("FK auto-join broadcasts the dimension side") {
    val p = planOf("q06_join_auto")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"dimension not broadcast:\n$p")
  }

  test("group-by plans partial (map-side) aggregation") {
    val p = planOf("q03_groupby_agg")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"no partial aggregation:\n$p")
  }

  test("top-k plans TakeOrderedAndProject, not a global sort") {
    val p = planOf("q18_topk")
    assert(p.contains("TakeOrderedAndProject"), s"no heap top-k:\n$p")
  }

  test("semi-join plans LeftSemi") {
    val p = planOf("q10_semijoin")
    assert(p.contains("LeftSemi"), s"no semi join:\n$p")
  }

  test("range join plans as an equi hash join, not a nested loop") {
    val p = planOf("x18_range_join")
    assert(!p.contains("NestedLoop"), s"range join fell back to nested loop:\n$p")
    assert(p.contains("HashJoin"), s"expected a hash join on the bin id:\n$p")
  }

  test("global ntile avoids the single-partition window") {
    val p = planOf("q59_ntile")
    assert(!p.contains("Window"),
      s"global rank must not use an unpartitioned Window:\n$p")
  }

  test("bucketed tables co-locate: join plans with zero shuffle") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bucket").toString
    val orders = graft.sources.Tables.load(spark, sf, "orders").df
    val customer = graft.sources.Tables.load(spark, sf, "customer").df
    // bucket both sides on the join key: at 100 TB this is the
    // pre-partitioning that turns every later key join into a local
    // zip of matching buckets (no Exchange, no sort at read time)
    orders.write.mode("overwrite").bucketBy(8, "o_custkey")
      .sortBy("o_custkey").option("path", s"$dir/orders")
      .saveAsTable("bkt_orders")
    customer.write.mode("overwrite").bucketBy(8, "c_custkey")
      .sortBy("c_custkey").option("path", s"$dir/customer")
      .saveAsTable("bkt_customer")
    // disable broadcast so the planner uses the bucket layout (at real
    // scale neither fact side fits a broadcast anyway)
    try withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("bkt_orders").join(spark.table("bkt_customer"),
        org.apache.spark.sql.functions.col("o_custkey") ===
          org.apache.spark.sql.functions.col("c_custkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"bucketed join should not shuffle either side:\n$p")
      assert(joined.count() == orders.count()) // FK: every order matches
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_orders")
      spark.sql("DROP TABLE IF EXISTS bkt_customer")
    }
  }

  test("x96: bucketed join keeps one shuffle total (the groupBy), no sorts") {
    val p = planOf("x96_bucketed_join")
    assert(p.contains("SortMergeJoin"),
      s"merge hint ignored — bucketing untested:\n$p")
    // the ONLY exchange allowed is the 5-row groupBy combine above the
    // join; the join itself must ride the bucket layout
    assert("Exchange".r.findAllMatchIn(p).length == 1,
      s"bucketed join should not shuffle either side:\n$p")
    // Spark ≥3 no longer reports bucket sort order to the planner
    // (multi-file buckets can interleave), so the SMJ keeps local
    // sorts — but they must stay IN-PARTITION (global=false): cheap,
    // shuffle-free, and linear-ish on the already-bucket-sorted files
    assert(p.linesIterator.filter(_.contains("Sort ["))
      .forall(_.contains("false, 0")),
      s"bucketed join must never need a GLOBAL sort:\n$p")
  }

  test("x105: funnel is ONE user shuffle — no window, no join, steps pushed") {
    val p = planOf("x105_funnel")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"funnel must fold per-user state, not window/join:\n$p")
    assert("Exchange".r.findAllMatchIn(p).length == 1,
      s"funnel should shuffle exactly once (on the user key):\n$p")
    assert(p.contains("In(event_type"),
      s"step-type filter not pushed to the scan:\n$p")
  }

  test("x114: N expectations validate in ONE scan, partial sums, no join") {
    val p = planOf("x114_check_constraints")
    assert("Scan parquet".r.findAllMatchIn(p).length == 1,
      s"rules must share one pass, never a scan per rule:\n$p")
    assert(p.contains("partial_"), s"no map-side partials:\n$p")
    assert(!p.contains("Join"), s"no join belongs here:\n$p")
  }

  test("qc24: funnel composes with the star schema — broadcast dim, no extra shuffle") {
    val p = planOf("qc24_segment_conversion")
    assert(p.contains("BroadcastHashJoin"),
      s"customer dim must broadcast into the funnel output:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no shuffle join anywhere in the composition:\n$p")
    assert("Exchange hashpartitioning".r.findAllMatchIn(p).length == 2,
      s"only the funnel's user shuffle + the segment rollup:\n$p")
  }

  test("x108: linfit is one aggregated pass — one scan, partials, no join") {
    val p = planOf("x108_linfit")
    assert("Scan parquet".r.findAllMatchIn(p).length == 1,
      s"linfit must read the table once:\n$p")
    assert(p.contains("partial_"), s"no map-side partials:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"linfit must be a pure aggregate:\n$p")
  }

  test("x109: transitions fold per-user arrays — no lag window, no join") {
    val p = planOf("x109_transitions")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"transitions must not window or join:\n$p")
    assert("Exchange".r.findAllMatchIn(p).length == 2,
      s"transitions = user shuffle + pair rollup only:\n$p")
  }

  test("x107: event paths are one user shuffle + the path rollup, no window") {
    val p = planOf("x107_event_paths")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"event paths must not window or join:\n$p")
    assert("Exchange".r.findAllMatchIn(p).length == 2,
      s"event paths = user shuffle + path rollup only:\n$p")
  }

  test("x106: retention is one user shuffle + the tiny rollup, no join") {
    val p = planOf("x106_retention")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"retention must not join or window:\n$p")
    assert("Exchange".r.findAllMatchIn(p).length == 2,
      s"retention = user shuffle + (cohort, offset) rollup only:\n$p")
  }

  test("cosine pairs plan as equi hash joins, never nested loops") {
    val p = planOf("x12_cosine_pairs")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"cosine pairs fell back to a quadratic join:\n$p")
  }

  test("as-of join never collapses to a single partition") {
    val p = planOf("q51_asof")
    assert(!p.contains("Exchange SinglePartition"),
      s"as-of join funneled into one partition:\n$p")
  }

  test("IVF centroid assignment never shuffles the corpus") {
    val emb = graft.sources.Tables.load(spark, sf, "embeddings").df
    val (assigned, _) = graft.ext.Similarity.ivfAssign(emb, nCentroids = 8)
    val p = assigned.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"centroid assignment should be a per-row argmax over the " +
        s"embedded centroid array (zero shuffle):\n$p")
  }

  test("qc6: priority filter pushes to the orders scan; partial aggs") {
    val p = planOf("qc6_order_count_histogram")
    assert(p.contains("o_orderpriority"),
      s"priority filter missing:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderpriority)") ||
      p.contains("Not(EqualTo(o_orderpriority,1-URGENT))"),
      s"priority filter not pushed to the orders scan:\n$p")
    // both aggregation levels must plan map-side partials
    assert("partial_count".r.findAllIn(p).length >= 2,
      s"two-level aggregation lost its partial stages:\n$p")
  }

  test("qc7: 1-row average broadcasts; anti-join plans LeftAnti") {
    val p = planOf("qc7_dormant_rich_customers")
    assert(p.contains("LeftAnti"),
      s"NOT EXISTS did not plan as an anti-join:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"the 1-row average was not broadcast:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,350000.0)") ||
      p.contains("GreaterThan(o_totalprice,350000.0)"),
      s"price filter not pushed to the orders scan:\n$p")
  }

  test("ANN ranking is a bounded partial aggregate, not a window sort") {
    // TopKPairs keeps k pairs of state: the plan must show a partial
    // (map-side) graft_topk before the exchange — so the shuffle
    // carries queries × k × partitions rows — and NO Window/Sort over
    // the full candidate set (the 100 TB wall of rank-window top-k)
    for (q <- Seq("x10_ann_brute", "x17_ann_ivf")) {
      val p = planOf(q)
      assert(p.contains("partial_graft_topk"),
        s"$q: expected map-side partial graft_topk:\n$p")
    }
    // brute-force has no window at all; IVF legitimately keeps ONE tiny
    // window for nProbe centroid selection (queries × centroids rows,
    // broadcast) — but never a second one over the candidate set
    assert(!planOf("x10_ann_brute").contains("Window"))
    assert("windowspecdefinition".r.findAllIn(planOf("x17_ann_ivf"))
      .length <= 1, "x17: candidate ranking fell back to a window sort")
  }

  test("preprocessing pipeline: one scan, shuffles only for dedup") {
    val p = planOf("x21_preprocess_pipeline")
    // every text signal (tokens/lang/quality) must compute in the scan
    // projection — more than one parquet scan means the pipeline
    // re-reads the corpus per signal (at 100 TB: per-signal IO)
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 2, s"expected at most 2 scans (gated + keep), got $scans:\n$p")
    // shuffles: the fingerprint groupBy (+AQE reuse); the keep-list
    // join should broadcast or reuse, never add a third full exchange
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 3, s"too many shuffles ($exchanges):\n$p")
  }

  // ---- composed qc-family: the plans must still be the ones you'd
  // want at 100× — pushdown through the join tree, broadcast dims,
  // partial aggs, heap top-k, partitioned (never global) windows.

  test("qc1: date filters push into both fact scans; top-k is a heap") {
    val p = planOf("qc1_shipping_priority")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)") ||
      p.contains("GreaterThan(l_shipdate") ||
      p.contains("LessThan(o_orderdate"),
      s"date filters did not reach the scans:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 must be a heap, not a global sort:\n$p")
    assert(p.contains("partial_sum"), s"no partial aggregation:\n$p")
  }

  test("qc2: six-table join broadcasts every dimension side") {
    val p = planOf("qc2_local_volume")
    // nation/region are force-broadcast; supplier/customer are small
    // enough at test SF that AQE/size-based planning must broadcast
    // them too — a shuffle join on a dim is the 100× red flag
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= 4, s"expected >=4 broadcast joins, got $bhj:\n$p")
    // only the lineitem-orders fact-fact join may shuffle, plus the
    // final aggregation
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 3, s"too many shuffles ($exchanges):\n$p")
    assert(p.contains("partial_sum"), s"no partial aggregation:\n$p")
  }

  test("qc3: returnflag filter reaches the lineitem scan; heap top-20") {
    val p = planOf("qc3_returned_items")
    assert(p.contains("EqualNullSafe(l_returnflag,R)") ||
      p.contains("EqualTo(l_returnflag,R)"),
      s"returnflag filter not pushed:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be a heap, not a global sort:\n$p")
  }

  test("qc4: window partitions by nation — no global sort funnel") {
    val p = planOf("qc4_nation_year_top2")
    assert(p.contains("Window"), s"expected a window operator:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"rank window funneled into one partition:\n$p")
    assert(p.contains("partial_sum"), s"no partial aggregation:\n$p")
  }

  test("qc5: part-name LIKE pushes to the part scan; dims broadcast") {
    val p = planOf("qc5_product_profit")
    assert(p.contains("StringContains(p_name,red)"),
      s"LIKE filter not pushed into the part scan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"dimensions not broadcast:\n$p")
  }

  test("qc8: brand filter pushes to the part scan; agg side re-joins") {
    val p = planOf("qc8_small_qty_revenue")
    assert(p.contains("EqualTo(p_brand,Brand#12)") ||
      p.contains("EqualNullSafe(p_brand,Brand#12)"),
      s"brand filter not pushed into the part scan:\n$p")
    assert(p.contains("LessThanOrEqual(p_size,10)"),
      s"size filter not pushed into the part scan:\n$p")
    // the per-part (sq, cq) aggregate must partial-agg before its shuffle
    assert(p.contains("partial_sum"), s"no partial aggregation:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"filtered part dim not broadcast:\n$p")
  }

  test("qc9: HAVING keys semi-join orders — no row growth before detail") {
    val p = planOf("qc9_large_volume_customers")
    assert(p.contains("LeftSemi"),
      s"qualifying-order membership did not plan as a semi-join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 must be a heap, not a global sort:\n$p")
    assert(p.contains("partial_sum"), s"no partial aggregation:\n$p")
  }

  test("qc10: lone-late is one semi + one anti join, never a per-row probe") {
    val p = planOf("qc10_lone_late_suppliers")
    assert(p.contains("LeftSemi"), s"EXISTS did not plan as semi-join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS did not plan as anti-join:\n$p")
    // the suppkey<> residual must ride the orderkey equi-join — a
    // nested-loop fallback is the 100× disaster
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"semi/anti fell back to a nested-loop join:\n$p")
    assert(p.contains("EqualTo(o_orderstatus,F)") ||
      p.contains("EqualNullSafe(o_orderstatus,F)"),
      s"order-status filter not pushed:\n$p")
  }

  test("qc11: name LIKE pushes to part scan; totals derive from the pair agg") {
    val p = planOf("qc11_excess_shippers")
    assert(p.contains("StringContains(p_name,bolt)"),
      s"part-name LIKE not pushed into the part scan:\n$p")
    assert(p.contains("LeftSemi"),
      s"qualifying suppliers did not plan as a semi-join:\n$p")
    // two aggregate levels, both with map-side partials
    assert("partial_sum".r.findAllIn(p).size >= 2,
      s"two-level aggregate lost its partial stages:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"part/nation dims not broadcast:\n$p")
  }

  test("qc12: argmax join-back broadcasts the per-nation max; dates push") {
    val p = planOf("qc12_top_supplier_by_nation")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"ship-date range not pushed into the lineitem scan:\n$p")
    assert(p.contains("partial_max") || p.contains("partial_sum"),
      s"aggregates lost their partial stages:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"25-row max side not broadcast back:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"join-back fell off the equi-join path:\n$p")
  }

  test("qc13: nation-pair membership pre-filters both broadcast dims") {
    val p = planOf("qc13_two_nation_volume")
    // the disjunction's implied IN-list reaches both nation scans
    assert("In\\(n_name, \\[NATION_13,NATION_19\\]\\)".r
        .findAllIn(p).size >= 2 ||
      "n_name IN \\(NATION_13,NATION_19\\)".r.findAllIn(p).size >= 2,
      s"nation membership not pushed to both dim scans:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"2-row nation dims not broadcast:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"ship-date range not pushed into the lineitem scan:\n$p")
    assert(p.contains("partial_sum"), s"no partial aggregation:\n$p")
  }

  test("qc14: Catalyst derives per-side unions from the cross-table OR") {
    val p = planOf("qc14_disjunctive_revenue")
    // quantity-range disjunction reaches the lineitem scan...
    assert(p.contains("Or(Or(And(GreaterThanOrEqual(l_quantity"),
      s"derived quantity union not pushed to the lineitem scan:\n$p")
    // ...and the brand/size disjunction reaches the part scan
    assert(p.contains("Or(Or(And(EqualTo(p_brand"),
      s"derived brand/size union not pushed to the part scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"part dim not broadcast:\n$p")
    assert(p.contains("partial_sum"), s"no partial aggregation:\n$p")
  }

  test("qc15: region filter reaches its scan; semi-join prunes customers") {
    val p = planOf("qc15_market_share")
    assert(p.contains("EqualTo(r_name,ASIA)"),
      s"region filter not pushed into the region scan:\n$p")
    assert(p.contains("LeftSemi"),
      s"customer region membership must be a semi-join (no row growth):\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"ship-date range not pushed into the lineitem scan:\n$p")
    assert(p.contains("partial_sum"), s"no partial aggregation:\n$p")
  }

  test("qc16: global threshold derives from the materialized aggregate") {
    val p = planOf("qc16_important_parts")
    // the fact table was aggregated once, upstream of the checkpoint —
    // the final plan must not re-scan it
    assert(!p.contains("lineitem.parquet"),
      s"fact table re-scanned for the global total:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoop"),
      s"one-row total not broadcast:\n$p")
    assert(p.contains("partial_sum"),
      s"total over part_rev lost its partial stage:\n$p")
  }

  test("qc17: EXISTS plans as a residual-equi semi-join, not correlated") {
    val p = planOf("qc17_priority_waiting")
    assert(p.contains("LeftSemi"),
      s"EXISTS must become a semi-join:\n$p")
    assert(!p.contains("NestedLoop"),
      s"cross-table date residual fell off the equi-join path:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"order-date quarter not pushed into the orders scan:\n$p")
    assert(p.contains("partial_count"), s"no partial aggregation:\n$p")
  }

  test("qc18: both conditional counts come from one aggregation pass") {
    val p = planOf("qc18_late_line_priority")
    assert("partial_sum".r.findAllIn(p).size >= 2,
      s"expected both conditional sums in one partial pass:\n$p")
    assert("HashAggregate".r.findAllIn(p).size <= 4,
      s"more than one aggregate pair — second scan/join crept in:\n$p")
    assert(!p.contains("NestedLoop"), s"join fell off the equi path:\n$p")
  }

  test("qc19: pricing summary is one scan, one aggregation pass") {
    val p = planOf("qc19_pricing_summary")
    assert(!p.contains("Join"), s"Q1 must not join anything:\n$p")
    assert(p.contains("partial_sum"), s"no partial aggregation:\n$p")
    assert(p.contains("LessThanOrEqual(l_shipdate"),
      s"shipdate bound not pushed into the scan:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 2,
      s"expected only the agg + sort exchanges:\n$p")
  }

  test("qc20: all three predicates reach the scan; no join") {
    val p = planOf("qc20_forecast_revenue")
    assert(!p.contains("Join"), s"Q6 must not join anything:\n$p")
    // the PushedFilters render truncates long lists, so pin the scan
    // pushdown via its head and the full predicate via the Filter node
    assert(p.contains(
      "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), " +
        "IsNotNull(l_quantity)"),
      s"predicates not pushed to the scan:\n$p")
    assert(p.contains("< 24.0") && p.contains(">= 0.05"),
      s"quantity/discount bounds missing from the filter:\n$p")
    assert(p.contains("partial_sum"), s"no partial aggregation:\n$p")
  }

  test("qc21: promo ratio broadcasts the part dim, one agg pass") {
    val p = planOf("qc21_promo_effect")
    assert(p.contains("BroadcastHashJoin"),
      s"part dim must broadcast:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"month window not pushed to the fact scan:\n$p")
    assert("partial_sum".r.findAllIn(p).size >= 2,
      s"both conditional sums must come from one partial pass:\n$p")
  }

  test("qc22: NOT IN plans as broadcast anti-join; distinct is two-phase") {
    val p = planOf("qc22_supplier_variety")
    assert(p.contains("LeftAnti"),
      s"NOT IN must become an anti-join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"exclusion list and part dim must broadcast:\n$p")
    assert(!p.contains("NestedLoop"), s"fell off the equi path:\n$p")
    // two-phase distinct: a partial aggregate keyed on (group, suppkey)
    // below the exchange, the count above it
    assert("HashAggregate".r.findAllIn(p).size >= 3,
      s"count(distinct) lost its partial de-dup stage:\n$p")
  }

  test("ql30: language composition keeps the scale-shaped plan") {
    val p = planOf("ql30_lang_composed")
    assert(p.contains("LeftSemi"),
      s"`in` membership must plan as a semi-join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"order+slice must plan as bounded top-k, not a global sort:\n$p")
    assert(p.contains("partial_sum"), s"no partial aggregation:\n$p")
  }

  test("ql31: language EXISTS-as-membership still plans as a semi-join") {
    val p = planOf("ql31_lang_exists")
    assert(p.contains("LeftSemi"),
      s"membership against the correlated set must be a semi-join:\n$p")
    assert(!p.contains("NestedLoop"), s"fell off the equi path:\n$p")
    assert(p.contains("partial_count"), s"no partial aggregation:\n$p")
  }

  test("ql29: language pipeline materializes the gated stage once") {
    val p = planOf("ql29_lang_pipeline")
    // `gated` feeds both the dedup keep-set and the probe side; the
    // temptable cut means the final plan never re-reads the file (the
    // text-scoring scan would otherwise run 3×)
    assert(!p.contains("documents.parquet"),
      s"gated stage re-scans the documents file:\n$p")
    assert(p.contains("LeftSemi"),
      s"keep-set membership must be a semi-join:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-language rollup lost its partial stage:\n$p")
  }

  test("ensureParallelism decides from plan stats, not an RDD trip") {
    val docs = graft.sources.Tables.load(spark, sf, "documents").df
    // under-partitioned file scan: the guard must still widen it
    val widened = graft.ext.Dedup.ensureParallelism(docs)
    assert(widened.rdd.getNumPartitions >=
      graft.GraftConf.minParallelism(spark),
      "small scan not widened")
    // an already-parallel (checkpointed) input passes through
    // UNCHANGED — same reference, no extra exchange in the plan
    val parallel = docs.repartition(
      graft.GraftConf.minParallelism(spark)).localCheckpoint(true)
    assert(graft.ext.Dedup.ensureParallelism(parallel) eq parallel,
      "already-parallel input should pass through untouched")
  }

  test("LSH signature embeds the plane matrix — no per-row md5") {
    // the md5-derived plane constants must be computed at plan-build
    // time; an md5 call surviving into the plan means they re-evaluate
    // per row × plane × dimension inside the lambda (8×dim md5/row)
    val p = planOf("x11_ann_lsh_sig")
    assert(!p.toLowerCase.contains("md5"),
      s"plane constants not embedded at plan-build time:\n$p")
  }

  test("language sort runs BELOW expensive projections (no double-eval)") {
    // A global sort's range partitioner executes its child twice
    // (sampling pass + real pass). Interp pushes passthrough-key sorts
    // below computing projections, so the five text scalars of ql26
    // evaluate ONCE, above the exchange — the exchange subtree must
    // not contain the expression work.
    val p = planOf("ql26_lang_text_scalars")
    val proj = p.indexOf("n_subwords")     // the computing Project
    val exch = p.indexOf("rangepartitioning")
    assert(proj >= 0 && exch >= 0, s"unexpected plan:\n$p")
    assert(proj < exch, // top-down print: above = earlier
      s"computing projection still below the sort exchange:\n$p")
  }

  test("chunking pushes its filter to the scan and never shuffles") {
    val p = planOf("x28_chunk_docs")
    assert(p.contains("LessThan(doc_id,200)"), s"filter not pushed:\n$p")
    assert(!p.contains("Exchange"),
      s"chunking must be scan-parallel (no shuffle):\n$p")
    assert(p.contains("Generate"), s"expected one explode:\n$p")
  }

  test("sequence packing: broadcast offsets + bounded windows, never 1 partition") {
    val p = planOf("x29_pack_sequences")
    assert(p.contains("BroadcastExchange"),
      s"group offsets must broadcast:\n$p")
    // the window shuffles hash-partition on grp/sgrp — a
    // SinglePartition exchange would funnel the whole corpus (or the
    // totals) through one task. The super-offset closure is a
    // broadcast self-join over the twice-reduced totals, NOT an
    // unpartitioned window and NOT a driver collect.
    assert(!p.contains("SinglePartition"),
      s"global prefix sum funneled into one partition:\n$p")
    // two window levels: per-group over rows, per-super-group over
    // group totals (the driver-free replacement for the old collect)
    assert(p.split("Window").length - 1 >= 2,
      s"prefix sum must decompose into two bounded window levels:\n$p")
  }

  test("mixing with 2000 sources: broadcast rate join, no O(#sources) CASE chain") {
    import spark.implicits._
    val docs = (1L to 4000L)
      .map(i => (i, s"src${i % 2000}", "three word text"))
      .toDF("doc_id", "source", "text")
    val weights = (0 until 2000).map(i => s"src$i" -> 1.0).toMap
    val df = graft.ext.Corpus.mixBySource(docs, "doc_id", "source",
      graft.ext.TextAnalysis.tokenCount(
        org.apache.spark.sql.functions.col("text")),
      weights, budgetTokens = 1000000L)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"above the inline cap the rates must join via broadcast:\n$p")
    assert(!p.contains("src1999"),
      s"rates must not bake into the plan above the inline cap:\n$p")
    // budget >> stock: every row keeps (rate caps at 1.0), so the
    // broadcast path is behaviorally identical to the CASE chain
    assert(df.count() == 4000)
    // the two paths must emit IDENTICAL schemas: the rate join must
    // not let the using-column reorder leak (positional consumers —
    // unions across the threshold, parquet appends — would break)
    assert(df.columns.toSeq == Seq("doc_id", "source", "text"),
      s"broadcast path reordered columns: ${df.columns.toSeq}")
  }

  test("$self fixpoint pins its var inputs for the loop, then releases them") {
    // Each fixpoint level re-evaluates every $var view; SqlEscape
    // persists them for the loop's duration (a 20-level BFS otherwise
    // re-scans its edges source 20 times) and MUST unpersist on return
    // — a leaked cached RDD would pin executor storage across queries.
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = SparkEntry.queries("q68_sql_self_bfs")(spark, sf)
    assert(out.collect().length > 0)
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      "fixpoint left var inputs cached after returning")
  }

  test("AQE splits a skewed join partition at runtime (100 TB posture)") {
    import org.apache.spark.sql.{functions => F}
    // the engine's equi-join paths must stay AQE-eligible: when one
    // key dwarfs the rest, the runtime re-plan splits that partition
    // across tasks instead of funneling it through one straggler —
    // the thresholds here shrink "skewed" to test size
    withConfs(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      // 95% of left rows share key 0 — one shuffle partition carries
      // ~190k rows against a ~KB median
      val left = spark.range(0, 200000).select(
        F.when(F.col("id") % 20 =!= 0, F.lit(0L))
          .otherwise(F.col("id")).as("k"),
        F.concat(F.lit("payload_"), F.col("id")).as("p"))
      val right = spark.range(0, 1000)
        .select(F.col("id").as("k"), (F.col("id") * 2).as("v"))
      val joined = left.join(right, "k")
      // drive THIS DataFrame's queryExecution (count()/write execute a
      // derived plan and leave this one un-finalized)
      assert(joined.collect().length > 0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected an SMJ:\n$plan")
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$plan")
    }
  }

  test("repetition signals: one explode, both agg levels partial") {
    val p = planOf("x31_repetition")
    assert("Generate explode".r.findAllIn(p).size == 1,
      s"lines+grams must share ONE explode pass:\n$p")
    assert("partial_sum".r.findAllIn(p).nonEmpty &&
      "partial_count".r.findAllIn(p).nonEmpty,
      s"both aggregation levels need map-side partials:\n$p")
  }

  test("decontamination: broadcast gram semi-probe + anti-join, no corpus shuffle join") {
    val p = planOf("x32_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"eval-set gram probe must broadcast:\n$p")
    assert(p.contains("LeftAnti"),
      s"contaminated ids must anti-join back:\n$p")
    assert(!p.contains("NestedLoop"), s"nested loop in decontamination:\n$p")
  }

  test("PII redaction is a pure scan-level projection (no shuffle)") {
    val p = planOf("x33_redact_pii")
    assert(!p.contains("Exchange"),
      s"redaction must not shuffle:\n$p")
  }

  test("HTML extraction is a pure scan-level projection (no shuffle)") {
    val p = planOf("x65_html_extract")
    assert(!p.contains("Exchange"),
      s"strip_html must not shuffle:\n$p")
    assert(p.contains("*(1) Project"),
      s"strip_html must stay inside whole-stage codegen:\n$p")
  }

  test("persisted IVF query prunes to the probed inverted-list partitions") {
    val p = planOf("x37_ann_ivf_indexed")
    assert(p.contains("PartitionFilters") && p.contains("centroid_id"),
      s"lists scan must prune on centroid_id:\n$p")
    assert(p.contains("partial_graft_topk"),
      s"ranking must stay the bounded aggregate:\n$p")
  }

  test("fuzzy keep-list: bucketed LSH joins only, anti-join back") {
    val p = planOf("x34_fuzzy_keep")
    assert(p.contains("LeftAnti"), s"kept set must anti-join removals:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"fuzzy dedup must never plan all-pairs:\n$p")
  }

  test("incremental near-dup: the index never shuffles (batch buckets broadcast)") {
    val p = planOf("x73_neardup_incremental")
    assert(p.contains("BroadcastHashJoin"),
      s"batch bucket keys must broadcast against the index scan:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"index probe must never plan all-pairs:\n$p")
    assert(p.contains("LeftAnti"),
      s"dup ids must anti-join the batch spine:\n$p")
  }

  test("crawl lifecycle capstone: strip+gate fused into the scan, hash-keyed span shuffles only") {
    val p = planOf("x72_crawl_lifecycle")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"lifecycle must never plan all-pairs:\n$p")
    assert(p.contains("partial"),
      s"span aggregation lost its partial stage:\n$p")
    // the strip + Gopher gate are pure expressions: they must fuse
    // into the scan stage, not require their own exchange
    assert(p.contains("FileScan") || p.contains("Scan parquet"),
      s"lifecycle must start from the parquet scan:\n$p")
  }

  test("Gopher signals compute as a pure scan projection (no shuffle)") {
    val p = planOf("x71_gopher_signals")
    assert(!p.contains("Exchange"),
      s"lexical signals must not shuffle:\n$p")
  }

  test("script profile computes as a pure scan projection (no shuffle)") {
    val p = planOf("x75_script_profile")
    assert(!p.contains("Exchange"),
      s"script detection must not shuffle:\n$p")
  }

  test("LM scoring: broadcast model joins, partial-agg rollup, no all-pairs") {
    val p = planOf("x69_lm_score")
    assert(p.contains("BroadcastHashJoin"),
      s"model count tables must broadcast:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"LM scoring must never plan all-pairs:\n$p")
    assert(p.contains("partial"),
      s"per-doc rollup lost its partial stage:\n$p")
  }

  test("bloom decontamination probes as a pure filtered scan (no join, no shuffle)") {
    val p = planOf("x67_decontam_bloom")
    assert(!p.contains("Join"),
      s"bloom probe must not join at query time:\n$p")
    assert(!p.contains("Exchange"),
      s"bloom probe must not shuffle:\n$p")
  }

  test("span removal: hash-keyed shuffles only, text rebuilt scan-side") {
    val p = planOf("x66_remove_spans")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"span removal must never plan all-pairs:\n$p")
    // distinct + count keep map-side partials on the 60-bit span hash
    assert(p.contains("partial"),
      s"repeated-set aggregation lost its partial stage:\n$p")
    assert(p.contains("sh"), s"span path must key on the span hash:\n$p")
    // cut positions join back to the untouched doc spine
    assert(p.contains("LeftOuter"),
      s"cut positions must left-join the id spine:\n$p")
  }

  test("line dedup: partial doc-frequency aggs, no all-pairs, hash keys in the shuffle") {
    val p = planOf("x38_line_dedup")
    // both aggregation levels (distinct + count) keep map-side partials
    assert(p.contains("partial_count") || p.contains("partial"),
      s"doc-frequency count lost its partial stage:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"line dedup must never plan all-pairs:\n$p")
    // the doc-frequency side shuffles 60-bit line hashes (lk), not text
    assert(p.contains("lk"), s"frequency path must key on the line hash:\n$p")
  }

  test("corpus mixing: the data path is a pure filtered scan — zero joins") {
    val docs = graft.sources.Tables.load(spark, sf, "documents").df
    val p = graft.ext.Corpus.mixBySource(docs, "doc_id", "source",
        graft.ext.TextAnalysis.tokenCount(org.apache.spark.sql.functions.col("text")),
        Map("src0" -> 2.0), budgetTokens = 10000L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"mix data path must not join:\n$p")
    assert(!p.contains("Exchange"), s"mix data path must not shuffle:\n$p")
  }

  test("incremental index dedup: fingerprint anti-join + id semi-join, partial min") {
    val p = planOf("x40_dedup_incremental")
    assert(p.contains("LeftAnti"), s"novel set must anti-join the index:\n$p")
    assert(p.contains("LeftSemi"), s"kept rows must semi-join back by id:\n$p")
    assert(p.contains("partial_min"),
      s"first-in-batch must be a partial min aggregate:\n$p")
  }

  test("shard export: one exchange on shard, in-partition sort only") {
    val docs = graft.sources.Tables.load(spark, sf, "documents").df
      .select(org.apache.spark.sql.functions.col("doc_id"))
    val plan = graft.ext.Corpus.shardAssign(docs,
        org.apache.spark.sql.functions.col("doc_id"), 8)
      .repartition(8, org.apache.spark.sql.functions.col("shard"))
      .sortWithinPartitions("shard")
      .queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length - 1 == 1,
      s"shard layout must cost exactly one exchange:\n$plan")
    assert(!plan.contains("Sort [shard") || !plan.contains("global=true"),
      s"shard sort must stay within partitions:\n$plan")
  }

  test("semantic dedup: grid/blocked equi-joins only, anti-join keeps the survivors") {
    val p = planOf("x42_semantic_dedup")
    assert(p.contains("LeftAnti"), s"kept set must anti-join dropped ids:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"semantic dedup must never plan all-pairs:\n$p")
  }

  test("corpus lifecycle capstone: dedup semi-join over the ONE materialized clean table") {
    val p = planOf("x44_corpus_lifecycle")
    assert(p.contains("LeftSemi"), s"dedup keep must semi-join back:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"lifecycle chain must never plan all-pairs:\n$p")
    // the cleaned table is localCheckpointed once; both dedup branches
    // read the materialized scan, not a recomputed line-dedup pipeline
    assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD"),
      s"clean stage must be materialized, not recomputed per branch:\n$p")
  }

  test("contamination score: broadcast gram probe, partial per-doc rollup") {
    val p = planOf("x46_contamination")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"eval gram set must broadcast:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-doc rollup must keep map-side partials:\n$p")
  }

  test("upsampled mixing: rate chain + explode, zero joins on the data path") {
    val docs = graft.sources.Tables.load(spark, sf, "documents").df
    val p = graft.ext.Corpus.mixBySourceUpsampled(docs, "doc_id", "source",
        graft.ext.TextAnalysis.tokenCount(org.apache.spark.sql.functions.col("text")),
        Map("src0" -> 2.0), budgetTokens = 100000L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"upsampling must not join:\n$p")
    assert(!p.contains("Exchange"), s"upsampling must not shuffle:\n$p")
    assert(p.contains("Generate explode"), s"epochs must explode per row:\n$p")
  }

  test("span-dup fraction: hash-keyed repeated set joins back, no all-pairs") {
    val p = planOf("x51_span_dup_frac")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"span scoring must never plan all-pairs:\n$p")
    // the shuffle/join key must be the 60-bit md5 span hash (the conv
    // of the md5 prefix), never the raw span text ("sh" alone would
    // match inside "HashAggregate", so assert the hash chain itself)
    assert(p.contains("md5(") && p.contains("conv("),
      s"repeated set must key on the 60-bit md5 span hash:\n$p")
    assert(p.contains("sh#"),
      s"repeated set must join back on the span hash column:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-doc rollup must keep map-side partials:\n$p")
  }

  test("bm25: zero corpus shuffle — stats broadcast, heap top-k") {
    val p = planOf("x56_bm25_search")
    assert(p.contains("TakeOrderedAndProject"),
      s"ranking must be a heap top-k, not a global sort:\n$p")
    // the ONLY exchange is the single-row corpus-stats aggregate; the
    // scored corpus itself must flow scan → score → top-k unshuffled
    assert(!p.contains("Exchange hashpartitioning"),
      s"corpus must not shuffle for scoring:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("IdentityBroadcastMode"),
      s"stats row must broadcast:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must prune to (doc_id, text):\n$p")
  }

  /** The query `name`'s executed plan, after asserting that it reads
    * only the keyed-table dirs (`b<5-digit bucket>_g…`, `d…` for
    * deltas) of the buckets `terms` hash to in an index of `n` buckets
    * (md5-hash(term) mod n).
    */
  private def planReadingTermBuckets(name: String, terms: Seq[String],
                                     n: Int): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    val read = df.inputFiles.map(f => new org.apache.hadoop.fs.Path(f)
      .getParent.getName.substring(1, 6).toInt).toSet
    val want = terms.map(t =>
      (graft.ext.TextAnalysis.h60Value(t) % n).toInt).toSet
    assert(read.nonEmpty && read.subsetOf(want),
      s"$name must read only its terms' bucket dirs $want, read $read")
    df.queryExecution.executedPlan.toString
  }

  test("index search: static bucket pruning + term pushdown") {
    val p = planReadingTermBuckets("x61_index_search",
      Seq("customer", "window"), 64)
    assert(p.contains("PushedFilters: [In(term"),
      s"term IN-list must push into the postings scan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"per-term df table must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"ranking must be a heap top-k:\n$p")
  }

  test("phrase scan: pure scan expression, zero exchanges") {
    val p = planOf("x118_phrase_scan")
    assert(!p.contains("Exchange"),
      s"the phrase predicate must never leave the row:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"phrase scan reads the corpus once:\n$p")
  }

  test("phrase index: static bucket pruning + term pushdown, no corpus scan") {
    val p = planReadingTermBuckets("x119_phrase_index",
      Seq("value", "table", "part"), 64)
    assert(p.contains("PushedFilters: [In(term"),
      s"term IN-list must push into the postings scan:\n$p")
  }

  test("tf-idf keywords: per-doc window, never a single partition") {
    val p = planOf("x57_top_terms")
    assert(p.contains("windowspecdefinition(doc_id"),
      s"top-m window must partition by document:\n$p")
    assert(p.contains("partial_count"),
      s"postings must keep map-side partials:\n$p")
  }

  test("freq sketch aggregates map-side partial state") {
    val p = planOf("x59_freq_sketch")
    assert(p.contains("partial_graft_freq_sketch"),
      s"sketch must reduce per-partition before the shuffle:\n$p")
  }

  test("resampleFill reads raw events ONCE; fill window is key-partitioned") {
    // the single raw scan + resample aggregate ran inside the
    // checkpoint job; the final plan must fan out over the
    // materialized bucket-grain frame, never re-scanning parquet
    val p = planOf("x82_resample_ffill")
    assert(!p.contains("Scan parquet"),
      s"raw table re-scanned after materialization:\n$p")
    assert(p.contains("ExistingRDD"),
      s"expected the checkpointed bucket-grain frame:\n$p")
    assert(p.contains("windowspecdefinition(event_type"),
      s"fill window must partition by series key:\n$p")
  }

  test("cap-per-group: partitioned window over a pruned scan") {
    val p = planOf("x92_cap_per_source")
    assert(p.contains("windowspecdefinition(lang"),
      s"cap window must partition by the group key:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string,source:string>"),
      s"scan must prune to key+id columns:\n$p")
  }

  test("region trend: dimension chain broadcasts, one fact shuffle") {
    val p = planOf("qc23_region_trend")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj == 3, s"all three dimension joins must broadcast:\n$p")
    val shuffles = "Exchange".r.findAllIn(p).length -
      "BroadcastExchange".r.findAllIn(p).length
    assert(shuffles <= 2, // monthly agg + trend window partitioning
      s"fact table must shuffle at most twice (agg + window):\n$p")
    assert(p.contains("windowspecdefinition(r_name"),
      s"trend window must partition by region:\n$p")
  }

  test("profile: every column's stats from ONE scan") {
    val p = planOf("x93_profile")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"profile must scan once:\n$p")
    assert(p.contains("Expand"),
      s"exact multi-distinct should plan one Expand:\n$p")
  }

  test("approx profile: one scan, NO Expand (HLL registers replace exact distinct)") {
    val p = planOf("x117_profile_approx")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"approx profile must scan once:\n$p")
    assert(!p.contains("Expand"),
      s"approx profile must not duplicate the input per column:\n$p")
    assert(p.contains("graft_hll_regs"),
      s"distinct must come from the register aggregate:\n$p")
  }

  test("anomalies: group stats broadcast back, fact scans twice max") {
    val p = planOf("x94_anomalies")
    assert(p.contains("BroadcastHashJoin"),
      s"stats table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"scan-shaped probe must not sort-merge:\n$p")
  }

  test("corr matrix: all pairs from ONE scan and ONE aggregate pass") {
    val p = planOf("x86_corr_matrix")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"k(k-1)/2 correlations must share one scan:\n$p")
    assert(p.contains("partial_sum"),
      s"corr sums lost map-side partials:\n$p")
    assert(p.contains("Expand"),
      s"wide->long melt must be the Expand node, not a join:\n$p")
  }

  test("rolling mean: window partitioned by series key") {
    val p = planOf("x88_rolling_mean")
    assert(p.contains("windowspecdefinition(user_id"),
      s"rolling window must partition by key:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(user_id)"),
      s"key filter not pushed to the scan:\n$p")
  }

  test("fuzzy join: candidates from a hash equi-join, never a cartesian") {
    val p = planOf("x83_fuzzy_join")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"fuzzy join must block, not compare all pairs:\n$p")
    assert(p.contains("levenshtein"),
      s"exact threshold verify missing:\n$p")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      s"candidate pairs must dedupe before the text join-back:\n$p")
  }

  test("pivot compiles to ONE hash aggregate: single shuffle, partial combine") {
    val p = planOf("x80_pivot")
    val shuffles = "Exchange".r.findAllIn(p).length -
      "BroadcastExchange".r.findAllIn(p).length
    assert(shuffles == 1, s"pivot must shuffle exactly once:\n$p")
    assert(p.contains("partial_pivotfirst") || p.contains("partial_sum"),
      s"pivot lost map-side partial aggregation:\n$p")
  }

  test("unpivot is a pure Expand: zero shuffle, pruned scan") {
    val p = planOf("x81_unpivot")
    assert(p.contains("Expand"), s"unpivot must plan an Expand:\n$p")
    assert(!p.contains("Exchange"), s"unpivot must not shuffle:\n$p")
    assert(p.contains("ReadSchema: struct<p_partkey:bigint,p_size:int,p_retailprice:double>"),
      s"unpivot scan must prune to id+value columns:\n$p")
  }
}
