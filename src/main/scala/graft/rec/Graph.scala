package graft.rec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.storage.StorageLevel

/** Recursive graph traversal — the engine's replacement for the
  * reference's `WITH RECURSIVE` escape (`$self` in SQL(), reference:
  * preql/core/compiler.py:516-518; bfs/walk_tree at
  * preql/modules/graph.pql:3-36).
  *
  * Spark 4's native recursive CTE only allows UNION ALL (no distinct,
  * so cyclic graphs would not terminate); the idiomatic equivalent is
  * a driver-side fixpoint loop over DataFrames (SqlEscape runs `$self`
  * queries through the same two paths). Scale design:
  *  - each step is one distributed semi/anti join — frontier × edges;
  *  - visited/frontier are cached per iteration and unpersisted after;
  *  - `localCheckpoint` every `checkpointEvery` steps truncates the
  *    lineage so plan size stays O(1) instead of O(depth) — without it
  *    a 50-step BFS compiles a 50-deep union plan;
  *  - frontier dedup keeps the join input minimal (no exponential
  *    frontier growth on cyclic graphs).
  */
object Graph {

  /** BFS reachability: nodes reachable from `initial` over `edges`,
    * each with its minimal rank (step count). Column contract:
    * edges(src, dst), initial(node); output (node, rank).
    */
  /** Materialize and fully detach a DataFrame from its lineage:
    * localCheckpoint truncates the physical lineage, and rebuilding
    * from the RDD drops carried-over plan constraints (whose attribute
    * references break Union constraint rewriting after checkpointing).
    */
  private def materialize(df: DataFrame): DataFrame = {
    val ckpt = df.localCheckpoint(true)
    df.sparkSession.createDataFrame(ckpt.rdd, ckpt.schema)
  }

  /** `driverLimit < 0` (the default) reads
    * `spark.graft.graph.driverLimit` (GraftConf).
    */
  def bfs(edges: DataFrame, initial: DataFrame,
          maxRank: Int = Int.MaxValue,
          driverLimit: Long = -1): DataFrame = {
    val dl =
      if (driverLimit >= 0) driverLimit
      else graft.GraftConf.graphDriverLimit(edges.sparkSession)
    val e = edges.select(F.col("src"), F.col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Small graphs (≤ driverLimit edges) finish driver-side: one
    // collect + in-memory BFS instead of 2 jobs per depth level. The
    // distributed fixpoint below remains the big-graph path.
    if (e.count() <= dl) {
      val adj = e.collect().groupBy(_.get(0))
        .map { case (k, rows) => k -> rows.map(_.get(1)).toSeq }
      val visited = scala.collection.mutable.LinkedHashMap[Any, Int]()
      var frontier = initial.select(F.col("node")).distinct().collect()
        .map(_.get(0)).toSeq
      frontier.foreach(n => visited(n) = 0)
      var rank = 0
      while (frontier.nonEmpty && rank < maxRank) {
        rank += 1
        frontier = frontier.flatMap(n => adj.getOrElse(n, Seq.empty))
          .distinct.filterNot(visited.contains)
        frontier.foreach(n => visited(n) = rank)
      }
      e.unpersist()
      val nodeType = initial.schema("node").dataType
      return initial.sparkSession.createDataFrame(
        java.util.Arrays.asList(
          visited.toSeq.map { case (n, r) =>
            org.apache.spark.sql.Row(n, r) }: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node", nodeType),
          org.apache.spark.sql.types.StructField("rank",
            org.apache.spark.sql.types.IntegerType, nullable = false))))
    }
    // Eager materialization each step: plan stays O(1) in depth, and
    // the isEmpty probe and next join are reads, not recomputes.
    var visited = materialize(
      initial.select(F.col("node"), F.lit(0).as("rank")).distinct())
    var frontier = visited
    var rank = 0
    var done = false
    while (!done && rank < maxRank) {
      rank += 1
      // next = (frontier ⋈ edges).dst − visited. Alias-qualified columns:
      // frontier's lineage can embed `e`, so bare column refs would be
      // ambiguous self-join references.
      val stepped = frontier.alias("f")
        .join(e.alias("g"), F.col("f.node") === F.col("g.src"))
        .select(F.col("g.dst").as("node")).distinct()
      val next = materialize(stepped.alias("s")
        .join(visited.alias("v"), F.col("s.node") === F.col("v.node"), "left_anti")
        .select(F.col("s.node").as("node"), F.lit(rank).as("rank")))
      if (next.isEmpty) done = true
      else {
        visited = materialize(visited.unionAll(next))
        frontier = next
      }
    }
    e.unpersist()
    visited
  }

  /** PageRank by power iteration — link-graph analytics for crawl
    * prioritization (which domains/pages matter enough to fetch,
    * keep, or upsample). Column contract: edges(src, dst); output
    * (node, rank). Multi-edges count once per occurrence (a page
    * linking twice contributes twice, matching a raw link table).
    *
    * Semantics: the classic simplified formulation (Page et al. 1999,
    * and the canonical Spark example) — rank' = (1-d)/N + d * Σ
    * rank(in)/outdeg(in); mass at dangling nodes (no out-links) is
    * dropped rather than redistributed, so Σ rank < 1 when dangling
    * nodes exist. Fixed `iters`, no convergence test: the result is a
    * deterministic function of the graph, which is what makes it
    * oracle-checkable.
    *
    * Scale design (the graph is the big thing, ranks are node-sized):
    *  - edges are persisted ONCE with 1/outdeg pre-joined — the
    *    per-iteration work never recomputes degrees;
    *  - each iteration is one shuffle join (node-sized ranks into the
    *    edge table — AQE broadcasts it when small), one partial-agg
    *    groupBy(dst), and one node-sized left join;
    *  - ranks are materialized per iteration (localCheckpoint +
    *    rebuild) so the plan stays O(1) in `iters`, not O(iters) —
    *    and the checkpointed frame is 16 bytes/node, the cheap case
    *    of CLAUDE.md's checkpoint economics;
    *  - graphs under `driverLimit` edges finish driver-side: one
    *    collect + array-indexed scalar loop (zero jobs per iteration)
    *    — identical arithmetic, same as the bfs shortcut.
    *
    * `sources` (optional, one column of node ids) switches to
    * PERSONALIZED PageRank: the teleport vector is uniform over the
    * source set instead of all nodes — rank' = (1-d)/|S|·[node∈S] +
    * d·Σ rank·(1/outdeg), init rank = 1/|S| on S, 0 elsewhere. The
    * topic/seed-focused variant of crawl prioritization ("what
    * matters NEAR these seeds"). Sources are unioned into the node
    * set, so an isolated seed still collects its teleport mass.
    */
  def pageRank(edges: DataFrame, iters: Int = 10, damping: Double = 0.85,
               driverLimit: Long = -1,
               sources: DataFrame = null): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val spark = edges.sparkSession
    import org.apache.spark.sql.types.DoubleType
    val e = edges.select(F.col("src"), F.col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dl =
      if (driverLimit >= 0) driverLimit
      else graft.GraftConf.graphDriverLimit(spark)
    val nEdges = e.count()
    if (nEdges <= dl) {
      // Driver path: same math, array-indexed.
      val rows = e.collect()
      val idx = scala.collection.mutable.LinkedHashMap[Any, Int]()
      def id(n: Any): Int = idx.getOrElseUpdate(n, idx.size)
      val srcs = new Array[Int](rows.length)
      val dsts = new Array[Int](rows.length)
      var i = 0
      while (i < rows.length) {
        srcs(i) = id(rows(i).get(0)); dsts(i) = id(rows(i).get(1)); i += 1
      }
      e.unpersist()
      val srcIds: Option[Set[Int]] = Option(sources).map(
        _.select(F.col(sources.columns.head)).distinct().collect()
          .map(r => id(r.get(0))).toSet)
      srcIds.foreach(s => require(s.nonEmpty,
        "pageRank: personalized source set is empty"))
      val n = idx.size
      val outdeg = new Array[Long](n)
      srcs.foreach(s => outdeg(s) += 1)
      val invdeg = outdeg.map(d => if (d == 0) 0.0 else 1.0 / d.toDouble)
      val baseOf: Int => Double = srcIds match {
        case None =>
          val b = (1.0 - damping) / n.toDouble; _ => b
        case Some(s) =>
          val b = (1.0 - damping) / s.size.toDouble
          k => if (s.contains(k)) b else 0.0
      }
      val initOf: Int => Double = srcIds match {
        case None => _ => 1.0 / n.toDouble
        case Some(s) =>
          val v = 1.0 / s.size.toDouble
          k => if (s.contains(k)) v else 0.0
      }
      var ranks = Array.tabulate(n)(initOf)
      for (_ <- 1 to iters) {
        val contrib = new Array[Double](n)
        var j = 0
        while (j < srcs.length) {
          contrib(dsts(j)) += ranks(srcs(j)) * invdeg(srcs(j)); j += 1
        }
        ranks = Array.tabulate(n)(k => baseOf(k) + damping * contrib(k))
      }
      val nodeType = edges.schema("src").dataType
      return spark.createDataFrame(
        java.util.Arrays.asList(
          idx.toSeq.map { case (node, k) =>
            org.apache.spark.sql.Row(node, ranks(k)) }: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node", nodeType),
          org.apache.spark.sql.types.StructField("rank", DoubleType,
            nullable = false))))
    }
    val srcSet = Option(sources).map(s => materialize(
      s.select(F.col(s.columns.head).as("node")).distinct())
      .persist(StorageLevel.MEMORY_AND_DISK))
    val nodes = materialize {
      val fromEdges = e.select(F.col("src").as("node"))
        .unionAll(e.select(F.col("dst").as("node")))
      srcSet.fold(fromEdges)(s =>
        fromEdges.unionAll(s.select(F.col("node")))).distinct()
    }.persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count().toDouble
    val nSrc = srcSet.map(_.count().toDouble)
    nSrc.foreach(c => require(c > 0,
      "pageRank: personalized source set is empty"))
    val withDeg = e.alias("e")
      .join(e.groupBy("src").agg(F.count(F.lit(1)).as("outdeg")).alias("d"),
        F.col("e.src") === F.col("d.src"))
      .select(F.col("e.src").as("src"), F.col("e.dst").as("dst"),
        (F.lit(1.0) / F.col("d.outdeg").cast(DoubleType)).as("invdeg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    withDeg.count() // materialize before dropping the raw edge cache
    e.unpersist()
    // teleport flag per node: uniform everywhere, or over the seed set
    val flagged = srcSet match {
      case None => nodes.select(F.col("node"), F.lit(true).as("in_s"))
      case Some(s) => nodes.alias("n")
        .join(F.broadcast(s.select(F.col("node"), F.lit(1).as("_s"))
          .alias("s")), F.col("n.node") === F.col("s.node"), "left")
        .select(F.col("n.node").as("node"),
          F.col("_s").isNotNull.as("in_s"))
    }
    val baseCol = nSrc match {
      case None => F.lit((1.0 - damping) / n)
      case Some(c) => F.when(F.col("in_s"),
        F.lit((1.0 - damping) / c)).otherwise(0.0)
    }
    val initCol = nSrc match {
      case None => F.lit(1.0 / n)
      case Some(c) => F.when(F.col("in_s"), F.lit(1.0 / c)).otherwise(0.0)
    }
    val based = materialize(
      flagged.select(F.col("node"), baseCol.as("base"), initCol.as("init")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // When the node-sized tables fit a broadcast (default ≤ 1M nodes,
    // ~16 MB), broadcast ranks INTO the edge join and contribs into
    // the rank rebuild: the edge table — the big thing — then never
    // shuffles per iteration (only the node-grain partial-agg
    // combine does). Above the threshold both joins shuffle, which
    // is the right plan at billions of nodes.
    val bcast = n <= graft.GraftConf.graphBroadcastNodes(spark)
    def small(df: DataFrame): DataFrame =
      if (bcast) F.broadcast(df) else df
    var ranks = materialize(
      based.select(F.col("node"), F.col("init").as("rank")))
    for (_ <- 1 to iters) {
      val contribs = withDeg.alias("w")
        .join(small(ranks.alias("r")), F.col("r.node") === F.col("w.src"))
        .groupBy(F.col("w.dst").as("node"))
        .agg(F.sum(F.col("r.rank") * F.col("w.invdeg")).as("contrib"))
      ranks = materialize(
        based.alias("n")
          .join(small(contribs.alias("c")),
            F.col("n.node") === F.col("c.node"), "left")
          .select(F.col("n.node").as("node"),
            (F.col("n.base") + F.lit(damping) *
              F.coalesce(F.col("c.contrib"), F.lit(0.0))).as("rank")))
    }
    withDeg.unpersist(); nodes.unpersist(); based.unpersist()
    srcSet.foreach(_.unpersist())
    ranks
  }

  /** Triangle count of the UNDIRECTED simple graph induced by `edges`
    * (direction, multiplicity and self-loops are normalized away).
    * The classic degree-ordered orientation (compact-forward): orient
    * every edge from the lower (degree, id) endpoint to the higher,
    * join the out-edge list with itself to enumerate each triangle's
    * unique 2-path (from its smallest vertex in that order), then
    * semi-join the closing edge. Orientation bounds every node's
    * out-degree by O(√m) on any graph, so the 2-path fan-out — the
    * only super-linear term — is O(m^1.5) worst case and near-linear
    * on real sparse graphs, instead of the unbounded Σdeg² of the
    * naive neighbor join. Three shuffles total (normalize, 2-path,
    * close); every join is an equi hash join.
    */
  /** Weighted single/multi-source shortest paths by Bellman–Ford
    * relaxation (extension; the reference's graph module stops at
    * unweighted bfs/walk_tree, preql/modules/graph.pql:3-36).
    * Column contract: edges(src, dst, weight ≥ 0), sources(node);
    * output (node, dist) for REACHED nodes only, where dist is the
    * minimum total weight over walks of at most `maxIters` edges —
    * i.e. the true shortest distance once the loop converges, which
    * it detects (a round that improves nothing ends the loop early).
    *
    * Scale design mirrors pageRank: below `driverLimit` edges the
    * whole relaxation runs driver-side (one collect, array-indexed —
    * no per-round job latency on the tiny dedup-cluster graphs this
    * mostly sees). Above it, each round is ONE edge⋈dist join + a
    * (dst, min) partial-agg combine + a node-sized merge, eagerly
    * materialized so the plan stays O(1) in rounds; below
    * `spark.graft.graph.broadcastNodes` the node-sized dist table
    * broadcasts INTO the edge join, so the edge table — the big
    * thing — never shuffles per round.
    */
  def sssp(edges: DataFrame, sources: DataFrame, maxIters: Int = 50,
           driverLimit: Long = -1): DataFrame = {
    require(maxIters >= 0, s"maxIters must be >= 0, got $maxIters")
    val spark = edges.sparkSession
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val e = edges.select(F.col("src"), F.col("dst"),
        F.col("weight").cast(DoubleType).as("weight"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dl =
      if (driverLimit >= 0) driverLimit
      else graft.GraftConf.graphDriverLimit(spark)
    val nodeType = edges.schema("src").dataType
    val outSchema = StructType(Seq(
      StructField("node", nodeType),
      StructField("dist", DoubleType, nullable = false)))
    if (e.count() <= dl) {
      // Driver path: same math, array-indexed.
      val rows = e.collect()
      e.unpersist()
      val idx = scala.collection.mutable.LinkedHashMap[Any, Int]()
      def id(n: Any): Int = idx.getOrElseUpdate(n, idx.size)
      val srcs = new Array[Int](rows.length)
      val dsts = new Array[Int](rows.length)
      val ws = new Array[Double](rows.length)
      var i = 0
      while (i < rows.length) {
        srcs(i) = id(rows(i).get(0)); dsts(i) = id(rows(i).get(1))
        ws(i) = rows(i).getDouble(2); i += 1
      }
      val srcIds = sources.select(F.col(sources.columns.head))
        .distinct().collect().map(r => id(r.get(0)))
      var dist = Array.fill(idx.size)(Double.PositiveInfinity)
      srcIds.foreach(s => dist(s) = 0.0)
      var changed = true
      var round = 0
      while (changed && round < maxIters) {
        // SYNCHRONOUS rounds (relax against the previous round's
        // snapshot): after r rounds dist = min over walks of ≤ r
        // edges, exactly — the same semantics as the distributed
        // path, so a hop-bounded call gives identical answers on
        // either path. In-place relaxation would leak multiple hops
        // per round depending on edge order.
        changed = false
        val next = dist.clone()
        var j = 0
        while (j < srcs.length) {
          val nd = dist(srcs(j)) + ws(j)
          if (nd < next(dsts(j))) { next(dsts(j)) = nd; changed = true }
          j += 1
        }
        dist = next
        round += 1
      }
      return spark.createDataFrame(
        java.util.Arrays.asList(
          idx.toSeq.filter(kv => dist(kv._2) < Double.PositiveInfinity)
            .map { case (node, k) =>
              org.apache.spark.sql.Row(node, dist(k)) }: _*),
        outSchema)
    }
    val bcast = {
      val nNodes = e.select(F.col("src").as("node"))
        .unionAll(e.select(F.col("dst").as("node"))).distinct().count()
      nNodes <= graft.GraftConf.graphBroadcastNodes(spark)
    }
    def small(df: DataFrame): DataFrame =
      if (bcast) F.broadcast(df) else df
    var dist = materialize(
      sources.select(F.col(sources.columns.head).as("node")).distinct()
        .select(F.col("node"), F.lit(0.0).as("dist")))
    var round = 0
    var changed = true
    while (changed && round < maxIters) {
      // relax: best candidate distance per destination this round
      val cand = e.alias("e")
        .join(small(dist.alias("d")), F.col("d.node") === F.col("e.src"))
        .groupBy(F.col("e.dst").as("node"))
        .agg(F.min(F.col("d.dist") + F.col("e.weight")).as("nd"))
      // merge: keep the better of (old dist, candidate); track whether
      // anything improved so the loop can stop at convergence. The
      // merged frame is materialized BEFORE the improvement count, so
      // the count is a cheap scan of the checkpoint, not a recompute.
      // no broadcast hint on the merge: Spark cannot broadcast a side
      // of a FULL OUTER join (the hint was ignored with a warning);
      // both sides here are node-sized anyway
      val merged = materialize(
        dist.alias("d").join(cand.alias("c"),
            F.col("d.node") === F.col("c.node"), "full_outer")
          .select(
            F.coalesce(F.col("d.node"), F.col("c.node")).as("node"),
            F.least(F.col("d.dist"), F.col("c.nd")).as("dist"),
            (F.col("d.dist").isNull ||
              (F.col("c.nd").isNotNull &&
                F.col("c.nd") < F.col("d.dist"))).as("improved")))
      changed = merged.filter(F.col("improved")).limit(1).count() > 0
      dist = merged.select(F.col("node"), F.col("dist"))
      round += 1
    }
    e.unpersist()
    dist
  }

  def triangles(edges: DataFrame): DataFrame = {
    // normalize: undirected, simple (a < b), deduped
    val und = materialize(
      edges.select(F.least(F.col("src"), F.col("dst")).as("a"),
          F.greatest(F.col("src"), F.col("dst")).as("b"))
        .filter(F.col("a") =!= F.col("b"))
        .distinct())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = und.select(F.col("a").as("node"))
      .unionAll(und.select(F.col("b").as("node")))
      .groupBy("node").agg(F.count(F.lit(1)).as("deg"))
    // total order (deg, id): orient light → heavy. Ordinal structs
    // carry (d, n) named fields so both when-branches share one type.
    def ord(d: Column, node: Column): Column =
      F.named_struct(F.lit("d"), d, F.lit("n"), node)
    val oriented = materialize(
      und.alias("e")
        .join(deg.alias("da"), F.col("e.a") === F.col("da.node"))
        .join(deg.alias("db"), F.col("e.b") === F.col("db.node"))
        .select(
          F.when(ord(F.col("da.deg"), F.col("e.a")) <
              ord(F.col("db.deg"), F.col("e.b")),
            F.col("e.a")).otherwise(F.col("e.b")).as("u"),
          F.when(ord(F.col("da.deg"), F.col("e.a")) <
              ord(F.col("db.deg"), F.col("e.b")),
            ord(F.col("db.deg"), F.col("e.b")))
            .otherwise(ord(F.col("da.deg"), F.col("e.a")))
            .as("vord")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    oriented.count()
    und.unpersist()
    // 2-paths from each triangle's smallest vertex; close with the
    // oriented (v, w) edge — each triangle counted exactly once
    val paths = oriented.alias("p1").join(oriented.alias("p2"),
        F.col("p1.u") === F.col("p2.u") &&
          F.col("p1.vord") < F.col("p2.vord"))
      .select(F.col("p1.vord.n").as("v"), F.col("p2.vord.n").as("w"))
    val closing = oriented.select(F.col("u").as("v"),
      F.col("vord.n").as("w"))
    val out = paths.join(closing, Seq("v", "w"), "left_semi")
      .agg(F.count(F.lit(1)).as("n_triangles"))
    val res = materialize(out)
    oriented.unpersist()
    res
  }

  /** walk_tree: all paths from `initial` following edges up to
    * `maxRank` steps; unlike bfs, re-visits are allowed (it walks, not
    * marks) — reference graph.pql:23-36.  Output (node, rank).
    */
  def walkTree(edges: DataFrame, initial: DataFrame, maxRank: Int): DataFrame = {
    val e = edges.select(F.col("src"), F.col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var acc = initial.select(F.col("node"), F.lit(0).as("rank"))
    var frontier = acc
    var rank = 0
    while (rank < maxRank && !frontier.isEmpty) {
      rank += 1
      frontier = frontier.join(e, frontier("node") === e("src"))
        .select(e("dst").as("node"), F.lit(rank).as("rank"))
        .localCheckpoint(eager = true)
      acc = acc.unionAll(frontier)
    }
    e.unpersist()
    acc
  }
}
