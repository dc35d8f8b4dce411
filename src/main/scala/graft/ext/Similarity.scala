package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k (exact). Scale path: random-
  * hyperplane LSH bucketing — signatures are computed during the scan
  * (pure expressions), candidates come from one bucket-join, and only
  * candidates pay the exact-cosine cost. This is the 100 TB shape:
  * never materialize the O(n·q) cross product when a bucket join
  * bounds it.
  *
  * Dot products fold left-to-right over the array after a float→double
  * cast (`aggregate(zip_with(...))`) — deterministic IEEE results,
  * reproducible across engines.
  */
object Similarity {

  /** Native codegen'd dot for float-vector columns — same left-fold
    * double accumulation as `dot`, one tight JVM loop per row.
    */
  def fdot(a: Column, b: Column): Column = graft.plans.FloatVecDot(a, b)

  def fnorm(a: Column): Column = F.sqrt(fdot(a, a))

  def dot(a: Column, b: Column): Column =
    F.aggregate(
      F.zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  /** Cosine with an undefined-guard: zero-norm operands make the
    * divisor 0, which under ANSI mode would fail the whole JOB with
    * DIVIDE_BY_ZERO — "similarity undefined" becomes null, which the
    * bounded top-k aggregate already skips.
    */
  private def cosSim(dot: Column, div: Column): Column =
    F.when(div =!= 0.0, dot / div)

  /** Exact brute-force top-k cosine neighbors for each query vector.
    * The query set is broadcast (small side); the corpus scan stays
    * fully partitioned — no corpus shuffle. Ranking happens per query
    * id with deterministic (similarity desc, id asc) tie-breaks.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame =
    bruteForceTopKPrepped(queries, prepCorpus(corpus, idCol, vecCol), k,
      idCol, vecCol)

  /** The corpus side of `bruteForceTopK` — (neighbor_id, cvec, cn)
    * with the norm precomputed per ROW (not per pair): same IEEE
    * value, n× less work. Repeated callers (streaming micro-batches)
    * should prep + materialize ONCE and reuse via
    * `bruteForceTopKPrepped`, instead of re-deriving every norm per
    * call.
    */
  def prepCorpus(corpus: DataFrame, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame =
    Dedup.ensureParallelism(corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
        fnorm(col(vecCol)).as("cn"))

  /** `bruteForceTopK` against an already-prepped corpus projection.
    * sim = dot/(qn*cn), with the norms computed once per row.
    */
  def bruteForceTopKPrepped(queries: DataFrame, prepped: DataFrame,
                            k: Int, idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val q = F.broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qvec"), fnorm(col(vecCol)).as("qn")))
    val scored = q.join(prepped, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosSim(fdot(col("qvec"), col("cvec")),
          col("qn") * col("cn")).as("sim"))
    rankTopK(scored, k)
  }

  /** Grouped top-k over (query_id, neighbor_id, sim) candidate rows
    * via the native bounded aggregate (graft.plans.TopKPairs): the
    * aggregation state is k pairs, so map-side partials cut each
    * partition's contribution to k rows per query and the shuffle
    * carries queries × k × partitions pairs — a rank window would
    * shuffle and SORT every candidate row (the 100 TB wall of the
    * previous two-window implementation). Ties break by smaller
    * neighbor_id, identical to rank-window (sim desc, id asc).
    * Candidates with null or NaN similarity (null embeddings,
    * zero-norm vectors) are EXCLUDED — "similarity undefined" never
    * outranks a real neighbor — so a query whose candidates are all
    * undefined returns no rows rather than garbage ranks.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.plans.TopKPairs.topk(col("sim"), col("neighbor_id"), k)
        .as("top"))
      .select(col("query_id"), F.posexplode(col("top")))
      .select(col("query_id"), col("col").as("neighbor_id"),
        (col("pos") + 1).cast(IntegerType).as("rank"))

  /** Deterministic pseudo-random hyperplane component: plane j,
    * dimension i ↦ uniform-ish value in [-1, 1], derived from md5 so
    * any engine reproduces the same planes (driver-side md5 mirror:
    * TextAnalysis.h60Value).
    */
  private def planeValue(j: Int, i: Int): Double =
    (TextAnalysis.h60Value(s"${j}_$i") % 2001L).toDouble / 1000.0 - 1.0

  /** Random-hyperplane LSH signature: bit j = sign(v · plane_j).
    * Pure per-row expression — computed during the scan.
    *
    * The nPlanes×dim plane matrix is computed ONCE at plan-build time
    * and embedded as literal arrays. Deriving the md5 constants inside
    * the lambda instead would re-evaluate them per row × plane ×
    * dimension (engine-side constant expressions re-run per array
    * element) — 8×dim md5 calls per row, a scan multiplier at 100 TB.
    * `dim` must match the vector length (probe with `size()` once).
    */
  def lshSignature(vec: Column, dim: Int, nPlanes: Int = 8): Column = {
    // one native PlaneSigs pass (bit-identical to the per-plane
    // aggregate/zip_with fold, which runs interpreted closures per
    // element — measured 2x on the 100k probe); null vectors yield a
    // null signature (no bucket) instead of the fold's accidental 0,
    // matching the SQL oracle's null propagation
    val planes = Array.tabulate(nPlanes * dim)(idx =>
      planeValue(idx / dim, idx % dim))
    F.element_at(
      graft.plans.PlaneSigs(vec, 1, nPlanes, dim, planes), 1)
  }

  /** The vector dimension, probed from the first row — plane matrices
    * and IVF buffers size off it at plan-build time.
    */
  def probeDim(df: DataFrame, vecCol: String = "embedding"): Int =
    df.select(F.size(col(vecCol))).head(1) match {
      case Array(r) => r.getInt(0)
      case _ => 1 // empty corpus: any dim yields an empty result
    }

  /** Bucketed ANN: exact cosine only within matching LSH buckets.
    * Trades recall for a single equi-join on the bucket id.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nPlanes: Int = 8, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    // norms are precomputed per ROW before the bucket join — computing
    // them inside the pair projection would re-run two O(d) folds per
    // candidate pair (same shape as bruteForceTopK's precompute)
    val dim = probeDim(corpus, vecCol)
    val q = F.broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qvec"), fnorm(col(vecCol)).as("qn"),
      lshSignature(col(vecCol), dim, nPlanes).as("qsig")))
    val c = Dedup.ensureParallelism(corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
      fnorm(col(vecCol)).as("cn"),
      lshSignature(col(vecCol), dim, nPlanes).as("csig"))
    val scored = q.join(c, col("qsig") === col("csig") &&
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosSim(fdot(col("qvec"), col("cvec")),
          col("qn") * col("cn")).as("sim"))
    rankTopK(scored, k) // bounded-state grouped top-k (see rankTopK)
  }

  /** OR-amplified multi-table LSH top-k: `nTables` independent
    * signature tables of `nPlanes` bits each; a corpus vector is a
    * candidate for a query if they collide in ANY table. Single-table
    * LSH (`lshTopK`) has per-neighbor recall p^b (p = per-bit match
    * probability, b = nPlanes) — tiny once b is large enough to keep
    * buckets selective; OR-amplification lifts it to 1-(1-p^b)^L
    * while random-pair candidates stay near L/2^b of the corpus. The
    * standard recall/cost dial when the corpus has no cluster
    * structure for IVF to exploit.
    *
    * Scale shape: both sides posexplode to (table, signature) keys —
    * ids and 8-byte sigs only, never a vector replication in a
    * shuffle (queries are broadcast; the corpus explode is a scan
    * multiplier, not an exchange). Matches score immediately off the
    * carried per-row norms; the (query, neighbor) dedup happens on
    * scored id pairs (expected table-duplication of a true candidate
    * is barely above 1 — cheaper than a dedup-then-rejoin of vectors).
    */
  def lshTopKMulti(queries: DataFrame, corpus: DataFrame, k: Int,
                   nPlanes: Int = 8, nTables: Int = 16,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val dim = probeDim(corpus, vecCol)
    // table t uses plane rows [t*nPlanes, (t+1)*nPlanes) of the shared
    // md5-derived plane matrix. The matrix rides as a packed payload on
    // ONE native expression (PlaneSigs): a per-plane HOF fold would put
    // T×P aggregate nodes (each with a dim-wide literal) in the plan —
    // at OR-amplification scale (192 planes) its analysis/codegen time
    // alone exceeded the whole data path. Signatures are bit-identical
    // to the fold (same left-to-right double accumulation).
    val planes = Array.tabulate(nTables * nPlanes * dim) { idx =>
      val tbl = idx / (nPlanes * dim)
      val rem = idx % (nPlanes * dim)
      planeValue(tbl * nPlanes + rem / dim, rem % dim)
    }
    def sigs(vec: Column): Column =
      graft.plans.PlaneSigs(vec, nTables, nPlanes, dim, planes)
    val q = F.broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        fnorm(col(vecCol)).as("qn"),
        F.posexplode(sigs(col(vecCol))).as(Seq("qtbl", "qsig"))))
    val c = Dedup.ensureParallelism(corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
        fnorm(col(vecCol)).as("cn"),
        F.posexplode(sigs(col(vecCol))).as(Seq("ctbl", "csig")))
    val scored = q.join(c, col("qtbl") === col("ctbl") &&
        col("qsig") === col("csig") &&
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosSim(fdot(col("qvec"), col("cvec")),
          col("qn") * col("cn")).as("sim"))
    // a pair colliding in multiple tables scored identically each
    // time: max() collapses the duplicates before ranking
    val uniq = scored.groupBy("query_id", "neighbor_id")
      .agg(F.max("sim").as("sim"))
    rankTopK(uniq, k)
  }

  /** IVF (inverted-file) ANN index: a deterministic sample of corpus
    * vectors becomes the centroid set; every vector is assigned to its
    * nearest centroid (one broadcast join — the corpus never
    * shuffles). Queries probe the `nProbe` nearest centroids and run
    * exact cosine only inside those lists.
    *
    * At 100 TB this is the classic two-level ANN: centroid assignment
    * is scan-parallel, the candidate set per query is bounded by the
    * probed lists, and the index (vector → centroid id) is just a
    * column — storable/partitionable like any other.
    */
  def ivfAssign(corpus: DataFrame, nCentroids: Int,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    // Deterministic, SQL-expressible centroid choice: keyedSample
    // filter, lowest ids win (orderBy before limit — reproducible in
    // any engine, any partitioning).
    val keep = math.max(1, 1000000 / math.max(nCentroids, 1))
    val centRows = corpus
      .filter(graft.functions.PF.keyedSample(col(idCol), 1000000, keep))
      .orderBy(col(idCol)).limit(nCentroids)
      .select(col(idCol).cast(LongType), col(vecCol))
      .collect()
    // Driver-side centroid norms use the same IEEE ops as FloatVecDot
    // (left fold from 0.0, double accumulation) so an external engine
    // reproduces them bit-for-bit.
    val sampled: Seq[(Long, Seq[Float], Double)] = centRows.map { r =>
      val v = r.getSeq[Float](1)
      var s = 0.0
      v.foreach(x => s += x.toDouble * x.toDouble)
      (r.getLong(0), v, math.sqrt(s))
    }.sortBy(_._1).toIndexedSeq
    // a zero-norm centroid would put a literal 0 divisor in the
    // assignment expression (ANSI: job-killing DIVIDE_BY_ZERO); for a
    // fully-degenerate sample fall back to one unit centroid so the
    // assignment stays total
    val nonZero = sampled.filter(_._3 != 0.0)
    val cents =
      if (nonZero.nonEmpty) nonZero
      else {
        val dim = sampled.headOption.map(_._2.length).getOrElse(1)
        IndexedSeq((0L, (1f +: Seq.fill(dim - 1)(0f)), 1.0))
      }
    // Assignment is a per-row argmax over the EMBEDDED centroid array —
    // zero shuffle of the corpus (previously corpus×k rows were
    // exchanged by id for a window argmax; at 100 TB that shuffle IS
    // the job).
    val assigned = corpus.select(col(idCol), col(vecCol),
      assignId(cents, vecCol).as("centroid_id"))
    val centroids = spark.createDataFrame(cents)
      .toDF("centroid_id", "cvec", "cn")
    (assigned, centroids)
  }

  /** Nearest-centroid id column — picks the fold or the native
    * CentroidArgmax path by centroid count (the typedlit fold's plan
    * tree is k×dim literal nodes; past
    * `spark.graft.ivf.nativeArgmaxThreshold` the native expression's
    * flat byte payload wins). Both scan centroids in ascending-id
    * order with strict `>` so ties keep the lowest id — bit-identical
    * results either way.
    */
  private def assignId(cents: Seq[(Long, Seq[Float], Double)],
                       vecCol: String): Column =
    if (cents.length > graft.GraftConf.nativeArgmaxThreshold(
        org.apache.spark.sql.SparkSession.active))
      graft.plans.CentroidArgmax(col(vecCol), cents)
    else centArgmax(cents, vecCol).getField("id")

  /** Per-row argmax fold over an embedded centroid array: returns a
    * struct (id, sim) where sim = dot/centroid-norm. The row's own
    * norm is a positive per-row constant, so ranking by dot/cn is
    * argmax-equivalent to full cosine. Strict `>` over the id-sorted
    * array keeps the lowest centroid_id on exact ties.
    */
  private def centArgmax(cents: Seq[(Long, Seq[Float], Double)],
                         vecCol: String): Column = {
    // Compute each centroid's dot ONCE in a transform(), then fold only
    // compares — Catalyst does no CSE inside higher-order-function
    // lambdas, so putting `sim` in both the when() predicate and the
    // result struct would double the dominant CPU cost of the
    // zero-shuffle assignment (same re-evaluation trap as the hash
    // constants documented in CLAUDE.md).
    // named_struct, not struct(...as...): alias-derived field naming
    // inside a lambda resolves too late when the enclosing select also
    // carries a generator (posexplode), leaving placeholder names
    val sims = F.transform(F.typedlit(cents), c => F.named_struct(
      lit("id"), c.getField("_1"),
      lit("sim"), fdot(col(vecCol), c.getField("_2")) / c.getField("_3")))
    F.aggregate(
      sims,
      F.named_struct(lit("id"), lit(-1L),
        lit("sim"), lit(Double.NegativeInfinity)),
      (acc, s) =>
        when(s.getField("sim") > acc.getField("sim"), s).otherwise(acc))
  }

  private def withNorm(id: Long, v: Seq[Float]): (Long, Seq[Float], Double) = {
    var s = 0.0
    v.foreach(x => s += x.toDouble * x.toDouble)
    (id, v, math.sqrt(s))
  }

  /** Lloyd-refined IVF index: keyedSample seed centroids, then `iters`
    * rounds of zero-shuffle assignment + ONE partial aggregation of
    * per-dimension means per round (shuffle payload: k×dim partials
    * per partition, never corpus rows). Empty clusters keep their
    * previous centroid. Better-balanced inverted lists than the raw
    * sample seed — fewer over-full lists to probe at query time.
    */
  def ivfAssignKMeans(corpus: DataFrame, nCentroids: Int, iters: Int = 3,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    val (_, c0) = ivfAssign(corpus, nCentroids, idCol, vecCol)
    var cents: Seq[(Long, Seq[Float], Double)] = c0.collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
      .sortBy(_._1)
    for (_ <- 1 to iters) {
      val best = assignId(cents, vecCol)
      // Per-dimension means via ONE (cid, dim)-keyed aggregate: the
      // posexplode collapses map-side (partial avg per (cid, d) per
      // partition → shuffle payload k×dim partials, never corpus
      // rows), then the k result vectors are re-assembled by sorting
      // the (d, mean) structs per centroid. This replaces `dim`
      // separate getItem() AVG buffers per group — fine at dim≈16,
      // dim×k buffer blowup at 768+.
      val means = corpus
        .select(best.as("_cid"),
          F.posexplode(col(vecCol)).as(Seq("_d", "_x")))
        .groupBy("_cid", "_d").agg(F.avg(col("_x")).as("_m"))
        .groupBy("_cid").agg(F.transform(
          F.array_sort(F.collect_list(F.struct(col("_d"), col("_m")))),
          s => s.getField("_m")).as("m"))
        .collect()
      val byId = means.map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      cents = cents.map { case (id, v, n) =>
        byId.get(id) match {
          case Some(m) =>
            val w = withNorm(id, m.map(_.toFloat))
            // zero-norm mean (all-zero cluster) would divide by zero
            // in the next assignment round: keep the previous centroid
            if (w._3 == 0.0) (id, v, n) else w
          case None => (id, v, n) // empty cluster: keep previous
        }
      }
    }
    val assigned = corpus.select(col(idCol), col(vecCol),
      assignId(cents, vecCol).as("centroid_id"))
    val centroids = spark.createDataFrame(cents)
      .toDF("centroid_id", "cvec", "cn")
    (assigned, centroids)
  }

  /** IVF top-k: probe the nProbe nearest centroids per query, exact
    * cosine within the probed lists only.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val (assigned, centroids) = ivfAssign(corpus, nCentroids, idCol, vecCol)
    // Probe selection runs over queries×k rows (both sides tiny); rank
    // by dot/cn — the query norm is a positive per-query constant, so
    // the ordering equals full cosine.
    val qw = Window.partitionBy("query_id")
      .orderBy(col("_qsim").desc, col("centroid_id").asc)
    val probes = F.broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .join(centroids)
      .select(col("query_id"), col("qvec"), col("centroid_id"),
        (fdot(col("qvec"), col("cvec")) / col("cn")).as("_qsim"))
      .withColumn("_r", F.row_number().over(qw))
      .filter(col("_r") <= nProbe)
      .select(col("query_id"), col("qvec"), col("centroid_id")))
    // Broadcast-join probes to the assigned lists: the corpus never
    // shuffles. Ranking per query uses dot/neighbor-norm (query norm
    // is constant per query — cosine-order-equivalent).
    val scored = probes
      .join(assigned, Seq("centroid_id"))
      .filter(col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        fdot(col("qvec"), col(vecCol)).as("_dot"),
        fnorm(col(vecCol)).as("_cn"))
      .select(col("query_id"), col("neighbor_id"),
        cosSim(col("_dot"), col("_cn")).as("sim"))
    rankTopK(scored, k) // bounded-state grouped top-k (see rankTopK)
  }

  /** Persist an IVF index: the assigned corpus written PARTITIONED BY
    * centroid_id — each inverted list is its own parquet
    * directory — plus the centroid table. The production "build once,
    * query many" shape: the expensive pass (centroid fit + assignment)
    * runs once; every later query batch reads ONLY its probed lists
    * via partition pruning.
    */
  def buildIvfIndex(corpus: DataFrame, dir: String, nCentroids: Int = 16,
                    kmeansIters: Int = 0, idCol: String = "vec_id",
                    vecCol: String = "embedding"): Unit = {
    val (assigned, centroids) =
      if (kmeansIters > 0)
        ivfAssignKMeans(corpus, nCentroids, kmeansIters, idCol, vecCol)
      else ivfAssign(corpus, nCentroids, idCol, vecCol)
    assigned.write.mode("overwrite")
      .partitionBy("centroid_id").parquet(dir + "/lists")
    centroids.write.mode("overwrite").parquet(dir + "/centroids")
  }

  /** Append new vectors to a persisted IVF index — the
    * build-once/append-many contract of a real vector store. The new
    * batch assigns against the INDEX'S OWN centroids (read once,
    * k×dim rows) so the index stays queryable mid-append and existing
    * inverted lists keep their meaning; centroid quality degrades
    * gracefully as the corpus drifts — rebuild at the cadence
    * `recallAtK` tells you to, not per batch. The append writes only
    * the batch's rows into their `centroid_id=` partitions; untouched
    * lists are not rewritten.
    */
  def appendToIvfIndex(newVecs: DataFrame, dir: String,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Unit = {
    val spark = newVecs.sparkSession
    val cents = spark.read.parquet(dir + "/centroids").collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
      .sortBy(_._1)
    // bind to the INDEX'S column names (parquet appends by name — a
    // caller whose id/vec names differ from the build call would
    // otherwise write a disjoint schema the search can't read)
    val listCols = spark.read.parquet(dir + "/lists").schema.fieldNames
      .filter(_ != "centroid_id")
    newVecs.select(col(idCol).as(listCols(0)), col(vecCol).as(listCols(1)),
        assignId(cents, vecCol).as("centroid_id"))
      .write.mode("append").partitionBy("centroid_id")
      .parquet(dir + "/lists")
  }

  /** IVF top-k against a PERSISTED index (see `buildIvfIndex`):
    * identical results to `ivfTopK` over the same corpus/centroids
    * (the parquet round-trip is lossless), but the corpus scan reads
    * only the probed partitions — `PartitionFilters: centroid_id IN
    * (...)` in the plan, so at 100 TB a query batch touches
    * nProbe-ish/nCentroids of the files instead of all of them.
    *
    * The probed-centroid set is collected to the driver (≤ queries ×
    * nProbe ids — query batches are bounded; the query side already
    * broadcasts) and embedded as an IN-list literal: STATIC pruning,
    * visible and assertable in the plan, rather than runtime DPP.
    */
  def ivfTopKIndexed(queries: DataFrame, dir: String, k: Int,
                     nProbe: Int = 4, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    val centroids = spark.read.parquet(dir + "/centroids")
    val lists = spark.read.parquet(dir + "/lists")
    val qw = Window.partitionBy("query_id")
      .orderBy(col("_qsim").desc, col("centroid_id").asc)
    val probes = F.broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .join(centroids)
      .select(col("query_id"), col("qvec"), col("centroid_id"),
        (fdot(col("qvec"), col("cvec")) / col("cn")).as("_qsim"))
      .withColumn("_r", F.row_number().over(qw))
      .filter(col("_r") <= nProbe)
      .select(col("query_id"), col("qvec"), col("centroid_id"))
      .localCheckpoint(true)) // probed twice: the id collect + the join
    val probedIds = probes.select("centroid_id").distinct()
      .collect().map(_.getLong(0))
    val pruned = lists.filter(col("centroid_id").isin(probedIds: _*))
    val scored = probes
      .join(pruned, Seq("centroid_id"))
      .filter(col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        fdot(col("qvec"), col(vecCol)).as("_dot"),
        fnorm(col(vecCol)).as("_cn"))
      .select(col("query_id"), col("neighbor_id"),
        cosSim(col("_dot"), col("_cn")).as("sim"))
    rankTopK(scored, k)
  }

  /** Top-`p` dimensions of the L2-NORMALIZED vectors by variance —
    * the dims where the data spreads most, hence where an epsilon-grid
    * prunes best. One posexplode scan + a dim-keyed partial aggregation
    * (shuffle payload: dims × partitions partials, never rows) — scales
    * to any dimensionality, unlike dim separate getItem aggregates.
    * Deterministic order: variance desc, dim asc.
    */
  private[ext] def topVarianceDims(df: DataFrame, p: Int,
                                   vecCol: String = "v",
                                   normCol: String = "nv"): Seq[Int] =
    df.select(F.posexplode(col(vecCol)).as(Seq("d", "x")), col(normCol))
      .select(col("d"),
        when(col(normCol) === 0.0, 0.0)
          .otherwise(col("x").cast(DoubleType) / col(normCol)).as("u"))
      .groupBy("d")
      .agg(F.avg(col("u")).as("m"), F.avg(col("u") * col("u")).as("m2"))
      .select(col("d"), (col("m2") - col("m") * col("m")).as("var"))
      .orderBy(col("var").desc, col("d").asc)
      .limit(p).collect().map(_.getInt(0)).toSeq

  /** Grid cell ids of the normalized vector along `dims`, cell width
    * `eps`. Zero vectors pin to cell 0 (they verify downstream like
    * any candidate).
    */
  private def gridCell(dims: Seq[Int], eps: Double,
                       vecCol: String = "v",
                       normCol: String = "nv"): Column =
    F.array(dims.map { d =>
      when(col(normCol) === 0.0, 0L).otherwise(
        F.floor(col(vecCol).getItem(d).cast(DoubleType) / col(normCol)
          / lit(eps)))
    }: _*)

  /** Embedding-cosine near-duplicate pairs within blocking groups —
    * EXACT at any block size.
    *
    * Blocks ≤ `maxBlock` use the direct in-block pair join. Hot blocks
    * use an epsilon-grid join instead of quadratic expansion: for
    * L2-normalized vectors, cos(a,b) ≥ t implies
    * ‖a−b‖ ≤ √(2(1−t)) = eps, so along ANY dimension the cell indices
    * floor(uᵢ/eps) of a matching pair differ by at most 1. Quantize the
    * `gridDims` highest-variance dims, join same-or-adjacent cells
    * (one side expanded to its 3^gridDims neighbor cells), verify with
    * the exact dot. Candidates are a strict superset of true pairs —
    * full recall, unlike the previous sign-LSH fallback — and the
    * candidate count is Σ cell·neighborhood sizes, not block².
    *
    * This is the dense-vector analog of the PPJoin prefix filter used
    * for exact Jaccard (Dedup.jaccardPairsExact): dense embeddings
    * share every dimension, so presence-based prefixes can't prune;
    * the metric bound over the most-spread dims is what replaces them
    * (epsilon-grid spatial join; cf. Bayardo et al., WWW'07 all-pairs
    * bounds). Replication is bounded: 3^gridDims copies of the hot
    * subset only. Pruning weakens as t → low (eps → grid degenerates
    * to one cell), but a low-threshold all-pairs output is itself
    * near-quadratic — the grid only costs when the answer does.
    */
  /** Recall@k of an approximate ANN result against the exact top-k:
    * per-query hit count and fraction. The tuning loop for LSH/IVF
    * parameters (nPlanes, nCentroids, nProbe) — measure recall, don't
    * guess it. Inputs are the two (query_id, neighbor_id, ...) top-k
    * tables — already tiny regardless of corpus size, so the join is
    * broadcast-sized by construction.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame =
    exact.join(
        // distinct: a duplicated (query, neighbor) in the approx set
        // (e.g. a union of probe settings) must not fan out the exact
        // rows and inflate both k and n_hit
        approx.select(col("query_id"), col("neighbor_id")).distinct()
          .withColumn("_hit", F.lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(F.count(F.lit(1)).as("k"),
        F.sum(F.when(col("_hit").isNotNull, 1L).otherwise(0L)).as("n_hit"))
      .withColumn("recall", col("n_hit").cast(DoubleType) / col("k"))

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): documents whose embeddings are near-identical
    * in cosine are semantic duplicates; keep one representative per
    * duplicate cluster. Composition of the engine's exact machinery —
    * `cosinePairs` (blocked + epsilon-grid, exact at any block size)
    * for the pair graph, `Dedup.connectedComponents` (driver
    * union-find below the conf gate, distributed min-label above) for
    * the clusters, canonical survivor = minimum id — so unlike the
    * original's per-cluster argmin-to-centroid heuristic the keep rule
    * is deterministic and engine-independent.
    *
    * Scale shape: inherits cosinePairs' guarantees (no all-pairs
    * expansion above maxBlock, candidates via grid-cell equi-join);
    * the final keep is an id-only anti-join against the non-canonical
    * member set.
    */
  def semanticDedup(df: DataFrame, threshold: Double, blockCol: String,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    maxBlock: Int = 5000): DataFrame = {
    val pairs = cosinePairs(df, threshold, blockCol, idCol, vecCol, maxBlock)
    val canon = Dedup.connectedComponents(pairs.select("id_a", "id_b"))
    val drop = canon.filter(col("id") =!= col("label"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  def cosinePairs(df: DataFrame, threshold: Double,
                  blockCol: String, idCol: String = "vec_id",
                  vecCol: String = "embedding",
                  maxBlock: Int = 5000, gridDims: Int = 2): DataFrame = {
    val base = Dedup.ensureParallelism(df)
      .select(col(idCol).as("id"), col(vecCol).as("v"),
      fnorm(col(vecCol)).as("nv"), col(blockCol))
      .filter(col("nv") =!= 0.0) // zero-norm: cosine undefined (and
                                 // ANSI divide-by-zero kills the job)
    val sizes = base.groupBy(blockCol).agg(F.count(lit(1)).as("_bn"))
    val withN = base.join(F.broadcast(sizes), blockCol)
    def scored(pairs: DataFrame): DataFrame = pairs
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (fdot(col("a.v"), col("b.v")) / (col("a.nv") * col("b.nv"))).as("sim"))
      .filter(col("sim") >= threshold)
    val small = withN.filter(col("_bn") <= maxBlock)
    val smallPairs = scored(small.alias("a").join(small.alias("b"),
      col(s"a.$blockCol") === col(s"b.$blockCol") && col("a.id") < col("b.id")))

    val big = withN.filter(col("_bn") > maxBlock)
    val eps = math.max(math.sqrt(2.0 * math.max(1.0 - threshold, 0.0)), 1e-12)
    val dims = topVarianceDims(big, gridDims)
    val cell = gridCell(dims, eps)
    val withCell = big.withColumn("_cell", cell)
    // one side expands to its 3^p neighbor cells; an adjacent pair then
    // matches on exactly ONE offset, and a.id < b.id keeps one
    // orientation — each pair appears exactly once, no distinct needed
    val offsets: Seq[Seq[Long]] = dims.foldLeft(Seq(Seq.empty[Long])) {
      (acc, _) => acc.flatMap(o => Seq(-1L, 0L, 1L).map(o :+ _))
    }
    val expanded = withCell
      .withColumn("_off", F.explode(F.typedlit(offsets)))
      .withColumn("_cell", F.zip_with(col("_cell"), col("_off"),
        (c, o) => c + o))
      .drop("_off")
    val bigPairs = scored(withCell.alias("a").join(expanded.alias("b"),
      col(s"a.$blockCol") === col(s"b.$blockCol") &&
        col("a._cell") === col("b._cell") && col("a.id") < col("b.id")))
    smallPairs.unionAll(bigPairs)
  }
}
