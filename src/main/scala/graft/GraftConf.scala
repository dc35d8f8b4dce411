package graft

import org.apache.spark.sql.SparkSession

/** Engine tuning knobs, surfaced as `spark.graft.*` session confs
  * instead of hard-coded literals. Every knob keeps its code default;
  * set the conf (or pass the explicit parameter where one exists) to
  * override per session:
  *
  * {{{
  * spark.conf.set("spark.graft.graph.driverLimit", "0") // always distributed
  * }}}
  */
object GraftConf {

  val GraphDriverLimitKey = "spark.graft.graph.driverLimit"
  val GraphBroadcastNodesKey = "spark.graft.graph.broadcastNodes"
  val DedupDriverLimitKey = "spark.graft.dedup.driverLimit"
  val AutoCompactEveryKey = "spark.graft.catalog.autoCompactEvery"
  val NativeArgmaxThresholdKey = "spark.graft.ivf.nativeArgmaxThreshold"
  val InlistLimitKey = "spark.graft.inlist.limit"
  val MinParallelismKey = "spark.graft.minParallelism"
  val CatalogLocalLimitKey = "spark.graft.catalog.localLimit"

  private def long(spark: SparkSession, key: String, default: Long): Long =
    spark.conf.getOption(key).map(_.trim.toLong).getOrElse(default)

  /** Edge count below which BFS/walk_tree finish driver-side
    * (one collect + in-memory traversal instead of 2 jobs per level).
    */
  def graphDriverLimit(spark: SparkSession): Long =
    long(spark, GraphDriverLimitKey, 1L << 20)

  /** Node count below which iterative graph algorithms broadcast the
    * node-sized rank/label table into the edge join (the edge table —
    * the big thing — then never shuffles per iteration). 1M nodes ×
    * 16 bytes ≈ 16 MB broadcast, well under executor memory; above
    * this the shuffle join is the right plan.
    */
  def graphBroadcastNodes(spark: SparkSession): Long =
    long(spark, GraphBroadcastNodesKey, 1L << 20)

  /** Edge count below which duplicate-cluster resolution runs
    * driver-side union-find instead of distributed min-label rounds.
    */
  def dedupDriverLimit(spark: SparkSession): Long =
    long(spark, DedupDriverLimitKey, 1L << 20)

  /** Mutations per table before the catalog materializes the plan
    * chain.
    */
  def autoCompactEvery(spark: SparkSession): Int =
    long(spark, AutoCompactEveryKey, 32).toInt

  /** Centroid count above which IVF assignment switches from the
    * typedlit fold to the native CentroidArgmax expression.
    */
  def nativeArgmaxThreshold(spark: SparkSession): Int =
    // native CentroidArgmax from 16 centroids up: results are
    // bit-identical to the typedlit fold either way, but the fold
    // runs interpreted HOF closures per row x centroid x dim
    // (measured ~2x slower at 64 centroids on the 100k probe) and
    // its plan carries k x dim literal nodes; the tiny-k fold is
    // kept below the threshold where its plan is trivially small
    // (and as the cross-checkable twin ExtSpec compares against)
    long(spark, NativeArgmaxThresholdKey, 16).toInt

  /** Max distinct RHS values a projection-position `in`-table
    * membership may inline as an IN-list (graft.lang).
    */
  def inlistLimit(spark: SparkSession): Int =
    long(spark, InlistLimitKey, 100000).toInt

  /** Minimum partitions for scan-CPU-bound hash/similarity pipelines
    * (Dedup.ensureParallelism); defaults to defaultParallelism.
    */
  def minParallelism(spark: SparkSession): Int =
    long(spark, MinParallelismKey,
      spark.sparkContext.defaultParallelism.toLong).toInt

  /** Row count up to which a catalog table created empty and grown
    * row-by-row stays a single driver-side LocalRelation (so probes
    * over it fold to zero Spark jobs in interpreter loops).
    */
  def catalogLocalLimit(spark: SparkSession): Int =
    long(spark, CatalogLocalLimitKey, 10000).toInt
}
