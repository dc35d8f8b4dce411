package graft.ext

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

/** Batch time-series preparation: fixed-width resampling, gap filling
  * (densify to every bucket between a series' first and last
  * observation), and forward fill. A stream gets tumbling windows
  * from Spark's `window` directly; these are their batch analogs
  * for historical reprocessing, where a dense, fill-completed grid is
  * what a downstream model or report consumes. No reference
  * counterpart (the reference has no time-bucketing surface at all).
  *
  * Scale shape: the RAW table is touched exactly once — the resample
  * aggregate (map-side partial combine, one shuffle on key+bucket).
  * Everything after operates at bucket grain (≤ span/interval rows per
  * series, usually orders of magnitude below raw), so the grid
  * explode, the left join, and the fill window are all cheap and
  * per-key parallel. The fill window partitions by series key — never
  * a single-partition window. A series with a pathological span
  * (one key alive for years at second grain) bounds its own grid at
  * span/interval rows; that is inherent to densification, not a plan
  * accident.
  */
object TimeSeries {

  /** Aggregate `df` into fixed `intervalUs`-microsecond buckets per
    * `keyCols`: one row per (keys..., bucket) with `aggs` evaluated
    * over the bucket's rows. `bucket` is the floored epoch-micro
    * index (bucket × intervalUs = bucket start), a plain LONG — easy
    * to join, sequence over, and compare across engines.
    */
  def resample(df: DataFrame, tsCol: String, keyCols: Seq[String],
               intervalUs: Long, aggs: Seq[Column]): DataFrame = {
    require(intervalUs > 0, "resample: intervalUs must be positive")
    require(aggs.nonEmpty, "resample: need at least one aggregate")
    val bucket = F.floor(F.unix_micros(F.col(tsCol)) / intervalUs)
      .as("bucket")
    df.groupBy((keyCols.map(F.col) :+ bucket): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Densify a bucket-grain frame: emit EVERY bucket between each
    * series' min and max observed bucket, with the observed columns
    * NULL in the gaps. Two bucket-grain passes: a tiny (key, min, max)
    * span table, an explode(sequence) grid, and one left join back —
    * the raw table is never touched.
    */
  def gapFill(resampled: DataFrame, keyCols: Seq[String],
              bucketCol: String = "bucket"): DataFrame = {
    val keys = keyCols.map(F.col)
    // the bucket-grain frame fans out below (span table + join right
    // side); recomputing it would re-scan and re-aggregate the RAW
    // table twice. It is far SMALLER than its compute (the measured
    // materialize case of the checkpoint economics), so checkpoint
    // once and rebuild to sever lineage for the self-referential join.
    val res = {
      val ckpt = resampled.localCheckpoint(true)
      resampled.sparkSession.createDataFrame(ckpt.rdd, ckpt.schema)
    }
    val spans = res.groupBy(keys: _*)
      .agg(F.min(F.col(bucketCol)).as("__mn"),
        F.max(F.col(bucketCol)).as("__mx"))
    val grid = spans.select(
      (keys :+ F.explode(F.sequence(F.col("__mn"), F.col("__mx")))
        .as(bucketCol)): _*)
    grid.join(res, keyCols :+ bucketCol, "left")
  }

  /** Forward-fill: replace NULL with the last non-null value of each
    * `cols` entry per series, in bucket order. One window per series
    * key — partitioned, running-frame `last(ignoreNulls)`, no global
    * sort.
    */
  def ffill(df: DataFrame, keyCols: Seq[String], bucketCol: String,
            cols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(F.col): _*)
      .orderBy(F.col(bucketCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cols.foldLeft(df) { (acc, c) =>
      acc.withColumn(c, F.last(F.col(c), ignoreNulls = true).over(w))
    }
  }

  /** Rolling (trailing-window) mean of `valCol` over the last `n`
    * rows per series, in `orderCols` order: the moving-average smooth
    * every monitoring/trend query wants. One key-partitioned window —
    * never a single-partition sort — with exact decimal sums inside
    * the frame, so the result is bit-deterministic under any
    * partitioning. `orderCols` must be a total order within a key
    * (include a unique tiebreaker) or frame contents are undefined.
    */
  def rollingMean(keyCols: Seq[String], orderCols: Seq[Column], n: Int,
                  valCol: Column): Column = {
    require(n >= 1, s"rollingMean: n must be >= 1, got $n")
    require(keyCols.nonEmpty,
      "rollingMean: need a partition key — an unkeyed rolling window " +
        "is a single-partition sort (use a bucketed two-stage rank " +
        "for global order at scale)")
    val w = Window.partitionBy(keyCols.map(F.col): _*)
      .orderBy(orderCols: _*)
      .rowsBetween(-(n - 1L), Window.currentRow)
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    F.sum(valCol.cast(DecimalType(18, 2))).over(w).cast(DoubleType) /
      F.count(valCol).over(w)
  }

  /** The composed operator: resample, densify, forward-fill
    * `ffillCols` (other aggregated columns keep their gap NULLs —
    * a count is genuinely absent in a gap; a level-like metric
    * carries forward).
    */
  def resampleFill(df: DataFrame, tsCol: String, keyCols: Seq[String],
                   intervalUs: Long, aggs: Seq[Column],
                   ffillCols: Seq[String]): DataFrame =
    ffill(gapFill(resample(df, tsCol, keyCols, intervalUs, aggs),
      keyCols), keyCols, "bucket", ffillCols)
}
