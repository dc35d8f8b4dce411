package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types._

/** Exact global ranking without the single-partition window wall.
  *
  * `Window.orderBy(...)` with no partition key moves ALL rows into one
  * task — the classic scale killer for global ntile/percent_rank. The
  * two-stage shape used here:
  *
  *   1. `repartitionByRange` on the sort key → P ordered, disjoint
  *      partitions (one shuffle, fully parallel).
  *   2. sort within each partition (no cross-partition traffic).
  *   3. global index via per-partition counts + offsets
  *      (GlobalIndex: one lightweight count job, then pure Catalyst
  *      columns) — rank = offset + local position.
  *
  * The sort key must be a total order (add a unique tiebreaker) so
  * ranks are well-defined and run-to-run deterministic regardless of
  * where the range sampler places partition boundaries.
  */
object Ranks {

  /** Appends `_grank` (1-based global rank by `sortCols`) and returns
    * the total row count too (known from the offsets pass — no extra
    * job).
    */
  private[ext] def withGlobalRankAndCount(df: DataFrame, sortCols: Seq[Column],
                                          partitions: Int = 0)
      : (DataFrame, Long) = {
    val spark = df.sparkSession
    val p =
      if (partitions > 0) partitions
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val ranged = df.repartitionByRange(p, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    // GlobalIndex freezes the ranged frame, counts rows per partition
    // (range partitions are ordered, so offsets ARE the rank base),
    // and attaches offset + local position as pure columns.
    graft.plans.GlobalIndex.withIndexAndCount(ranged, "_grank", startAt = 1)
  }

  /** Exact global ntile + percent_rank over a total-order sort key,
    * matching SQL semantics (first n mod k buckets take the extra
    * row; percent_rank = (rank-1)/(n-1)).
    */
  def ntilePercent(df: DataFrame, k: Int, sortCols: Seq[Column],
                   partitions: Int = 0): DataFrame = {
    val (ranked, n) = withGlobalRankAndCount(df, sortCols, partitions)
    val small = n / k
    val big = n % k
    val rank = col("_grank")
    // integral `div` (IntegralDivide), not double division: above ~2^53
    // rows the correctly-rounded double quotient can round up across an
    // integer boundary and misassign a bucket — this is the module
    // pitched as the 100 TB global-rank path, so the index math must be
    // exact at any row count. Operands are non-negative, so truncating
    // division == floor division here.
    def idiv(a: Column, b: Long): Column = F.call_function("div", a, lit(b))
    val bucket =
      if (small == 0) rank // fewer rows than buckets: one row each
      else when(rank <= big * (small + 1),
        idiv(rank - 1, small + 1) + 1)
        .otherwise(lit(big) + idiv(rank - 1 - big * (small + 1), small) + 1)
    ranked
      .withColumn("_ntile", bucket.cast(IntegerType))
      .withColumn("_percent_rank",
        if (n <= 1) lit(0.0)
        else (rank - 1).cast(DoubleType) / lit((n - 1).toDouble))
  }

  /** Top `k` rows per group by `orderCols` (the caller supplies a
    * TOTAL order — include a unique tiebreaker — so the kept set is
    * deterministic and oracle-able). One key-partitioned window, the
    * grouped counterpart of the global top-k: Spark's window row_number
    * with a filter prunes per partition before any data concentrates.
    */
  def topPerGroup(df: DataFrame, keyCols: Seq[String],
                  orderCols: Seq[Column], k: Int): DataFrame = {
    require(k >= 1, s"topPerGroup: k must be >= 1, got $k")
    require(keyCols.nonEmpty, "topPerGroup: need a group key " +
      "(use order + limit for a global top-k)")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("_rn", F.row_number().over(w))
      .filter(col("_rn") <= k)
      .drop("_rn")
  }
}
