package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types._

/** Scalar + aggregate function library with the reference engine's
  * semantics, built on codegen'd `org.apache.spark.sql.functions`
  * (never Scala UDFs in the hot path).
  *
  * Semantics pinned by the reference and its tests:
  *  - `==` is null-safe (compiles to IS NOT DISTINCT FROM,
  *    reference: preql/core/sql.py:349-368) → `eq` uses `<=>`.
  *  - `/` always yields float; `/~` is floor division
  *    (reference: preql/core/compile_binops.py:211-243).
  *  - `and`/`or` have value semantics (return an operand, not a bool)
  *    via CASE WHEN (reference: preql/core/compiler.py:313-339).
  *  - string `in` is substring containment
  *    (reference: preql/core/compile_binops.py:141-168).
  *  - strict string→int cast errors on junk
  *    (reference: preql/core/casts.py:77-93).
  */
object PF {

  // ---- comparisons -------------------------------------------------------
  /** Null-safe equality: Preql `==`. */
  def eq(a: Column, b: Column): Column = a <=> b
  def neq(a: Column, b: Column): Column = !(a <=> b)

  // ---- arithmetic --------------------------------------------------------
  /** Preql `/`: always float division, regardless of operand types. */
  def div(a: Column, b: Column): Column =
    a.cast(DoubleType) / b.cast(DoubleType)

  /** Preql `/~`: floor division; int/int stays int. */
  def floorDiv(a: Column, b: Column): Column =
    F.floor(a.cast(DoubleType) / b.cast(DoubleType)).cast(LongType)

  /** Preql `**`: float power. */
  def pow(a: Column, b: Column): Column = F.pow(a, b)

  /** String `*` n: repetition (reference: __builtins__.pql:282). */
  def strRepeat(s: Column, n: Column): Column = F.repeat(s, n.cast(IntegerType))

  // ---- value-semantics boolean ops (Python-like and/or/not) --------------
  /** Preql `a and b`: returns b if a is truthy else a. Pass the operand
    * type so truthiness works on unresolved columns (bool default).
    */
  def vAnd(a: Column, b: Column, ty: DataType = BooleanType): Column =
    when(truthy(a, ty), b).otherwise(a)

  /** Preql `a or b`: returns a if a is truthy else b. */
  def vOr(a: Column, b: Column, ty: DataType = BooleanType): Column =
    when(truthy(a, ty), a).otherwise(b)

  def vNot(a: Column, ty: DataType = BooleanType): Column = !truthy(a, ty)

  /** Truthiness: bool as-is; numbers != 0; strings != "". */
  def truthy(a: Column, ty: DataType): Column = ty match {
    case BooleanType    => a
    case StringType     => a =!= lit("")
    case _: NumericType => a =!= lit(0)
    case _              => a.isNotNull
  }

  // ---- strings -----------------------------------------------------------
  /** 0-based index of needle in haystack, -1 when absent
    * (reference: __builtins__.pql:462-478 `str_index`).
    */
  def strIndex(haystack: Column, needle: Column): Column =
    F.instr(haystack, needle) - 1

  def strContains(haystack: Column, needle: Column): Column =
    haystack.contains(needle)

  /** 0-based end-exclusive slice `s[a..b]`
    * (reference: preql/core/sql.py:897-926 StringSlice).
    */
  def strSlice(s: Column, from: Column, until: Column): Column =
    F.substring(s, (from + 1).cast(IntegerType), (until - from).cast(IntegerType))

  def charOf(n: Column): Column = F.chr(n)
  def charOrd(c: Column): Column = F.ascii(c)

  /** `fmt` string interpolation is plain `concat` composition. */
  def fmt(parts: Column*): Column = F.concat(parts: _*)

  // ---- casts -------------------------------------------------------------
  /** Strict string→int: raises on non-numeric input instead of NULL
    * (reference: preql/core/casts.py:77-93). Codegen-friendly:
    * try_cast + raise_error, no UDF.
    */
  def strictToInt(s: Column): Column = {
    val casted = s.try_cast(LongType)
    when(s.isNotNull && casted.isNull,
      F.raise_error(F.concat(lit("Cannot cast to int: "), s)).cast(LongType))
      .otherwise(casted)
  }

  /** number → bool: `!= 0` (reference casts.py:52-66). */
  def numToBool(c: Column): Column = c =!= lit(0)

  // ---- datetime accessors (reference: __builtins__.pql:347-353) ----------
  def year(c: Column): Column = F.year(c)
  def month(c: Column): Column = F.month(c)
  def day(c: Column): Column = F.dayofmonth(c)
  def hour(c: Column): Column = F.hour(c)
  def minute(c: Column): Column = F.minute(c)
  /** 1 = Sunday (Spark convention; a DuckDB oracle must use dow+1). */
  def dayOfWeek(c: Column): Column = F.dayofweek(c)
  def weekOfYear(c: Column): Column = F.weekofyear(c)

  // ---- aggregates --------------------------------------------------------
  def countTrue(c: Column): Column = F.sum(when(c, 1L).otherwise(0L))
  def countFalse(c: Column): Column = F.sum(when(c, 0L).otherwise(1L))

  /** `approx_product` = exp(sum(ln x)) (reference __builtins__.pql:313-325). */
  def approxProduct(c: Column): Column = F.exp(F.sum(F.log(c)))

  // ---- sketch aggregates (extension: the 100 TB cardinality path) --------
  /** HyperLogLog++ approximate distinct count. Partial sketches merge
    * associatively map-side, so the shuffle carries one small sketch
    * per group per partition instead of the value set — the only
    * viable distinct-count shape at 100 TB.
    */
  def approxCountDistinct(c: Column, rsd: Double = 0.05): Column =
    F.approx_count_distinct(c, rsd)

  /** Mergeable Apache DataSketches HLL state (binary). Persist it per
    * partition/day, then Spark's `hll_union_agg` + `hllEstimate` roll
    * partial sketches up without re-reading raw data — incremental
    * distinct counts over an ever-growing corpus.
    */
  def hllSketch(c: Column, lgK: Int = 12): Column =
    F.hll_sketch_agg(c, lit(lgK))

  def hllEstimate(sketch: Column): Column = F.hll_sketch_estimate(sketch)

  /** ORACLE-ABLE HyperLogLog: the same two-level aggregation shape as
    * the DataSketches path (per-(group,bucket) max-rank registers →
    * per-group estimate; both stages partial-aggregate map-side, so
    * the shuffle carries at most m register rows per group), but every
    * intermediate is a deterministic integer derived from the engine's
    * portable md5 hash — so DuckDB can replicate the ESTIMATE bit-for-
    * bit, unlike the xxhash/murmur-based built-ins (q66 stays
    * rows-only for exactly that reason).
    *
    * Determinism engineering: the 60-bit h60 hash splits into p bucket
    * bits + (60-p) value bits; rank comes from `length(bin(w))`
    * (integer, no float log2); the register sum accumulates
    * 2^(maxRho - M_j) as LONGS (max m·2^maxRho = 2^61 — order-
    * independent integer addition), and only the final estimate
    * touches doubles, rounded to 3 decimals so a last-ulp `ln`
    * difference between engines cannot flip the hash compare.
    */
  def hllMd5(df: org.apache.spark.sql.DataFrame, groupCol: String,
             key: Column, p: Int = 12,
             outCol: String = "approx_distinct"): org.apache.spark.sql.DataFrame = {
    require(p >= 7 && p <= 16, s"hllMd5: p in [7,16], got $p")
    val m = 1 << p
    val maxRho = 61 - p // (60-p) value bits, rank in [1, 61-p]; 0 reserved
    val hv = graft.ext.TextAnalysis.h60(
      F.concat(lit("hll:"), key.cast(StringType)))
    val w = F.shiftright(hv, p) // integer shift — hv wouldn't survive a double division
    // rank of the leftmost 1-bit in the (60-p)-bit word: leading zeros
    // + 1 = (60-p) - bitlen + 1 = maxRho - bitlen; all-zeros → maxRho.
    // length(bin(w)) is the float-free bit length (same in DuckDB).
    val rho = when(w === 0L, lit(maxRho))
      .otherwise(lit(maxRho) - F.length(F.bin(w)))
    val regs = df
      .select(col(groupCol), hv.bitwiseAND(lit(m - 1)).as("_bucket"), rho.as("_rho"))
      .groupBy(col(groupCol), col("_bucket"))
      .agg(F.max("_rho").as("_mj"))
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val est = regs.groupBy(col(groupCol)).agg(
      F.sum(F.pow(lit(2.0), lit(maxRho) - col("_mj")).cast(LongType)).as("_s0"),
      F.count(lit(1)).as("_cnt"))
      .select(col(groupCol),
        (col("_s0") + (lit(m.toLong) - col("_cnt")) *
          F.pow(lit(2.0), lit(maxRho)).cast(LongType)).as("_s"),
        (lit(m.toLong) - col("_cnt")).as("_v"))
    val eRaw = lit(alpha * m.toDouble * m.toDouble) /
      (col("_s").cast(DoubleType) / F.pow(lit(2.0), lit(maxRho)))
    est.select(col(groupCol),
      F.round(when(eRaw <= lit(2.5 * m) && col("_v") > 0,
          lit(m.toDouble) * F.log(lit(m.toDouble) / col("_v")))
        .otherwise(eRaw), 3).as(outCol))
  }

  /** Exact multiplicative aggregate — the reference needs a custom UDAF
    * for this too (reference: preql/core/sql_interface.py:799-807).
    * Implemented as a typed Aggregator: partial products combine
    * associatively, so map-side partial aggregation applies and the
    * shuffle carries one double per group per partition.
    */
  val productAgg: Aggregator[Double, Double, Double] =
    new Aggregator[Double, Double, Double] {
      def zero: Double = 1.0
      def reduce(b: Double, a: Double): Double = b * a
      def merge(b1: Double, b2: Double): Double = b1 * b2
      def finish(r: Double): Double = r
      def bufferEncoder: Encoder[Double] = Encoders.scalaDouble
      def outputEncoder: Encoder[Double] = Encoders.scalaDouble
    }

  def product(c: Column): Column =
    F.udaf(productAgg, Encoders.scalaDouble).apply(c)

  /** Deterministic aggregates over doubles for cross-engine comparison:
    * sum via exact decimal then correctly-rounded double conversion.
    * At scale this is also the right call — decimal sums are
    * order-independent so AQE/partial-agg reordering can't change bits.
    */
  def dsum(c: Column, scale: Int = 2): Column =
    F.sum(c.cast(DecimalType(18, scale))).cast(DoubleType)

  /** Deterministic sum of `price * (1 - disc)` revenue terms: both
    * factors exact at scale 2, the product exact at scale 4, summed as
    * DECIMAL(38,4) — order-independent bits under AQE/partial-agg
    * reordering, and bit-identical to another engine running the same
    * decimal arithmetic (the TPC-H revenue idiom).
    */
  def drevsum(price: Column, disc: Column): Column =
    F.sum((price.cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) - disc.cast(DecimalType(18, 2))))
      .cast(DecimalType(38, 4))).cast(DoubleType)

  /** Deterministic mean: exact decimal sum / count, both exact, one
    * IEEE division at the end.
    */
  def davg(c: Column, scale: Int = 2): Column =
    F.sum(c.cast(DecimalType(18, scale))).cast(DoubleType) /
      F.count(c).cast(DoubleType)

  /** Deterministic sample stddev: sqrt((Σx² − (Σx)²/n)/(n−1)) with
    * exact decimal sums (Spark's stddev_samp is a streaming Welford —
    * order-dependent bits — so it can't hash-match another engine).
    */
  def dstddev(c: Column, scale: Int = 2): Column = {
    val d = c.cast(DecimalType(18, scale))
    val sx = F.sum(d).cast(DoubleType)
    val sxx = F.sum((d * d).cast(DecimalType(38, scale * 2))).cast(DoubleType)
    val n = F.count(c).cast(DoubleType)
    F.sqrt((sxx - sx * sx / n) / (n - lit(1.0)))
  }

  /** Deterministic sample covariance via exact decimal co-moments:
    * (Σxy − ΣxΣy/n)/(n−1). Spark's covar_samp streams (order-dependent
    * bits); this is reproducible across engines and partitionings.
    */
  def dcovar(x: Column, y: Column, scale: Int = 2): Column = {
    val dx = x.cast(DecimalType(18, scale))
    val dy = y.cast(DecimalType(18, scale))
    val sxy = F.sum((dx * dy).cast(DecimalType(38, scale * 2))).cast(DoubleType)
    val sx = F.sum(dx).cast(DoubleType)
    val sy = F.sum(dy).cast(DoubleType)
    val n = F.count(x).cast(DoubleType)
    (sxy - sx * sy / n) / (n - lit(1.0))
  }

  /** Deterministic Pearson correlation from exact decimal sums. */
  def dcorr(x: Column, y: Column, scale: Int = 2): Column =
    dcovar(x, y, scale) / (dstddev(x, scale) * dstddev(y, scale))

  // ---- multi-dimensional clustering --------------------------------------
  /** Z-order (Morton) interleave of two non-negative dimensions into
    * one long: bit i of `a` lands at bit 2i, bit i of `b` at bit 2i+1.
    * Pure bit arithmetic unrolled at plan-build time (2·bits shift/and
    * terms, all codegen'd; no UDF, no loop at runtime) — and exactly
    * mirrorable in any engine with `>> & <<` for the oracle. Sorting
    * or bucketing by the result clusters rows so each file covers an
    * aligned rectangle of (a, b) space: the layout that makes 2-D
    * range predicates prune files (Maintenance.writeZOrdered).
    */
  def zvalue(a: Column, b: Column, bits: Int = 10): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val al = a.cast(LongType)
    val bl = b.cast(LongType)
    (0 until bits).map { i =>
      F.shiftleft(F.shiftright(al, i).bitwiseAND(lit(1L)), 2 * i) +
        F.shiftleft(F.shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** The DuckDB-SQL mirror of `zvalue` over column expressions `a`,
    * `b` — used by oracle queries so the gate checks the interleave
    * bit-for-bit.
    */
  def zvalueSql(a: String, b: String, bits: Int = 10): String =
    (0 until bits).map { i =>
      s"(((($a) >> $i) & 1) << ${2 * i}) + (((($b) >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " + ", ")")

  /** N-dimensional Morton interleave: bit i of dimension d lands at
    * bit i·k + d (k = number of dimensions). `zvalue(a, b, bits)` is
    * exactly `zvalueN(Seq(a, b), bits)`. k·bits must fit a long.
    * Same plan-build-time unrolling — k·bits codegen'd shift/and
    * terms, no UDF, no loop at runtime.
    */
  def zvalueN(dims: Seq[Column], bits: Int = 10): Column = {
    val k = dims.length
    require(k >= 2, s"zvalueN needs at least 2 dimensions, got $k")
    require(bits >= 1 && k * bits <= 62,
      s"need 1 <= bits and dims*bits <= 62, got $k x $bits")
    (for {
      i <- 0 until bits; (dim, d) <- dims.zipWithIndex
    } yield F.shiftleft(
      F.shiftright(dim.cast(LongType), i).bitwiseAND(lit(1L)), i * k + d))
      .reduce(_ + _)
  }

  // ---- sampling ----------------------------------------------------------
  /** Deterministic arithmetic sampling by key: keeps rows where
    * (key * prime) mod m < keep. Unlike `df.sample`, reproducible across
    * engines and cluster sizes — the right tool for stable pipeline
    * sampling at 100 TB (reference's sample_fast uses random(),
    * __builtins__.pql:515-551; we pin determinism instead).
    */
  def keyedSample(key: Column, m: Int, keep: Int): Column =
    F.pmod(key * lit(2654435761L), lit(m)) < lit(keep)

  // ---- skew handling -----------------------------------------------------
  /** Two-stage salted aggregation for skewed group keys: stage 1
    * aggregates on (key, salt) — spreading a hot key over `salt`
    * reducers — stage 2 combines the partials per key. Correct for any
    * associative aggregate; here sum+count (from which avg derives).
    * AQE's skew handling covers joins; this covers aggregations whose
    * hot keys overwhelm a single reducer at 100 TB.
    */
  def saltedSumCount(df: org.apache.spark.sql.DataFrame, key: Column,
                     value: Column, salt: Int): org.apache.spark.sql.DataFrame = {
    val stage1 = df
      .groupBy(key.as("key"),
        F.pmod(F.spark_partition_id() + F.monotonically_increasing_id(),
          lit(salt)).as("_salt"))
      .agg(F.sum(value.cast(DecimalType(18, 2))).as("_psum"),
        F.count(value).as("_pcnt"))
    stage1.groupBy(F.col("key"))
      .agg(F.sum(F.col("_psum")).cast(DoubleType).as("sum"),
        F.sum(F.col("_pcnt")).as("cnt"))
  }
}
