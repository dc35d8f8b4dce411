package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** Native md5-HLL estimator: `graft_hll_regs(hv, p)` aggregates the
  * 60-bit md5-derived hashes `hv` (PF/TextAnalysis.h60 of the key)
  * into 2^p max-rank registers and evaluates to the SAME rounded
  * estimate as `PF.hllMd5` — but as ONE bounded-buffer aggregate
  * instead of a per-(group,bucket) exchange, so a multi-column
  * profile keeps its single-scan single-aggregate shape (no Expand,
  * no extra exchange) and each column costs one 2^p-byte buffer.
  *
  * Every intermediate is deterministic integer arithmetic and the
  * final estimate is rounded to 3 decimals exactly like hllMd5, so a
  * DuckDB oracle replays the value bit-for-bit (cf. the x30 oracle).
  */
case class HllRegs(hash: Expression, p: Int,
                   mutableAggBufferOffset: Int = 0,
                   inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  require(p >= 7 && p <= 16, s"graft_hll_regs: p in [7,16], got $p")
  private val m = 1 << p

  override def children: Seq[Expression] = Seq(hash)
  override def checkInputDataTypes(): TypeCheckResult =
    hash.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_hll_regs requires a bigint hash input, got $t")
    }
  override def nullable: Boolean = false
  override def dataType: DataType = DoubleType

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val h = hash.eval(input)
    if (h != null) HllRegs.observe(buf, h.asInstanceOf[Long], p)
    buf
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] =
    HllRegs.unionInto(buf, other)

  override def eval(buf: Array[Byte]): Any = HllRegs.estimateOf(buf, p)

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): HllRegs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllRegs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HllRegs =
    copy(hash = newChildren(0))

  override def prettyName: String = "graft_hll_regs"
}

/** The register-STATE face of the same sketch: aggregates hashes into
  * the 2^p-byte register buffer and emits it as BINARY — the mergeable
  * persisted form for incremental state tables (cf. DataSketches'
  * hll_sketch_agg, but md5-deterministic so the final estimate is
  * oracle-replayable). Union partial states with `HllRegsUnion`,
  * finalize with `HllEstimate`.
  */
case class HllRegsState(hash: Expression, p: Int,
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {
  require(p >= 7 && p <= 16, s"graft_hll_regs_state: p in [7,16], got $p")
  private val m = 1 << p
  override def children: Seq[Expression] = Seq(hash)
  override def checkInputDataTypes(): TypeCheckResult =
    hash.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_hll_regs_state requires a bigint hash input, got $t")
    }
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)
  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val h = hash.eval(input)
    if (h != null) HllRegs.observe(buf, h.asInstanceOf[Long], p)
    buf
  }
  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] =
    HllRegs.unionInto(buf, other)
  override def eval(buf: Array[Byte]): Any = buf
  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes
  override def withNewMutableAggBufferOffset(n: Int): HllRegsState =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): HllRegsState =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): HllRegsState = copy(hash = c(0))
  override def prettyName: String = "graft_hll_regs_state"
}

/** Union aggregate over persisted register states: element-wise max of
  * the binary buffers — associative and commutative, so ANY merge
  * order yields bit-identical registers (and therefore a bit-identical
  * estimate).
  */
case class HllRegsUnion(state: Expression, p: Int,
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {
  require(p >= 7 && p <= 16, s"graft_hll_regs_union: p in [7,16], got $p")
  private val m = 1 << p
  override def children: Seq[Expression] = Seq(state)
  override def checkInputDataTypes(): TypeCheckResult =
    state.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_hll_regs_union requires a binary state input, got $t")
    }
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)
  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val s = state.eval(input)
    if (s != null) {
      val arr = s.asInstanceOf[Array[Byte]]
      require(arr.length == m,
        s"graft_hll_regs_union: state has ${arr.length} registers, expected $m")
      HllRegs.unionInto(buf, arr)
    }
    buf
  }
  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] =
    HllRegs.unionInto(buf, other)
  override def eval(buf: Array[Byte]): Any = buf
  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes
  override def withNewMutableAggBufferOffset(n: Int): HllRegsUnion =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): HllRegsUnion =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): HllRegsUnion = copy(state = c(0))
  override def prettyName: String = "graft_hll_regs_union"
}

/** Scalar estimate over a persisted register state — the same rounded
  * value `HllRegs` (and the DuckDB oracle) computes. Evaluated once
  * per finalized GROUP row, so interpreted eval is fine here.
  */
case class HllEstimate(state: Expression, p: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(p >= 7 && p <= 16, s"graft_hll_est: p in [7,16], got $p")
  override def child: Expression = state
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    state.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_hll_est requires a binary state input, got $t")
    }
  override def nullSafeEval(s: Any): Any = {
    val arr = s.asInstanceOf[Array[Byte]]
    require(arr.length == (1 << p),
      s"graft_hll_est: state has ${arr.length} registers, expected ${1 << p}")
    HllRegs.estimateOf(arr, p)
  }
  override protected def withNewChildInternal(c: Expression): HllEstimate =
    copy(state = c)
  override def prettyName: String = "graft_hll_est"
}

object HllRegs {
  /** Fold one 60-bit hash into the register buffer. */
  private[plans] def observe(buf: Array[Byte], hv: Long, p: Int): Unit = {
    val m = 1 << p
    val maxRho = 61 - p
    val bucket = (hv & (m - 1)).toInt
    val w = hv >>> p
    // leading-rank: maxRho for an all-zero word, else maxRho - bitlen
    // (integer, no float log — mirrors `length(bin(w))` in SQL). hv is
    // 60-bit, so w < 2^(60-p) and rho >= 1: a 0 register uniquely
    // means EMPTY.
    val rho =
      if (w == 0L) maxRho
      else maxRho - (64 - java.lang.Long.numberOfLeadingZeros(w))
    if (rho > buf(bucket)) buf(bucket) = rho.toByte
  }

  /** Element-wise max merge; returns `buf`. */
  private[plans] def unionInto(buf: Array[Byte],
                               other: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < buf.length) { if (other(i) > buf(i)) buf(i) = other(i); i += 1 }
    buf
  }

  /** The estimate: integer register sum (empty register contributes
    * 2^maxRho), linear counting below 2.5m — identical branches and
    * arithmetic to PF.hllMd5, HALF_UP-rounded at 3 decimals (the
    * cross-engine ulp shield on the one ln/div that touches floats).
    */
  private[plans] def estimateOf(buf: Array[Byte], p: Int): Double = {
    val m = 1 << p
    val maxRho = 61 - p
    var s = 0L
    var v = 0L
    var i = 0
    while (i < m) {
      s += 1L << (maxRho - buf(i))
      if (buf(i) == 0) v += 1
      i += 1
    }
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val eRaw = alpha * m.toDouble * m.toDouble /
      (s.toDouble / math.pow(2.0, maxRho))
    val est =
      if (eRaw <= 2.5 * m && v > 0) m.toDouble * math.log(m.toDouble / v)
      else eRaw
    BigDecimal(est).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  private def h60Of(key: Column): Column =
    graft.ext.TextAnalysis.h60(org.apache.spark.sql.functions.concat(
      org.apache.spark.sql.functions.lit("hll:"),
      key.cast(StringType)))

  /** Approx distinct of `key` as a Column aggregate: hashes with the
    * engine's portable h60 ("hll:" domain prefix, like PF.hllMd5) and
    * estimates from 2^p registers. Requires the GraftExtensions
    * session.
    */
  def approxDistinctMd5(key: Column, p: Int = 12): Column =
    org.apache.spark.sql.functions.call_function("graft_hll_regs",
      h60Of(key), org.apache.spark.sql.functions.lit(p))

  /** The mergeable register STATE of `key`'s sketch (binary). */
  def stateMd5(key: Column, p: Int = 12): Column =
    org.apache.spark.sql.functions.call_function("graft_hll_regs_state",
      h60Of(key), org.apache.spark.sql.functions.lit(p))

  /** Union aggregate over persisted states. */
  def unionState(state: Column, p: Int = 12): Column =
    org.apache.spark.sql.functions.call_function("graft_hll_regs_union",
      state, org.apache.spark.sql.functions.lit(p))

  /** Scalar estimate of a persisted state. */
  def estimate(state: Column, p: Int = 12): Column =
    org.apache.spark.sql.functions.call_function("graft_hll_est",
      state, org.apache.spark.sql.functions.lit(p))

  private def litInt(e: Expression, fn: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
    case o => throw new IllegalArgumentException(
      s"$fn: p must be a literal int, got $o")
  }

  /** Registry builders: second argument must be a literal int p. */
  def fromArgs(exprs: Seq[Expression]): HllRegs = {
    require(exprs.length == 2, "graft_hll_regs(hash, p)")
    HllRegs(exprs.head, litInt(exprs(1), "graft_hll_regs"))
  }
  def stateFromArgs(exprs: Seq[Expression]): HllRegsState = {
    require(exprs.length == 2, "graft_hll_regs_state(hash, p)")
    HllRegsState(exprs.head, litInt(exprs(1), "graft_hll_regs_state"))
  }
  def unionFromArgs(exprs: Seq[Expression]): HllRegsUnion = {
    require(exprs.length == 2, "graft_hll_regs_union(state, p)")
    HllRegsUnion(exprs.head, litInt(exprs(1), "graft_hll_regs_union"))
  }
  def estFromArgs(exprs: Seq[Expression]): HllEstimate = {
    require(exprs.length == 2, "graft_hll_est(state, p)")
    HllEstimate(exprs.head, litInt(exprs(1), "graft_hll_est"))
  }
}
