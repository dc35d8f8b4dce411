package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types._

/** Argmax buffer: the single input row (as a struct value) whose
  * ordering key is the group's maximum. One value + one key per group —
  * the bounded-state replacement for the sort-based
  * `row_number().over(partitionBy(key).orderBy(ord desc)) = 1` pattern
  * on the keyed-table resolution paths: a window must SORT every
  * partition to number rows it then throws away; this reduction keeps
  * exactly one candidate per group and, being an aggregate, gets
  * map-side partial reduction before the exchange (a window gets none).
  */
final class TopRowBuf {
  var ord: Any = null // non-null iff a candidate has been seen
  var value: Any = null // the winning struct (InternalRow), may be null
}

/** `graft_top_row(ord, value)`: the `value` of the row with the
  * group-maximum `ord`, skipping rows whose `ord` is NULL (so a caller
  * can route sides of a tagged union through separate top-rows via
  * `when(side = i, ord)`). NULL ordering inside a struct `ord` follows
  * Spark's interpreted row ordering (null smallest) — a null sequence
  * field loses to any stamped one, exactly the window's
  * `desc_nulls_last`. Ties keep the first candidate encountered; the
  * callers' contracts (unique keys per delta level, unique (seq, prec)
  * per key) make ties impossible on the resolution paths.
  */
case class TopRow(ordExpr: Expression, valExpr: Expression,
                  mutableAggBufferOffset: Int = 0,
                  inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopRowBuf] {

  override def children: Seq[Expression] = Seq(ordExpr, valExpr)

  override def checkInputDataTypes(): TypeCheckResult =
    TypeUtils.checkForOrderingExpr(ordExpr.dataType, prettyName)

  override def nullable: Boolean = true
  override def dataType: DataType = valExpr.dataType

  @transient private lazy val ordering =
    TypeUtils.getInterpretedOrdering(ordExpr.dataType)
  @transient private lazy val serProj =
    UnsafeProjection.create(Array(ordExpr.dataType, valExpr.dataType))

  override def createAggregationBuffer(): TopRowBuf = new TopRowBuf

  override def update(buf: TopRowBuf, input: InternalRow): TopRowBuf = {
    val o = ordExpr.eval(input)
    if (o != null &&
        (buf.ord == null || ordering.compare(o, buf.ord) > 0)) {
      // deep copies: eval results may point into a reused row buffer
      buf.ord = InternalRow.copyValue(o)
      buf.value = InternalRow.copyValue(valExpr.eval(input))
    }
    buf
  }

  override def merge(buf: TopRowBuf, other: TopRowBuf): TopRowBuf = {
    if (other.ord != null &&
        (buf.ord == null || ordering.compare(other.ord, buf.ord) > 0)) {
      buf.ord = other.ord
      buf.value = other.value
    }
    buf
  }

  override def eval(buf: TopRowBuf): Any = buf.value

  // the projection reuses one output buffer, and UnsafeRow.getBytes
  // hands that buffer back whenever it is exactly full — copy first so
  // a later serialize never rewrites bytes already returned
  override def serialize(buf: TopRowBuf): Array[Byte] =
    if (buf.ord == null) Array.emptyByteArray
    else serProj(new GenericInternalRow(Array[Any](buf.ord, buf.value)))
      .copy().getBytes

  override def deserialize(bytes: Array[Byte]): TopRowBuf = {
    val buf = new TopRowBuf
    if (bytes.nonEmpty) {
      val row = new UnsafeRow(2)
      row.pointTo(bytes, bytes.length)
      // copy out of the byte array so the buffer owns its values
      buf.ord = InternalRow.copyValue(row.get(0, ordExpr.dataType))
      buf.value = InternalRow.copyValue(row.get(1, valExpr.dataType))
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopRow =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopRow =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopRow =
    copy(ordExpr = newChildren(0), valExpr = newChildren(1))

  override def prettyName: String = "graft_top_row"
}

object TopRow {
  private val fn = FunctionIdentifier("graft_top_row")

  /** `topRow(ord, value)` as a Column aggregate. Sessions built with
    * `spark.sql.extensions=graft.plans.GraftExtensions` already have
    * `graft_top_row`; on any other session the function is registered
    * in that session's registry on first use.
    */
  def topRow(spark: SparkSession, ord: Column, value: Column): Column = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(fn))
      registry.registerFunction(fn,
        new ExpressionInfo(classOf[TopRow].getName, fn.funcName),
        (exprs: Seq[Expression]) => fromArgs(exprs))
    org.apache.spark.sql.functions.call_function(fn.funcName, ord, value)
  }

  def fromArgs(exprs: Seq[Expression]): TopRow = {
    require(exprs.length == 2, "graft_top_row(ord, value)")
    TopRow(exprs.head, exprs(1))
  }
}
