package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The benchmark's in-memory model of a keyed table over keys [0, n):
  * rows (k, g = k mod Groups, v, seq), v integer-valued so every sum is
  * exact in a double. The keyed workloads check the engine against it.
  */
final class KeyedModel(val n: Int) {
  import KeyedModel._

  val alive = new Array[Boolean](n)
  val v = new Array[Long](n)
  val seq = new Array[Long](n)

  def copy(): KeyedModel = {
    val c = new KeyedModel(n)
    System.arraycopy(alive, 0, c.alive, 0, n)
    System.arraycopy(v, 0, c.v, 0, n)
    System.arraycopy(seq, 0, c.seq, 0, n)
    c
  }

  def put(k: Long, value: Long, stamp: Long): Unit = {
    val i = k.toInt
    alive(i) = true; v(i) = value; seq(i) = stamp
  }

  def remove(k: Long): Unit = alive(k.toInt) = false

  def liveCount: Int = alive.count(identity)

  /** g -> (row count, sum of v) over the live rows. */
  def groups: Map[Int, (Long, Long)] = {
    val cnt = new Array[Long](Groups)
    val sum = new Array[Long](Groups)
    var k = 0
    while (k < n) {
      if (alive(k)) { cnt(k % Groups) += 1; sum(k % Groups) += v(k) }
      k += 1
    }
    (0 until Groups).filter(cnt(_) > 0).map(g => g -> ((cnt(g), sum(g)))).toMap
  }

  /** (k, status) for every key whose row differs from `prev`'s. */
  def changesSince(prev: KeyedModel): Set[(Long, String)] =
    (0 until n).iterator.flatMap { k =>
      (prev.alive(k), alive(k)) match {
        case (false, true) => Some((k.toLong, "added"))
        case (true, false) => Some((k.toLong, "removed"))
        case (true, true) if prev.v(k) != v(k) || prev.seq(k) != seq(k) =>
          Some((k.toLong, "changed"))
        case _ => None
      }
    }.toSet

  /** The live rows among `keys` as (k, g, v, seq). */
  def rowsOf(keys: Iterable[Long]): Set[(Long, Int, Long, Long)] =
    keys.iterator.filter(k => alive(k.toInt))
      .map(k => (k, (k % Groups).toInt, v(k.toInt), seq(k.toInt))).toSet

  def allRows: Set[(Long, Int, Long, Long)] =
    rowsOf((0 until n).map(_.toLong))
}

object KeyedModel {
  val Groups = 23

  val Schema: StructType = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("g", IntegerType, nullable = false),
    StructField("v", DoubleType, nullable = false),
    StructField("seq", LongType, nullable = false)))

  /** A batch of rows (k, k mod Groups, v, stamp). */
  def frame(spark: SparkSession, keys: Array[Long], vals: Array[Long],
            stamp: Long): DataFrame =
    spark.createDataFrame(keys.indices.map(i => Row(keys(i),
      (keys(i) % Groups).toInt, vals(i).toDouble, stamp)).asJava, Schema)

  def keyFrame(spark: SparkSession, keys: Array[Long]): DataFrame =
    spark.createDataFrame(keys.toSeq.map(k => Row(k)).asJava,
      StructType(Seq(StructField("k", LongType, nullable = false))))

  /** Rows of a read as (k, g, v, seq). */
  def tuples(rows: Array[Row]): Seq[(Long, Int, Long, Long)] = rows.toSeq.map(r =>
    (r.getAs[Long]("k"), r.getAs[Int]("g"),
      r.getAs[Double]("v").toLong, r.getAs[Long]("seq")))

  /** Rows of a (g, count, sum) aggregate as g -> (count, sum). */
  def groupRows(rows: Array[Row], cnt: String, sum: String)
      : Map[Int, (Long, Long)] = rows.toSeq.map(r =>
    r.getAs[Int]("g") -> ((r.getAs[Number](cnt).longValue,
      r.getAs[Number](sum).doubleValue.toLong))).toMap

  /** (k, status) rows of a changelog. */
  def changeRows(rows: Array[Row]): Seq[(Long, String)] =
    rows.toSeq.map(r => (r.getAs[Long]("k"), r.getAs[String]("status")))
}
