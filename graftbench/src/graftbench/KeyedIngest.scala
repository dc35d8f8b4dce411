package graftbench

import org.apache.spark.sql.functions.{col, lit}

import graft.sources.{Maintenance => M, MatView}
import graft.streaming.Streams

/** `keyed_ingest`: one writer on a bucketed keyed table whose rows carry
  * a `seq` stamp (the op that last wrote them), with a bucket-grain
  * incremental MV (count and sum of v per g) and a registered CDC
  * cursor. Keys follow a seeded Zipf law; batches are tens of rows, one
  * in each eight-op cycle a thousand. A cycle runs a copy-on-write
  * upsert, a merge-on-read delta append (with tombstones), a predicate
  * delete, a large upsert, a delta update, an incremental MV refresh, a
  * CDC poll + cursor commit, and a maintenance pass (`maintainKeyed`,
  * which folds delta chains, then vacuum).
  *
  * The stamp is a data column, not the table's resolving sequence
  * column: the engine refuses copy-on-write upserts and predicate
  * deletes on sequence-resolved tables.
  */
final class KeyedIngest(ctx: Ctx) extends Workload {
  import KeyedIngest._
  import KeyedModel.{frame, keyFrame}

  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val zipf = new Gen.Zipf(Keys, 1.1, ctx.seed)
  private var dir, mvDir, cursor: String = _
  private var model: KeyedModel = _
  /** The model as of the last version the CDC consumer polled. */
  private var polledModel: KeyedModel = _
  /** The CDC consumer's replica: the live key set built from polls. */
  private var replica: java.util.BitSet = _
  private var lastCount = 0L
  private var lastPoll: Seq[(Long, String)] = Nil
  private var timedRowsPolled = 0L
  private var timedUserRows = 0L
  /** Stored bytes of table + MV after each timed op. */
  private val storedAfterOp = scala.collection.mutable.ArrayBuffer[Long]()

  def build(d: String): Unit = {
    MatView.clear()
    dir = s"$d/table"; mvDir = s"$d/mv"
    cursor = M.registeredCursorPath(dir, "bench_consumer")
    model = new KeyedModel(Keys)
    val init = (0L until Keys).filter(k =>
      Gen.below(Gen.hash(ctx.seed, 3, k), 10) != 0).toArray
    val vals = init.map(k => Gen.below(Gen.hash(ctx.seed, 4, k), 1000000))
    init.indices.foreach(i => model.put(init(i), vals(i), 0L))
    M.writeKeyed(frame(spark, init, vals, 0L), dir, Seq("k"), Buckets)
    MatView.buildMv(spark, dir, mvDir, Seq("g"), Seq("v"), MvBuckets,
      floatSums = true)
    // the consumer's initial load: the whole snapshot as 'added'
    val (df, _, to) = Streams.pollKeyedChanges(spark, dir, cursor).get
    replica = new java.util.BitSet(Keys)
    KeyedModel.changeRows(df.collect()).foreach(r => replica.set(r._1.toInt))
    Streams.commitChangeCursor(spark, cursor, to)
    polledModel = model.copy()
    timedRowsPolled = 0L
    timedUserRows = 0L
    storedAfterOp.clear()
  }

  def warmupOps: Int = Cycle.length

  def op(i: Int): Op = {
    val r = Gen.rng(ctx.seed, 5, i)
    val stamp = 1000000L + i
    def values(n: Int) = Array.fill(n)(r.nextLong(1000000))
    Cycle(Math.floorMod(i, Cycle.length)) match {
      case "upsert" =>
        val ks = zipf.keys(r, SmallBatch); Upsert(i, ks, values(ks.length), stamp)
      case "upsert_large" =>
        val ks = zipf.keys(r, LargeBatch); Upsert(i, ks, values(ks.length), stamp)
      case "append" =>
        val (tombs, ups) = zipf.keys(r, DeltaBatch).splitAt(DeltaBatch / 8)
        Append(i, ups, values(ups.length), tombs, stamp)
      case "delete_where" => DeleteWhere(i, zipf.keys(r, DeleteKeys))
      case "update_delta" =>
        UpdateDelta(i, zipf.keys(r, UpdateKeys), 1 + r.nextInt(9), stamp)
      case "refresh_mv" => Refresh(i)
      case "poll_cdc" => Poll(i)
      case "maintain" => Maintain(i)
    }
  }

  def run(o: Op): Long = o match {
    case Upsert(_, ks, vs, s) =>
      tr.span("sources", "commit")(
        M.upsertKeyed(spark, dir, frame(spark, ks, vs, s), Seq("k"), Buckets))
      ks.length
    case Append(_, ks, vs, tombs, s) =>
      tr.span("sources", "commit")(
        M.appendDeltaKeyedCols(spark, dir, frame(spark, ks, vs, s), Seq("k"),
          Buckets, tombstoneKeys = Some(keyFrame(spark, tombs))))
      ks.length + tombs.length
    case DeleteWhere(_, ks) =>
      lastCount = tr.span("sources", "commit")(
        M.deleteKeyedWhere(spark, dir, col("k").isin(ks.toSeq: _*)))
      lastCount
    case UpdateDelta(_, ks, dv, s) =>
      lastCount = tr.span("sources", "commit")(
        M.updateKeyedWhereDelta(spark, dir, col("k").isin(ks.toSeq: _*),
          Seq("v" -> (col("v") + dv), "seq" -> lit(s))))
      lastCount
    case Refresh(_) =>
      tr.span("sources", "refresh")(MatView.refreshMvIncremental(spark, mvDir))
      0L
    case Poll(_) =>
      tr.span("streaming", "poll") {
        Streams.pollKeyedChanges(spark, dir, cursor) match {
          case Some((df, _, to)) =>
            lastPoll = KeyedModel.changeRows(df.collect())
            Streams.commitChangeCursor(spark, cursor, to)
          case None => lastPoll = Nil
        }
      }
      0L
    case Maintain(_) =>
      tr.span("sources", "maintain") {
        M.maintainKeyed(spark, dir, TargetBytes, minChain = 2)
        vacuum()
      }
      0L
  }

  /** Apply `o` to the model and compare what the engine returned. */
  def check(o: Op): Boolean = {
    val timed = o.asInstanceOf[IngestOp].i >= 0
    if (timed) storedAfterOp += storedBytes()
    o match {
      case Upsert(_, ks, vs, s) =>
        ks.indices.foreach(j => model.put(ks(j), vs(j), s))
        if (timed) timedUserRows += ks.length
        true
      case Append(_, ks, vs, tombs, s) =>
        ks.indices.foreach(j => model.put(ks(j), vs(j), s))
        tombs.foreach(model.remove)
        if (timed) timedUserRows += ks.length + tombs.length
        true
      case DeleteWhere(_, ks) =>
        val want = ks.count(k => model.alive(k.toInt))
        ks.foreach(model.remove)
        if (timed) timedUserRows += want
        lastCount == want
      case UpdateDelta(_, ks, dv, s) =>
        val hit = ks.filter(k => model.alive(k.toInt))
        hit.foreach(k => model.put(k, model.v(k.toInt) + dv, s))
        if (timed) timedUserRows += hit.length
        lastCount == hit.length
      case Refresh(_) => mvMatchesModel()
      case Poll(_) =>
        if (timed) timedRowsPolled += lastPoll.length
        pollMatchesModel()
      case Maintain(_) => true
    }
  }

  /** The poll's changelog must equal the model's changes since the last
    * poll, and folding it into the replica must apply each change
    * exactly once.
    */
  private def pollMatchesModel(): Boolean = {
    val want = model.changesSince(polledModel)
    val ok = lastPoll.length == want.size && lastPoll.toSet == want &&
      lastPoll.forall { case (k, st) =>
        val had = replica.get(k.toInt)
        st match {
          case "added" => !had
          case "removed" | "changed" => had
          case _ => false
        }
      }
    lastPoll.foreach {
      case (k, "added") => replica.set(k.toInt)
      case (k, "removed") => replica.clear(k.toInt)
      case _ =>
    }
    polledModel = model.copy()
    ok
  }

  private def mvMatchesModel(): Boolean =
    KeyedModel.groupRows(MatView.readMv(spark, mvDir).collect(), "n",
      "total") == model.groups

  private def vacuum(): Unit = {
    M.vacuumKeyed(spark, dir, keepVersions = KeepVersions, graceMs = 0L)
    M.vacuumKeyed(spark, mvDir, keepVersions = KeepVersions, graceMs = 0L)
  }

  /** Catches the consumer and the view up, then checks the final state
    * against the model.
    */
  def finish(): Seq[String] = {
    val fails = Seq.newBuilder[String]
    run(Poll(Int.MaxValue))
    if (!pollMatchesModel()) fails += "final CDC poll differs from the model"
    run(Refresh(Int.MaxValue))
    if (!mvMatchesModel()) fails += "MV differs from the model"
    val snap = M.readKeyed(spark, dir).collect()
    val got = KeyedModel.tuples(snap)
    if (got.length != got.toSet.size || got.toSet != model.allRows)
      fails += s"final snapshot (${got.length} rows) differs from the " +
        s"model (${model.liveCount} rows)"
    val replicaKeys = (0 until Keys).filter(replica.get).map(_.toLong).toSet
    if (replicaKeys != model.allRows.map(_._1))
      fails += "CDC replica differs from the model"
    val snapGroups = got.groupBy(_._2).map { case (g, rs) =>
      g -> ((rs.length.toLong, rs.map(_._3).sum)) }
    if (KeyedModel.groupRows(MatView.readMv(spark, mvDir).collect(), "n",
        "total") != snapGroups)
      fails += "MV differs from a group-by of the snapshot"
    fails.result()
  }

  private def storedBytes(): Long =
    M.dirBytes(spark, dir) + M.dirBytes(spark, mvDir)

  /** The stored bytes the table and MV carried after each timed op, on
    * average, ÷ the final snapshot and its MV written once. Averaging
    * over the run keeps the figure from depending on whether the last
    * op happened to be a vacuum.
    */
  def spaceAmp(): Double = {
    val once = s"$dir.once"
    val onceMv = s"$mvDir.once"
    M.writeKeyed(M.readKeyed(spark, dir).drop("kb"), once, Seq("k"), Buckets)
    MatView.buildMv(spark, once, onceMv, Seq("g"), Seq("v"), MvBuckets,
      floatSums = true)
    val onceBytes = M.dirBytes(spark, once) + M.dirBytes(spark, onceMv)
    MatView.unregister(spark, onceMv)
    storedAfterOp.sum.toDouble / storedAfterOp.length.max(1) / onceBytes
  }

  def finalLayerFacts(): Map[String, Double] = Map(
    "versions" -> M.manifestVersions(spark, dir).length.toDouble,
    "stored_bytes" -> storedBytes().toDouble,
    "rows_polled" -> timedRowsPolled.toDouble,
    "user_bytes" -> timedUserRows.toDouble * RowBytes)
}

object KeyedIngest {
  val Keys = 50000
  val Buckets = 16
  val MvBuckets = 8
  val SmallBatch = 60
  val DeltaBatch = 96
  val DeleteKeys = 20
  val UpdateKeys = 40
  val LargeBatch = 1000
  val KeepVersions = 4
  val TargetBytes: Long = 64L << 20
  /** Bytes of one user row as the caller sees it: k, v, seq (8 each)
    * and g (4).
    */
  val RowBytes = 28

  /** Eight ops in a fixed order; batch sizes are fixed, keys and values
    * come from the seed.
    */
  val Cycle: IndexedSeq[String] = IndexedSeq(
    "upsert", "append", "delete_where", "upsert_large", "update_delta",
    "refresh_mv", "poll_cdc", "maintain")

  sealed trait IngestOp extends Op {
    def i: Int
    def text: String = s"$kind|$i|$params"
    protected def params: String
  }
  final case class Upsert(i: Int, keys: Array[Long], vals: Array[Long],
                          stamp: Long) extends IngestOp {
    def kind = "upsert"
    def params = s"$stamp|${keys.mkString(",")}|${vals.mkString(",")}"
  }
  final case class Append(i: Int, keys: Array[Long], vals: Array[Long],
                          tombs: Array[Long], stamp: Long) extends IngestOp {
    def kind = "append_delta"
    def params =
      s"$stamp|${keys.mkString(",")}|${vals.mkString(",")}|${tombs.mkString(",")}"
  }
  final case class DeleteWhere(i: Int, keys: Array[Long]) extends IngestOp {
    def kind = "delete_where"
    def params = keys.mkString(",")
  }
  final case class UpdateDelta(i: Int, keys: Array[Long], dv: Int,
                               stamp: Long) extends IngestOp {
    def kind = "update_delta"
    def params = s"$stamp|$dv|${keys.mkString(",")}"
  }
  final case class Refresh(i: Int) extends IngestOp {
    def kind = "refresh_mv"
    def params = ""
  }
  final case class Poll(i: Int) extends IngestOp {
    def kind = "poll_cdc"
    def params = ""
  }
  final case class Maintain(i: Int) extends IngestOp {
    def kind = "maintain"
    def params = ""
  }
}
