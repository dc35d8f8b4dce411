package graftbench

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions.col

import graft.sources.{Maintenance => M, MatView}

/** `keyed_serve`: one reader, no writes after setup. Setup writes a
  * keyed table (zone maps on v), appends three delta levels that reach
  * every bucket (updates, inserts and tombstones), keeps all four
  * versions, and registers a bucket-grain MV at the head. The ops follow
  * `Cycle` (Zipf point lookups, key-pinned and range reads, full,
  * time-travel and MV-routed group-bys, a changelog), parameters drawn
  * from the seed. Every result is compared with the closed-form rows of
  * its version.
  */
final class KeyedServe(ctx: Ctx) extends Workload {
  import KeyedServe._

  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val zipf = new Gen.Zipf(Keys, 1.1, ctx.seed)
  private var dir, mvDir: String = _
  /** versions(i) = the model of table version i + 1. */
  private var versions: IndexedSeq[KeyedModel] = IndexedSeq.empty
  private var groupsAt: IndexedSeq[Map[Int, (Long, Long)]] = IndexedSeq.empty
  /** The head version's live rows, for range checks. */
  private var headRows: Array[(Long, Int, Long, Long)] = Array.empty
  private var last: Array[org.apache.spark.sql.Row] = _

  def build(d: String): Unit = {
    MatView.clear()
    dir = s"$d/table"; mvDir = s"$d/mv"
    val m = new KeyedModel(Keys)
    val init = (0L until Keys).filter(k =>
      Gen.below(Gen.hash(ctx.seed, 10, k), 20) != 0).toArray
    val vals = init.map(k => Gen.below(Gen.hash(ctx.seed, 11, k), VRange))
    init.indices.foreach(i => m.put(init(i), vals(i), 0L))
    M.writeKeyed(KeyedModel.frame(spark, init, vals, 0L), dir, Seq("k"),
      Buckets, statsCols = Seq("v"))
    val models = IndexedSeq.newBuilder[KeyedModel]
    models += m.copy()
    (1 to DeltaLevels).foreach { lvl =>
      val hs = (0L until Keys).map(k => k -> Gen.hash(ctx.seed, 20 + lvl, k))
      val ups = hs.filter(h => Gen.below(h._2, 12) == 0).map(_._1).toArray
      val tombs = hs.filter(h => Gen.below(h._2, 50) == 1).map(_._1).toArray
      val uv = ups.map(k => Gen.below(Gen.hash(ctx.seed, 30 + lvl, k), VRange))
      M.appendDeltaKeyedCols(spark, dir,
        KeyedModel.frame(spark, ups, uv, lvl.toLong), Seq("k"), Buckets,
        tombstoneKeys = Some(KeyedModel.keyFrame(spark, tombs)))
      ups.indices.foreach(i => m.put(ups(i), uv(i), lvl.toLong))
      tombs.foreach(m.remove)
      models += m.copy()
    }
    MatView.buildMv(spark, dir, mvDir, Seq("g"), Seq("v"), MvBuckets,
      floatSums = true)
    versions = models.result()
    groupsAt = versions.map(_.groups)
    headRows = versions.last.allRows.toArray
  }

  /** The last nine slots of `Cycle`, which hold every kind. */
  def warmupOps: Int = 9

  def op(i: Int): Op = {
    val r = Gen.rng(ctx.seed, 12, i)
    val head = DeltaLevels + 1
    def range(): (Long, Long) = {
      val lo = r.nextLong(VRange - RangeWidth); (lo, lo + RangeWidth)
    }
    Cycle(Math.floorMod(i, Cycle.length)) match {
      case "lookup" =>
        // 1–100 keys, log-uniform
        Lookup(zipf.keys(r, math.pow(100, r.nextDouble()).toInt.max(1)))
      case "where_keys" => WhereKeys(zipf.keys(r, 1 + r.nextInt(20)))
      case "where_range" => val (lo, hi) = range(); WhereRange(lo, hi)
      case "zone_range" => val (lo, hi) = range(); ZoneRange(lo, hi)
      case "groupby" => GroupBy(head)
      case "time_travel" => TimeTravel(1 + r.nextInt(head - 1))
      case "changes" =>
        val a = 1 + r.nextInt(head - 1); Changes(a, a + 1)
      case "mv_route" => MvRoute()
    }
  }

  private def readPlan[T](body: => T): T = tr.span("sources", "read_plan")(body)

  def run(o: Op): Long = {
    last = o match {
      case Lookup(ks) => readPlan(M.lookupKeyed(spark, dir, ks.toSeq)).collect()
      case WhereKeys(ks) =>
        readPlan(M.readKeyedWhere(spark, dir, col("k").isin(ks.toSeq: _*)))
          .collect()
      case WhereRange(lo, hi) =>
        readPlan(M.readKeyedWhere(spark, dir,
          col("v").between(lo.toDouble, hi.toDouble))).collect()
      case ZoneRange(lo, hi) =>
        readPlan(M.readKeyedRange(spark, dir, "v", lo.toDouble, hi.toDouble))
          .collect()
      case GroupBy(_) => groupBy(readPlan(M.readKeyed(spark, dir)))
      case TimeTravel(v) =>
        groupBy(readPlan(M.readKeyed(spark, dir, Some(v))))
      case Changes(a, b) =>
        tr.span("sources", "changes")(M.keyedChanges(spark, dir, a, b).collect())
      case MvRoute() =>
        tr.span("sources", "route")(MatView.route(spark, dir, Seq(("g", "g")),
          Seq(("cnt", "count", None), ("sv", "sum", Some("v")))))
          .getOrElse(throw new IllegalStateException("MV route missed"))
          .collect()
    }
    last.length.toLong
  }

  private def groupBy(df: org.apache.spark.sql.DataFrame) =
    df.groupBy("g").agg(F.count(F.lit(1)).as("cnt"), F.sum("v").as("sv"))
      .collect()

  def check(o: Op): Boolean = {
    val head = versions.last
    def rows(want: Iterable[(Long, Int, Long, Long)]) =
      KeyedModel.tuples(last).sorted == want.toSeq.sorted
    def inRange(lo: Long, hi: Long) =
      headRows.filter(t => t._3 >= lo && t._3 <= hi)
    o match {
      case Lookup(ks) => rows(head.rowsOf(ks))
      case WhereKeys(ks) => rows(head.rowsOf(ks))
      case WhereRange(lo, hi) => rows(inRange(lo, hi))
      case ZoneRange(lo, hi) => rows(inRange(lo, hi))
      case GroupBy(v) =>
        KeyedModel.groupRows(last, "cnt", "sv") == groupsAt(v - 1)
      case TimeTravel(v) =>
        KeyedModel.groupRows(last, "cnt", "sv") == groupsAt(v - 1)
      case Changes(a, b) =>
        val got = KeyedModel.changeRows(last)
        got.length == got.toSet.size &&
          got.toSet == versions(b - 1).changesSince(versions(a - 1))
      case MvRoute() =>
        KeyedModel.groupRows(last, "cnt", "sv") == groupsAt.last
    }
  }

  def finish(): Seq[String] = Nil

  def spaceAmp(): Double = {
    val once = s"$dir.once"
    val onceMv = s"$mvDir.once"
    M.writeKeyed(M.readKeyed(spark, dir).drop("kb"), once, Seq("k"), Buckets,
      statsCols = Seq("v"))
    MatView.buildMv(spark, once, onceMv, Seq("g"), Seq("v"), MvBuckets,
      floatSums = true)
    val onceBytes = M.dirBytes(spark, once) + M.dirBytes(spark, onceMv)
    MatView.unregister(spark, onceMv)
    storedBytes().toDouble / onceBytes
  }

  private def storedBytes(): Long =
    M.dirBytes(spark, dir) + M.dirBytes(spark, mvDir)

  def finalLayerFacts(): Map[String, Double] = Map(
    "versions" -> M.manifestVersions(spark, dir).length.toDouble,
    "stored_bytes" -> storedBytes().toDouble)
}

object KeyedServe {
  val Keys = 50000
  val Buckets = 16
  val MvBuckets = 8
  val DeltaLevels = 3
  val VRange = 1000000L
  /** ≈0.2% of v's range: a few hundred rows per range read. */
  val RangeWidth = 2000L

  /** Twenty ops in a fixed order: six lookups, three key-pinned and two
    * range `readKeyedWhere`s, two zone-map ranges, two full group-bys,
    * two time-travel group-bys, one changelog, two MV-routed group-bys.
    */
  val Cycle: IndexedSeq[String] = IndexedSeq(
    "lookup", "where_keys", "groupby", "lookup", "zone_range", "mv_route",
    "lookup", "where_range", "time_travel", "lookup",
    "where_keys", "zone_range", "lookup", "changes", "groupby", "where_keys",
    "mv_route", "lookup", "where_range", "time_travel")

  sealed trait ServeOp extends Op
  final case class Lookup(keys: Array[Long]) extends ServeOp {
    def kind = "lookup"; def text = s"lookup|${keys.mkString(",")}"
  }
  final case class WhereKeys(keys: Array[Long]) extends ServeOp {
    def kind = "where_keys"; def text = s"where_keys|${keys.mkString(",")}"
  }
  final case class WhereRange(lo: Long, hi: Long) extends ServeOp {
    def kind = "where_range"; def text = s"where_range|$lo|$hi"
  }
  final case class ZoneRange(lo: Long, hi: Long) extends ServeOp {
    def kind = "zone_range"; def text = s"zone_range|$lo|$hi"
  }
  final case class GroupBy(version: Int) extends ServeOp {
    def kind = "groupby"; def text = s"groupby|$version"
  }
  final case class TimeTravel(version: Int) extends ServeOp {
    def kind = "time_travel"; def text = s"time_travel|$version"
  }
  final case class Changes(from: Int, to: Int) extends ServeOp {
    def kind = "changes"; def text = s"changes|$from|$to"
  }
  final case class MvRoute() extends ServeOp {
    def kind = "mv_route"; def text = "mv_route"
  }
}
