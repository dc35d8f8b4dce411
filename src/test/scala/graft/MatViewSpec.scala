package graft

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions.{col, lit}

/** Materialized-view routing: a covered group-by over a keyed table's
  * pristine snapshot answers from the registered agg state (base files
  * never open); stale / uncovered / computed-key shapes fall back to
  * the scan plan; refresh re-arms the watermark.
  */
class MatViewSpec extends SparkSpec {
  private val M = graft.sources.Maintenance
  private val MV = graft.sources.MatView

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private def mkBase(n: Int, withNulls: Boolean = false) = {
    val v0 = (col("id") % 997).cast("double")
    spark.range(0, n).select(
      col("id").as("k"),
      (col("id") % 7).as("g"),
      (if (withNulls) F.when(col("id") % 5 === 0, lit(null)).otherwise(v0)
       else v0).as("v"),
      (col("id") % 13).as("w"))
  }

  test("routed group-by reads ONLY the state; rows equal the scan plan") {
    val bdir = tmp("mv_base"); val mdir = tmp("mv_state")
    val base = mkBase(5000)
    M.writeKeyed(base, bdir, "k", 8)
    M.buildAggStateKeyedCols(M.readKeyed(spark, bdir), mdir, Seq("g"),
      Seq("v", "w"), nBuckets = 4)
    MV.register(spark, mdir, bdir, Seq("v", "w"), floatSums = true)
    val routed = MV.route(spark, bdir, Seq(("grp", "g")), Seq(
      ("n", "count", None), ("nv", "countv", Some("v")),
      ("sv", "sum", Some("v")), ("mv", "mean", Some("v")),
      ("lo", "min", Some("v")), ("hi", "max", Some("v")),
      ("sw", "sum", Some("w"))))
    assert(routed.isDefined, "covered group-by did not route")
    val df = routed.get
    // plan guard: every input file is the STATE's; none is the base's
    assert(df.inputFiles.nonEmpty &&
      df.inputFiles.forall(_.contains(mdir.split("/").last)))
    assert(!df.inputFiles.exists(_.contains(bdir.split("/").last)))
    val expect = base.groupBy(col("g").as("grp")).agg(
      F.count(lit(1)).as("n"), F.count(col("v")).as("nv"),
      F.sum(col("v")).as("sv"), F.avg(col("v")).as("mv"),
      F.min(col("v")).as("lo"), F.max(col("v")).as("hi"),
      F.sum(col("w")).as("sw"))
    val a = df.orderBy("grp").collect()
    val b = expect.orderBy("grp").collect()
    assert(a.length == b.length && a.length == 7)
    a.zip(b).foreach { case (x, y) =>
      assert(x.getLong(0) == y.getLong(0))
      assert(x.getLong(1) == y.getLong(1)) // n
      assert(x.getLong(2) == y.getLong(2)) // nv
      assert(math.abs(x.getDouble(3) - y.getDouble(3)) < 1e-6) // sv
      assert(math.abs(x.getDouble(4) - y.getDouble(4)) < 1e-9) // mv
      assert(x.getDouble(5) == y.getDouble(5)) // lo
      assert(x.getDouble(6) == y.getDouble(6)) // hi
      assert(x.getLong(7) == y.getLong(7)) // sw: integral sum stays long
    }
  }

  test("mean routes through the NON-null count (null-carrying measure)") {
    val bdir = tmp("mv_nb"); val mdir = tmp("mv_ns")
    val base = mkBase(3000, withNulls = true)
    M.writeKeyed(base, bdir, "k", 8)
    M.buildAggStateKeyed(M.readKeyed(spark, bdir), mdir, Seq("g"), "v", 4)
    MV.register(spark, mdir, bdir, Seq("v"), floatSums = true)
    val routed = MV.route(spark, bdir, Seq(("g", "g")),
      Seq(("m", "mean", Some("v")), ("nv", "countv", Some("v")))).get
    val expect = base.groupBy("g")
      .agg(F.avg(col("v")).as("m"), F.count(col("v")).as("nv"))
    routed.orderBy("g").collect().zip(expect.orderBy("g").collect())
      .foreach { case (x, y) =>
        assert(x.getLong(2) == y.getLong(2))
        assert(math.abs(x.getDouble(1) - y.getDouble(1)) < 1e-9,
          s"routed mean ${x.getDouble(1)} != avg ${y.getDouble(1)}")
      }
  }

  test("stale view never answers; refreshed() re-arms after a merge") {
    val bdir = tmp("mv_sb"); val mdir = tmp("mv_ss")
    val base = mkBase(2000)
    M.writeKeyed(base, bdir, "k", 8)
    M.buildAggStateKeyed(M.readKeyed(spark, bdir), mdir, Seq("g"), "v", 4)
    MV.register(spark, mdir, bdir, Seq("v"))
    val q = Seq(("g", "g")) -> Seq(("n", "count", None: Option[String]))
    assert(MV.route(spark, bdir, q._1, q._2).isDefined)
    // the base moves past the watermark -> no route (never a guess)
    val batch = spark.range(100000000L, 100000100L).select(
      col("id").as("k"), (col("id") % 7).as("g"),
      lit(1.0).as("v"), lit(0L).as("w"))
    M.upsertKeyed(spark, bdir, batch, "k", 8)
    assert(MV.route(spark, bdir, q._1, q._2).isEmpty,
      "stale view must not route")
    // fold the same batch into the state, re-arm, route again — and
    // the routed counts now include the merged rows
    M.mergeAggStateKeyed(spark, mdir, batch, Seq("g"), "v")
    MV.refreshed(spark, mdir)
    val again = MV.route(spark, bdir, q._1, q._2)
    assert(again.isDefined, "refreshed view must route")
    val total = again.get.agg(F.sum("n")).head.getLong(0)
    assert(total == 2100L, s"routed counts missed the merged batch: $total")
  }

  test("uncovered shapes fall back: foreign measure, missing key, dup names") {
    val bdir = tmp("mv_ub"); val mdir = tmp("mv_us")
    val base = mkBase(1000)
    M.writeKeyed(base, bdir, "k", 8)
    M.buildAggStateKeyed(M.readKeyed(spark, bdir), mdir, Seq("g"), "v", 4)
    MV.register(spark, mdir, bdir, Seq("v"))
    // w is not a tracked measure
    assert(MV.route(spark, bdir, Seq(("g", "g")),
      Seq(("s", "sum", Some("w")))).isEmpty)
    // wrong grain
    assert(MV.route(spark, bdir, Seq(("w", "w")),
      Seq(("n", "count", None))).isEmpty)
    // duplicate output names
    assert(MV.route(spark, bdir, Seq(("x", "g")),
      Seq(("x", "count", None))).isEmpty)
    // unknown op
    assert(MV.route(spark, bdir, Seq(("g", "g")),
      Seq(("s", "stddev", Some("v")))).isEmpty)
    // the kill switch: routing off -> every query scans, registrations
    // untouched
    val ok = Seq(("g", "g")) -> Seq(("n", "count", None: Option[String]))
    assert(MV.route(spark, bdir, ok._1, ok._2).isDefined)
    withConfs("spark.graft.mv.routing" -> "false") {
      assert(MV.route(spark, bdir, ok._1, ok._2).isEmpty)
      assert(MV.routeGlobal(spark, bdir, ok._2).isEmpty)
    }
    assert(MV.route(spark, bdir, ok._1, ok._2).isDefined)
  }

  test("language group-by over read_keyed routes (plan-guarded) and falls back when stale") {
    val bdir = tmp("mv_lb"); val mdir = tmp("mv_ls")
    val base = mkBase(4000)
    val pt = graft.dsl.PTable(base)
    val routedDf = graft.lang.Interp.run(spark,
      s"""w = write_keyed(src, "$bdir", "k", 8)
         |st = build_agg_state_keyed(read_keyed("$bdir"), "g", "v",
         |       "$mdir", 4)
         |r = register_mv("$mdir", "$bdir", "v", "", true)
         |t = read_keyed("$bdir")
         |t {g => n: count(), total: sum(v), m: mean(v)}
         |""".stripMargin, "src" -> pt).df
    assert(routedDf.inputFiles.nonEmpty &&
      !routedDf.inputFiles.exists(_.contains(bdir.split("/").last)),
      "language group-by did not route onto the state")
    val expect = base.groupBy("g").agg(
      F.count(lit(1)).as("n"),
      F.sum(col("v").cast("decimal(28,2)")).cast("double").as("total"),
      F.avg(col("v")).as("m"))
    routedDf.orderBy("g").collect().zip(expect.orderBy("g").collect())
      .foreach { case (x, y) =>
        assert(x.getLong(1) == y.getLong(1))
        assert(math.abs(x.getDouble(2) - y.getDouble(2)) < 1e-6)
        assert(math.abs(x.getDouble(3) - y.getDouble(3)) < 1e-9)
      }
    // a base upsert STALES the registration: the same language query
    // now scans the base (and sees the new rows)
    val batch = spark.range(200000000L, 200000070L).select(
      col("id").as("k"), lit(0L).as("g"), lit(2.5).as("v"),
      lit(0L).as("w"))
    M.upsertKeyed(spark, bdir, batch, "k", 8)
    val fresh = graft.lang.Interp.run(spark,
      s"""t = read_keyed("$bdir")
         |t {g => n: count()}
         |""".stripMargin, "src" -> pt).df
    assert(fresh.inputFiles.exists(_.contains(bdir.split("/").last)),
      "stale view must fall back to the base scan")
    assert(fresh.agg(F.sum("n")).head.getLong(0) == 4070L)
  }

  test("agg-state CDC: tailed view deltas fold to the head's finalized view") {
    val dir = tmp("mv_cdc"); val cur = dir + "/.cursor"
    val base = mkBase(3000)
    M.buildAggStateKeyed(base.filter(col("k") % 3 =!= 0), dir,
      Seq("g"), "v", 4)
    // downstream consumer state: g -> (n, total); apply new, retract old
    var state = Map.empty[Long, (Long, Double)]
    def fold(df: org.apache.spark.sql.DataFrame): Unit =
      df.collect().foreach { r =>
        val g = r.getLong(r.fieldIndex("g"))
        if (r.getString(r.fieldIndex("status")) == "removed") state -= g
        else state += g -> (r.getLong(r.fieldIndex("n")),
          r.getDouble(r.fieldIndex("total")))
      }
    // initial load (whole view as 'added'), a CoW refresh, a DELTA
    // refresh — each polled and folded
    assert(tailChanges(dir, cur)((df, _, _) => fold(df)))
    M.mergeAggStateKeyed(spark, dir,
      base.filter(col("k") % 3 === 0), Seq("g"), "v")
    assert(tailChanges(dir, cur)((df, _, _) => fold(df)))
    M.mergeAggStateKeyed(spark, dir,
      base.filter(col("k") % 11 === 0)
        .select(col("k"), col("g"), lit(7.0).as("v"), col("w")),
      Seq("g"), "v", asDeltas = true)
    assert(tailChanges(dir, cur)((df, _, _) => fold(df)))
    assert(!tailChanges(dir, cur)((_, _, _) => ()),
      "up-to-date consumer must not see a batch")
    val head = M.finalizeAgg(M.readKeyed(spark, dir), Seq("g"))
      .select("g", "n", "total").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(state == head,
      s"folded consumer state diverged:\n$state\nvs head\n$head")
  }

  test("approx_count_distinct: routed estimate is BIT-identical to the scan plan's") {
    val bdir = tmp("mv_ab"); val mdir = tmp("mv_as")
    val base = spark.range(0, 4000).select(col("id").as("k"),
      (col("id") % 5).as("g"), (col("id") % 137).as("u"),
      (col("id") % 9).cast("double").as("v"))
    M.writeKeyed(base, bdir, "k", 8)
    M.buildAggStateKeyed(M.readKeyed(spark, bdir), mdir, Seq("g"), "v", 4,
      distinctKey = Some("u"))
    val script =
      s"""t = read_keyed("$bdir")
         |t {g => ad: approx_count_distinct(u), n: count()}
         |""".stripMargin
    var scanRows: Array[(Long, Double, Long)] = null
    withConfs("spark.graft.mv.routing" -> "false") {
      val scan = graft.lang.Interp.run(spark, script).df
      assert(scan.inputFiles.exists(_.contains(bdir.split("/").last)))
      scanRows = scan.orderBy("g").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    }
    MV.register(spark, mdir, bdir, Seq("v"), distinctKey = Some("u"))
    val routed = graft.lang.Interp.run(spark, script).df
    assert(!routed.inputFiles.exists(_.contains(bdir.split("/").last)),
      "registered distinct-tracking view must route")
    val routedRows = routed.orderBy("g").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(scanRows.sameElements(routedRows),
      s"routed HLL estimate diverged:\n${scanRows.toSeq}\nvs\n${routedRows.toSeq}")
    // a column the registers don't track never routes to them
    assert(MV.route(spark, bdir, Seq(("g", "g")),
      Seq(("ad", "adist", Some("v")))).isEmpty)
  }

  test("global aggregation routes through ANY fresh view (fold of per-key states)") {
    val bdir = tmp("mv_gb"); val mdir = tmp("mv_gs")
    val base = mkBase(3000, withNulls = true)
    M.writeKeyed(base, bdir, "k", 8)
    M.buildAggStateKeyed(M.readKeyed(spark, bdir), mdir, Seq("g"), "v", 4)
    MV.register(spark, mdir, bdir, Seq("v"), floatSums = true)
    val routed = MV.routeGlobal(spark, bdir, Seq(
      ("n", "count", None), ("nv", "countv", Some("v")),
      ("s", "sum", Some("v")), ("m", "mean", Some("v")),
      ("lo", "min", Some("v")), ("hi", "max", Some("v"))))
    assert(routed.isDefined, "global aggregate did not route")
    val df = routed.get
    assert(!df.inputFiles.exists(_.contains(bdir.split("/").last)))
    val x = df.head
    val y = base.agg(F.count(lit(1)).as("n"), F.count(col("v")).as("nv"),
      F.sum(col("v")).as("s"), F.avg(col("v")).as("m"),
      F.min(col("v")).as("lo"), F.max(col("v")).as("hi")).head
    assert(x.getLong(0) == y.getLong(0) && x.getLong(1) == y.getLong(1))
    assert(math.abs(x.getDouble(2) - y.getDouble(2)) < 1e-6)
    assert(math.abs(x.getDouble(3) - y.getDouble(3)) < 1e-9)
    assert(x.getDouble(4) == y.getDouble(4) &&
      x.getDouble(5) == y.getDouble(5))
    // the language face: `t {=> aggs}` over the pristine snapshot
    val lang = graft.lang.Interp.run(spark,
      s"""t = read_keyed("$bdir")
         |t {=> n: count(), s: sum(v)}
         |""".stripMargin).df
    assert(!lang.inputFiles.exists(_.contains(bdir.split("/").last)),
      "language global aggregation did not route")
    assert(lang.head.getLong(0) == y.getLong(0))
    // staleness falls back here too
    M.upsertKeyed(spark, bdir,
      spark.range(700000000L, 700000010L).select(col("id").as("k"),
        lit(0L).as("g"), lit(1.0).as("v"), lit(0L).as("w")), "k", 8)
    assert(MV.routeGlobal(spark, bdir,
      Seq(("n", "count", None))).isEmpty)
  }

  test("rebuildMv: one call re-derives a stale view from the current base and re-arms routing") {
    val bdir = tmp("mv_rb"); val mdir = tmp("mv_rs")
    val base = mkBase(2000)
    M.writeKeyed(base, bdir, "k", 8)
    M.buildAggStateKeyed(M.readKeyed(spark, bdir), mdir, Seq("g"), "v", 4,
      distinctKey = Some("w"))
    MV.register(spark, mdir, bdir, Seq("v"), distinctKey = Some("w"))
    val q = Seq(("g", "g")) ->
      Seq(("n", "count", None: Option[String]),
        ("ad", "adist", Some("w")))
    // stale the view, then one-call rebuild
    M.upsertKeyed(spark, bdir,
      spark.range(800000000L, 800000050L).select(col("id").as("k"),
        lit(6L).as("g"), lit(3.0).as("v"), (col("id") % 13).as("w")),
      "k", 8)
    assert(MV.route(spark, bdir, q._1, q._2).isEmpty)
    val d = MV.rebuildMv(spark, mdir)
    assert(d.distinctKey.contains("w"), "rebuild must keep the registers")
    val routed = MV.route(spark, bdir, q._1, q._2)
    assert(routed.isDefined, "rebuilt view must route")
    assert(routed.get.agg(F.sum("n")).head.getLong(0) == 2050L)
  }

  test("float/double sums route ONLY with the floatSums declaration (2-decimal contract)") {
    val bdir = tmp("mv_fb"); val mdir = tmp("mv_fs")
    // a measure with REAL sub-2-decimal precision: 1/8ths
    val base = spark.range(0, 4000).select(col("id").as("k"),
      (col("id") % 5).as("g"),
      ((col("id") % 8).cast("double") / 8.0).as("v"),
      (col("id") % 13).as("w"))
    M.writeKeyed(base, bdir, "k", 8)
    M.buildAggStateKeyedCols(M.readKeyed(spark, bdir), mdir, Seq("g"),
      Seq("v", "w"), 4)
    MV.register(spark, mdir, bdir, Seq("v", "w"))
    // sum/mean over the DOUBLE measure must NOT route undeclared — the
    // state's decimal(28,2) rounds 0.125 per row (real loss, not ulps)
    assert(MV.route(spark, bdir, Seq(("g", "g")),
      Seq(("s", "sum", Some("v")))).isEmpty)
    assert(MV.route(spark, bdir, Seq(("g", "g")),
      Seq(("m", "mean", Some("v")))).isEmpty)
    // integral measures and non-sum ops still route
    val ok = MV.route(spark, bdir, Seq(("g", "g")), Seq(
      ("n", "count", None), ("sw", "sum", Some("w")),
      ("lo", "min", Some("v")), ("hi", "max", Some("v"))))
    assert(ok.isDefined, "integral sums / min / max must still route")
    val y = base.groupBy("g").agg(F.sum("w").as("sw"),
      F.min("v").as("lo"), F.max("v").as("hi"))
    ok.get.orderBy("g").collect().zip(y.orderBy("g").collect())
      .foreach { case (x, e) =>
        assert(x.getLong(2) == e.getLong(1))
        assert(x.getDouble(3) == e.getDouble(1 + 1) ||
          x.getDouble(3) == e.getDouble(2))
      }
    // the opt-in: the caller DECLARES ≤2-decimal values; here they are
    // not, so the routed sum diverges from IEEE — which is exactly why
    // the default refuses. The declaration is the caller's contract.
    val optIn = MV.register(spark, mdir, bdir, Seq("v", "w"),
      floatSums = true)
    assert(optIn.floatSums)
    assert(MV.route(spark, bdir, Seq(("g", "g")),
      Seq(("s", "sum", Some("v")))).isDefined)
  }

  test("decimal measures: sum/mean never route (scan types are decimal; the route's would not be)") {
    val bdir = tmp("mv_db"); val mdir = tmp("mv_ds")
    val base = spark.range(0, 2000).select(col("id").as("k"),
      (col("id") % 5).as("g"),
      (col("id") % 9).cast("decimal(10,2)").as("v"))
    M.writeKeyed(base, bdir, "k", 8)
    M.buildAggStateKeyed(M.readKeyed(spark, bdir), mdir, Seq("g"), "v", 4)
    MV.register(spark, mdir, bdir, Seq("v"))
    // avg(decimal) is DecimalType(p+4, s+4) on the scan plan; the
    // routed __sum/__cnv division is a Double — routing would change
    // the result TYPE and rounding, so it must refuse (ADVICE r12)
    assert(MV.route(spark, bdir, Seq(("g", "g")),
      Seq(("m", "mean", Some("v")))).isEmpty,
      "decimal mean must fall back to the scan plan")
    assert(MV.route(spark, bdir, Seq(("g", "g")),
      Seq(("s", "sum", Some("v")))).isEmpty,
      "decimal sum must fall back (scale arithmetic differs)")
    // min/max/count keep the measure's own type — still routable
    val ok = MV.route(spark, bdir, Seq(("g", "g")),
      Seq(("n", "count", None), ("lo", "min", Some("v")),
        ("hi", "max", Some("v"))))
    assert(ok.isDefined)
    val want = base.groupBy("g").agg(F.count(F.lit(1)).as("n"),
      F.min("v").as("lo"), F.max("v").as("hi"))
    assert(M.diff(ok.get, want, Seq("g"))
      .filter(col("status") =!= "same").count() == 0)
  }

  test("routing honors the frame's PINNED version, not the latest manifest") {
    val bdir = tmp("mv_pb"); val mdir = tmp("mv_ps")
    val base = mkBase(2000)
    M.writeKeyed(base, bdir, "k", 8)
    M.buildAggStateKeyed(M.readKeyed(spark, bdir), mdir, Seq("g"), "v", 4)
    MV.register(spark, mdir, bdir, Seq("v"))
    // library face: pinned == watermark routes; a later watermark must
    // NOT serve a frame pinned earlier (the frame's rows are v1's)
    assert(MV.route(spark, bdir, Seq(("g", "g")),
      Seq(("n", "count", None)), pinnedVersion = Some(1)).isDefined)
    val batch = spark.range(300000000L, 300000035L).select(
      col("id").as("k"), lit(3L).as("g"), lit(1.0).as("v"),
      lit(0L).as("w"))
    M.upsertKeyed(spark, bdir, batch, "k", 8)
    M.mergeAggStateKeyed(spark, mdir, batch, Seq("g"), "v")
    MV.refreshed(spark, mdir, toVersion = Some(2))
    assert(MV.route(spark, bdir, Seq(("g", "g")),
      Seq(("n", "count", None)), pinnedVersion = Some(1)).isEmpty,
      "a v1-pinned frame must not answer from a v2 view")
    assert(MV.route(spark, bdir, Seq(("g", "g")),
      Seq(("n", "count", None)), pinnedVersion = Some(2)).isDefined)
    // language end-to-end: a frame read BEFORE the base commit keeps
    // answering v1's rows (scan plan), even after the view refreshes
    val out = graft.lang.Interp.run(spark,
      s"""t = read_keyed("$bdir")
         |u = upsert_keyed("$bdir",
         |      t[k < 0] {k, g, v, w}, "k", 8)
         |t {g => n: count()}
         |""".stripMargin).df
    assert(out.agg(F.sum("n")).head.getLong(0) == 2035L)
  }

  test("grain-superset: a finer view serves coarser group-bys by folding state") {
    val bdir = tmp("mv_gsb"); val mdir = tmp("mv_gss")
    val base = spark.range(0, 6000).select(col("id").as("k"),
      (col("id") % 5).as("g"), (col("id") % 3).as("h"),
      (col("id") % 101).cast("double").as("v"), (col("id") % 137).as("u"))
    M.writeKeyed(base, bdir, "k", 8)
    M.buildAggStateKeyed(M.readKeyed(spark, bdir), mdir, Seq("g", "h"),
      "v", 4, distinctKey = Some("u"))
    MV.register(spark, mdir, bdir, Seq("v"), distinctKey = Some("u"),
      floatSums = true)
    // group by g alone — a strict key subset — folds the (g,h) states
    val routed = MV.route(spark, bdir, Seq(("g", "g")), Seq(
      ("n", "count", None), ("s", "sum", Some("v")),
      ("m", "mean", Some("v")), ("lo", "min", Some("v")),
      ("hi", "max", Some("v")), ("ad", "adist", Some("u"))))
    assert(routed.isDefined, "key-subset grain did not route")
    assert(!routed.get.inputFiles.exists(_.contains(bdir.split("/").last)))
    val expect = base.groupBy("g").agg(F.count(lit(1)).as("n"),
      F.sum(col("v").cast("decimal(28,2)")).cast("double").as("s"),
      F.avg("v").as("m"), F.min("v").as("lo"), F.max("v").as("hi"),
      graft.plans.HllRegs.estimate(
        graft.plans.HllRegs.stateMd5(col("u"), 12), 12).as("ad"))
    routed.get.orderBy("g").collect()
      .zip(expect.orderBy("g").collect()).foreach { case (x, y) =>
        assert(x.getLong(1) == y.getLong(1))
        assert(math.abs(x.getDouble(2) - y.getDouble(2)) < 1e-6)
        assert(math.abs(x.getDouble(3) - y.getDouble(3)) < 1e-9)
        assert(x.getDouble(4) == y.getDouble(4))
        assert(x.getDouble(5) == y.getDouble(5))
        assert(x.getDouble(6) == y.getDouble(6),
          "folded HLL registers must estimate bit-identically")
      }
    // the other axis folds too
    assert(MV.route(spark, bdir, Seq(("h", "h")),
      Seq(("n", "count", None))).isDefined)
    // a key OUTSIDE the grain still falls back
    assert(MV.route(spark, bdir, Seq(("k", "k")),
      Seq(("n", "count", None))).isEmpty)
  }

  test("grain-column selections route (filter state rows); others fall back") {
    val bdir = tmp("mv_wb"); val mdir = tmp("mv_ws")
    val base = mkBase(4000)
    M.writeKeyed(base, bdir, "k", 8)
    M.buildAggStateKeyedCols(M.readKeyed(spark, bdir), mdir, Seq("g"),
      Seq("v", "w"), 4)
    MV.register(spark, mdir, bdir, Seq("v", "w"), floatSums = true)
    val q = Seq(("g", "g")) -> Seq(("n", "count", None: Option[String]),
      ("sw", "sum", Some("w")))
    val routed = MV.route(spark, bdir, q._1, q._2,
      filters = Seq(col("g") > 2 && col("g") =!= 5))
    assert(routed.isDefined, "grain-column filter did not route")
    assert(!routed.get.inputFiles.exists(_.contains(bdir.split("/").last)))
    val expect = base.filter(col("g") > 2 && col("g") =!= 5)
      .groupBy("g").agg(F.count(lit(1)).as("n"), F.sum("w").as("sw"))
    assert(routed.get.orderBy("g").collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))) ==
      expect.orderBy("g").collect().toSeq.map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))))
    // non-grain columns (a measure, the key) are unanswerable from
    // state rows — fall back
    assert(MV.route(spark, bdir, q._1, q._2,
      filters = Seq(col("v") > 100)).isEmpty)
    assert(MV.route(spark, bdir, q._1, q._2,
      filters = Seq(col("k") % 2 === 0)).isEmpty)
    // global fold under a grain filter
    val g = MV.routeGlobal(spark, bdir,
      Seq(("n", "count", None), ("sw", "sum", Some("w"))),
      filters = Seq(col("g") <= 1))
    assert(g.isDefined)
    val ge = base.filter(col("g") <= 1)
      .agg(F.count(lit(1)).as("n"), F.sum("w").as("sw")).head
    assert(g.get.head.getLong(0) == ge.getLong(0) &&
      g.get.head.getLong(1) == ge.getLong(1))
    // the language face: a selection on the grain column still routes
    // (plan-guarded), and the values match the scan plan
    val lang = graft.lang.Interp.run(spark,
      s"""t = read_keyed("$bdir")
         |t[g == 3] {g => n: count(), sw: sum(w)}
         |""".stripMargin).df
    assert(!lang.inputFiles.exists(_.contains(bdir.split("/").last)),
      "language grain-filtered group-by did not route")
    val le = base.filter(col("g") === 3).groupBy("g")
      .agg(F.count(lit(1)).as("n"), F.sum("w").as("sw")).head
    assert(lang.head.getLong(1) == le.getLong(1) &&
      lang.head.getLong(2) == le.getLong(2))
  }

  test("registrations are DURABLE: a fresh session routes from <base>/_mvs") {
    val bdir = tmp("mv_db"); val mdir = tmp("mv_ds")
    val base = mkBase(1500)
    M.writeKeyed(base, bdir, "k", 8)
    M.buildAggStateKeyed(M.readKeyed(spark, bdir), mdir, Seq("g"), "v", 4,
      distinctKey = Some("w"))
    MV.register(spark, mdir, bdir, Seq("v"), distinctKey = Some("w"),
      floatSums = true)
    // simulate a new session: the in-memory registry dies with the JVM
    MV.clear()
    assert(MV.list().isEmpty)
    val routed = MV.route(spark, bdir, Seq(("g", "g")), Seq(
      ("n", "count", None), ("s", "sum", Some("v")),
      ("ad", "adist", Some("w"))))
    assert(routed.isDefined,
      "fresh session must load the durable registration and route")
    assert(!routed.get.inputFiles.exists(_.contains(bdir.split("/").last)))
    // the loaded def carries the full declaration
    val d = MV.list().head
    assert(d.floatSums && d.distinctKey.contains("w") &&
      d.keys == Seq("g") && d.baseVersion == 1)
    // unregister removes the durable hint too: another fresh session
    // no longer routes
    MV.unregister(spark, mdir)
    MV.clear()
    assert(MV.route(spark, bdir, Seq(("g", "g")),
      Seq(("n", "count", None))).isEmpty)
  }

  test("buildMv + refreshMvIncremental: refresh reads ONLY changed base buckets; upserts+deletes fold exactly; replay idempotent") {
    val bdir = tmp("mv_ib"); val mdir = tmp("mv_is")
    val base = mkBase(8000)
    M.writeKeyed(base, bdir, "k", 8)
    val d0 = MV.buildMv(spark, bdir, mdir, Seq("g"), Seq("v", "w"), 4,
      floatSums = true)
    assert(d0.bucketTag.contains(MV.BucketTagCol) && d0.baseVersion == 1)
    val q = Seq(("g", "g")) -> Seq(("n", "count", None: Option[String]),
      ("sv", "sum", Some("v")), ("m", "mean", Some("v")),
      ("lo", "min", Some("v")), ("hi", "max", Some("v")),
      ("sw", "sum", Some("w")))
    // bucket-grain state serves the logical grain (fold) immediately
    assert(MV.route(spark, bdir, q._1, q._2).isDefined)
    // change a FEW keys: updates + inserts + deletes — touching a
    // strict subset of the 8 base buckets
    val ups = spark.range(0, 2).select(col("id").as("k"),
      (col("id") % 7).as("g"), lit(9999.0).as("v"), lit(1L).as("w"))
      .union(spark.range(400000000L, 400000001L).select(col("id").as("k"),
        lit(2L).as("g"), lit(5.0).as("v"), lit(7L).as("w")))
    M.upsertKeyed(spark, bdir, ups, "k", 8)
    M.deleteKeyed(spark, bdir,
      spark.range(20, 21).select(col("id").as("k")), "k", 8)
    assert(MV.route(spark, bdir, q._1, q._2).isEmpty, "stale must scan")
    val d1 = MV.refreshMvIncremental(spark, mdir)
    assert(d1.baseVersion == 3)
    // IO-scope contract: the re-aggregation read files ONLY from the
    // changed buckets' generation dirs
    val (changed, files) = MV.lastRefreshScan.get
    assert(changed.nonEmpty && changed.length < 8,
      s"probe batch should touch a strict subset of buckets: $changed")
    val okDirs = changed.map(b => f"b$b%05d_").toSet
    assert(files.nonEmpty && files.forall(f =>
      okDirs.exists(pfx => f.contains(s"/$pfx"))),
      s"refresh read outside the changed buckets:\n${files.mkString("\n")}")
    // the refreshed view routes and matches the scan plan exactly
    val routed = MV.route(spark, bdir, q._1, q._2)
    assert(routed.isDefined, "refreshed view must route")
    val now = M.readKeyed(spark, bdir)
    val expect = now.groupBy("g").agg(F.count(lit(1)).as("n"),
      F.sum(col("v").cast("decimal(28,2)")).cast("double").as("sv"),
      F.avg("v").as("m"), F.min("v").as("lo"), F.max("v").as("hi"),
      F.sum("w").as("sw"))
    routed.get.orderBy("g").collect()
      .zip(expect.orderBy("g").collect()).foreach { case (x, y) =>
        assert(x.getLong(1) == y.getLong(1))
        assert(math.abs(x.getDouble(2) - y.getDouble(2)) < 1e-6)
        assert(math.abs(x.getDouble(3) - y.getDouble(3)) < 1e-9)
        assert(x.getDouble(4) == y.getDouble(4))
        assert(x.getDouble(5) == y.getDouble(5))
        assert(x.getLong(6) == y.getLong(6))
      }
    // replaying the SAME refresh (crash-before-watermark) is a no-op
    // on the view's rows
    val before = MV.readMv(spark, mdir).orderBy("g").collect().toSeq
    MV.refreshed(spark, mdir, toVersion = Some(1)) // wind the mark back
    MV.refreshMvIncremental(spark, mdir)
    val after = MV.readMv(spark, mdir).orderBy("g").collect().toSeq
    assert(before == after, "refresh replay must be idempotent")
    // an up-to-date refresh is metadata-only (state version unchanged)
    val sv0 = M.readManifest(spark, mdir).version
    MV.refreshMvIncremental(spark, mdir)
    assert(M.readManifest(spark, mdir).version == sv0)
    // the registration floors the base's vacuum at the watermark: after
    // one more base commit, the tightest vacuum keeps the watermark
    // manifest readable for the next refresh
    val wm = MV.list().find(_.mvDir == mdir).get.baseVersion
    M.upsertKeyed(spark, bdir, ups, "k", 8)
    M.vacuumKeyed(spark, bdir, keepVersions = 1, graceMs = 0L)
    assert(M.readManifest(spark, bdir, Some(wm)).version == wm,
      "vacuum dropped the view's watermark manifest")
  }

  /** Every file under `dirs` (checksum and dot files skipped) with its
    * length and mtime.
    */
  private def files(dirs: String*): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith(".")) Nil else Seq(f)
    dirs.flatMap(d => walk(new java.io.File(d)))
      .map(f => f.getPath -> ((f.length, f.lastModified))).toMap
  }

  test("a refresh that moves the watermark publishes one manifest, and writes nothing under the base") {
    val bdir = tmp("mv_1b"); val mdir = tmp("mv_1s")
    M.writeKeyed(mkBase(2000), bdir, "k", 8)
    MV.buildMv(spark, bdir, mdir, Seq("g"), Seq("w"), 4)
    def refreshAfter(commit: => Unit): Set[String] = {
      commit
      val before = files(bdir, mdir)
      MV.refreshMvIncremental(spark, mdir)
      val after = files(bdir, mdir)
      assert(files(bdir) == before.filter(_._1.startsWith(bdir)),
        "a refresh must write nothing under the base")
      after.keySet.filter(f => f.contains("/_manifests/") &&
        before.get(f) != after.get(f))
    }
    // a changed bucket: the replace and the watermark are one commit
    val one = spark.range(0, 3).select(col("id").as("k"),
      (col("id") % 7).as("g"), lit(1.0).as("v"), lit(5L).as("w"))
    val v = M.readManifest(spark, mdir).version
    assert(refreshAfter(M.upsertKeyed(spark, bdir, one, "k", 8)) ==
      Set(f"$mdir/_manifests/v${v + 1}%09d.json"))
    assert(M.readManifest(spark, mdir).txn == Map(bdir -> 2L))
    // no changed bucket (a base commit of pins only): the watermark alone
    assert(refreshAfter(M.commitPins(spark, bdir)(_ + ("app" -> 1L))) ==
      Set(f"$mdir/_manifests/v${v + 2}%09d.json"))
    assert(M.readManifest(spark, mdir).txn == Map(bdir -> 3L))
    // up to date: nothing at all
    val before = files(bdir, mdir)
    MV.refreshMvIncremental(spark, mdir)
    assert(files(bdir, mdir) == before, "an up-to-date refresh wrote")
  }

  test("a dropped view stops flooring the base's vacuum") {
    val bdir = tmp("mv_drb"); val mdir = tmp("mv_drs")
    M.writeKeyed(mkBase(1000), bdir, "k", 8)
    MV.buildMv(spark, bdir, mdir, Seq("g"), Seq("w"), 4)
    val one = spark.range(0, 1).select(col("id").as("k"), lit(1L).as("g"),
      lit(1.0).as("v"), lit(5L).as("w"))
    M.upsertKeyed(spark, bdir, one, "k", 8) // v2
    MV.refreshMvIncremental(spark, mdir) // watermark 2
    (3 to 4).foreach(_ => M.upsertKeyed(spark, bdir, one, "k", 8))
    M.vacuumKeyed(spark, bdir, keepVersions = 1, graceMs = 0L)
    assert(M.manifestVersions(spark, bdir) == (2 to 4),
      "a registered view floors vacuum at its watermark")
    MV.unregister(spark, mdir)
    M.vacuumKeyed(spark, bdir, keepVersions = 1, graceMs = 0L)
    assert(M.manifestVersions(spark, bdir) == Seq(4),
      "an unregistered view must stop flooring vacuum")
  }

  test("a base bucket SPLIT refreshes incrementally: old tag condemned, children's partials land") {
    val bdir = tmp("mv_sb2"); val mdir = tmp("mv_ss2")
    val base = mkBase(6000)
    M.writeKeyed(base, bdir, "k", 8)
    MV.buildMv(spark, bdir, mdir, Seq("g"), Seq("w"), 4)
    val q = Seq(("g", "g")) -> Seq(("n", "count", None: Option[String]),
      ("sw", "sum", Some("w")))
    assert(MV.route(spark, bdir, q._1, q._2).isDefined)
    // splitting base bucket 3 moves ITS rows to leaves 3 and 11 — the
    // view's per-bucket partials for tag 3 are stale wholesale
    M.splitKeyed(spark, bdir, Seq(3))
    assert(MV.route(spark, bdir, q._1, q._2).isEmpty)
    MV.refreshMvIncremental(spark, mdir)
    val (changed, _) = MV.lastRefreshScan.get
    assert(changed.contains(3) && changed.contains(11) &&
      changed.length == 2, s"split must change exactly (3, 11): $changed")
    val routed = MV.route(spark, bdir, q._1, q._2)
    assert(routed.isDefined)
    val expect = base.groupBy("g").agg(F.count(lit(1)).as("n"),
      F.sum("w").as("sw"))
    assert(routed.get.orderBy("g").collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))) ==
      expect.orderBy("g").collect().toSeq.map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))))
    // no state rows remain under a tag that is no longer a base leaf
    val tags = M.readKeyed(spark, mdir)
      .select(MV.BucketTagCol).distinct().collect()
      .map(_.getInt(0)).toSet
    val leaves = (M.readManifest(spark, bdir).buckets.keySet ++
      M.readManifest(spark, bdir).deltas.keySet)
    assert(tags.subsetOf(leaves + 3 + 11),
      s"stale tags survived the split refresh: $tags vs $leaves")
  }

  test("incremental refresh with DELETES keeps non-retractable state exact (HLL + min/max)") {
    val bdir = tmp("mv_hb"); val mdir = tmp("mv_hs")
    // u is the distinct-tracked column; deletes REMOVE some of its
    // values entirely — an additive merge could never retract them
    // from the registers or shrink a min/max; bucket-grain REPLACE can
    val base = spark.range(0, 5000).select(col("id").as("k"),
      (col("id") % 4).as("g"), (col("id") % 223).as("u"),
      (col("id") % 31).cast("double").as("v"), (col("id") % 13).as("w"))
    M.writeKeyed(base, bdir, "k", 8)
    MV.buildMv(spark, bdir, mdir, Seq("g"), Seq("v", "w"), 4,
      distinctKey = Some("u"), floatSums = true)
    // delete a slab of keys (kills u-values and extremes in changed
    // buckets) and upsert a few
    M.deleteKeyed(spark, bdir,
      spark.range(0, 5000).filter(col("id") % 9 === 0)
        .select(col("id").as("k")), "k", 8)
    M.upsertKeyed(spark, bdir,
      spark.range(0, 4).select(col("id").as("k"), (col("id") % 4).as("g"),
        lit(9999L).as("u"), lit(-50.0).as("v"), lit(99L).as("w")),
      "k", 8)
    MV.refreshMvIncremental(spark, mdir)
    val routed = MV.route(spark, bdir, Seq(("g", "g")), Seq(
      ("n", "count", None), ("sv", "sum", Some("v")),
      ("mv", "mean", Some("v")), ("lo", "min", Some("v")),
      ("hi", "max", Some("v")), ("sw", "sum", Some("w")),
      ("ad", "adist", Some("u"))))
    assert(routed.isDefined, "refreshed multi-measure view must route")
    val now = M.readKeyed(spark, bdir)
    val expect = now.groupBy("g").agg(F.count(lit(1)).as("n"),
      F.sum(col("v").cast("decimal(28,2)")).cast("double").as("sv"),
      F.avg("v").as("mv"), F.min("v").as("lo"), F.max("v").as("hi"),
      F.sum("w").as("sw"),
      graft.plans.HllRegs.estimate(
        graft.plans.HllRegs.stateMd5(col("u"), 12), 12).as("ad"))
    routed.get.orderBy("g").collect()
      .zip(expect.orderBy("g").collect()).foreach { case (x, y) =>
        assert(x.getLong(1) == y.getLong(1))
        assert(math.abs(x.getDouble(2) - y.getDouble(2)) < 1e-6)
        assert(math.abs(x.getDouble(3) - y.getDouble(3)) < 1e-9)
        assert(x.getDouble(4) == y.getDouble(4), "deleted min must go")
        assert(x.getDouble(5) == y.getDouble(5))
        assert(x.getLong(6) == y.getLong(6))
        assert(x.getDouble(7) == y.getDouble(7),
          "registers must match a from-scratch sketch after deletes " +
            s"(g=${x.getLong(0)}: routed ${x.getDouble(7)} vs " +
            s"scan ${y.getDouble(7)})")
      }
  }

  test("refreshMvs sweeps every view of a base; list staleness goes 1 -> 0") {
    val bdir = tmp("mv_swb")
    val m1 = tmp("mv_sw1"); val m2 = tmp("mv_sw2")
    val base = mkBase(3000)
    M.writeKeyed(base, bdir, "k", 8)
    MV.buildMv(spark, bdir, m1, Seq("g"), Seq("w"), 4)
    MV.buildMv(spark, bdir, m2, Seq("g", "w"), Seq("v"), 4,
      floatSums = true)
    val ups = spark.range(0, 5).select(col("id").as("k"),
      (col("id") % 7).as("g"), lit(2.5).as("v"), lit(9L).as("w"))
    M.upsertKeyed(spark, bdir, ups, "k", 8)
    assert(MV.forBase(bdir).map(MV.staleness(spark, _)) == Seq(1, 1))
    val swept = MV.refreshMvs(spark, bdir)
    assert(swept.length == 2)
    assert(MV.forBase(bdir).map(MV.staleness(spark, _)) == Seq(0, 0))
    // both views now serve, and match the scan plan
    val head = M.manifestVersions(spark, bdir).last
    val r1 = MV.route(spark, bdir, Seq(("g", "g")),
      Seq(("sw", "sum", Some("w"))), pinnedVersion = Some(head))
    val r2 = MV.route(spark, bdir, Seq(("g", "g"), ("w", "w")),
      Seq(("sv", "sum", Some("v"))), pinnedVersion = Some(head))
    assert(r1.isDefined && r2.isDefined)
    val now = M.readKeyed(spark, bdir)
    assert(M.diff(r1.get,
      now.groupBy("g").agg(F.sum("w").as("sw")), Seq("g"))
      .filter(col("status") =!= "same").count() == 0)
    // a fresh sweep no-ops (watermarks already at head)
    val again = MV.refreshMvs(spark, bdir)
    assert(again.map(_.baseVersion).distinct == Seq(head))
  }

  test("empty base: global route (count/sum/adist) equals the scan plan") {
    val bdir = tmp("mv_eb"); val mdir = tmp("mv_es")
    val base = mkBase(100).filter(col("k") < 0) // empty, full schema
    M.writeKeyed(base, bdir, "k", 4)
    M.buildAggStateKeyed(M.readKeyed(spark, bdir), mdir, Seq("g"), "v", 2,
      distinctKey = Some("w"))
    MV.register(spark, mdir, bdir, Seq("v"), distinctKey = Some("w"),
      floatSums = true)
    val script =
      s"""t = read_keyed("$bdir")
         |t {=> n: count(), s: sum(v), ad: approx_count_distinct(w)}
         |""".stripMargin
    var scan: org.apache.spark.sql.Row = null
    withConfs("spark.graft.mv.routing" -> "false") {
      scan = graft.lang.Interp.run(spark, script).df.head
    }
    val routed = graft.lang.Interp.run(spark, script).df
    assert(!routed.inputFiles.exists(_.contains(bdir.split("/").last)),
      "empty-base global aggregate must still route")
    val r = routed.head
    assert(r.getLong(0) == scan.getLong(0), "count over empty")
    assert(r.isNullAt(1) == scan.isNullAt(1), "sum over empty")
    assert(r.getDouble(2) == scan.getDouble(2),
      s"adist over empty diverged: routed ${r.getDouble(2)} vs " +
        s"scan ${scan.getDouble(2)}")
  }

  test("register validates the state: not-an-agg-state and missing measures fail loudly") {
    val bdir = tmp("mv_vb"); val mdir = tmp("mv_vs")
    val base = mkBase(500)
    M.writeKeyed(base, bdir, "k", 4)
    intercept[IllegalArgumentException] {
      MV.register(spark, bdir, bdir, Seq("v")) // a row table, not a state
    }
    M.buildAggStateKeyed(M.readKeyed(spark, bdir), mdir, Seq("g"), "v", 4)
    intercept[IllegalArgumentException] {
      MV.register(spark, mdir, bdir, Seq("v", "w"), floatSums = true) // w not tracked
    }
  }

  test("registration files round-trip quotes, backslashes, commas and non-ASCII in names") {
    val bdir = tmp("mv_regb")
    // non-ASCII only in the measure names: how a JVM encodes non-ASCII
    // FILE names depends on the host locale, not on this codec
    val mdir = tmp("mv_regs") + "/mv \"q\\,x"
    val vals = Seq("a,b", "é\"\\ü")
    M.writeKeyed(spark.range(0, 40).select(col("id").as("k"),
      (col("id") % 3).as("g")), bdir, "k", 4)
    val base = spark.range(0, 40).select((col("id") % 3).as("g"),
      col("id").as(vals(0)), (col("id") * 2).as(vals(1)))
    M.buildAggStateKeyedCols(base, mdir, Seq("g"), vals, 2)
    val d = MV.register(spark, mdir, bdir, vals, floatSums = true)
    assert(d.valueCols == vals && d.distinctKey.isEmpty)
    // a fresh session loads the durable file (refreshMvs loads, then
    // finds the view fresh and only re-arms it)
    MV.clear()
    assert(MV.refreshMvs(spark, bdir) == Seq(d))
    assert(MV.list() == Seq(d))
    val file = new java.io.File(s"$bdir/_mvs").listFiles()
      .filterNot(_.getName.startsWith(".")).head // skip checksum files
    val body = new String(java.nio.file.Files.readAllBytes(file.toPath),
      "UTF-8")
    assert(body.startsWith("{\"format\":1,") &&
      !body.contains("distinctKey"), body)
  }
}
