package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.dsl._
import graft.joins.Joins
import graft.catalog.Catalog
import graft.sources.Tables

class JoinsCatalogSpec extends SparkSpec {

  private lazy val nation = Tables.load(spark, sf, "nation")
  private lazy val region = Tables.load(spark, sf, "region")
  private lazy val customer = Tables.load(spark, sf, "customer")

  test("auto-join resolves the FK from table metadata") {
    val j = Joins.join("n" -> nation, "r" -> region)
    assert(j.df.count() == nation.df.count())
    // struct-typed output: one struct per side
    assert(j.columns == Seq("n", "r"))
  }

  test("auto-join errors when no FK relation exists") {
    val e = intercept[IllegalArgumentException] {
      Joins.join("r" -> region, "c" -> customer).df.count()
    }
    assert(e.getMessage.contains("no FK relation"))
  }

  test("leftjoin keeps unmatched left rows with null right struct") {
    val few = graft.dsl.PTable(
      region.df.filter(col("r_regionkey") < 2), region.meta)
    val j = Joins.joinN(Joins.LeftOuter,
      Seq(Joins.Side("n" -> nation), Joins.Side("r" -> few)),
      Some(col("n.n_regionkey") === col("r.r_regionkey")))
    assert(j.df.count() == nation.df.count())
    assert(j.df.filter(col("r").isNull ||
      col("r.r_regionkey").isNull).count() > 0)
  }

  test("zipjoin pairs by row index; left/longest pad with nulls") {
    val a = PTable.fromList(spark, Seq(1, 2, 3))
    val b = PTable.fromList(spark, Seq("x", "y"))
    assert(Joins.zipjoin(a, b).df.count() == 2)
    val l = Joins.zipjoinLeft(a, b)
    assert(l.df.count() == 3)
    assert(l.df.filter(col("b.item").isNull).count() == 1)
    assert(Joins.zipjoinLongest(b, a).df.count() == 3)
  }

  test("semi/anti joins partition the left side") {
    val withOrders = Joins.semi(customer, "c_custkey",
      Tables.load(spark, sf, "orders"), "o_custkey").df.count()
    val withoutOrders = Joins.anti(customer, "c_custkey",
      Tables.load(spark, sf, "orders"), "o_custkey").df.count()
    assert(withOrders + withoutOrders == customer.df.count())
  }

  test("catalog: create/insertRow assigns sequential ids") {
    val cat = new Catalog(spark)
    cat.create("t", Seq(StructField("name", StringType)))
    val r1 = cat.insertRow("t", Map("name" -> "a"))
    val r2 = cat.insertRow("t", Map("name" -> "b"))
    assert(r1.getLong(0) == 1L && r2.getLong(0) == 2L)
    assert(cat.get("t").df.count() == 2)
  }

  test("catalog: insertAll continues ids after current max") {
    import spark.implicits._
    val cat = new Catalog(spark)
    cat.create("t2", Seq(StructField("name", StringType)))
    cat.insertRow("t2", Map("name" -> "a"))
    cat.insertAll("t2", Seq("b", "c").toDF("name"))
    val ids = cat.get("t2").df.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L))
  }

  test("asofJoin attaches most recent right row, >= semantics") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, 10L, ts("2024-01-01 00:05:00")),
      (2L, 10L, ts("2024-01-01 00:00:30")),
      (3L, 20L, ts("2024-01-01 00:10:00")),
      (4L, 30L, ts("2024-01-01 00:10:00"))).toDF("id", "key", "ts")
    val right = Seq(
      (10L, ts("2024-01-01 00:01:00"), 1.0),
      (10L, ts("2024-01-01 00:04:00"), 2.0),
      (20L, ts("2024-01-01 00:10:00"), 3.0)).toDF("key", "rts", "v")
    val out = graft.joins.Joins
      .asofJoin(left, right, Seq("key"), "ts", "rts", Seq("v"))
      .collect().map(r => r.getLong(1) -> Option(r.get(3))).toMap
    assert(out(1L).contains(2.0))  // most recent before 00:05
    assert(out(2L).isEmpty)        // before first right row
    assert(out(3L).contains(3.0))  // equal ts matches (>=)
    assert(out(4L).isEmpty)        // key with no right rows
  }

  test("asofJoin skewed key: correct result, no single-task funnel") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, spark_partition_id, max_by}
    // hot key 1 owns half of all rows — the case that funnels a
    // key-partitioned window into one task
    val left = (0 until 4000).map { i =>
      val k = if (i % 2 == 0) 1L else 2L + i % 39
      (i.toLong, k, i.toLong * 10)
    }.toDF("id", "key", "ts")
    val right = (0 until 400).map { j =>
      val k = if (j % 2 == 0) 1L else 2L + j % 39
      (k, j.toLong * 100 + 5, j.toDouble)
    }.toDF("key", "rts", "v")
    val out = graft.joins.Joins
      .asofJoin(left, right, Seq("key"), "ts", "rts", Seq("v"),
        partitions = 8)
    val got = out.collect().map(r => r.getLong(1) -> Option(r.get(3))).toMap
    val exp = left.alias("l")
      .join(right.alias("r"),
        col("l.key") === col("r.key") && col("r.rts") <= col("l.ts"), "left")
      .groupBy(col("l.id")).agg(max_by(col("r.v"), col("r.rts")).as("v"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val diff = (got.keySet ++ exp.keySet).filter(k => got.get(k) != exp.get(k))
    assert(diff.isEmpty, s"mismatched ids: ${diff.toSeq.sorted.take(20)
      .map(k => s"$k got=${got.get(k)} exp=${exp.get(k)}").mkString("; ")}")
    // the fill window is keyed by (time slice, key), never key alone
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("_slice"), s"window not sliced by time bucket:\n$p")
    // the time bucketing spreads the hot key: its rows split into many
    // (key, slice) window groups, none above 2× the hot key's mean —
    // vs ONE group of 2200 rows under a key-only window
    val width = math.max((40005.0 - 5.0) / (8 * 4), 1e-300)
    val hot = left.select(col("key"), col("ts").cast("double").as("t"))
      .unionByName(right.select(col("key"), col("rts").cast("double").as("t")))
      .filter(col("key") === 1L)
      .groupBy(org.apache.spark.sql.functions.floor(
        (col("t") - 5.0) / width)).count()
      .collect().map(_.getLong(1))
    assert(hot.length >= 8, s"hot key not split: ${hot.length} groups")
    assert(hot.max <= 2 * (hot.sum / hot.length),
      s"unbalanced hot-key groups: max=${hot.max} mean=${hot.sum / hot.length}")
  }

  test("saltedSumCount equals direct aggregation") {
    import graft.functions.PF
    val li = Tables.load(spark, sf, "lineitem").df
    val salted = PF.saltedSumCount(li, col("l_returnflag"), col("l_quantity"), 8)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val direct = li.groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.sum(
        col("l_quantity").cast("decimal(18,2)")).cast("double"),
        org.apache.spark.sql.functions.count(col("l_quantity")))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(salted == direct)
  }

  test("catalog: update/delete rebind copy-on-write") {
    val cat = new Catalog(spark)
    cat.register("r2", region)
    cat.update("r2", col("r_regionkey") === 0, "r_name" -> lit("X"))
    assert(cat.get("r2").df.filter(col("r_name") === "X").count() == 1)
    cat.delete("r2", col("r_regionkey") === 0)
    assert(cat.get("r2").df.count() == region.df.count() - 1)
  }

  test("rangeJoin: half-open intervals, multi-bin spans, exact bounds") {
    import spark.implicits._
    val vals = Seq((1, 0.5), (2, 10.0), (3, 25.0), (4, 99.9)).toDF("id", "v")
    val ivs = Seq((100, 0.0, 10.0), (200, 10.0, 30.0),
      (300, 90.0, 100.0), (400, 0.0, 100.0)).toDF("iid", "lo", "hi")
    // binSize 7 << interval widths: intervals explode over many bins
    val out = Joins.rangeJoin(vals, "v", ivs, "lo", "hi", 7.0)
      .select("id", "iid").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    // v=10.0 is OUT of [0,10) and IN [10,30) — half-open semantics
    assert(out == Set((1, 100), (1, 400), (2, 200), (2, 400),
      (3, 200), (3, 400), (4, 300), (4, 400)))
  }

  test("catalog: insert loop is O(1) jobs per insert (cached max id)") {
    val cat = new Catalog(spark)
    cat.create("seq", Seq(StructField("name", StringType)))
    cat.autoCompactEvery = 1000 // isolate the id-probe behavior
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      (1 to 25).foreach(i => cat.insertRow("seq", Map("name" -> s"n$i")))
      Thread.sleep(300) // let listener events drain
      // create() seeds the counter, so the whole loop runs ZERO Spark
      // jobs — previously each insert re-scanned the union chain
      assert(jobs == 0, s"insert loop ran $jobs Spark jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
    val ids = cat.get("seq").df.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (1L to 25L))
  }

  test("catalog: driver row buffer overflows to unions, invalidates on rebind") {
    val cat = new Catalog(spark)
    spark.conf.set(graft.GraftConf.CatalogLocalLimitKey, "3")
    try {
      cat.create("b", Seq(StructField("name", StringType)))
      // inserts 1-3 stay in the LocalRelation buffer; 4-5 overflow to
      // the union path — content must be identical either way
      (1 to 5).foreach(i => cat.insertRow("b", Map("name" -> s"n$i")))
      assert(cat.get("b").df.count() == 5)
      assert(cat.localRowsOf("b").isEmpty, "buffer should have dropped")
      val ids = cat.get("b").df.select("id").collect()
        .map(_.getLong(0)).sorted
      assert(ids.toSeq == (1L to 5L))
      // a buffered table invalidates on update and keeps correct rows
      cat.create("c", Seq(StructField("name", StringType)))
      cat.insertRow("c", Map("name" -> "x"))
      assert(cat.localRowsOf("c").exists(_.length == 1))
      cat.update("c", org.apache.spark.sql.functions.col("id") === 1,
        "name" -> org.apache.spark.sql.functions.lit("y"))
      assert(cat.localRowsOf("c").isEmpty)
      cat.insertRow("c", Map("name" -> "z")) // union path after rebind
      assert(cat.get("c").df.orderBy("id").collect()
        .map(_.getString(1)).toSeq == Seq("y", "z"))
    } finally spark.conf.unset(graft.GraftConf.CatalogLocalLimitKey)
  }

  test("catalog: auto-compaction keeps mutation chains shallow") {
    val cat = new Catalog(spark)
    cat.create("m", Seq(StructField("name", StringType)))
    cat.autoCompactEvery = 8
    (1 to 20).foreach(i => cat.insertRow("m", Map("name" -> s"n$i")))
    // after 20 mutations with compaction every 8, the live plan holds
    // at most autoCompactEvery unions above the last checkpoint
    val planDepth = cat.get("m").df.queryExecution.logical.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.size
    assert(planDepth <= 8, s"plan still has $planDepth unions")
    assert(cat.get("m").df.count() == 20)
    val ids = cat.get("m").df.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (1L to 20L))
  }

  test("attaching a fresh database dir runs no failing query") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val failures, successes = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        successes.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = failures.incrementAndGet()
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_fresh").toString
    spark.listenerManager.register(listener)
    try {
      assert(new Catalog(spark).attach(dir).isEmpty)
      // listener events arrive in order: once this action's success is
      // seen, any failure the attach posted has been seen too
      spark.range(1).count()
      val deadline = System.currentTimeMillis() + 30000
      while (successes.get == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
    } finally spark.listenerManager.unregister(listener)
    assert(successes.get > 0 && failures.get == 0)
  }
}
