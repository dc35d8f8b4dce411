package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

/** Crash consistency of the one publish point on `FaultyFs`, whose
  * rename refuses an existing destination (as HDFS's does): a CDC
  * cursor commit, an upsert, a CDC merge, a key-pinned predicate delete
  * and a bucket-grain MV refresh crashed at any filesystem call leave
  * the old or the new state, and `Fs.publishIfAbsent`'s rename branch
  * has exactly one winner.
  */
class CrashSpec extends SparkSpec {
  private val S = graft.streaming.Streams

  /** A fresh `faulty:///` dir. */
  private def faulty(p: String): String = {
    FaultyFs.install(spark.sparkContext.hadoopConfiguration)
    "faulty://" + java.nio.file.Files.createTempDirectory(p).toString
  }

  private def text(fs: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def put(fs: org.apache.hadoop.fs.FileSystem, p: Path,
                  s: String): Unit = {
    val out = fs.create(p, false)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  test("a cursor commit crashed at any filesystem call leaves the old or the new cursor") {
    var n = 1
    var finished = false
    while (!finished) {
      val cur = faulty("crash_cur") + "/cursor"
      S.commitChangeCursor(spark, cur, 1)
      FaultyFs.crashAt(n)
      finished =
        try { S.commitChangeCursor(spark, cur, 2); true }
        catch { case _: FaultyFs.Crash => false }
        finally FaultyFs.disarm()
      val got = S.readChangeCursor(spark, cur)
      assert(got == 1 || got == 2,
        s"a crash at mutating call $n left cursor $got")
      if (finished) assert(got == 2)
      n += 1
      assert(n < 50, "the commit never completed")
    }
    assert(n > 2, "the commit made no mutating call")
  }

  test("an upsert or a CDC merge crashed at any filesystem call leaves the old or the new table") {
    import spark.implicits._
    val M = graft.sources.Maintenance
    val old = (0L until 40L).map(k => k -> k).toMap
    // the CDC batch: an update, a tombstone, a stale-seq row (seq 0 below
    // the stored 1, so it must not apply) and an insert
    val ops: Seq[(String, String => Unit, Map[Long, Long])] = Seq(
      ("upsertKeyed", dir => M.upsertKeyed(spark, dir,
        Seq((3L, 30L, 2L), (17L, 170L, 2L), (50L, 500L, 2L))
          .toDF("k", "v", "seq"), "k", 4),
        old ++ Map(3L -> 30L, 17L -> 170L, 50L -> 500L)),
      ("cdcMergeKeyedCols", dir => M.cdcMergeKeyedCols(spark, dir,
        Seq((3L, 300L, 2L, false), (5L, 0L, 2L, true), (7L, 700L, 0L, false),
          (60L, 600L, 1L, false)).toDF("k", "v", "seq", "del"),
        Seq("k"), 4, seqCol = Some("seq"), deleteCol = Some("del")),
        old - 5L ++ Map(3L -> 300L, 60L -> 600L)))
    for ((name, op, now) <- ops) {
      var n = 1
      var finished = false
      while (!finished) {
        val dir = faulty("crash_merge") + "/t"
        M.writeKeyed(old.toSeq.map { case (k, v) => (k, v, 1L) }
          .toDF("k", "v", "seq"), dir, "k", 4)
        FaultyFs.crashAt(n)
        // a crash inside a write task arrives wrapped in a SparkException
        finished =
          try { op(dir); true }
          catch {
            case _: FaultyFs.Crash => false
            case _: org.apache.spark.SparkException => false
          }
          finally FaultyFs.disarm()
        val got = M.readKeyed(spark, dir).select("k", "v").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == old || got == now,
          s"$name crashed at mutating call $n left a mixed table: $got")
        if (finished) assert(got == now, s"$name finished but reads $got")
        n += 1
        assert(n < 200, s"$name never completed")
      }
      assert(n > 2, s"$name made no mutating call")
    }
  }

  /** Run `op` with a crash armed at mutating call 1, 2, … until it
    * completes; `check(n, finished)` inspects the state after each run.
    * A crash inside a write task arrives wrapped in a SparkException.
    */
  private def crashEverywhere(name: String)(op: Int => Unit)
                             (check: (Int, Boolean) => Unit): Unit = {
    var n = 1
    var finished = false
    while (!finished) {
      finished =
        try { op(n); true }
        catch {
          case _: FaultyFs.Crash => false
          case _: org.apache.spark.SparkException => false
        }
        finally FaultyFs.disarm()
      check(n, finished)
      n += 1
      assert(n < 200, s"$name never completed")
    }
    assert(n > 2, s"$name made no mutating call")
  }

  test("a key-pinned predicate delete crashed at any filesystem call leaves the old or the new table and its no-hit bucket") {
    import spark.implicits._
    val M = graft.sources.Maintenance
    var dir = ""
    var m1: M.KeyedManifest = null
    var noHit = -1
    var old, now = Map.empty[Long, Long]
    crashEverywhere("deleteKeyedWhere") { n =>
      dir = faulty("crash_del") + "/t"
      M.writeKeyed((0L until 40L).map(k => k -> k).toDF("k", "v"), dir, "k", 4)
      val m0 = M.readManifest(spark, dir)
      def bucketOf(k: Long) = M.bucketsOf(m0, Seq(k).toDF("k")).head
      val hitB = Seq(3L, 17L).map(bucketOf).toSet
      // an absent key pins a bucket without a match, whose delta chain
      // the delete must keep
      val absent = (100L until 200L).find(k => !hitB(bucketOf(k))).get
      noHit = bucketOf(absent)
      val extra = (200L until 300L).find(k => bucketOf(k) == noHit).get
      M.appendDeltaKeyed(spark, dir, Seq(extra -> extra).toDF("k", "v"),
        "k", 4)
      m1 = M.readManifest(spark, dir)
      old = (0L until 40L).map(k => k -> k).toMap + (extra -> extra)
      now = old - 3L - 17L
      FaultyFs.crashAt(n)
      assert(M.deleteKeyedWhere(spark, dir,
        col("k").isin(3L, 17L, absent)) == 2L)
    } { (n, finished) =>
      val got = M.readKeyed(spark, dir).select("k", "v").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == old || got == now,
        s"a crash at mutating call $n left a mixed table: $got")
      if (finished) assert(got == now, s"finished but reads $got")
      M.manifestVersions(spark, dir).filter(_ >= m1.version).foreach { v =>
        val m = M.readManifest(spark, dir, Some(v))
        assert(m.buckets.get(noHit) == m1.buckets.get(noHit) &&
          m.chain(noHit) == m1.chain(noHit),
          s"manifest v$v lost no-hit bucket $noHit after a crash at call $n")
      }
    }
  }

  test("a bucket-grain MV refresh crashed at any filesystem call leaves the old or the new view and its untouched state buckets") {
    import spark.implicits._
    val M = graft.sources.Maintenance
    val MV = graft.sources.MatView
    val old = (0L until 40L).map(k => k -> (k % 5, k)).toMap
    def groupBy(t: Map[Long, (Long, Long)]) = t.values.groupBy(_._1)
      .map { case (g, xs) => g -> (xs.size.toLong, xs.map(_._2).sum) }
    var mvDir = ""
    var s0: M.KeyedManifest = null
    var untouched = Set.empty[Int]
    var now = old
    crashEverywhere("refreshMvIncremental") { n =>
      val root = faulty("crash_mv")
      val base = root + "/t"
      mvDir = root + "/mv"
      M.writeKeyed(old.toSeq.map { case (k, (g, v)) => (k, g, v) }
        .toDF("k", "g", "v"), base, "k", 4)
      MV.buildMv(spark, base, mvDir, Seq("g"), Seq("v"), 8)
      // an update and an insert in one base bucket
      val mb = M.readManifest(spark, base)
      val b = M.bucketsOf(mb, Seq(3L).toDF("k")).head
      val ins = (100L until 200L).find(k =>
        M.bucketsOf(mb, Seq(k).toDF("k")).head == b).get
      val ups = Map(3L -> (4L, 300L), ins -> (1L, 7L))
      M.upsertKeyed(spark, base, ups.toSeq.map { case (k, (g, v)) =>
        (k, g, v) }.toDF("k", "g", "v"), "k", 4)
      now = old ++ ups
      s0 = M.readManifest(spark, mvDir)
      untouched = s0.buckets.keySet -- M.bucketsOf(s0,
        Seq(b).toDF(MV.BucketTagCol))
      FaultyFs.crashAt(n)
      MV.refreshMvIncremental(spark, mvDir)
    } { (n, finished) =>
      val view = MV.readMv(spark, mvDir).select("g", "n", "total").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2).toLong)).toMap
      assert(view == groupBy(old) || view == groupBy(now),
        s"a crash at mutating call $n left a mixed view: $view")
      if (finished) assert(view == groupBy(now), s"finished but reads $view")
      val s = M.readManifest(spark, mvDir)
      untouched.foreach(sb => assert(s.buckets.get(sb) == s0.buckets.get(sb),
        s"state bucket $sb moved after a crash at call $n"))
      MV.unregister(spark, mvDir)
    }
  }

  test("publishIfAbsent on a rename-if-absent filesystem: one winner; the loser leaves dst untouched") {
    val d = faulty("crash_pub")
    val fs = new Path(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.getScheme == "faulty")
    val dst = new Path(d, "dst")
    val t1 = new Path(d, ".t1")
    put(fs, t1, "first")
    assert(graft.sources.Fs.publishIfAbsent(fs, t1, dst))
    assert(!fs.exists(t1) && text(fs, dst) == "first")
    val t2 = new Path(d, ".t2")
    put(fs, t2, "second")
    assert(!graft.sources.Fs.publishIfAbsent(fs, t2, dst))
    assert(!fs.exists(t2) && text(fs, dst) == "first",
      "the losing publish must leave dst untouched and remove its tmp")
  }
}
