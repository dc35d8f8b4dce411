package graft

import org.apache.hadoop.fs.Path

/** Crash consistency of the one publish point on `FaultyFs`, whose
  * rename refuses an existing destination (as HDFS's does): a CDC
  * cursor commit, an upsert and a CDC merge crashed at any filesystem
  * call leave the old or the new state, and `Fs.publishIfAbsent`'s
  * rename branch has exactly one winner.
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
