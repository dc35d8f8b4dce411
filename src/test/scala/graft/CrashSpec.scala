package graft

import org.apache.hadoop.fs.Path

/** Crash consistency of the one publish point on `FaultyFs`, whose
  * rename refuses an existing destination (as HDFS's does): a CDC
  * cursor commit crashed at any filesystem call leaves the old or the
  * new position, and `Fs.publishIfAbsent`'s rename branch has exactly
  * one winner.
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
