package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM under Test/fork). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  lazy val sf: String = "/root/testdata/sf0.001"

  /** UTF-8 text of `rel` in a checkout of the reference Preql sources.
    * The checkout is not part of this repository, so a test that runs
    * one of its scripts verbatim is canceled where it is absent.
    */
  def referenceScript(rel: String): String = {
    val p = java.nio.file.Paths.get("/root/reference", rel)
    assume(java.nio.file.Files.isRegularFile(p), s"no reference checkout at $p")
    new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Run `body` with the given session confs set, UNSETTING them
    * after. Unset (not save/re-set) is the correct restore for keys
    * absent from the session builder: conf.get returns a default for
    * registered-but-unset keys, and re-setting that value explicitly
    * would pin a fallback conf (e.g. adaptive.autoBroadcastJoinThreshold)
    * to a snapshot, severing its link to its base conf for every
    * later suite in the shared session.
    */
  def withConfs(pairs: (String, String)*)(body: => Unit): Unit = {
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally pairs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** One round of a CDC consumer loop over the keyed table at `dir`:
    * poll, then process (`f` gets changes, fromV, toV), then commit the
    * cursor. True when a batch was processed; a crash inside `f`
    * leaves the cursor where it was, so the next round re-emits it.
    */
  def tailChanges(dir: String, cursor: String,
                  maxVersions: Int = Int.MaxValue)
                 (f: (org.apache.spark.sql.DataFrame, Int, Int) => Unit)
      : Boolean = {
    import graft.streaming.Streams
    Streams.pollKeyedChanges(spark, dir, cursor, maxVersions) match {
      case Some((changes, fromV, toV)) =>
        f(changes, fromV, toV)
        Streams.commitChangeCursor(spark, cursor, toV)
        true
      case None => false
    }
  }

  /** (path → (length, mtime)) of every parquet data file under `dir` —
    * the immutability fingerprint the "bases/segments never rewritten"
    * assertions compare before and after an append.
    */
  def parquetFileState(dir: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
    walk(new java.io.File(dir))
      .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
  }
}
