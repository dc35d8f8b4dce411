package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import graft.sources.{Maintenance, MetaCache, Tables}

/** The file-metadata memo's contract (sources/Fs.scala `MetaCache`):
  * values are keyed by file identity, so a recreated or rewritten file
  * is never served its predecessor's value, and each load still builds
  * its own plan.
  */
class MetaCacheSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Write `df` as ONE parquet file at `dst` (the testdata layout),
    * replacing whatever file is there.
    */
  private def writeParquetFile(df: DataFrame, dst: Path): Unit = {
    val out = tmp("graft_memo_out") + "/t"
    df.coalesce(1).write.parquet(out)
    val ls = Files.list(Paths.get(out))
    val part =
      try ls.iterator.asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      finally ls.close()
    Files.copy(part, dst, StandardCopyOption.REPLACE_EXISTING)
  }

  test("a keyed table recreated at the same dir never serves the dead table's schema") {
    val M = Maintenance
    val dir = tmp("graft_memo_recreate") + "/t"
    M.writeKeyed(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), dir, Seq("k"), 2)
    val dead = M.readManifest(spark, dir)
    assert(dead.schema.fieldNames.toSet == Set("k", "v", "kb"))
    assert(M.readKeyed(spark, dir).count() == 2)
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    M.writeKeyed(Seq((7L, "a", 0.5)).toDF("k", "name", "w"), dir, Seq("k"), 2)
    val live = M.readManifest(spark, dir)
    assert(live.version == dead.version, "the recreated table reuses the version number")
    assert(live.schema.fieldNames.toSet == Set("k", "name", "w", "kb"))
    val rows = M.readKeyed(spark, dir).select("k", "name", "w").as[(Long, String, Double)]
      .collect().toSeq
    assert(rows == Seq((7L, "a", 0.5)))
  }

  test("Tables.load of a rewritten parquet file shows the new column") {
    val dir = tmp("graft_memo_load")
    val file = Paths.get(dir, "t.parquet")
    writeParquetFile(Seq((1L, "x")).toDF("a", "b"), file)
    assert(Tables.load(spark, dir, "t").df.columns.toSeq == Seq("a", "b"))
    writeParquetFile(Seq((2L, "y", 3.0)).toDF("a", "b", "c"), file)
    val t = Tables.load(spark, dir, "t").df
    assert(t.columns.toSeq == Seq("a", "b", "c"))
    assert(t.as[(Long, String, Double)].collect().toSeq == Seq((2L, "y", 3.0)))
  }

  test("two loads of one table are distinct plans: an unaliased cross-column join is exact") {
    val a = Tables.load(spark, sf, "nation").df
    val b = Tables.load(spark, sf, "nation").df
    // nation k has n_regionkey = k % 5, so each of the 25 b rows joins
    // exactly the a row whose key is b's region key
    val got = a.join(b, a("n_nationkey") === b("n_regionkey"))
      .select(a("n_name"), b("n_name")).as[(String, String)].collect().toSet
    val want = (0 until 25).map(k => (s"NATION_${k % 5}", s"NATION_$k")).toSet
    assert(got == want)
  }

  test("a full MetaCache evicts only its least recently used entry") {
    val c = new MetaCache[Int](capacity = 2)
    var loads = 0
    def get(k: String): Int = c.getOrLoad(k) { loads += 1; k.length }
    get("a"); get("bb")
    get("a") // "a" is now the most recently used
    get("ccc") // over capacity: evicts "bb" alone
    assert(loads == 3)
    get("a"); get("ccc")
    assert(loads == 3, "the two most recently used entries survive")
    get("bb")
    assert(loads == 4, "the least recently used entry was evicted")
  }
}
