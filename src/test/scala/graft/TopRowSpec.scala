package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Literal

import graft.plans.{TopRow, TopRowBuf}
import graft.sources.Maintenance

/** The native argmax aggregate (`graft_top_row`): buffer serde, and the
  * keyed paths that use it on a session without GraftExtensions.
  */
class TopRowSpec extends SparkSpec {

  private def buf(ord: Long, value: Long): TopRowBuf = {
    val b = new TopRowBuf
    b.ord = ord
    b.value = value
    b
  }

  test("serialize returns bytes a later serialize never rewrites") {
    val agg = TopRow(Literal(0L), Literal(0L))
    // equal-size payloads: the projection's reused output buffer fits
    // both exactly, the case where it would be handed out twice
    val first = agg.serialize(buf(1L, 10L))
    val snapshot = first.clone()
    val second = agg.serialize(buf(2L, 20L))
    assert(first.sameElements(snapshot))
    assert(!second.sameElements(snapshot))
    val back = agg.deserialize(first)
    assert(back.ord == 1L && back.value == 10L)
  }

  test("keyed reads, changes and seq CDC merges run on a plain session") {
    // a session whose registry lacks graft_top_row, as one built
    // without spark.sql.extensions would
    val plain = spark.newSession()
    val fn = FunctionIdentifier("graft_top_row")
    plain.sessionState.functionRegistry.dropFunction(fn)
    assert(!plain.sessionState.functionRegistry.functionExists(fn))
    import plain.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_plain").toString
    def kv(df: DataFrame) =
      df.select("k", "v").collect().map(r => r.getLong(0) -> r.getDouble(1))
        .toMap
    // merge-on-read: the delta level resolves through the argmax
    val dir = root + "/tbl"
    Maintenance.writeKeyed(Seq((1L, 1.0), (2L, 2.0), (3L, 3.0))
      .toDF("k", "v"), dir, "k", 2)
    Maintenance.appendDeltaKeyed(plain, dir,
      Seq((1L, 1.5), (4L, 4.0)).toDF("k", "v"), "k", 2)
    assert(kv(Maintenance.readKeyed(plain, dir)) ==
      Map(1L -> 1.5, 2L -> 2.0, 3L -> 3.0, 4L -> 4.0))
    val vs = Maintenance.manifestVersions(plain, dir)
    assert(Maintenance.keyedChanges(plain, dir, vs.head, vs.last)
      .select("k", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSet ==
      Set(1L -> "changed", 4L -> "added"))
    // seq CDC merge: per-key max-seq within the batch
    val cdc = root + "/cdc"
    Maintenance.cdcMergeKeyed(plain, cdc,
      Seq((1L, 10L, 1.0), (1L, 11L, 1.1), (2L, 10L, 2.0))
        .toDF("k", "seq", "v"), "k", 2, seqCol = Some("seq"))
    Maintenance.cdcMergeKeyed(plain, cdc,
      Seq((2L, 12L, 2.2), (2L, 9L, 0.0)).toDF("k", "seq", "v"), "k", 2,
      seqCol = Some("seq"))
    assert(kv(Maintenance.readKeyed(plain, cdc)) == Map(1L -> 1.1, 2L -> 2.2))
  }
}
