package graft.tools

/** Dumps formatted physical plans for representative queries so plan
  * quality (pushdown, pruning, broadcast, top-k, partial agg) can be
  * inspected and tracked in docs/PLANS.md.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = Seq("q02_selection", "q03_groupby_agg", "q06_join_auto",
      "q18_topk", "q10_semijoin", "x01_dedup_exact", "q58_corr",
      "q60_cube", "x16_sessionize", "x10_ann_brute",
      // round-3 shapes: skew-sliced as-of, epsilon-grid cosine,
      // expression-level global index, IVF zero-shuffle assignment
      "q51_asof", "x12_cosine_pairs", "q20_enum", "x17_ann_ivf",
      // round-6 shapes: corpus preparation (split/chunk/pack)
      "x27_train_split", "x28_chunk_docs", "x29_pack_sequences")
    val spark = graft.GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===== $n =====")
      graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
