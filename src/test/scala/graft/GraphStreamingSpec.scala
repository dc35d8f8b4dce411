package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import graft.rec.Graph
import graft.streaming.Streams

class GraphStreamingSpec extends SparkSpec {
  import spark.implicits._

  /** A `foreachBatch` sink over `df`: `f` gets every non-empty
    * micro-batch with its batch id.
    */
  private def eachBatch(df: DataFrame)(f: (DataFrame, Long) => Unit)
      : StreamingQuery =
    df.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) f(batch, id)
      }
      .start()

  /** `_simhash` of the text column, from the batch dedup expressions. */
  private def withSimhash(df: DataFrame): DataFrame =
    df.withColumn("_simhash", graft.ext.Dedup.simhashFromHashes(
      graft.ext.Dedup.tokenHashes(col("text"))))

  test("bfs on a cyclic graph terminates with minimal ranks") {
    // cycle 1->2->3->1 plus branch 3->4
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val initial = Seq(1L).toDF("node")
    val out = Graph.bfs(edges, initial)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
  }

  test("bfs respects maxRank") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val out = Graph.bfs(edges, Seq(1L).toDF("node"), maxRank = 1)
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 2L))
  }

  test("bfs driver path equals the distributed fixpoint") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (9L, 1L))
      .toDF("src", "dst")
    val initial = Seq(1L).toDF("node")
    def run(limit: Long) = Graph.bfs(edges, initial, driverLimit = limit)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(run(1 << 20) == run(0)) // driver BFS vs distributed rounds
  }

  test("pageRank: hub of a star graph dominates; ranks follow the closed form") {
    // star: 1..5 each link to 0; 0 is dangling. After >=2 iterations,
    // every leaf sits at base=(1-d)/6 and the hub at base*(1+5d).
    val edges = (1L to 5L).map(i => (i, 0L)).toDF("src", "dst")
    val out = Graph.pageRank(edges, iters = 4, damping = 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val base = 0.15 / 6.0
    assert(math.abs(out(0L) - base * (1 + 5 * 0.85)) < 1e-12)
    (1L to 5L).foreach(i => assert(math.abs(out(i) - base) < 1e-12))
  }

  test("pageRank: driver path equals the distributed power iteration") {
    // small cyclic graph with a dangling node (4) and a multi-edge
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (1L, 2L))
      .toDF("src", "dst")
    def run(limit: Long) = Graph.pageRank(edges, iters = 5,
        driverLimit = limit)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val a = run(1 << 20) // driver loop
    val b = run(0)       // distributed
    assert(a.keySet == b.keySet)
    a.keySet.foreach(k => assert(math.abs(a(k) - b(k)) < 1e-12))
  }

  test("pageRank: broadcast and shuffle-join iteration paths agree") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (1L, 2L))
      .toDF("src", "dst")
    def run() = Graph.pageRank(edges, iters = 5, driverLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaBroadcast = run() // default threshold: node tables broadcast
    spark.conf.set(graft.GraftConf.GraphBroadcastNodesKey, "0")
    try {
      val viaShuffle = run()
      assert(viaBroadcast.keySet == viaShuffle.keySet)
      viaBroadcast.keySet.foreach(k =>
        assert(math.abs(viaBroadcast(k) - viaShuffle(k)) < 1e-12))
    } finally spark.conf.unset(graft.GraftConf.GraphBroadcastNodesKey)
  }

  test("personalized pageRank: teleport mass stays near the seed set") {
    // chain 0→1→2→3 plus an off-seed island 8↔9; seed = {0}
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (8L, 9L), (9L, 8L))
      .toDF("src", "dst")
    val seeds = Seq(0L).toDF("node")
    def run(limit: Long) = Graph.pageRank(edges, iters = 8,
        driverLimit = limit, sources = seeds)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pr = run(1 << 20)
    // island nodes get zero (no path from the seed, no teleport)
    assert(pr(8L) == 0.0 && pr(9L) == 0.0)
    // the seed holds the full teleport mass; rank decays along chain
    assert(math.abs(pr(0L) - 0.15) < 1e-12)
    assert(pr(0L) > pr(1L) && pr(1L) > pr(2L) && pr(2L) > pr(3L))
    // distributed path: identical arithmetic
    val dist = run(0)
    assert(pr.keySet == dist.keySet)
    pr.keySet.foreach(k => assert(math.abs(pr(k) - dist(k)) < 1e-12))
  }

  test("personalized pageRank: isolated seeds still collect teleport mass") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val seeds = Seq(7L).toDF("node") // not in the edge set at all
    val pr = Graph.pageRank(edges, iters = 3, driverLimit = 0,
        sources = seeds)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.keySet == Set(1L, 2L, 7L))
    assert(math.abs(pr(7L) - 0.15) < 1e-12) // base, no in-links
    assert(pr(1L) == 0.0)
  }

  test("triangles: counts each triangle once on a known graph") {
    // K4 has 4 triangles; plus a disjoint path (none); direction,
    // multi-edges and self-loops normalized away
    val k4 = for {
      a <- 0L to 3L; b <- 0L to 3L if a != b
    } yield (a, b) // both directions = multi after normalize
    val edges = (k4 ++ Seq((10L, 11L), (11L, 12L), (5L, 5L)))
      .toDF("src", "dst")
    val n = Graph.triangles(edges).collect().head.getLong(0)
    assert(n == 4L)
  }

  test("triangles: zero on a triangle-free graph") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(Graph.triangles(edges).collect().head.getLong(0) == 0L)
  }

  test("sssp: known weighted graph, exact distances, unreachable excluded") {
    // 1 -(1)-> 2 -(1)-> 3, and a heavy direct 1 -(5)-> 3; 9 isolated
    val edges = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (1L, 3L, 5.0),
      (8L, 9L, 2.0)).toDF("src", "dst", "weight")
    val out = Graph.sssp(edges, Seq(1L).toDF("node"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out == Map(1L -> 0.0, 2L -> 1.0, 3L -> 2.0)) // not 5.0; no 8/9
  }

  test("sssp: driver path equals the distributed fixpoint") {
    val edges = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (1L, 3L, 5.0),
      (3L, 4L, 0.5), (2L, 1L, 1.0), (4L, 2L, 0.25)) // cyclic
      .toDF("src", "dst", "weight")
    def run(limit: Long) =
      Graph.sssp(edges, Seq(1L).toDF("node"), driverLimit = limit)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(run(1 << 20) == run(0))
  }

  test("sssp: maxIters bounds the walk length on BOTH paths") {
    // 3 only reachable in 2 hops: invisible at maxIters=1; the direct
    // heavy edge to 4 must win at 1 hop, then improve at 2
    val edges = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (1L, 4L, 9.0),
      (2L, 4L, 1.0)).toDF("src", "dst", "weight")
    for (limit <- Seq(1L << 20, 0L)) {
      val h1 = Graph.sssp(edges, Seq(1L).toDF("node"), maxIters = 1,
          driverLimit = limit)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(h1 == Map(1L -> 0.0, 2L -> 1.0, 4L -> 9.0), s"limit=$limit")
      val h2 = Graph.sssp(edges, Seq(1L).toDF("node"), maxIters = 2,
          driverLimit = limit)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(h2 == Map(1L -> 0.0, 2L -> 1.0, 3L -> 2.0, 4L -> 2.0),
        s"limit=$limit")
    }
  }

  test("sssp: multi-source takes the minimum over sources") {
    val edges = Seq((1L, 5L, 4.0), (2L, 5L, 1.0)).toDF("src", "dst", "weight")
    val out = Graph.sssp(edges, Seq(1L, 2L).toDF("node"), driverLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out == Map(1L -> 0.0, 2L -> 0.0, 5L -> 1.0))
  }

  test("pageRank: zero iterations returns the uniform prior") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val out = Graph.pageRank(edges, iters = 0)
      .collect().map(_.getDouble(1))
    assert(out.length == 3 && out.forall(r => math.abs(r - 1.0 / 3) < 1e-12))
  }

  test("walkTree revisits nodes on cycles up to maxRank") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val out = Graph.walkTree(edges, Seq(1L).toDF("node"), maxRank = 4)
    // ranks: 0:1, 1:2, 2:1, 3:2, 4:1
    assert(out.count() == 5)
  }

  test("pivot cells run unchanged on a windowed stream (batch == stream)") {
    // conditional aggregation is stateless per group, so the same
    // pivot plan shape works under a streaming window — the wide
    // per-window row a live dashboard reads
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "kind", "v")
    val cells = Seq("click", "buy").map(k =>
      sum(when(col("kind") === k, col("v"))).as(k))
    val agg = df.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(cells.head, cells.tail: _*)
      .select(col("window.start").as("ws"), col("click"), col("buy"))
    val q = agg.writeStream.format("memory").queryName("pivot_stream")
      .outputMode(OutputMode.Update()).start()
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    mem.addData((ts(0, 5), "click", 1.0), (ts(0, 20), "buy", 10.0),
      (ts(0, 30), "click", 2.0), (ts(1, 10), "buy", 5.0))
    q.processAllAvailable()
    val rows = spark.table("pivot_stream").collect()
      .map(r => r.getTimestamp(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getDouble(1))),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(rows(ts(0, 0)) == ((Some(3.0), Some(10.0))))
    assert(rows(ts(1, 0)) == ((None, Some(5.0))))
    q.stop()
    // and the BATCH pivot over the same rows produces the same cells
    val batch = graft.ext.Reshape.pivot(
      Seq((0, "click", 1.0), (0, "buy", 10.0), (0, "click", 2.0),
        (1, "buy", 5.0)).toDF("h", "kind", "v"),
      Seq("h"), "kind", Seq("click", "buy"), sum, col("v"))
      .collect().map(r => r.getInt(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getDouble(1))),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(batch(0) == ((Some(3.0), Some(10.0))))
    assert(batch(1) == ((None, Some(5.0))))
  }

  test("streaming heavy hitters: windowed Misra-Gries sketch over a stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val df = mem.toDF().toDF("ts", "text")
    // the batch Misra-Gries aggregate, unchanged, per streaming window
    val out = df.withWatermark("ts", "5 minutes")
      .select(col("ts"),
        explode(graft.ext.TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(graft.plans.FreqSketch.freqSketch(col("term"), 8).as("heavy"))
      .select(col("window.start").as("ws"), explode(col("heavy")).as("e"))
      .select(col("ws"), col("e.term").as("term"), col("e.est").as("est"))
    val q = out.writeStream.format("memory").queryName("hh_stream")
      .outputMode(OutputMode.Update()).start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // window 1: a is heavy; window 2: separate counts
    mem.addData((ts(1), "a a a b"), (ts(2), "a c"))
    mem.addData((ts(12), "b b"))
    q.processAllAvailable()
    val rows = spark.table("hh_stream")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    // cap 8 >= distinct terms per window -> the sketch is exact
    val w1 = rows.filter(_._1 == ts(0)).map(r => r._2 -> r._3).toMap
    assert(w1 == Map("a" -> 4L, "b" -> 1L, "c" -> 1L))
    val w2 = rows.filter(_._1 == ts(10)).map(r => r._2 -> r._3).toMap
    assert(w2 == Map("b" -> 2L))
    q.stop()
  }

  test("text analysis expressions lift to streams unchanged") {
    // langId/qualityScore/tokenCount are pure codegen'd expressions —
    // the whole batch text-analysis surface applies to a readStream
    // with zero adaptation (and no state)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      graft.ext.TextAnalysis.langId(col("text")).as("lang"),
      graft.ext.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    val q = out.writeStream.format("memory").queryName("stream_text_test")
      .outputMode(OutputMode.Append()).start()
    mem.addData(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "der schnelle braune fuchs springt und der hund"))
    q.processAllAvailable()
    val rows = spark.table("stream_text_test").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(rows(1L)._1 == "en" && rows(1L)._2 == 9)
    assert(rows(2L)._1 == "de")
    q.stop()
  }

  test("corpus split + chunking lift to streams unchanged") {
    // trainSplit and chunk are stateless scan expressions (md5 bucket,
    // per-row explode) — the batch operators apply to a readStream
    // with zero adaptation, and streamed answers equal the batch ones
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    val out = graft.ext.Corpus.chunk(
      graft.ext.Corpus.trainSplit(df, col("doc_id")),
      col("doc_id"), col("text"), size = 4, overlap = 1)
    val q = out.writeStream.format("memory").queryName("stream_corpus_test")
      .outputMode(OutputMode.Append()).start()
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")),
      (2L, "just four tokens here"))
    mem.addData(docs: _*)
    q.processAllAvailable()
    q.stop()
    import spark.implicits._
    val streamed = spark.table("stream_corpus_test")
      .select("doc_id", "chunk_id", "chunk_text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val batch = graft.ext.Corpus.chunk(docs.toDF("doc_id", "text"),
      col("doc_id"), col("text"), size = 4, overlap = 1)
      .select("doc_id", "chunk_id", "chunk_text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming ANN: micro-batches rank against the static corpus") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = graft.sources.Tables.load(spark, sf, "embeddings").df
    val mem = MemoryStream[(Long, Seq[Float])]
    val queries = mem.toDF().toDF("vec_id", "embedding")
    val got = scala.collection.mutable.Map[Long, Seq[Long]]()
    // the corpus side is prepped once; each micro-batch is the query
    // side of the batch operator
    val prepped = graft.ext.Similarity.prepCorpus(corpus)
      .localCheckpoint(true)
    val q = eachBatch(queries) { (batch, _) =>
      graft.ext.Similarity.bruteForceTopKPrepped(batch, prepped, 3)
        .collect().groupBy(_.getLong(0)).foreach { case (qid, rows) =>
          got.synchronized {
            got(qid) = rows.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq
          }
        }
    }
    // stream two corpus vectors as queries: each must match the BATCH
    // operator's answer exactly — one code path, streamed
    val probe = corpus.filter(col("vec_id") < 2).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    mem.addData(probe.toSeq)
    q.processAllAvailable()
    q.stop()
    val batch = graft.ext.Similarity.bruteForceTopK(
        corpus.filter(col("vec_id") < 2), corpus, 3)
      .collect().groupBy(_.getLong(0))
      .map { case (qid, rows) =>
        qid -> rows.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq }
    assert(got.toMap == batch)
  }

  test("streaming simhash near-dup admits first doc, drops near-copies") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "doc_id", "text")
    val q = withSimhash(df)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("_simhash")
      .writeStream.format("memory").queryName("neardup_sh_test")
      .outputMode(OutputMode.Append()).start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val base = "the quick brown fox jumps over the lazy dog again and again"
    mem.addData(
      (ts(1), 1L, base),
      (ts(5), 2L, base), // exact copy: identical simhash → dropped
      (ts(9), 3L, "completely different words entirely unrelated content"))
    q.processAllAvailable()
    val ids = spark.table("neardup_sh_test").select("doc_id")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(ids == Seq(1L, 3L))
    q.stop()
  }

  test("streaming preprocessing pipeline gates quality/lang and dedups") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "doc_id", "text")
    val TA = graft.ext.TextAnalysis
    val gated = df
      .withColumn("n_tokens", TA.tokenCount(col("text")))
      .withColumn("lang", TA.langId(col("text")))
      .withColumn("q", TA.qualityScore(col("text")))
      .filter(col("q") >= 0.05 && col("lang") === "en" &&
        col("n_tokens") >= 5)
    val q = withSimhash(gated)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("_simhash")
      .writeStream.format("memory").queryName("preprocess_stream_test")
      .outputMode(OutputMode.Append()).start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val good = "the quick brown fox jumps over the lazy dog and runs off"
    mem.addData(
      (ts(1), 1L, good),
      (ts(2), 2L, good),                    // near-dup → dropped
      (ts(3), 3L, "el gato y la casa de la playa es de la abuela"), // es → gated
      (ts(4), 4L, "too short"),             // < minTokens → gated
      (ts(5), 5L, "the house and the tree of a very green garden of mine"))
    q.processAllAvailable()
    val out = spark.table("preprocess_stream_test")
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(ids == Seq(1L, 5L))
    // the gating signals ride along in the output schema
    assert(Seq("n_tokens", "lang", "q").forall(out.columns.contains))
    q.stop()
  }

  test("streaming minhash band admissions: copies collide on every band") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "doc_id", "text")
    val D = graft.ext.Dedup
    val sig = D.signatureFromHashes(
      D.shingleHashes(col("text"), hasher = D.fastHasher), 12)
    val q = df
      .select(col("doc_id"), col("ts"),
        posexplode(D.bandBuckets(sig, 4, 3)).as(Seq("band", "bucket")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("band", "bucket")
      .writeStream.format("memory").queryName("neardup_mh_test")
      .outputMode(OutputMode.Append()).start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val base = "the quick brown fox jumps over the lazy dog again and again"
    mem.addData(
      (ts(1), 1L, base),
      (ts(5), 2L, base), // identical text: every band collides → 0 admitted
      (ts(9), 3L, "completely different words entirely unrelated content"))
    q.processAllAvailable()
    val admitted = spark.table("neardup_mh_test")
      .groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(admitted.getOrElse(1L, 0L) == 4L) // all 4 bands admitted
    assert(!admitted.contains(2L))           // exact copy: none admitted
    assert(admitted.getOrElse(3L, 0L) == 4L)
    q.stop()
  }

  test("streaming decontamination == batch operator, per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val benchDoc = (1 to 12).map(i => s"e$i").mkString(" ")
    val bench = Seq((100L, benchDoc)).toDF("bid", "btext")
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    // the eval grams reduce once; each micro-batch runs the batch
    // operator against them
    val C = graft.ext.Corpus
    val grams = C.benchGramSet(bench, "btext").localCheckpoint(true)
    val q = eachBatch(docs) { (batch, _) =>
      val kept = C.decontaminateWithGrams(batch, "doc_id", "text", grams)
      got.synchronized { got ++= kept.collect().map(_.getLong(0)) }
    }
    val batchRows = Seq(
      1L -> ("clean words " + (1 to 12).map(i => s"w$i").mkString(" ")),
      2L -> ("leaky prefix " + (1 to 12).map(i => s"e$i").mkString(" ")))
    mem.addData(batchRows: _*)
    q.processAllAvailable()
    // second micro-batch: decisions are independent, state never grows
    mem.addData(3L -> ("also clean " + (1 to 12).map(i => s"v$i").mkString(" ")))
    q.processAllAvailable()
    q.stop()
    assert(got.sorted.toSeq == Seq(1L, 3L))
  }

  test("hygiene gates (redaction + weighted sampling) lift to streams unchanged") {
    // redactPii/piiCount and the weightedSample predicate are pure
    // per-row expressions — continuous-ingestion hygiene needs no
    // state, no watermark, no adaptation
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    val gated = graft.ext.Corpus.weightedSample(
      df, col("doc_id"), when(col("doc_id") < 100, 1.0).otherwise(0.0))
    val out = gated.select(col("doc_id"),
      graft.ext.TextAnalysis.piiCount(col("text")).as("n_pii"),
      graft.ext.TextAnalysis.redactPii(col("text")).as("clean"))
    val q = out.writeStream.format("memory").queryName("stream_hygiene_test")
      .outputMode(OutputMode.Append()).start()
    mem.addData((1L, "mail a@b.io now"), (2L, "clean words"),
      (500L, "weight-zero row must drop"))
    q.processAllAvailable()
    val rows = spark.table("stream_hygiene_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    assert(rows.toSeq == Seq(
      (1L, 1L, "mail <EMAIL> now"), (2L, 0L, "clean words")))
    q.stop()
  }

  test("streaming LM gate: per-batch scores match the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ref = Seq((1L, "the quick brown fox jumps over the lazy dog " +
      "and the dog sleeps under the tree")).toDF("doc_id", "text")
    val model = graft.ext.Corpus.lmTrain(ref, "text")
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    val out = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
    // the model's count tables materialize once, not per trigger
    val m = model.copy(bigrams = model.bigrams.localCheckpoint(true),
      contexts = model.contexts.localCheckpoint(true))
    val q = eachBatch(df) { (batch, _) =>
      val kept = graft.ext.Corpus.lmScore(batch, "doc_id", "text", m)
        .filter(col("lm_score") >= -2.2)
      out ++= kept.collect().map(r => (r.getLong(0), r.getDouble(3)))
    }
    val texts = Seq(
      10L -> "the quick brown fox jumps over the lazy dog", // in-model
      11L -> "zz yy xx ww vv uu tt ss")                     // full OOV
    mem.addData(texts: _*)
    q.processAllAvailable()
    q.stop()
    val batchKept = graft.ext.Corpus.lmScore(
      texts.toDF("doc_id", "text"), "doc_id", "text", model)
      .filter(col("lm_score") >= -2.2)
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    assert(out.toSet == batchKept.toSet)
    assert(out.map(_._1).toSet == Set(10L)) // gibberish gated out
  }

  test("streaming classifier gate: stateless margin filter matches the batch decision") {
    implicit val sqlCtx = spark.sqlContext
    val w = graft.ext.TextAnalysis.md5Weights(256)
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    val gated = df.withColumn("margin",
        graft.ext.TextAnalysis.linearMargin(col("text"), w, 0.25))
      .filter(col("margin") >= 0.0)
    val q = gated.writeStream.format("memory").queryName("clf_gate_test")
      .outputMode(OutputMode.Append()).start()
    val texts = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "spark rows shuffle merge batch window scan",
      3L -> "alpha beta gamma delta epsilon zeta",
      4L -> "completely different words entirely unrelated")
    mem.addData(texts: _*)
    q.processAllAvailable()
    val streamed = spark.table("clf_gate_test")
      .collect().map(_.getLong(0)).toSet
    q.stop()
    // the identical expression over the identical rows, batch mode
    val batch = texts.toDF("doc_id", "text")
      .filter(graft.ext.TextAnalysis.linearMargin(col("text"), w, 0.25) >= 0.0)
      .collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
    // the margin rides along for downstream weighting
    assert(spark.table("clf_gate_test").columns.contains("margin"))
  }

  test("streaming bloom decontamination: stateless filter matches the batch keep-set") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val bench = Seq((100L, "leaked eval question about spark shuffles here now"))
      .toDF("bid", "btext")
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    val kept = df.filter(graft.ext.Corpus.bloomKeepPredicate(col("text"),
      bench, "btext"))
    val q = kept.writeStream.format("memory").queryName("bloom_gate_test")
      .outputMode(OutputMode.Append()).start()
    val texts = Seq(
      1L -> "a clean document with its own words one two three four five",
      2L -> "prefix then leaked eval question about spark shuffles here now",
      3L -> "another clean one entirely unrelated to the benchmark suite",
      4L -> "leaked eval question about spark shuffles here now verbatim tail")
    mem.addData(texts.take(2): _*)
    q.processAllAvailable()
    mem.addData(texts.drop(2): _*) // second trigger: same static filter
    q.processAllAvailable()
    val streamed = spark.table("bloom_gate_test")
      .collect().map(_.getLong(0)).toSet
    q.stop()
    val batch = graft.ext.Corpus.decontaminateBloom(
      texts.toDF("doc_id", "text"), "doc_id", "text", bench, "btext")
      .collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
    assert(streamed == Set(1L, 3L)) // both contaminated docs dropped
  }

  test("streaming CDC merge: last-wins per key, tombstones delete, table live mid-stream") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.Maintenance
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cdc").toString + "/tbl"
    val mem = MemoryStream[(Long, Long, Double, Boolean)]
    val df = mem.toDF().toDF("k", "seq", "v", "del")
    val q = eachBatch(df) { (b, _) =>
      Streams.upsertKeyedBatch(b, dir, "k", 4,
        seqCol = Some("seq"), deleteCol = Some("del"))
    }
    // batch 1 bootstraps; k=2 gets two updates — seq 11 wins
    mem.addData((1L, 10L, 1.0, false), (2L, 10L, 2.0, false),
      (2L, 11L, 2.5, false), (3L, 10L, 3.0, false))
    q.processAllAvailable()
    def snap() = Maintenance.readKeyed(spark, dir).select("k", "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(snap() == Map(1L -> 1.0, 2L -> 2.5, 3L -> 3.0))
    // the tombstone column never lands in the table
    assert(!Maintenance.readKeyed(spark, dir).columns.contains("del"))
    // batch 2: update k=1, delete k=3, insert k=4; k=5's last row is a
    // tombstone for a key that was never inserted (no-op delete)
    mem.addData((1L, 20L, 1.5, false), (3L, 20L, 0.0, true),
      (4L, 20L, 4.0, false), (5L, 20L, 5.0, false), (5L, 21L, 0.0, true))
    q.processAllAvailable()
    q.stop()
    assert(snap() == Map(1L -> 1.5, 2L -> 2.5, 4L -> 4.0))
    // REPLAY SAFETY: foreachBatch is at-least-once — re-merging batch
    // 2's rows verbatim leaves the table content-identical (one more
    // manifest version, same rows)
    val vBefore = Maintenance.manifestVersions(spark, dir).last
    Streams.upsertKeyedBatch(
      Seq((1L, 20L, 1.5, false), (3L, 20L, 0.0, true),
        (4L, 20L, 4.0, false), (5L, 20L, 5.0, false), (5L, 21L, 0.0, true))
        .toDF("k", "seq", "v", "del"),
      dir, "k", 4, seqCol = Some("seq"), deleteCol = Some("del"))
    assert(snap() == Map(1L -> 1.5, 2L -> 2.5, 4L -> 4.0))
    assert(Maintenance.manifestVersions(spark, dir).last > vBefore)
    // time travel still resolves the pre-replay snapshot
    assert(Maintenance.readKeyed(spark, dir, Some(vBefore))
      .count() == 3)
    // CROSS-BATCH last-wins: a late batch carrying OLDER sequences
    // (out-of-order source) must not regress stored rows — neither an
    // older update (k=1 seq 5 < stored 20) nor an older tombstone
    // (k=2 del at seq 5 < stored 11); a genuinely newer row applies
    Streams.upsertKeyedBatch(
      Seq((1L, 5L, 99.0, false), (2L, 5L, 0.0, true), (4L, 30L, 4.5, false))
        .toDF("k", "seq", "v", "del"),
      dir, "k", 4, seqCol = Some("seq"), deleteCol = Some("del"))
    assert(snap() == Map(1L -> 1.5, 2L -> 2.5, 4L -> 4.5))
  }

  test("streaming agg state: micro-batches fold into the bucketed view; txn watermark makes replays no-ops") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.Maintenance
    val dir = java.nio.file.Files
      .createTempDirectory("graft_aggstream").toString + "/state"
    val mem = MemoryStream[(String, Double)]
    val q = eachBatch(mem.toDF().toDF("g", "v")) { (b, id) =>
      Streams.aggStateBatch(b, id, dir, Seq("g"), "v", nBuckets = 4,
        appId = "view1", compactEvery = 2)
    }
    mem.addData(("a", 1.0), ("a", 2.0), ("b", 10.0))
    q.processAllAvailable()
    def view() = Maintenance.finalizeAgg(
      Maintenance.readKeyed(spark, dir), Seq("g"))
      .select("g", "n", "total")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(view() == Map("a" -> (2L, 3.0), "b" -> (1L, 10.0)))
    mem.addData(("a", 4.0), ("c", 7.0))
    q.processAllAvailable()
    q.stop()
    assert(view() == Map("a" -> (3L, 7.0), "b" -> (1L, 10.0),
      "c" -> (1L, 7.0)))
    // the watermark committed atomically with the data
    assert(Maintenance.lastTxn(spark, dir, "view1").contains(1L))
    // foreachBatch is at-least-once: REPLAYING batch 1 verbatim is a
    // NO-OP (returns false, counts don't double) — aggregation has no
    // last-wins to hide behind, the txn slot is what saves it
    assert(!Streams.aggStateBatch(
      Seq(("a", 4.0), ("c", 7.0)).toDF("g", "v"), 1L, dir,
      Seq("g"), "v", 4, appId = "view1"))
    assert(view() == Map("a" -> (3L, 7.0), "b" -> (1L, 10.0),
      "c" -> (1L, 7.0)))
    // a genuinely NEW batch under a fresh id applies...
    assert(Streams.aggStateBatch(
      Seq(("b", 5.0)).toDF("g", "v"), 2L, dir, Seq("g"), "v", 4,
      appId = "view1"))
    assert(view() == Map("a" -> (3L, 7.0), "b" -> (2L, 15.0),
      "c" -> (1L, 7.0)))
    // ...and compaction (an interleaved maintenance commit) carries
    // the watermark forward instead of blanking it
    Maintenance.compactKeyed(spark, dir)
    assert(Maintenance.readManifest(spark, dir).deltas.values
      .forall(_.isEmpty))
    assert(Maintenance.lastTxn(spark, dir, "view1").contains(2L))
    assert(!Streams.aggStateBatch(
      Seq(("b", 5.0)).toDF("g", "v"), 2L, dir, Seq("g"), "v", 4,
      appId = "view1"))
    assert(view() == Map("a" -> (3L, 7.0), "b" -> (2L, 15.0),
      "c" -> (1L, 7.0)))
  }

  test("CDC source: a cursor consumer tails the version chain, sees exactly the changed keys, replays idempotently") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.Maintenance
    val root = java.nio.file.Files
      .createTempDirectory("graft_cdcsrc").toString
    val dir = root + "/tbl"
    val cursor = root + "/consumer1.cursor"
    val mem = MemoryStream[(Long, Long, Double, Boolean)]
    val q = eachBatch(mem.toDF().toDF("k", "seq", "v", "del")) { (b, _) =>
      Streams.upsertKeyedBatch(b, dir, "k", 4,
        seqCol = Some("seq"), deleteCol = Some("del"))
    }
    mem.addData((1L, 10L, 1.0, false), (2L, 10L, 2.0, false),
      (3L, 10L, 3.0, false))
    q.processAllAvailable()
    def batch(b: org.apache.spark.sql.DataFrame) =
      b.collect().map(r => r.getLong(0) -> r.getString(1)).toSet
    // fresh consumer: the initial load is the whole snapshot as 'added'
    val Some((b1, f1, t1)) = Streams.pollKeyedChanges(spark, dir, cursor)
    assert(f1 == 0 && t1 == Maintenance.manifestVersions(spark, dir).last)
    assert(batch(b1) == Set(1L -> "added", 2L -> "added", 3L -> "added"))
    // poll does NOT advance: an immediate re-poll re-emits the
    // identical batch (crash-between-process-and-commit replay)
    val Some((b1r, _, t1r)) = Streams.pollKeyedChanges(spark, dir, cursor)
    assert(t1r == t1 && batch(b1r) == batch(b1))
    Streams.commitChangeCursor(spark, cursor, t1)
    // up to date -> no batch
    assert(Streams.pollKeyedChanges(spark, dir, cursor).isEmpty)
    // writes land: update k=1, delete k=3, insert k=4 -> the consumer
    // sees EXACTLY those keys (k=2 untouched, absent from the feed)
    mem.addData((1L, 20L, 1.5, false), (3L, 20L, 0.0, true),
      (4L, 20L, 4.0, false))
    q.processAllAvailable()
    q.stop()
    var seen = Set.empty[(Long, String)]
    assert(tailChanges(dir, cursor) { (ch, f, t) =>
      assert(f == t1 && t > f)
      seen = batch(ch)
    })
    assert(seen == Set(1L -> "changed", 3L -> "removed", 4L -> "added"))
    // the tail advanced the cursor; nothing new -> the loop idles
    assert(!tailChanges(dir, cursor) { (_, _, _) =>
      fail("no batch expected") })
    // a SECOND consumer with its own cursor replays from scratch and
    // lands at the same final keys (independent cursors, one table)
    val cursor2 = root + "/consumer2.cursor"
    val Some((c1, _, ct)) = Streams.pollKeyedChanges(spark, dir, cursor2)
    assert(batch(c1) == Set(1L -> "added", 2L -> "added", 4L -> "added"))
    Streams.commitChangeCursor(spark, cursor2, ct)
    assert(Streams.pollKeyedChanges(spark, dir, cursor2).isEmpty)
    // bounded catch-up: a lagging third consumer advances at most
    // maxVersions per poll and converges on the same final keys
    val cursor3 = root + "/consumer3.cursor"
    var hops = 0
    while (tailChanges(dir, cursor3, maxVersions = 1) { (ch, f, t) =>
      assert(t - f <= 1); ch.count(); hops += 1
    } && hops < 10) ()
    assert(hops >= 2, s"bounded poll folded the lag into $hops hop(s)")
    assert(Streams.readChangeCursor(spark, cursor3) ==
      graft.sources.Maintenance.manifestVersions(spark, dir).last)
  }
}
