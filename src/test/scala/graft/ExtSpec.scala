package graft

import org.apache.spark.sql.functions._
import graft.ext.{Corpus, Dedup, Similarity, TextAnalysis, Multimodal}
import graft.sources.Tables

class ExtSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, sf, "documents").df
  private lazy val emb = Tables.load(spark, sf, "embeddings").df

  test("tokenCount: empty and blank are 0") {
    val out = Seq("", "  ", "a b  c").toDF("t")
      .select(TextAnalysis.tokenCount(col("t"))).collect().map(_.getInt(0))
    assert(out.toSeq == Seq(0, 0, 3))
  }

  test("subwordCount: BPE-ish pre-tokens — words, digit chunks, punct runs") {
    val out = Seq("Hello, world! 12345", "", "don't stop", "a b")
      .toDF("t").select(TextAnalysis.subwordCount(col("t")))
      .collect().map(_.getInt(0))
    // "Hello" "," " world" "!" " 123" "45" = 6
    // "don" "'" "t" " stop" = 4 (punct run splits the contraction)
    assert(out.toSeq == Seq(6, 0, 4, 2))
    // bills punctuation/number-heavy text that whitespace counting
    // underestimates (the budget-planning use case)
    val Seq(ws, sw) = Seq("x=1;y=2;z=3").toDF("t")
      .select(TextAnalysis.tokenCount(col("t")).cast("int"),
        TextAnalysis.subwordCount(col("t")))
      .collect().map(r => Seq(r.getInt(0), r.getInt(1))).head
    assert(ws == 1 && sw > ws)
  }

  test("fingerprint is whitespace/punct-invariant") {
    val fps = Seq("Hello,  World!", "hello world", "HELLO-WORLD").toDF("t")
      .select(TextAnalysis.fingerprint(col("t"))).collect().map(_.getString(0))
    assert(fps.distinct.length == 1)
  }

  test("langId picks the language with most stopword hits") {
    val out = Seq(
      "the cat and the dog of the house",
      "el gato y la casa de madrid",
      "qwerty zxcvb").toDF("t")
      .select(TextAnalysis.langId(col("t"))).collect().map(_.getString(0))
    assert(out.toSeq == Seq("en", "es", "und"))
  }

  test("shingles: short text yields single whole-text shingle") {
    val out = Seq("one two").toDF("t")
      .select(Dedup.shingles(col("t"), 3)).head().getSeq[String](0)
    assert(out == Seq("one two"))
    val out3 = Seq("a b c d").toDF("t")
      .select(Dedup.shingles(col("t"), 3)).head().getSeq[String](0)
    assert(out3 == Seq("a b c", "b c d"))
  }

  test("minhashPairs finds planted exact duplicates") {
    val aug = docs.select(col("doc_id"), col("text")).limit(50)
      .unionAll(docs.select((col("doc_id") + 1000).as("doc_id"), col("text"))
        .limit(5))
    val pairs = Dedup.minhashPairs(aug, "doc_id", "text", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 5).foreach { i =>
      assert(pairs.exists { case (a, b) => b - a == 1000 })
    }
  }

  test("minhashPairs fast-hash path finds the same planted duplicates") {
    val aug = docs.select(col("doc_id"), col("text")).limit(50)
      .unionAll(docs.select((col("doc_id") + 1000).as("doc_id"), col("text"))
        .limit(5))
    val fast = Dedup.minhashPairs(aug, "doc_id", "text", 0.9,
      hasher = Dedup.fastHasher)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast.count { case (a, b) => b - a == 1000 } == 5)
  }

  test("x26 synthetic corpus: planted near-dups recalled, nothing else") {
    // small-scale twin of the 300k probe: every pair (2g, 2g+1) is a
    // planted near-dup at token-Jaccard ≈ 0.875; LSH at k=12/bands=4
    // detects each with p ≈ 0.99, and the exact-verify stage must
    // reject every cross-group candidate
    val pairs = Dedup.minhashPairs(SparkEntry.synthDocs(spark, 500L),
        "doc_id", "text", 0.8, hasher = Dedup.fastHasher)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.forall { case (a, b) => a % 2 == 0 && b == a + 1 },
      s"non-planted pair survived exact verification: $pairs")
    assert(pairs.size >= 450, s"recall too low: ${pairs.size}/500")
  }

  test("jaccardPairs hot-block fallback: subset of exact, planted dups kept") {
    // one hot block (same lang+source) over the cap: LSH path engages
    val hot = docs.limit(40)
      .select(col("doc_id"), col("text"), lit("xx").as("lang"),
        lit("hot").as("source"))
    val aug = hot.unionAll(hot.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000).as("doc_id"), col("text"),
        col("lang"), col("source")))
    def pairSet(maxBlock: Int) =
      Dedup.jaccardPairs(aug, "doc_id", "text", Seq("lang", "source"),
        0.9, maxBlock = maxBlock)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(maxBlock = 10000) // all-pairs path
    val capped = pairSet(maxBlock = 10)   // forces the LSH fallback
    assert(capped.subsetOf(exact), "fallback invented pairs")
    // exact duplicates share every minhash band — LSH cannot miss them
    val planted = exact.filter { case (a, b) => b - a == 1000 }
    assert(planted.nonEmpty && planted.subsetOf(capped),
      s"planted dups lost: ${planted diff capped}")
  }

  test("jaccardPairsExact (prefix filter) equals the all-pairs result") {
    val aug = docs.limit(60).select(col("doc_id"), col("text"),
      col("lang"), col("source"))
      .unionAll(docs.limit(60).filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000).as("doc_id"), col("text"),
          col("lang"), col("source")))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Dedup.jaccardPairsExact(aug, "doc_id", "text",
      Seq("lang", "source"), 0.5))
    val allPairs = pairs(Dedup.jaccardPairs(aug, "doc_id", "text",
      Seq("lang", "source"), 0.5, maxBlock = 100000))
    assert(exact == allPairs, // prefix filtering must lose NOTHING
      s"missing: ${allPairs diff exact}, extra: ${exact diff allPairs}")
    assert(exact.nonEmpty)
  }

  test("cosinePairs hot-block epsilon-grid: IDENTICAL to all-pairs result") {
    val hot = emb.limit(40).select(col("vec_id"), col("embedding"),
      lit("hot").as("label"))
    val aug = hot.unionAll(hot.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000).as("vec_id"), col("embedding"),
        col("label")))
    for (threshold <- Seq(0.999, 0.8)) {
      def pairSet(maxBlock: Int) =
        Similarity.cosinePairs(aug, threshold, "label", maxBlock = maxBlock)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = pairSet(maxBlock = 10000) // direct in-block pair join
      val capped = pairSet(maxBlock = 10)   // forces the grid path
      // the epsilon-grid candidate set is a superset of true pairs and
      // every candidate is exact-verified — full recall, zero loss
      assert(capped == exact, s"t=$threshold missing: ${exact diff capped}, " +
        s"extra: ${capped diff exact}")
      val planted = exact.filter { case (a, b) => b - a == 1000 }
      assert(planted.nonEmpty, s"t=$threshold planted dups absent from exact")
    }
  }

  test("simhash: near-identical texts have small hamming distance") {
    val df = Seq(
      ("t1", "the quick brown fox jumps over the lazy dog again and again"),
      ("t2", "the quick brown fox jumps over the lazy cat again and again"),
      ("t3", "completely different words entirely unrelated content here"))
      .toDF("id", "t").select(col("id"),
        Dedup.simhashFromHashes(Dedup.tokenHashes(col("t"))).as("sh"))
    val m = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m("t1"), m("t2")) < ham(m("t1"), m("t3")))
  }

  test("native CentroidArgmax matches the fold path; k=4096 plan stays flat") {
    val corpus = emb.limit(200)
    val (assignedFold, cents) = Similarity.ivfAssign(corpus, nCentroids = 8)
    val centSeq = cents.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    val native = corpus.select(col("vec_id"),
      graft.plans.CentroidArgmax(col("embedding"), centSeq).as("centroid_id"))
    val foldMap = assignedFold.select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nativeMap = native.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nativeMap == foldMap) // same scan order, ops, tie-breaking
    // 4096 centroids: the flat binary literal keeps the plan O(1) in k
    // (the typedlit fold at this k builds ~4096×16 literal nodes)
    val dim = centSeq.head._2.length
    val big = (0 until 4096).map { i =>
      val v = Seq.tabulate(dim)(j => (((i * 31 + j * 7) % 97) + 1) / 97.0f)
      var s = 0.0; v.foreach(x => s += x.toDouble * x.toDouble)
      (i.toLong, v, math.sqrt(s))
    }
    val bigDf = corpus.select(col("vec_id"),
      graft.plans.CentroidArgmax(col("embedding"), big).as("centroid_id"))
    val p = bigDf.queryExecution.executedPlan.toString
    assert(p.length < 50000, s"plan blew up: ${p.length} chars")
    assert(!p.contains("Exchange"), "assignment must stay zero-shuffle")
    assert(bigDf.collect().length == 200)
  }

  test("native PlaneSigs is bit-identical to the per-plane HOF fold; plan stays flat") {
    import org.apache.spark.sql.types.DoubleType
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val (nTables, nPlanes) = (6, 8)
    // the HOF formula PlaneSigs replaced, reconstructed verbatim with
    // the same md5-derived plane values (planeValue is private, so
    // mirror its h60 derivation here)
    def planeValue(j: Int, i: Int): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"${j}_$i".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2001L)
        .toDouble / 1000.0 - 1.0
    }
    val foldSigs = array((0 until nTables).map { tbl =>
      (0 until nPlanes).map { j =>
        val plane = typedlit((0 until dim).map(i => planeValue(tbl * nPlanes + j, i)))
        when(
          aggregate(
            zip_with(col("embedding"), plane, (x, p) => x.cast(DoubleType) * p),
            lit(0.0), (s, v) => s + v) >= 0,
          lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)
    val planes = Array.tabulate(nTables * nPlanes * dim) { idx =>
      val tbl = idx / (nPlanes * dim); val rem = idx % (nPlanes * dim)
      planeValue(tbl * nPlanes + rem / dim, rem % dim)
    }
    val nativeDf = emb.limit(100).select(col("vec_id"),
      graft.plans.PlaneSigs(col("embedding"), nTables, nPlanes, dim, planes).as("s"))
    val native = nativeDf.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val fold = emb.limit(100).select(col("vec_id"), foldSigs.as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native == fold)
    // the payload keeps the plan O(1) in tables x planes
    val p = nativeDf.queryExecution.executedPlan.toString
    assert(p.length < 20000, s"plan blew up: ${p.length} chars")
  }

  test("native WordNgrams is byte-identical to the transform/slice/concat_ws chain") {
    val base = docs.limit(200).select(col("doc_id"),
      TextAnalysis.tokens(col("text")).as("tok")).localCheckpoint(true)
    for (n <- Seq(2, 3, 8)) {
      // the HOF formula the native expression replaced, verbatim
      val hof = transform(
        sequence(lit(0), size(col("tok")) - n),
        i => concat_ws(" ", slice(col("tok"), i + 1, lit(n))))
      val long = base.filter(size(col("tok")) >= n)
      val native = long.select(col("doc_id"),
          graft.plans.WordNgrams(col("tok"), n).as("g")).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val fold = long.select(col("doc_id"), hof.as("g")).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(native == fold, s"n=$n diverged")
    }
    // short arrays produce an empty ngram list; null input stays null
    val edge = spark.sql(
      "SELECT graft_word_ngrams(array('a', 'b'), 3) AS a, " +
        "graft_word_ngrams(CAST(NULL AS ARRAY<STRING>), 3) AS b")
      .collect().head
    assert(edge.getSeq[String](0).isEmpty && edge.isNullAt(1))
  }

  test("native AffineMinHash is bit-identical to the k-way array_min fold") {
    val base = docs.limit(100).select(col("doc_id"),
      Dedup.shingleHashes(col("text")).as("hs")).localCheckpoint(true)
    val k = 12
    // the HOF formula the native expression replaced, verbatim
    val fold = array((0 until k).map { i =>
      val (a, b) = Dedup.fam(i)
      array_min(transform(col("hs"), h => (lit(a) * h + lit(b)) % Dedup.P))
    }: _*)
    val native = base.select(col("doc_id"),
        Dedup.signatureFromHashes(col("hs"), k).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val hof = base.select(col("doc_id"), fold.as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native == hof)
    // array_min semantics preserved: null elements skip, empty/all-null
    // arrays yield null signature entries
    val edge = spark.sql(
      "SELECT graft_affine_minhash(array(CAST(NULL AS BIGINT), 7L), " +
        s"${edgePayloadSql(k)}) AS a, " +
        s"graft_affine_minhash(array(CAST(NULL AS BIGINT)), ${edgePayloadSql(k)}) AS b, " +
        s"graft_affine_minhash(CAST(NULL AS ARRAY<BIGINT>), ${edgePayloadSql(k)}) AS c")
      .collect().head
    assert(edge.getSeq[Any](0).forall(_ != null))
    assert(edge.getSeq[Any](1).forall(_ == null) &&
      edge.getSeq[Any](1).length == k)
    // null INPUT array -> NULL signature (engine-wide null
    // propagation; intentionally not the old fold's array of nulls)
    assert(edge.isNullAt(2))
  }

  private def edgePayloadSql(k: Int): String = {
    val bytes = graft.plans.AffineMinHash.pack(Dedup.P,
      (0 until k).map(Dedup.fam))
    "X'" + bytes.map(b => f"$b%02x").mkString + "'"
  }

  test("native FloatVecDot is bit-identical to the HOF dot") {
    val both = emb.limit(100).select(
      Similarity.fdot(col("embedding"), col("embedding")).as("native"),
      Similarity.dot(col("embedding"), col("embedding")).as("hof"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("bruteForceTopK returns k ranked neighbors per query") {
    val out = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 2), emb, 5)
    val rows = out.collect()
    assert(rows.length == 10)
    assert(rows.map(_.getInt(2)).toSet == Set(1, 2, 3, 4, 5))
  }

  test("lshTopK results are a subset of brute-force candidates") {
    val brute = Similarity.bruteForceTopK(
      emb.filter(col("vec_id") < 3), emb, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb.filter(col("vec_id") < 3), emb, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // LSH returns fewer (bucket-filtered) but top-ranked ones should
    // overlap with brute force top candidates
    assert(lsh.nonEmpty)
  }

  test("lshTopKMulti: OR-amplification dominates single-table recall; ranks well-formed") {
    val qs = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(qs, emb, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        .intersect(brute).size
    val single = hits(Similarity.lshTopK(qs, emb, 10, nPlanes = 6))
    val multi = Similarity.lshTopKMulti(qs, emb, 10, nPlanes = 6,
      nTables = 24)
    val multiRows = multi.collect()
    // candidate-if-ANY-table-collides can only widen the single-table
    // candidate set (table 0 IS the single-table signature)
    assert(hits(multi) >= single)
    assert(hits(multi) >= brute.size / 2)
    // per-query ranks are 1..n with no duplicate neighbors
    multiRows.groupBy(_.getLong(0)).values.foreach { g =>
      assert(g.map(_.getInt(2)).sorted.toSeq == (1 to g.length))
      assert(g.map(_.getLong(1)).distinct.length == g.length)
    }
  }

  test("ivfTopK: assignment covers corpus; results overlap brute force") {
    val (assigned, _) = Similarity.ivfAssign(emb, nCentroids = 8)
    assert(assigned.count() == emb.count()) // every vector gets one list
    assert(assigned.select("centroid_id").distinct().count() > 1)
    val q = emb.filter(col("vec_id") < 3)
    val ivf = Similarity.ivfTopK(q, emb, 10, nCentroids = 8, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteForceTopK(q, emb, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.nonEmpty)
    // probing half the lists should recover a good share of true top-k
    assert((ivf intersect brute).size >= brute.size / 3)
  }

  test("connectedComponents: driver union-find equals distributed rounds") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (5L, 3L), (20L, 21L),
      (21L, 22L), (22L, 20L)).toDF("id_a", "id_b")
    def labels(limit: Long) =
      Dedup.connectedComponents(pairs, driverLimit = limit)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = labels(1 << 20) // driver union-find path
    val dist = labels(0)       // forced distributed min-label rounds
    assert(fast == dist)
    assert(fast(5L) == 1L && fast(11L) == 10L && fast(22L) == 20L)
  }

  test("ivfAssignKMeans: refined centroids tighten the lists") {
    import org.apache.spark.sql.DataFrame
    def meanSim(pair: (DataFrame, DataFrame)): Double = {
      val (assigned, centroids) = pair
      assigned.join(broadcast(centroids), Seq("centroid_id"))
        .select(avg(Similarity.fdot(col("embedding"), col("cvec")) /
          (Similarity.fnorm(col("embedding")) * col("cn"))))
        .head().getDouble(0)
    }
    val plain = Similarity.ivfAssign(emb, 8)
    val refined = Similarity.ivfAssignKMeans(emb, 8, iters = 3)
    assert(refined._1.count() == emb.count())
    assert(refined._1.select("centroid_id").distinct().count() > 1)
    // Lloyd iterations cannot worsen mean centroid similarity
    assert(meanSim(refined) >= meanSim(plain) - 1e-9)
  }

  test("hll sketches: estimates near exact, partial sketches merge") {
    import graft.functions.PF
    val ev = Tables.load(spark, sf, "events").df
    val exact = ev.select(countDistinct(col("user_id"))).head().getLong(0)
    val approx = ev.select(PF.approxCountDistinct(col("user_id"), 0.02))
      .head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05)
    // per-type partial sketches union to the global estimate — the
    // incremental rollup shape
    val merged = ev.groupBy("event_type")
      .agg(PF.hllSketch(col("user_id")).as("sk"))
      .select(PF.hllEstimate(hll_union_agg(col("sk"))).as("est"))
      .head().getLong(0)
    assert(math.abs(merged - exact).toDouble / exact < 0.05)
  }

  test("multimodal: blobMeta sniffs real format headers") {
    def png2x2: Array[Byte] = {
      val im = new java.awt.image.BufferedImage(2, 2,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", bos)
      bos.toByteArray
    }
    def gif3x2: Array[Byte] = {
      val im = new java.awt.image.BufferedImage(3, 2,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "gif", bos)
      bos.toByteArray
    }
    import spark.implicits._
    val blobs = Seq(
      (0L, png2x2), (1L, gif3x2),
      (2L, Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte)),
      (3L, "plain old text".getBytes("UTF-8")),
      (4L, null.asInstanceOf[Array[Byte]]),
      // minimal ISO BMFF: size box + 'ftyp' at offset 4
      (5L, Array[Byte](0, 0, 0, 24) ++ "ftypisom".getBytes("US-ASCII")),
      (6L, "RIFF    AVI LIST".getBytes("US-ASCII")))
      .toDF("doc_id", "blob")
    val out = blobs.select(col("doc_id"),
        Multimodal.blobMeta(col("blob")).as("m"))
      .select(col("doc_id"), col("m.format"), col("m.width"),
        col("m.height"), col("m.n_bytes"))
      .orderBy("doc_id").collect()
    assert(out(0).getString(1) == "png" &&
      out(0).getInt(2) == 2 && out(0).getInt(3) == 2)
    assert(out(1).getString(1) == "gif" &&
      out(1).getInt(2) == 3 && out(1).getInt(3) == 2)
    assert(out(2).getString(1) == "jpeg" && out(2).getInt(2) == 0)
    assert(out(3).getString(1) == "unknown")
    assert(out(4).getString(1) == "unknown" && out(4).getLong(4) == 0L)
    assert(out(5).getString(1) == "mp4")
    assert(out(6).getString(1) == "avi")
  }

  test("native topk aggregate == rank window, across partial merges") {
    import org.apache.spark.sql.expressions.Window
    // candidate rows with deliberate score ties and many partitions,
    // so map-side partials and shuffled merges both exercise
    val cand = spark.range(2000).select(
      (col("id") % 7).as("query_id"),
      col("id").as("neighbor_id"),
      ((col("id") % 13).cast("double") / 13.0).as("sim"))
      .repartition(11)
    val viaAgg = cand.groupBy("query_id")
      .agg(graft.plans.TopKPairs.topk(col("sim"), col("neighbor_id"), 5)
        .as("top"))
      .select(col("query_id"), org.apache.spark.sql.functions.posexplode(col("top")))
      .select(col("query_id"), col("col").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    val viaWindow = cand
      .withColumn("rank", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rank") <= 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3).toLong)).toSet
    assert(viaAgg == viaWindow)
    // k larger than the group returns the whole group, ranked
    val small = cand.filter(col("query_id") === 0).limit(3)
    assert(small.groupBy("query_id")
      .agg(graft.plans.TopKPairs.topk(col("sim"), col("neighbor_id"), 50)
        .as("top"))
      .select(org.apache.spark.sql.functions.size(col("top")))
      .head.getInt(0) == 3)
  }

  test("similarity: zero-norm vectors are excluded, never ranked") {
    import spark.implicits._
    // vec 99 is all-zero: cosine against it is 0/0 = NaN — it must
    // neither appear as a neighbor nor freeze out real candidates
    val zero = Seq((99L, Seq.fill(4)(0f)),
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0.9f, 0.1f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(zero.filter(col("vec_id") === 0),
      zero, 3).collect()
    assert(out.nonEmpty)
    assert(!out.map(_.getLong(1)).contains(99L),
      "NaN-similarity neighbor must not be ranked")
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 2L),
      "real neighbors rank in similarity order")
    // a zero-norm QUERY has no defined similarity to anything: no rows
    assert(Similarity.bruteForceTopK(zero.filter(col("vec_id") === 99),
      zero, 3).isEmpty)
    // the bucketed paths survive zero vectors too (no ANSI
    // divide-by-zero job failure), and never rank the zero vector
    val lsh = Similarity.lshTopK(zero.filter(col("vec_id") === 0), zero, 3)
      .collect()
    assert(!lsh.map(_.getLong(1)).contains(99L))
    val ivf = Similarity.ivfTopK(zero.filter(col("vec_id") === 0), zero, 3,
      nCentroids = 2, nProbe = 2).collect()
    assert(!ivf.map(_.getLong(1)).contains(99L))
    // an ALL-zero corpus: degenerate but total — no crash
    val allZero = spark.range(4).select(col("id").as("vec_id"),
      org.apache.spark.sql.functions.typedlit(Seq.fill(4)(0f)).as("embedding"))
    assert(Similarity.ivfTopK(allZero.limit(1), allZero, 2,
      nCentroids = 2, nProbe = 1).collect() != null)
    // k-means refinement over zero clusters keeps previous centroids
    val (az, _) = Similarity.ivfAssignKMeans(allZero, 2, iters = 2)
    assert(az.count() == 4)
  }

  test("similarity: empty corpus yields empty ANN results, no throw") {
    val empty = emb.filter(col("vec_id") < 0)
    assert(Similarity.lshTopK(emb.limit(2), empty, 5).count() == 0)
    assert(Similarity.bruteForceTopK(emb.limit(2), empty, 5).count() == 0)
  }

  test("corpus: trainSplit is deterministic, covering, and ~80/10/10") {
    val docs = graft.sources.Tables.load(spark, sf, "documents").df
    val s1 = Corpus.trainSplit(docs, col("doc_id"))
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every document lands in exactly one split
    assert(s1.values.sum == docs.count())
    // proportions near 80/10/10 (md5 uniformity; generous tolerance)
    val total = s1.values.sum.toDouble
    assert(math.abs(s1("train") / total - 0.80) < 0.06, s1)
    assert(math.abs(s1("val") / total - 0.10) < 0.05, s1)
    // re-running the pipeline must not move documents between splits
    val a = Corpus.trainSplit(docs, col("doc_id")).select("doc_id", "split")
    assert(a.except(Corpus.trainSplit(docs, col("doc_id"))
      .select("doc_id", "split")).count() == 0)
  }

  test("corpus: chunks cover every token and overlap by exactly `overlap`") {
    import spark.implicits._
    val docs = Seq(
      // 100 toks, stride 24: chunks start at 1/25/49/73 → 4 windows
      (1L, (1 to 100).map(i => s"w$i").mkString(" ")),
      (2L, (1 to 32).map(i => s"v$i").mkString(" ")),  // exactly one window
      (3L, "solo"),                                    // shorter than size
      (4L, "")                                         // empty text
    ).toDF("doc_id", "text")
    val out = Corpus.chunk(docs, col("doc_id"), col("text"),
      size = 32, overlap = 8).collect()
      .groupBy(_.getLong(0)).view.mapValues(
        _.sortBy(_.getLong(1)).map(_.getString(2)).toSeq).toMap
    assert(out(1L).length == 4 && out(2L).length == 1 &&
      out(3L).length == 1 && out(4L).length == 1)
    // reconstruction: drop each successor's leading overlap, concat ==
    // the original token stream (no token lost, none duplicated)
    val rebuilt = (out(1L).head +: out(1L).tail.map(
      _.split(" ").drop(8).mkString(" "))).mkString(" ")
    assert(rebuilt == (1 to 100).map(i => s"w$i").mkString(" "))
    // consecutive chunks share exactly the overlap suffix/prefix
    assert(out(1L)(0).split(" ").takeRight(8).toSeq ==
      out(1L)(1).split(" ").take(8).toSeq)
  }

  test("corpus: packSequences == driver prefix sum, invariant to grouping") {
    import spark.implicits._
    val docs = (1L to 500L).map(i => (i, (i % 37) + 1)).toDF("doc_id", "nt")
    val got = Corpus.packSequences(docs, col("doc_id"), col("nt"),
      budget = 100, groupEvery = 64).collect()
      .map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    // reference: plain sequential greedy concat-and-split attribution
    var cum = 0L
    val want = (1L to 500L).map { i =>
      val s = cum / 100; cum += (i % 37) + 1; (i, s)
    }
    assert(got.toSeq == want)
    // the grouping knob changes the PLAN (bounded windows), never the result
    val alt = Corpus.packSequences(docs, col("doc_id"), col("nt"),
      budget = 100, groupEvery = 7).collect()
      .map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    assert(alt.toSeq == want)
  }

  test("repetitionSignals: hand-computed fractions on a known doc") {
    // doc 1: lines ["a b","a b","c d"] → dup_line_frac 2/3,
    //        chars 3+3+3 of which 6 duplicated → 2/3
    //        tokens a,b,a,b,c,d → grams "a b","b a","a b","b c","c d"
    //        → top gram "a b" ×2 of 5 → 0.4
    // doc 2: no duplicate lines, all distinct grams
    // doc 3: empty-ish text (whitespace) → all zeros
    val df = Seq((1L, "a b\na b\nc d"), (2L, "p q\nr s"), (3L, "  "))
      .toDF("doc_id", "text")
    val got = Corpus.repetitionSignals(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(got(1L) == ((3L, 2.0 / 3, 2.0 / 3, 0.4)))
    assert(got(2L) == ((2L, 0.0, 0.0, 1.0 / 3)))
    // doc 2 grams: "p q","q r","r s" all distinct → top 1/3
    assert(got(3L) == ((0L, 0.0, 0.0, 0.0)))
  }

  test("repetitionSignals flags a repetition-heavy doc, passes a clean one") {
    val spammy = (1 to 20).map(_ => "buy now cheap").mkString("\n")
    val clean = (1 to 20).map(i => s"line$i unique words here").mkString("\n")
    val got = Corpus.repetitionSignals(
      Seq((1L, spammy), (2L, clean)).toDF("doc_id", "text"),
      "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(1L) == 1.0 && got(2L) == 0.0)
  }

  test("decontaminate drops n-gram overlaps and whole-short-doc copies") {
    val benchDoc = (1 to 12).map(i => s"e$i").mkString(" ")
    val bench = Seq((100L, benchDoc), (101L, "tiny leak")).toDF("bid", "btext")
    val train = Seq(
      1L -> ("clean words only " + (1 to 12).map(i => s"w$i").mkString(" ")),
      2L -> ("prefix text " + (1 to 12).map(i => s"e$i").mkString(" ")), // 8-gram overlap
      3L -> "tiny leak",            // < n tokens, whole-text shingle match
      4L -> "tiny leakage different" // shares no whole-text shingle
    ).toDF("doc_id", "text")
    val kept = Corpus.decontaminate(train, "doc_id", "text", bench, "btext", n = 8)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L))
  }

  test("script detection: fractions over non-whitespace chars, dominant with deterministic ties") {
    val df = Seq(
      (1L, "hello world"),              // pure latin: 10 letters / 10
      (2L, "привет мир"),               // pure cyrillic
      (3L, "hello мир"),                // latin 5, cyrillic 3 → latin
      (4L, "你好 こんにちは"),            // cjk
      (5L, "12345 !!!"),                // no script chars → unknown
      (6L, ""),
      (7L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        TextAnalysis.scriptFraction(col("text"), "latin").as("lat"),
        TextAnalysis.scriptFraction(col("text"), "cyrillic").as("cyr"),
        TextAnalysis.dominantScript(col("text")).as("s"))
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) -1.0 else r.getDouble(1),
          if (r.isNullAt(2)) -1.0 else r.getDouble(2),
          r.getString(3)))).toMap
    assert(out(1L) == ((1.0, 0.0, "latin")))
    assert(out(2L) == ((0.0, 1.0, "cyrillic")))
    assert(out(3L)._1 == 5.0 / 8 && out(3L)._2 == 3.0 / 8 &&
      out(3L)._3 == "latin")
    assert(out(4L)._3 == "cjk")
    assert(out(5L) == ((0.0, 0.0, "unknown")))
    assert(out(6L) == ((0.0, 0.0, "unknown")))
    assert(out(7L)._1 == -1.0 && out(7L)._2 == -1.0) // null text → null
    intercept[IllegalArgumentException] {
      TextAnalysis.scriptFraction(col("text"), "klingon")
    }
  }

  test("Gopher lexical signals: hand-computed ratios, degenerate docs fail the gate") {
    val df = Seq(
      (1L, "a a a a"),                       // spam: 1 distinct / 4
      (2L, "the cat sat with the dog"),      // prose-ish
      (3L, "1 2 3 4"),                       // numeric table
      (4L, ""),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        TextAnalysis.typeTokenRatio(col("text")).as("ttr"),
        TextAnalysis.stopwordFraction(col("text")).as("sf"),
        TextAnalysis.alphaWordFraction(col("text")).as("af"))
      .collect().map(r => r.getLong(0) ->
        ((0 to 2).map(i => if (r.isNullAt(i + 1)) None
         else Some(r.getDouble(i + 1))))).toMap
    assert(out(1L) == Seq(Some(0.25), Some(0.0), Some(1.0)))
    assert(out(2L) == Seq(Some(5.0 / 6), Some(3.0 / 6), Some(1.0)))
    assert(out(3L) == Seq(Some(1.0), Some(0.0), Some(0.0)))
    assert(out(4L) == Seq(Some(0.0), Some(0.0), Some(0.0)))
    assert(out(5L) == Seq(None, None, None))
  }

  test("bigram LM: hand-computed add-one scores, OOV floor, short docs null") {
    val ref = Seq((1L, "a b a b a c")).toDF("doc_id", "text")
    val model = Corpus.lmTrain(ref, "text")
    // uni: a=3 b=2 c=1 → V=3; bigrams: (a b)=2 (b a)=2 (a c)=1
    assert(model.vocabSize == 3L)
    val docs = Seq(
      (10L, "a b"),   // ln((2+1)/(3+3)) = ln(.5)
      (11L, "z z"),   // full OOV: ln((0+1)/(0+3))
      (12L, "a c"),   // ln((1+1)/(3+3))
      (13L, "a")      // no bigram
    ).toDF("doc_id", "text")
    val out = Corpus.lmScore(docs, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    assert(out(10L) == ((1L, 0L, Some(r6(math.log(0.5))))))
    assert(out(11L) == ((1L, 1L, Some(r6(math.log(1.0 / 3))))))
    assert(out(12L) == ((1L, 0L, Some(r6(math.log(2.0 / 6))))))
    assert(out(13L) == ((0L, 0L, None)))
    // minCount prunes the singleton bigram → (a c) scores as unseen
    val pruned = Corpus.lmTrain(ref, "text", minCount = 2)
    val po = Corpus.lmScore(Seq((12L, "a c")).toDF("doc_id", "text"),
      "doc_id", "text", pruned)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(po.head == ((1L, 1L, r6(math.log(1.0 / 6)))))
    // the reference scores itself higher than shuffled gibberish
    val self = Corpus.lmScore(ref, "doc_id", "text", model)
      .head.getDouble(3)
    val gib = Corpus.lmScore(Seq((2L, "c c b b b a")).toDF("doc_id", "text"),
      "doc_id", "text", model).head.getDouble(3)
    assert(self > gib)
    // trigram order: contexts are 2-grams — ref trigrams give
    // c(a b a)=2, context c(a b)=2, V = |distinct 2-grams| = 3 →
    // ln((2+1)/(2+3)); a doc of 2 tokens has no trigram
    val tri = Corpus.lmTrain(ref, "text", n = 3)
    assert(tri.vocabSize == 3L)
    val to = Corpus.lmScore(Seq((20L, "a b a"), (21L, "a b"))
        .toDF("doc_id", "text"), "doc_id", "text", tri)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(3)) None else Some(r.getDouble(3)))))
      .toMap
    assert(to(20L) == ((1L, Some(r6(math.log(3.0 / 5))))))
    assert(to(21L) == ((0L, None)))
    intercept[IllegalArgumentException] { Corpus.lmTrain(ref, "text", n = 1) }
  }

  test("decontaminateBloom: no false negatives, conservative vs exact, FP rate bounded by nBits") {
    val benchDoc = (1 to 12).map(i => s"e$i").mkString(" ")
    val bench = Seq((100L, benchDoc), (101L, "tiny leak")).toDF("bid", "btext")
    val train = (Seq(
      1L -> ("clean words only " + (1 to 12).map(i => s"w$i").mkString(" ")),
      2L -> ("prefix text " + (1 to 12).map(i => s"e$i").mkString(" ")),
      3L -> "tiny leak",
      4L -> "tiny leakage different") ++
      // 200 clean docs to make the FP rate measurable at tiny nBits
      (10L to 209L).map(i => i ->
        (1 to 12).map(j => s"c${i}_$j").mkString(" "))).toDF("doc_id", "text")
    val exact = Corpus.decontaminate(train, "doc_id", "text", bench, "btext",
      n = 8).collect().map(_.getLong(0)).toSet
    val bloom = Corpus.decontaminateBloom(train, "doc_id", "text", bench,
      "btext", n = 8).collect().map(_.getLong(0)).toSet
    // a bloom filter NEVER misses a real member: every doc the exact
    // path drops, the bloom path drops too (kept sets: bloom ⊆ exact)
    assert(bloom.subsetOf(exact))
    assert(!bloom.contains(2L) && !bloom.contains(3L))
    // at 2^20 bits / ~15 bench grams, collisions are ~1e-15 per gram:
    // no clean doc drops
    assert(bloom == exact)
    // a deliberately tiny filter shows the deterministic FP tradeoff:
    // still zero false negatives, some clean docs collide away
    val tiny = Corpus.decontaminateBloom(train, "doc_id", "text", bench,
      "btext", n = 8, nBits = 64).collect().map(_.getLong(0)).toSet
    assert(tiny.subsetOf(exact))
    // determinism: the same call yields the same kept set
    val tiny2 = Corpus.decontaminateBloom(train, "doc_id", "text", bench,
      "btext", n = 8, nBits = 64).collect().map(_.getLong(0)).toSet
    assert(tiny == tiny2)
    // 64 bits / 6 bench grams / k=3 fills ~25% of the filter → ~1.6%
    // FP per gram, ~8% per 5-gram doc: a measurable bite into the 200
    // clean docs (deterministically 14 here), while the 2^20 filter
    // above dropped none
    assert(tiny.size <= exact.size - 5)
    intercept[IllegalArgumentException] {
      Corpus.bloomWords(bench.select(lit(1L).as("gh")), 100)
    }
    // null text is KEPT (matches the exact path's anti-join; a bare
    // filter on the null exists() would silently drop it)
    val withNull = Seq((500L, null.asInstanceOf[String]), (501L, "ok doc"))
      .toDF("doc_id", "text")
    val nk = Corpus.decontaminateBloom(withNull, "doc_id", "text", bench,
      "btext", n = 8).collect().map(_.getLong(0)).toSet
    assert(nk == Set(500L, 501L))
  }

  test("redactPii: planted spans redacted, counts match, idempotent, clean text untouched") {
    val df = Seq(
      (1L, "mail me at alice.smith+x@mail.example.org today"),
      (2L, "server at 192.168.0.12 answered"),
      (3L, "call 0123456789 or 98765432101"),
      (4L, "no pii here, just words and 123 small numbers"),
      (5L, "mixed bob@x.io and 10.0.0.1 and 5551234567")
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        TextAnalysis.piiCount(col("text")).as("n"),
        TextAnalysis.redactPii(col("text")).as("r"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2)))).toMap
    assert(got(1L) == ((1L, "mail me at <EMAIL> today")))
    assert(got(2L) == ((1L, "server at <IP> answered")))
    assert(got(3L) == ((2L, "call <PHONE> or <PHONE>")))
    assert(got(4L) == ((0L, "no pii here, just words and 123 small numbers")))
    assert(got(5L) == ((3L, "mixed <EMAIL> and <IP> and <PHONE>")))
    // idempotent: redacting redacted text changes nothing
    val twice = df.select(
      TextAnalysis.redactPii(TextAnalysis.redactPii(col("text"))).as("r2"),
      TextAnalysis.redactPii(col("text")).as("r1"))
      .collect().forall(r => r.getString(0) == r.getString(1))
    assert(twice)
  }

  test("persisted IVF index: identical results to in-memory ivfTopK; probed-partition scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_spec")
      .toString
    Similarity.buildIvfIndex(emb, dir, nCentroids = 8)
    val queries = emb.filter(col("vec_id") < 3)
    val indexed = Similarity.ivfTopKIndexed(queries, dir, 5, nProbe = 2)
    val direct = Similarity.ivfTopK(queries, emb, 5, nCentroids = 8, nProbe = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(rows(indexed) == rows(direct))
    // the lists scan must carry a partition filter on centroid_id —
    // only probed inverted lists are read
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("centroid_id"),
      s"no partition pruning on the inverted lists:\n$plan")
    // build once, query twice: a second batch reuses the same index
    val q2 = Similarity.ivfTopKIndexed(
      emb.filter(col("vec_id") >= 3 && col("vec_id") < 5), dir, 5, nProbe = 2)
    assert(q2.select("query_id").distinct().count() == 2)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("weightedSample: deterministic, clamps, roughly proportional") {
    val df = spark.range(2000).toDF("id")
    // weight 0 keeps nothing, weight 2 (clamped to 1) keeps all
    assert(Corpus.weightedSample(df, col("id"), lit(0.0)).count() == 0)
    assert(Corpus.weightedSample(df, col("id"), lit(2.0)).count() == 2000)
    // deterministic: same rows on re-run
    val a = Corpus.weightedSample(df, col("id"), lit(0.3))
      .collect().map(_.getLong(0)).toSet
    val b = Corpus.weightedSample(df, col("id"), lit(0.3))
      .collect().map(_.getLong(0)).toSet
    assert(a == b)
    // roughly proportional (md5 uniforms: ±5 pp at n=2000)
    assert(math.abs(a.size / 2000.0 - 0.3) < 0.05, s"kept ${a.size}")
  }

  test("fuzzy keep-list keeps exactly one representative per planted cluster") {
    val base = docs.select(col("doc_id"), col("text")).limit(40)
    // plant: two extra near-exact copies of every 10th doc
    val aug = base
      .unionAll(base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000).as("doc_id"), col("text")))
      .unionAll(base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 2000).as("doc_id"), col("text")))
    val pairs = Dedup.minhashPairs(aug, "doc_id", "text", 0.9)
      .select("id_a", "id_b")
    val removed = Dedup.connectedComponents(pairs)
      .filter(col("id") =!= col("label")).select(col("id").as("doc_id"))
    val kept = aug.join(removed, Seq("doc_id"), "left_anti")
      .collect().map(_.getLong(0)).toSet
    // every planted copy gone, its original kept
    (0L until 40L by 10L).foreach { i =>
      assert(kept.contains(i) && !kept.contains(i + 1000) && !kept.contains(i + 2000),
        s"cluster of $i not resolved to one representative: $kept")
    }
    // a NATURAL doc may only be removed if the pair graph links it to a
    // smaller-id duplicate (the testdata contains organic near-dups)
    val pairSet = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    ((0L until 40L).toSet -- kept).foreach { i =>
      assert(pairSet.exists { case (a, b) => b == i && a < i },
        s"natural doc $i removed without a smaller-id near-dup partner")
    }
  }

  test("lineDedup: frequent lines drop, order preserved, hollow docs survive") {
    val df = Seq(
      (1L, "boiler\nalpha\nfooter"),
      (2L, "boiler\nbeta\nfooter"),
      (3L, "boiler\ngamma delta\nfooter"),
      (4L, "boiler\nboiler\nfooter"), // within-doc repeat: one doc for docfreq
      (5L, ""),
      (6L, "z\na\nm")).toDF("doc_id", "text")
    val out = Corpus.lineDedup(df, "doc_id", "text", maxDocs = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // "boiler"/"footer" in 4 distinct docs > 3 -> dropped everywhere
    assert(out(1L) == (("alpha", 1L, 2L)))
    assert(out(2L) == (("beta", 1L, 2L)))
    assert(out(3L) == (("gamma delta", 1L, 2L)))
    // doc 4: all three lines boilerplate -> hollow but present
    assert(out(4L) == (("", 0L, 3L)))
    // empty doc: no lines at all
    assert(out(5L) == (("", 0L, 0L)))
    // unique lines come back in original order, not sorted
    assert(out(6L) == (("z\na\nm", 3L, 0L)))
    // keepEmpty=false: only docs that HAD at least one non-blank line
    // come back (doc 5 vanishes, hollow-but-lined doc 4 stays), with
    // identical values for every surviving doc
    val noEmpty = Corpus.lineDedup(df, "doc_id", "text", maxDocs = 3,
        keepEmpty = false)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(noEmpty == out - 5L)
  }

  test("corpus operators survive null/blank text and null source rows") {
    val df = Seq((1L, Option("alpha beta gamma"), Option("A")),
      (2L, None: Option[String], Option("A")),
      (3L, Option(""), None: Option[String]),
      (4L, Option("alpha beta gamma delta"), Option("B")))
      .toDF("doc_id", "text", "source")
    // line dedup: null/blank docs come back hollow, not dropped/crashed
    val ld = Corpus.lineDedup(df, "doc_id", "text", maxDocs = 10, delim = " ")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(ld.keySet == Set(1L, 2L, 3L, 4L) && ld(2L) == 0L && ld(3L) == 0L)
    // mixing: null-source rows drop deterministically (no weight bucket)
    val mix = Corpus.mixBySource(df, "doc_id", "source",
      TextAnalysis.tokenCount(col("text")), Map("A" -> 1.0, "B" -> 1.0),
      budgetTokens = 1000L).collect().map(_.getLong(0)).toSet
    assert(mix.subsetOf(Set(1L, 2L, 4L)))
    // span scoring: null text scores zero spans... (whole-text shingle
    // of a null is null -> explode skips), doc absent from output but
    // the join-free API never throws
    val sdf = Dedup.spanDupFraction(df, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!sdf.contains(2L) && sdf(1L) == 2L)
    // classifier: null text scores null margin (unknown, not a crash)
    val m = df.select(col("doc_id"),
        TextAnalysis.linearMargin(col("text"), TextAnalysis.md5Weights(64), 0.0)
          .as("m")).collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(m(2L) && !m(1L))
  }

  test("recallAtK: self-recall is 1.0; a degraded approximation scores the hit fraction") {
    val queries = emb.filter(col("vec_id") < 3)
    val exact = Similarity.bruteForceTopK(queries, emb, 10)
      .localCheckpoint(true)
    val self = Similarity.recallAtK(exact, exact)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(self.length == 3 && self.forall(_ == ((10L, 10L, 1.0))))
    // drop the odd-ranked half of the neighbors -> recall exactly 0.5
    val degraded = exact.filter(col("rank") % 2 === 1)
    val deg = Similarity.recallAtK(degraded, exact)
      .collect().map(r => r.getDouble(3))
    assert(deg.forall(_ == 0.5))
  }

  test("garbageRatio: counts control/replacement chars, clean text is 0") {
    val out = Seq("clean words", "a\uFFFDb", "x\u0001\u0002y", "", "\ttabs ok\n")
      .toDF("t").select(TextAnalysis.garbageRatio(col("t")))
      .collect().map(_.getDouble(0))
    assert(out(0) == 0.0 && out(1) == 1.0 / 3.0 && out(2) == 0.5)
    assert(out(3) == 0.0 && out(4) == 0.0) // tab/newline are not garbage
  }

  test("contaminationScore: verbatim copy scores 1.0, clean doc 0.0") {
    val bench = Seq((100L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "a b c d e f g h i j"),              // verbatim copy
      (2L, "a b c d e f g h i j k l m n o p"),  // prefix overlap only
      (3L, "zz yy xx ww vv uu tt ss rr qq")).toDF("doc_id", "text")
    val out = Corpus.contaminationScore(train, "doc_id", "text",
        bench, "text", n = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((3L, 3L, 1.0)))      // all 3 windows hit
    // doc 2: 9 windows, only the 3 bench windows hit
    assert(out(2L) == ((9L, 3L, 3.0 / 9.0)))
    assert(out(3L) == ((3L, 0L, 0.0)))
  }

  test("repeatedSpans surfaces unaligned cross-document repeats only") {
    val tail = "boiler plate terms of service apply all rights reserved"
    val df = Seq(
      (1L, s"u1 u2 u3 $tail"),   // shared 9-token suffix at offset 3
      (2L, s"v1 $tail"),         // ... and at offset 1: unaligned
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10")).toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(df, "doc_id", "text", n = 8, minDocs = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // the 9-token shared suffix contains exactly 2 interior 8-grams
    val expect = Set(
      ("boiler plate terms of service apply all rights", 2L, 1L),
      ("plate terms of service apply all rights reserved", 2L, 1L))
    assert(out.toSet == expect)
  }

  test("removeRepeatedSpans cuts repeated windows from the text") {
    val tail = "boiler plate terms of service apply all rights reserved"
    val df = Seq(
      (1L, s"u1 u2 u3 $tail"),   // shared 9-token suffix at offset 3
      (2L, s"v1 $tail"),         // ... and at offset 1: unaligned
      (3L, "w1  w2 w3 w4 w5 w6 w7 w8 w9 w10")). // double space: bytes kept
      toDF("doc_id", "text")
    val out = Dedup.removeRepeatedSpans(df, "doc_id", "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    // interior windows start at suffix offsets 0 and 1, covering
    // suffix tokens 0..8 = the whole 9-token tail; unique prefixes
    // survive, and the boundary windows (mixing u*/v1 with the tail)
    // are per-doc unique so they cut nothing extra
    assert(out(1L) == "u1 u2 u3")
    assert(out(2L) == "v1")
    // untouched docs keep their ORIGINAL bytes (no renormalization)
    assert(out(3L) == "w1  w2 w3 w4 w5 w6 w7 w8 w9 w10")
    // keepFirst: the lowest containing doc keeps its copy
    val kf = Dedup.removeRepeatedSpans(df, "doc_id", "text", n = 8,
        keepFirst = true)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(kf(1L) == s"u1 u2 u3 $tail")
    assert(kf(2L) == "v1")
    // short docs (< n tokens) repeat as whole-text shingles and empty
    // out entirely; null text passes through untouched
    val short = Seq((1L, "tiny doc"), (2L, "tiny doc"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val so = Dedup.removeRepeatedSpans(short, "doc_id", "text", n = 8)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toMap
    assert(so(1L) == Some("") && so(2L) == Some("") && so(3L) == None)
  }

  test("lineDedup removes exactly the planted boilerplate (scale-probe invariant)") {
    // organic vocab is 100k words over a few hundred docs -> organic
    // doc frequency ~0; only the planted 5-word suffix crosses the
    // threshold, so removed == 5 * n_docs exactly (pins x45's claim)
    val docs = SparkEntry.synthDocs(spark, 200L).select(col("doc_id"),
      concat(col("text"), lit(" promo banner click here now")).as("text"))
    val r = Corpus.lineDedup(docs, "doc_id", "text", maxDocs = 300, delim = " ")
      .agg(sum("n_removed").as("rm"), count(lit(1)).as("n")).collect()(0)
    assert(r.getLong(0) == 5 * r.getLong(1) && r.getLong(1) == 400L)
  }

  test("mixBySource: rate caps at 1, low-weight source thins, deterministic") {
    val a = (1 to 3).map(i => (i.toLong, "A", "w w"))
    val b = (100 to 299).map(i => (i.toLong, "B", "w w w w w w w w w w"))
    val df = (a ++ b).toDF("doc_id", "source", "text")
    def run() = Corpus.mixBySource(df, "doc_id", "source",
      TextAnalysis.tokenCount(col("text")),
      Map("A" -> 1.0, "B" -> 1.0), budgetTokens = 200L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val kept = run()
    // A: target 100 tokens vs 6 present -> rate 1.0, all kept
    assert(kept.count(_._2 == "A") == 3)
    // B: target 100 vs 2000 present -> rate 0.05, most dropped
    val nb = kept.count(_._2 == "B")
    assert(nb > 0 && nb < 60, s"B kept $nb of 200 at rate 0.05")
    // md5 uniforms: the sample is exactly reproducible
    assert(run() == kept)
  }

  test("mixBySourceUpsampled: scarce source repeats exact epochs, abundant thins, deterministic") {
    val a = (1 to 2).map(i => (i.toLong, "A", "w w w w w"))
    val b = (100 to 199).map(i => (i.toLong, "B", "w w w w w w w w w w"))
    val df = (a ++ b).toDF("doc_id", "source", "text")
    def run() = Corpus.mixBySourceUpsampled(df, "doc_id", "source",
      TextAnalysis.tokenCount(col("text")),
      Map("A" -> 1.0, "B" -> 1.0), budgetTokens = 600L)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getAs[Long]("epoch")))
    val out = run()
    // A: target 300 vs stock 10 -> rate 30.0 exactly: each doc 30 epochs
    val aRows = out.filter(_._2 == "A")
    assert(aRows.length == 60 &&
      aRows.groupBy(_._1).values.forall(_.map(_._3).sorted.toSeq == (1L to 30L)))
    // B: rate 0.3 -> thinned, epoch always 1
    val bRows = out.filter(_._2 == "B")
    assert(bRows.nonEmpty && bRows.length < 60 && bRows.forall(_._3 == 1L))
    assert(run().toSeq == out.toSeq)
  }

  test("dedupAgainstIndex: historical + intra-batch dups drop; updateIndex accumulates") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fpidx").toString
    Dedup.buildFpIndex(Seq((1L, "aaa"), (2L, "bbb")).toDF("doc_id", "text"),
      "text", dir)
    val batch1 = Seq((3L, "aaa"), (4L, "ccc"), (5L, "ccc"), (6L, "ddd"))
      .toDF("doc_id", "text")
    val out1 = Dedup.dedupAgainstIndex(batch1, "doc_id", "text", dir,
      updateIndex = true).collect().map(_.getLong(0)).toSet
    // 3 is a historical dup of 1; 5 loses first-in-batch to 4
    assert(out1 == Set(4L, 6L))
    // the index accumulated batch1's survivors: "ccc" is now historical
    val batch2 = Seq((7L, "ccc"), (8L, "eee")).toDF("doc_id", "text")
    val out2 = Dedup.dedupAgainstIndex(batch2, "doc_id", "text", dir)
      .collect().map(_.getLong(0)).toSet
    assert(out2 == Set(8L))
  }

  test("appendToIvfIndex: twins found post-append, prior results unchanged, partition layout extended") {
    import graft.ext.Similarity
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfapp")
      .toString + "/idx"
    val emb = graft.sources.Tables.load(spark, sf, "embeddings").df
    Similarity.buildIvfIndex(emb, dir, nCentroids = 8)
    val q = emb.filter(col("vec_id") < 3)
    val before = Similarity.ivfTopKIndexed(q, dir, 5, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // append exact twins of the queries under shifted ids
    Similarity.appendToIvfIndex(
      q.select((col("vec_id") + 100000000L).as("vec_id"), col("embedding")),
      dir)
    val after = Similarity.ivfTopKIndexed(q, dir, 5, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // each query's twin surfaces at rank 1 (identical vector, max dot)
    val rank1 = after.filter(_._3 == 1).map(t => (t._1, t._2)).toMap
    assert((0L until 3L).forall(i => rank1(i) == i + 100000000L))
    // prior neighbors are still present, shifted down by the twin
    val afterIds = after.map(t => (t._1, t._2)).toSet
    val beforeTop = before.filter(_._3 <= 4).map(t => (t._1, t._2))
    assert(beforeTop.forall(afterIds.contains))
    // appended rows landed inside centroid_id= partition dirs
    val parts = new java.io.File(dir + "/lists").listFiles()
      .filter(_.getName.startsWith("centroid_id="))
    assert(parts.nonEmpty)
  }

  test("neardupAgainstIndex: fuzzy matches drop vs index and in-batch; updateIndex accumulates; cold start keeps all") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lshidx")
      .toString + "/idx"
    val hist = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "spark shuffles merge batch windows over sorted rows"))
      .toDF("doc_id", "text")
    Dedup.buildLshIndex(hist, "doc_id", "text", dir)
    val batch1 = Seq(
      // exact copy of 1 → estimate 1.0, drops at any threshold
      (10L, "the quick brown fox jumps over the lazy dog today"),
      // near-variant of 2 (1 of 10 tokens changed): most signature
      // components agree — drops at the 0.5 estimate threshold
      (11L, "spark shuffles merge batch windows over sorted data"),
      // novel
      (12L, "completely different words entirely unrelated here now"),
      // intra-batch twin of 12 → loses to the lower id
      (13L, "completely different words entirely unrelated here now"))
      .toDF("doc_id", "text")
    val out1 = Dedup.neardupAgainstIndex(batch1, "doc_id", "text", dir,
        threshold = 0.5, updateIndex = true)
      .collect().map(_.getLong(0)).toSet
    assert(out1 == Set(12L))
    // accumulation: 12's signature is now historical — its copy drops
    val batch2 = Seq(
      (20L, "completely different words entirely unrelated here now"),
      (21L, "yet another brand new document with fresh words inside"))
      .toDF("doc_id", "text")
    val out2 = Dedup.neardupAgainstIndex(batch2, "doc_id", "text", dir,
        threshold = 0.5).collect().map(_.getLong(0)).toSet
    assert(out2 == Set(21L))
    // cold start: missing index dir bootstraps as empty — nothing
    // historical, only the intra-batch rule applies
    val cold = Dedup.neardupAgainstIndex(batch2, "doc_id", "text",
        dir + "_never_written", threshold = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(cold == Set(20L, 21L))
  }

  test("dedupAgainstIndex: index attached via a file: URI (Hadoop Path codepath, not java.io.File)") {
    // The discovery probe must resolve through the Hadoop FileSystem
    // API — a java.io.File probe sees a "file:/..." URI as a relative
    // path that doesn't exist, reads the seen-set as empty, and
    // readmits every historical duplicate. Same failure shape as
    // hdfs:// or s3a:// at deployment.
    val local = java.nio.file.Files.createTempDirectory("graft_fpidx_uri").toString
    val uri = "file:" + local
    Dedup.buildFpIndex(Seq((1L, "aaa")).toDF("doc_id", "text"), "text", uri)
    val kept = Dedup.dedupAgainstIndex(
      Seq((2L, "aaa"), (3L, "zzz")).toDF("doc_id", "text"),
      "doc_id", "text", uri).collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L), s"historical dup must drop through the URI index, got $kept")
    // missing dir through a URI still bootstraps cleanly as empty
    val cold = Dedup.dedupAgainstIndex(
      Seq((4L, "qqq")).toDF("doc_id", "text"),
      "doc_id", "text", uri + "_never_written").collect().map(_.getLong(0)).toSet
    assert(cold == Set(4L))
  }

  test("writeJsonlShards: round-trip complete, shard = shardAssign, md5-ordered") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString
    val base = docs.select(col("doc_id"), col("lang")).limit(100)
      .localCheckpoint(true)
    Corpus.writeJsonlShards(base, col("doc_id"), dir, nShards = 4)
    val back = spark.read.json(dir)
    // complete and shard-correct
    val expected = Corpus.shardAssign(base, col("doc_id"), 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val got = back.collect().map(r =>
      r.getLong(r.fieldIndex("doc_id")) ->
        r.getAs[Number]("shard").longValue()).toMap
    assert(got == expected)
    // within each shard, file order is the md5 order the export promises
    val ordH = TextAnalysis.h60(concat(lit("ord:"), col("doc_id").cast("string")))
    (0L until 4L).foreach { sh =>
      val gotOrder = back.filter(col("shard") === sh)
        .collect().map(_.getLong(0)).toSeq
      val wantOrder = Corpus.shardAssign(base, col("doc_id"), 4)
        .filter(col("shard") === sh).withColumn("_h", ordH)
        .orderBy("_h").collect().map(_.getLong(0)).toSeq
      assert(gotOrder == wantOrder, s"shard $sh order mismatch")
    }
  }

  test("linearMargin: joined variant matches inlined model EXACTLY; blank text is bias") {
    val w = TextAnalysis.md5Weights(256)
    val df = docs.select(col("doc_id"), col("text")).limit(50)
      .unionAll(Seq((9999L, ""), (9998L, "   ")).toDF("doc_id", "text"))
    val inl = df.select(col("doc_id"),
        TextAnalysis.linearMargin(col("text"), w, 0.5).as("m"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val wdf = spark.createDataFrame(
      w.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq)
      .toDF("fid", "w")
    val joined = TextAnalysis.linearMarginJoined(df, "doc_id", "text",
        wdf, 256, 0.5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // dyadic md5 weights: partial sums are exact, so any summation
    // order (inlined fold vs distributed partial sums) agrees to the bit
    assert(inl == joined)
    assert(inl(9999L) == 0.5 && inl(9998L) == 0.5)
  }

  test("semanticDedup: duplicate embeddings collapse to min id within a block") {
    val df = Seq(
      (1L, Array(1f, 0f, 0f), 0),
      (2L, Array(0f, 1f, 0f), 0),
      (3L, Array(1f, 0f, 0f), 0),     // dup of 1, same block
      (4L, Array(1f, 0f, 0f), 1),     // dup vector, DIFFERENT block -> kept
      (5L, Array(0.9999f, 0.0001f, 0f), 0), // near-dup of 1 -> dropped
      (6L, Array(0f, 0f, 0f), 0))     // zero-norm: never paired, kept
      .toDF("vec_id", "embedding", "label")
    val kept = Similarity.semanticDedup(df, 0.999, "label")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 4L, 6L))
  }

  test("capPerGroup: deterministic, stable under growth, exact cap") {
    val df = (1L to 20L).map(i => (i, if (i <= 12) "a" else "b"))
      .toDF("id", "grp")
    val out = Corpus.capPerGroup(df, Seq("grp"), "id", 3)
    val byGrp = out.collect().map(r => r.getString(1) -> r.getLong(0))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byGrp("a").size == 3 && byGrp("b").size == 3)
    // deterministic: same result on re-run
    val again = Corpus.capPerGroup(df, Seq("grp"), "id", 3)
      .collect().map(r => r.getString(1) -> r.getLong(0)).toSet
    assert(again == out.collect()
      .map(r => r.getString(1) -> r.getLong(0)).toSet)
    // growth stability: adding rows can only replace members whose
    // hash loses — the kept set for the UNCHANGED group is identical
    val grown = df.unionAll(Seq((100L, "b"), (101L, "b")).toDF("id", "grp"))
    val after = Corpus.capPerGroup(grown, Seq("grp"), "id", 3)
      .filter(col("grp") === "a").collect().map(_.getLong(0)).toSet
    assert(after == byGrp("a"))
    // groups under the cap keep everything
    val small = Corpus.capPerGroup(df.filter(col("id") <= 2),
      Seq("grp"), "id", 3)
    assert(small.count() == 2)
  }

  test("profile: nulls, exact distinct, string-rendered extremes") {
    val df = Seq((1L, Some("a"), Some(1.5)), (2L, None, Some(2.5)),
      (3L, Some("a"), None)).toDF("id", "s", "v")
    val p = graft.ext.Stats.profile(df)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.getString(4)), Option(r.getString(5)))).toMap
    assert(p("id") == ((3L, 0L, 3L, Some("1"), Some("3"))))
    assert(p("s") == ((3L, 1L, 1L, Some("a"), Some("a"))))
    assert(p("v") == ((3L, 1L, 2L, Some("1.5"), Some("2.5"))))
  }

  test("anomalies: z-gate, tiny groups never flagged") {
    val df = (Seq.fill(9)(("a", 10.0)) :+ ("a", 100.0) :+ ("b", 999.0))
      .zipWithIndex.map { case ((k, v), i) => (i.toLong, k, v) }
      .toDF("id", "k", "v")
    // join-with-using puts the key columns first: (k, id, v)
    val out = graft.ext.Stats.anomalies(df, Seq("k"), "v", z = 2.0)
      .collect().map(r => (r.getString(0), r.getDouble(2))).toSet
    // group a: the 100.0 spike is >2 sigma; group b has n=1 -> never
    assert(out == Set(("a", 100.0)))
  }

  test("corrMatrix: one pass, perfect/anti/known correlations") {
    val df = Seq((1.0, 2.0, -1.0), (2.0, 4.0, -2.0), (3.0, 6.0, -3.0),
      (4.0, 8.0, -4.0)).toDF("x", "y", "z")
    val m = graft.ext.Stats.corrMatrix(df, Seq("x", "y", "z"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m("x__y") == 1.0)   // y = 2x
    assert(m("x__z") == -1.0)  // z = -x
    assert(m("y__z") == -1.0)
  }

  test("checkConstraints: one pass, FALSE-or-NULL violates, name validation") {
    val df = Seq[(java.lang.Long, String)]((1L, "a"), (2L, null),
      (null, "c"), (-5L, "d")).toDF("k", "s")
    val out = graft.ext.Checks.checkConstraints(df, Seq(
      "k_pos" -> (col("k") > 0),      // -5 false, null null -> 2
      "s_set" -> col("s").isin("a", "c", "d"), // null -> 1
      "any" -> lit(true)))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out == Map("k_pos" -> ((4L, 2L, false)),
      "s_set" -> ((4L, 1L, false)), "any" -> ((4L, 0L, true))))
    intercept[IllegalArgumentException] {
      graft.ext.Checks.checkConstraints(df, Seq("bad name" -> lit(true)))
    }
    intercept[IllegalArgumentException] {
      graft.ext.Checks.checkConstraints(df,
        Seq("d" -> lit(true), "d" -> lit(false)))
    }
  }

  test("linfit: exact line recovered; degenerate groups yield NULLs") {
    // group a: y = 3x + 1 exactly; group b: constant x (no fit);
    // group c: single point (n < 2)
    val df = Seq(
      ("a", 1.0, 4.0), ("a", 2.0, 7.0), ("a", 3.0, 10.0), ("a", 4.0, 13.0),
      ("b", 5.0, 1.0), ("b", 5.0, 9.0),
      ("c", 2.0, 2.0)).toDF("g", "x", "y")
    val out = graft.ext.Stats.linfit(df, Seq("g"), "x", "y")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))
      .toMap
    assert(out("a") == ((4L, Some(3.0), Some(1.0), Some(1.0))))
    assert(out("b") == ((2L, None, None, None)))
    assert(out("c") == ((1L, None, None, None)))
  }

  test("transitions: adjacent pairs per user, single-event users contribute none") {
    def ts(us: Long) = {
      val t = new java.sql.Timestamp(us / 1000000 * 1000)
      t.setNanos(((us % 1000000) * 1000).toInt); t
    }
    val df = Seq(
      (1L, ts(1L), "a"), (1L, ts(2L), "b"), (1L, ts(3L), "a"),
      (2L, ts(1L), "a"), (2L, ts(2L), "b"),
      (3L, ts(9L), "z"), // lone event: no pair (and no reversed pair)
      // same-us tie orders by type: c then d
      (4L, ts(5L), "d"), (4L, ts(5L), "c"))
      .toDF("user_id", "ts", "etype")
    val got = graft.ext.Events.transitions(df, "user_id", "ts", "etype")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(got == Map(("a", "b") -> 2L, ("b", "a") -> 1L, ("c", "d") -> 1L))
  }

  test("histogram: equi-width bins, max in last bin, nulls excluded") {
    val df = Seq[java.lang.Double](0.0, 1.0, 2.5, 5.0, 9.9, 10.0, null)
      .toDF("v")
    val bins = graft.ext.Stats.histogram(df, "v", 5)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2),
        r.getLong(3))).toMap
    // width 2: [0,2):{0,1} [2,4):{2.5} [4,6):{5} [8,10]:{9.9, 10}
    assert(bins(0L) == ((0.0, 2.0, 2L)))
    assert(bins(1L) == ((2.0, 4.0, 1L)))
    assert(bins(2L) == ((4.0, 6.0, 1L)))
    assert(bins(4L) == ((8.0, 10.0, 2L)))
    assert(!bins.contains(3L)) // empty bin absent
  }

  test("histogram: degenerate single-value column lands in bin 0") {
    val df = Seq(7.0, 7.0, 7.0).toDF("v")
    val bins = graft.ext.Stats.histogram(df, "v", 4).collect()
    assert(bins.length == 1 && bins.head.getLong(0) == 0L &&
      bins.head.getLong(3) == 3L)
  }

  test("rollingMean: trailing frame, per-key isolation") {
    val df = Seq(("a", 1L, 2.0), ("a", 2L, 4.0), ("a", 3L, 6.0),
      ("a", 4L, 8.0), ("b", 1L, 100.0)).toDF("k", "i", "v")
    val out = df.select(col("k"), col("i"),
      graft.ext.TimeSeries.rollingMean(Seq("k"), Seq(col("i")), 2,
        col("v")).as("ma"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(out(("a", 1L)) == 2.0)        // frame = {2}
    assert(out(("a", 2L)) == 3.0)        // {2,4}
    assert(out(("a", 3L)) == 5.0)        // {4,6}
    assert(out(("a", 4L)) == 7.0)        // {6,8}
    assert(out(("b", 1L)) == 100.0)      // keys never mix
  }

  test("fuzzyPairs finds substitution, insertion and deletion pairs at k=1") {
    val df = Seq(
      (1L, "kitten"), (2L, "kitteX"),  // substitution: dist 1
      (3L, "kitte"),                   // deletion of 1: dist 1
      (4L, "kittenn"),                 // insertion into 1: dist 1
      (5L, "sitting"),                 // far from everything
      (6L, null.asInstanceOf[String])  // null never matches
    ).toDF("id", "s")
    val got = graft.ext.Dedup.fuzzyPairs(df, "id", "s", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // 3 and 4 are distance 2 from each other (delete + insert);
    // 2 and 3 are distance 1 (drop the X)
    assert(got == Set((1L, 2L, 1), (1L, 3L, 1), (1L, 4L, 1), (2L, 3L, 1)))
  }

  test("fuzzyPairs k=2 equals brute force on a dictionary sample") {
    val words = Seq("grapht", "graph", "grph", "graphs", "garph",
      "spark", "spork", "sparkk", "park", "lark", "query", "queue")
    val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("id", "s")
    val got = graft.ext.Dedup.fuzzyPairs(df, "id", "s", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = (for {
      i <- words.indices; j <- words.indices if i < j
      d = levRef(words(i), words(j)) if d <= 2
    } yield (i.toLong, j.toLong, d)).toSet
    assert(got == brute)
  }

  private def levRef(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    dp(a.length)(b.length)
  }

  test("resampleFill densifies gaps and forward-fills only the asked columns") {
    val df = Seq(
      ("a", 1000000L, 10.0), // bucket 1 (interval = 1s)
      ("a", 1100000L, 20.0), // bucket 1
      ("a", 4000000L, 5.0),  // bucket 4 — gap at 2, 3
      ("b", 2000000L, 7.0)   // single-bucket series: no gaps
    ).toDF("k", "us", "v")
      .select(col("k"), timestamp_micros(col("us")).as("ts"), col("v"))
    val out = graft.ext.TimeSeries.resampleFill(df, "ts", Seq("k"),
      1000000L, Seq(sum(col("v")).as("total"), count(lit(1)).as("n")),
      ffillCols = Seq("total"))
    val rows = out.collect().map(r => (r.getString(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(r.getDouble(2)),
      if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(rows == Set(
      ("a", 1L, Some(30.0), Some(2L)),
      ("a", 2L, Some(30.0), None), // gap: total carried, n stays NULL
      ("a", 3L, Some(30.0), None),
      ("a", 4L, Some(5.0), Some(1L)),
      ("b", 2L, Some(7.0), Some(1L))))
  }

  test("pivot: explicit values, missing cells NULL, unlisted values dropped") {
    val df = Seq((1L, "a", 10.0), (1L, "a", 5.0), (1L, "b", 2.0),
      (2L, "b", 7.0), (2L, "zz", 99.0)).toDF("k", "cat", "v")
    val out = graft.ext.Reshape.pivot(df, Seq("k"), "cat",
      Seq("a", "b", "c"), sum, col("v"))
    assert(out.columns.toSeq == Seq("k", "a", "b", "c"))
    val m = out.collect().map(r => r.getLong(0) ->
      (0 to 2).map(i => if (r.isNullAt(i + 1)) None
                        else Some(r.getDouble(i + 1)))).toMap
    assert(m(1L) == Seq(Some(15.0), Some(2.0), None))
    assert(m(2L) == Seq(None, Some(7.0), None)) // "zz" not a column
  }

  test("unpivot keeps NULL cells and casts to one type") {
    val df = Seq((1L, Some(3), Some(1.5)), (2L, None, Some(2.5)))
      .toDF("id", "a", "b")
    val out = graft.ext.Reshape.unpivot(df, Seq("id"), Seq("a", "b"))
    assert(out.columns.toSeq == Seq("id", "metric", "value"))
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(rows == Set((1L, "a", Some(3.0)), (1L, "b", Some(1.5)),
      (2L, "a", None), (2L, "b", Some(2.5))))
  }
}
