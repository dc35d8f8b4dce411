package graft

import org.apache.spark.sql.functions._
import graft.ext.Search
import graft.plans.FreqSketch
import graft.sources.Tables

/** Behavioral specs for the ranked-retrieval module (ext/Search) and
  * the Misra-Gries frequent-items aggregate (plans/FreqSketch).
  */
class SearchSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, sf, "documents").df

  /** The buckets `terms` hash to in an index of `n` buckets — the
    * documented layout md5-hash(term) mod n, computed here apart from
    * the engine's own bucket expression.
    */
  private def termBuckets(terms: Seq[String], n: Int): Set[Int] =
    terms.map(t => (graft.ext.TextAnalysis.h60Value(t) % n).toInt).toSet

  /** The bucket ids of the dirs `df` reads: keyed-table generation and
    * delta dirs are named `b<5-digit bucket>_g…` / `d<5-digit bucket>_g…`.
    */
  private def bucketsRead(df: org.apache.spark.sql.DataFrame): Set[Int] =
    df.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).getParent
      .getName.substring(1, 6).toInt).toSet

  test("termFreq counts duplicate tokens; blank text has none") {
    val out = Seq("a b a a", "b", "", "   ").toDF("t")
      .select(Search.termFreq(col("t"), "a")).collect().map(_.getInt(0))
    assert(out.toSeq == Seq(3, 0, 0, 0))
  }

  test("bm25: higher tf of a rarer term wins; non-matching docs excluded") {
    val corpus = Seq(
      (1L, "rare rare common filler filler"),
      (2L, "rare common filler filler filler"),
      (3L, "common filler filler filler filler"),
      (4L, "filler filler filler filler filler"),
      (5L, null.asInstanceOf[String])).toDF("id", "text")
    val res = Search.bm25Search(corpus, "id", "text",
      Seq("rare", "common"), 10).collect()
    val ids = res.map(_.getLong(0)).toSeq
    // doc 4 matches nothing, doc 5 is null — both excluded
    assert(ids.toSet == Set(1L, 2L, 3L))
    // two 'rare' hits beat one beat zero; doc3 has only the commoner term
    assert(ids == Seq(1L, 2L, 3L))
    // scores strictly ordered
    val scores = res.map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse && scores.distinct == scores)
  }

  test("bm25: length normalization prefers the shorter doc at equal tf") {
    val corpus = Seq(
      (1L, "hit pad"),
      (2L, "hit pad pad pad pad pad pad pad")).toDF("id", "text")
    val res = Search.bm25Search(corpus, "id", "text", Seq("hit"), 10)
      .collect().map(_.getLong(0)).toSeq
    assert(res == Seq(1L, 2L))
  }

  test("bm25: classic log idf keeps the rational ranking (monotone)") {
    val rational = Search.bm25Search(docs, "doc_id", "text",
      Seq("spark"), 15).collect().map(_.getLong(0)).toSeq
    val classic = Search.bm25Search(docs, "doc_id", "text",
      Seq("spark"), 15, classicIdf = true).collect().map(_.getLong(0)).toSeq
    assert(rational == classic)
  }

  test("searchIndex is bit-identical to the direct bm25 scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_searchidx")
      .toString
    try {
      // non-default bucket count: the querier must recover it from
      // the index metadata, never guess it
      Search.buildIndex(docs, "doc_id", "text", dir, nBuckets = 16)
      val terms = Seq("customer", "window", "spark")
      val direct = Search.bm25Search(docs, "doc_id", "text", terms, 30)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val indexed = Search.searchIndex(spark, dir, terms, 30)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(direct == indexed)
      // conjunctive mode agrees bit-for-bit too
      val directAll = Search.bm25Search(docs, "doc_id", "text", terms, 30,
        requireAll = true)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val indexedAll = Search.searchIndex(spark, dir, terms, 30,
        requireAll = true)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(directAll == indexedAll)
      assert(directAll.map(_._1).toSet.subsetOf(direct.map(_._1).toSet))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))
    }
  }

  test("appendIndex: grown index == full-corpus scan, segments immutable, rebuild + vacuum") {
    val dir = java.nio.file.Files.createTempDirectory("graft_appendidx")
      .toString
    try {
      val a = docs.filter(col("doc_id") % 3 === 0)
      val b = docs.filter(col("doc_id") % 3 =!= 0)
      Search.buildIndex(a, "doc_id", "text", dir, nBuckets = 16)
      val before = parquetFileState(dir)
      Search.appendIndex(b, "doc_id", "text", dir)
      // the base segment was never rewritten — bytes ∝ appended docs
      val after = parquetFileState(dir)
      before.foreach { case (p, t) =>
        assert(after.get(p).contains(t), s"append rewrote base segment: $p")
      }
      // BM25 and phrase/near queries over the grown index are
      // bit-identical to the direct scan of the FULL corpus
      val terms = Seq("customer", "window", "spark")
      assert(Search.searchIndex(spark, dir, terms, 30)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
        Search.bm25Search(docs, "doc_id", "text", terms, 30)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
      assert(Search.phraseSearchIndex(spark, dir, Seq("scan", "query"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet ==
        Search.phraseSearch(docs, "doc_id", "text", Seq("scan", "query"))
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet)
      // the append landed as delta dirs, and the grown index still
      // reads only the query terms' buckets (base and delta levels)
      val M = graft.sources.Maintenance
      assert(M.readManifest(spark, dir).deltas.nonEmpty)
      val read = bucketsRead(Search.searchIndex(spark, dir, terms, 30))
      assert(read.nonEmpty && read.subsetOf(termBuckets(terms, 16)),
        s"append broke pruning: read buckets $read")
      // a rebuild REPLACES the table; vacuum reclaims the old
      // generations and the rebuilt index still answers identically
      Search.buildIndex(docs, "doc_id", "text", dir, nBuckets = 8)
      M.vacuumKeyed(spark, dir, keepVersions = 1, graceMs = 0L)
      val m = M.readManifest(spark, dir)
      assert(m.nBuckets == 8 && m.deltas.isEmpty)
      val onDisk = new java.io.File(dir).listFiles
        .map(_.getName).filterNot(_.startsWith("_")).toSet
      assert(onDisk == m.buckets.values.toSet,
        s"stale generations survived vacuum: $onDisk")
      assert(Search.searchIndex(spark, dir, terms, 30)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
        Search.bm25Search(docs, "doc_id", "text", terms, 30)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))
    }
  }

  test("compactIndex folds the appended deltas: bit-identical parity, vacuum reclaims") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compactidx")
      .toString
    try {
      val M = graft.sources.Maintenance
      // a big base + two small appends = chains of two deltas
      Search.buildIndex(docs.filter(col("doc_id") % 4 =!= 3), "doc_id",
        "text", dir, nBuckets = 16)
      Search.appendIndex(docs.filter(col("doc_id") % 8 === 3), "doc_id",
        "text", dir)
      Search.appendIndex(docs.filter(col("doc_id") % 8 === 7), "doc_id",
        "text", dir)
      assert(M.readManifest(spark, dir).deltas.values.map(_.length).max == 2)
      val terms = Seq("customer", "window", "spark")
      def indexed() = Search.searchIndex(spark, dir, terms, 30)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val direct = Search.bm25Search(docs, "doc_id", "text", terms, 30)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(indexed() == direct)
      // full fold: no chain left, still bit-identical (positions
      // included — the fold never re-tokenizes), corpus stats carried
      val stats = M.readManifest(spark, dir).counters
      Search.compactIndex(spark, dir)
      val m = M.readManifest(spark, dir)
      assert(m.deltas.isEmpty && m.counters == stats)
      assert(indexed() == direct)
      assert(Search.phraseSearchIndex(spark, dir, Seq("scan", "query"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet ==
        Search.phraseSearch(docs, "doc_id", "text", Seq("scan", "query"))
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet)
      val read = bucketsRead(Search.searchIndex(spark, dir, terms, 30))
      assert(read.nonEmpty && read.subsetOf(termBuckets(terms, 16)))
      // a compaction with no chain left commits nothing; vacuum
      // reclaims the folded levels
      Search.compactIndex(spark, dir)
      assert(M.manifestVersions(spark, dir).last == m.version)
      M.vacuumKeyed(spark, dir, keepVersions = 1, graceMs = 0L)
      val onDisk = new java.io.File(dir).listFiles
        .map(_.getName).filterNot(_.startsWith("_")).toSet
      assert(onDisk == m.buckets.values.toSet)
      assert(indexed() == direct)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))
    }
  }

  test("appendIndex refuses a pre-manifest index instead of dropping its corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft_legacyidx")
      .toString
    // a legacy layout (postings/stats at the root, no manifest) must
    // not be silently replaced by an appended-only manifest
    val err = intercept[IllegalArgumentException] {
      Search.appendIndex(docs, "doc_id", "text", dir)
    }
    assert(err.getMessage.contains("pre-manifest"), err.getMessage)
    // a keyed table that is not a (term, doc_id) postings table is
    // refused before any write: keyed on the pair but bucketed on the
    // whole key, and keyed on something else
    val M = graft.sources.Maintenance
    val post = Seq(("a", 1L, 1, 1L)).toDF("term", "doc_id", "dl", "tf")
    for ((key, bucketCols) <- Seq((Seq("term", "doc_id"), Nil),
        (Seq("doc_id"), Nil))) {
      val other = java.nio.file.Files.createTempDirectory("graft_notidx")
        .toString
      M.writeKeyed(post, other, key, 4, bucketCols = bucketCols)
      val v = M.manifestVersions(spark, other)
      val e = intercept[IllegalArgumentException] {
        Search.appendIndex(docs, "doc_id", "text", other)
      }
      assert(e.getMessage.contains("is not a search index"), e.getMessage)
      assert(M.manifestVersions(spark, other) == v)
    }
  }

  test("n_docs and sdl equal a direct count after build and append") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idxcounts")
      .toString
    try {
      val M = graft.sources.Maintenance
      def direct(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
        val r = df.agg(count(lit(1)),
          coalesce(sum(size(graft.ext.TextAnalysis.tokens(col("text")))),
            lit(0L))).head
        (r.getLong(0), r.getLong(1))
      }
      def recorded(): (Long, Long) = {
        val c = M.readManifest(spark, dir).counters
        (c("n_docs"), c("sdl"))
      }
      val a = docs.filter(col("doc_id") % 3 === 0)
      Search.buildIndex(a, "doc_id", "text", dir, nBuckets = 8)
      assert(recorded() == direct(a))
      Search.appendIndex(docs.filter(col("doc_id") % 3 =!= 0), "doc_id",
        "text", dir)
      assert(recorded() == direct(docs))
      // documents without text write no postings but still count: the
      // append commits the counters alone
      val blank = Seq((-1L, null: String), (-2L, null: String))
        .toDF("doc_id", "text")
      val m = M.readManifest(spark, dir)
      Search.appendIndex(blank, "doc_id", "text", dir)
      val m2 = M.readManifest(spark, dir)
      assert(m2.version == m.version + 1 && m2.deltas == m.deltas)
      assert(recorded() ==
        direct(docs.select("doc_id", "text").unionByName(blank)))
      assert(Search.indexStats(spark, dir).head.getLong(0) ==
        direct(docs)._1 + 2L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))
    }
  }

  test("keyedStats reports a search index's postings rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idxstats")
      .toString
    val M = graft.sources.Maintenance
    val some = docs.limit(20)
    Search.buildIndex(some, "doc_id", "text", dir, nBuckets = 4)
    val postings = some.select(col("doc_id"),
        explode(graft.ext.TextAnalysis.tokens(col("text"))).as("term"))
      .distinct().count()
    val st = M.keyedStats(spark, dir).collect()
    assert(st.map(_.getLong(1)).sum == postings)
    assert(st.map(_.getInt(0)).toSet == M.readManifest(spark, dir).buckets.keySet)
  }

  test("phraseCount: consecutive matches only, overlaps count, short docs safe") {
    val df = Seq(
      (1L, "a b c a b"),   // "a b" twice
      (2L, "a a a"),       // "a a" twice (overlapping)
      (3L, "b a"),         // reversed -> no "a b"
      (4L, "a"),           // shorter than the phrase
      (5L, "")).toDF("id", "t")
    val ab = df.select(Search.phraseCount(col("t"), Seq("a", "b")))
      .collect().map(_.getInt(0)).toSeq
    assert(ab == Seq(2, 0, 0, 0, 0))
    val aa = df.select(Search.phraseCount(col("t"), Seq("a", "a")))
      .collect().map(_.getInt(0)).toSeq
    assert(aa == Seq(0, 2, 0, 0, 0))
    // single-term phrase degenerates to termFreq
    val a1 = df.select(Search.phraseCount(col("t"), Seq("a")))
      .collect().map(_.getInt(0)).toSeq
    assert(a1 == Seq(2, 3, 1, 1, 0))
  }

  test("phraseSearchIndex is row-identical to the phrase scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_phraseidx")
      .toString
    try {
      Search.buildIndex(docs, "doc_id", "text", dir, nBuckets = 16)
      for (phrase <- Seq(Seq("scan", "query"), Seq("table", "table"),
        Seq("value", "table", "part"), Seq("spark"),
        Seq("nosuchterm", "table"))) {
        val direct = Search.phraseSearch(docs, "doc_id", "text", phrase)
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
        val indexed = Search.phraseSearchIndex(spark, dir, phrase)
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
        assert(direct == indexed, s"phrase $phrase disagrees")
      }
      // and the testdata really exercises it (non-empty somewhere)
      assert(Search.phraseSearch(docs, "doc_id", "text",
        Seq("table", "table")).count() > 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))
    }
  }

  test("nearSearch: ordered chains within slop; slop=1 equals the phrase") {
    val df = Seq(
      (1L, "a x b"),       // a..b with one gap: slop 2 matches, 1 not
      (2L, "a b"),         // consecutive
      (3L, "b x x a"),     // wrong order
      (4L, "a x x x b"),   // gap 4: only slop >= 4
      (5L, "a x b x b")).toDF("id", "t") // one start, two chain ends -> 1
    def near(slop: Int) = Search.nearSearch(df, "id", "t", Seq("a", "b"), slop)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(near(1) == Map(2L -> 1))
    assert(near(2) == Map(1L -> 1, 2L -> 1, 5L -> 1))
    assert(near(4) == Map(1L -> 1, 2L -> 1, 4L -> 1, 5L -> 1))
    // slop=1 == phrase semantics on the corpus
    val p = Search.phraseSearch(docs, "doc_id", "text", Seq("scan", "query"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val n1 = Search.nearSearch(docs, "doc_id", "text",
      Seq("scan", "query"), 1)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(p == n1)
  }

  test("nearSearchIndex is row-identical to the near scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_nearidx")
      .toString
    try {
      Search.buildIndex(docs, "doc_id", "text", dir, nBuckets = 16)
      for ((terms, slop) <- Seq((Seq("scan", "query"), 3),
        (Seq("vector", "table"), 4), (Seq("key", "value", "key"), 5),
        (Seq("table"), 2))) {
        val direct = Search.nearSearch(docs, "doc_id", "text", terms, slop)
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
        val indexed = Search.nearSearchIndex(spark, dir, terms, slop)
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
        assert(direct == indexed, s"near $terms/$slop disagrees")
        assert(direct.nonEmpty || terms.contains("nosuch"))
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))
    }
  }

  test("topTermsPerDoc surfaces the distinctive term first") {
    val corpus = Seq(
      (1L, "apple apple shared"),
      (2L, "shared banana")).toDF("id", "text")
    val res = Search.topTermsPerDoc(corpus, "id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    val top1 = res.filter(r => r._1 == 1L && r._2 == 1).head._3
    val top2 = res.filter(r => r._1 == 2L && r._2 == 1).head._3
    assert(top1 == "apple" && top2 == "banana")
  }

  test("topTokens matches an exact groupBy count") {
    val expect = docs
      .select(explode(graft.ext.TextAnalysis.tokens(col("text"))).as("t"))
      .groupBy("t").count()
      .orderBy(col("count").desc, col("t")).limit(5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val got = Search.topTokens(docs, "text", 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expect)
  }

  test("freq sketch: exact regime equals the exact counts") {
    val exact = docs
      .select(explode(graft.ext.TextAnalysis.tokens(col("text"))).as("t"))
      .groupBy("t").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sketch = docs
      .select(explode(graft.ext.TextAnalysis.tokens(col("text"))).as("t"))
      .agg(FreqSketch.freqSketch(col("t"), 4096).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.term"), col("e.est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sketch == exact)
  }

  test("freq sketch: Misra-Gries guarantee holds under partition merges") {
    val n = 40000L
    val cap = 16
    // 4 heavies at n/8 each, the rest a unique tail — repartition(7)
    // forces partial buffers to merge in a nondeterministic order
    val stream = spark.range(n).repartition(7).select(
      when(col("id") % 2 === 0,
          concat(lit("h"), floor((col("id") % 8) / 2).cast("long")))
        .otherwise(concat(lit("t"), col("id"))).as("term"))
    val heavies = stream.filter(col("term").startsWith("h"))
      .groupBy("term").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sketch = stream.agg(FreqSketch.freqSketch(col("term"), cap).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.term"), col("e.est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sketch.size <= cap)
    val bound = n / (cap + 1)
    // every heavy (freq n/8 >> n/17) must be tracked, inside the band
    heavies.foreach { case (t, exact) =>
      assert(sketch.contains(t), s"heavy $t missing from sketch")
      val est = sketch(t)
      assert(est <= exact && est + bound >= exact,
        s"estimate $est outside [${exact - bound}, $exact] for $t")
    }
    // no estimate may exceed its true count (downward-biased only)
    val allExact = stream.groupBy("term").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sketch.foreach { case (t, est) =>
      assert(est <= allExact(t), s"overestimate for $t")
    }
  }

  test("unicode normalization: NFC equates decomposed and precomposed") {
    import graft.ext.TextAnalysis
    val out = Seq("Cafe\u0301", "Caf\u00e9").toDF("t")
      .select(TextAnalysis.normalizeText(col("t")))
      .collect().map(_.getString(0))
    assert(out(0) == out(1) && out(0) == "Caf\u00e9")
    val nfd = Seq("Caf\u00e9").toDF("t")
      .select(TextAnalysis.normalizeText(col("t"), "NFD"))
      .head.getString(0)
    assert(nfd == "Cafe\u0301")
    // NFKC also folds compatibility forms (ﬁ ligature → fi)
    val nfkc = Seq("\ufb01ne").toDF("t")
      .select(TextAnalysis.normalizeText(col("t"), "NFKC"))
      .head.getString(0)
    assert(nfkc == "fine")
    val n = Seq(null.asInstanceOf[String]).toDF("t")
      .select(TextAnalysis.normalizeText(col("t"))).head
    assert(n.isNullAt(0))
    // canonicalization makes the dedup fingerprint agree
    val fps = Seq("Cafe\u0301 x", "Caf\u00e9 x").toDF("t")
      .select(TextAnalysis.fingerprint(
        TextAnalysis.normalizeText(col("t"))))
      .collect().map(_.getString(0))
    assert(fps(0) == fps(1))
  }

  test("fold_accents strips marks, keeps base letters") {
    import graft.ext.TextAnalysis
    val out = Seq("Caf\u00e9 Z\u00fcrich naïve", "plain ascii")
      .toDF("t").select(TextAnalysis.foldAccents(col("t")))
      .collect().map(_.getString(0))
    assert(out.toSeq == Seq("Cafe Zurich naive", "plain ascii"))
  }

  test("bm25 conjunctive mode: only all-term docs rank, scores unchanged") {
    import graft.ext.Search
    val docs = Seq(
      (1L, "spark joins the batch"),      // "spark" yes, "joins" != "join"
      (2L, "spark join spark join here"), // both
      (3L, "spark only here"),            // one
      (4L, "join only here"),             // one
      (5L, "neither word present")).toDF("doc_id", "text")
    val both = Search.bm25Search(docs, "doc_id", "text",
      Seq("spark", "join"), 10, requireAll = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(both.map(_._1).toSeq == Seq(2L))
    val any = Search.bm25Search(docs, "doc_id", "text",
      Seq("spark", "join"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // conjunctive hits keep their disjunctive scores (same stats)
    assert(both.forall { case (id, s) => any(id) == s })
    assert(any.keySet == Set(1L, 2L, 3L, 4L))
  }

  test("strip_html extracts visible text") {
    import graft.ext.TextAnalysis
    def strip(s: String): String =
      Seq(s).toDF("t").select(TextAnalysis.stripHtml(col("t")))
        .head.getString(0)
    // tags become word separators; comments and script/style content
    // (incl. a '<' inside code) vanish entirely
    assert(strip("<html><body><h1>Title</h1><p>a<br>b</p>" +
      "<script>if (1 < 2) { x(); }</script>" +
      "<style>p { color: red; }</style>" +
      "<!-- hidden\nnote --></body></html>") == "Title a b")
    // entities decode AFTER tag stripping; &amp; decodes LAST so
    // "&amp;lt;" yields the literal "&lt;" the author wrote
    assert(strip("<p>Tom &amp; Jerry: 1 &lt; 2, &amp;lt; stays," +
      " &#39;q&#39;&nbsp;end</p>") ==
      "Tom & Jerry: 1 < 2, &lt; stays, 'q' end")
    // stray prose comparisons are NOT tags; attributes are dropped
    assert(strip("x < y and y > z <a href=\"u\">link</a>") ==
      "x < y and y > z link")
    // malformed input degrades to whitespace, never errors
    assert(strip("a <b unclosed") == "a <b unclosed")
    assert(strip("") == "")
    val n = Seq(null.asInstanceOf[String]).toDF("t")
      .select(TextAnalysis.stripHtml(col("t"))).head
    assert(n.isNullAt(0))
  }

  test("url domain extraction") {
    import graft.ext.TextAnalysis
    val out = Seq("see https://a.example.org/x and http://b.io, done",
        "no urls here").toDF("t")
      .select(TextAnalysis.urlDomains(col("t")))
      .collect().map(_.getSeq[String](0))
    assert(out(0) == Seq("a.example.org", "b.io"))
    assert(out(1).isEmpty)
  }

  test("freq sketch: nulls ignored, empty input yields empty array") {
    val out = Seq(Some("a"), None, Some("a"), Some("b")).toDF("t")
      .agg(FreqSketch.freqSketch(col("t"), 8).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.term"), col("e.est"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("a", 2L), ("b", 1L)))
    val empty = spark.range(0).select(col("id").cast("string").as("t"))
      .agg(FreqSketch.freqSketch(col("t"), 8).as("sk"))
      .select(size(col("sk"))).collect().head.getInt(0)
    assert(empty == 0)
  }

  test("a new session's searchIndex plan build runs no Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_statsmemo")
      .toString
    try {
      Search.buildIndex(docs, "doc_id", "text", dir, nBuckets = 8)
      val terms = Seq("customer", "window")
      val other = spark.newSession()
      // count this thread's jobs from here on (the listener bus is
      // asynchronous: earlier jobs' events may still be in flight): the
      // corpus stats come from the manifest and the term buckets from
      // a driver-side hash, so building the plan runs none
      val group = "graft-planbuild"
      @volatile var jobs = 0
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (Option(js.properties).exists(
                _.getProperty("spark.jobGroup.id") == group))
            jobs += 1
      }
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setJobGroup(group, "second-session plan build")
      try {
        Search.searchIndex(other, dir, terms, 5) // plan build only
        Thread.sleep(300) // let listener events drain
        assert(jobs == 0, s"second session's plan build ran $jobs jobs")
      } finally {
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.removeSparkListener(listener)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))
    }
  }
}
