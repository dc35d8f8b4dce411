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
      // static pruning holds across segments: EVERY postings scan in
      // the executed plan (one per segment) carries the bucket
      // partition filter (inputFiles can't show this — it lists the
      // relation's files before partition pruning applies)
      val plan = Search.searchIndex(spark, dir, terms, 30)
        .queryExecution.executedPlan.toString
      // 2 segments × 2 branches (postings + the df fold) = 4 postings
      // scans, EVERY one carrying the bucket partition filter (the
      // Location: line truncates at ~100 chars, so scans are counted
      // by their filters, not their paths)
      val nPruned = "PartitionFilters: \\[bucket".r.findAllIn(plan).size
      assert(nPruned == 4,
        s"append broke pruning: $nPruned pruned postings scans\n$plan")
      // a rebuild REPLACES the segment list; vacuum reclaims the old
      // segments and the rebuilt index still answers identically
      Search.buildIndex(docs, "doc_id", "text", dir, nBuckets = 8,
        filesPerBucket = 2)
      Search.vacuumIndex(spark, dir, keepVersions = 1, graceMs = 0L)
      val live = graft.sources.Maintenance.listSegments(spark, dir)
      assert(live.size == 1)
      val onDisk = new java.io.File(dir).listFiles
        .map(_.getName).filter(_.startsWith("s")).toSet
      assert(onDisk == live.map(_.split('/').last).toSet,
        s"stale segments survived vacuum: $onDisk")
      assert(Search.searchIndex(spark, dir, terms, 30)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
        Search.bm25Search(docs, "doc_id", "text", terms, 30)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
      // filesPerBucket widened the write without fragmenting pruning:
      // the segment holds more files than buckets (each bucket ≤ 2),
      // and every file still lives under its bucket dir
      val bdirs = new java.io.File(live.head + "/postings").listFiles
        .filter(_.getName.startsWith("bucket="))
      val perBucket = bdirs.map(
        _.listFiles.count(_.getName.endsWith(".parquet")))
      assert(perBucket.sum > bdirs.length && perBucket.forall(_ <= 2),
        s"sub-split did not widen the layout: ${perBucket.toSeq}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))
    }
  }

  test("compactIndex folds the segment list: parity bit-identical, tiered smallestK keeps the base, appends survive") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compactidx")
      .toString
    try {
      val M = graft.sources.Maintenance
      // a big base + two small appends = 3 segments
      Search.buildIndex(docs.filter(col("doc_id") % 4 =!= 3), "doc_id",
        "text", dir, nBuckets = 16)
      val baseSeg = M.listSegments(spark, dir).head
      Search.appendIndex(docs.filter(col("doc_id") % 8 === 3), "doc_id",
        "text", dir)
      Search.appendIndex(docs.filter(col("doc_id") % 8 === 7), "doc_id",
        "text", dir)
      assert(M.listSegments(spark, dir).size == 3)
      val terms = Seq("customer", "window", "spark")
      def indexed() = Search.searchIndex(spark, dir, terms, 30)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val direct = Search.bm25Search(docs, "doc_id", "text", terms, 30)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(indexed() == direct)
      // tiered fold: the 2 smallest segments merge; the big base is
      // NEVER read or rewritten (compaction IO ∝ the small tail)
      val baseState = parquetFileState(baseSeg)
      Search.compactIndex(spark, dir, smallestK = Some(2))
      val after2 = M.listSegments(spark, dir)
      assert(after2.size == 2 && after2.contains(baseSeg))
      assert(parquetFileState(baseSeg) == baseState,
        "smallestK fold rewrote the base segment")
      assert(indexed() == direct)
      // full fold: one segment, still bit-identical (positions
      // included — the fold never re-tokenizes), pruning intact
      Search.compactIndex(spark, dir)
      assert(M.listSegments(spark, dir).size == 1)
      assert(indexed() == direct)
      assert(Search.phraseSearchIndex(spark, dir, Seq("scan", "query"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet ==
        Search.phraseSearch(docs, "doc_id", "text", Seq("scan", "query"))
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet)
      val plan = Search.searchIndex(spark, dir, terms, 30)
        .queryExecution.executedPlan.toString
      // 1 segment × 2 branches, both bucket-pruned
      assert("PartitionFilters: \\[bucket".r.findAllIn(plan).size == 2)
      // policy no-op below minSegments; vacuum reclaims folded segments
      val v = M.manifestVersions(spark, dir).last
      Search.compactIndex(spark, dir)
      assert(M.manifestVersions(spark, dir).last == v)
      Search.vacuumIndex(spark, dir, keepVersions = 1, graceMs = 0L)
      val onDisk = new java.io.File(dir).listFiles
        .map(_.getName).filter(_.startsWith("s")).toSet
      assert(onDisk ==
        M.listSegments(spark, dir).map(_.split('/').last).toSet)
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
  }

  test("keyedStats refuses a search index instead of reporting bytes as rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idxstats")
      .toString
    val M = graft.sources.Maintenance
    Search.buildIndex(docs.limit(20), "doc_id", "text", dir, nBuckets = 4)
    // segment sizes live in their own `bytes` map, never in `rows`
    val m = M.readManifest(spark, dir)
    assert(m.rows.isEmpty && m.bytes.keySet == m.buckets.values.toSet &&
      m.bytes.values.forall(_ > 0), m)
    val err = intercept[IllegalArgumentException] {
      M.keyedStats(spark, dir)
    }
    assert(err.getMessage.contains("no keyed metadata"), err.getMessage)
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

  test("corpus-stats memo serves a new session without a Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_statsmemo")
      .toString
    try {
      Search.buildIndex(docs, "doc_id", "text", dir, nBuckets = 8)
      val terms = Seq("customer", "window")
      Search.searchIndex(spark, dir, terms, 5) // consults the stats once
      val other = spark.newSession()
      // count this thread's jobs from here on (the listener bus is
      // asynchronous: earlier jobs' events may still be in flight) that
      // the stats consult launched (the postings reads' footer jobs are
      // per-session and not what the memo covers)
      val group = "graft-statsmemo"
      @volatile var jobs = 0
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (Option(js.properties).exists(
                _.getProperty("spark.jobGroup.id") == group) &&
              js.stageInfos.exists(_.details.contains("Search$.statsOf")))
            jobs += 1
      }
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setJobGroup(group, "second-session plan build")
      try {
        Search.searchIndex(other, dir, terms, 5) // plan build only
        Thread.sleep(300) // let listener events drain
        assert(jobs == 0, s"second session's stats consult ran $jobs jobs")
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
