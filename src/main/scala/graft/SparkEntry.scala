package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types._

import graft.dsl._
import graft.functions.PF
import graft.joins.Joins
import graft.sources.Tables

/** Driver contract — one `queries` entry (+ DuckDB oracle SQL) per
  * implemented operator from SURVEY.md §2. All queries are built through
  * the graft DSL so the library itself is what's under test.
  */
object SparkEntry {

  private def t(s: SparkSession, d: String, name: String): PTable =
    Tables.load(s, d, name)

  /** Flagship query on sf=0.001 (SURVEY §7.2 vertical slice):
    * customer {nation => population} order {^population}.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q06_join_auto")(spark, "/root/testdata/sf0.001")

  type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q] = Map(
    // ---- §2.2 projection / selection ------------------------------------
    "q01_projection" -> ((s, d) =>
      t(s, d, "customer").project(
        "c_custkey",
        "name_upper" -> F.upper(col("c_name")),
        "bal" -> col("c_acctbal")).df),

    "q02_selection" -> ((s, d) =>
      t(s, d, "lineitem")
        .where(col("l_quantity") > 30, PF.eq(col("l_returnflag"), lit("R")))
        .project("l_orderkey", "l_linenumber", "l_quantity").df),

    "q02b_project_ellipsis" -> ((s, d) =>
      t(s, d, "nation").projectAll(
        exclude = Seq("n_regionkey"),
        extra = Seq(NamedCol("upper_name", F.upper(col("n_name"))))).df),

    // ---- §2.4 aggregation ------------------------------------------------
    "q03_groupby_agg" -> ((s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag", "l_linestatus")(
        "num" -> F.count(lit(1)),
        "sum_qty" -> PF.dsum(col("l_quantity")),
        "avg_price" -> PF.davg(col("l_extendedprice")),
        "min_disc" -> F.min(col("l_discount")),
        "max_tax" -> F.max(col("l_tax"))
      ).orderBy("l_returnflag", "l_linestatus").df),

    "q04_global_agg" -> ((s, d) =>
      t(s, d, "orders").aggAll(
        "num" -> F.count(lit(1)),
        "total" -> PF.dsum(col("o_totalprice")),
        "first_date" -> F.min(col("o_orderdate")),
        "last_date" -> F.max(col("o_orderdate"))).df),

    "q05_distinct_keys" -> ((s, d) =>
      t(s, d, "customer").groupBy("c_mktsegment")().df),

    "q05b_agg_stats" -> ((s, d) =>
      t(s, d, "orders").groupBy("o_orderstatus")(
        "n_cust" -> F.countDistinct(col("o_custkey")),
        "n_high" -> PF.countTrue(col("o_totalprice") > 100000),
        "n_low" -> PF.countFalse(col("o_totalprice") > 100000),
        "sd_price" -> F.round(PF.dstddev(col("o_totalprice")), 6)
      ).orderBy("o_orderstatus").df),

    // ---- §2.3 joins ------------------------------------------------------
    "q06_join_auto" -> ((s, d) =>
      Joins.join("c" -> t(s, d, "customer"), "n" -> t(s, d, "nation"))
        .groupBy("n_name" -> col("n.n_name"))(
          "population" -> F.count(lit(1)))
        .orderBy(desc("population"), "n_name").df),

    "q07_leftjoin" -> ((s, d) =>
      Joins.leftjoin("c" -> t(s, d, "customer"), "o" -> t(s, d, "orders"))
        .groupBy("c_custkey" -> col("c.c_custkey"))(
          "num_orders" -> F.count(col("o.o_orderkey"))).df),

    "q08_outerjoin" -> ((s, d) =>
      Joins.outerjoinOn(col("su.s_suppkey") === col("c.c_custkey"),
        "su" -> t(s, d, "supplier"), "c" -> t(s, d, "customer"))
        .project(
          "s_suppkey" -> col("su.s_suppkey"),
          "s_name" -> col("su.s_name"),
          "c_custkey" -> col("c.c_custkey"),
          "c_name" -> col("c.c_name")).df),

    "q09_joinall_theta" -> ((s, d) =>
      Joins.joinall("r" -> t(s, d, "region"), "n" -> t(s, d, "nation"))
        .where(col("n.n_regionkey") =!= col("r.r_regionkey"))
        .project("r_name" -> col("r.r_name"), "n_name" -> col("n.n_name")).df),

    "q10_semijoin" -> ((s, d) =>
      Joins.semi(t(s, d, "customer"), "c_custkey",
          t(s, d, "orders"), "o_custkey")
        .project("c_custkey", "c_name").df),

    "q11_antijoin" -> ((s, d) =>
      Joins.anti(t(s, d, "customer"), "c_custkey",
          t(s, d, "orders").where(col("o_totalprice") > 300000), "o_custkey")
        .project("c_custkey", "c_name").df),

    "q12_zipjoin" -> ((s, d) => {
      val a = t(s, d, "nation").orderBy("n_name").project("n_name")
      val b = t(s, d, "region").orderBy("r_name").project("r_name")
      Joins.zipjoin(a, b).project(
        "n_name" -> col("a.n_name"), "r_name" -> col("b.r_name")).df
    }),

    // padded zip variants: deterministic pre-order makes them
    // oracle-able (same row_number pattern as q12)
    "q69_zipjoin_left" -> ((s, d) => {
      val a = t(s, d, "nation").orderBy("n_name").project("n_name")
      val b = t(s, d, "region").orderBy("r_name").project("r_name")
      Joins.zipjoinLeft(a, b).project(
        "n_name" -> col("a.n_name"), "r_name" -> col("b.r_name")).df
    }),

    "q70_zipjoin_longest" -> ((s, d) => {
      val a = t(s, d, "region").orderBy("r_name").project("r_name")
      val b = t(s, d, "nation").orderBy("n_name").project("n_name")
      Joins.zipjoinLongest(a, b).project(
        "r_name" -> col("a.r_name"), "n_name" -> col("b.n_name")).df
    }),

    // temptable attaches a fresh 1-based id in the expression's order
    // (reference pql_functions.py:327-348); ordered input → the id IS
    // the sort rank, so DuckDB's row_number reproduces it
    "q71_temptable" -> ((s, d) => {
      val cat = new graft.catalog.Catalog(s)
      cat.temptable("tt_nations",
        t(s, d, "nation").orderBy("n_name").project("n_name")).df
    }),

    "q72_approx_product" -> ((s, d) =>
      t(s, d, "nation").df.groupBy("n_regionkey")
        .agg(F.round(PF.approxProduct(col("n_nationkey") + 1), 6)
          .as("aprod"))),

    // ---- §2.9 cross-session persistence (reference connect(),
    // sql_interface.py:965-1025): mutate, save to parquet+manifest,
    // reopen in a FRESH catalog — the reloaded table must carry the
    // mutations
    "q73_persist" -> ((s, d) => {
      val cat = new graft.catalog.Catalog(s)
      cat.register("nation_p", t(s, d, "nation"))
      cat.update("nation_p", PF.eq(col("n_nationkey"), lit(3)),
        "n_name" -> F.concat(col("n_name"), lit("_X")))
      cat.delete("nation_p", col("n_nationkey") > 20)
      cat.insertRow("nation_p",
        Map("n_name" -> "ZEALANDIA", "n_regionkey" -> 2))
      val dir = runScratch("q73_persist", d)
      cat.saveTo(dir)
      val cat2 = new graft.catalog.Catalog(s)
      cat2.attach(dir)
      cat2.get("nation_p").df
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    }),

    // ---- §2.7 set operations --------------------------------------------
    "q13_union_all" -> ((s, d) =>
      (t(s, d, "customer").project("key" -> col("c_nationkey")) +
        t(s, d, "supplier").project("key" -> col("s_nationkey"))).df),

    "q14_union" -> ((s, d) =>
      (t(s, d, "customer").project("key" -> col("c_nationkey")) |
        t(s, d, "supplier").project("key" -> col("s_nationkey"))).df),

    "q15_intersect" -> ((s, d) =>
      (t(s, d, "customer").project("key" -> col("c_nationkey")) &
        t(s, d, "supplier").project("key" -> col("s_nationkey"))).df),

    "q16_except" -> ((s, d) =>
      (t(s, d, "part").project("key" -> col("p_size")) -
        t(s, d, "nation").project("key" -> col("n_nationkey"))).df),

    // ---- §2.6 sort / slice / top-k --------------------------------------
    "q17_order_slice" -> ((s, d) =>
      t(s, d, "customer")
        .orderBy(desc("c_acctbal"), "c_custkey")
        .slice(10, 25)
        .project("c_custkey", "c_acctbal").df),

    "q18_topk" -> ((s, d) =>
      t(s, d, "orders")
        .orderBy(desc("o_totalprice"), "o_orderkey")
        .limit(10)
        .project("o_orderkey", "o_totalprice").df),

    "q19_one" -> ((s, d) => {
      val pt = t(s, d, "customer").where(col("c_custkey") === 1)
        .project("c_custkey", "c_name")
      val row = pt.one()
      s.createDataFrame(java.util.Arrays.asList(row), pt.schema)
    }),

    // ---- §2.5 window: enum ----------------------------------------------
    "q20_enum" -> ((s, d) =>
      t(s, d, "nation").orderBy("n_name").enum("index")
        .project("index", "n_nationkey", "n_name").df),

    // ---- agg: bare column → array (collect) -----------------------------
    "q21_collect" -> ((s, d) =>
      Joins.join("n" -> t(s, d, "nation"), "r" -> t(s, d, "region"))
        .groupBy("r_name" -> col("r.r_name"))(
          "names" -> F.array_join(
            F.sort_array(F.collect_list(col("n.n_name"))), ",")).df),

    // ---- §2.8 scalar functions ------------------------------------------
    "q22_strings" -> ((s, d) =>
      t(s, d, "part").project(
        "p_partkey",
        "up" -> F.upper(col("p_name")),
        "lo" -> F.lower(col("p_brand")),
        "len" -> F.length(col("p_name")),
        "idx" -> PF.strIndex(col("p_name"), lit("a")),
        "sl" -> PF.strSlice(col("p_name"), lit(2), lit(8)),
        "rep" -> PF.strRepeat(col("p_brand"), lit(2)),
        "has" -> PF.strContains(col("p_name"), lit("green"))).df),

    "q23_datetime" -> ((s, d) =>
      t(s, d, "orders").project(
        "o_orderkey",
        "y" -> PF.year(col("o_orderdate")),
        "m" -> PF.month(col("o_orderdate")),
        "dy" -> PF.day(col("o_orderdate")),
        "dow" -> PF.dayOfWeek(col("o_orderdate")),
        "woy" -> PF.weekOfYear(col("o_orderdate"))).df),

    "q24_casts" -> ((s, d) =>
      t(s, d, "orders").project(
        "o_orderkey",
        "key_str" -> col("o_orderkey").cast(StringType),
        "price_int" -> col("o_totalprice").cast(LongType),
        "parsed" -> PF.strictToInt(col("o_orderkey").cast(StringType)),
        "flag" -> PF.numToBool(col("o_orderkey") % 2)).df),

    "q25_arith" -> ((s, d) =>
      t(s, d, "lineitem").project(
        "l_orderkey", "l_linenumber",
        "fdiv" -> PF.floorDiv(col("l_partkey"), lit(7)),
        "mod7" -> col("l_partkey") % 7,
        "fl" -> PF.div(col("l_partkey"), lit(7)),
        "sq" -> col("l_quantity") * col("l_quantity")).df),

    "q26_nullsafe_eq" -> ((s, d) =>
      Joins.leftjoin("c" -> t(s, d, "customer"), "o" -> t(s, d, "orders"))
        .project(
          "c_custkey" -> col("c.c_custkey"),
          "o_orderkey" -> col("o.o_orderkey"),
          "is_open" -> PF.eq(col("o.o_orderstatus"), lit("O")),
          "no_order" -> PF.eq(col("o.o_orderkey"), lit(null))).df),

    "q27_if_expr" -> ((s, d) =>
      t(s, d, "customer").project(
        "c_custkey",
        "bal_class" -> when(col("c_acctbal") < 0, lit("neg"))
          .when(col("c_acctbal") < 5000, lit("mid"))
          .otherwise(lit("high"))).df),

    "q28_in_like" -> ((s, d) =>
      t(s, d, "customer")
        .where(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"),
          col("c_name").like("%1%"))
        .project("c_custkey", "c_name", "c_mktsegment").df),

    // ---- §2.1 literal sources -------------------------------------------
    "q29_range" -> ((s, d) =>
      PTable.range(s, 1, 1001).aggAll("total" -> F.sum(col("item"))).df),

    "q30_list_literal" -> ((s, d) =>
      PTable.fromList(s, Seq(3, 1, 4, 1, 5, 9, 2, 6)).distinct
        .orderBy("item").df),

    // ---- §2.9 mutation (copy-on-write) ----------------------------------
    "q31_update" -> ((s, d) =>
      t(s, d, "lineitem")
        .update(PF.eq(col("l_returnflag"), lit("R")))(
          "l_discount" -> lit(0.0))
        .project("l_orderkey", "l_linenumber", "l_returnflag", "l_discount").df),

    "q32_delete" -> ((s, d) =>
      t(s, d, "orders")
        .delete(PF.eq(col("o_orderstatus"), lit("F")))
        .project("o_orderkey", "o_orderstatus").df),

    // ---- §2.11 table-generating (map_range / explode) -------------------
    "q33_map_range" -> ((s, d) =>
      t(s, d, "nation").project(
        "n_nationkey",
        "i" -> F.explode(F.sequence(lit(0), F.pmod(col("n_nationkey"), lit(3))))).df),

    // ---- sampling --------------------------------------------------------
    "q34_sample" -> ((s, d) =>
      t(s, d, "customer")
        .sampleByKey(col("c_custkey"), 100, 10)
        .project("c_custkey", "c_name").df),

    // ---- §2.9 catalog mutation: new / += ---------------------------------
    "q35_new_insert" -> ((s, d) => {
      val cat = new graft.catalog.Catalog(s)
      cat.register("region", t(s, d, "region"))
      cat.insertRow("region", Map("r_name" -> "MIDDLE EARTH"))
      cat.insertRow("region", Map("r_name" -> "ATLANTIS"))
      cat.get("region").df
    }),

    "q36_insert_select" -> ((s, d) => {
      val cat = new graft.catalog.Catalog(s)
      cat.register("supplier", t(s, d, "supplier"))
      cat.insertAll("supplier",
        t(s, d, "supplier").where(col("s_acctbal") < 0).df)
      cat.get("supplier").df
    }),

    // ---- §2.4 more aggregates: first / median / product / describe -------
    "q37_first_agg" -> ((s, d) =>
      Joins.join("n" -> t(s, d, "nation"), "r" -> t(s, d, "region"))
        .groupBy("r_name" -> col("r.r_name"))(
          "first_nation" -> F.min_by(col("n.n_name"), col("n.n_nationkey"))).df),

    "q38_median" -> ((s, d) =>
      t(s, d, "orders").groupBy("o_orderstatus")(
        "med_price" -> F.percentile(col("o_totalprice"), lit(0.5)))
        .orderBy("o_orderstatus").df),

    "q39_product" -> ((s, d) =>
      t(s, d, "lineitem")
        .where(col("l_orderkey") % 100 === 1)
        .groupBy("l_orderkey")(
          "prod" -> PF.product(col("l_linenumber").cast(DoubleType))).df),

    "q40_describe" -> ((s, d) =>
      t(s, d, "customer").aggAll(
        "cnt" -> F.count(col("c_acctbal")),
        "mean" -> PF.davg(col("c_acctbal")),
        "sd" -> F.round(PF.dstddev(col("c_acctbal")), 6),
        "min" -> F.min(col("c_acctbal")),
        "max" -> F.max(col("c_acctbal"))).df),

    // ---- §2.11 recursion: bfs / walk_tree --------------------------------
    "q41_bfs" -> ((s, d) => {
      val r = PTable.range(s, 1, 101)
      val e1 = r.project("src" -> col("item"), "dst" -> col("item") * 2)
      val e2 = r.project("src" -> col("item"), "dst" -> (col("item") * 2 + 1))
      val edges = (e1 + e2).where(col("dst") <= 100).df
      val initial = PTable.range(s, 1, 2).project("node" -> col("item")).df
      graft.rec.Graph.bfs(edges, initial)
        .select(col("node"), col("rank").cast(IntegerType).as("rank"))
    }),

    "q42_walk_tree" -> ((s, d) => {
      val r = PTable.range(s, 1, 101)
      val e1 = r.project("src" -> col("item"), "dst" -> col("item") * 2)
      val e2 = r.project("src" -> col("item"), "dst" -> (col("item") * 2 + 1))
      val edges = (e1 + e2).where(col("dst") <= 100).df
      val initial = PTable.range(s, 1, 2).project("node" -> col("item")).df
      graft.rec.Graph.walkTree(edges, initial, maxRank = 3)
        .select(col("node"), col("rank").cast(IntegerType).as("rank"))
    }),

    // ---- §2.1 SQL escape hatch -------------------------------------------
    "q43_sql_escape" -> ((s, d) =>
      graft.sqlesc.SqlEscape.sql(s,
        "SELECT n_name, n_nationkey * 10 AS k10 FROM $t WHERE n_nationkey < 10",
        "t" -> t(s, d, "nation")).df),

    // `$self` recursion THROUGH the escape hatch (reference
    // compiler.py:516-518; the exact shape of graph.pql:14 bfs) — a
    // CYCLIC doubling graph over nation keys, so the distinct-UNION
    // semi-naive fixpoint must terminate on revisits
    "q68_sql_self_bfs" -> ((s, d) => {
      val nation = t(s, d, "nation")
      val edges = graft.dsl.PTable(nation.df.select(
        col("n_nationkey").cast(LongType).as("src"),
        ((col("n_nationkey") * 2) % 25).cast(LongType).as("dst")))
      val initial = graft.dsl.PTable(nation.df
        .filter(col("n_nationkey") === 1)
        .select(col("n_nationkey").cast(LongType).as("node")))
      graft.sqlesc.SqlEscape.sql(s,
        "SELECT n.node AS item FROM $initial n UNION " +
          "SELECT e.dst FROM $edges e JOIN $self bfs ON e.src = bfs.item",
        "initial" -> initial, "edges" -> edges)
        .df.orderBy("item")
    }),

    // ---- window-function extensions --------------------------------------
    "q44_window_rank" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      t(s, d, "customer").df
        .withColumn("rnk", F.row_number().over(w))
        .filter(col("rnk") <= 3)
        .select("c_nationkey", "c_custkey", "c_acctbal", "rnk")
    }),

    "q45_lag_lead" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      t(s, d, "events").df
        .withColumn("prev_value", F.lag(col("value"), 1).over(w))
        .withColumn("next_type", F.lead(col("event_type"), 1).over(w))
        .select("event_id", "user_id", "value", "prev_value", "next_type")
    }),

    // ---- ext: text analysis ----------------------------------------------
    "x01_dedup_exact" -> ((s, d) =>
      graft.ext.Dedup.exact(augDocs(s, d), "doc_id", "text")),

    "x02_token_count" -> ((s, d) =>
      t(s, d, "documents").df.select(col("doc_id"),
        graft.ext.TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        graft.ext.TextAnalysis.subwordCount(col("text")).cast(LongType)
          .as("n_subwords"))),

    "x03_fingerprint" -> ((s, d) =>
      t(s, d, "documents").df.select(col("doc_id"),
        graft.ext.TextAnalysis.fingerprint(col("text")).as("fp"))),

    "x04_langid" -> ((s, d) =>
      t(s, d, "documents").df.select(col("doc_id"),
        graft.ext.TextAnalysis.langId(col("text")).as("lang_pred"),
        graft.ext.TextAnalysis.langScore(col("text"), "en").as("en_score"))),

    "x05_quality" -> ((s, d) =>
      t(s, d, "documents").df.select(col("doc_id"),
        graft.ext.TextAnalysis.meanTokenLen(col("text")).as("mtl"),
        graft.ext.TextAnalysis.alnumRatio(col("text")).as("ar"),
        graft.ext.TextAnalysis.qualityScore(col("text")).as("score"))),

    // ---- ext: dedup -------------------------------------------------------
    // signatures(): base hashes materialize once before the k-way
    // expansion (the single-expression form recomputes md5 k times)
    "x06_minhash_sig" -> ((s, d) =>
      graft.ext.Dedup.signatures(t(s, d, "documents").df, "doc_id", "text")
        .select(col("id").as("doc_id"),
          F.concat_ws(",", col("sig")).as("sig"))),

    "x07_minhash_pairs" -> ((s, d) =>
      graft.ext.Dedup.minhashPairs(augDocs(s, d), "doc_id", "text", 0.8)),

    // production fast-hash path (xxhash64): same pipeline as x07 minus
    // the md5 the oracle needs for cross-engine portability — recorded
    // rows-only so the bench shows the deployable throughput
    // ---- ext: ANN at 100k vectors (scale probe) ---------------------------
    // the sf0.1 embeddings table is 2k vectors — too small to show the
    // bucketed paths beating brute force. A deterministic 100k-vector
    // synthetic corpus (xxhash64-derived components, no data files)
    // benches the scaling claim directly; hash-checked against a
    // FROZEN constant oracle (valid only at probeScale 1.0 — changing
    // the synthesis or settings requires re-capturing the constants).
    // Each probe reduces its (query_id, neighbor_id, rank) result to an
    // order-insensitive checksum so the driver's oracle gate can
    // hash-check the full neighbor assignment against frozen constants
    // (the corpus is a pure xxhash64 function of vec_id — engine-stable;
    // per-row term < 2^31 and 10k rows keep the sum far inside 2^53).
    "x22_ann_lsh_100k" -> ((s, d) => {
      val corpus = synthEmbeddings(s, scaled(100000), 32)
      annChecksum(graft.ext.Similarity.lshTopK(
        corpus.filter(col("vec_id") < scaled(1000)), corpus, 10, nPlanes = 12))
    }),

    "x23_ann_ivf_100k" -> ((s, d) => {
      val corpus = synthEmbeddings(s, scaled(100000), 32)
      annChecksum(graft.ext.Similarity.ivfTopK(
        corpus.filter(col("vec_id") < scaled(1000)), corpus, 10,
        nCentroids = 64, nProbe = 4))
    }),

    "x24_ann_brute_100k" -> ((s, d) => {
      val corpus = synthEmbeddings(s, scaled(100000), 32)
      annChecksum(graft.ext.Similarity.bruteForceTopK(
        corpus.filter(col("vec_id") < scaled(1000)), corpus, 10))
    }),

    // one more order of magnitude: at 1M vectors brute force is
    // ~40s (extrapolated from x24's measured q×n cost) — only the
    // bucketed path is run, demonstrating sub-linear scaling where
    // brute force has left the feasible range; frozen constant oracle
    "x25_ann_lsh_1m" -> ((s, d) => {
      val corpus = synthEmbeddings(s, scaled(1000000), 32)
      annChecksum(graft.ext.Similarity.lshTopK(
        corpus.filter(col("vec_id") < scaled(1000)), corpus, 10, nPlanes = 14))
    }),

    // recall@10 AT PROBE SCALE: the 100k-corpus scaling claim must
    // prove quality, not just speed — x22/x23 show the bucketed paths
    // are fast, this shows what they give up (hits/total over the
    // same 1000 queries vs x24's exact result). Two rows per family:
    // the speed-tuned x22/x23 settings (honest — recall is LOW on
    // this structureless uniform corpus) and the recall-tuned
    // settings (multi-table OR-amplified LSH; IVF probing a quarter
    // of the lists) that clear 0.8. The exact top-k MATERIALIZES once
    // (10k rows vs ~13s of brute-force compute — firmly on the
    // checkpoint side of the economics) and is rebuilt from its RDD
    // per union branch (shared-lineage rule).
    "x55_ann_recall_100k" -> ((s, d) => {
      val corpus = synthEmbeddings(s, scaled(100000), 32)
      val qs = corpus.filter(col("vec_id") < scaled(1000))
      val exact0 = graft.ext.Similarity.bruteForceTopK(qs, corpus, 10)
        .localCheckpoint(true)
      def branch(method: String, approx: DataFrame) =
        graft.ext.Similarity.recallAtK(approx,
            s.createDataFrame(exact0.rdd, exact0.schema))
          .agg(F.sum("n_hit").as("hits"), F.sum("k").as("total"))
          .select(lit(method).as("method"), col("hits"), col("total"),
            F.round(col("hits").cast(DoubleType) / col("total"), 6)
              .as("recall"))
      val S = graft.ext.Similarity
      branch("lsh_speed", S.lshTopK(qs, corpus, 10, nPlanes = 12))
        .unionAll(branch("lsh_multi",
          S.lshTopKMulti(qs, corpus, 10, nPlanes = 8, nTables = 24)))
        .unionAll(branch("ivf_speed",
          S.ivfTopK(qs, corpus, 10, nCentroids = 64, nProbe = 4)))
        .unionAll(branch("ivf_deep",
          S.ivfTopK(qs, corpus, 10, nCentroids = 64, nProbe = 16)))
    }),

    // ---- ext: ranked text retrieval (Search) ------------------------------
    // BM25 top-k: per-term tfs are scan expressions (query terms are
    // plan constants), corpus stats reduce to ONE broadcast row,
    // ranking is a TakeOrderedAndProject — zero corpus shuffle
    "x56_bm25_search" -> ((s, d) =>
      graft.ext.Search.bm25Search(t(s, d, "documents").df,
        "doc_id", "text", Seq("spark", "join", "vector"), 20)),

    // conjunctive (AND) BM25: only docs containing EVERY query term
    // rank — same corpus-wide statistics, restricted candidate set
    "x77_bm25_all" -> ((s, d) =>
      graft.ext.Search.bm25Search(t(s, d, "documents").df,
        "doc_id", "text", Seq("spark", "join"), 15, requireAll = true)),

    // ---- ext: link-graph analytics (Graph) --------------------------------
    // PageRank over a deterministic 400-domain link graph derived from
    // documents (2 out-links per doc): crawl-frontier prioritization.
    // Fixed 6 power iterations, damping 0.85 — deterministic, so the
    // oracle replays the exact iteration as an unrolled CTE chain.
    "x78_pagerank" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      val e = docs.select((col("doc_id") % 400).as("src"),
          ((col("doc_id") * 31 + 7) % 400).as("dst"))
        .unionAll(docs.select((col("doc_id") % 400).as("src"),
          ((col("doc_id") * 17 + 3) % 400).as("dst")))
      graft.rec.Graph.pageRank(e, iters = 6, damping = 0.85)
        .select(col("node"), F.round(col("rank"), 6).as("rank"))
    }),

    // PageRank at scale: 1M-edge hub+ring graph (every node links to
    // the hub and to its ring successor; the hub is dangling), forced
    // through the DISTRIBUTED power iteration (driverLimit = 0). The
    // symmetry gives closed-form truth: all non-hub nodes stay exactly
    // equal (each receives ONE ring contribution — identical double
    // ops), and the hub follows the scalar recurrence h' = base +
    // d·N·(r/2) up to summation-tree reordering (1e-9 relative
    // tolerance). Output is three scale-invariant booleans, so —
    // like x62 — the oracle never needs re-capture when probeScale
    // or the testdata changes.
    "x79_pagerank_1m" -> ((s, d) => {
      val n = scaled(500000)
      val iters = 5
      val ids = s.range(1, n + 1).toDF("i")
      val edges = ids.select(col("i").as("src"), lit(0L).as("dst"))
        .unionAll(ids.select(col("i").as("src"),
          ((col("i") % n) + 1).as("dst")))
      val pr = graft.rec.Graph.pageRank(edges, iters = iters,
        damping = 0.85, driverLimit = 0)
      // scalar recurrence (same arithmetic as the engine per node)
      val nn = (n + 1).toDouble
      val base = (1.0 - 0.85) / nn
      var r = 1.0 / nn
      var h = r
      for (_ <- 1 to iters) {
        val nr = base + 0.85 * (0.5 * r)
        h = base + 0.85 * (n.toDouble * (0.5 * r))
        r = nr
      }
      pr.agg(
          F.max(F.when(col("node") === 0, col("rank"))).as("hub"),
          F.max(F.when(col("node") =!= 0, col("rank"))).as("leaf_max"),
          F.min(F.when(col("node") =!= 0, col("rank"))).as("leaf_min"),
          F.count(lit(1)).as("n_nodes"))
        .select(
          (F.abs(col("hub") - h) < lit(h * 1e-9)).as("hub_ok"),
          (col("leaf_max") === col("leaf_min") &&
            F.abs(col("leaf_max") - r) < lit(r * 1e-9))
            .as("leaves_uniform"),
          (col("hub") > col("leaf_max") * 1000).as("hub_dominates"),
          (col("n_nodes") === (n + 1)).as("nodes_complete"))
    }),

    // ---- ext: relational reshape (Reshape) --------------------------------
    // pivot long→wide: per-user-bucket event_type × sum(value) matrix.
    // Explicit value list → ONE hash aggregate, no discovery pre-pass;
    // exact decimal sums so the wide cells hash-match the oracle's
    // conditional aggregation.
    "x80_pivot" -> ((s, d) =>
      graft.ext.Reshape.pivot(
        t(s, d, "events").df.select((col("user_id") % 50).as("bucket"),
          col("event_type"), col("value")),
        Seq("bucket"), "event_type",
        Seq("click", "error", "purchase", "signup", "view"),
        PF.dsum(_), col("value"))),

    // unpivot wide→long: part's numeric measures melted to
    // (p_partkey, metric, value) — pure Expand, zero shuffle
    "x81_unpivot" -> ((s, d) =>
      graft.ext.Reshape.unpivot(t(s, d, "part").df,
        Seq("p_partkey"), Seq("p_size", "p_retailprice"))),

    // ---- ext: time-series resample / gap-fill / forward-fill --------------
    // 35 series (event_type × user bucket), 1-hour buckets over the
    // 30-day span: aggregate once, densify the grid, carry the level
    // metric forward through gaps while the count keeps its gap NULLs.
    // Sparse at small sf (fill does real work), dense at sf0.1.
    "x82_resample_ffill" -> ((s, d) =>
      graft.ext.TimeSeries.resampleFill(
        t(s, d, "events").df.select(col("event_type"),
          (col("user_id") % 7).as("ug"), col("ts"), col("value")),
        "ts", Seq("event_type", "ug"), 3600000000L,
        Seq(PF.dsum(col("value")).as("total"),
          F.count(lit(1)).as("n")),
        ffillCols = Seq("total"))),

    // ---- ext: fuzzy (edit-distance) join ----------------------------------
    // Typo-tolerant entity matching: all customer-name pairs within
    // levenshtein 1, via FastSS deletion-neighborhood blocking +
    // exact threshold verify. FIXED id bound (not sf-scaled) because
    // the oracle is the quadratic ground truth — the engine result
    // must equal brute force exactly, whatever blocking did inside.
    "x83_fuzzy_join" -> ((s, d) =>
      graft.ext.Dedup.fuzzyPairs(
        t(s, d, "customer").df.filter(col("c_custkey") < 2000),
        "c_custkey", "c_name", maxDist = 1)),

    // Fuzzy-join scale probe: 2×150k strings — 150k distinct 18-digit
    // bases (6-digit group id repeated 3×) plus one planted typo twin
    // each (one substitution, 'X' at position 8). The construction
    // makes the truth exact: cross-group edit distance is provably
    // ≥ 2 (any two ids differ in ≥1 digit, tripled → ≥3 substitutions
    // under identity alignment; any shifted alignment costs an
    // insert+delete pair; the X survives every alignment), so the
    // ONLY pairs within distance 1 are the 150k base→twin plants.
    // Scale-invariant boolean oracle — never needs re-capture.
    "x84_fuzzy_300k" -> ((s, d) => {
      val n = scaled(150000)
      val base = s.range(100000, 100000 + n).toDF("gid")
        .select(col("gid"),
          F.repeat(F.lpad(col("gid").cast("string"), 6, "0"), 3).as("str"))
      val both = base.select(col("gid").as("id"), col("str"))
        .unionAll(base.select((col("gid") + 1000000000L).as("id"),
          F.overlay(col("str"), lit("X"), lit(8)).as("str")))
      graft.ext.Dedup.fuzzyPairs(both, "id", "str", maxDist = 1)
        .agg(F.count(lit(1)).as("n_pairs"),
          F.sum(F.when(col("id2") - col("id1") === 1000000000L &&
            col("dist") === 1, 1L).otherwise(0L)).as("n_twin"))
        .select((col("n_pairs") === n).as("pairs_exact"),
          (col("n_twin") === col("n_pairs")).as("all_twins"))
    }),

    // ---- ext: generic connected components ---------------------------------
    // Components of a block-structured synthetic graph (each node
    // links inside its own 50-node block), forced through the
    // DISTRIBUTED min-label rounds (driverLimit = 0). The oracle is a
    // genuine independent computation: DuckDB's recursive transitive
    // closure — no density or structure assumption shared with the
    // engine path.
    "x85_components" -> ((s, d) => {
      val nodes = t(s, d, "documents").df
        .select((col("doc_id") % 5000).as("a")).distinct()
      val edges = nodes.select(col("a").as("id_a"),
        (col("a") - col("a") % 50 + (col("a") * 7 + 3) % 50).as("id_b"))
      graft.ext.Dedup.connectedComponents(edges, driverLimit = 0)
        .groupBy(col("label").as("component"))
        .agg(F.count(lit(1)).as("n_nodes"))
    }),

    // ---- ext: one-pass column statistics (Stats) ----------------------------
    // Pairwise Pearson matrix over lineitem's numeric measures: 6
    // correlations from ONE aggregate over ONE scan, exact decimal sums
    "x86_corr_matrix" -> ((s, d) =>
      graft.ext.Stats.corrMatrix(t(s, d, "lineitem").df,
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    // Equi-width histogram: bounds job reduces to one row, counting
    // pass is a partial-agg groupBy on a 12-value key
    "x87_histogram" -> ((s, d) =>
      graft.ext.Stats.histogram(t(s, d, "lineitem").df,
        "l_extendedprice", 12)
        .select(col("bin"), F.round(col("lo"), 6).as("lo"),
          F.round(col("hi"), 6).as("hi"), col("n"))),

    // Trailing 4-row moving average per user over the event stream —
    // the monitoring smooth, windowed per key (never one partition)
    "x88_rolling_mean" -> ((s, d) =>
      t(s, d, "events").df
        .filter(col("user_id") % 19 === 0)
        .select(col("event_id"), col("user_id"),
          F.round(graft.ext.TimeSeries.rollingMean(Seq("user_id"),
            Seq(col("ts"), col("event_id")), 4, col("value")), 6)
            .as("ma4"))),

    // Personalized PageRank: teleport restricted to seed domains 0..9
    // — "what matters NEAR these seeds", the topic-focused crawl
    // variant. Same unrolled-CTE oracle family as x78.
    "x89_pagerank_seeded" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      val e = docs.select((col("doc_id") % 400).as("src"),
          ((col("doc_id") * 31 + 7) % 400).as("dst"))
        .unionAll(docs.select((col("doc_id") % 400).as("src"),
          ((col("doc_id") * 17 + 3) % 400).as("dst")))
      graft.rec.Graph.pageRank(e, iters = 6, damping = 0.85,
          sources = s.range(0, 10).toDF("node"))
        .select(col("node"), F.round(col("rank"), 6).as("rank"))
    }),

    // Triangle count via degree-ordered orientation (compact-forward):
    // block-ring graph with skip-2 chords — every consecutive triple
    // closes. The oracle is an independent canonical 3-way join.
    "x90_triangles" -> ((s, d) => {
      val nodes = t(s, d, "documents").df
        .select((col("doc_id") % 5000).as("a")).distinct()
      val e = nodes.select(col("a").as("src"),
          (col("a") - col("a") % 50 + (col("a") + 1) % 50).as("dst"))
        .unionAll(nodes.select(col("a").as("src"),
          (col("a") - col("a") % 50 + (col("a") + 2) % 50).as("dst")))
      graft.rec.Graph.triangles(e)
    }),

    // Per-source document cap: at most 5 docs per (lang, source) —
    // the de-biasing "no domain dominates" operator; kept subset is
    // the 5 lowest md5 hashes, stable across runs and engines
    "x92_cap_per_source" -> ((s, d) =>
      graft.ext.Corpus.capPerGroup(
        t(s, d, "documents").df.select("doc_id", "lang", "source"),
        Seq("lang", "source"), "doc_id", 5)),

    // Raw aggregation throughput probe: group-by over 100M generated
    // rows (bench dials to 20M), with the planted closed form checked
    // in-query — count per residue class and 2·sum both have exact
    // integer formulas, so the booleans are scale-invariant.
    "x91_agg_100m" -> ((s, d) => {
      val n = scaled(100000000L)
      def idiv(a: Column, b: Long): Column =
        F.call_function("div", a, lit(b))
      s.range(0, n).toDF("i")
        .groupBy((col("i") % 1000).as("g"))
        .agg(F.count(lit(1)).as("cnt"), F.sum(col("i")).as("s"))
        .select(col("g"), col("cnt"), col("s"),
          (idiv(lit(n) - 1 - col("g"), 1000L) + 1).as("m"))
        .select(
          (col("cnt") === col("m")).as("cnt_ok"),
          (col("s") * 2 === col("m") * col("g") * 2 +
            lit(1000L) * col("m") * (col("m") - 1)).as("sum_ok"))
        .agg(F.count(lit(1)).as("n_groups"),
          F.sum(F.when(col("cnt_ok") && col("sum_ok"), 1L)
            .otherwise(0L)).as("n_ok"))
        .select((col("n_groups") === math.min(n, 1000L)).as("groups_complete"),
          (col("n_ok") === col("n_groups")).as("all_exact"))
    }),

    // One-pass table profile: count/nulls/exact-distinct/min/max per
    // column from ONE scan (the data-engineer's first query)
    "x93_profile" -> ((s, d) =>
      graft.ext.Stats.profile(t(s, d, "customer").df)),

    // the 100 TB profile: distinct counts via the native md5-HLL
    // register aggregate — NO Expand (exact mode duplicates the scan
    // once per column), one bounded buffer per column, and the
    // estimate is deterministic enough for the DuckDB oracle to
    // recompute it bit-for-bit (x30's guarantee, now inside profile)
    "x117_profile_approx" -> ((s, d) =>
      graft.ext.Stats.profile(t(s, d, "customer").df,
        Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"),
        approx = true)),

    // z-score outliers per event_type: exact decimal mean/stddev
    // broadcast back into the scan-shaped probe
    "x94_anomalies" -> ((s, d) =>
      graft.ext.Stats.anomalies(
        t(s, d, "events").df.select("event_id", "event_type", "value"),
        Seq("event_type"), "value", z = 2.5)
        .select("event_id", "event_type", "value")),

    // Grouped top-k: 3 biggest orders per priority class, total order
    // via the (price desc, key) tiebreak — the per-partition window
    // prune, never a global sort
    "x95_top_per_group" -> ((s, d) =>
      graft.ext.Ranks.topPerGroup(
        t(s, d, "orders").df
          .select("o_orderkey", "o_orderpriority", "o_totalprice"),
        Seq("o_orderpriority"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)),

    // Bucketed co-located join: both sides written bucketed+sorted on
    // the join key (one file per bucket), so the sort-merge join runs
    // with ZERO exchanges and ZERO sorts — the layout IS the shuffle,
    // paid once at write time and amortized over every subsequent
    // join. At 100 TB this is the difference between re-shuffling the
    // fact table per query and never shuffling it at all
    // (PlanQualitySpec pins the exchange-free plan).
    "x96_bucketed_join" -> ((s, d) => {
      val dir = runScratch("bkt", d)
      val nB = 8
      val tag = new java.io.File(d).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val to = s"graft_bkt_orders_$tag"
      val tc = s"graft_bkt_cust_$tag"
      s.sql(s"DROP TABLE IF EXISTS $to")
      s.sql(s"DROP TABLE IF EXISTS $tc")
      // repartition into nB by the key first: the write then lays down
      // exactly ONE file per bucket (repartition and bucketBy share
      // Murmur3 pmod), which is what lets the scan report the per-
      // bucket sort order and elide the SMJ's sorts
      t(s, d, "orders").df
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .repartition(nB, col("o_custkey"))
        .write.mode("overwrite").format("parquet")
        .option("path", dir + "/orders")
        .bucketBy(nB, "o_custkey").sortBy("o_custkey").saveAsTable(to)
      t(s, d, "customer").df.select("c_custkey", "c_mktsegment")
        .repartition(nB, col("c_custkey"))
        .write.mode("overwrite").format("parquet")
        .option("path", dir + "/customer")
        .bucketBy(nB, "c_custkey").sortBy("c_custkey").saveAsTable(tc)
      // merge hint: keep the demonstration honest — without it the
      // small dim would broadcast and the bucketing would be untested
      s.table(to).hint("merge")
        .join(s.table(tc), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(F.count(lit(1)).as("n_orders"),
          F.round(PF.dsum(col("o_totalprice")), 6).as("revenue"))
    }),

    // Weighted shortest paths (Bellman–Ford) on a deterministic
    // md5-derived graph over nation; 3 relaxation rounds = exact
    // min-cost over walks of ≤3 edges, which the oracle enumerates
    "x97_sssp" -> ((s, d) => {
      import graft.ext.TextAnalysis.h60
      val n = t(s, d, "nation").df
        .select(col("n_nationkey").cast(LongType).as("k"))
      val a = n.select(col("k").as("a"))
      val b = n.select(col("k").as("b"))
      def key = F.concat(col("a").cast(StringType), lit("_"),
        col("b").cast(StringType))
      val edges = a.crossJoin(b)
        .filter(col("a") =!= col("b") && (h60(key) % 5 === 0))
        .select(col("a").as("src"), col("b").as("dst"),
          ((h60(key) % 9) + 1).cast(DoubleType).as("weight"))
      val src = s.range(0, 1).toDF("node")
      graft.rec.Graph.sssp(edges, src, maxIters = 3)
        .select(col("node"), F.round(col("dist"), 6).as("dist"))
    }),

    // SSSP scale probe, distributed path forced: a 20-layer ladder
    // (W nodes per layer, straight edge w=1 + diagonal w=3); the true
    // distance to every node is exactly its layer index, asserted
    // in-query — the oracle booleans are scale-invariant, so this
    // probe never needs re-capture when probeScale dials W
    "x98_sssp_probe" -> ((s, d) => {
      val W = scaled(5000)
      // the LAYER count dials with probeScale too: each layer is a
      // full distributed relaxation round (~3 jobs of scheduler
      // latency), so at the bench's 1/5 dial the probe was pure
      // per-round overhead (11s). Verify always runs probeScale=1.0,
      // where L=20 and the frozen oracle constants (max_dist = L-1 =
      // 19) hold; W changes alone can never invalidate them.
      val L = math.max(4, scaled(20).toInt)
      val base = s.range(0, (L - 1) * W).toDF("id")
      val layer = F.floor(col("id") / lit(W)).cast(LongType)
      val j = col("id") % lit(W)
      val edges = base.select(col("id").as("src"),
          (col("id") + lit(W)).as("dst"), lit(1.0).as("weight"))
        .unionAll(base.select(col("id").as("src"),
          ((layer + 1) * lit(W) + (j + 1) % lit(W)).as("dst"),
          lit(3.0).as("weight")))
      val sources = s.range(0, W).toDF("node")
      val dist = graft.rec.Graph.sssp(edges, sources,
        maxIters = L + 5, driverLimit = 0)
      dist.agg(
        (F.count(lit(1)) === lit(L * W)).as("n_ok"),
        F.max(col("dist")).cast(LongType).as("max_dist"),
        (F.sum(when(col("dist") ===
            F.floor(col("node") / lit(W)).cast(DoubleType), 0L)
          .otherwise(1L)) === 0L).as("all_exact"))
    }),

    // Small-file compaction: fragment the corpus into 64 files, compact
    // to 4 (shuffle-free coalesce), and prove the data came through
    // unchanged AND the file count actually shrank (input_file_name
    // distinct-count, asserted in-query)
    "x99_compact" -> ((s, d) => {
      val in = runScratch("cpt_in", d)
      val out = runScratch("cpt_out", d)
      t(s, d, "documents").df.select("doc_id", "text")
        .repartition(64).write.mode("overwrite").parquet(in)
      graft.sources.Maintenance.compactTo(s, in, out, 4)
      // project the file name first: Spark 4 forbids nondeterministic
      // expressions directly inside aggregate arguments
      s.read.parquet(out).withColumn("__f", F.input_file_name()).agg(
        F.count(lit(1)).as("n_docs"),
        F.sum(F.length(col("text"))).as("sum_chars"),
        (F.countDistinct(col("__f")) <= 4).as("files_ok"))
    }),

    // Z-order (Morton) interleave checked bit-for-bit against the
    // oracle's shift/and/or mirror
    "x100_zvalue" -> ((s, d) =>
      t(s, d, "events").df
        .filter(col("event_id") % 101 === 0)
        .select(col("event_id"),
          PF.zvalue(col("user_id") % 1024, col("event_id") % 1024, 10)
            .as("z"))),

    // Z-order data skipping, end to end: write events clustered by the
    // (user, event) Z-value, then a conjunctive 2-D range filter must
    // touch ≤¼ of the files (each file covers an aligned rectangle of
    // the dimension space; the low corner lives in ONE bucket). The
    // filtered aggregate itself is oracle-checked against the raw
    // table — the layout must never change answers, only file counts
    "x101_zorder_skip" -> ((s, d) => {
      val dir = runScratch("zord", d)
      val e = t(s, d, "events").df.select(col("event_id"),
        (col("user_id") % 1024).as("a"), (col("event_id") % 1024).as("b"),
        col("value"))
      graft.sources.Maintenance.writeZOrdered(e, dir, "a", "b",
        bits = 10, bucketBits = 6)
      val r = s.read.parquet(dir).withColumn("__f", F.input_file_name())
      val tot = r.agg(
        F.countDistinct(col("__f")).as("files_total"))
      val hit = r.filter(col("a") < 32 && col("b") < 32)
        .agg(F.count(lit(1)).as("n_rows"),
          F.round(PF.dsum(col("value")), 6).as("sum_v"),
          F.countDistinct(col("__f")).as("files_hit"))
      hit.crossJoin(tot).select(col("n_rows"), col("sum_v"),
        (col("files_hit") * 4 <= col("files_total")).as("pruned_ok"))
    }),

    // Data-quality expectations: N rules validated in ONE aggregated
    // pass (a conditional partial sum per rule, never a scan per
    // rule); violation = predicate FALSE or NULL, mirrored as the
    // same CASE in the oracle. Two rules planted to fail.
    "x114_check_constraints" -> ((s, d) =>
      graft.ext.Checks.checkConstraints(t(s, d, "orders").df, Seq(
        "key_positive" -> (col("o_orderkey") > 0),
        "price_nonneg" -> (col("o_totalprice") >= 0.0),
        "price_below_1k" -> (col("o_totalprice") < 1000.0),
        "status_known" -> col("o_orderstatus").isin("O", "F", "P"),
        "priority_dashed" ->
          (F.instr(col("o_orderpriority"), "-") === 2)))),

    // 3-D Z-order skipping: same contract as x101 with a third
    // dimension — the conjunctive 3-D range's aggregate must equal
    // the raw table while touching ≤1/16 of the files (the low corner
    // of a 3-way interleave lives in ONE top-bucket)
    "x113_zorder3_skip" -> ((s, d) => {
      val dir = runScratch("zord3", d)
      // odd multipliers permute residues mod 256, so every dimension
      // is uniform at ANY sf (user_id%256 collapses at sf0.001 — a
      // 15-user table left too few top-bucket values for the pruning
      // ratio to mean anything)
      val e = t(s, d, "events").df.select(
        (col("event_id") * 61 % 256).as("a"),
        (col("event_id") * 131 % 256).as("b"),
        (col("event_id") * 197 % 256).as("c"),
        col("value"))
      graft.sources.Maintenance.writeZOrderedN(e, dir,
        Seq("a", "b", "c"), bits = 8, bucketBits = 6)
      val r = s.read.parquet(dir).withColumn("__f", F.input_file_name())
      val tot = r.agg(F.countDistinct(col("__f")).as("files_total"))
      val hit = r.filter(col("a") < 32 && col("b") < 32 && col("c") < 32)
        .agg(F.count(lit(1)).as("n_rows"),
          F.round(PF.dsum(col("value")), 6).as("sum_v"),
          F.countDistinct(col("__f")).as("files_hit"))
      hit.crossJoin(tot).select(col("n_rows"), col("sum_v"),
        (col("files_hit") * 16 <= col("files_total")).as("pruned_ok"))
    }),

    // Partition-pruned MERGE on a keyed table: write orders hashed
    // into 16 key buckets, upsert (reprice every 7th, insert synthetic
    // +1e8 keys), then delete every 13th original key — each change
    // job reads/rewrites ONLY the buckets its keys hash into (static
    // kb IN (...) pruning; MaintenanceSpec proves untouched bucket
    // files survive byte-identical). The oracle is the end state.
    "x102_upsert" -> ((s, d) => {
      val dir = runScratch("ups", d)
      val base = t(s, d, "orders").df
        .select("o_orderkey", "o_custkey", "o_totalprice")
      graft.sources.Maintenance.writeKeyed(base, dir, "o_orderkey", 16)
      val repriced = base.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
      val inserts = base.filter(col("o_orderkey") % 97 === 0)
        .select((col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
          col("o_custkey"), lit(1.5).as("o_totalprice"))
      graft.sources.Maintenance.upsertKeyed(s, dir,
        repriced.unionByName(inserts), "o_orderkey", 16)
      graft.sources.Maintenance.deleteKeyed(s, dir,
        base.filter(col("o_orderkey") % 13 === 0).select("o_orderkey"),
        "o_orderkey", 16)
      graft.sources.Maintenance.readKeyed(s, dir)
        .select("o_orderkey", "o_totalprice")
    }),

    // COMPOSED: snapshot reconciliation — three commits build the
    // table's history (write v1, MERGE v2, DELETE v3), then the x103
    // diff operator runs between TIME-TRAVELED snapshot v1 and the
    // live table: "what changed since the morning snapshot" without
    // ever having kept a copy. Closed-form status counts
    "qc25_snapshot_reconcile" -> ((s, d) => {
      val dir = runScratch("snapdiff", d)
      val M = graft.sources.Maintenance
      val base = t(s, d, "orders").df
        .select("o_orderkey", "o_totalprice")
      M.writeKeyed(base, dir, "o_orderkey", 16)
      M.upsertKeyed(s, dir, base.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0)),
        "o_orderkey", 16)
      M.deleteKeyed(s, dir,
        base.filter(col("o_orderkey") % 13 === 0).select("o_orderkey"),
        "o_orderkey", 16)
      M.diff(
        M.readKeyed(s, dir, Some(1)).select("o_orderkey", "o_totalprice"),
        M.readKeyed(s, dir).select("o_orderkey", "o_totalprice"),
        Seq("o_orderkey"))
        .groupBy("status").agg(F.count(lit(1)).as("n"))
    }),

    // CDC changelog between snapshots: only buckets whose GENERATION
    // changed between the manifests are read on either side — the
    // O(changed-data) incremental-consumer feed (same history as qc25;
    // same closed-form truth, minus the same-rows)
    "x124_keyed_changes" -> ((s, d) => {
      val dir = runScratch("kchg", d)
      val M = graft.sources.Maintenance
      val base = t(s, d, "orders").df
        .select("o_orderkey", "o_totalprice")
      M.writeKeyed(base, dir, "o_orderkey", 16)
      M.upsertKeyed(s, dir, base.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0)),
        "o_orderkey", 16)
      M.deleteKeyed(s, dir,
        base.filter(col("o_orderkey") % 13 === 0).select("o_orderkey"),
        "o_orderkey", 16)
      M.keyedChanges(s, dir, 1, M.manifestVersions(s, dir).last)
    }),

    // MERGE-ON-READ delta path: small CDC batches append per-bucket
    // DELTA dirs (bytes written ∝ batch — the base generations are
    // never read or rewritten) and readers resolve base ⊕ deltas
    // last-wins, tombstones deleting. Three sequential delta batches
    // must end bit-identical to the one-shot copy-on-write merge —
    // the same closed-form oracle as x120
    "x126_delta_merge" -> ((s, d) => {
      val dir = runScratch("mord", d)
      plantDeltaHistory(s, d, dir)
      graft.sources.Maintenance.readKeyed(s, dir)
        .select("o_orderkey", "o_totalprice")
    }),

    // compactKeyed folds the delta chains back into base generations
    // through the same snapshot-isolated commit path — the compacted
    // table must hash-match the same closed-form end state (and the
    // manifest carries no deltas afterwards, spec-asserted)
    "x127_delta_compact" -> ((s, d) => {
      val dir = runScratch("mordc", d)
      plantDeltaHistory(s, d, dir)
      graft.sources.Maintenance.compactKeyed(s, dir)
      graft.sources.Maintenance.readKeyed(s, dir)
        .select("o_orderkey", "o_totalprice")
    }),

    // Delta scale probe: 1M-row keyed table, three ~1k-key delta
    // batches (disjoint key sets). Planted truths, all scale-invariant
    // booleans (never re-capture): the resolved table equals the
    // anti-join + union expectation; the delta dirs together cost a
    // small fraction of the base bytes (copy-on-write would rewrite
    // every touched bucket ≈ 3× the whole table here, since ~1k
    // spread keys touch all 32 buckets); and NO base generation moved
    "x128_delta_probe" -> ((s, d) => {
      val dir = runScratch("morp", d)
      val M = graft.sources.Maintenance
      val n = scaled(1000000)
      val base = s.range(0, n).select(col("id").as("k"),
        (col("id") % 1000).cast(DoubleType).as("v"))
      M.writeKeyed(base, dir, "k", 32)
      val baseBytes = M.dirBytes(s, dir)
      val m1 = M.readManifest(s, dir)
      val batches = (1 to 3).map(i =>
        s.range(i, n, 997).select(col("id").as("k"), lit(-i.toDouble).as("v")))
      batches.foreach(b => M.appendDeltaKeyed(s, dir, b, "k", 32))
      val m2 = M.readManifest(s, dir)
      val deltaBytes = m2.deltas.values.flatten
        .map(dd => M.dirBytes(s, dir + "/" + dd)).sum
      val expected = base
        .join(batches.reduce(_.unionByName(_)).select("k"),
          Seq("k"), "left_anti")
        .unionByName(batches.reduce(_.unionByName(_)))
      val dif = M.diff(M.readKeyed(s, dir).select("k", "v"), expected,
        Seq("k"))
      dif.agg((F.count(lit(1)) === n).as("n_ok"),
        (F.sum(when(col("status") === "same", 0L).otherwise(1L)) === 0L)
          .as("all_same"))
        .withColumn("delta_small", lit(deltaBytes < baseBytes / 2))
        .withColumn("bases_untouched", lit(m1.buckets == m2.buckets))
    }),

    // Row-level table diff (reconciliation): direct null-safe column
    // compare, no hashes to collide, one full-outer equi-join
    "x103_diff" -> ((s, d) => {
      val a = t(s, d, "orders").df
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val b = a.filter(col("o_orderkey") % 11 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") + lit(7.25))
            .otherwise(col("o_totalprice")))
        .unionByName(a.filter(col("o_orderkey") % 97 === 0)
          .select((col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
            col("o_orderpriority"), col("o_totalprice")))
      graft.sources.Maintenance.diff(a, b, Seq("o_orderkey"))
    }),

    // Incremental aggregate maintenance: persisted (keys, cnt, decimal
    // sum) state + one O(batch) merge must equal the full recompute —
    // the oracle IS the full recompute over all of orders
    "x104_incr_agg" -> ((s, d) => {
      val dir = runScratch("mvs", d)
      val orders = t(s, d, "orders").df
      graft.sources.Maintenance.buildAggStateKeyed(
        orders.filter(col("o_orderkey") % 10 =!= 0), dir,
        Seq("o_orderpriority"), "o_totalprice", nBuckets = 1)
      graft.sources.Maintenance.mergeAggStateKeyed(s, dir,
        orders.filter(col("o_orderkey") % 10 === 0),
        Seq("o_orderpriority"), "o_totalprice")
      graft.sources.Maintenance.finalizeAgg(
          graft.sources.Maintenance.readKeyed(s, dir),
          Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("n"),
          F.round(col("total"), 6).as("total"),
          F.round(col("mean"), 6).as("mean"))
    }),

    // CDC MERGE semantics (Streams.upsertKeyedBatch, a stream sink's body):
    // last-wins per key by sequence, tombstones delete — every 7th key
    // sees two updates (the +1000 one wins), every 13th a tombstone
    // (13*7ths get BOTH: the tombstone's higher seq wins). Closed-form
    // oracle, same shape as ql46
    "x120_cdc_merge" -> ((s, d) => {
      val dir = runScratch("cdc", d)
      val S = graft.streaming.Streams
      val orders = t(s, d, "orders").df
        .select("o_orderkey", "o_totalprice")
      S.upsertKeyedBatch(
        orders.withColumn("seq", lit(0L)).withColumn("del", lit(false)),
        dir, "o_orderkey", 16, seqCol = Some("seq"), deleteCol = Some("del"))
      val sevens = orders.filter(col("o_orderkey") % 7 === 0)
      val cdc = sevens
        .select(col("o_orderkey"),
          (col("o_totalprice") + lit(100.0)).as("o_totalprice"),
          lit(1L).as("seq"), lit(false).as("del"))
        .unionByName(sevens.select(col("o_orderkey"),
          (col("o_totalprice") + lit(1000.0)).as("o_totalprice"),
          lit(2L).as("seq"), lit(false).as("del")))
        .unionByName(orders.filter(col("o_orderkey") % 13 === 0)
          .select(col("o_orderkey"), col("o_totalprice"),
            lit(3L).as("seq"), lit(true).as("del")))
      S.upsertKeyedBatch(cdc, dir, "o_orderkey", 16,
        seqCol = Some("seq"), deleteCol = Some("del"))
      graft.sources.Maintenance.readKeyed(s, dir)
        .select("o_orderkey", "o_totalprice")
    }),

    // Generalized incremental aggregate state: count/sum/mean PLUS
    // mergeable min/max and md5-HLL approx-distinct registers — the
    // persisted state + one O(batch) merge must equal the full
    // recompute; the oracle recomputes everything (including the HLL
    // estimate, bit-for-bit) from raw orders in SQL
    "x116_incr_profile" -> ((s, d) => {
      val dir = runScratch("mvp", d)
      val orders = t(s, d, "orders").df
      graft.sources.Maintenance.buildAggStateKeyed(
        orders.filter(col("o_orderkey") % 10 =!= 0), dir,
        Seq("o_orderpriority"), "o_totalprice", nBuckets = 1,
        distinctKey = Some("o_custkey"))
      graft.sources.Maintenance.mergeAggStateKeyed(s, dir,
        orders.filter(col("o_orderkey") % 10 === 0),
        Seq("o_orderpriority"), "o_totalprice",
        distinctKey = Some("o_custkey"))
      graft.sources.Maintenance.finalizeAgg(
          graft.sources.Maintenance.readKeyed(s, dir),
          Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("n"),
          F.round(col("total"), 6).as("total"),
          F.round(col("mean"), 6).as("mean"),
          col("vmin"), col("vmax"), col("approx_distinct"))
    }),

    // Mergeable approx quantiles in the incremental state: the
    // md5-order bottom-k sample is a pure function of the value
    // multiset (any merge order, same sample — and the oracle rebuilds
    // it as ORDER BY hash LIMIT k), so the state-table median is
    // bit-reproducible in SQL
    "x125_incr_quantile" -> ((s, d) => {
      val dir = runScratch("mvq", d)
      val orders = t(s, d, "orders").df
      graft.sources.Maintenance.buildAggStateKeyed(
        orders.filter(col("o_orderkey") % 10 =!= 0), dir,
        Seq("o_orderpriority"), "o_totalprice", nBuckets = 1, sampleK = 512)
      graft.sources.Maintenance.mergeAggStateKeyed(s, dir,
        orders.filter(col("o_orderkey") % 10 === 0),
        Seq("o_orderpriority"), "o_totalprice", sampleK = 512)
      graft.sources.Maintenance.finalizeAgg(
          graft.sources.Maintenance.readKeyed(s, dir),
          Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("n"), col("approx_p25"),
          col("approx_median"), col("approx_p90"))
    }),

    // ROW-uniform variant of the mergeable sample: the hash salts in
    // the row-unique o_orderkey, so duplicate values are sampled in
    // proportion to their multiplicity — the right grain for multiset
    // quantiles on skewed data (x125's default grain is uniform over
    // DISTINCT values; see Maintenance.partialAggCols' sample-grain note)
    "x130_incr_quantile_rows" -> ((s, d) => {
      val dir = runScratch("mvqr", d)
      val orders = t(s, d, "orders").df
      graft.sources.Maintenance.buildAggStateKeyed(
        orders.filter(col("o_orderkey") % 10 =!= 0), dir,
        Seq("o_orderpriority"), "o_totalprice", nBuckets = 1, sampleK = 512,
        sampleUnique = Some("o_orderkey"))
      graft.sources.Maintenance.mergeAggStateKeyed(s, dir,
        orders.filter(col("o_orderkey") % 10 === 0),
        Seq("o_orderpriority"), "o_totalprice", sampleK = 512,
        sampleUnique = Some("o_orderkey"))
      graft.sources.Maintenance.finalizeAgg(
          graft.sources.Maintenance.readKeyed(s, dir),
          Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("n"), col("approx_p25"),
          col("approx_median"), col("approx_p90"))
    }),

    // BUCKETED agg state (r10): the state lives as a keyed table
    // hash-bucketed by the group keys, so a refresh reads/rewrites
    // ONLY the buckets the batch's keys hash into — x116's profile
    // config through the bucketed path must equal the same full
    // recompute (x116's oracle verbatim)
    "x132_aggstate_keyed" -> ((s, d) => {
      val dir = runScratch("mvk", d)
      val M = graft.sources.Maintenance
      val orders = t(s, d, "orders").df
      M.buildAggStateKeyed(orders.filter(col("o_orderkey") % 10 =!= 0),
        dir, Seq("o_orderpriority"), "o_totalprice", nBuckets = 8,
        distinctKey = Some("o_custkey"))
      M.mergeAggStateKeyed(s, dir,
        orders.filter(col("o_orderkey") % 10 === 0),
        Seq("o_orderpriority"), "o_totalprice",
        distinctKey = Some("o_custkey"))
      M.finalizeAgg(M.readKeyed(s, dir), Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("n"),
          F.round(col("total"), 6).as("total"),
          F.round(col("mean"), 6).as("mean"),
          col("vmin"), col("vmax"), col("approx_distinct"))
    }),

    // DELTA-mode agg state (r10): refreshes APPEND the batch partials
    // as merge-on-read delta dirs (bytes written ∝ batch, base
    // generations never move — x134 proves the bytes claim) and the
    // read RE-AGGREGATES the chain levels per key; every state column
    // is associative, so the chained read must equal x125's full
    // recompute bit-for-bit, bounded sample quantiles included
    "x133_aggstate_delta" -> ((s, d) => {
      val dir = runScratch("mvkd", d)
      val M = graft.sources.Maintenance
      val orders = t(s, d, "orders").df
      M.buildAggStateKeyed(orders.filter(col("o_orderkey") % 10 =!= 0),
        dir, Seq("o_orderpriority"), "o_totalprice", nBuckets = 8,
        sampleK = 512)
      M.mergeAggStateKeyed(s, dir,
        orders.filter(col("o_orderkey") % 20 === 0),
        Seq("o_orderpriority"), "o_totalprice", sampleK = 512,
        asDeltas = true)
      M.mergeAggStateKeyed(s, dir,
        orders.filter(col("o_orderkey") % 20 === 10),
        Seq("o_orderpriority"), "o_totalprice", sampleK = 512,
        asDeltas = true)
      M.finalizeAgg(M.readKeyed(s, dir),
        Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("n"), col("approx_p25"),
          col("approx_median"), col("approx_p90"))
    }),

    // Agg-state scale probe (x128's shape for state): ~100k-key state
    // over 32 buckets. A 3-group CoW refresh moves AT MOST 3 bucket
    // generations (the other 29+ stay byte-identical); a 1000-group
    // delta refresh moves NONE and its delta dirs cost a small
    // fraction of the state; compaction folds the chains; and the
    // final state equals the one-shot recompute. All booleans are
    // scale-invariant: never needs re-capture.
    "x134_aggstate_probe" -> ((s, d) => {
      val dir = runScratch("mvkp", d)
      val M = graft.sources.Maintenance
      val n = scaled(1000000)
      val g = n / 10
      val base = s.range(0, n).select((col("id") % g).as("g"),
        (col("id") % 997).cast(DoubleType).as("v"))
      M.buildAggStateKeyed(base, dir, Seq("g"), "v", nBuckets = 32)
      val stateBytes = M.dirBytes(s, dir)
      val m1 = M.readManifest(s, dir)
      // CoW batch confined to 3 groups — touches ≤ 3 of 32 buckets
      val b1 = s.range(0, 3000).select((col("id") % 3).as("g"),
        lit(-3.0).as("v"))
      M.mergeAggStateKeyed(s, dir, b1, Seq("g"), "v")
      val m2 = M.readManifest(s, dir)
      val movedCow = m2.buckets.count { case (b, dd) =>
        !m1.buckets.get(b).contains(dd) }
      // delta batch over 1000 spread groups (7i < g keeps them unique)
      val b2 = s.range(0, 1000).select((col("id") * 7 % g).as("g"),
        lit(5.0).as("v"))
      M.mergeAggStateKeyed(s, dir, b2, Seq("g"), "v", asDeltas = true)
      val m3 = M.readManifest(s, dir)
      val deltaBytes = m3.deltas.values.flatten
        .map(dd => M.dirBytes(s, dir + "/" + dd)).sum
      M.compactKeyed(s, dir)
      val m4 = M.readManifest(s, dir)
      // the expected view straight from a one-shot groupBy (same
      // exact-decimal arithmetic finalizeAgg uses) — no second table
      val expected = base.unionByName(b1).unionByName(b2)
        .groupBy("g")
        .agg(F.count(lit(1)).as("n"),
          F.sum(col("v").cast(DecimalType(28, 2))).as("__sum"))
        .select(col("g"), col("n"),
          col("__sum").cast(DoubleType).as("total"),
          (col("__sum").cast(DoubleType) / col("n")).as("mean"))
      val fin = M.finalizeAgg(
        M.readKeyed(s, dir), Seq("g"))
        .select("g", "n", "total", "mean")
      val dif = M.diff(fin, expected, Seq("g"))
      dif.agg((F.count(lit(1)) === g).as("n_ok"),
        (F.sum(when(col("status") === "same", 0L).otherwise(1L)) === 0L)
          .as("all_same"))
        .withColumn("cow_bounded", lit(movedCow >= 1 && movedCow <= 3))
        .withColumn("bases_untouched", lit(m3.buckets == m2.buckets))
        .withColumn("delta_small", lit(deltaBytes < stateBytes / 2))
        .withColumn("compacted",
          lit(m4.deltas.values.forall(_.isEmpty)))
    }),

    // MULTI-measure bucketed agg state (r11): ONE state tracks
    // (o_totalprice, o_custkey) per priority — per-measure
    // __sum/__cnv/__min/__max columns, one merge per refresh instead
    // of one state per measure. Full lifecycle: build on 9/10ths, a
    // CoW merge, a DELTA merge, compaction — the finalized per-measure
    // view equals the one-shot recompute's exact-decimal arithmetic,
    // HLL distinct included.
    "x140_aggstate_multi" -> ((s, d) => {
      val dir = runScratch("mvkm", d)
      val M = graft.sources.Maintenance
      val orders = t(s, d, "orders").df
      val measures = Seq("o_totalprice", "o_custkey")
      M.buildAggStateKeyedCols(orders.filter(col("o_orderkey") % 10 =!= 0),
        dir, Seq("o_orderpriority"), measures, nBuckets = 8,
        distinctKey = Some("o_custkey"))
      M.mergeAggStateKeyedCols(s, dir,
        orders.filter(col("o_orderkey") % 20 === 0),
        Seq("o_orderpriority"), measures,
        distinctKey = Some("o_custkey"))
      M.mergeAggStateKeyedCols(s, dir,
        orders.filter(col("o_orderkey") % 20 === 10),
        Seq("o_orderpriority"), measures,
        distinctKey = Some("o_custkey"), asDeltas = true)
      M.compactKeyed(s, dir)
      M.finalizeAgg(M.readKeyed(s, dir), Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("n"),
          F.round(col("total_o_totalprice"), 6).as("total_price"),
          F.round(col("mean_o_totalprice"), 6).as("mean_price"),
          col("vmin_o_totalprice").as("vmin_price"),
          col("vmax_o_totalprice").as("vmax_price"),
          col("total_o_custkey").as("total_cust"),
          col("vmin_o_custkey").as("vmin_cust"),
          col("vmax_o_custkey").as("vmax_cust"),
          col("approx_distinct"))
    }),

    // ONLINE RE-BUCKETING scale probe (r11): split 4 of 64 buckets of
    // a 1M-row keyed table one hash bit deeper. Booleans (all
    // scale-invariant, never re-captured): only the split buckets'
    // generations moved; the depth map records exactly the 8 children;
    // the post-split table hash-matches the data (diff all-same);
    // lookupKeyed under the new layout finds its keys; the changelog
    // across the split is EMPTY (no data changed); a pre-split reader
    // still resolves the complete old snapshot; and a post-split CDC
    // upsert (keys in split AND unsplit buckets) lands correctly.
    "x141_bucket_split" -> ((s, d) => {
      val dir = runScratch("bsplit", d)
      val M = graft.sources.Maintenance
      val n = scaled(1000000)
      val base = s.range(0, n).select(col("id").as("k"),
        (col("id") % 997).cast(DoubleType).as("v"))
      M.writeKeyed(base, dir, "k", 64)
      val m1 = M.readManifest(s, dir)
      M.splitKeyed(s, dir, Seq(0, 1, 2, 3))
      val m2 = M.readManifest(s, dir)
      val untouchedKept = (4 until 64)
        .forall(b => m1.buckets.get(b) == m2.buckets.get(b))
      val parentsGone = (0 until 4).forall(b =>
        !m2.buckets.get(b).exists(m1.buckets.get(b).contains))
      val depthsOk = m2.depths ==
        (0 until 4).flatMap(b => Seq(b -> 1, (b + 64) -> 1)).toMap
      val d1 = M.diff(M.readKeyed(s, dir).select("k", "v"), base, Seq("k"))
      val lk = M.lookupKeyed(s, dir, Seq(5L, 6L, 7L))
        .select("k", "v").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      val lookupOk = lk == Set(5L, 6L, 7L).map(k =>
        (k, (k % 997).toDouble))
      val changesEmpty =
        M.keyedChanges(s, dir, m1.version, m2.version).count() == 0L
      val oldReadable =
        M.readKeyed(s, dir, Some(m1.version)).count() == n
      // post-split CDC: upsert every 997th key (hits split children
      // and unsplit buckets alike) under the NEW layout
      val ups = s.range(0, n, 997).select(col("id").as("k"),
        lit(-5.0).as("v"))
      M.upsertKeyed(s, dir, ups, "k", 64)
      val expected = base.join(ups.select("k"), Seq("k"), "left_anti")
        .unionByName(ups)
      val d2 = M.diff(M.readKeyed(s, dir).select("k", "v"), expected,
        Seq("k"))
      d1.agg(
        (F.count(lit(1)) === n).as("n_ok"),
        (F.sum(when(col("status") === "same", 0L).otherwise(1L)) === 0L)
          .as("all_same"))
        .withColumn("untouched_kept", lit(untouchedKept))
        .withColumn("parents_gone", lit(parentsGone))
        .withColumn("depths_ok", lit(depthsOk))
        .withColumn("lookup_ok", lit(lookupOk))
        .withColumn("changes_empty", lit(changesEmpty))
        .withColumn("old_readable", lit(oldReadable))
        .crossJoin(d2.agg(
          (F.sum(when(col("status") === "same", 0L).otherwise(1L)) === 0L)
            .as("postmerge_ok")))
    }),

    // BOUNDED CDC INITIAL LOAD (r11): a fresh consumer of a 1M-row
    // keyed table drains its initial snapshot in bucket chunks — each
    // poll reads ≤16 of 64 buckets' files of the PINNED v1 snapshot
    // (consistent while a writer commits v2 mid-initial), the chunk
    // union covers exactly v1's keys with no duplicates, and the
    // first post-initial poll diffs v1→v2 and emits exactly the
    // mid-initial commit. Scale-invariant booleans.
    "x142_cdc_initial" -> ((s, d) => {
      val dir = runScratch("cdcinit", d)
      val cur = dir + ".cursor"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(cur), true)
      val M = graft.sources.Maintenance
      val S = graft.streaming.Streams
      val n = scaled(1000000)
      val base = s.range(0, n).select(col("id").as("k"),
        (col("id") % 997).cast(DoubleType).as("v"))
      M.writeKeyed(base, dir, "k", 64)
      var total = 0L
      var polls = 0
      var bounded = true
      def chunk(): Boolean =
        S.tailKeyedChangesBounded(s, dir, cur, initialBuckets = 16) { df =>
          bounded &&= df.inputFiles.length <= 16
          total += df.count()
          polls += 1
          // the mid-initial writer lands after the first chunk
          if (polls == 1)
            M.upsertKeyed(s, dir,
              s.range(900000000L, 900000000L + 1000L)
                .select(col("id").as("k"), lit(-1.0).as("v")), "k", 64)
        }
      while (polls < 4 && chunk()) ()
      val initialExact = total == n && polls == 4
      var diffRows = -1L
      S.tailKeyedChangesBounded(s, dir, cur) { df =>
        diffRows = df.filter(col("status") === "added").count()
      }
      val caughtUp = !S.tailKeyedChangesBounded(s, dir, cur)(_ => ())
      s.range(1).select(
        lit(initialExact).as("initial_exact"),
        lit(bounded).as("chunks_bounded"),
        lit(diffRows == 1000L).as("diff_exact"),
        lit(caughtUp).as("caught_up"))
    }),

    // MAINTENANCE POLICY LOOP (r12): plant real byte skew (an
    // incompressible fat payload on exactly the rows hashing to bucket
    // 0), run maintain_keyed twice — pass 1 must split ONLY the hot
    // leaf (within budget) and fold the planted delta chains; pass 2
    // must converge (no split, no commit). Scale-invariant booleans.
    "x143_maintain" -> ((s, d) => {
      val dir = runScratch("maint", d)
      val M = graft.sources.Maintenance
      val n = scaled(1000000)
      // mirrors kb's bucket hash so the skew lands in ONE leaf; the
      // pad is md5-derived (incompressible) so the byte skew survives
      // parquet encoding
      val h = graft.ext.TextAnalysis.h60(col("id").cast("string"))
      val base = s.range(0, n).select(col("id").as("k"),
        (col("id") % 997).cast(DoubleType).as("v"),
        when(F.pmod(h, lit(16L)) === 0,
          F.repeat(F.md5(col("id").cast("string")), 8))
          .otherwise(lit("x")).as("pad"))
      M.writeKeyed(base, dir, "k", 16)
      val u1 = s.range(0, 5).select(col("id").as("k"),
        lit(-1.0).as("v"), lit("y").as("pad"))
      val u2 = s.range(5, 10).select(col("id").as("k"),
        lit(-2.0).as("v"), lit("y").as("pad"))
      M.appendDeltaKeyed(s, dir, u1, "k", 16)
      M.appendDeltaKeyed(s, dir, u2, "k", 16)
      val sizes = M.splitCandidates(s, dir, 1L).toMap
      val hot = sizes.maxBy(_._2)
      val rest = (sizes - hot._1).values.max
      val target = (hot._2 + rest) / 2
      val s1 = M.maintainKeyed(s, dir, target, minChain = 1)
      val m2 = M.readManifest(s, dir)
      val v2 = m2.version
      val s2 = M.maintainKeyed(s, dir, target, minChain = 1)
      val expect = base.filter(col("k") >= 10)
        .unionByName(u1).unionByName(u2)
      val dd = M.diff(M.readKeyed(s, dir).select("k", "v", "pad"),
        expect, Seq("k"))
      dd.agg(
        (F.count(lit(1)) === n).as("n_ok"),
        (F.sum(when(col("status") === "same", 0L).otherwise(1L)) === 0L)
          .as("all_same"))
        .withColumn("hot_is_single", lit(hot._1 == 0 && rest < target))
        .withColumn("split_hot_only", lit(s1 == Seq(hot._1)))
        .withColumn("depths_ok",
          lit(m2.depths == Map(hot._1 -> 1, (hot._1 + 16) -> 1)))
        .withColumn("chains_folded",
          lit(m2.deltas.values.forall(_.isEmpty)))
        .withColumn("converged", lit(s2.isEmpty &&
          M.readManifest(s, dir).version == v2))
    }),

    // OUT-OF-ORDER CDC (r12): four stamped delta batches land in
    // SHUFFLED order (deletes first) on a sequence-resolved table —
    // the snapshot must equal the closed-form ordered application
    // (max-seq-wins per key), compaction must preserve the winners, a
    // late-arriving OLD event must lose to the newer stored row, and
    // batch-wins writers (upsert) must be refused. Booleans.
    "x144_seq_cdc" -> ((s, d) => {
      val dir = runScratch("seqcdc", d)
      val M = graft.sources.Maintenance
      val n = scaled(600000)
      val base = s.range(0, n).select(col("id").as("k"),
        (col("id") % 31).cast(DoubleType).as("v"), lit(0L).as("seq"))
      M.writeKeyed(base, dir, "k", 16)
      def b(m: Int, seq: Long, v: Double) =
        s.range(0, n).filter(col("id") % m === 0).select(
          col("id").as("k"), lit(v).as("v"), lit(seq).as("seq"))
      val tomb = s.range(0, n).filter(col("id") % 11 === 0)
        .select(col("id").as("k"), lit(4L).as("seq"))
      val noneB = s.range(0).select(col("id").as("k"),
        lit(0.0).as("v"), lit(5L).as("seq"))
      // shuffled arrival: deletes, then seq 3, 1, 2
      M.appendDeltaKeyedCols(s, dir, noneB, Seq("k"), 16,
        tombstoneKeys = Some(tomb), seqCol = Some("seq"))
      M.appendDeltaKeyedCols(s, dir, b(7, 3L, 300.0), Seq("k"), 16)
      M.appendDeltaKeyedCols(s, dir, b(3, 1L, 100.0), Seq("k"), 16)
      M.appendDeltaKeyedCols(s, dir, b(5, 2L, 200.0), Seq("k"), 16)
      // the ordered application in closed form
      val expect = s.range(0, n).filter(col("id") % 11 =!= 0).select(
        col("id").as("k"),
        when(col("id") % 7 === 0, 300.0)
          .when(col("id") % 5 === 0, 200.0)
          .when(col("id") % 3 === 0, 100.0)
          .otherwise((col("id") % 31).cast(DoubleType)).as("v"),
        when(col("id") % 7 === 0, 3L).when(col("id") % 5 === 0, 2L)
          .when(col("id") % 3 === 0, 1L).otherwise(0L).as("seq"))
      // order-independent row-SET fingerprints via the shared ONE-JOB
      // tagged-union aggregate (fpEq) instead of one .head job per
      // side; the row-exact twin lives in SeqDeltaSpec. The closed
      // form `expect` is the common reference for both checks (before
      // the compaction and after it — shuffledOk pins before==expect,
      // so comparing the compacted table to expect asserts the same
      // preservation the pre-r14 before/after pair did, one job less)
      val shuffledOk = fpEq(M.readKeyed(s, dir), expect,
        Seq("k", "v", "seq"))
      M.compactKeyed(s, dir)
      val compactOk = M.readManifest(s, dir).deltas.values
        .forall(_.isEmpty) &&
        fpEq(M.readKeyed(s, dir), expect, Seq("k", "v", "seq"))
      M.appendDeltaKeyedCols(s, dir,
        s.range(105, 106).select(col("id").as("k"), lit(-9.0).as("v"),
          lit(1L).as("seq")), Seq("k"), 16)
      val oldLoses = M.lookupKeyed(s, dir, Seq(105L))
        .select("v").head.getDouble(0) == 300.0
      val guardOk =
        try {
          M.upsertKeyed(s, dir, s.range(1).select(col("id").as("k"),
            lit(1.0).as("v"), lit(9L).as("seq")), "k", 16)
          false
        } catch { case _: IllegalArgumentException => true }
      s.range(1).select(
        lit(shuffledOk).as("shuffled_ok"),
        lit(compactOk).as("compact_ok"),
        lit(oldLoses).as("old_loses"),
        lit(guardOk).as("guard_ok"))
    }),

    // LEAF MERGE — the contraction half of the maintenance loop (r13):
    // plant byte skew, let maintain_keyed SPLIT the hot leaf, drain it
    // with a mass delete, and the SAME policy pass must MERGE the
    // drained siblings back (combined bytes < target/2); full-content
    // diff stays green through split + delete + merge, a third pass
    // no-ops. Scale-invariant booleans (probeScale-dialed; planted
    // truths, no recapture).
    "x145_leaf_merge" -> ((s, d) => {
      val dir = runScratch("lmerge", d)
      val M = graft.sources.Maintenance
      val n = scaled(1000000)
      val h = graft.ext.TextAnalysis.h60(col("id").cast("string"))
      val isFat = F.pmod(h, lit(16L)) === 0
      val base = s.range(0, n).select(col("id").as("k"),
        (col("id") % 997).cast(DoubleType).as("v"),
        when(isFat, F.repeat(F.md5(col("id").cast("string")), 8))
          .otherwise(lit("x")).as("pad"))
      M.writeKeyed(base, dir, "k", 16)
      val sizes = M.splitCandidates(s, dir, 1L).toMap
      val hot = sizes.maxBy(_._2)
      val rest = (sizes - hot._1).values.max
      val target = (hot._2 + rest) / 2
      val s1 = M.maintainKeyed(s, dir, target, minChain = 1)
      val mSplit = M.readManifest(s, dir)
      val splitOk = s1 == Seq(hot._1) &&
        mSplit.depths == Map(hot._1 -> 1, (hot._1 + 16) -> 1)
      // drain the pair: delete ~97% of the fat rows
      val fatDel = M.readKeyed(s, dir)
        .filter(F.length(col("pad")) > 1 && col("k") % 31 =!= 0)
        .select("k").localCheckpoint()
      M.deleteKeyed(s, dir, fatDel, "k", 16)
      val v1 = M.readManifest(s, dir).version
      val s2 = M.maintainKeyed(s, dir, target, minChain = 1)
      val mMerged = M.readManifest(s, dir)
      val mergedOk = s2.isEmpty && mMerged.depths.isEmpty &&
        mMerged.version > v1
      val s3 = M.maintainKeyed(s, dir, target, minChain = 1)
      val converged = s3.isEmpty &&
        M.readManifest(s, dir).version == mMerged.version
      // the fat predicate re-expressed over the renamed key column
      val isFatK = F.pmod(
        graft.ext.TextAnalysis.h60(col("k").cast("string")),
        lit(16L)) === 0
      val expect = base.filter(!(isFatK && col("k") % 31 =!= 0))
      val dd = M.diff(M.readKeyed(s, dir).select("k", "v", "pad"),
        expect, Seq("k"))
      dd.agg(
        (F.sum(when(col("status") === "same", 0L).otherwise(1L)) === 0L)
          .as("all_same"))
        .withColumn("split_ok", lit(splitOk))
        .withColumn("merged_ok", lit(mergedOk))
        .withColumn("converged", lit(converged))
    }),

    // SEQ-RESOLVED base × CDC × INCREMENTAL MV REFRESH (r13): the two
    // r12 flagships proven AGAINST EACH OTHER. Stamped batches land in
    // shuffled order on a sequence-resolved table; every
    // keyed_changes(v_i, v_j) must equal the closed-form diff of the
    // ORDERED application, a late-arriving OLD event between refreshes
    // must produce an EMPTY changelog and must not regress the view,
    // and a bucket-grain MV refreshed incrementally across all those
    // commits must match the scan plan row-for-row. Planted-truth
    // booleans (probeScale-dialed, no recapture).
    "x146_seq_mv_cdc" -> ((s, d) => {
      val dir = runScratch("seqmv", d)
      val mdir = runScratch("seqmvs", d)
      graft.sources.MatView.unregister(s, mdir)
      val M = graft.sources.Maintenance
      val MV = graft.sources.MatView
      val n = scaled(400000)
      val base = s.range(0, n).select(col("id").as("k"),
        (col("id") % 23).as("g"),
        (col("id") % 31).cast(DoubleType).as("v"), lit(0L).as("seq"))
      M.writeKeyed(base, dir, "k", 16) // v1
      MV.buildMv(s, dir, mdir, Seq("g"), Seq("v"), 8, floatSums = true)
      def b(m: Int, seq: Long, v: Double) =
        s.range(0, n).filter(col("id") % m === 0).select(
          col("id").as("k"), (col("id") % 23).as("g"),
          lit(v).as("v"), lit(seq).as("seq"))
      def refresh(): Unit = MV.refreshMvIncremental(s, mdir)
      def expectChg(cond: Column, status: String) =
        s.range(0, n).filter(cond).select(col("id").as("k"),
          lit(status).as("status"))
      // shuffled arrival: NEWEST update first, then an older one, then
      // stamped tombstones newer than everything
      M.appendDeltaKeyedCols(s, dir, b(7, 3L, 300.0), Seq("k"), 16,
        seqCol = Some("seq")) // v2
      refresh()
      val chg12 = fpEq(M.keyedChanges(s, dir, 1, 2),
        expectChg(col("id") % 7 === 0, "changed"), Seq("k", "status"))
      M.appendDeltaKeyedCols(s, dir, b(3, 1L, 100.0), Seq("k"), 16) // v3
      refresh()
      // k%21==0 keys keep their seq-3 row: the OLDER update must not
      // surface in the changelog for them
      val chg23 = fpEq(M.keyedChanges(s, dir, 2, 3),
        expectChg(col("id") % 3 === 0 && col("id") % 7 =!= 0, "changed"),
        Seq("k", "status"))
      val tomb = s.range(0, n).filter(col("id") % 11 === 0)
        .select(col("id").as("k"), lit(4L).as("seq"))
      M.appendDeltaKeyedCols(s, dir,
        s.range(0).select(col("id").as("k"), (col("id") % 23).as("g"),
          lit(0.0).as("v"), lit(5L).as("seq")),
        Seq("k"), 16, tombstoneKeys = Some(tomb)) // v4
      refresh()
      val chg34 = fpEq(M.keyedChanges(s, dir, 3, 4),
        expectChg(col("id") % 11 === 0, "removed"), Seq("k", "status"))
      // a LATE OLD event (seq 2 for key 7, whose stored row is seq 3):
      // empty changelog, and the refreshed view must NOT regress
      val viewBefore = MV.readMv(s, mdir).localCheckpoint()
      M.appendDeltaKeyedCols(s, dir,
        s.range(7, 8).select(col("id").as("k"), (col("id") % 23).as("g"),
          lit(-9.0).as("v"), lit(2L).as("seq")), Seq("k"), 16) // v5
      val lateEmpty = M.keyedChanges(s, dir, 4, 5).count() == 0L
      refresh()
      val noRegress = M.diff(MV.readMv(s, mdir), viewBefore, Seq("g"))
        .filter(col("status") =!= "same").count() == 0L
      // the routed group-by over the final snapshot == the scan plan
      val head = M.manifestVersions(s, dir).last
      val routed = MV.route(s, dir, Seq(("g", "g")),
        Seq(("cnt", "count", None), ("sv", "sum", Some("v"))),
        pinnedVersion = Some(head))
      val scanPlan = M.readKeyed(s, dir).groupBy("g")
        .agg(F.count(lit(1)).as("cnt"),
          F.sum(col("v").cast(org.apache.spark.sql.types.DecimalType(28, 2)))
            .cast(DoubleType).as("sv"))
      val mvOk = routed.isDefined &&
        M.diff(routed.get, scanPlan, Seq("g"))
          .filter(col("status") =!= "same").count() == 0L
      s.range(1).select(
        lit(chg12).as("chg12_ok"), lit(chg23).as("chg23_ok"),
        lit(chg34).as("chg34_ok"), lit(lateEmpty).as("late_empty"),
        lit(noRegress).as("no_regress"), lit(mvOk).as("mv_ok"))
    }),

    // SEQ-RESOLVED table as a STREAMING CDC SOURCE (r13): a registered
    // consumer polling a seq table across OUT-OF-ORDER commits sees
    // retraction/addition batches consistent with max-seq-wins — a
    // tombstone newer than a later-arriving old update keeps the key
    // dead (no resurrection), and a late old event yields an EMPTY
    // batch that still advances the cursor. Planted-truth booleans.
    "x147_seq_poll_cdc" -> ((s, d) => {
      val dir = runScratch("seqpoll", d)
      val M = graft.sources.Maintenance
      val S = graft.streaming.Streams
      val n = scaled(200000)
      val base = s.range(0, n).select(col("id").as("k"),
        (col("id") % 31).cast(DoubleType).as("v"), lit(0L).as("seq"))
      M.writeKeyed(base, dir, "k", 8) // v1
      val cur = M.registeredCursorPath(dir, "c147")
      def expectChg(cond: Column, status: String) =
        s.range(0, n).filter(cond).select(col("id").as("k"),
          lit(status).as("status"))
      def poll(): Option[(DataFrame, Int, Int)] = {
        val r = S.pollKeyedChanges(s, dir, cur)
        r.foreach { case (_, _, toV) =>
          S.commitChangeCursor(s, cur, toV) }
        r
      }
      // initial load: the whole v1 snapshot as 'added'
      val p0 = poll()
      val initOk = p0.exists { case (df, fromV, toV) =>
        fromV == 0 && toV == 1 &&
          fpEq(df, expectChg(lit(true), "added"), Seq("k", "status"))
      }
      // tombstones arrive FIRST (seq 4, newest) — declares the seq col
      val tomb = s.range(0, n).filter(col("id") % 9 === 0)
        .select(col("id").as("k"), lit(4L).as("seq"))
      M.appendDeltaKeyedCols(s, dir,
        s.range(0).select(col("id").as("k"), lit(0.0).as("v"),
          lit(5L).as("seq")),
        Seq("k"), 8, tombstoneKeys = Some(tomb), seqCol = Some("seq")) // v2
      val delOk = poll().exists { case (df, _, toV) =>
        toV == 2 &&
          fpEq(df, expectChg(col("id") % 9 === 0, "removed"),
            Seq("k", "status"))
      }
      // an OLDER update (seq 2) lands after the newer tombstones: dead
      // keys must stay dead (no resurrection), live keys change
      M.appendDeltaKeyedCols(s, dir, s.range(0, n)
        .filter(col("id") % 5 === 0).select(col("id").as("k"),
          lit(200.0).as("v"), lit(2L).as("seq")), Seq("k"), 8) // v3
      val updOk = poll().exists { case (df, _, toV) =>
        toV == 3 &&
          fpEq(df, expectChg(col("id") % 5 === 0 && col("id") % 9 =!= 0,
            "changed"), Seq("k", "status"))
      }
      // a LATE OLD event for a key whose stored row is newer: an empty
      // batch that still advances the cursor
      M.appendDeltaKeyedCols(s, dir,
        s.range(5, 6).select(col("id").as("k"), lit(-1.0).as("v"),
          lit(1L).as("seq")), Seq("k"), 8) // v4 (key 5 holds seq 2)
      val p3 = poll()
      val lateOk = p3.exists { case (df, _, toV) =>
        toV == 4 && df.count() == 0L
      } && S.readChangeCursor(s, cur) == 4
      s.range(1).select(
        lit(initOk).as("init_ok"), lit(delOk).as("del_ok"),
        lit(updOk).as("upd_ok"), lit(lateOk).as("late_ok"))
    }),

    // PREDICATE DML (r13): UPDATE ... WHERE / DELETE ... WHERE on a
    // keyed table. The predicate's own structure prunes the plan — a
    // zone-mapped range touches exactly the bucket whose stats
    // overlap, a key-equality conjunct point-pins its bucket — and
    // the manifest diff proves ONLY those buckets' generations moved.
    // Content + matched-count + prune + guard booleans (probeScale-
    // dialed planted truths, no recapture).
    "x148_dml_where" -> ((s, d) => {
      val dir = runScratch("dmlw", d)
      val M = graft.sources.Maintenance
      val n = scaled(600000)
      val base = s.range(0, n).select((col("id") % 64).as("tenant"),
        ((col("id") % 64) * 10000000L + col("id")).as("v"),
        (col("id") % 997).cast(DoubleType).as("x"))
      M.writeKeyed(base, dir, Seq("tenant"), 64, statsCols = Seq("v"))
      val m1 = M.readManifest(s, dir)
      // UPDATE over a zone-pruned slice: only the bucket holding
      // tenant 63 (whose v range reaches 63e7) rewrites
      val lo = 63L * 10000000L
      val matchedU = M.updateKeyedWhere(s, dir, col("v") >= lo,
        Seq("x" -> (col("x") + 1000.0)))
      val m2 = M.readManifest(s, dir)
      val changedU = m2.buckets.filter { case (b, dd) =>
        !m1.buckets.get(b).contains(dd) }.keySet
      val updOk = matchedU == base.filter(col("v") >= lo).count() &&
        changedU.size == 1
      // DELETE via a key-equality conjunct: point-pins one bucket
      val matchedD = M.deleteKeyedWhere(s, dir,
        col("tenant") === 5L && col("x") < 300.0)
      val m3 = M.readManifest(s, dir)
      val changedD = m3.buckets.filter { case (b, dd) =>
        !m2.buckets.get(b).contains(dd) }.keySet
      val delOk = matchedD ==
        base.filter(col("tenant") === 5L && col("x") < 300.0).count() &&
        changedD.size == 1
      // guards: key reassignment and nondeterministic predicates refuse
      val guardKey =
        try { M.updateKeyedWhere(s, dir, lit(true),
          Seq("tenant" -> lit(0L))); false }
        catch { case _: IllegalArgumentException => true }
      val guardDet =
        try { M.deleteKeyedWhere(s, dir, F.rand() < 0.5); false }
        catch { case _: IllegalArgumentException => true }
      // full content identity through both statements
      val expect = base
        .select(col("tenant"), col("v"),
          when(col("v") >= lo, col("x") + 1000.0)
            .otherwise(col("x")).as("x"))
        .filter(!(col("tenant") === 5L && col("x") < 300.0))
      val dd = M.diff(M.readKeyed(s, dir).select("tenant", "v", "x"),
        expect, Seq("v"))
      dd.agg(
        (F.sum(when(col("status") === "same", 0L).otherwise(1L)) === 0L)
          .as("all_same"))
        .withColumn("upd_ok", lit(updOk))
        .withColumn("del_ok", lit(delOk))
        .withColumn("guard_key", lit(guardKey))
        .withColumn("guard_det", lit(guardDet))
    }),

    // Streaming agg-state maintenance at the gate (r10): the
    // foreachBatch body applied batch-by-batch — bootstrap, a delta
    // refresh (with the compactEvery=2 cadence folding it), and a CoW
    // refresh; batch 1 then REPLAYS VERBATIM (foreachBatch is
    // at-least-once) and must be a NO-OP — the manifest's txn slot
    // commits the batch id atomically with the data, which is what
    // makes an aggregation sink exactly-once in effect. The finalized
    // view is the plain full recompute; replay_noop proves the skip.
    "x138_aggstate_stream" -> ((s, d) => {
      val dir = runScratch("aggstr", d)
      val S = graft.streaming.Streams
      val M = graft.sources.Maintenance
      val orders = t(s, d, "orders").df
      def b(f: DataFrame, id: Long, cow: Boolean = false) =
        S.aggStateBatch(f, id, dir, Seq("o_orderpriority"),
          "o_totalprice", 8, appId = "x138", asDeltas = !cow,
          compactEvery = 2)
      b(orders.filter(col("o_orderkey") % 10 =!= 0), 0L)
      b(orders.filter(col("o_orderkey") % 20 === 0), 1L)
      val replayApplied =
        b(orders.filter(col("o_orderkey") % 20 === 0), 1L)
      b(orders.filter(col("o_orderkey") % 20 === 10), 2L, cow = true)
      M.finalizeAgg(M.readKeyed(s, dir), Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("n"),
          F.round(col("total"), 6).as("total"),
          F.round(col("mean"), 6).as("mean"))
        .withColumn("replay_noop", lit(!replayApplied))
    }),

    // COMPOSITE-key CDC (r10): x120's planted history keyed on the
    // (o_custkey, o_orderkey) TUPLE — real CDC feeds key on
    // (tenant, id) pairs. Same closed-form end state: the seq-2
    // reprice wins for 7ths, tombstones remove 13ths.
    "x135_cdc_composite" -> ((s, d) => {
      val dir = runScratch("cdcc", d)
      val M = graft.sources.Maintenance
      val keys = Seq("o_custkey", "o_orderkey")
      val orders = t(s, d, "orders").df
        .select("o_custkey", "o_orderkey", "o_totalprice")
      M.cdcMergeKeyedCols(s, dir,
        orders.withColumn("seq", lit(0L)).withColumn("del", lit(false)),
        keys, 16, seqCol = Some("seq"), deleteCol = Some("del"))
      val sevens = orders.filter(col("o_orderkey") % 7 === 0)
      val cdc = sevens
        .select(col("o_custkey"), col("o_orderkey"),
          (col("o_totalprice") + lit(100.0)).as("o_totalprice"),
          lit(1L).as("seq"), lit(false).as("del"))
        .unionByName(sevens.select(col("o_custkey"), col("o_orderkey"),
          (col("o_totalprice") + lit(1000.0)).as("o_totalprice"),
          lit(2L).as("seq"), lit(false).as("del")))
        .unionByName(orders.filter(col("o_orderkey") % 13 === 0)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            lit(3L).as("seq"), lit(true).as("del")))
      M.cdcMergeKeyedCols(s, dir, cdc, keys, 16,
        seqCol = Some("seq"), deleteCol = Some("del"))
      M.readKeyed(s, dir)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    }),

    // ZONE-MAP scale probe (r10): a 64-tenant table keyed on tenant
    // with per-tenant-disjoint value ranges (the realistic shape —
    // zone maps help when values cluster per bucket). The range query
    // targets the TOP tenant's band, so by construction exactly the
    // bucket holding tenant 63 can intersect — the manifest-planned
    // read touches a small fraction of the files, and the rows match
    // the unpruned filter. Scale-invariant booleans (the expected
    // frame is computed in-query): never needs re-capture.
    "x136_zonemap_probe" -> ((s, d) => {
      val dir = runScratch("zonep", d)
      val M = graft.sources.Maintenance
      val n = scaled(1000000)
      val base = s.range(0, n).select((col("id") % 64).as("tenant"),
        ((col("id") % 64) * 10000000L + col("id")).as("v"),
        (col("id") % 997).cast(DoubleType).as("x"))
      M.writeKeyed(base, dir, Seq("tenant"), 64, statsCols = Seq("v"))
      val lo = 63L * 10000000L
      val hi = lo + 320000L
      val pruned = M.readKeyedRange(s, dir, "v", lo, hi)
      // readKeyedRange hands spark.read exactly the KEPT dirs, so
      // inputFiles reflects the manifest pruning (the in-scan
      // PartitionFilters caveat doesn't apply to path-level pruning)
      val prunedFiles = pruned.inputFiles.length
      val totalFiles = M.readKeyed(s, dir).inputFiles.length
      val expected = base.filter(col("v") >= lo && col("v") <= hi)
      M.diff(pruned.select("tenant", "v", "x"), expected, Seq("v"))
        .agg(
          (F.sum(when(col("status") === "same", 0L).otherwise(1L)) === 0L)
            .as("all_same"),
          (F.count(lit(1)) > 0).as("nonempty"))
        .withColumn("pruned_small", lit(prunedFiles * 8 < totalFiles))
    }),

    // Predicate-planned reads (r10): readKeyedWhere prunes from the
    // predicate's own structure — a key-equality conjunct takes the
    // lookupKeyed point-read (files ∝ the key's bucket), an open range
    // on the zone-mapped column skips via manifest stats, and an
    // unrecognized shape (modulo) prunes nothing but answers right.
    // Scale-invariant booleans (expected frames computed in-query).
    "x139_keyed_where" -> ((s, d) => {
      val dir = runScratch("kwhere", d)
      val M = graft.sources.Maintenance
      val n = scaled(1000000)
      val base = s.range(0, n).select((col("id") % 64).as("tenant"),
        ((col("id") % 64) * 10000000L + col("id")).as("v"),
        (col("id") % 997).cast(DoubleType).as("x"))
      M.writeKeyed(base, dir, Seq("tenant"), 64, statsCols = Seq("v"))
      val total = M.readKeyed(s, dir).inputFiles.length
      val q1 = M.readKeyedWhere(s, dir,
        col("tenant") === 5L && col("x") < 300.0)
      val e1 = base.filter(col("tenant") === 5L && col("x") < 300.0)
      val q2 = M.readKeyedWhere(s, dir, col("v") >= 63L * 10000000L)
      val e2 = base.filter(col("v") >= 63L * 10000000L)
      val q3 = M.readKeyedWhere(s, dir, col("tenant") % 2 === 1)
      // r11 grammar: IN-list / BETWEEN / OR-of-ranges on the
      // zone-mapped NON-key column prune too; a CROSS-column OR is
      // unrecognized by design and must fall back to the full scan
      // while still answering right
      val inVs = Seq(63L * 10000000L + 63L, 63L * 10000000L + 127L,
        5L * 10000000L + 5L)
      val q4 = M.readKeyedWhere(s, dir, col("v").isin(inVs: _*))
      val e4 = base.filter(col("v").isin(inVs: _*))
      val q5 = M.readKeyedWhere(s, dir,
        col("v").between(63L * 10000000L, 63L * 10000000L + 320000L))
      val e5 = base.filter(
        col("v").between(63L * 10000000L, 63L * 10000000L + 320000L))
      val q6 = M.readKeyedWhere(s, dir,
        col("v") < 10000000L || col("v") >= 63L * 10000000L)
      val e6 = base.filter(
        col("v") < 10000000L || col("v") >= 63L * 10000000L)
      val q7 = M.readKeyedWhere(s, dir,
        col("tenant") === 1L || col("x") < 5.0)
      val d1 = M.diff(q1.select("tenant", "v", "x"), e1, Seq("v"))
      val d2 = M.diff(q2.select("tenant", "v", "x"), e2, Seq("v"))
      def rowsOk(dd: DataFrame, name: String) = dd.agg(
        (F.sum(when(col("status") === "same", 0L).otherwise(1L)) === 0L
          && F.count(lit(1)) > 0).as(name))
      rowsOk(d1, "key_rows_ok")
        .crossJoin(rowsOk(d2, "zone_rows_ok"))
        .withColumn("key_pruned", lit(q1.inputFiles.length * 8 < total))
        .withColumn("zone_pruned", lit(q2.inputFiles.length * 8 < total))
        .withColumn("fallback_full", lit(q3.inputFiles.length == total))
        .crossJoin(q3.agg((F.count(lit(1)) ===
          base.filter(col("tenant") % 2 === 1).count()).as("fallback_ok")))
        .crossJoin(rowsOk(
          M.diff(q4.select("tenant", "v", "x"), e4, Seq("v")), "in_rows_ok"))
        .withColumn("in_pruned", lit(q4.inputFiles.length * 8 < total))
        .crossJoin(rowsOk(
          M.diff(q5.select("tenant", "v", "x"), e5, Seq("v")),
          "between_rows_ok"))
        .withColumn("between_pruned", lit(q5.inputFiles.length * 8 < total))
        .crossJoin(rowsOk(
          M.diff(q6.select("tenant", "v", "x"), e6, Seq("v")),
          "orrange_rows_ok"))
        .withColumn("orrange_pruned", lit(q6.inputFiles.length * 8 < total))
        .withColumn("crossor_full", lit(q7.inputFiles.length == total))
        .crossJoin(q7.agg((F.count(lit(1)) ===
          base.filter(col("tenant") === 1L || col("x") < 5.0).count())
          .as("crossor_ok")))
    }),

    // Anchored funnel over the events stream: view -> click ->
    // purchase within 7 days of the user's FIRST view; greedy
    // earliest-completion semantics, mirrored as a min()-chain oracle
    "x105_funnel" -> ((s, d) =>
      graft.ext.Events.funnel(t(s, d, "events").df,
        "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), 7L * 86400000000L)),

    // Bot-bounded funnel: same anchored semantics, but the depth is
    // computed over each user's EARLIEST 4 step-events via the
    // bounded graft_earliest_k heap aggregate — per-user state is 4
    // entries no matter how many events a user has. The oracle ranks
    // by the same (ts, step) order and replays the min-chain on the
    // prefix.
    "x115_funnel_capped" -> ((s, d) =>
      graft.ext.Events.funnel(t(s, d, "events").df,
        "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), 7L * 86400000000L,
        maxEventsPerUser = 4)),

    // Daily cohort retention: cohort = day of first event, one row per
    // (cohort, offset) with distinct active users
    "x106_retention" -> ((s, d) =>
      graft.ext.Events.retention(t(s, d, "events").df,
        "user_id", "ts", 86400000000L)),

    // Top user journeys: first 8 event types per user in (ts, type)
    // order, counted across users — same one-user-shuffle shape as
    // the funnel, mirrored as a row_number + ordered string_agg
    "x107_event_paths" -> ((s, d) =>
      graft.ext.Events.eventPaths(t(s, d, "events").df,
        "user_id", "ts", "event_type", 8)),

    // Per-group OLS fit in one aggregated pass: exact decimal
    // co-moments, fixed-order IEEE formula mirrored token-for-token
    "x108_linfit" -> ((s, d) =>
      graft.ext.Stats.linfit(t(s, d, "lineitem").df,
        Seq("l_returnflag"), "l_quantity", "l_extendedprice")),

    // First-order Markov transition counts over each user's event
    // stream; adjacent pairs from a per-user array fold, no lag window
    "x109_transitions" -> ((s, d) =>
      graft.ext.Events.transitions(t(s, d, "events").df,
        "user_id", "ts", "event_type")),

    // MERGE scale probe: 1M-row keyed table, ~1k-key change batch —
    // the merge reads/rewrites only the touched buckets; the end
    // state is verified IN-QUERY by diffing against the expected
    // frame with the (x103-oracled) diff operator. Booleans are
    // scale-invariant: never needs re-capture.
    "x110_upsert_1m" -> ((s, d) => {
      val dir = runScratch("upsl", d)
      val n = scaled(1000000)
      val base = s.range(0, n).select(col("id").as("k"),
        (col("id") % 1000).cast(DoubleType).as("v"))
      graft.sources.Maintenance.writeKeyed(base, dir, "k", 32)
      val updates = s.range(0, n, 997).select(col("id").as("k"),
        lit(-1.0).as("v"))
      graft.sources.Maintenance.upsertKeyed(s, dir, updates, "k", 32)
      val expected = base.join(updates.select("k"), Seq("k"), "left_anti")
        .unionByName(updates)
      val dif = graft.sources.Maintenance.diff(
        graft.sources.Maintenance.readKeyed(s, dir).select("k", "v"),
        expected, Seq("k"))
      dif.agg((F.count(lit(1)) === n).as("n_ok"),
        (F.sum(when(col("status") === "same", 0L).otherwise(1L)) === 0L)
          .as("all_same"))
    }),

    // Layout health report over a keyed table: per-bucket rows (the
    // md5 bucket assignment mirrored exactly in the oracle) and the
    // one-file-per-bucket invariant writeKeyed guarantees, asserted
    // in-query
    "x112_table_stats" -> ((s, d) => {
      val dir = runScratch("tstats", d)
      graft.sources.Maintenance.writeKeyed(
        t(s, d, "orders").df.select("o_orderkey", "o_totalprice"),
        dir, "o_orderkey", 8)
      graft.sources.Maintenance.keyedStats(s, dir)
        .select(col("kb").cast(LongType).as("kb"), col("n_rows"),
          (col("n_files") === 1L).as("one_file_each"))
    }),

    // Funnel scale probe: 300k users × up to 3 planted events; depth
    // distribution is closed-form (every 2nd user clicks, every 6th
    // converts), asserted in-query at ANY dial — never re-capture
    "x111_funnel_300k" -> ((s, d) => {
      val u = scaled(300000)
      val evs = s.range(0, u).select(col("id").as("user_id"), F.explode(
        F.expr("""filter(array(
            named_struct('ts', id * 10L,     't', 'view'),
            named_struct('ts', id * 10L + 1, 't', IF(id % 2 = 0, 'click', NULL)),
            named_struct('ts', id * 10L + 2, 't', IF(id % 6 = 0, 'purchase', NULL))),
          e -> e.t IS NOT NULL)""")).as("e"))
        .select(col("user_id"),
          F.timestamp_micros(col("e.ts")).as("ts"), col("e.t").as("etype"))
      val n3 = (u + 5) / 6
      val n2 = (u + 1) / 2 - n3
      val n1 = u - (u + 1) / 2
      graft.ext.Events.funnel(evs, "user_id", "ts", "etype",
        Seq("view", "click", "purchase"), 5L)
        .agg(
          (F.sum(when(col("depth") === 1, 1L).otherwise(0L)) === n1).as("d1_ok"),
          (F.sum(when(col("depth") === 2, 1L).otherwise(0L)) === n2).as("d2_ok"),
          (F.sum(when(col("depth") === 3, 1L).otherwise(0L)) === n3).as("d3_ok"))
    }),

    // TF-IDF keyword extraction: 3 most distinctive terms per doc
    "x57_top_terms" -> ((s, d) =>
      graft.ext.Search.topTermsPerDoc(t(s, d, "documents").df,
        "doc_id", "text", 3)),

    // exact corpus heavy hitters (the baseline x59/x60 approximate)
    "x58_top_tokens" -> ((s, d) =>
      graft.ext.Search.topTokens(t(s, d, "documents").df, "text", 25)),

    // Misra-Gries sketch in its provably-exact regime: capacity far
    // above the corpus vocabulary means no decrement ever fires, so
    // the sketch equals the exact per-term counts and the oracle can
    // hash-check it (the approximation regime is x60's probe)
    "x59_freq_sketch" -> ((s, d) =>
      graft.ext.Search.freqTokens(t(s, d, "documents").df, "text", 4096)),

    // Misra-Gries at scale: 5M-row stream, 10 planted heavy terms
    // (2% of the stream each) in a ~4M-term unique tail, capacity 256.
    // The output is the GUARANTEE, not the raw estimates (those are
    // legitimately merge-order-dependent): every planted heavy must
    // be tracked (freq n/50 >> n/(cap+1)) with its estimate inside
    // the Misra-Gries error band, and the state must stay bounded.
    // Frozen constant oracle (valid only at probeScale 1.0).
    "x60_freq_sketch_5m" -> ((s, d) => {
      val n = scaled(5000000L)
      val cap = 256
      val stream = s.range(n).select(
        F.when(col("id") % 5 === 0,
            F.concat(lit("h"), F.floor((col("id") % 50) / 5).cast(LongType)))
          .otherwise(F.concat(lit("t"), col("id"))).as("term"))
      val sk0 = stream
        .agg(graft.plans.FreqSketch.freqSketch(col("term"), cap).as("sk"))
        .select(F.explode(col("sk")).as("e"))
        .select(col("e.term").as("term"), col("e.est").as("est"))
        .localCheckpoint(true) // tiny (<= cap rows); fans out below
      val sk2 = s.createDataFrame(sk0.rdd, sk0.schema)
      val exact = stream.filter(col("term").startsWith("h"))
        .groupBy("term").agg(F.count(lit(1)).as("exact"))
      val bound = n / (cap + 1)
      exact.join(sk0, Seq("term"), "left")
        .agg(
          F.sum(F.when(col("est").isNotNull, 1L).otherwise(0L))
            .as("n_heavy_found"),
          F.sum(F.when(col("est").isNotNull && col("est") <= col("exact") &&
              col("est") + lit(bound) >= col("exact"), 1L).otherwise(0L))
            .as("n_bound_ok"))
        .crossJoin(sk2.agg(
          F.when(F.count(lit(1)) <= cap, 1L).otherwise(0L).as("tracked_ok")))
        .withColumn("n_rows", lit(n))
    }),

    // persisted inverted index: build term-bucketed postings, then
    // answer BM25 from the index alone — the scan touches only the
    // query terms' bucket partitions (static pruning), and the scores
    // are bit-identical to the direct scan path, which is exactly
    // what the oracle checks (same SQL as x56, different terms)
    "x61_index_search" -> ((s, d) => {
      val dir = runScratch("searchidx", d)
      graft.ext.Search.buildIndex(t(s, d, "documents").df,
        "doc_id", "text", dir)
      graft.ext.Search.searchIndex(s, dir, Seq("customer", "window"), 15)
    }),

    // Incremental index maintenance: build on a THIRD of the corpus,
    // append the rest as a new segment (existing segments never read
    // or rewritten; one manifest commit), then answer BM25 from the
    // grown index — the oracle recomputes the scan-path BM25 over the
    // FULL corpus in SQL, so segment-folded statistics (n_docs, sdl,
    // df) must be bit-identical to a from-scratch build
    "x129_index_append" -> ((s, d) => {
      val dir = runScratch("appendidx", d)
      val docs = t(s, d, "documents").df
      graft.ext.Search.buildIndex(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", dir)
      graft.ext.Search.appendIndex(
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", dir)
      graft.ext.Search.searchIndex(s, dir, Seq("customer", "index"), 15)
    }),

    // Exact-phrase retrieval on the direct scan path: consecutive-
    // token match as a pure scan expression (overlaps count), no
    // shuffle — the phrase predicate never leaves the row
    "x118_phrase_scan" -> ((s, d) =>
      graft.ext.Search.phraseSearch(t(s, d, "documents").df,
        "doc_id", "text", Seq("scan", "query"))),

    // Ordered proximity (slop) retrieval: terms in order with at most
    // slop-1 intervening tokens between consecutive terms — the
    // generalization of the phrase operator (slop=1), counted as
    // distinct chain starts; pure scan expression, no shuffle
    "x122_near_scan" -> ((s, d) =>
      graft.ext.Search.nearSearch(t(s, d, "documents").df,
        "doc_id", "text", Seq("scan", "query"), 3)),

    // The same proximity semantics over the positional index (static
    // bucket pruning; identical chain expression -> identical rows)
    "x123_near_index" -> ((s, d) => {
      val dir = runScratch("nearidx", d)
      graft.ext.Search.buildIndex(t(s, d, "documents").df,
        "doc_id", "text", dir)
      graft.ext.Search.nearSearchIndex(s, dir,
        Seq("vector", "table"), 4)
    }),

    // Keyed point lookup: reads ONLY the buckets the probe keys hash
    // into (keyCol/nBuckets from the table's own manifest metadata) —
    // the read-side twin of the merge's path pruning
    "x121_keyed_lookup" -> ((s, d) => {
      val dir = runScratch("klook", d)
      graft.sources.Maintenance.writeKeyed(
        t(s, d, "orders").df.select("o_orderkey", "o_totalprice"),
        dir, "o_orderkey", 16)
      graft.sources.Maintenance.lookupKeyed(s, dir,
        Seq(1L, 7L, 32L, 33L, 65L, 98L, 100L, 999999L))
        .select("o_orderkey", "o_totalprice")
    }),

    // The SAME phrase semantics over the positional inverted index:
    // postings carry sorted token positions, the scan touches only
    // the phrase terms' buckets (static pruning), and the occurrence
    // count folds out of per-slot position arrays — row-identical to
    // the scan path, under the same DuckDB oracle
    "x119_phrase_index" -> ((s, d) => {
      val dir = runScratch("phraseidx", d)
      graft.ext.Search.buildIndex(t(s, d, "documents").df,
        "doc_id", "text", dir)
      graft.ext.Search.phraseSearchIndex(s, dir,
        Seq("value", "table", "part"))
    }),

    // index APPEND at scale: build on half the 200k-doc synthetic
    // corpus, append the other half as a second segment (existing
    // segment untouched), then prove the grown index answers
    // bit-identically to the direct full-corpus scan — x62's parity
    // pattern, so the oracle holds at ANY scale (no re-capture). The
    // segments split by doc id parity, so every near-duplicate pair
    // (2g, 2g+1) straddles the two segments — the cross-segment stats
    // fold is load-bearing, not incidental.
    "x131_index_append_200k" -> ((s, d) => {
      val docs = synthDocs(s, scaled(100000L))
      val terms = Seq("w123", "w4567", "w89")
      val dir = runScratch("appendidx200k", d)
      val direct = graft.ext.Search.bm25Search(docs, "doc_id", "text",
        terms, 20).localCheckpoint(true) // tiny; fans out below
      val d2 = s.createDataFrame(direct.rdd, direct.schema)
      graft.ext.Search.buildIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", dir, positions = false)
      graft.ext.Search.appendIndex(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", dir)
      val indexed = graft.ext.Search.searchIndex(s, dir, terms, 20)
        .localCheckpoint(true)
      val i2 = s.createDataFrame(indexed.rdd, indexed.schema)
      direct.alias("a").join(indexed.alias("b"),
          col("a.doc_id") === col("b.doc_id") &&
            col("a.score") === col("b.score"))
        .agg(F.count(lit(1)).as("n_match"))
        .crossJoin(d2.agg(F.count(lit(1)).as("n_direct")))
        .crossJoin(i2.agg(F.count(lit(1)).as("n_indexed")))
    }),

    // compactIndex folds the appended deltas back into base
    // generations (compactKeyed, planned from the manifest; postings
    // never re-tokenize). The oracle is the same scale-invariant parity
    // as x131: the compacted index answers bit-identically to the
    // direct scan, and the in-query boolean asserts the fold left one
    // level (no delta chain in the manifest).
    "x137_index_compact" -> ((s, d) => {
      // 60k docs: x131 already measures segment-append at 200k; this
      // probe proves the FOLD (3 segments -> 1, bit-identical), so it
      // runs at the size that proves it cheapest
      val docs = synthDocs(s, scaled(60000L))
      val terms = Seq("w123", "w4567", "w89")
      val dir = runScratch("compactidx", d)
      val direct = graft.ext.Search.bm25Search(docs, "doc_id", "text",
        terms, 20).localCheckpoint(true) // tiny; fans out below
      val d2 = s.createDataFrame(direct.rdd, direct.schema)
      // 2 segments at the gate (the 3-segment + tiered-smallestK
      // shapes are spec-proven; the gate's value is the DuckDB-checked
      // fold parity, which 2 segments prove at half the job count)
      graft.ext.Search.buildIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", dir, positions = false)
      graft.ext.Search.appendIndex(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", dir)
      graft.ext.Search.compactIndex(s, dir)
      // the fold left one level: no delta chain in the manifest
      val oneSeg =
        graft.sources.Maintenance.readManifest(s, dir).deltas.isEmpty
      val indexed = graft.ext.Search.searchIndex(s, dir, terms, 20)
        .localCheckpoint(true)
      val i2 = s.createDataFrame(indexed.rdd, indexed.schema)
      direct.alias("a").join(indexed.alias("b"),
          col("a.doc_id") === col("b.doc_id") &&
            col("a.score") === col("b.score"))
        .agg(F.count(lit(1)).as("n_match"))
        .crossJoin(d2.agg(F.count(lit(1)).as("n_direct")))
        .crossJoin(i2.agg(F.count(lit(1)).as("n_indexed")))
        .withColumn("one_segment", lit(oneSeg))
    }),

    // search at scale: BM25 over the 300k-doc synthetic corpus (9M
    // token instances, 100k vocab) BOTH ways — direct zero-shuffle
    // scan and the persisted term-bucketed index (built in-query:
    // the 9M-posting explode+shuffle is the measured cost; the
    // pruned query afterwards is ~free). The constant oracle is the
    // bit-identity of the two paths (every direct hit joins an index
    // hit on doc_id AND the double score), which holds at ANY scale —
    // no frozen synthesis-dependent constants
    "x62_search_300k" -> ((s, d) => {
      val docs = synthDocs(s, scaled(150000L))
      val terms = Seq("w123", "w4567", "w89")
      val dir = runScratch("searchidx300k", d)
      val direct = graft.ext.Search.bm25Search(docs, "doc_id", "text",
        terms, 20).localCheckpoint(true) // tiny; fans out below
      val d2 = s.createDataFrame(direct.rdd, direct.schema)
      // positions = false: this probe measures the BM25 build+query
      // paths; the positional layout's cost/capability is x119's
      graft.ext.Search.buildIndex(docs, "doc_id", "text", dir,
        positions = false)
      val indexed = graft.ext.Search.searchIndex(s, dir, terms, 20)
        .localCheckpoint(true)
      val i2 = s.createDataFrame(indexed.rdd, indexed.schema)
      direct.alias("a").join(indexed.alias("b"),
          col("a.doc_id") === col("b.doc_id") &&
            col("a.score") === col("b.score"))
        .agg(F.count(lit(1)).as("n_match"))
        .crossJoin(d2.agg(F.count(lit(1)).as("n_direct")))
        .crossJoin(i2.agg(F.count(lit(1)).as("n_indexed")))
    }),

    // unicode canonicalization: planted decomposed/precomposed forms
    // normalize to identical bytes (UAX#15 — DuckDB nfc_normalize
    // byte-agrees) and accents fold the way ICU strip_accents does
    "x63_normalize" -> ((s, d) =>
      t(s, d, "documents").df.filter(col("doc_id") < 200)
        .select(col("doc_id"),
          // decomposed Cafe+U+0301 / nai+U+0308ve next to precomposed
          // forms — the real-crawl mix NFC must canonicalize
          F.concat(lit("Cafe\u0301 caf\u00e9 Z\u00fcrich nai\u0308ve doc"),
            col("doc_id").cast(StringType)).as("aug"))
        .select(col("doc_id"),
          graft.ext.TextAnalysis.normalizeText(col("aug")).as("nfc"),
          graft.ext.TextAnalysis.foldAccents(col("aug")).as("folded"),
          F.length(col("aug")).as("len_raw"),
          F.length(graft.ext.TextAnalysis.normalizeText(col("aug")))
            .as("len_nfc"))),

    // URL domain extraction + per-domain rollup (domain-level
    // filtering/mixing is how web corpora are actually curated)
    "x64_url_domains" -> ((s, d) =>
      t(s, d, "documents").df
        .select(F.concat(lit("http://ex"),
          (col("doc_id") % 7).cast(StringType),
          lit(".org/a b https://www.site"),
          (col("doc_id") % 3).cast(StringType),
          lit(".com/x")).as("aug"))
        .select(F.explode(
          graft.ext.TextAnalysis.urlDomains(col("aug"))).as("domain"))
        .groupBy("domain").agg(F.count(lit(1)).as("n"))),

    // HTML visible-text extraction: each doc's text wrapped in a
    // deterministic page skeleton (doctype, head/style block,
    // comments, a conditional script with a '<' inside, entities);
    // stripHtml must recover exactly the prose plus the decoded
    // entity line — the first transform of every web-crawl corpus
    "x65_html_extract" -> ((s, d) =>
      t(s, d, "documents").df
        .select(col("doc_id"), F.concat(
          lit("<!DOCTYPE html><html><head><title>Doc "),
          col("doc_id").cast(StringType),
          lit("</title><style>body { color: #333; }</style></head>"),
          lit("<body><!-- rendered\n page "),
          col("doc_id").cast(StringType),
          lit(" --><h1>Doc "), col("doc_id").cast(StringType),
          lit("</h1>\n<p>"), col("text"), lit("</p>"),
          F.when(col("doc_id") % 3 === 0,
            lit("<script type=\"text/javascript\">var x = 1 < 2;" +
              "</script>")).otherwise(lit("")),
          lit("<div>Tom &amp; Jerry say 1 &lt; 2 &amp;amp; more" +
            "&nbsp;&#39;quoted&#39;</div></body></html>")).as("html"))
        .select(col("doc_id"),
          graft.ext.TextAnalysis.stripHtml(col("html")).as("extracted"))),

    // exact-substring dedup with REMOVAL: the x47 planting (10-token
    // boilerplate tail on every 7th doc, unaligned offsets) — the
    // repeated interior windows must be CUT from the text, boundary
    // windows (unique per doc) must survive, untouched docs keep
    // their original bytes
    "x66_remove_spans" -> ((s, d) => {
      val planted = t(s, d, "documents").df.select(col("doc_id"),
        F.when(col("doc_id") % 7 === 0,
            F.concat(col("text"),
              lit(" boiler plate terms of service apply all rights reserved today")))
          .otherwise(col("text")).as("text"))
      graft.ext.Dedup.removeRepeatedSpans(planted, "doc_id", "text",
        n = 8, minDocs = 2)
        .select(col("doc_id"), col("text"),
          graft.ext.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    }),

    // bloom-filter decontamination: the x32 planting through the
    // BOUNDED-memory path — eval grams fold into a 2^20-bit literal
    // filter, the corpus probe is a pure filtered scan (zero joins at
    // query time); false positives are deterministic and mirrored by
    // the oracle's identical double-hash arithmetic
    "x67_decontam_bloom" -> ((s, d) => {
      val canary = F.concat_ws(" ",
        F.transform(F.sequence(lit(0), lit(9)),
          i => F.concat(lit("c"), (col("doc_id") % 5).cast(StringType),
            lit("_"), i.cast(StringType))))
      val aug = t(s, d, "documents").df.select(col("doc_id"),
        F.when(col("doc_id") % 97 === 0 || col("doc_id") % 9 === 1,
            F.concat(col("text"), lit(" "), canary))
          .otherwise(col("text")).as("text"))
      graft.ext.Corpus.decontaminateBloom(
        aug.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
        aug.filter(col("doc_id") % 97 === 0), "text", n = 8)
        .select(col("doc_id"),
          graft.ext.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    }),

    // dedup at scale: the sf0.1 documents table is 5k rows — the LSH
    // claim ("bucketed, never all-pairs") needs a corpus where
    // all-pairs is visibly impossible (300k docs = 45 BILLION pairs).
    // Synthetic 30-token docs, one planted near-dup per pair of ids
    // (token overlap 28/32 ≈ 0.875 > 0.8 threshold), production
    // xxhash64 path; frozen constant oracle (detected-pair count
    // scales with the corpus, wall-time with docs×shingles — never
    // pairs²).
    // Output is the planted-truth summary (pair count + how many are
    // the planted (2g, 2g+1) near-dups), so the driver's oracle gate
    // can hash-check the probe against its frozen expected constants
    // instead of recording rows-only.
    "x26_neardup_300k" -> ((s, d) =>
      graft.ext.Dedup.minhashPairs(synthDocs(s, scaled(150000)), "doc_id",
        "text", 0.8, hasher = graft.ext.Dedup.fastHasher)
        .agg(F.count(lit(1)).as("n_pairs"),
          F.sum(F.when(col("id_b") === col("id_a") + 1, 1L).otherwise(0L))
            .as("planted"))),

    // decontamination at scale: 300k synthetic docs (the x26 corpus),
    // every 2000th doc is the "eval set" (150 docs); each eval doc's
    // planted near-dup partner shares 8-grams and must drop. The eval
    // side reduces to a broadcast DISTINCT gram table — the 300k-doc
    // corpus streams through the probe without shuffling. Production
    // xxhash64 path; frozen constant oracle.
    // line-dedup scale probe: 300k docs x 35 tokens (10.5M line
    // instances, 100k-word organic vocab) + a planted 5-word
    // boilerplate suffix on EVERY doc. The doc-frequency pass shuffles
    // 60-bit hashes for all 10.5M instances; only the planted words
    // cross the threshold, so removed == 5 * n_docs exactly.
    // frozen constant oracle (xxhash64 synthetic corpus, like x26/x36)
    "x45_linededup_300k" -> ((s, d) => {
      val docs = synthDocs(s, scaled(150000)).select(col("doc_id"),
        F.concat(col("text"), lit(" promo banner click here now"))
          .as("text"))
      graft.ext.Corpus.lineDedup(docs, "doc_id", "text",
          maxDocs = 1000, delim = " ")
        .agg(F.count(lit(1)).as("n_docs"),
          F.sum("n_kept").as("kept"), F.sum("n_removed").as("removed"))
    }),

    // span REMOVAL at scale: the x45 corpus (300k docs, 5-token
    // boilerplate suffix everywhere, 100k organic vocab) through
    // removeRepeatedSpans with 4-token windows — the two all-planted
    // windows repeat 300k-fold and cut EXACTLY the 5 suffix tokens
    // per doc; organic-boundary windows peak at ~20 docs (λ≈3 docs
    // share a last token), far under minDocs=1000. kept == 9M ==
    // x45's constant: the span surgery and line dedup agree on this
    // planting. Frozen constant oracle (valid only at probeScale 1.0).
    "x70_spanremove_300k" -> ((s, d) => {
      val docs = synthDocs(s, scaled(150000)).select(col("doc_id"),
        F.concat(col("text"), lit(" promo banner click here now"))
          .as("text"))
      graft.ext.Dedup.removeRepeatedSpans(docs, "doc_id", "text",
          n = 4, minDocs = 1000,
          // full 64-bit xxhash64 (not the mod-P minhash domain):
          // 9.6M spans birthday-collide ~0 at 2^64, and the frozen
          // oracle needs determinism, not md5 portability
          hasher = (c: Column) => F.xxhash64(c))
        .agg(F.count(lit(1)).as("n_docs"),
          F.sum(graft.ext.TextAnalysis.tokenCount(col("text"))
            .cast(LongType)).as("kept"))
    }),

    // EXACT-Jaccard (PPJoin) scale probe: 300k docs, 16 synthetic
    // blocks of ~19k (real corpora block on lang/source the same
    // way); the planted (2g, 2g+1) near-dup pairs share a block by
    // construction. Exactness check rides along: every found pair
    // must be a planted one (pure == n_pairs). frozen constant oracle
    "x52_jaccard_300k" -> ((s, d) => {
      val docs = synthDocs(s, scaled(150000))
        .withColumn("blk", F.pmod(F.floor(col("doc_id") / 2), lit(16L)))
      graft.ext.Dedup.jaccardPairsExact(docs, "doc_id", "text",
          Seq("blk"), 0.8)
        .agg(F.count(lit(1)).as("n_pairs"),
          F.sum(F.when(col("id_b") === col("id_a") + 1, 1L).otherwise(0L))
            .as("planted"))
    }),

    "x36_decontam_300k" -> ((s, d) => {
      val all = synthDocs(s, scaled(150000))
      graft.ext.Corpus.decontaminate(
        all.filter(col("doc_id") % 2000 =!= 0), "doc_id", "text",
        all.filter(col("doc_id") % 2000 === 0), "text", n = 8,
        hasher = graft.ext.Dedup.fastHasher)
        .agg(F.count(lit(1)).as("kept"))
    }),

    // script detection: crawls route by WRITING SYSTEM before
    // word-level language ID (n-gram tables are per-script) — planted
    // Cyrillic/CJK tails and one pure-Cyrillic doc must profile and
    // dominate correctly; ranges are explicit code points so Java
    // regex and RE2 agree
    "x75_script_profile" -> ((s, d) => {
      val TA = graft.ext.TextAnalysis
      val aug = t(s, d, "documents").df.select(col("doc_id"),
        F.when(col("doc_id") % 97 === 1,
            lit("привет мир" +
              " снова"))
          .when(col("doc_id") % 5 === 0,
            F.concat(col("text"),
              lit(" привет мир")))
          .when(col("doc_id") % 7 === 0,
            F.concat(col("text"),
              lit(" 你好世界 こんにちは")))
          .otherwise(col("text")).as("text"))
      aug.select(col("doc_id"),
        TA.scriptFraction(col("text"), "latin").as("latin_frac"),
        TA.scriptFraction(col("text"), "cyrillic").as("cyr_frac"),
        TA.scriptFraction(col("text"), "cjk").as("cjk_frac"),
        TA.dominantScript(col("text")).as("script"))
    }),

    // the WEB-CRAWL lifecycle capstone: raw HTML pages → visible-text
    // extraction → Gopher lexical gate → exact-substring span surgery
    // (the injected newsletter div becomes post-strip boilerplate the
    // surgery must cut) → corpus rollup. One DuckDB oracle covers the
    // whole composition, so the operators are proven to CHAIN, not
    // just to work in isolation.
    "x72_crawl_lifecycle" -> ((s, d) => {
      val TA = graft.ext.TextAnalysis
      val html = t(s, d, "documents").df.select(col("doc_id"), F.concat(
        lit("<html><head><title>Doc "), col("doc_id").cast(StringType),
        lit("</title><style>p{}</style></head><body><h1>Doc "),
        col("doc_id").cast(StringType), lit("</h1><p>"), col("text"),
        lit("</p><script>var x = 1 < 2;</script>"),
        lit("<div>please subscribe to our newsletter today for more" +
          " updates</div></body></html>")).as("html"))
      val stripped = html.select(col("doc_id"),
        TA.stripHtml(col("html")).as("text"))
      val nStop = F.size(F.array_distinct(F.filter(
        F.transform(TA.tokens(col("text")), t => F.lower(t)),
        t => t.isInCollection(TA.stopWords)))).cast(LongType)
      val gated = stripped.filter(nStop >= 2 &&
        TA.alphaWordFraction(col("text")) >= 0.8)
      graft.ext.Dedup.removeRepeatedSpans(gated, "doc_id", "text",
          n = 8, minDocs = 2)
        .agg(F.count(lit(1)).as("n_docs"),
          F.sum(TA.tokenCount(col("text")).cast(LongType))
            .as("total_tokens"))
    }),

    // the Gopher lexical gate (Rae et al. 2021 §A1.1): type-token
    // ratio, stop-word fraction + distinct-hit count, alpha-word
    // fraction, and the composite keep rule — planted spam (one word
    // ×30) and a numeric table must fail, natural prose must pass
    "x71_gopher_signals" -> ((s, d) => {
      val TA = graft.ext.TextAnalysis
      val spam = F.concat_ws(" ",
        F.transform(F.sequence(lit(0), lit(29)), _ => lit("buy")))
      val nums = F.concat_ws(" ",
        F.transform(F.sequence(lit(1), lit(30)), i => i.cast(StringType)))
      val aug = t(s, d, "documents").df.select(col("doc_id"),
        F.when(col("doc_id") % 13 === 0, spam)
          .when(col("doc_id") % 17 === 0, nums)
          .otherwise(F.concat(lit("the start of "), col("text"),
            lit(" that ends with them"))).as("text"))
      val nStop = F.size(F.array_distinct(F.filter(
        F.transform(TA.tokens(col("text")), t => F.lower(t)),
        t => t.isInCollection(TA.stopWords)))).cast(LongType)
      aug.select(col("doc_id"),
          TA.typeTokenRatio(col("text")).as("ttr"),
          TA.stopwordFraction(col("text")).as("stop_frac"),
          TA.alphaWordFraction(col("text")).as("alpha_frac"),
          nStop.as("n_stop"))
        .withColumn("keep",
          col("n_stop") >= 2 && col("alpha_frac") >= 0.8)
    }),

    // bigram-LM quality scoring (the CCNet perplexity-filter shape):
    // train on 80% of the docs, score the held-out 20% — low scores
    // mark text unlike the reference. Deterministic via per-gram
    // round-9 decimal sums; the oracle retrains the same model in SQL
    "x69_lm_score" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      val model = graft.ext.Corpus.lmTrain(
        docs.filter(col("doc_id") % 10 < 8), "text", minCount = 2)
      graft.ext.Corpus.lmScore(
        docs.filter(col("doc_id") % 10 >= 8), "doc_id", "text", model)
    }),

    // bloom decontamination at scale: the x36 corpus through the
    // bounded-memory path — the 150-doc eval set folds to a 512 KiB
    // literal filter and the 300k-doc probe is a PURE SCAN (x36's
    // broadcast DISTINCT gram relation grows with the eval suite;
    // this never does). 2^22 bits / ~3.5k grams → expected FPs ≈ 0.1
    // across 7M probes: zero FP docs at this scale (kept = 299700 =
    // the true-gram-overlap count; see the oracle note on x36's 9
    // mod-P collision drops). Frozen constant oracle (valid only at
    // probeScale 1.0).
    "x68_decontam_bloom_300k" -> ((s, d) => {
      val all = synthDocs(s, scaled(150000))
      graft.ext.Corpus.decontaminateBloom(
        all.filter(col("doc_id") % 2000 =!= 0), "doc_id", "text",
        all.filter(col("doc_id") % 2000 === 0), "text", n = 8,
        nBits = 1 << 22, hasher = (c: Column) => F.xxhash64(c))
        .agg(F.count(lit(1)).as("kept"))
    }),

    "x19_minhash_fast" -> ((s, d) =>
      graft.ext.Dedup.minhashPairs(augDocs(s, d), "doc_id", "text", 0.8,
        hasher = graft.ext.Dedup.fastHasher)),

    // the composed end-to-end preprocessing shape every training-data
    // pipeline runs: quality gate → language gate → exact-dup removal
    // (keep lowest id per fingerprint) → per-doc stats. The signal
    // table (id, fp, 3 stats — no text) MATERIALIZES off the one
    // corpus scan, so the expensive text expressions run exactly once:
    // a collapsed filter-over-project would re-evaluate them for the
    // predicate AND the output, and a self-join over the UNmaterialized
    // pipeline would fan the whole thing out twice (measured 9.2s →
    // 0.8s at sf0.1). Dedup is a partial-aggregated groupBy-min plus an
    // fp equi-join — both AQE-skew-handled, unlike a min-over-window,
    // which would funnel a boilerplate-heavy fingerprint (empty docs,
    // duplicated headers — common in web corpora) through one task.
    // At 100 TB the materialized features are the standard persisted
    // intermediate.
    "x21_preprocess_pipeline" -> ((s, d) => {
      val TA = graft.ext.TextAnalysis
      val gated = graft.ext.Dedup.ensureParallelism(t(s, d, "documents").df)
        .select(
          col("doc_id"),
          TA.fingerprint(col("text")).as("fp"),
          TA.tokenCount(col("text")).as("n_tokens"),
          TA.langId(col("text")).as("lang"),
          TA.qualityScore(col("text")).as("q"))
        .localCheckpoint(true)
        .filter(col("q") >= 0.15 &&
          col("lang") === "en" && col("n_tokens") >= 5)
      val keep = gated.groupBy(col("fp"))
        .agg(F.min(col("doc_id")).as("doc_id"))
      gated.join(keep, Seq("fp", "doc_id"))
        .select(col("doc_id"), col("n_tokens"), col("q"))
    }),

    // ---- ext: corpus preparation (split / chunk / pack) ------------------
    // deterministic md5 train/val/test split: re-running the pipeline
    // must never move a document between splits
    "x27_train_split" -> ((s, d) =>
      graft.ext.Corpus.trainSplit(t(s, d, "documents").df, col("doc_id"))
        .groupBy("split").agg(F.count(F.lit(1)).as("n"),
          F.min("doc_id").as("first_id"))),

    // token-window chunking (size 32, overlap 8): the long-context
    // preprocessing move, one codegen'd explode, zero shuffles
    "x28_chunk_docs" -> ((s, d) =>
      graft.ext.Corpus.chunk(t(s, d, "documents").df,
        col("doc_id"), col("text"), size = 32, overlap = 8)
        .filter(col("doc_id") < 200)),

    // sequence packing at budget 2048, concat-and-split attribution;
    // global prefix sum runs as bounded per-group windows + broadcast
    // offsets (never a single-partition window)
    "x29_pack_sequences" -> ((s, d) =>
      graft.ext.Corpus.packSequences(
        t(s, d, "documents").df.select(col("doc_id"),
          graft.ext.TextAnalysis.tokenCount(col("text")).as("nt")),
        col("doc_id"), col("nt"), budget = 2048,
        groupEvery = 1024) // several groups even at sf0.01 — the
                           // multi-group two-pass path is what runs at scale
        .select(col("ord").as("doc_id"), col("n_tokens"), col("seq_id"))),

    // deployable signature throughput (xxhash64) — the x06 twin minus
    // the md5 oracle-portability tax; rows-only like x19
    "x20_minhash_sig_fast" -> ((s, d) =>
      graft.ext.Dedup.signatures(t(s, d, "documents").df, "doc_id", "text",
        hasher = graft.ext.Dedup.fastHasher)
        .select(col("id").as("doc_id"),
          F.concat_ws(",", col("sig")).as("sig"))),

    // token hashes materialize once; the 32 bit-sums then share them
    "x08_simhash" -> ((s, d) =>
      graft.ext.Dedup.ensureParallelism(t(s, d, "documents").df)
        .select(col("doc_id"), graft.ext.Dedup.tokenHashes(col("text")).as("hl"))
        .localCheckpoint(true)
        .select(col("doc_id"),
          graft.ext.Dedup.simhashFromHashes(col("hl")).as("sh"))),

    // prefix-filtered EXACT similarity join (near-linear candidates,
    // no block-quadratic term, no LSH recall loss)
    "x09_jaccard_pairs" -> ((s, d) =>
      graft.ext.Dedup.jaccardPairsExact(t(s, d, "documents").df,
        "doc_id", "text", Seq("lang", "source"), 0.5)),

    // ---- ext: similarity search ------------------------------------------
    "x10_ann_brute" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      graft.ext.Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 5), emb, 10)
    }),

    "x11_ann_lsh_sig" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val dim = graft.ext.Similarity.probeDim(emb)
      emb.select(col("vec_id"),
        graft.ext.Similarity.lshSignature(col("embedding"), dim).as("bucket"))
    }),

    "x12_cosine_pairs" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val aug = emb.select(col("vec_id"), col("embedding"), col("label"))
        .unionAll(emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id") + 10000, col("embedding"), col("label")))
      graft.ext.Similarity.cosinePairs(aug, 0.999, "label")
        .select("id_a", "id_b")
    }),

    // ---- ext: IVF ANN (zero-shuffle centroid assignment) -----------------
    "x17_ann_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      graft.ext.Similarity.ivfTopK(
        emb.filter(col("vec_id") < 5), emb, 10, nCentroids = 16, nProbe = 4)
    }),

    // the persisted-index twin of x17: build the IVF index to parquet
    // (inverted lists partitioned by centroid_id), query via static
    // partition pruning — identical results (round-trip is lossless),
    // but the corpus scan reads only probed lists
    "x37_ann_ivf_indexed" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val dir = runScratch("ivf_idx", d)
      graft.ext.Similarity.buildIvfIndex(emb, dir, nCentroids = 16)
      graft.ext.Similarity.ivfTopKIndexed(
        emb.filter(col("vec_id") < 5), dir, 10, nProbe = 4)
    }),

    // IVF index APPEND (build-once/append-many): exact copies of every
    // 25th vector append under shifted ids, assigned by the index's
    // OWN centroids — so each original vector, queried back, must find
    // its appended twin in the probed lists (identical embedding →
    // same centroid, maximal dot). The all_found check is
    // scale-invariant (the oracle never needs re-capture).
    "x74_ivf_append" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val dir = runScratch("ivf_app", d)
      graft.ext.Similarity.buildIvfIndex(emb, dir, nCentroids = 16)
      graft.ext.Similarity.appendToIvfIndex(
        emb.filter(col("vec_id") % 25 === 0)
          .select((col("vec_id") + 100000000L).as("vec_id"),
            col("embedding")),
        dir)
      val queries = emb.filter(col("vec_id") % 25 === 0)
      val res = graft.ext.Similarity.ivfTopKIndexed(queries, dir, 3,
        nProbe = 4)
      res.filter(col("neighbor_id") === col("query_id") + 100000000L)
        .agg(F.count(lit(1)).as("n_hits"))
        .crossJoin(queries.agg(F.count(lit(1)).as("n_q")))
        .select((col("n_hits") === col("n_q")).as("all_found"),
          (col("n_q") > 0).as("nonempty"))
    }),

    // ---- ext: range join (binned equi-join, no nested loop) --------------
    "x18_range_join" -> ((s, d) => {
      val bands = s.range(0, 40).select(col("id").as("band"),
        (col("id") * 10000.0).as("lo"), ((col("id") + 1) * 10000.0).as("hi"))
      graft.joins.Joins.rangeJoin(
        t(s, d, "orders").df.select("o_orderkey", "o_totalprice"),
        "o_totalprice", bands, "lo", "hi", 10000.0)
        .select(col("o_orderkey"), col("band"))
    }),

    // ---- ext: multimodal plumbing ----------------------------------------
    // plants REAL format headers (PNG IHDR / GIF screen descriptor /
    // JPEG SOI) with dimensions derived from doc_id, then asks
    // blobMeta to sniff them back — the oracle recomputes the planted
    // values from doc_id arithmetic, so a wrong parse mismatches
    "x13_multimodal_meta" -> ((s, d) => {
      def be32(c: Column) = F.unhex(F.lpad(F.hex(c), 8, "0"))
      def le16(c: Column) = F.unhex(F.concat(
        F.lpad(F.hex(c % 256), 2, "0"),
        F.lpad(F.hex(F.floor(c / 256).cast(LongType)), 2, "0")))
      val w = (col("doc_id") % 1920 + 1).cast(LongType)
      val h = (col("doc_id") % 1080 + 1).cast(LongType)
      val text = col("text").cast(BinaryType)
      val blob = F.when(col("doc_id") % 4 === 0, F.concat(
          F.unhex(lit("89504E470D0A1A0A0000000D49484452")),
          be32(w), be32(h), text))
        .when(col("doc_id") % 4 === 1, F.concat(
          F.unhex(lit("474946383961")), le16(w), le16(h), text))
        .when(col("doc_id") % 4 === 2,
          F.concat(F.unhex(lit("FFD8FFE0")), text))
        .otherwise(F.concat(F.unhex(lit("00000000")), text))
      t(s, d, "documents").df
        .select(col("doc_id"),
          graft.ext.Multimodal.blobMeta(blob).as("m"))
        .select(col("doc_id"), col("m.n_bytes").as("n_bytes"),
          col("m.format").as("format"), col("m.width").as("width"),
          col("m.height").as("height"))
    }),

    // ---- ext: time-bucket aggregation (batch face of streaming) ----------
    "x14_window_hourly" -> ((s, d) =>
      t(s, d, "events").df
        .groupBy(F.floor(F.unix_micros(col("ts")) / 3600000000L).as("bucket"))
        .agg(F.count(lit(1)).as("n"),
          PF.dsum(col("value")).as("total"))
        .orderBy("bucket")),

    // ---- §2.8 scalar misc: chr/ord/round/pi ------------------------------
    "q46_scalar_misc" -> ((s, d) =>
      t(s, d, "nation").project(
        "n_nationkey",
        "ch" -> PF.charOf(col("n_nationkey") + 65),
        "oc" -> PF.charOrd(col("n_name")),
        "r1" -> F.round(col("n_nationkey") * 1.37, 1),
        "rn" -> F.round(col("n_nationkey") * lit(137.0), -2),
        "pi" -> F.lit(math.Pi)).df),

    // ---- rollup / cube (aggregation extension) ---------------------------
    "q47_rollup" -> ((s, d) =>
      t(s, d, "orders").df
        .rollup(F.year(col("o_orderdate")).as("y"), col("o_orderstatus"))
        .agg(F.count(lit(1)).as("n"), PF.dsum(col("o_totalprice")).as("total"))),

    // ---- §2.1 csv / json source round-trips ------------------------------
    "q48_csv_roundtrip" -> ((s, d) => {
      val out = runScratch("csv", d)
      t(s, d, "nation").df.coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(out)
      graft.sources.Tables.csv(s, out, header = true, name = "nation_csv")
        .project("n_nationkey", "n_name").orderBy("n_nationkey").df
    }),

    // sharded JSONL training export: write documents as shard=K JSONL,
    // read back and roll up per shard — counts and id checksums must
    // equal shardAssign's (the layout IS the assignment)
    "x76_jsonl_shards" -> ((s, d) => {
      val out = runScratch("jsonl", d)
      val docs = t(s, d, "documents").df.select(col("doc_id"), col("text"))
      graft.ext.Corpus.writeJsonlShards(docs, col("doc_id"), out, 8)
      // group by the DIRECTORY-derived partition value: the rollup
      // checks rows physically landed in their assigned shard dirs,
      // not just that they survived the roundtrip
      s.read.json(out)
        .groupBy(col("shard").cast(LongType).as("shard"))
        .agg(F.count(lit(1)).as("n_docs"), F.sum("doc_id").as("id_sum"))
    }),

    "q49_json_roundtrip" -> ((s, d) => {
      val out = runScratch("json", d)
      t(s, d, "region").df.coalesce(1).write.mode("overwrite").json(out)
      graft.sources.Tables.json(s, out, name = "region_json")
        .project("r_regionkey", "r_name").orderBy("r_regionkey").df
    }),

    // raw-corpus text ingestion (one doc per line): write the document
    // texts out as .txt, read back through Tables.text, re-key by
    // content hash (line order is not a scan contract)
    "q75_text_roundtrip" -> ((s, d) => {
      val out = runScratch("text", d)
      // the text writer REJECTS null rows — filter, and mirror the
      // filter in the oracle (don't bet the gate on null-free testdata)
      t(s, d, "documents").df.select(col("text"))
        .filter(col("text").isNotNull).coalesce(1)
        .write.mode("overwrite").text(out)
      graft.sources.Tables.text(s, out, name = "docs_text")
        .df.select(col("line"),
          graft.ext.TextAnalysis.tokenCount(col("line")).as("n_tokens"))
    }),

    // ORC source (the Hive-side columnar format): write lineitem's hot
    // columns out as ORC, read back through Tables.orc, aggregate —
    // proves types (incl. date/decimal-free doubles) survive the
    // format and the scan prunes like parquet
    "q76_orc_roundtrip" -> ((s, d) => {
      val out = runScratch("orc", d)
      t(s, d, "lineitem").df
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_shipdate")
        .write.mode("overwrite").orc(out)
      graft.sources.Tables.orc(s, out, name = "lineitem_orc").df
        .groupBy(col("l_returnflag"))
        .agg(F.count(lit(1)).as("n"),
          PF.dsum(col("l_quantity")).as("sum_qty"),
          F.max(col("l_shipdate")).as("max_ship"))
    }),

    // ---- §2.1 introspection: columns() -----------------------------------
    "q50_columns" -> ((s, d) =>
      graft.sources.Tables.columns(t(s, d, "region"))),

    // ---- as-of join (extension; one shuffle, no range-join blowup) -------
    "q51_asof" -> ((s, d) => {
      val ev = t(s, d, "events").df
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val errors = ev.filter(col("event_type") === "error")
        .groupBy("user_id", "ts")
        .agg(F.max(col("value")).as("value"))
      Joins.asofJoin(clicks, errors, Seq("user_id"), "ts", "ts", Seq("value"))
        .select(col("event_id"), col("user_id"),
          col("value").as("last_error_value"))
    }),

    // ---- skew-salted aggregation (scale extension) -----------------------
    "q52_salted_agg" -> ((s, d) =>
      PF.saltedSumCount(t(s, d, "lineitem").df,
        col("l_returnflag"), col("l_quantity"), 16)),

    // ---- nested structs: create / access / expand ------------------------
    "q53_structs" -> ((s, d) =>
      t(s, d, "customer").df
        .select(col("c_custkey"),
          F.struct(col("c_acctbal").as("x"),
            (col("c_custkey") % 7).as("y")).as("pt"))
        .select(col("c_custkey"), col("pt.*"))
        .select(col("c_custkey"), (col("x") * 2).as("x2"), col("y"))),

    // ---- §2.1 struct-row VALUES literal ----------------------------------
    "q67_values" -> ((s, d) =>
      PTable.fromRows(s, Seq("code", "descr", "w"),
        Seq(Seq(1L, "low", 0.25), Seq(2L, "mid", 0.5),
          Seq(3L, "high", 0.25)))
        .project("code", "descr", "w",
          "w2" -> (col("w") * 2)).df),

    // ---- §2.6 page + add_index clustering --------------------------------
    "q54_page" -> ((s, d) =>
      t(s, d, "customer").orderBy("c_custkey").page(3, 20)
        .project("c_custkey", "c_mktsegment").df),

    // ---- §2.8 fmt interpolation ------------------------------------------
    "q55_fmt" -> ((s, d) =>
      t(s, d, "nation").project(
        "n_nationkey",
        "msg" -> PF.fmt(lit("nation "), col("n_name"), lit(" is #"),
          col("n_nationkey").cast(StringType))).df),

    // ---- ext: dedup cluster resolution -----------------------------------
    "x15_dup_clusters" -> ((s, d) => {
      val pairs = graft.ext.Dedup.minhashPairs(augDocs(s, d), "doc_id", "text", 0.8)
        .select("id_a", "id_b")
      graft.ext.Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("label").as("canonical"))
    }),

    // ---- §2.8 char_range --------------------------------------------------
    "q57_char_range" -> ((s, d) =>
      PTable.charRange(s, 'a', 'k').df),

    // ---- ext: batch sessionization (same semantics as the streaming
    // session_window; gap-merge happens in one shuffle on user_id) ----------
    "x16_sessionize" -> ((s, d) =>
      t(s, d, "events").df
        .groupBy(col("user_id"), F.session_window(col("ts"), "30 minutes"))
        .agg(F.count(lit(1)).as("n"), PF.dsum(col("value")).as("total"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("n"), col("total"))),

    // ---- reference benchmark shapes (BASELINE.md test1/test2) -------------
    // test1: selection+projection over a 2-table FK join with a LIKE
    // filter (reference benchmark/test_chinook.py:41-45)
    "qb1_bench_t1" -> ((s, d) =>
      Joins.join("l" -> t(s, d, "lineitem"), "o" -> t(s, d, "orders"))
        .where(col("o.o_orderpriority").like("%1%"))
        .project(
          "l_orderkey" -> col("l.l_orderkey"),
          "l_linenumber" -> col("l.l_linenumber"),
          "l_quantity" -> col("l.l_quantity"),
          "o_orderpriority" -> col("o.o_orderpriority")).df),

    // test2: multi-table join + group-by + group_concat
    // (reference benchmark/test_chinook.py:55-79)
    "qb2_bench_t2" -> ((s, d) =>
      Joins.joinN(Joins.Inner, Seq(
          Joins.Side("l", t(s, d, "lineitem")),
          Joins.Side("o", t(s, d, "orders")),
          Joins.Side("c", t(s, d, "customer")),
          Joins.Side("n", t(s, d, "nation")),
          Joins.Side("r", t(s, d, "region"))))
        .groupBy("n_name" -> col("n.n_name"), "r_name" -> col("r.r_name"))(
          "num" -> F.count(lit(1)),
          "priorities" -> F.array_join(
            F.array_sort(F.collect_set(col("o.o_orderpriority"))), ",")).df),

    // ---- composed analytics (qc-family): TPC-H-shaped multi-operator
    // pipelines through the DSL — join → filter → group → window →
    // top-k. The per-operator matrix proves each piece; these prove
    // the PLANS compose the way you'd want at 100×: fixed-size dims
    // (nation/region) force-broadcast, SF-scaled sides (customer/
    // part/supplier) left to AQE's size-based choice, aggregates
    // partial (map-side) with exact decimal sums, top-k as
    // TakeOrderedAndProject with unique tiebreakers.

    // qc1: TPC-H Q3 shape — shipping priority. customer is SF-scaled,
    // so no forced broadcast; both date filters must reach the scans.
    "qc1_shipping_priority" -> ((s, d) => {
      val cutoff = lit("1998-06-01").cast(TimestampType)
      Joins.joinN(Joins.Inner, Seq(
          Joins.Side("l", t(s, d, "lineitem")),
          Joins.Side("o", t(s, d, "orders")),
          Joins.Side("c", t(s, d, "customer"))))
        .where(PF.eq(col("c.c_mktsegment"), lit("BUILDING")),
          col("o.o_orderdate") < cutoff,
          col("l.l_shipdate") > cutoff)
        .groupBy(
          "l_orderkey" -> col("l.l_orderkey"),
          "o_orderdate" -> col("o.o_orderdate"),
          "o_orderpriority" -> col("o.o_orderpriority"))(
          "revenue" -> PF.drevsum(col("l.l_extendedprice"),
            col("l.l_discount")))
        .orderBy(desc("revenue"), "l_orderkey")
        .limit(10).df
    }),

    // qc2: TPC-H Q5 shape — local supplier volume. Six-table join;
    // the supplier-nation = customer-nation triangle closes as a
    // post-join predicate that Catalyst folds into the join.
    "qc2_local_volume" -> ((s, d) =>
      Joins.joinN(Joins.Inner, Seq(
          Joins.Side("s", t(s, d, "supplier")),
          Joins.Side("l", t(s, d, "lineitem")),
          Joins.Side("o", t(s, d, "orders")),
          Joins.Side("c", t(s, d, "customer")),
          Joins.Side("n", t(s, d, "nation")),
          Joins.Side("r", t(s, d, "region"))),
        broadcastAliases = Set("n", "r"))
        .where(col("s.s_nationkey") === col("c.c_nationkey"),
          col("o.o_orderdate") >= lit("1996-01-01").cast(TimestampType),
          col("o.o_orderdate") < lit("1997-01-01").cast(TimestampType))
        .groupBy("r_name" -> col("r.r_name"), "n_name" -> col("n.n_name"))(
          "revenue" -> PF.drevsum(col("l.l_extendedprice"),
            col("l.l_discount")))
        .orderBy(desc("revenue"), "n_name").df),

    // qc3: TPC-H Q10 shape — returned-item losers, top 20 customers.
    "qc3_returned_items" -> ((s, d) =>
      Joins.joinN(Joins.Inner, Seq(
          Joins.Side("l", t(s, d, "lineitem")),
          Joins.Side("o", t(s, d, "orders")),
          Joins.Side("c", t(s, d, "customer")),
          Joins.Side("n", t(s, d, "nation"))),
        broadcastAliases = Set("n"))
        .where(PF.eq(col("l.l_returnflag"), lit("R")),
          col("o.o_orderdate") >= lit("1996-01-01").cast(TimestampType),
          col("o.o_orderdate") < lit("1996-07-01").cast(TimestampType))
        .groupBy(
          "c_custkey" -> col("c.c_custkey"),
          "c_name" -> col("c.c_name"),
          "n_name" -> col("n.n_name"),
          "c_acctbal" -> col("c.c_acctbal"))(
          "revenue" -> PF.drevsum(col("l.l_extendedprice"),
            col("l.l_discount")))
        .orderBy(desc("revenue"), "c_custkey")
        .limit(20).df),

    // qc4: join → group → WINDOW → filter: top-2 revenue years per
    // nation. The window partitions by nation — no global sort, no
    // single-partition funnel.
    "qc4_nation_year_top2" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byYear = Joins.joinN(Joins.Inner, Seq(
          Joins.Side("l", t(s, d, "lineitem")),
          Joins.Side("o", t(s, d, "orders")),
          Joins.Side("c", t(s, d, "customer")),
          Joins.Side("n", t(s, d, "nation"))),
        broadcastAliases = Set("n"))
        .groupBy(
          "n_name" -> col("n.n_name"),
          "o_year" -> F.year(col("o.o_orderdate")))(
          "revenue" -> PF.drevsum(col("l.l_extendedprice"),
            col("l.l_discount")))
      // (n_name, o_year) is the group key, so ordering by
      // (revenue desc, o_year) is a total order within each nation
      val w = Window.partitionBy(col("n_name"))
        .orderBy(col("revenue").desc, col("o_year"))
      byYear.df.withColumn("rk", F.rank().over(w))
        .where(col("rk") <= 2)
        .select(col("n_name"), col("o_year"), col("revenue"),
          col("rk").cast(IntegerType).as("rk"))
    }),

    // qc5: TPC-H Q9 shape — profit on a part-name pattern by supplier
    // nation and ship year, plus distinct-part breadth per group.
    "qc5_product_profit" -> ((s, d) =>
      Joins.joinN(Joins.Inner, Seq(
          Joins.Side("p", t(s, d, "part")),
          Joins.Side("l", t(s, d, "lineitem")),
          Joins.Side("sp", t(s, d, "supplier")),
          Joins.Side("n", t(s, d, "nation"))),
        broadcastAliases = Set("n"))
        .where(col("p.p_name").like("%red%"))
        .groupBy(
          "n_name" -> col("n.n_name"),
          "l_year" -> F.year(col("l.l_shipdate")))(
          "profit" -> PF.drevsum(col("l.l_extendedprice"),
            col("l.l_discount")),
          "n_parts" -> F.countDistinct(col("p.p_partkey")))
        .orderBy("n_name", "l_year").df),

    // qc6: TPC-H Q13 shape — two-LEVEL aggregation: left join keeps
    // zero-order customers, per-customer count, then a histogram of
    // the counts. Both aggs are partial-agg shuffles on small keys;
    // the left join shuffles once on custkey.
    "qc6_order_count_histogram" -> ((s, d) => {
      val cust = t(s, d, "customer").df
      val ord = t(s, d, "orders").df
        .filter(col("o_orderpriority") =!= "1-URGENT")
      cust.join(ord, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(F.count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(F.count(lit(1)).as("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    }),

    // qc7: TPC-H Q22 shape — scalar subquery (broadcast 1-row cross
    // join, never a driver collect) + anti-join to high-value orders,
    // then a grouped decimal rollup. The anti-join shuffles on
    // custkey; the average is one partial-agg pass over customer.
    "qc7_dormant_rich_customers" -> ((s, d) => {
      val cust = t(s, d, "customer").df
      val avg1 = cust.filter(col("c_acctbal") > lit(0.0))
        .agg(PF.davg(col("c_acctbal")).as("avg_bal"))
      cust.join(F.broadcast(avg1))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(t(s, d, "orders").df.filter(col("o_totalprice") > lit(350000.0)),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(F.count(lit(1)).as("numcust"),
          PF.dsum(col("c_acctbal")).as("totacctbal"))
        .orderBy(col("c_nationkey"))
    }),

    // qc8: TPC-H Q17 shape — aggregate-then-rejoin. The per-part
    // average is computed once over the brand-filtered lineitems and
    // joined back; the threshold compare is multiplied out
    // (5·qty·cnt < Σqty) so both engines compare exact decimals, never
    // a rounded division. The agg side shrinks to one row per part —
    // AQE broadcasts it back onto the same filtered scan.
    "qc8_small_qty_revenue" -> ((s, d) => {
      def brandLines() = t(s, d, "lineitem").df
        .join(F.broadcast(t(s, d, "part").df
          .where(col("p_brand") === "Brand#12" && col("p_size") <= 10)
          .select("p_partkey")),
          col("l_partkey") === col("p_partkey"))
      val perPart = brandLines()
        .groupBy(col("l_partkey").as("a_partkey"))
        .agg(F.sum(col("l_quantity").cast(DecimalType(18, 2))).as("sq"),
          F.count(lit(1)).as("cq"))
      brandLines()
        .join(perPart, col("l_partkey") === col("a_partkey"))
        .where(col("l_quantity").cast(DecimalType(18, 2)) * lit(5) * col("cq")
          < col("sq"))
        .agg((PF.dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
    }),

    // qc9: TPC-H Q18 shape — group-HAVING semi-join: the qualifying
    // order keys come from a partial-agg groupBy over lineitem, orders
    // semi-joins to them (no row growth), then the detail re-joins and
    // re-aggregates. Two shuffles on orderkey, one on custkey — AQE
    // coalesces; nothing is collected to the driver.
    "qc9_large_volume_customers" -> ((s, d) => {
      val big = t(s, d, "lineitem").df
        .groupBy(col("l_orderkey").as("b_orderkey"))
        .agg(F.sum(col("l_quantity").cast(DecimalType(18, 2))).as("b_qty"))
        .where(col("b_qty") > lit(250))
        .select("b_orderkey")
      t(s, d, "orders").df
        .join(big, col("o_orderkey") === col("b_orderkey"), "left_semi")
        .join(t(s, d, "customer").df, col("o_custkey") === col("c_custkey"))
        .join(t(s, d, "lineitem").df, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"))
        .agg(PF.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(F.desc("o_totalprice"), col("o_orderkey"))
        .limit(100)
    }),

    // qc10: TPC-H Q21 shape — suppliers who alone were late on a
    // multi-supplier order. "Late" adapts to this schema as shipping
    // >365 days after the order date. One semi-join (another supplier
    // exists) and one anti-join (no OTHER supplier was late) — both
    // equi on orderkey with a suppkey<> residual, so they plan as
    // shuffled semi/anti joins, never a correlated per-row probe.
    "qc10_lone_late_suppliers" -> ((s, d) => {
      def late(a: String) = t(s, d, "lineitem").df
        .join(t(s, d, "orders").df.where(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .where(col("l_shipdate") > col("o_orderdate") + F.expr("INTERVAL 365 DAYS"))
        .select(col("l_orderkey").as(s"${a}_orderkey"),
          col("l_suppkey").as(s"${a}_suppkey"))
      val l1 = late("l1")
      val others = t(s, d, "lineitem").df
        .select(col("l_orderkey").as("l2_orderkey"),
          col("l_suppkey").as("l2_suppkey"))
      l1.join(others, col("l1_orderkey") === col("l2_orderkey") &&
          col("l1_suppkey") =!= col("l2_suppkey"), "left_semi")
        .join(late("l3"), col("l1_orderkey") === col("l3_orderkey") &&
          col("l1_suppkey") =!= col("l3_suppkey"), "left_anti")
        .join(t(s, d, "supplier").df, col("l1_suppkey") === col("s_suppkey"))
        .join(F.broadcast(t(s, d, "nation").df
          .where(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("s_name"))
        .agg(F.count(lit(1)).as("numwait"))
        .orderBy(F.desc("numwait"), col("s_name"))
        .limit(100)
    }),

    // qc11: TPC-H Q20 shape — majority shippers. Two-LEVEL aggregate:
    // per-(part, supplier) quantity, then per-part totals derived from
    // the pair aggregate itself (no second scan). The threshold is
    // multiplied out (2·sq > tq) so both engines compare exact
    // decimals, and the qualifying suppkeys semi-join supplier — the
    // fact side never fans out.
    "qc11_excess_shippers" -> ((s, d) => {
      val pair = t(s, d, "lineitem").df
        .where(col("l_shipdate") >= lit("1997-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1998-01-01").cast(TimestampType))
        .join(F.broadcast(t(s, d, "part").df
          .where(col("p_name").like("%bolt%")).select("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(F.sum(col("l_quantity").cast(DecimalType(18, 2))).as("sq"))
      val tot = pair.groupBy(col("l_partkey").as("t_partkey"))
        .agg(F.sum(col("sq")).as("tq"))
      val excess = pair
        .join(tot, col("l_partkey") === col("t_partkey"))
        .where(col("sq") * lit(2) > col("tq"))
        .select("l_suppkey")
      t(s, d, "supplier").df
        .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(F.broadcast(t(s, d, "nation").df),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_name"), col("n_name"))
        .orderBy("s_name")
    }),

    // qc12: TPC-H Q15/Q2 shape — argmax join-back. Revenue per
    // supplier (exact decimal sum), per-nation max over those
    // aggregates, then an equality join-back picks the winners (ties
    // kept, like the reference's min-cost-supplier). The max side is
    // one row per nation — broadcast — and the compare stays in
    // DECIMAL on both engines so the join-back never equality-tests a
    // rounded double.
    "qc12_top_supplier_by_nation" -> ((s, d) => {
      val rev = t(s, d, "lineitem").df
        .where(col("l_shipdate") >= lit("1998-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1998-07-01").cast(TimestampType))
        .groupBy(col("l_suppkey").as("r_suppkey"))
        .agg(F.sum((col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1).cast(DecimalType(18, 2)) -
              col("l_discount").cast(DecimalType(18, 2))))
          .cast(DecimalType(38, 4))).as("rev"))
      val bySupp = t(s, d, "supplier").df
        .join(rev, col("s_suppkey") === col("r_suppkey"))
        .join(F.broadcast(t(s, d, "nation").df),
          col("s_nationkey") === col("n_nationkey"))
      val maxRev = bySupp
        .groupBy(col("n_nationkey").as("m_nationkey"))
        .agg(F.max(col("rev")).as("mrev"))
      bySupp
        .join(F.broadcast(maxRev),
          col("n_nationkey") === col("m_nationkey") &&
            col("rev") === col("mrev"))
        .select(col("n_name"), col("s_name"),
          col("rev").cast(DoubleType).as("total_rev"))
        .orderBy("n_name", "s_name")
    }),

    // qc13: TPC-H Q7 shape — two-nation volume. The nation-PAIR
    // disjunction ((A,B) or (B,A)) can't push below the joins, but its
    // implied membership CAN: both nation dims are pre-filtered to the
    // two names before broadcast, so the fact rows thin at the 2-row
    // dim joins and the disjunction only arbitrates direction.
    "qc13_two_nation_volume" -> ((s, d) => {
      def dim(p: String, a: String, b: String) = F.broadcast(
        t(s, d, "nation").df
          .where(col("n_name").isin("NATION_13", "NATION_19"))
          .select(col("n_nationkey").as(s"${p}_key"),
            col("n_name").as(s"${a}_nation")))
      t(s, d, "lineitem").df
        .where(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1998-01-01").cast(TimestampType))
        .join(t(s, d, "orders").df, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer").df, col("o_custkey") === col("c_custkey"))
        .join(t(s, d, "supplier").df, col("l_suppkey") === col("s_suppkey"))
        .join(dim("n1", "supp", "cust"), col("s_nationkey") === col("n1_key"))
        .join(dim("n2", "cust", "supp"), col("c_nationkey") === col("n2_key"))
        .where((col("supp_nation") === "NATION_13" &&
            col("cust_nation") === "NATION_19") ||
          (col("supp_nation") === "NATION_19" &&
            col("cust_nation") === "NATION_13"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          F.year(col("l_shipdate")).as("l_year"))
        .agg(PF.drevsum(col("l_extendedprice"), col("l_discount"))
          .as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // qc14: TPC-H Q19 shape — a disjunction of cross-table conjunctions
    // ((brand_i AND size_i AND qty_i) OR ...). The OR straddles the
    // join so it can't move below it whole, but Catalyst derives the
    // per-side unions (brand/size disjunction → part scan, quantity
    // disjunction → lineitem scan) via PushPredicateThroughJoin — the
    // scans thin BEFORE the join and the residual OR only arbitrates
    // the cross pairs. The plan guard pins the derived pushdown.
    "qc14_disjunctive_revenue" -> ((s, d) => {
      val branch1 = col("p_brand") === "Brand#12" &&
        col("p_size").between(1, 5) && col("l_quantity").between(1, 11)
      val branch2 = col("p_brand") === "Brand#23" &&
        col("p_size").between(1, 10) && col("l_quantity").between(10, 20)
      val branch3 = col("p_brand") === "Brand#34" &&
        col("p_size").between(1, 15) && col("l_quantity").between(20, 30)
      t(s, d, "lineitem").df
        .join(F.broadcast(t(s, d, "part").df),
          col("l_partkey") === col("p_partkey"))
        .where(branch1 || branch2 || branch3)
        .agg(PF.drevsum(col("l_extendedprice"), col("l_discount"))
          .as("revenue"))
    }),

    // qc15: TPC-H Q8 shape — market share: of all order volume shipped
    // into one region's customers, the fraction supplied by one nation,
    // per year. Two nation dims play different roles (supplier origin
    // vs customer region membership); the region filter prunes the
    // customer-side dim to 5 rows before broadcast. The share is a
    // conditional-sum / total-sum ratio — both sums exact DECIMAL(38,4),
    // one IEEE division at the end, rounded to 6 so both engines
    // compare the same digits.
    "qc15_market_share" -> ((s, d) => {
      val custNations = F.broadcast(t(s, d, "nation").df
        .join(t(s, d, "region").df.where(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cn_key")))
      val suppNations = F.broadcast(t(s, d, "nation").df
        .select(col("n_nationkey").as("sn_key"),
          col("n_name").as("supp_nation")))
      val vol = (col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) -
          col("l_discount").cast(DecimalType(18, 2))))
        .cast(DecimalType(38, 4))
      t(s, d, "lineitem").df
        .where(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1998-01-01").cast(TimestampType))
        .join(t(s, d, "orders").df, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer").df, col("o_custkey") === col("c_custkey"))
        .join(custNations, col("c_nationkey") === col("cn_key"), "left_semi")
        .join(t(s, d, "supplier").df, col("l_suppkey") === col("s_suppkey"))
        .join(suppNations, col("s_nationkey") === col("sn_key"))
        .groupBy(F.year(col("l_shipdate")).as("o_year"))
        .agg(F.round(
          F.sum(F.when(col("supp_nation") === "NATION_12", vol)
            .otherwise(lit(0).cast(DecimalType(38, 4)))).cast(DoubleType) /
            F.sum(vol).cast(DoubleType), 6).as("mkt_share"))
        .orderBy("o_year")
    }),

    // qc16: TPC-H Q11 shape — keep groups whose aggregate exceeds a
    // fraction of the GLOBAL aggregate. The per-part aggregate is
    // materialized ONCE (localCheckpoint — |parts| rows, tiny next to
    // the fact scan) so the global total derives from it instead of
    // re-scanning the fact table; the one-row total is broadcast
    // cross-joined — never collected to the driver. The threshold
    // compare is multiplied out (2000 · part_rev > total) so it stays
    // in exact decimals.
    "qc16_important_parts" -> ((s, d) => {
      val perPart = t(s, d, "lineitem").df
        .groupBy(col("l_partkey"))
        .agg(F.sum((col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1).cast(DecimalType(18, 2)) -
              col("l_discount").cast(DecimalType(18, 2))))
          .cast(DecimalType(38, 4))).as("part_rev"))
        .localCheckpoint()
      val total = perPart.agg(F.sum(col("part_rev")).as("total_rev"))
      perPart.join(F.broadcast(total))
        .where(col("part_rev") * lit(2000) > col("total_rev"))
        .select(col("l_partkey"),
          col("part_rev").cast(DoubleType).as("value"))
        .orderBy(F.desc("value"), col("l_partkey"))
    }),

    // qc17: TPC-H Q4 shape — EXISTS against the fact table: orders in
    // a quarter with at least one line shipped >90 days after the
    // order date, counted by priority. The EXISTS is a LeftSemi on
    // orderkey with the cross-table date compare as a RESIDUAL on the
    // equi-join — never a per-row correlated probe — so the fact side
    // shuffles once on the join key and never fans out.
    "qc17_priority_waiting" -> ((s, d) => {
      t(s, d, "orders").df
        .where(col("o_orderdate") >= lit("1997-01-01").cast(TimestampType) &&
          col("o_orderdate") < lit("1997-04-01").cast(TimestampType))
        .join(t(s, d, "lineitem").df.select("l_orderkey", "l_shipdate"),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(F.count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // qc18: TPC-H Q12 shape — two-way conditional aggregation: per
    // return flag of late-shipped lines, how many came from
    // high-priority orders vs not. One equi-join, then both counts
    // come out of a single partial-aggregated pass (two conditional
    // sums in one shuffle), not two scans or two joins.
    "qc18_late_line_priority" -> ((s, d) => {
      val high = col("o_orderpriority") === "1-URGENT" ||
        col("o_orderpriority") === "2-HIGH"
      t(s, d, "lineitem").df
        .join(t(s, d, "orders").df, col("l_orderkey") === col("o_orderkey"))
        .where(col("l_shipdate") > col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy(col("l_returnflag"))
        // low = when(high, 0).otherwise(1), NOT when(!high, 1): a NULL
        // priority must count as low on both engines (CASE ... ELSE 1)
        .agg(F.sum(F.when(high, 1L).otherwise(0L)).as("high_line_count"),
          F.sum(F.when(high, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("l_returnflag")
    }),

    // qc19: TPC-H Q1 shape — the full pricing summary: one fact scan,
    // one partial-aggregated pass producing eight aggregates. The
    // charge chain price·(1−disc)·(1+tax) is computed in EXACT integer
    // micro-units (all three factors have ≤2 decimals, so cents-scaled
    // longs are exact and the sum stays inside int64) — no decimal
    // rescale rounding, no >2^53 decimal→double double-rounding, and
    // the compare is integer-exact on both engines.
    "qc19_pricing_summary" -> ((s, d) => {
      val pc = F.round(col("l_extendedprice") * 100).cast(LongType)
      val dc = F.round(col("l_discount") * 100).cast(LongType)
      val tc = F.round(col("l_tax") * 100).cast(LongType)
      t(s, d, "lineitem").df
        .where(col("l_shipdate") <= lit("2001-09-01").cast(TimestampType))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          PF.dsum(col("l_quantity")).as("sum_qty"),
          PF.dsum(col("l_extendedprice")).as("sum_base_price"),
          PF.drevsum(col("l_extendedprice"), col("l_discount"))
            .as("sum_disc_price"),
          F.sum(pc * (lit(100L) - dc) * (lit(100L) + tc))
            .as("sum_charge_micro"),
          PF.davg(col("l_quantity")).as("avg_qty"),
          PF.davg(col("l_extendedprice")).as("avg_price"),
          PF.davg(col("l_discount")).as("avg_disc"),
          F.count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // qc20: TPC-H Q6 shape — forecast revenue delta: pure
    // filter-and-aggregate, no join at all. All three predicates are
    // scan-pushable, so at 100 TB this is an embarrassingly parallel
    // single pass whose partial sums collapse to one row.
    "qc20_forecast_revenue" -> ((s, d) =>
      t(s, d, "lineitem").df
        .where(col("l_shipdate") >= lit("1997-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1998-01-01").cast(TimestampType) &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(F.sum((col("l_extendedprice").cast(DecimalType(18, 2)) *
            col("l_discount").cast(DecimalType(18, 2)))
          .cast(DecimalType(38, 4))).cast(DoubleType).as("revenue"))),

    // qc21: TPC-H Q14 shape — promo revenue share: conditional-sum /
    // total-sum ratio over one month of lineitems joined to the
    // broadcast part dim. Both sums exact decimal out of ONE partial
    // pass; one IEEE division at the end, rounded to 6.
    "qc21_promo_effect" -> ((s, d) => {
      val rev = (col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) -
          col("l_discount").cast(DecimalType(18, 2))))
        .cast(DecimalType(38, 4))
      t(s, d, "lineitem").df
        .where(col("l_shipdate") >= lit("1997-03-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1997-04-01").cast(TimestampType))
        .join(F.broadcast(t(s, d, "part").df.select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(F.round(lit(100.0) *
          F.sum(F.when(col("p_type") === "PROMO", rev)
            .otherwise(lit(0).cast(DecimalType(38, 4)))).cast(DoubleType) /
          PF.drevsum(col("l_extendedprice"), col("l_discount")), 6)
          .as("promo_revenue"))
    }),

    // qc22: TPC-H Q16 shape — how many distinct suppliers serve each
    // (brand, type, size) bucket, excluding a NOT-IN supplier set. The
    // NOT IN plans as a broadcast LeftAnti (supplier exclusion list is
    // tiny next to the fact), the part dim broadcasts, and
    // count(distinct) runs as Spark's two-phase distinct aggregate —
    // partial de-dup on (group, suppkey) before the shuffle, so the
    // exchange carries distinct pairs, not raw fact rows.
    // Composed: star-join chain → monthly revenue per region →
    // trailing 3-month trend via the rollingMean window operator —
    // broadcasts the dimension chain, one fact shuffle for the
    // monthly aggregate, one key-partitioned trend window
    // Composed event + relational analytics: anchored funnel depth
    // per user, joined onto the (broadcast) customer dimension,
    // conversion counts per market segment — the event operators must
    // compose with the star schema without extra shuffles
    "qc24_segment_conversion" -> ((s, d) => {
      val f = graft.ext.Events.funnel(t(s, d, "events").df,
        "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), 7L * 86400000000L)
      f.join(F.broadcast(t(s, d, "customer").df
          .select("c_custkey", "c_mktsegment")),
          col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(F.count(lit(1)).as("n_users"),
          F.sum(when(col("depth") >= 2, 1L).otherwise(0L)).as("n_clicked"),
          F.sum(when(col("depth") === 3, 1L).otherwise(0L)).as("n_converted"))
    }),

    "qc23_region_trend" -> ((s, d) => {
      val o = t(s, d, "orders").df
      val monthly = o
        .join(F.broadcast(t(s, d, "customer").df
          .select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(F.broadcast(t(s, d, "nation").df
          .select("n_nationkey", "n_regionkey")),
          col("c_nationkey") === col("n_nationkey"))
        .join(F.broadcast(t(s, d, "region").df
          .select("r_regionkey", "r_name")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"),
          (F.year(col("o_orderdate")) * 12 + F.month(col("o_orderdate")) - 1)
            .cast(LongType).as("m"))
        .agg(PF.dsum(col("o_totalprice")).as("revenue"))
      monthly.select(col("r_name"), col("m"), col("revenue"),
        F.round(graft.ext.TimeSeries.rollingMean(Seq("r_name"),
          Seq(col("m")), 3, col("revenue")), 6).as("trend3"))
    }),

    "qc22_supplier_variety" -> ((s, d) => {
      val excluded = t(s, d, "supplier").df
        .where(col("s_acctbal") < 1000).select("s_suppkey")
      t(s, d, "lineitem").df
        .select("l_partkey", "l_suppkey")
        .join(F.broadcast(excluded),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(F.broadcast(t(s, d, "part").df
            .where(col("p_brand") =!= "Brand#45" && col("p_size") <= 20)
            .select("p_partkey", "p_brand", "p_type", "p_size")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(F.countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), col("p_brand"), col("p_type"),
          col("p_size"))
    }),

    // ---- language front-end: reference syntax → Catalyst ------------------
    "ql1_lang_groupby" -> ((s, d) =>
      graft.lang.Interp.run(s,
        "customer{c_mktsegment => n: count()} order {^n, c_mktsegment}",
        "customer" -> t(s, d, "customer")).df),

    "ql2_lang_join" -> ((s, d) =>
      graft.lang.Interp.run(s,
        "join(c: customer, n: nation){name: n.n_name => population: count()} order {^population, name}",
        "customer" -> t(s, d, "customer"), "nation" -> t(s, d, "nation")).df),

    "ql3_lang_selection" -> ((s, d) =>
      graft.lang.Interp.run(s,
        "lineitem[l_quantity > 30, l_returnflag == 'R']{l_orderkey, l_linenumber, half: l_quantity /~ 2}",
        "lineitem" -> t(s, d, "lineitem")).df),

    "ql4_lang_script" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """big = orders[o_totalprice > 200000]
           customer[c_custkey in big{o_custkey}] order {c_custkey} [..50] {c_custkey, c_name}""",
        "customer" -> t(s, d, "customer"), "orders" -> t(s, d, "orders")).df),

    // driver-side while/if control flow steering which plans get built
    // (reference evaluate.py:338-356)
    "ql5_lang_controlflow" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """t = nation[n_nationkey < 0]{n_nationkey, n_regionkey}
          |r = 0
          |while (r < 5) {
          |  if (r % 2 == 0) {
          |    t += nation[n_regionkey == r]{n_nationkey, n_regionkey}
          |  }
          |  r = r + 1
          |}
          |t order {n_nationkey}""".stripMargin,
        "nation" -> t(s, d, "nation")).df),

    // func codeblock bodies (if/return → CASE), defaults + named args,
    // value-semantics `or` on strings (reference pql_objects.py:110-212,
    // compiler.py:313-339, examples/fizzbuzz.pql)
    "ql6_lang_funcs" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """func fizz(i) {
          |  if (i % 3 == 0) { return "Fizz" } else { return "" }
          |}
          |func buzz(i) {
          |  if (i % 5 == 0) { return "Buzz" } else { return "" }
          |}
          |func fizzbuzz(i) = (fizz(i) + buzz(i)) or string(i)
          |func scaled(x, factor = 10) = x * factor
          |customer[c_custkey <= 100]{c_custkey, fb: fizzbuzz(c_custkey),
          |  s: scaled(c_custkey), s2: scaled(c_custkey, factor: 3)}""".stripMargin,
        "customer" -> t(s, d, "customer")).df),

    // `one` scalar extraction (reference evaluate.py:679-709)
    "ql7_lang_one" -> ((s, d) =>
      graft.lang.Interp.run(s,
        "one customer[c_custkey == 42]{c_custkey, c_name}",
        "customer" -> t(s, d, "customer")).df),

    // `{...struct}` inline expansion over a join (reference
    // compiler.py:80-128, test_basic.py:1083-1092)
    "ql8_lang_struct" -> ((s, d) =>
      graft.lang.Interp.run(s,
        "join(c: customer, n: nation){...c !c_acctbal, nation_name: n.n_name} order {c_custkey} [..100]",
        "customer" -> t(s, d, "customer"), "nation" -> t(s, d, "nation")).df),

    // table DDL + positional/named `new` (reference evaluate.py:262-267,
    // tests/test_basic.py test_one)
    "ql9_lang_ddl" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """table scores { name: string, pts: int }
          |new scores(name: "alpha", pts: 10)
          |new scores("beta", 20)
          |scores order {id}""".stripMargin).df),

    // table METHODS in DDL bodies (reference test_basic.py:701-729):
    // resolve inside the table's projections/selections, auto-named,
    // methods calling methods
    "ql15_lang_methods" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """table Square {
          |  size: float
          |  func area() = size * size
          |  func is_area_larger(num) = area() > num
          |}
          |new Square(2)
          |new Square(3)
          |new Square(4)
          |Square[is_area_larger(5.0)]{id, size, area: area()} order {id}""".stripMargin).df),

    // self-referencing FK + backref (reference test_basic.py:1294-1321):
    // dotted FK attrs auto-join, backrefs count and collect children
    "ql16_lang_selfref" -> ((s, d) =>
      // kids emits as a sorted comma-joined STRING (the q21 pattern)
      // so the oracle harness can sort/hash the column — the backref
      // collect itself is already array_sort'ed
      graft.lang.Interp.run(s,
        """table Person {
          |  name: string
          |  parent: Person? -> children
          |}
          |new Person("Abraham", null)
          |new Person("Isaac", 1)
          |new Person("Jacob", 2)
          |new Person("Esau", 2)
          |Person {name => c: count(children), kids: children.name} order {name}""".stripMargin).df
        .select(col("name"), col("c"),
          F.concat_ws(",", col("kids")).as("kids"))),

    // struct type declarations: struct-typed DDL columns are real
    // nested StructType columns, projected/filtered by dotted path
    // (reference tests/box_circle.pql; the reference flattens structs
    // to parent_child columns instead, types_impl.py:25-41)
    "ql17_lang_structs" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """struct Point {
          |    x: float
          |    y: float
          |}
          |table Box {
          |    start: Point
          |    end: Point
          |}
          |table Circle {
          |    center: Point
          |    radius: float
          |}
          |new Box([1, 1], [10, 10])
          |new Box([1, 1], [2, 2])
          |new Circle([3,3], 2)
          |new Circle([20,20], 2)
          |func contained() = joinall(c:Circle, b:Box) [
          |        c.center.x - c.radius >= b.start.x,
          |        c.center.y - c.radius >= b.start.y,
          |        c.center.x + c.radius <= b.end.x,
          |        c.center.y + c.radius <= b.end.y
          |    ] {x:c, s:b.start, b.end} {x.center, r:x.radius, start:s, end}
          |contained() {cx: center.x, cy: center.y, r, sx: start.x, ex: end.x}
          |""".stripMargin).df),

    // string index/slice in column position (reference sql.py:897-926)
    "ql10_lang_strindex" -> ((s, d) =>
      graft.lang.Interp.run(s,
        "nation{n_nationkey, c0: n_name[0], suffix: n_name[7..]}",
        "nation" -> t(s, d, "nation")).df),

    // try/catch by signal supertype + transaction rollback
    // (reference evaluate.py:318-401)
    "ql11_lang_trycatch" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """picked = nation[n_nationkey < 0]
          |try {
          |  transaction {
          |    picked = nation[n_regionkey == 1]
          |    assert count(picked) == 0
          |  }
          |} catch (e: ValueError) {
          |  picked = nation[n_regionkey == 2]
          |}
          |picked{n_nationkey, n_name} order {n_nationkey}""".stripMargin,
        "nation" -> t(s, d, "nation")).df),

    // the reference's examples/primes.pql (bounded): procedure func,
    // table truthiness, scalar max/count/is_empty over tables
    "ql12_lang_primes" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """table primes { num: int }
          |func find_primes(limit) {
          |  if (not primes) {
          |    new primes(2)
          |    new primes(3)
          |  }
          |  n = max(primes{num})
          |  while (n < limit) {
          |    n = n + 2
          |    if (is_empty(primes[n % num == 0])) {
          |      new primes(n)
          |      commit()
          |    }
          |  }
          |}
          |find_primes(60)
          |primes{num} order {num}""".stripMargin).df),

    // varargs collector + call-site spread (reference
    // pql_objects.py:84-212, test_basic.py:680-696): the collected
    // dict parameterizes a selection, spread re-inlines it
    "ql13_lang_varargs" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """func range_filter(t, ...bounds) = t[l_quantity >= bounds.lo, l_quantity <= bounds.hi]
          |cfg = dict(lo: 10, hi: 15)
          |range_filter(lineitem, ...cfg){l_orderkey, l_linenumber, l_quantity} order {l_orderkey, l_linenumber}""".stripMargin,
        "lineitem" -> t(s, d, "lineitem")).df),

    // user module import (reference evaluate.py:387-423): the module's
    // func (with a module-side closure global) drives a projection
    "ql14_lang_module" -> ((s, d) =>
      graft.lang.Interp.runWithModules(s,
        """import pricing
          |orders[o_totalprice > 250000]{o_orderkey, tier: pricing.tier(o_totalprice)} order {o_orderkey}""".stripMargin,
        Map("pricing" ->
          """cutoff = 400000
            |func tier(p) = iif(p > cutoff, "high", "mid")
            |""".stripMargin),
        "orders" -> t(s, d, "orders")).df),

    // computed (non-aggregate) expression in agg position collects
    // into a per-group list (reference test_basic.py:762); sorted +
    // joined for cross-engine determinism, like q21
    "ql18_lang_agg_collect" -> ((s, d) =>
      graft.lang.Interp.run(s,
        "nation{n_regionkey => ks: n_nationkey * 2} order {n_regionkey}",
        "nation" -> t(s, d, "nation")).df
        .select(col("n_regionkey"),
          F.array_join(F.sort_array(col("ks")).cast("array<string>"), ",")
            .as("ks"))),

    // if-expression condition truthiness: int condition → != 0
    // (reference compiler.py:174 casts the condition to bool)
    "ql19_lang_if_truthy" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """func parity(x) {
          |  if (x % 2) { return "odd" } else { return "even" }
          |}
          |nation{n_nationkey, v: parity(n_nationkey)} order {n_nationkey}""".stripMargin,
        "nation" -> t(s, d, "nation")).df),

    // names(obj) lists the object's attributes with reference type
    // names (reference pql_functions.py:786-803, test_basic.py:1105)
    "ql20_lang_names" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """names(nation)[not (type ~ "function%")]{name, type} order {name}""",
        "nation" -> t(s, d, "nation")).df),

    // `new` with expression args + expression column defaults
    // (reference test_basic.py:1055-1068 evaluates args as exprs)
    "ql21_lang_new_exprs" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """table A { x: int
          | y: int = 2 + 3
          |}
          |new A(10 * 2)
          |new A(7, y: 1 + 1)
          |A order {id}""".stripMargin).df),

    // the reference's matrices.pql shape end-to-end: newline-row list
    // literals, enum, join-on-attr (`join(a: A.col, b: B.row)`), agg
    "ql22_lang_matrices" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """M1 = [-1, 0, 6
          |       2, 5, 1]
          |M2 = [2, -4, 9, 3
          |      0, 5,  1, 2
          |      3, 6, -1, 1]
          |func matrix_from_list(M, width) {
          |  return enum(M) { row: int(index / width)
          |                   col: index % width
          |                   value: item }
          |}
          |m1 = matrix_from_list(M1, 3)
          |m2 = matrix_from_list(M2, 4)
          |join(a: m1.col, b: m2.row) {
          |  row: a.row, col: b.col => value: sum(a.value * b.value)
          |} order {row, col}""".stripMargin).df),

    // the lang-level SQL() escape hatch with a typed $self recursion —
    // graph.pql:14 bfs THROUGH the language (q68 runs the same shape
    // through the SqlEscape API directly)
    "ql23_lang_sql_self" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """edges = nation{ src: n_nationkey
          |                dst: (n_nationkey * 2) % 25 }
          |initial = nation[n_nationkey == 1]{n_nationkey}
          |SQL(list[int], "SELECT * FROM $initial UNION SELECT e.dst FROM $edges e JOIN $self bfs ON e.src = bfs.item") order {item}""".stripMargin,
        "nation" -> t(s, d, "nation")).df),

    // vectorized and/or VALUE semantics on non-boolean operands
    // (reference compiler.py:313-339, test_basic.py:215-223):
    // `a or b` keeps the truthy operand, compiled to CASE WHEN
    "ql24_lang_or_values" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """nation{ n_nationkey,
          |        r: n_regionkey or 99,
          |        a: n_regionkey and n_nationkey } order {n_nationkey}""".stripMargin,
        "nation" -> t(s, d, "nation")).df),

    // projection-position membership `{flag: col in t{c}}`
    // (reference compile_binops.py:141-168): the RHS table inlines as
    // a bounded IN-list; selection position stays a semi-join
    "ql25_lang_in_proj" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """supplier{ s_suppkey,
          |          in_r1: s_nationkey in nation[n_regionkey == 1]{n_nationkey}
          |        } order {s_suppkey}""".stripMargin,
        "supplier" -> t(s, d, "supplier"),
        "nation" -> t(s, d, "nation")).df),

    // text-analysis scalars exposed in the language (engine extension):
    // pipeline signals compose with ordinary projections/selections
    "ql26_lang_text_scalars" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """documents{ doc_id,
          |           n_tokens: token_count(text),
          |           n_subwords: subword_count(text),
          |           lang_pred: lang_id(text),
          |           fp: fingerprint(text),
          |           score: quality_score(text)
          |         }[n_tokens > 2] order {doc_id}""".stripMargin,
        "documents" -> t(s, d, "documents")).df),

    // table-level pipeline operators in the language (engine
    // extension): an exact-dedup pass composed with ordinary
    // selection/ordering, all inside one language program
    "ql27_lang_dedup" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """dedup_exact(docs, "doc_id", "text")[n_copies > 1] order {fp}""",
        "docs" -> graft.dsl.PTable(augDocs(s, d))).df),

    // weighted corpus mixing in the language: per-source weights as
    // NAMED call args (the language's varargs-dict convention),
    // rollup of the kept mixture under the oracle
    "ql36_lang_mix" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """m = mix_corpus(documents, "doc_id", "source", "text", 20000, src0: 3.0, src1: 3.0)
          |m {source => n_docs: count(), kept_tokens: sum(token_count(text))}""".stripMargin,
        "documents" -> t(s, d, "documents")).df),

    // cross-session persistence THROUGH THE LANGUAGE (reference
    // connect()/commit(): a .pql script written for the reference
    // round-trips): session 1 connects a fresh dir, declares,
    // inserts, mutates, commits; session 2 is a brand-new
    // interpreter on a fresh Spark session that reopens the same dir
    // and reads the mutated rows back
    "ql37_connect_persist" -> ((s, d) => {
      val dir = runScratch("ql37_db", d)
      def rmrf(f: java.io.File): Unit = {
        if (f.isDirectory)
          Option(f.listFiles).getOrElse(Array.empty[java.io.File]).foreach(rmrf)
        f.delete(): Unit
      }
      rmrf(new java.io.File(dir)) // fresh DB per invocation (bench reps)
      graft.lang.Interp.run(s,
        s"""connect("$dir")
           |table Pt { name: string, score: int }
           |new Pt("alpha", 10)
           |new Pt("beta", 20)
           |Pt[name == "beta"] update {score: score + 5}
           |commit()
           |[0]""".stripMargin)
      graft.lang.Interp.run(s.newSession(),
        s"""connect("$dir")
           |Pt {name, score} order {name}""".stripMargin).df
    }),

    // ranked retrieval in the language: BM25 hits join back to the
    // corpus for display columns — search as an ordinary table stage
    "ql38_lang_search" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """hits = bm25_search(documents, "doc_id", "text", "spark join vector", 20)
          |join(h: hits.doc_id, d: documents.doc_id) {doc_id: h.doc_id, score: h.score, source: d.source} order {^score, doc_id}""".stripMargin,
        "documents" -> t(s, d, "documents")).df),

    // the crawl-hygiene scalars composed IN the language: HTML strip
    // feeds the Gopher stopword/alpha gate and script routing, then an
    // ordinary group-by — exercises the interpreter path of the whole
    // round-7 scalar family under one oracle
    // PageRank in the language: edge synthesis, graph iteration, and
    // top-k ranking composing as plain stages — the crawl-frontier
    // "which domains matter" question end to end
    // pivot in the language: reshape + downstream projection compose
    // like any other table stage
    "ql41_lang_pivot" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """long = events {bucket: user_id % 20, event_type, value}
          |wide = pivot(long, "bucket", "event_type", "click purchase", "sum", "value")
          |wide {bucket, click, purchase, spend: iif(purchase == null, 0.0, purchase)}
          |""".stripMargin,
        "events" -> t(s, d, "events")).df),

    // cap-then-profile composed in the language: de-bias the corpus
    // (≤5 docs per lang×source), then the length distribution of what
    // survived — the mixture-audit query a data curator runs
    "ql43_lang_capped_profile" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """capped = cap_per_group(documents, "lang source", "doc_id", 5)
          |h = histogram(capped, "n_chars", 8)
          |h {bin, lo: round(lo, 6), hi: round(hi, 6), n}
          |""".stripMargin,
        "documents" -> t(s, d, "documents")).df),

    // resample in the language: hourly per-type series, gaps densified
    // and the level carried forward, then an ordinary filter on top
    "ql42_lang_resample" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """series = resample_fill(events, "ts", "event_type", 3600000000, "value")
          |series[n == null] {event_type, bucket, carried: total}
          |""".stripMargin,
        "events" -> t(s, d, "events")).df),

    "ql40_lang_pagerank" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """e1 = documents {src: doc_id % 400, dst: (doc_id*31 + 7) % 400}
          |e2 = documents {src: doc_id % 400, dst: (doc_id*17 + 3) % 400}
          |pr = page_rank(e1 + e2, 6, 0.85)
          |pr {node, r: round(rank, 6)} order {^r, node} [..10]
          |""".stripMargin,
        "documents" -> t(s, d, "documents")).df),

    // weighted shortest paths composed in the language: modular link
    // graph with derived edge costs, 3 relaxation rounds (= exact
    // min-cost over ≤3-hop walks, which the oracle enumerates)
    "ql44_lang_sssp" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """e1 = documents {src: doc_id % 100, dst: (doc_id*31 + 7) % 100,
          |                weight: float(doc_id % 5 + 1)}
          |e2 = documents {src: doc_id % 100, dst: (doc_id*17 + 3) % 100,
          |                weight: float(doc_id % 7 + 2)}
          |d = sssp(distinct(e1 + e2), [0], 3)
          |d {node, dist: round(dist, 6)}
          |""".stripMargin,
        "documents" -> t(s, d, "documents")).df),

    // funnel composed in the language: per-user depth, then the
    // depth histogram via the language's group-by projection
    "ql45_lang_funnel" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """f = funnel(events, "user_id", "ts", "event_type",
          |           "view click purchase", 604800000000)
          |f {depth => n_users: count()}
          |""".stripMargin,
        "events" -> t(s, d, "events")).df),

    // the keyed-table lifecycle driven from the LANGUAGE: write,
    // MERGE (reprice every 7th key), DELETE (every 13th), read the
    // snapshot back — the x102 machinery behind a .pql face, same
    // closed-form oracle shape
    "ql46_lang_keyed" -> ((s, d) => {
      val dir = runScratch("qlkeyed", d)
      graft.lang.Interp.run(s,
        s"""base = orders {o_orderkey, o_custkey, o_totalprice}
           |snap = write_keyed(base, "$dir", "o_orderkey", 16)
           |ups = base[o_orderkey % 7 == 0] {o_orderkey, o_custkey,
           |                                 o_totalprice: o_totalprice + 1000.0}
           |merged = upsert_keyed("$dir", ups, "o_orderkey", 16)
           |fin = delete_keyed("$dir", base[o_orderkey % 13 == 0] {o_orderkey},
           |                   "o_orderkey", 16)
           |fin {o_orderkey, o_totalprice}
           |""".stripMargin,
        "orders" -> t(s, d, "orders")).df
    }),

    // keyed-layout health from the language: per-bucket rows (md5
    // bucket assignment mirrored in the oracle) and the one-file
    // invariant
    "ql47_lang_maintenance" -> ((s, d) => {
      val kdir = runScratch("qlc_keyed", d)
      graft.lang.Interp.run(s,
        s"""small = orders {o_orderkey, o_totalprice}
           |snap = write_keyed(small, "$kdir", "o_orderkey", 8)
           |st = keyed_stats("$kdir")
           |st {kb: int(kb), n_rows, one_file: n_files == 1}
           |""".stripMargin,
        "orders" -> t(s, d, "orders")).df
    }),

    // exact-phrase retrieval from the language
    "ql48_lang_phrase" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """phrase_search(documents, "doc_id", "text", "scan query")
          |""".stripMargin,
        "documents" -> t(s, d, "documents")).df),

    // Z-order write + compaction from the language; the layout report
    // is closed-form (per-a row counts; 3 output files bound n_files)
    "ql49_lang_layout" -> ((s, d) => {
      val zdir = runScratch("qlz", d)
      val cdir = runScratch("qlcmp", d)
      graft.lang.Interp.run(s,
        s"""e = events {a: event_id % 256, b: event_id * 131 % 256, value}
           |z = write_zordered(e, "$zdir", "a b", 8, 4)
           |c = compact_table("$zdir", "$cdir", 3)
           |st = table_stats("$cdir", "a")
           |st {a, n_rows, files_ok: n_files <= 3}
           |""".stripMargin,
        "events" -> t(s, d, "events")).df
    }),

    // the incremental agg-state family from the language: build the
    // persisted state on 90% of orders, merge the rest in (O(batch +
    // state)), finalize — the oracle is the full recompute, exactly
    // x104's family plus the mergeable min/max (rounding applied
    // engine-side after the faces run, same expressions as x104)
    "ql50_lang_aggstate" -> ((s, d) => {
      val dir = runScratch("qlaggst", d)
      graft.lang.Interp.run(s,
        s"""b = build_agg_state(orders[o_orderkey % 10 != 0],
           |                    "o_orderpriority", "o_totalprice", "$dir")
           |m = merge_agg_state("$dir", orders[o_orderkey % 10 == 0],
           |                    "o_orderpriority", "o_totalprice")
           |finalize_agg("$dir", "o_orderpriority")
           |""".stripMargin,
        "orders" -> t(s, d, "orders")).df
        .select(col("o_orderpriority"), col("n"),
          F.round(col("total"), 6).as("total"),
          F.round(col("mean"), 6).as("mean"),
          col("vmin"), col("vmax"))
    }),

    // the BUCKETED agg state through the language: build keyed, one
    // delta-partial refresh (bytes ∝ batch), one CoW refresh, compact
    // the chains — the finalized view is ql50's full recompute
    "ql56_lang_aggstate_keyed" -> ((s, d) => {
      val dir = runScratch("qlaggstk", d)
      graft.lang.Interp.run(s,
        s"""b = build_agg_state_keyed(orders[o_orderkey % 10 != 0],
           |      "o_orderpriority", "o_totalprice", "$dir", 8)
           |m1 = merge_agg_state_keyed("$dir", orders[o_orderkey % 20 == 0],
           |      "o_orderpriority", "o_totalprice", true)
           |m2 = merge_agg_state_keyed("$dir", orders[o_orderkey % 20 == 10],
           |      "o_orderpriority", "o_totalprice", false)
           |compact_agg_state_keyed("$dir", "o_orderpriority")
           |""".stripMargin,
        "orders" -> t(s, d, "orders")).df
        .select(col("o_orderpriority"), col("n"),
          F.round(col("total"), 6).as("total"),
          F.round(col("mean"), 6).as("mean"),
          col("vmin"), col("vmax"))
    }),

    // predicate-planned reads from the language: the selection on a
    // pristine read_keyed snapshot re-plans through readKeyedWhere
    // (the scalar binding `k` reaches the predicate as a LITERAL, so
    // the key equality prunes to its bucket — LangSpec plan-guards
    // the file count; this gate query proves the ROWS)
    "ql57_lang_keyed_where" -> ((s, d) => {
      val dir = runScratch("qlkwhere", d)
      graft.lang.Interp.run(s,
        s"""base = orders {o_orderkey, o_custkey, o_totalprice}
           |snap = write_keyed(base, "$dir", "o_orderkey", 16)
           |k = min(base{o_orderkey})
           |t = read_keyed("$dir")
           |t[o_orderkey == k] {o_orderkey, o_totalprice}
           |""".stripMargin,
        "orders" -> t(s, d, "orders")).df
    }),

    // MATERIALIZED-VIEW ROUTING (r11): the group-by over the pristine
    // read_keyed snapshot routes onto the registered agg state — the
    // answer is the state's exact-decimal arithmetic (the oracle
    // mirrors it; the scan plan's IEEE float sum would NOT hash-match,
    // so this gate goes red if routing silently stops firing), and
    // LangSpec plan-guards that the base table's files never open
    "ql58_lang_mv_route" -> ((s, d) => {
      val bdir = runScratch("qlmvb", d)
      val mdir = runScratch("qlmvs", d)
      graft.sources.MatView.unregister(s, mdir)
      graft.lang.Interp.run(s,
        s"""base = orders {o_orderkey, o_orderpriority, o_totalprice}
           |w = write_keyed(base, "$bdir", "o_orderkey", 16)
           |st = build_agg_state_keyed(read_keyed("$bdir"),
           |       "o_orderpriority", "o_totalprice", "$mdir", 8)
           |r = register_mv("$mdir", "$bdir", "o_totalprice", "", true)
           |t = read_keyed("$bdir")
           |t {o_orderpriority => n: count(), total: sum(o_totalprice),
           |   avg_price: mean(o_totalprice), lo: min(o_totalprice),
           |   hi: max(o_totalprice)}
           |""".stripMargin,
        "orders" -> t(s, d, "orders")).df
    }),

    // INCREMENTAL MV refresh (r12): build_mv aggregates the base at
    // BUCKET GRAIN (per (group, base-bucket) partials) and registers
    // in one call; after the repricing upsert, refresh_mv_incremental
    // re-aggregates ONLY the changed base buckets and swaps their
    // partials (replace, not fold — handles updates/deletes), then the
    // group-by routes again. The exact-decimal total is the routing
    // canary: if the refreshed view stopped routing, the scan plan's
    // IEEE sum would hash-mismatch.
    "ql63_lang_mv_refresh" -> ((s, d) => {
      val bdir = runScratch("qlmvib", d)
      val mdir = runScratch("qlmvis", d)
      graft.sources.MatView.unregister(s, mdir)
      val out = graft.lang.Interp.run(s,
        s"""base = orders {o_orderkey, o_orderpriority, o_totalprice}
           |w = write_keyed(base, "$bdir", "o_orderkey", 16)
           |v = build_mv("$bdir", "$mdir", "o_orderpriority",
           |             "o_totalprice", 8, "", true)
           |ups = base[o_orderkey % 9 == 0] {o_orderkey, o_orderpriority,
           |          o_totalprice: o_totalprice + 500.0}
           |u = upsert_keyed("$bdir", ups, "o_orderkey", 16)
           |r = refresh_mv_incremental("$mdir")
           |ups2 = base[o_orderkey == 7] {o_orderkey, o_orderpriority,
           |          o_totalprice: o_totalprice + 250.0}
           |u2 = upsert_keyed("$bdir", ups2, "o_orderkey", 16)
           |r2 = refresh_mv_incremental("$mdir")
           |t = read_keyed("$bdir")
           |t {o_orderpriority => n: count(), total: sum(o_totalprice),
           |   lo: min(o_totalprice), hi: max(o_totalprice)}
           |""".stripMargin,
        "orders" -> t(s, d, "orders")).df
      // the PRUNING gate (r13): the second upsert touched ONE key, so
      // the refresh must have read exactly ONE base bucket's files —
      // an accidental full-base-scan refresh turns this boolean false
      // and the hash gate red (the lifecycle alone wouldn't catch it:
      // the %9 upsert above touches most of the 16 buckets anyway)
      val pruned = graft.sources.MatView.lastRefreshScan.exists {
        case (changed, files) =>
          changed.length == 1 && files.nonEmpty &&
            files.forall(_.contains(f"b${changed.head}%05d_g"))
      }
      out.withColumn("pruned_ok", lit(pruned))
    }),

    // ROUTE UNDER SELECTION (r12): a predicate over GRAIN columns only
    // filters the state rows (a group passes or fails wholesale), so
    // the filtered group-by still routes — exact-decimal total canary.
    "ql64_lang_mv_where" -> ((s, d) => {
      val bdir = runScratch("qlmvwb", d)
      val mdir = runScratch("qlmvws", d)
      graft.sources.MatView.unregister(s, mdir)
      graft.lang.Interp.run(s,
        s"""base = orders {o_orderkey, o_orderpriority, o_totalprice}
           |w = write_keyed(base, "$bdir", "o_orderkey", 16)
           |st = build_agg_state_keyed(read_keyed("$bdir"),
           |       "o_orderpriority", "o_totalprice", "$mdir", 8)
           |r = register_mv("$mdir", "$bdir", "o_totalprice", "", true)
           |t = read_keyed("$bdir")
           |t[o_orderpriority == "1-URGENT"] {o_orderpriority =>
           |    n: count(), total: sum(o_totalprice)}
           |""".stripMargin,
        "orders" -> t(s, d, "orders")).df
    }),

    // GRAIN-SUPERSET routing (r12): a view keyed (custkey, priority)
    // serves the priority-only rollup by FOLDING its states (every
    // state column is associative; the exact-decimal total and the
    // __cnv-divided mean are the canaries).
    "ql65_lang_mv_rollup" -> ((s, d) => {
      val bdir = runScratch("qlmvrb", d)
      val mdir = runScratch("qlmvrs", d)
      graft.sources.MatView.unregister(s, mdir)
      graft.lang.Interp.run(s,
        s"""base = orders {o_orderkey, o_custkey, o_orderpriority,
           |               o_totalprice}
           |w = write_keyed(base, "$bdir", "o_orderkey", 16)
           |st = build_agg_state_keyed(read_keyed("$bdir"),
           |       "o_custkey o_orderpriority", "o_totalprice", "$mdir", 8)
           |r = register_mv("$mdir", "$bdir", "o_totalprice", "", true)
           |t = read_keyed("$bdir")
           |t {o_orderpriority => n: count(), total: sum(o_totalprice),
           |   avg_price: mean(o_totalprice)}
           |""".stripMargin,
        "orders" -> t(s, d, "orders")).df
    }),

    // MAINTENANCE from the language (r12): a 1-byte target makes every
    // leaf a split candidate, maintain_keyed splits them all within
    // budget (depth-1 everywhere) and the table reads back IDENTICAL —
    // the language face of the policy loop, under the full-content
    // oracle.
    "ql66_lang_maintain" -> ((s, d) => {
      val dir = runScratch("qlmaint", d)
      graft.lang.Interp.run(s,
        s"""base = orders {o_orderkey, o_totalprice}
           |w = write_keyed(base, "$dir", "o_orderkey", 4)
           |m = maintain_keyed("$dir", 1, 100000000, 1)
           |t = read_keyed("$dir")
           |t {o_orderkey, o_totalprice}
           |""".stripMargin,
        "orders" -> t(s, d, "orders")).df
    }),

    // OUT-OF-ORDER CDC from the language (r12): stamped delta batches
    // land NEWEST-FIRST on a sequence-resolved table; resolution is
    // max-seq-wins, so the end state is the ordered application —
    // closed-form oracle (the x120 pattern, shuffled arrival).
    "ql67_lang_seq_cdc" -> ((s, d) => {
      val dir = runScratch("qlseq", d)
      graft.lang.Interp.run(s,
        s"""base = orders {o_orderkey, o_totalprice, seq: 0}
           |w = write_keyed(base, "$dir", "o_orderkey", 16)
           |b3 = base[o_orderkey % 3 == 0] {o_orderkey,
           |        o_totalprice: o_totalprice + 3000.0, seq: 3}
           |b1 = base[o_orderkey % 7 == 0] {o_orderkey,
           |        o_totalprice: o_totalprice + 1000.0, seq: 1}
           |b2 = base[o_orderkey % 5 == 0] {o_orderkey,
           |        o_totalprice: o_totalprice + 2000.0, seq: 2}
           |d1 = append_delta_keyed("$dir", b3, "o_orderkey", 16, "seq")
           |d2 = append_delta_keyed("$dir", b1, "o_orderkey", 16)
           |d3 = append_delta_keyed("$dir", b2, "o_orderkey", 16)
           |t = read_keyed("$dir")
           |t {o_orderkey, o_totalprice, seq}
           |""".stripMargin,
        "orders" -> t(s, d, "orders")).df
    }),

    // QUANTILE-BEARING MV from the language (r13): build_mv's new
    // sample_k / sample_unique args carry a ROW-uniform bounded sample
    // through the bucket-grain build AND the incremental refresh. The
    // sample bound (65536) covers every group at the gated SFs, so the
    // folded sample IS the population and the approx quantiles are the
    // EXACT order statistics — replayed verbatim in DuckDB.
    "ql68_lang_mv_sample" -> ((s, d) => {
      val bdir = runScratch("qlmvqb", d)
      val mdir = runScratch("qlmvqs", d)
      graft.sources.MatView.unregister(s, mdir)
      graft.lang.Interp.run(s,
        s"""base = orders {o_orderkey, o_orderpriority, o_totalprice}
           |w = write_keyed(base, "$bdir", "o_orderkey", 16)
           |v = build_mv("$bdir", "$mdir", "o_orderpriority",
           |             "o_totalprice", 8, "", true, 65536, "o_orderkey")
           |ups = base[o_orderkey % 9 == 0] {o_orderkey, o_orderpriority,
           |          o_totalprice: o_totalprice + 500.0}
           |u = upsert_keyed("$bdir", ups, "o_orderkey", 16)
           |r = refresh_mv_incremental("$mdir")
           |r {o_orderpriority, n, total, approx_p25, approx_median,
           |   approx_p90}
           |""".stripMargin,
        "orders" -> t(s, d, "orders")).df
    }),

    // REFRESH-ALL SWEEP (r13): two views over one base, one commit,
    // one refresh_mvs call — both watermarks re-arm (staleness 0) and
    // the exact-decimal group-by that ROUTES through the swept view
    // hash-matches the scan oracle (the ql58-style canary for the
    // sweep path).
    "ql70_lang_mv_sweep" -> ((s, d) => {
      val bdir = runScratch("qlswb", d)
      val m1 = runScratch("qlsw1", d)
      val m2 = runScratch("qlsw2", d)
      graft.sources.MatView.unregister(s, m1)
      graft.sources.MatView.unregister(s, m2)
      val out = graft.lang.Interp.run(s,
        s"""base = orders {o_orderkey, o_custkey, o_orderpriority,
           |              o_totalprice}
           |w = write_keyed(base, "$bdir", "o_orderkey", 16)
           |v1 = build_mv("$bdir", "$m1", "o_orderpriority",
           |              "o_totalprice", 8, "", true)
           |v2 = build_mv("$bdir", "$m2", "o_custkey",
           |              "o_totalprice", 8, "", true)
           |ups = base[o_orderkey % 7 == 0] {o_orderkey, o_custkey,
           |         o_orderpriority, o_totalprice: o_totalprice + 100.0}
           |u = upsert_keyed("$bdir", ups, "o_orderkey", 16)
           |sw = refresh_mvs("$bdir")
           |t = read_keyed("$bdir")
           |t {o_orderpriority => n: count(), total: sum(o_totalprice)}
           |""".stripMargin,
        "orders" -> t(s, d, "orders")).df
      val sweptOk = graft.sources.MatView.forBase(bdir).nonEmpty &&
        graft.sources.MatView.forBase(bdir)
          .forall(dd => graft.sources.MatView.staleness(s, dd) == 0)
      out.withColumn("swept_ok", lit(sweptOk))
    }),

    // PREDICATE DML from the language (r13): UPDATE SET WHERE, a
    // copy-on-write DELETE WHERE, then a MERGE-ON-READ delta delete
    // (tombstones ∝ matches, bases untouched) — the surviving content
    // under a plain CASE/WHERE oracle.
    "ql71_lang_dml" -> ((s, d) => {
      val dir = runScratch("qldml", d)
      graft.lang.Interp.run(s,
        s"""base = orders {o_orderkey, o_totalprice}
           |w = write_keyed(base, "$dir", "o_orderkey", 8)
           |u = update_keyed_where("$dir", "o_totalprice < 50000.0",
           |                       "o_totalprice", "o_totalprice + 50.0")
           |x = delete_keyed_where("$dir", "o_orderkey % 3 = 0")
           |y = update_keyed_where_delta("$dir", "o_orderkey % 7 = 1",
           |                             "o_totalprice",
           |                             "o_totalprice - 25.0")
           |t = delete_keyed_where_delta("$dir", "o_orderkey % 5 = 4")
           |t {o_orderkey, o_totalprice}
           |""".stripMargin,
        "orders" -> t(s, d, "orders")).df
    }),

    // LEAF MERGE from the language (r13): split a leaf, drain the
    // table, and one maintain_keyed pass (with its merge budget) folds
    // the drained siblings back — full-content oracle plus a
    // merged-back depth boolean (the ql66 twin for the contraction
    // half).
    "ql69_lang_maint_merge" -> ((s, d) => {
      val dir = runScratch("qlmerge", d)
      val out = graft.lang.Interp.run(s,
        s"""base = orders {o_orderkey, o_totalprice}
           |w = write_keyed(base, "$dir", "o_orderkey", 4)
           |sp = split_keyed("$dir", 0)
           |dels = base[o_orderkey % 2 == 0] {o_orderkey}
           |dd = delete_keyed("$dir", dels, "o_orderkey", 4)
           |m = maintain_keyed("$dir", 100000000, 100000000, 1, 100000000)
           |t = read_keyed("$dir")
           |t {o_orderkey, o_totalprice}
           |""".stripMargin,
        "orders" -> t(s, d, "orders")).df
      val mergedBack = graft.sources.Maintenance
        .readManifest(s, dir).depths.isEmpty
      out.withColumn("merged_ok", lit(mergedBack))
    }),

    // approx_count_distinct through an MV (r11): the language's
    // md5-register HLL aggregate served from the registered state's
    // merged registers — BIT-IDENTICAL to the scan plan by
    // construction (register-wise max is associative, the estimate is
    // the same scalar), so this gate is green through EITHER plan;
    // MatViewSpec separately asserts the routed plan never opens the
    // base and equals the scan value exactly
    "ql61_lang_mv_adist" -> ((s, d) => {
      val bdir = runScratch("qlmvab", d)
      val mdir = runScratch("qlmvas", d)
      graft.sources.MatView.unregister(s, mdir)
      graft.lang.Interp.run(s,
        s"""base = orders {o_orderkey, o_orderpriority, o_custkey,
           |               o_totalprice}
           |w = write_keyed(base, "$bdir", "o_orderkey", 16)
           |st = build_agg_state_keyed(read_keyed("$bdir"),
           |       "o_orderpriority", "o_totalprice", "$mdir", 8,
           |       "o_custkey")
           |r = register_mv("$mdir", "$bdir", "o_totalprice", "o_custkey",
           |                 true)
           |t = read_keyed("$bdir")
           |t {o_orderpriority => n: count(),
           |   ad: approx_count_distinct(o_custkey)}
           |""".stripMargin,
        "orders" -> t(s, d, "orders")).df
    }),

    // GLOBAL aggregation through an MV (r11): `t {=> aggs}` over the
    // pristine snapshot folds the per-key states — one tiny aggregate
    // over O(groups) state rows instead of the base scan. The exact-
    // decimal total is the routing canary again; the global HLL
    // estimate folds the registers first and stays bit-identical.
    "ql62_lang_mv_global" -> ((s, d) => {
      val bdir = runScratch("qlmvgb", d)
      val mdir = runScratch("qlmvgs", d)
      graft.sources.MatView.unregister(s, mdir)
      graft.lang.Interp.run(s,
        s"""base = orders {o_orderkey, o_orderpriority, o_custkey,
           |               o_totalprice}
           |w = write_keyed(base, "$bdir", "o_orderkey", 16)
           |st = build_agg_state_keyed(read_keyed("$bdir"),
           |       "o_orderpriority", "o_totalprice", "$mdir", 8,
           |       "o_custkey")
           |r = register_mv("$mdir", "$bdir", "o_totalprice", "o_custkey",
           |                 true)
           |t = read_keyed("$bdir")
           |t {=> n: count(), total: sum(o_totalprice),
           |   ad: approx_count_distinct(o_custkey)}
           |""".stripMargin,
        "orders" -> t(s, d, "orders")).df
    }),

    // merge-on-read deltas + compaction from the language: the delta
    // append never rewrites bases, compact folds the chain, and the
    // end state is the closed-form reprice
    "ql51_lang_delta" -> ((s, d) => {
      val dir = runScratch("qldelta", d)
      graft.lang.Interp.run(s,
        s"""base = orders {o_orderkey, o_totalprice}
           |snap = write_keyed(base, "$dir", "o_orderkey", 16)
           |ups = base[o_orderkey % 7 == 0] {o_orderkey,
           |                                 o_totalprice: o_totalprice + 1000.0}
           |d1 = append_delta_keyed("$dir", ups, "o_orderkey", 16)
           |fin = compact_keyed("$dir")
           |fin {o_orderkey, o_totalprice}
           |""".stripMargin,
        "orders" -> t(s, d, "orders")).df
    }),

    // segment-append index maintenance from the language: build on a
    // third of the corpus, append the rest, query the grown index —
    // the oracle recomputes full-corpus BM25 in SQL (x61's builder)
    "ql52_lang_idxappend" -> ((s, d) => {
      val dir = runScratch("qlidxapp", d)
      graft.lang.Interp.run(s,
        s"""a = build_search_index(documents[doc_id % 3 == 0],
           |                       "doc_id", "text", "$dir")
           |b = append_search_index(documents[doc_id % 3 != 0],
           |                        "doc_id", "text", "$dir")
           |search_idx("$dir", "customer window", 15)
           |""".stripMargin,
        "documents" -> t(s, d, "documents")).df
    }),

    // segment compaction through the language: build + append + fold
    // back to one segment — same BM25 answers as the direct scan
    // (ql52's oracle verbatim)
    "ql54_lang_idxcompact" -> ((s, d) => {
      val dir = runScratch("qlidxcmp", d)
      graft.lang.Interp.run(s,
        s"""a = build_search_index(documents[doc_id % 3 == 0],
           |                       "doc_id", "text", "$dir")
           |b = append_search_index(documents[doc_id % 3 == 1],
           |                        "doc_id", "text", "$dir")
           |c = append_search_index(documents[doc_id % 3 == 2],
           |                        "doc_id", "text", "$dir")
           |st = compact_search_index("$dir")
           |search_idx("$dir", "customer window", 15)
           |""".stripMargin,
        "documents" -> t(s, d, "documents")).df
    }),

    // version time travel from the language: after a repricing merge,
    // read_keyed(dir, 1) still resolves the ORIGINAL snapshot — the
    // oracle is simply the unmodified orders slice (rep-safe in bench:
    // v1 is always the deterministic bootstrap content)
    "ql53_lang_timetravel" -> ((s, d) => {
      val dir = runScratch("qltt", d)
      graft.lang.Interp.run(s,
        s"""base = orders {o_orderkey, o_totalprice}
           |snap = write_keyed(base, "$dir", "o_orderkey", 8)
           |ups = base[o_orderkey % 7 == 0] {o_orderkey,
           |                                 o_totalprice: o_totalprice + 1000.0}
           |merged = upsert_keyed("$dir", ups, "o_orderkey", 8)
           |old = read_keyed("$dir", 1)
           |old {o_orderkey, o_totalprice}
           |""".stripMargin,
        "orders" -> t(s, d, "orders")).df
    }),

    // the CDC SOURCE through the language: a cursor consumer polls
    // the initial load, commits, a repricing merge lands, and the
    // second poll emits EXACTLY the changed keys — closed-form oracle.
    // Rep-safe: the scratch table and cursor reset before each run.
    // CDC over a MATERIALIZED VIEW (r11): the CDC source tails the agg
    // state as a VIEW CHANGELOG — after the CoW refresh the poll emits
    // each changed group's NEW finalized row plus old_* retractions
    // (exactly what a downstream incremental consumer folds). Closed
    // form: every priority changed; new = the full recompute, old =
    // the build's 9/10ths, to_version = 2 (build, then one merge).
    "ql59_lang_mv_cdc" -> ((s, d) => {
      val dir = runScratch("qlmvcdc", d)
      val cur = dir + ".cursor"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(cur), true)
      graft.lang.Interp.run(s,
        s"""b = build_agg_state_keyed(orders[o_orderkey % 10 != 0],
           |      "o_orderpriority", "o_totalprice", "$dir", 8)
           |init = poll_keyed_changes("$dir", "$cur")
           |ok = commit_change_cursor("$cur", 1)
           |m = merge_agg_state_keyed("$dir", orders[o_orderkey % 10 == 0],
           |      "o_orderpriority", "o_totalprice")
           |p2 = poll_keyed_changes("$dir", "$cur")
           |p2 {o_orderpriority, status, n, total: round(total, 6),
           |    old_n, old_total: round(old_total, 6), to_version}
           |""".stripMargin,
        "orders" -> t(s, d, "orders")).df
    }),

    // CROSS-TABLE COMMIT GROUPS (r11): a group manifest pins member
    // tables' versions atomically. After table A moves to v2, the
    // group (still pinning v1) serves the OLD snapshot; re-pinning
    // serves the new — the diff between the two group reads is exactly
    // the repriced 7th keys, which is the closed-form proof that
    // read_group honors pins instead of chasing latest.
    "ql60_lang_group" -> ((s, d) => {
      val a = runScratch("qlgrpa", d)
      val g = runScratch("qlgrpg", d)
      graft.lang.Interp.run(s,
        s"""base = orders {o_orderkey, o_totalprice}
           |w = write_keyed(base, "$a", "o_orderkey", 8)
           |g1 = commit_group("$g", "$a", 1)
           |ups = base[o_orderkey % 7 == 0] {o_orderkey,
           |                                 o_totalprice: o_totalprice + 1000.0}
           |u = upsert_keyed("$a", ups, "o_orderkey", 8)
           |before = read_group("$g", "$a")
           |g2 = commit_group("$g", "$a", 2)
           |after = read_group("$g", "$a")
           |dd = diff_tables(before, after, "o_orderkey")
           |dd[status != "same"] {o_orderkey, status}
           |""".stripMargin,
        "orders" -> t(s, d, "orders")).df
    }),

    "ql55_lang_cdcsource" -> ((s, d) => {
      val dir = runScratch("qlcdcsrc", d)
      val cur = dir + ".cursor"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      fs.delete(new org.apache.hadoop.fs.Path(cur), true)
      graft.lang.Interp.run(s,
        s"""base = orders {o_orderkey, o_totalprice}
           |snap = write_keyed(base, "$dir", "o_orderkey", 8)
           |init = poll_keyed_changes("$dir", "$cur")
           |ok = commit_change_cursor("$cur", 1)
           |ups = base[o_orderkey % 7 == 0] {o_orderkey,
           |                                 o_totalprice: o_totalprice + 1000.0}
           |m = upsert_keyed("$dir", ups, "o_orderkey", 8)
           |poll_keyed_changes("$dir", "$cur")
           |""".stripMargin,
        "orders" -> t(s, d, "orders")).df
    }),

    "ql39_lang_crawl" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """pages = documents {doc_id, raw: "<p>" + text + "</p><script>x()</script>"}
          |txt = pages {doc_id, t: strip_html(raw)}
          |sig = txt {doc_id, scr: dominant_script(t), sf: stopword_frac(t),
          |           af: alpha_word_frac(t), ttr: type_token_ratio(t)}
          |sig[af >= 0.8] {scr => n: count(), hi_ttr: count_true(ttr > 0.5)}
          |""".stripMargin,
        "documents" -> t(s, d, "documents")).df),

    // cross-document line dedup IN the language, composed with an
    // ordinary selection + global aggregation over the cleaned corpus
    "ql34_lang_linededup" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """clean = line_dedup(documents, "doc_id", "text", 300, " ")
          |clean[n_kept > 0] {=> n_docs: count(), kept: sum(n_kept), removed: sum(n_removed)}""".stripMargin,
        "documents" -> t(s, d, "documents")).df),

    // semantic dedup + shard assignment in the language: the kept set
    // rolls up per (label, shard) — dedup, export layout and
    // aggregation composing as plain language stages
    "ql35_lang_semdedup" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """kept = semantic_dedup(embeddings, 0.999, "label")
          |sh = shard_assign(kept, "vec_id", 4)
          |sh {shard => n: count(), min_id: min(vec_id)} order {shard}""".stripMargin,
        "embeddings" -> t(s, d, "embeddings")).df),

    // corpus preparation in the language: chunking composed with an
    // ordinary selection + projection, deterministic split counts
    "ql32_lang_corpus" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """chunked = chunk_docs(documents, "doc_id", "text", 32, 8)
          |sp = train_split(documents, "doc_id")
          |join(c: chunked.doc_id, s: sp.doc_id)[s.split == "train", c.doc_id < 100] {doc_id: c.doc_id, chunk_id: c.chunk_id, n: c.chunk_tokens} order {doc_id, chunk_id}""".stripMargin,
        "documents" -> t(s, d, "documents")).df),

    // corpus HYGIENE in the language: plant PII with ordinary string
    // expressions, flag repetition-heavy docs with the extension table
    // fn, then redact/count with the extension scalars — the whole
    // hygiene pass is one language program over Catalyst plans
    "ql33_lang_hygiene" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """aug = documents{ doc_id,
          |  text: text + iif(doc_id % 11 == 0,
          |    " contact user" + string(doc_id) + "@example.com now", "") }
          |sigs = repetition_signals(aug, "doc_id", "text")
          |flagged = aug[doc_id in sigs[top_2gram_frac >= 0.06]{doc_id}]
          |flagged{ doc_id, n_pii: pii_count(text), clean: redact_pii(text) }
          |  order {doc_id}""".stripMargin,
        "documents" -> t(s, d, "documents")).df),

    // ANN in the language: the query side is an ordinary language
    // selection, fed straight into the extension operator
    "ql28_lang_ann" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """ann_topk(embeddings[vec_id < 3], embeddings, 5)
          |  order {query_id, rank}""".stripMargin,
        "embeddings" -> t(s, d, "embeddings")).df),

    // the x21 preprocessing pipeline expressed END-TO-END in the
    // reference language: quality/length gating with the extension
    // scalars, an exact-dedup keep-set, a semi-join back onto the gated
    // rows (`in` → LeftSemi, no row growth), and a per-language rollup
    // — one program, every stage a Catalyst plan. The gated stage is
    // `temptable`d (the language's materialization, reference
    // pql_functions.py temptable): it feeds BOTH the dedup keep-set
    // and the probe side, so without the cut the text-scoring scan
    // would run 3× — at 100 TB that's the whole job's cost.
    "ql29_lang_pipeline" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """gated = temptable(docs{ doc_id, text,
          |              n_tokens: token_count(text),
          |              q: quality_score(text),
          |              lang: lang_id(text)
          |            }[q >= 0.15 and n_tokens >= 5])
          |keepers = dedup_exact(gated, "doc_id", "text")
          |kept = gated[doc_id in keepers{keep_id}]
          |kept{lang => n_docs: count(), total_tokens: sum(n_tokens)} order {lang}
          |""".stripMargin,
        "docs" -> graft.dsl.PTable(augDocs(s, d))).df),

    // a TPC-H-composed query written entirely in the reference's
    // syntax (Q18 shape): group-HAVING via selection on an aggregate,
    // `in` membership → LeftSemi (no row growth), an explicit
    // $on: join, re-aggregation over the joined structs, and a
    // descending top-20 that plans as a bounded TakeOrdered, not a
    // global sort. Quantities are integer-valued, so the double sums
    // are exact and order-independent — oracle-safe without decimals.
    "ql30_lang_composed" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """big = lineitem{l_orderkey => sum_qty: sum(l_quantity)}[sum_qty > 250]
          |sel = orders[o_orderkey in big{l_orderkey}]
          |join(o: sel, l: lineitem, $on: o.o_orderkey == l.l_orderkey) {
          |  okey: o.o_orderkey, price: o.o_totalprice
          |  => n_lines: count(), qty: sum(l.l_quantity)
          |} order {^price, okey} [..20]
          |""".stripMargin,
        "lineitem" -> t(s, d, "lineitem"), "orders" -> t(s, d, "orders")).df),

    // add_index under the oracle: clustering is a physical rewrite, so
    // a grouped scan over the clustered table must return exactly what
    // the unclustered scan returns (and the repartition+sort it adds
    // is what co-locates later per-key work at scale).
    "q74_cluster_scan" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """table li = lineitem[l_quantity > 45]
          |li.add_index("l_partkey")
          |li{l_partkey => n: count(), qty: sum(l_quantity)} order {l_partkey}
          |""".stripMargin,
        "lineitem" -> t(s, d, "lineitem")).df),

    // TPC-H Q4's EXISTS written the way a reference user would: build
    // the correlated set with an explicit theta-join + selection, then
    // `in` membership back onto the order window — which must still
    // plan as a semi-join (no row growth, no correlated probe), with
    // string literals coercing to the timestamp column.
    "ql31_lang_exists" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """sel = orders[o_orderdate >= "1997-01-01", o_orderdate < "1997-07-01"]
          |lk = join(o: sel, l: lineitem, $on: o.o_orderkey == l.l_orderkey)[
          |  l.l_shipdate > o.o_orderdate]
          |sel[o_orderkey in lk{okey: o.o_orderkey}] {
          |  o_orderpriority => order_count: count()
          |} order {o_orderpriority}
          |""".stripMargin,
        "lineitem" -> t(s, d, "lineitem"), "orders" -> t(s, d, "orders")).df),

    // ---- json scalar functions (extension; reference has none) -----------
    "q61_json" -> ((s, d) => {
      // parse the JSON column ONCE (from_json) and derive every output
      // from the struct — a second get_json_object would run a full
      // per-row parse again (2× scan CPU at scale)
      val k = F.from_json(col("props"), StructType(Seq(
        StructField("k", LongType)))).getField("k")
      t(s, d, "events").df
        .select(col("event_id"), k.as("k"), k.as("k2"))
        .filter(col("k").isNotNull)
    }),

    // ---- multi-quantile aggregation --------------------------------------
    "q62_quantiles" -> ((s, d) =>
      t(s, d, "orders").groupBy("o_orderstatus")(
        "qs" -> F.concat_ws(",",
          F.transform(
            F.percentile(col("o_totalprice"),
              F.array(lit(0.25), lit(0.5), lit(0.75))),
            q => F.round(q, 6).cast(StringType)))
      ).orderBy("o_orderstatus").df),

    // ---- statistical aggregates: covariance / correlation ----------------
    "q58_corr" -> ((s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag")(
        "cov" -> F.round(PF.dcovar(col("l_quantity"), col("l_extendedprice")), 4),
        "corr" -> F.round(PF.dcorr(col("l_quantity"), col("l_extendedprice")), 8)
      ).orderBy("l_returnflag").df),

    // ---- window extensions: ntile / percent_rank -------------------------
    // Two-stage global rank (graft.ext.Ranks): range-repartition +
    // local sort + offset indexes — no single-partition Window.orderBy.
    "q59_ntile" -> ((s, d) =>
      graft.ext.Ranks.ntilePercent(
        t(s, d, "customer").df.select("c_custkey", "c_acctbal"), 4,
        Seq(col("c_acctbal").asc, col("c_custkey").asc))
        .select(col("c_custkey"),
          col("_ntile").as("quartile"),
          F.round(col("_percent_rank"), 8).as("pr"))),

    // ---- cube (multi-dimensional aggregation extension) ------------------
    "q60_cube" -> ((s, d) =>
      t(s, d, "orders").df
        .cube(F.year(col("o_orderdate")).as("y"), col("o_orderstatus"))
        .agg(F.count(lit(1)).as("n"))),

    // ---- reflection: type()/isa()/repr() + env_vars() --------------------
    "q63_reflection" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """customer{c_custkey, t_bal: type(c_acctbal), t_key: type(c_custkey),
          |  r_name: repr(c_name), is_num: isa(c_acctbal, "number")}""".stripMargin,
        "customer" -> t(s, d, "customer")).df),

    "q64_env_vars" -> ((s, d) =>
      graft.lang.Interp.run(s,
        """t = nation[n_regionkey == 0]
          |x = 5
          |env_vars()""".stripMargin,
        "nation" -> t(s, d, "nation")).df),

    // sampling parity (reference sample_fast, __builtins__.pql:515-551)
    // with uniforms derived from md5(pk) instead of random() — same
    // distribution (order statistics of iid uniforms), deterministic,
    // so the full DuckDB oracle applies (the q34 keyed trick)
    "q65_sample_fast" -> ((s, d) =>
      t(s, d, "customer").sampleFastKeyed(100, col("c_custkey"))
        .project("c_custkey", "c_name").df),

    // ---- sketch aggregates (approx distinct; engines differ — rows-only) --
    "q66_sketches" -> ((s, d) =>
      t(s, d, "events").df.groupBy("event_type")
        .agg(PF.approxCountDistinct(col("user_id")).as("approx_users"),
          PF.hllEstimate(PF.hllSketch(col("user_id"))).as("hll_users"))),

    // the md5-register HLL twin of q66: deterministic hash → the
    // ESTIMATE itself sits under the full DuckDB oracle (the
    // DataSketches/xxhash built-ins above can only ever be rows-only)
    "x30_hll_md5" -> ((s, d) =>
      graft.functions.PF.hllMd5(t(s, d, "events").df, "event_type",
        col("user_id"), p = 12, outCol = "hll_users")),

    // ---- ext: corpus quality / hygiene (repetition, decontamination,
    // PII) — the remaining standard gates of a web-corpus pipeline ----------
    // Gopher-style repetition signals. The testdata documents are
    // single-line, so the query first reshapes each into 8-token lines
    // (portably, same construction in the oracle) and plants an exact
    // duplicate line on every 10th doc; the 2-gram signal runs on the
    // natural text.
    "x31_repetition" -> ((s, d) => {
      val toks = F.split(F.trim(col("text")), "\\s+")
      val nLines = F.floor((F.size(toks) - 1) / F.lit(8)) + 1
      val ml0 = F.array_join(
        F.transform(F.sequence(lit(0L), nLines - 1),
          i => F.array_join(
            F.slice(toks, (i * 8 + 1).cast(IntegerType), lit(8)), " ")), "\n")
      val ml = F.when(col("doc_id") % 10 === 0,
          F.concat(ml0, lit("\n"),
            F.array_join(F.slice(toks, 1, 8), " ")))
        .otherwise(ml0)
      graft.ext.Corpus.repetitionSignals(
        t(s, d, "documents").df.select(col("doc_id"), ml.as("text")),
        "doc_id", "text")
    }),

    // benchmark decontamination: every 97th doc is the "eval set"; a
    // shared 10-token canary is planted on all eval docs and on
    // training docs with doc_id%9==1, which must therefore be dropped
    // (plus any natural 8-gram overlaps — the oracle recomputes both)
    "x32_decontaminate" -> ((s, d) => {
      val canary = F.concat_ws(" ",
        F.transform(F.sequence(lit(0), lit(9)),
          i => F.concat(lit("c"), (col("doc_id") % 5).cast(StringType),
            lit("_"), i.cast(StringType))))
      val aug = t(s, d, "documents").df.select(col("doc_id"),
        F.when(col("doc_id") % 97 === 0 || col("doc_id") % 9 === 1,
            F.concat(col("text"), lit(" "), canary))
          .otherwise(col("text")).as("text"))
      graft.ext.Corpus.decontaminate(
        aug.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
        aug.filter(col("doc_id") % 97 === 0), "text", n = 8)
        .select(col("doc_id"),
          graft.ext.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    }),

    // PII redaction over planted emails / phone digit runs / IPv4
    // (the natural text is alphabetic — plants give true positives;
    // the oracle recomputes the same planting + RE2-compatible chain)
    "x33_redact_pii" -> ((s, d) => {
      val planted = F.concat(col("text"),
        F.when(col("doc_id") % 11 === 0,
          F.concat(lit(" contact user"), col("doc_id").cast(StringType),
            lit("@example.com now"))).otherwise(lit("")),
        F.when(col("doc_id") % 13 === 0, lit(" call 5551234567"))
          .otherwise(lit("")),
        F.when(col("doc_id") % 17 === 0, lit(" ip 10.0.0.1 end"))
          .otherwise(lit("")))
      t(s, d, "documents").df.select(col("doc_id"),
        graft.ext.TextAnalysis.piiCount(planted).as("n_pii"),
        graft.ext.TextAnalysis.redactPii(planted).as("redacted"))
    }),

    // quality-weighted sampling: keep docs with probability equal to
    // their quality score — deterministic md5 uniforms, so the sample
    // itself sits under the oracle
    "x35_weighted_sample" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      graft.ext.Corpus.weightedSample(docs, col("doc_id"),
        graft.ext.TextAnalysis.qualityScore(col("text")))
        .select(col("doc_id"),
          graft.ext.TextAnalysis.qualityScore(col("text")).as("q"))
    }),

    // the end-to-end FUZZY dedup move (x21 is the exact-dup twin):
    // MinHash-LSH pairs → connected components → drop every non-minimum
    // cluster member → kept corpus. Entirely bucketed joins; the full
    // chain sits under one DuckDB oracle (LSH + verify + recursive
    // closure + anti-join).
    "x34_fuzzy_keep" -> ((s, d) => {
      val docs = augDocs(s, d)
      val pairs = graft.ext.Dedup.minhashPairs(docs, "doc_id", "text", 0.8)
        .select("id_a", "id_b")
      val removed = graft.ext.Dedup.connectedComponents(pairs)
        .filter(col("id") =!= col("label"))
        .select(col("id").as("doc_id"))
      docs.join(removed, Seq("doc_id"), "left_anti")
        .select(col("doc_id"),
          graft.ext.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    }),

    // CCNet-style cross-document line dedup: drop units appearing in
    // more than maxDocs distinct documents, reassemble in order.
    // Delimiter " " makes words the unit on this corpus (it has no
    // newlines) — the machinery (explode, doc-frequency count,
    // anti-join, ordered reassembly) is delimiter-independent.
    "x38_line_dedup" -> ((s, d) =>
      graft.ext.Corpus.lineDedup(t(s, d, "documents").df,
        "doc_id", "text", maxDocs = 300, delim = " ")),

    // weighted corpus mixing under a token budget: heads sources
    // 3x-weighted, rates = min(1, budget*share/tokens), md5-uniform
    // keep decisions — the whole mixture sits under the oracle
    "x39_corpus_mix" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      val weights = (0 until 20)
        .map(i => s"src$i" -> (if (i < 4) 3.0 else 1.0)).toMap
      graft.ext.Corpus.mixBySource(docs, "doc_id", "source",
          graft.ext.TextAnalysis.tokenCount(col("text")),
          weights, budgetTokens = 20000L)
        .groupBy("source").agg(F.count(lit(1)).as("n_docs"),
          F.sum(graft.ext.TextAnalysis.tokenCount(col("text"))
            .cast(LongType)).as("kept_tokens"))
    }),

    // mixture with UPSAMPLING: scarce sources repeat (multiple
    // epochs) while abundant ones thin, both from the same rate
    // arithmetic — budget 100k makes every source upsample at sf0.01
    // and head sources mix DOWN at sf0.1 (both regimes exercised)
    "x50_corpus_mix_upsampled" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      val weights = (0 until 20)
        .map(i => s"src$i" -> (if (i < 4) 3.0 else 1.0)).toMap
      graft.ext.Corpus.mixBySourceUpsampled(docs, "doc_id", "source",
          graft.ext.TextAnalysis.tokenCount(col("text")),
          weights, budgetTokens = 100000L)
        .groupBy("source").agg(F.count(lit(1)).as("n_rows"),
          F.countDistinct("doc_id").as("n_docs"),
          F.max("epoch").as("max_epoch"),
          F.sum(graft.ext.TextAnalysis.tokenCount(col("text"))
            .cast(LongType)).as("kept_tokens"))
    }),

    // incremental dedup against a persisted fingerprint index: batch
    // docs removed either by the index (historical dup) or by
    // first-in-batch (intra-batch dup) — both paths exercised
    "x40_dedup_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      val dir = runScratch("fp_idx", d)
      graft.ext.Dedup.buildFpIndex(
        docs.filter(col("doc_id") % 3 === 0), "text", dir)
      val incoming = docs.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), col("text"))
        // 1e8 offset: far above any real doc_id at any scale factor,
        // so a shifted copy can never collide with a genuine id
        .unionAll(docs.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 100000000L).as("doc_id"), col("text")))
      graft.ext.Dedup.dedupAgainstIndex(incoming, "doc_id", "text", dir)
        .select(col("doc_id"))
    }),

    // incremental NEAR-dup dedup against the persisted LSH index: the
    // fuzzy twin of x40 — exact copies of indexed docs (shifted ids)
    // must drop on signature estimate 1.0, novel synthetic docs
    // survive, and the intra-batch duplicate of each novel doc drops
    // against its lower-id twin. The oracle rebuilds the ENTIRE
    // minhash/band/estimate machinery in SQL for both sides.
    "x73_neardup_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents").df
      val dir = runScratch("lsh_idx", d)
      graft.ext.Dedup.buildLshIndex(docs, "doc_id", "text", dir)
      val novel = F.concat_ws(" ", F.transform(F.sequence(lit(0), lit(4)),
        j => F.concat(lit("q"), col("doc_id").cast(StringType),
          lit("_"), j.cast(StringType))))
      // novel text computed BEFORE the id shift: shifting and text in
      // one select would let lateral-column-alias resolution bind the
      // text's doc_id to the SHIFTED value and the twins would differ
      val novelDocs = docs.filter(col("doc_id") % 70 === 3)
        .select(col("doc_id"), novel.as("text"))
      val incoming = docs.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 100000000L).as("doc_id"), col("text"))
        .unionAll(novelDocs.select(
          (col("doc_id") + 200000000L).as("doc_id"), col("text")))
        .unionAll(novelDocs.select(
          (col("doc_id") + 300000000L).as("doc_id"), col("text")))
      graft.ext.Dedup.neardupAgainstIndex(incoming, "doc_id", "text",
          dir, threshold = 0.9)
        .select(col("doc_id"))
    }),

    // deterministic shard assignment for training export: md5 mod n,
    // per-shard stats incl. the md5-order head doc (what the sharded
    // export, writeJsonlShards, physically lays out first)
    "x41_shuffle_shards" -> ((s, d) => {
      val sharded = graft.ext.Corpus.shardAssign(
        t(s, d, "documents").df, col("doc_id"), 8)
      sharded.withColumn("h", graft.ext.TextAnalysis.h60(
          F.concat(lit("ord:"), col("doc_id").cast(StringType))))
        .groupBy("shard").agg(F.count(lit(1)).as("n_docs"),
          F.min("doc_id").as("min_id"),
          F.min_by(col("doc_id"), col("h")).as("first_doc"))
    }),

    // mojibake detection: planted replacement-char + control-char
    // residue must score exactly 2 garbage chars; clean docs 0. The
    // oracle mirrors the ratio arithmetically (2 / planted length),
    // so a regex miscount on either side mismatches
    "x54_garbage_ratio" -> ((s, d) => {
      val planted = F.when(col("doc_id") % 13 === 0,
          F.concat(col("text"), lit(" bad\uFFFD\u0001tail")))
        .otherwise(col("text"))
      t(s, d, "documents").df.select(col("doc_id"),
        graft.ext.TextAnalysis.garbageRatio(planted).as("garbage"))
    }),

    // contamination REPORT (the audit twin of x32's drop): per-doc
    // n-gram hit counts and fraction against the same planted eval
    // set — severity grading instead of a blunt drop
    "x46_contamination" -> ((s, d) => {
      val canary = F.concat_ws(" ",
        F.transform(F.sequence(lit(0), lit(9)),
          i => F.concat(lit("c"), (col("doc_id") % 5).cast(StringType),
            lit("_"), i.cast(StringType))))
      val aug = t(s, d, "documents").df.select(col("doc_id"),
        F.when(col("doc_id") % 97 === 0 || col("doc_id") % 9 === 1,
            F.concat(col("text"), lit(" "), canary))
          .otherwise(col("text")).as("text"))
      graft.ext.Corpus.contaminationScore(
        aug.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
        aug.filter(col("doc_id") % 97 === 0), "text", n = 8)
    }),

    // cross-document repeated spans: every-offset 8-token shingles
    // counted by distinct docs — the scalable approximation of exact
    // substring dedup; a 10-token canary planted at UNALIGNED offsets
    // (document tails) must surface as its 3 interior windows
    "x47_repeated_spans" -> ((s, d) => {
      val planted = t(s, d, "documents").df.select(col("doc_id"),
        F.when(col("doc_id") % 7 === 0,
            F.concat(col("text"),
              lit(" boiler plate terms of service apply all rights reserved today")))
          .otherwise(col("text")).as("text"))
      graft.ext.Dedup.repeatedSpans(planted, "doc_id", "text",
        n = 8, minDocs = 2)
    }),

    // per-doc span-duplication score: fraction of each doc's 8-token
    // windows shared with other docs — planted-tail docs score high,
    // organic repeats measured identically on both sides
    "x51_span_dup_frac" -> ((s, d) => {
      val planted = t(s, d, "documents").df.select(col("doc_id"),
        F.when(col("doc_id") % 7 === 0,
            F.concat(col("text"),
              lit(" boiler plate terms of service apply all rights reserved today")))
          .otherwise(col("text")).as("text"))
      graft.ext.Dedup.spanDupFraction(planted, "doc_id", "text",
        n = 8, minDocs = 2)
    }),

    // fastText-style hashed-linear quality classifier: margin = bias +
    // sum of md5-hashed token-feature weights. Dyadic md5 pseudo-model
    // => margins are EXACT doubles in any engine/summation order; the
    // filtering decision thresholds the margin (sigmoid is for humans)
    "x43_quality_classifier" -> ((s, d) => {
      val w = graft.ext.TextAnalysis.md5Weights(1024)
      val margin = graft.ext.TextAnalysis.linearMargin(col("text"), w, 0.25)
      t(s, d, "documents").df.select(col("doc_id"),
        margin.as("margin"),
        (margin > 0.0).cast(IntegerType).as("keep"))
    }),

    // the CAPSTONE corpus lifecycle: model gate -> cross-doc line
    // dedup -> exact dedup of the CLEANED text -> train/val/test split
    // -> shard layout, one oracle over the whole chain. The cleaned
    // table materializes once (localCheckpoint) because dedup fans it
    // out (fingerprint agg + keep semi-join)
    "x44_corpus_lifecycle" -> ((s, d) => {
      val TA = graft.ext.TextAnalysis
      val docs = t(s, d, "documents").df
      val w = TA.md5Weights(1024)
      // keepEmpty=false: the restore-join for no-surviving-line docs
      // would be dropped by `n_kept > 0` anyway, and skipping it saves
      // one evaluation of the gated corpus inside the checkpointed
      // plan (head-to-head same-process bench r8: 1.63s vs 1.70s;
      // id-list-checkpoint and no-checkpoint variants measured 1.99s /
      // 2.15s, confirming the r6 clean-checkpoint decision)
      val gated = docs.filter(TA.linearMargin(col("text"), w, 0.25) > 0.0)
      val clean = graft.ext.Corpus.lineDedup(gated, "doc_id", "text",
          maxDocs = 100, delim = " ", keepEmpty = false)
        .filter(col("n_kept") > 0)
        .localCheckpoint(true)
      val keep = graft.ext.Dedup.exact(clean, "doc_id", "clean_text")
        .select(col("keep_id").as("doc_id"))
      val deduped = clean.join(keep, Seq("doc_id"), "left_semi")
      val laid = graft.ext.Corpus.shardAssign(
        graft.ext.Corpus.trainSplit(deduped, col("doc_id")),
        col("doc_id"), 4)
      laid.groupBy("split", "shard")
        .agg(F.count(lit(1)).as("n_docs"),
          F.sum(TA.tokenCount(col("clean_text")).cast(LongType))
            .as("n_tokens"))
    }),

    // corpus composition analytics: nearest-centroid clustering of
    // the embedding corpus + per-cluster stats (size, head id, mean
    // label) — what a mixture report over a 100 TB corpus looks like;
    // the assignment CTEs are shared verbatim with the IVF oracle
    "x53_cluster_stats" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val (assigned, _) = graft.ext.Similarity.ivfAssign(emb, nCentroids = 16)
      assigned.join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
        .groupBy("centroid_id")
        .agg(F.count(lit(1)).as("n_docs"), F.min("vec_id").as("min_id"),
          F.sum(col("label").cast(LongType)).as("label_sum"))
    }),

    // ANN recall@k: IVF's approximate top-k scored against the exact
    // brute-force top-k — the parameter-tuning measurement, with BOTH
    // pipelines replicated in one composed DuckDB oracle
    "x48_ann_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val queries = emb.filter(col("vec_id") < 5)
      graft.ext.Similarity.recallAtK(
        graft.ext.Similarity.ivfTopK(queries, emb, 10,
          nCentroids = 16, nProbe = 4),
        graft.ext.Similarity.bruteForceTopK(queries, emb, 10))
    }),

    // semantic-dedup scale probe: 102k vectors in 8 blocks of ~12.7k
    // (all above maxBlock -> the epsilon-grid path, never all-pairs),
    // 2000 planted exact duplicates; every planted dup must die and
    // every original survive. frozen constant oracle (xxhash64 corpus)
    "x49_semdedup_100k" -> ((s, d) => {
      val base = synthEmbeddings(s, scaled(100000), 32)
        .select(col("vec_id"), col("embedding"),
          F.pmod(col("vec_id"), lit(8L)).as("label"))
      val aug = base.unionAll(base.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          col("embedding"), col("label")))
      graft.ext.Similarity.semanticDedup(aug, 0.999, "label")
        .agg(F.count(lit(1)).as("n_kept"),
          F.sum(F.when(col("vec_id") >= 1000000L, 1L).otherwise(0L))
            .as("dups_survived"))
    }),

    // SemDeDup-style semantic dedup: cosine pair graph -> connected
    // components -> keep the minimum id per cluster; the full chain
    // (pairs + recursive closure + anti-join) under one oracle
    "x42_semantic_dedup" -> ((s, d) => {
      val emb = t(s, d, "embeddings").df
      val aug = emb.select(col("vec_id"), col("embedding"), col("label"))
        .unionAll(emb.filter(col("vec_id") % 20 === 0)
          .select((col("vec_id") + 100000000L).as("vec_id"),
            col("embedding"), col("label")))
      graft.ext.Similarity.semanticDedup(aug, 0.999, "label")
        .select(col("vec_id"), col("label"))
    }),

    // ---- §2.6 first / first_or_null / is_empty as values -----------------
    "q56_first_scalars" -> ((s, d) => {
      val c = t(s, d, "customer").orderBy("c_custkey")
      val none = c.where(lit(false))
      val firstName = c.project("c_name").first().asInstanceOf[String]
      s.range(1).select(
        lit(firstName).as("first_name"),
        lit(none.isEmpty).as("empty_is_empty"),
        lit(none.project("c_name").firstOrNull()
          .asInstanceOf[String]).cast(StringType).as("first_of_empty"))
    })
  )

  /** Documents augmented with known duplicates (ids shifted by 10000)
    * so dedup operators have true positives to find.
    */
  private def augDocs(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").df
    docs.select(col("doc_id"), col("text"))
      .unionAll(docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
  }

  /** The planted merge-on-read history x126/x127 share (and ql51
    * mirrors in the language): bootstrap orders as a keyed table, two
    * delta repricings of the 7ths (the later wins), one tombstone
    * batch for the 13ths — the closed-form end state is x120's. The
    * %7/%13 constants are mirrored by both queries' frozen oracles;
    * change them HERE and in both SQL strings together.
    */
  private def plantDeltaHistory(s: SparkSession, d: String,
                                dir: String): Unit = {
    val M = graft.sources.Maintenance
    val base = t(s, d, "orders").df.select("o_orderkey", "o_totalprice")
    M.writeKeyed(base, dir, "o_orderkey", 16)
    val sevens = base.filter(col("o_orderkey") % 7 === 0)
    M.appendDeltaKeyed(s, dir, sevens
      .withColumn("o_totalprice", col("o_totalprice") + lit(100.0)),
      "o_orderkey", 16)
    M.appendDeltaKeyed(s, dir, sevens
      .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0)),
      "o_orderkey", 16)
    M.appendDeltaKeyed(s, dir, base.limit(0), "o_orderkey", 16,
      tombstoneKeys = Some(base.filter(col("o_orderkey") % 13 === 0)
        .select("o_orderkey")))
  }

  /** Per-run scratch dirs for queries that materialize side state
    * (roundtrip files, persisted indexes): pid-keyed, so two
    * concurrent runs over the same dataset can never race each
    * other's overwrite (a dataset-name-only key let one run's index
    * rebuild delete files the other run's still-open plan
    * referenced), and FIXED within the run, so bench reps overwrite
    * one directory instead of leaking a fresh temp dir per rep.
    */
  private lazy val runScratchRoot: java.io.File = {
    val f = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_run_" + ProcessHandle.current().pid())
    f.mkdirs()
    f
  }
  private def runScratch(kind: String, d: String): String =
    new java.io.File(runScratchRoot,
      kind + "_" + new java.io.File(d).getName).getAbsolutePath

  /** ONE-JOB order-independent row-set equality over `cols`: both
    * sides fold to (count, sum of per-row xxhash64 as DECIMAL(38,0) —
    * a long sum overflows under ANSI) inside a single tagged-union
    * aggregate. Pre-r14 the seq/CDC gates ran one .head job per SIDE
    * per comparison; the gates are job-count bound (guide §1), so
    * halving the fingerprint jobs is wall-clock, not cosmetics. The
    * compared value is bit-identical to the old two-job tuples.
    */
  private def fpEq(actual: DataFrame, expect: DataFrame,
                   cols: Seq[String]): Boolean = {
    import org.apache.spark.sql.types.DecimalType
    def side(df: DataFrame, t: Int) =
      df.select(F.xxhash64(cols.map(col): _*).as("__h"),
        lit(t).as("__t"))
    val per = side(actual, 0).unionAll(side(expect, 1))
      .groupBy("__t").agg(F.count(lit(1)).as("n"),
        F.sum(col("__h").cast(DecimalType(38, 0))).as("s"))
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDecimal(2)))).toMap
    per.getOrElse(0, (0L, null)) == per.getOrElse(1, (0L, null))
  }

  /** Scale multiplier for the synthetic scale probes (x22-x26, x36,
    * x45, x49, x52, x55, x60 — all with FROZEN constant oracles that
    * hold only at scale 1.0 — plus x62/x98/x128/x131/x134/x136/x137/x139,
    * which are dialed the
    * same way but whose oracles are scale-invariant, no re-capture
    * ever needed).
    * Verify NEVER touches it — the frozen
    * constant oracles hold only at scale 1.0 — but Bench dials it to
    * 1/5 by default so the per-round perf signal stays cheap
    * (SPARK_GRAFT_PROBES=full restores full scale for reproducing the
    * headline numbers on demand).
    */
  @volatile var probeScale: Double = 1.0
  private def scaled(n: Long): Long =
    math.max(1L, math.round(n * probeScale))

  /** Order-insensitive checksum of an ANN result (query_id,
    * neighbor_id, rank): the full neighbor assignment folds to one
    * hash-checkable row, so the synthetic ANN probes get constant
    * oracles instead of rows-only records. Per-row term stays under
    * 2^31 (query_id < 1000, neighbor_id < 2^20, rank <= 10), so the
    * 10k-row sum is exact in both BIGINT and double.
    */
  private def annChecksum(res: DataFrame): DataFrame =
    res.agg(F.count(lit(1)).as("n_rows"),
      F.sum(col("query_id") * lit(1000003L)
        + col("neighbor_id") * col("rank").cast(LongType)).as("chk"))

  /** Deterministic synthetic embedding corpus for the ANN scale
    * probes (x22-x24): unit-scale float components derived from
    * xxhash64(vec_id, dim-index) — codegen'd, no data files, no
    * driver-side randomness, identical across runs and engines.
    */
  private def synthEmbeddings(s: SparkSession, n: Long, dim: Int): DataFrame =
    s.range(n).select(col("id").as("vec_id"),
      F.transform(F.sequence(lit(0), lit(dim - 1)), i =>
        ((F.pmod(F.xxhash64(col("id"), i), lit(2001L)) - 1000L) / 1000.0)
          .cast(FloatType))
        .as("embedding"))
      // materialized: the corpus fans out through a query-side
      // self-join and the per-candidate projections — unevaluated,
      // the hash transform would recompute per candidate row (and a
      // self-join onto shared lineage misresolves join keys)
      .repartition(graft.GraftConf.minParallelism(s))
      .localCheckpoint(true)

  /** Deterministic synthetic document corpus for the dedup scale
    * probe (x26): groups of two 30-token docs whose token sets share
    * 28 of ~32 distinct tokens (Jaccard ≈ 0.875), so every id pair
    * (2g, 2g+1) is a planted near-duplicate above a 0.8 threshold.
    * Tokens come from xxhash64(group, position) over a 100k vocab —
    * codegen'd, no data files, no driver-side randomness. No
    * materialization here: minhashPairs checkpoints its tokenized
    * projection as its first step.
    */
  private[graft] def synthDocs(s: SparkSession, nGroups: Long): DataFrame =
    s.range(nGroups * 2).select(col("id").as("doc_id"),
      F.concat_ws(" ", F.transform(F.sequence(lit(0), lit(29)), i =>
        F.concat(lit("w"), F.pmod(
          F.when(col("id") % 2 === 1 && i >= 28,
              F.xxhash64(F.shiftright(col("id"), 1), i, lit(1)))
            .otherwise(F.xxhash64(F.shiftright(col("id"), 1), i)),
          lit(100000L)))))
        .as("text"))

  /** Shared by x17 (in-memory IVF) and x37 (persisted, partition-
    * pruned IVF): the parquet index round-trip is lossless, so both
    * must produce bit-identical results.
    */
  /** x48: the IVF top-k (ivfOracleSql's proven CTE chain, re-wrapped
    * as a CTE) recalled against the brute-force top-k (x10's proven
    * pipeline) — per-query hit counts and fractions, composed
    * programmatically so the two oracles can never drift apart.
    */
  private lazy val annRecallOracleSql: String = {
    val body = ivfOracleSql.trim.stripPrefix("WITH")
    val marker = "SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM ("
    val selIdx = body.lastIndexOf(marker)
    require(selIdx > 0, "ivfOracleSql final-select shape changed")
    val ctes = body.substring(0, selIdx).trim
    val finalSel = body.substring(selIdx)
    s"""WITH $ctes,
         ivf AS ($finalSel),
         bsc AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum([CAST(q.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE)
               for i in range(0, len(q.embedding))])
             / (sqrt(list_sum([CAST(q.embedding[i+1] AS DOUBLE) * CAST(q.embedding[i+1] AS DOUBLE)
                 for i in range(0, len(q.embedding))]))
               * sqrt(list_sum([CAST(c.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE)
                 for i in range(0, len(c.embedding))]))) AS sim
           FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
           WHERE q.vec_id < 5
         ), bf AS (
           SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
             FROM bsc
           ) WHERE rank <= 10
         )
         SELECT b.query_id, CAST(count(*) AS BIGINT) AS k,
           CAST(sum(CASE WHEN i.neighbor_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hit,
           CAST(sum(CASE WHEN i.neighbor_id IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
             / count(*) AS recall
         FROM bf b LEFT JOIN ivf i
           ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
         GROUP BY b.query_id"""
  }

  /** x53: the IVF oracle's cent+assigned CTEs (shared verbatim — they
    * cannot drift from x17/x37's assignment) rolled up per cluster,
    * joined back to the labels.
    */
  private lazy val clusterStatsOracleSql: String = {
    val cut = ivfOracleSql.indexOf("), probes AS (")
    require(cut > 0, "ivfOracleSql CTE shape changed")
    ivfOracleSql.substring(0, cut) + ")\n" +
      """SELECT a.centroid_id, count(*) AS n_docs,
           min(a.vec_id) AS min_id,
           CAST(sum(e.label) AS BIGINT) AS label_sum
         FROM assigned a JOIN embeddings e ON a.vec_id = e.vec_id
         GROUP BY a.centroid_id"""
  }

  /** x86: Pearson correlation mirroring PF.dcorr exactly — exact
    * decimal co-moments, count(x)-based n, sample (n−1) normalization.
    */
  private def corrOracleSql(x: String, y: String): String = {
    def s1(c: String) = s"CAST(sum(CAST($c AS DECIMAL(18,2))) AS DOUBLE)"
    def s2(a: String, b: String) =
      s"CAST(sum(CAST(CAST($a AS DECIMAL(18,2)) * CAST($b AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE)"
    def n(c: String) = s"CAST(count($c) AS DOUBLE)"
    val cov =
      s"((${s2(x, y)} - ${s1(x)} * ${s1(y)} / ${n(x)}) / (${n(x)} - 1.0))"
    def sd(c: String) =
      s"sqrt((${s2(c, c)} - ${s1(c)} * ${s1(c)} / ${n(c)}) / (${n(c)} - 1.0))"
    s"round($cov / (${sd(x)} * ${sd(y)}), 8)"
  }

  /** x78/x89: PageRank oracle — the fixed-iteration power method
    * unrolled as a CTE chain (pr0 → pr6), mirroring Graph.pageRank's
    * exact arithmetic: rank' = base(node) + d·Σ rank·(1/outdeg),
    * dangling mass dropped, multi-edges contributing per occurrence.
    * `seeds` > 0 switches to the personalized teleport: base and the
    * initial vector are uniform over nodes < seeds, zero elsewhere.
    * Every constant is CAST to DOUBLE so DuckDB never routes through
    * DECIMAL, and the output is ROUND 6 (double sum order differs
    * across engines).
    */
  private def pageRankOracleSql(mod: Int, iters: Int, damping: Double,
                                seeds: Int = 0): String = {
    val d = s"CAST($damping AS DOUBLE)"
    val base =
      if (seeds > 0)
        s"""CASE WHEN n.node < $seeds
              THEN (CAST(1.0 AS DOUBLE) - $d)/CAST($seeds AS DOUBLE)
              ELSE CAST(0.0 AS DOUBLE) END"""
      else s"(CAST(1.0 AS DOUBLE) - $d)/nn.n"
    val init =
      if (seeds > 0)
        s"""CASE WHEN node < $seeds
              THEN CAST(1.0 AS DOUBLE)/CAST($seeds AS DOUBLE)
              ELSE CAST(0.0 AS DOUBLE) END"""
      else "CAST(1.0 AS DOUBLE)/nn.n"
    val prs = (1 to iters).map { i =>
      s"""pr$i AS (
           SELECT n.node,
             $base + $d*COALESCE(c.contrib,
               CAST(0.0 AS DOUBLE)) AS rank
           FROM nodes n CROSS JOIN nn
           LEFT JOIN (SELECT w.dst AS node,
                        sum(p.rank * w.invdeg) AS contrib
                      FROM pr${i - 1} p JOIN ew w ON p.node = w.src
                      GROUP BY w.dst) c ON n.node = c.node)"""
    }.mkString(", ")
    s"""WITH edges AS (
         SELECT doc_id % $mod AS src, (doc_id*31+7) % $mod AS dst
         FROM documents
         UNION ALL
         SELECT doc_id % $mod AS src, (doc_id*17+3) % $mod AS dst
         FROM documents
       ), nodes AS (
         SELECT DISTINCT node FROM (
           SELECT src AS node FROM edges
           UNION ALL SELECT dst AS node FROM edges)
       ), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       deg AS (SELECT src, CAST(1.0 AS DOUBLE)/CAST(count(*) AS DOUBLE)
                 AS invdeg
               FROM edges GROUP BY src),
       ew AS (SELECT e.src, e.dst, d.invdeg
              FROM edges e JOIN deg d ON e.src = d.src),
       pr0 AS (SELECT node, $init AS rank
               FROM nodes CROSS JOIN nn),
       $prs
       SELECT node, ROUND(rank, 6) AS rank FROM pr$iters"""
  }

  /** x56/x61: BM25 oracle composed per (terms, k) — the index-backed
    * path (x61) must score bit-identically to the direct scan path
    * (x56), so both oracles come from the same builder and mirror
    * Search.bm25Search's EXACT association order (rational idf,
    * left-to-right term sum; see Search.scala's determinism note).
    */
  private def bm25OracleSql(queryTerms: Seq[String], k: Int,
                            requireAll: Boolean = false): String = {
    // mirror the engine's SET semantics: bm25Search collapses
    // duplicate query terms, so the oracle must score each term once
    val terms = queryTerms.distinct
    val gate =
      if (requireAll)
        terms.indices.map(i => s"f.tf_$i > 0").mkString(" AND ", " AND ", "")
      else ""
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(tok, x -> x = '$t')) AS tf_$i"
    }.mkString(",\n             ")
    val dfCols = terms.indices.map(i =>
      s"sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i")
      .mkString(",\n             ")
    val scoreTerms = terms.indices.map { i =>
      s"""((CAST(n_docs AS DOUBLE) - CAST(df_$i AS DOUBLE) + 0.5) / (CAST(df_$i AS DOUBLE) + 0.5))
             * (CAST(tf_$i AS DOUBLE) * (1.2 + 1.0))
             / (CAST(tf_$i AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))"""
    }.mkString("\n           + ")
    s"""WITH tk AS (
           SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tok
           FROM documents
         ), f AS (
           SELECT doc_id, len(tok) AS dl,
             $tfCols
           FROM tk
         ), st AS (
           SELECT count(*) AS n_docs, sum(dl) AS sdl,
             $dfCols
           FROM f
         )
         SELECT doc_id, score FROM (
           SELECT f.doc_id,
             round($scoreTerms, 6) AS score
           FROM f CROSS JOIN st WHERE 1 = 1$gate
         ) WHERE score > 0
         ORDER BY score DESC, doc_id LIMIT $k"""
  }

  private def phraseOracleSql(phrase: Seq[String]): String = {
    val L = phrase.length
    val conds = phrase.zipWithIndex
      .map { case (t, j) => s"tok[i + $j] = '$t'" }.mkString(" AND ")
    s"""WITH tk AS (
           SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tok
           FROM documents
         )
         SELECT doc_id, CAST(n_occ AS INT) AS n_occ FROM (
           SELECT doc_id,
             len([i for i in range(1, len(tok) - $L + 2) if $conds]) AS n_occ
           FROM tk
         ) WHERE n_occ > 0"""
  }

  /** Ordered-proximity mirror: nested list comprehensions over
    * 1-based positions replay the chain-start count exactly.
    */
  private def nearOracleSql(terms: Seq[String], slop: Int): String = {
    def posExpr(t: String) =
      s"[i for i in range(1, len(tok) + 1) if tok[i] = '$t']"
    def chain(j: Int, prev: String): String =
      if (j == terms.length) "TRUE"
      else s"len([q$j for q$j in ${posExpr(terms(j))} " +
        s"if q$j > $prev AND q$j <= $prev + $slop " +
        s"AND ${chain(j + 1, s"q$j")}]) > 0"
    s"""WITH tk AS (
           SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tok
           FROM documents
         )
         SELECT doc_id, CAST(n_occ AS INT) AS n_occ FROM (
           SELECT doc_id,
             len([q0 for q0 in ${posExpr(terms.head)}
                  if ${chain(1, "q0")}]) AS n_occ
           FROM tk
         ) WHERE n_occ > 0"""
  }

  private val ivfOracleSql: String =
    """WITH cent AS (
           SELECT vec_id AS centroid_id, embedding AS cvec,
             sqrt(list_reduce(list_prepend(0.0, [CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE)
               for i in range(0, len(embedding))]), (acc, v) -> acc + v)) AS cn
           FROM embeddings
           WHERE (vec_id * 2654435761) % 1000000 < 62500
           ORDER BY vec_id LIMIT 16
         ), assigned AS (
           SELECT vec_id, embedding, centroid_id FROM (
             SELECT e.vec_id, e.embedding, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_reduce(list_prepend(0.0, [CAST(e.embedding[i+1] AS DOUBLE) * CAST(c.cvec[i+1] AS DOUBLE)
                   for i in range(0, len(e.embedding))]), (acc, v) -> acc + v) / c.cn DESC,
                 c.centroid_id) AS rn
             FROM embeddings e CROSS JOIN cent c
           ) WHERE rn = 1
         ), probes AS (
           SELECT query_id, qvec, centroid_id FROM (
             SELECT q.vec_id AS query_id, q.embedding AS qvec, c.centroid_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_reduce(list_prepend(0.0, [CAST(q.embedding[i+1] AS DOUBLE) * CAST(c.cvec[i+1] AS DOUBLE)
                   for i in range(0, len(q.embedding))]), (acc, v) -> acc + v) / c.cn DESC,
                 c.centroid_id) AS rn
             FROM embeddings q CROSS JOIN cent c
             WHERE q.vec_id < 5
           ) WHERE rn <= 4
         ), scored AS (
           SELECT p.query_id, a.vec_id AS neighbor_id,
             list_reduce(list_prepend(0.0, [CAST(p.qvec[i+1] AS DOUBLE) * CAST(a.embedding[i+1] AS DOUBLE)
               for i in range(0, len(p.qvec))]), (acc, v) -> acc + v)
             / sqrt(list_reduce(list_prepend(0.0, [CAST(a.embedding[i+1] AS DOUBLE) * CAST(a.embedding[i+1] AS DOUBLE)
               for i in range(0, len(a.embedding))]), (acc, v) -> acc + v)) AS sim
           FROM probes p JOIN assigned a ON p.centroid_id = a.centroid_id
           WHERE p.query_id <> a.vec_id
         )
         SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
           FROM scored
         ) WHERE rank <= 10"""

  def oracleSql: Map[String, String] = Map(
    "q01_projection" ->
      "SELECT c_custkey, upper(c_name) AS name_upper, c_acctbal AS bal FROM customer",
    "q02_selection" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity > 30 AND l_returnflag = 'R'",
    "q02b_project_ellipsis" ->
      "SELECT n_nationkey, n_name, upper(n_name) AS upper_name FROM nation",
    "q03_groupby_agg" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS num,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(l_extendedprice) AS avg_price,
         min(l_discount) AS min_disc, max(l_tax) AS max_tax
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q04_global_agg" ->
      """SELECT CAST(count(*) AS BIGINT) AS num,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
         min(o_orderdate) AS first_date, max(o_orderdate) AS last_date FROM orders""",
    "q05_distinct_keys" ->
      "SELECT DISTINCT c_mktsegment FROM customer",
    "q05b_agg_stats" ->
      """SELECT o_orderstatus,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
         CAST(sum(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
         CAST(sum(CASE WHEN o_totalprice > 100000 THEN 0 ELSE 1 END) AS BIGINT) AS n_low,
         round(sqrt((CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE)
           - CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) * CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(o_totalprice))
           / (count(o_totalprice) - 1.0)), 6) AS sd_price
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q06_join_auto" ->
      """SELECT n_name, CAST(count(*) AS BIGINT) AS population
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY population DESC, n_name""",
    "q07_leftjoin" ->
      """SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS num_orders
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey""",
    "q08_outerjoin" ->
      """SELECT s_suppkey, s_name, c_custkey, c_name
         FROM supplier FULL OUTER JOIN customer ON s_suppkey = c_custkey""",
    "q09_joinall_theta" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
         WHERE n_regionkey <> r_regionkey""",
    "q10_semijoin" ->
      "SELECT c_custkey, c_name FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)",
    "q11_antijoin" ->
      "SELECT c_custkey, c_name FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)",
    "q12_zipjoin" ->
      """SELECT a.n_name, b.r_name FROM
         (SELECT n_name, row_number() OVER (ORDER BY n_name) AS rn FROM nation) a
         JOIN (SELECT r_name, row_number() OVER (ORDER BY r_name) AS rn FROM region) b
         ON a.rn = b.rn""",
    "q69_zipjoin_left" ->
      """SELECT a.n_name, b.r_name FROM
         (SELECT n_name, row_number() OVER (ORDER BY n_name) AS rn FROM nation) a
         LEFT JOIN (SELECT r_name, row_number() OVER (ORDER BY r_name) AS rn FROM region) b
         ON a.rn = b.rn""",
    "q70_zipjoin_longest" ->
      """SELECT a.r_name, b.n_name FROM
         (SELECT r_name, row_number() OVER (ORDER BY r_name) AS rn FROM region) a
         FULL JOIN (SELECT n_name, row_number() OVER (ORDER BY n_name) AS rn FROM nation) b
         ON a.rn = b.rn""",
    "q71_temptable" ->
      """SELECT row_number() OVER (ORDER BY n_name) AS id, n_name
         FROM nation""",
    "q72_approx_product" ->
      """SELECT n_regionkey,
           ROUND(EXP(SUM(LN(n_nationkey + 1))), 6) AS aprod
         FROM nation GROUP BY n_regionkey""",
    "q73_persist" ->
      """SELECT n_nationkey,
           CASE WHEN n_nationkey = 3 THEN n_name || '_X' ELSE n_name END AS n_name,
           n_regionkey
         FROM nation WHERE n_nationkey <= 20
         UNION ALL SELECT 21, 'ZEALANDIA', 2""",
    "q13_union_all" ->
      """SELECT c_nationkey AS key FROM customer
         UNION ALL SELECT s_nationkey AS key FROM supplier""",
    "q14_union" ->
      """SELECT c_nationkey AS key FROM customer
         UNION SELECT s_nationkey AS key FROM supplier""",
    "q15_intersect" ->
      """SELECT c_nationkey AS key FROM customer
         INTERSECT SELECT s_nationkey AS key FROM supplier""",
    "q16_except" ->
      """SELECT p_size AS key FROM part
         EXCEPT SELECT n_nationkey AS key FROM nation""",
    "q17_order_slice" ->
      """SELECT c_custkey, c_acctbal FROM customer
         ORDER BY c_acctbal DESC, c_custkey LIMIT 15 OFFSET 10""",
    "q18_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q19_one" ->
      "SELECT c_custkey, c_name FROM customer WHERE c_custkey = 1",
    "q20_enum" ->
      """SELECT CAST(row_number() OVER (ORDER BY n_name) - 1 AS BIGINT) AS index,
         n_nationkey, n_name FROM nation""",
    "q21_collect" ->
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS names
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name""",
    "q22_strings" ->
      """SELECT p_partkey, upper(p_name) AS up, lower(p_brand) AS lo,
         CAST(length(p_name) AS INT) AS len,
         CAST(instr(p_name, 'a') - 1 AS INT) AS idx,
         substr(p_name, 3, 6) AS sl,
         repeat(p_brand, 2) AS rep,
         contains(p_name, 'green') AS has
         FROM part""",
    "q23_datetime" ->
      """SELECT o_orderkey,
         CAST(year(o_orderdate) AS INT) AS y,
         CAST(month(o_orderdate) AS INT) AS m,
         CAST(day(o_orderdate) AS INT) AS dy,
         CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
         CAST(weekofyear(o_orderdate) AS INT) AS woy
         FROM orders""",
    "q24_casts" ->
      """SELECT o_orderkey,
         CAST(o_orderkey AS VARCHAR) AS key_str,
         CAST(trunc(o_totalprice) AS BIGINT) AS price_int,
         CAST(o_orderkey AS VARCHAR)::BIGINT AS parsed,
         (o_orderkey % 2) <> 0 AS flag
         FROM orders""",
    "q25_arith" ->
      """SELECT l_orderkey, l_linenumber,
         CAST(floor(CAST(l_partkey AS DOUBLE) / 7) AS BIGINT) AS fdiv,
         l_partkey % 7 AS mod7,
         CAST(l_partkey AS DOUBLE) / 7 AS fl,
         l_quantity * l_quantity AS sq
         FROM lineitem""",
    "q26_nullsafe_eq" ->
      """SELECT c_custkey, o_orderkey,
         o_orderstatus IS NOT DISTINCT FROM 'O' AS is_open,
         o_orderkey IS NOT DISTINCT FROM NULL AS no_order
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey""",
    "q27_if_expr" ->
      """SELECT c_custkey,
         CASE WHEN c_acctbal < 0 THEN 'neg'
              WHEN c_acctbal < 5000 THEN 'mid'
              ELSE 'high' END AS bal_class
         FROM customer""",
    "q28_in_like" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE') AND c_name LIKE '%1%'""",
    "q29_range" ->
      "SELECT CAST(sum(range) AS BIGINT) AS total FROM range(1, 1001)",
    "q30_list_literal" ->
      "SELECT DISTINCT CAST(item AS BIGINT) AS item FROM (VALUES (3),(1),(4),(1),(5),(9),(2),(6)) AS t(item) ORDER BY item",
    "q31_update" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag,
         CASE WHEN l_returnflag = 'R' THEN 0.0 ELSE l_discount END AS l_discount
         FROM lineitem""",
    "q32_delete" ->
      "SELECT o_orderkey, o_orderstatus FROM orders WHERE NOT (o_orderstatus = 'F')",
    "q33_map_range" ->
      """SELECT n_nationkey, CAST(u.i AS INT) AS i
         FROM nation, LATERAL (SELECT unnest(range(0, (n_nationkey % 3) + 1)) AS i) u""",
    "q34_sample" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE (c_custkey * 2654435761) % 100 < 10""",
    "q35_new_insert" ->
      """SELECT * FROM region
         UNION ALL SELECT * FROM (VALUES (5, 'MIDDLE EARTH'), (6, 'ATLANTIS')) v(r_regionkey, r_name)""",
    "q36_insert_select" ->
      """SELECT * FROM supplier
         UNION ALL SELECT * FROM supplier WHERE s_acctbal < 0""",
    "q37_first_agg" ->
      """SELECT r_name, min_by(n_name, n_nationkey) AS first_nation
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name""",
    "q38_median" ->
      """SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS med_price
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q39_product" ->
      """SELECT l_orderkey, product(CAST(l_linenumber AS DOUBLE)) AS prod
         FROM lineitem WHERE l_orderkey % 100 = 1 GROUP BY l_orderkey""",
    "q40_describe" ->
      """SELECT CAST(count(c_acctbal) AS BIGINT) AS cnt,
         CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(c_acctbal) AS mean,
         round(sqrt((CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * CAST(c_acctbal AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE)
           - CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) * CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(c_acctbal))
           / (count(c_acctbal) - 1.0)), 6) AS sd,
         min(c_acctbal) AS min, max(c_acctbal) AS max
         FROM customer""",
    "q41_bfs" ->
      """WITH RECURSIVE edges AS (
           SELECT range AS src, range * 2 AS dst FROM range(1, 101) WHERE range * 2 <= 100
           UNION ALL
           SELECT range AS src, range * 2 + 1 AS dst FROM range(1, 101) WHERE range * 2 + 1 <= 100
         ), walk(node, rank) AS (
           SELECT CAST(1 AS BIGINT), 0
           UNION ALL
           SELECT e.dst, w.rank + 1 FROM walk w JOIN edges e ON e.src = w.node
         )
         SELECT node, CAST(rank AS INT) AS rank FROM walk""",
    "q42_walk_tree" ->
      """WITH RECURSIVE edges AS (
           SELECT range AS src, range * 2 AS dst FROM range(1, 101) WHERE range * 2 <= 100
           UNION ALL
           SELECT range AS src, range * 2 + 1 AS dst FROM range(1, 101) WHERE range * 2 + 1 <= 100
         ), walk(node, rank) AS (
           SELECT CAST(1 AS BIGINT), 0
           UNION ALL
           SELECT e.dst, w.rank + 1 FROM walk w JOIN edges e ON e.src = w.node WHERE w.rank < 3
         )
         SELECT node, CAST(rank AS INT) AS rank FROM walk""",
    "q43_sql_escape" ->
      "SELECT n_name, n_nationkey * 10 AS k10 FROM nation WHERE n_nationkey < 10",
    "q68_sql_self_bfs" ->
      """WITH RECURSIVE bfs AS (
           SELECT CAST(n_nationkey AS BIGINT) AS item FROM nation
             WHERE n_nationkey = 1
           UNION
           SELECT CAST((e.src * 2) % 25 AS BIGINT) AS item
           FROM (SELECT CAST(n_nationkey AS BIGINT) AS src FROM nation) e
           JOIN bfs ON e.src = bfs.item)
         SELECT item FROM bfs ORDER BY item""",
    "q44_window_rank" ->
      """SELECT c_nationkey, c_custkey, c_acctbal, CAST(rnk AS INT) AS rnk FROM (
           SELECT c_nationkey, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rnk
           FROM customer) WHERE rnk <= 3""",
    "q45_lag_lead" ->
      """SELECT event_id, user_id, value,
           lag(value, 1) OVER w AS prev_value,
           lead(event_type, 1) OVER w AS next_type
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
    "x01_dedup_exact" ->
      """WITH docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id % 50 = 0
         )
         SELECT md5(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS fp,
           min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies
         FROM docs GROUP BY 1""",
    "x02_token_count" ->
      """SELECT doc_id, CASE WHEN trim(text) = '' THEN 0
           ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) END AS n_tokens,
           CAST(len(regexp_extract_all(text,
             ' ?[A-Za-z]+| ?[0-9]{1,3}| ?[^A-Za-z0-9 \t\n\f\r\x0B]+'))
             AS BIGINT) AS n_subwords
         FROM documents""",
    "x03_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS fp
         FROM documents""",
    "x04_langid" ->
      """WITH sc AS (
           SELECT doc_id,
             CAST((length(pt) - length(replace(pt, ' the ', ''))) / 5
               + (length(pt) - length(replace(pt, ' a ', ''))) / 3
               + (length(pt) - length(replace(pt, ' and ', ''))) / 5
               + (length(pt) - length(replace(pt, ' of ', ''))) / 4 AS BIGINT) AS en_score,
             CAST((length(pt) - length(replace(pt, ' el ', ''))) / 4
               + (length(pt) - length(replace(pt, ' la ', ''))) / 4
               + (length(pt) - length(replace(pt, ' de ', ''))) / 4
               + (length(pt) - length(replace(pt, ' y ', ''))) / 3 AS BIGINT) AS es_score,
             CAST((length(pt) - length(replace(pt, ' der ', ''))) / 5
               + (length(pt) - length(replace(pt, ' die ', ''))) / 5
               + (length(pt) - length(replace(pt, ' und ', ''))) / 5
               + (length(pt) - length(replace(pt, ' das ', ''))) / 5 AS BIGINT) AS de_score
           FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS pt FROM documents)
         )
         SELECT doc_id,
           CASE WHEN en_score >= es_score AND en_score >= de_score AND en_score > 0 THEN 'en'
                WHEN es_score >= de_score AND es_score > 0 THEN 'es'
                WHEN de_score > 0 THEN 'de'
                ELSE 'und' END AS lang_pred,
           en_score
         FROM sc""",
    "ql36_lang_mix" ->
      """WITH f AS (
           SELECT doc_id, source,
             CASE WHEN trim(text) = '' THEN 0
               ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt
           FROM documents
         ), tot AS (
           SELECT source, sum(nt) AS t FROM f GROUP BY source
         ), r AS (
           SELECT source,
             least(1.0, (CAST(20000 AS DOUBLE) *
               ((CASE WHEN source IN ('src0','src1')
                      THEN 3.0 ELSE 1.0 END) / 24.0)) / CAST(t AS DOUBLE))
               AS rate
           FROM tot
         )
         SELECT f.source, count(*) AS n_docs,
           CAST(sum(f.nt) AS BIGINT) AS kept_tokens
         FROM f JOIN r ON f.source = r.source
         WHERE CAST((('0x' || substr(md5('mix:' || f.source || ':' ||
             CAST(f.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000) AS DOUBLE)
             / 1000000.0 < r.rate
         GROUP BY f.source""",

    // language-level connect()/commit() roundtrip: the reopened table
    // must carry exactly the committed rows incl. the pre-commit update
    "ql37_connect_persist" ->
      """SELECT * FROM (VALUES ('alpha', 10), ('beta', 25)) v(name, score)
         ORDER BY name""",

    "ql34_lang_linededup" ->
      """WITH tk AS (
           SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents
         ), ex AS (
           SELECT doc_id, unnest(toks) AS w,
             unnest(range(1, len(toks) + 1)) AS pos
           FROM tk
         ), exf AS (
           SELECT * FROM ex WHERE trim(w) <> ''
         ), bad AS (
           SELECT wk FROM (
             SELECT trim(w) AS wk, count(DISTINCT doc_id) AS dfreq
             FROM exf GROUP BY trim(w)
           ) WHERE dfreq > 300
         ), keptl AS (
           SELECT e.doc_id FROM exf e
           LEFT JOIN bad b ON trim(e.w) = b.wk WHERE b.wk IS NULL
         ), reb AS (
           SELECT doc_id, count(*) AS n_kept FROM keptl GROUP BY doc_id
         ), tot AS (
           SELECT doc_id, count(*) AS n_tot FROM exf GROUP BY doc_id
         ), perdoc AS (
           SELECT d.doc_id, coalesce(reb.n_kept, 0) AS n_kept,
             coalesce(tot.n_tot, 0) - coalesce(reb.n_kept, 0) AS n_removed
           FROM documents d
           LEFT JOIN reb ON d.doc_id = reb.doc_id
           LEFT JOIN tot ON d.doc_id = tot.doc_id
         )
         SELECT count(*) AS n_docs, CAST(sum(n_kept) AS BIGINT) AS kept,
           CAST(sum(n_removed) AS BIGINT) AS removed
         FROM perdoc WHERE n_kept > 0""",

    "ql35_lang_semdedup" ->
      """WITH RECURSIVE pairs AS (
           SELECT id_a, id_b FROM (
             SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_sum([CAST(a.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE)
                 for i in range(0, len(a.embedding))])
               / (sqrt(list_sum([CAST(a.embedding[i+1] AS DOUBLE) * CAST(a.embedding[i+1] AS DOUBLE)
                   for i in range(0, len(a.embedding))]))
                 * sqrt(list_sum([CAST(b.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE)
                   for i in range(0, len(b.embedding))]))) AS sim
             FROM embeddings a JOIN embeddings b
               ON a.label = b.label AND a.vec_id < b.vec_id
           ) WHERE sim >= 0.999
         ), edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION SELECT id_b, id_a FROM pairs
         ), reach(src, dst) AS (
           SELECT src, src FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         ), canon AS (
           SELECT src AS id, min(dst) AS cl FROM reach GROUP BY src
         ), dropped AS (
           SELECT id FROM canon WHERE cl <> id
         ), kept AS (
           SELECT e.vec_id FROM embeddings e
           LEFT JOIN dropped dr ON e.vec_id = dr.id WHERE dr.id IS NULL
         )
         SELECT ('0x' || substr(md5('shard:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
             % 4 AS shard,
           count(*) AS n, min(vec_id) AS min_id
         FROM kept GROUP BY shard""",

    "ql28_lang_ann" ->
      """WITH scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum([CAST(q.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE)
               for i in range(0, len(q.embedding))])
             / (sqrt(list_sum([CAST(q.embedding[i+1] AS DOUBLE) * CAST(q.embedding[i+1] AS DOUBLE)
                 for i in range(0, len(q.embedding))]))
               * sqrt(list_sum([CAST(c.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE)
                 for i in range(0, len(c.embedding))]))) AS sim
           FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
           WHERE q.vec_id < 3
         )
         SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
           FROM scored
         ) WHERE rank <= 5 ORDER BY query_id, rank""",
    "ql27_lang_dedup" ->
      """WITH docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id % 50 = 0
         )
         SELECT md5(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS fp,
           min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies
         FROM docs GROUP BY 1 HAVING count(*) > 1 ORDER BY fp""",
    "ql32_lang_corpus" ->
      """WITH d AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
           FROM documents WHERE doc_id < 100
         ), c AS (
           SELECT doc_id, toks,
             GREATEST(1, CAST(floor((len(toks) - 9) / 24.0) AS BIGINT) + 1) AS nc
           FROM d
         ), e AS (
           SELECT doc_id, toks, unnest(generate_series(0, nc - 1)) AS chunk_id
           FROM c
         ), ch AS (
           SELECT doc_id, chunk_id,
             CAST(len(toks[CAST(chunk_id*24+1 AS BIGINT):CAST(chunk_id*24+32 AS BIGINT)]) AS BIGINT) AS n
           FROM e
         ), sp AS (
           SELECT doc_id FROM (
             SELECT doc_id,
               ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
             FROM documents)
           WHERE b < 80
         )
         SELECT ch.doc_id, ch.chunk_id, ch.n
         FROM ch JOIN sp ON ch.doc_id = sp.doc_id
         ORDER BY ch.doc_id, ch.chunk_id""",
    "ql33_lang_hygiene" ->
      """WITH aug AS (
           SELECT doc_id, text
             || CASE WHEN doc_id % 11 = 0
                THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                ELSE '' END AS text
           FROM documents
         ), tk AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t2
           FROM aug
         ), counted AS (
           SELECT doc_id, v, count(*) AS cnt FROM (
             SELECT doc_id, u.v AS v
             FROM tk, unnest(CASE WHEN len(t2) < 2 THEN CAST([] AS VARCHAR[])
               ELSE [array_to_string(t2[i+1:i+2], ' ')
                     for i in range(0, len(t2) - 1)] END) AS u(v))
           GROUP BY doc_id, v
         ), frac AS (
           SELECT a.doc_id,
             CASE WHEN COALESCE(sum(c.cnt), 0) = 0 THEN 0.0
               ELSE CAST(COALESCE(max(c.cnt), 0) AS DOUBLE)
                 / CAST(sum(c.cnt) AS DOUBLE) END AS f
           FROM aug a LEFT JOIN counted c ON a.doc_id = c.doc_id
           GROUP BY a.doc_id
         ), p1 AS (
           SELECT a.doc_id, a.text AS t0, regexp_replace(a.text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+',
             '<EMAIL>', 'g') AS t1
           FROM aug a JOIN frac ON a.doc_id = frac.doc_id
           WHERE frac.f >= 0.06
         ), p2 AS (
           SELECT doc_id, t0, t1, regexp_replace(t1,
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
             '<IP>', 'g') AS t2
           FROM p1
         )
         SELECT doc_id,
           CAST(len(regexp_extract_all(t0,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+'))
             + len(regexp_extract_all(t1,
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
             + len(regexp_extract_all(t2, '\b[0-9]{9,}\b')) AS BIGINT) AS n_pii,
           regexp_replace(t2, '\b[0-9]{9,}\b', '<PHONE>', 'g') AS clean
         FROM p2 ORDER BY doc_id""",
    "ql26_lang_text_scalars" ->
      """WITH f AS (
           SELECT doc_id, text, ' ' || lower(text) || ' ' AS pt,
             CASE WHEN trim(text) = '' THEN 0
               ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS tc,
             length(regexp_replace(text, '\s+', '', 'g')) AS nws,
             length(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS na
           FROM documents
         ), sc AS (
           SELECT doc_id, text, tc, nws, na,
             CAST((length(pt) - length(replace(pt, ' the ', ''))) / 5
               + (length(pt) - length(replace(pt, ' a ', ''))) / 3
               + (length(pt) - length(replace(pt, ' and ', ''))) / 5
               + (length(pt) - length(replace(pt, ' of ', ''))) / 4 AS BIGINT) AS en_score,
             CAST((length(pt) - length(replace(pt, ' el ', ''))) / 4
               + (length(pt) - length(replace(pt, ' la ', ''))) / 4
               + (length(pt) - length(replace(pt, ' de ', ''))) / 4
               + (length(pt) - length(replace(pt, ' y ', ''))) / 3 AS BIGINT) AS es_score,
             CAST((length(pt) - length(replace(pt, ' der ', ''))) / 5
               + (length(pt) - length(replace(pt, ' die ', ''))) / 5
               + (length(pt) - length(replace(pt, ' und ', ''))) / 5
               + (length(pt) - length(replace(pt, ' das ', ''))) / 5 AS BIGINT) AS de_score
           FROM f
         )
         SELECT doc_id, CAST(tc AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text,
             ' ?[A-Za-z]+| ?[0-9]{1,3}| ?[^A-Za-z0-9 \t\n\f\r\x0B]+'))
             AS BIGINT) AS n_subwords,
           CASE WHEN en_score >= es_score AND en_score >= de_score AND en_score > 0 THEN 'en'
                WHEN es_score >= de_score AND es_score > 0 THEN 'es'
                WHEN de_score > 0 THEN 'de'
                ELSE 'und' END AS lang_pred,
           md5(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS fp,
           (least(CAST(tc AS DOUBLE) / 50.0, 1.0)
             * least(1.0, 1000.0 / greatest(CAST(tc AS DOUBLE), 1.0))
             * (CASE WHEN (CASE WHEN tc = 0 THEN 0.0 ELSE CAST(nws AS DOUBLE) / tc END) < 3.0
                       OR (CASE WHEN tc = 0 THEN 0.0 ELSE CAST(nws AS DOUBLE) / tc END) > 10.0
                     THEN 0.5 ELSE 1.0 END)
             * (CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(na AS DOUBLE) / length(text) END)) AS score
         FROM sc WHERE tc > 2 ORDER BY doc_id""",
    "ql30_lang_composed" ->
      """SELECT o_orderkey AS okey, o_totalprice AS price,
           CAST(count(*) AS BIGINT) AS n_lines, sum(l_quantity) AS qty
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey IN (
           SELECT l_orderkey FROM lineitem
           GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
         GROUP BY okey, price ORDER BY price DESC, okey LIMIT 20""",
    "q74_cluster_scan" ->
      """SELECT l_partkey, CAST(count(*) AS BIGINT) AS n,
           sum(l_quantity) AS qty
         FROM lineitem WHERE l_quantity > 45
         GROUP BY l_partkey ORDER BY l_partkey""",
    "ql31_lang_exists" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1997-01-01'
           AND o_orderdate < TIMESTAMP '1997-07-01'
           AND EXISTS (
             SELECT 1 FROM lineitem
             WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "ql29_lang_pipeline" ->
      """WITH docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id % 50 = 0
         ), f AS (
           SELECT doc_id, text, ' ' || lower(text) || ' ' AS pt,
             CASE WHEN trim(text) = '' THEN 0
               ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS tc,
             length(regexp_replace(text, '\s+', '', 'g')) AS nws,
             length(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS na
           FROM docs
         ), scored AS (
           SELECT doc_id, text, CAST(tc AS BIGINT) AS n_tokens,
             (least(CAST(tc AS DOUBLE) / 50.0, 1.0)
               * least(1.0, 1000.0 / greatest(CAST(tc AS DOUBLE), 1.0))
               * (CASE WHEN (CASE WHEN tc = 0 THEN 0.0 ELSE CAST(nws AS DOUBLE) / tc END) < 3.0
                         OR (CASE WHEN tc = 0 THEN 0.0 ELSE CAST(nws AS DOUBLE) / tc END) > 10.0
                       THEN 0.5 ELSE 1.0 END)
               * (CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(na AS DOUBLE) / length(text) END)) AS q,
             CAST((length(pt) - length(replace(pt, ' the ', ''))) / 5
               + (length(pt) - length(replace(pt, ' a ', ''))) / 3
               + (length(pt) - length(replace(pt, ' and ', ''))) / 5
               + (length(pt) - length(replace(pt, ' of ', ''))) / 4 AS BIGINT) AS en_score,
             CAST((length(pt) - length(replace(pt, ' el ', ''))) / 4
               + (length(pt) - length(replace(pt, ' la ', ''))) / 4
               + (length(pt) - length(replace(pt, ' de ', ''))) / 4
               + (length(pt) - length(replace(pt, ' y ', ''))) / 3 AS BIGINT) AS es_score,
             CAST((length(pt) - length(replace(pt, ' der ', ''))) / 5
               + (length(pt) - length(replace(pt, ' die ', ''))) / 5
               + (length(pt) - length(replace(pt, ' und ', ''))) / 5
               + (length(pt) - length(replace(pt, ' das ', ''))) / 5 AS BIGINT) AS de_score
           FROM f
         ), langed AS (
           SELECT doc_id, text, n_tokens, q,
             CASE WHEN en_score >= es_score AND en_score >= de_score AND en_score > 0 THEN 'en'
                  WHEN es_score >= de_score AND es_score > 0 THEN 'es'
                  WHEN de_score > 0 THEN 'de'
                  ELSE 'und' END AS lang
           FROM scored
         ), gated AS (
           SELECT * FROM langed WHERE q >= 0.15 AND n_tokens >= 5
         ), keep AS (
           SELECT min(doc_id) AS doc_id
           FROM gated
           GROUP BY md5(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g'))
         )
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         FROM gated g JOIN keep k ON g.doc_id = k.doc_id
         GROUP BY lang ORDER BY lang""",
    "x21_preprocess_pipeline" ->
      """WITH f AS (
           SELECT doc_id, text, ' ' || lower(text) || ' ' AS pt,
             CASE WHEN trim(text) = '' THEN 0
               ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS tc,
             length(regexp_replace(text, '\s+', '', 'g')) AS nws,
             length(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS na
           FROM documents
         ), scored AS (
           SELECT doc_id, text, CAST(tc AS INT) AS n_tokens,
             (least(CAST(tc AS DOUBLE) / 50.0, 1.0)
               * least(1.0, 1000.0 / greatest(CAST(tc AS DOUBLE), 1.0))
               * (CASE WHEN (CASE WHEN tc = 0 THEN 0.0 ELSE CAST(nws AS DOUBLE) / tc END) < 3.0
                         OR (CASE WHEN tc = 0 THEN 0.0 ELSE CAST(nws AS DOUBLE) / tc END) > 10.0
                       THEN 0.5 ELSE 1.0 END)
               * (CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(na AS DOUBLE) / length(text) END)) AS q,
             CAST((length(pt) - length(replace(pt, ' the ', ''))) / 5
               + (length(pt) - length(replace(pt, ' a ', ''))) / 3
               + (length(pt) - length(replace(pt, ' and ', ''))) / 5
               + (length(pt) - length(replace(pt, ' of ', ''))) / 4 AS BIGINT) AS en_score,
             CAST((length(pt) - length(replace(pt, ' el ', ''))) / 4
               + (length(pt) - length(replace(pt, ' la ', ''))) / 4
               + (length(pt) - length(replace(pt, ' de ', ''))) / 4
               + (length(pt) - length(replace(pt, ' y ', ''))) / 3 AS BIGINT) AS es_score,
             CAST((length(pt) - length(replace(pt, ' der ', ''))) / 5
               + (length(pt) - length(replace(pt, ' die ', ''))) / 5
               + (length(pt) - length(replace(pt, ' und ', ''))) / 5
               + (length(pt) - length(replace(pt, ' das ', ''))) / 5 AS BIGINT) AS de_score
           FROM f
         ), gated AS (
           SELECT * FROM scored
           WHERE q >= 0.15 AND n_tokens >= 5
             AND en_score >= es_score AND en_score >= de_score AND en_score > 0
         ), keep AS (
           SELECT min(doc_id) AS doc_id
           FROM gated
           GROUP BY md5(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g'))
         )
         SELECT g.doc_id, g.n_tokens, g.q
         FROM gated g JOIN keep k ON g.doc_id = k.doc_id""",
    "x30_hll_md5" ->
      """WITH h AS (
           SELECT event_type,
             ('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
           FROM events
         ), r AS (
           SELECT event_type, hv % 4096 AS bucket,
             max(CASE WHEN hv // 4096 = 0 THEN 49
                      ELSE 49 - length(bin(hv // 4096)) END) AS mj
           FROM h GROUP BY 1, 2
         ), s AS (
           SELECT event_type,
             CAST(sum(CAST(pow(2.0, 49 - mj) AS BIGINT))
               + (4096 - count(*)) * CAST(pow(2.0, 49) AS BIGINT) AS BIGINT) AS sm,
             4096 - count(*) AS v
           FROM r GROUP BY 1
         )
         SELECT event_type,
           round(CASE WHEN (0.7213 / (1 + 1.079 / 4096)) * 4096.0 * 4096.0
                             / (CAST(sm AS DOUBLE) / pow(2.0, 49)) <= 2.5 * 4096
                           AND v > 0
                      THEN 4096.0 * ln(4096.0 / v)
                      ELSE (0.7213 / (1 + 1.079 / 4096)) * 4096.0 * 4096.0
                             / (CAST(sm AS DOUBLE) / pow(2.0, 49)) END, 3) AS hll_users
         FROM s""",
    "x31_repetition" ->
      """WITH tk AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tks
           FROM documents
         ), ml AS (
           SELECT doc_id,
             CASE WHEN doc_id % 10 = 0
               THEN base || chr(10) || array_to_string(tks[1:8], ' ')
               ELSE base END AS text
           FROM (
             SELECT doc_id, tks,
               array_to_string([array_to_string(tks[i*8+1:i*8+8], ' ')
                 for i in range(0, CAST(floor((len(tks)-1)/8) AS BIGINT) + 1)],
                 chr(10)) AS base
             FROM tk)
         ), units AS (
           SELECT doc_id, 'l' AS kind, u.v AS v
           FROM ml, unnest([trim(x) for x in string_split(text, chr(10))
                            if trim(x) <> '']) AS u(v)
           UNION ALL
           SELECT doc_id, 'g' AS kind, u.v AS v
           FROM (SELECT doc_id,
                   regexp_split_to_array(trim(text), '\s+') AS t2 FROM ml),
             unnest(CASE WHEN len(t2) < 2 THEN CAST([] AS VARCHAR[])
               ELSE [array_to_string(t2[i+1:i+2], ' ')
                     for i in range(0, len(t2) - 1)] END) AS u(v)
         ), counted AS (
           SELECT doc_id, kind, v, count(*) AS cnt
           FROM units GROUP BY doc_id, kind, v
         ), agg AS (
           -- left join from the doc list: a doc with no units still
           -- gets an all-zeros row (mirrors the engine's explode_outer)
           SELECT m.doc_id,
             CAST(COALESCE(sum(CASE WHEN c.kind='l' THEN c.cnt END), 0) AS BIGINT) AS n_lines,
             CAST(COALESCE(sum(CASE WHEN c.kind='l' AND c.cnt>1 THEN c.cnt END), 0) AS BIGINT) AS dup_lines,
             CAST(COALESCE(sum(CASE WHEN c.kind='l' THEN c.cnt*len(c.v) END), 0) AS BIGINT) AS line_chars,
             CAST(COALESCE(sum(CASE WHEN c.kind='l' AND c.cnt>1 THEN c.cnt*len(c.v) END), 0) AS BIGINT) AS dup_line_chars,
             CAST(COALESCE(sum(CASE WHEN c.kind='g' THEN c.cnt END), 0) AS BIGINT) AS n_grams,
             CAST(COALESCE(max(CASE WHEN c.kind='g' THEN c.cnt END), 0) AS BIGINT) AS top_gram
           FROM ml m LEFT JOIN counted c ON m.doc_id = c.doc_id
           GROUP BY m.doc_id
         )
         SELECT doc_id, n_lines,
           CASE WHEN n_lines = 0 THEN 0.0
             ELSE CAST(dup_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) END AS dup_line_frac,
           CASE WHEN line_chars = 0 THEN 0.0
             ELSE CAST(dup_line_chars AS DOUBLE) / CAST(line_chars AS DOUBLE) END AS dup_line_char_frac,
           CASE WHEN n_grams = 0 THEN 0.0
             ELSE CAST(top_gram AS DOUBLE) / CAST(n_grams AS DOUBLE) END AS top_2gram_frac
         FROM agg""",
    "x32_decontaminate" ->
      """WITH aug AS (
           SELECT doc_id,
             CASE WHEN doc_id % 97 = 0 OR doc_id % 9 = 1
               THEN text || ' ' || array_to_string(
                 ['c' || CAST(doc_id % 5 AS VARCHAR) || '_' || CAST(i AS VARCHAR)
                  for i in range(0, 10)], ' ')
               ELSE text END AS text
           FROM documents
         ), grams AS (
           SELECT doc_id,
             [('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647
               for s in (CASE WHEN len(tks) < 8 THEN [tt]
                 ELSE [array_to_string(tks[ii:ii+7], ' ')
                       for ii in range(1, len(tks) - 6)] END)] AS gh
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tks,
                   trim(text) AS tt FROM aug)
         ), benchg AS (
           SELECT DISTINCT u.g AS gh
           FROM grams, unnest(grams.gh) AS u(g) WHERE doc_id % 97 = 0
         ), contaminated AS (
           SELECT DISTINCT t.doc_id
           FROM (SELECT doc_id, u.g AS gh
                 FROM grams, unnest(grams.gh) AS u(g)
                 WHERE doc_id % 97 <> 0) t
           JOIN benchg b ON t.gh = b.gh
         )
         SELECT a.doc_id,
           CASE WHEN trim(a.text) = '' THEN 0
             ELSE CAST(len(regexp_split_to_array(trim(a.text), '\s+')) AS INT)
           END AS n_tokens
         FROM aug a
         WHERE a.doc_id % 97 <> 0
           AND a.doc_id NOT IN (SELECT doc_id FROM contaminated)""",
    "x33_redact_pii" ->
      """WITH p0 AS (
           SELECT doc_id, text
             || CASE WHEN doc_id % 11 = 0
                THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                ELSE '' END
             || CASE WHEN doc_id % 13 = 0 THEN ' call 5551234567' ELSE '' END
             || CASE WHEN doc_id % 17 = 0 THEN ' ip 10.0.0.1 end' ELSE '' END
             AS t0
           FROM documents
         ), p1 AS (
           SELECT doc_id, t0, regexp_replace(t0,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+',
             '<EMAIL>', 'g') AS t1
           FROM p0
         ), p2 AS (
           SELECT doc_id, t0, t1, regexp_replace(t1,
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
             '<IP>', 'g') AS t2
           FROM p1
         )
         SELECT doc_id,
           CAST(len(regexp_extract_all(t0,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+'))
             + len(regexp_extract_all(t1,
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
             + len(regexp_extract_all(t2, '\b[0-9]{9,}\b')) AS BIGINT) AS n_pii,
           regexp_replace(t2, '\b[0-9]{9,}\b', '<PHONE>', 'g') AS redacted
         FROM p2""",
    "x34_fuzzy_keep" ->
      """WITH RECURSIVE docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id % 50 = 0
         ), toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk, trim(text) AS tt
           FROM docs
         ), hb AS (
           SELECT doc_id,
             [('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647
               for s in (CASE WHEN len(tk) < 3 THEN [tt]
                 ELSE [array_to_string(tk[ii:ii+2], ' ') for ii in range(1, len(tk) - 1)] END)] AS hs
           FROM toks
         ), sig AS (
           SELECT doc_id,
             [list_min([((('0x' || substr(md5('a_' || CAST(i AS VARCHAR)), 1, 7))::BIGINT * 2 + 1) * h
                 + ('0x' || substr(md5('b_' || CAST(i AS VARCHAR)), 1, 7))::BIGINT) % 2147483647
               for h in hs]) for i in range(0, 12)] AS sg
           FROM hb
         ), buckets AS (
           SELECT doc_id, b.b AS band,
             md5(array_to_string([CAST(x AS VARCHAR) for x in sg[b.b*3+1:b.b*3+3]], ',')) AS bucket
           FROM sig, (SELECT unnest(range(0, 4)) AS b) b
         ), cand AS (
           SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
           FROM buckets a JOIN buckets c
             ON a.band = c.band AND a.bucket = c.bucket AND a.doc_id < c.doc_id
         ), tsets AS (
           SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) AS ts
           FROM docs
         ), pairs AS (
           SELECT id_a, id_b FROM (
             SELECT id_a, id_b,
               CASE WHEN len(list_distinct(list_concat(ta.ts, tb.ts))) = 0 THEN 0.0
                 ELSE CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE)
                   / len(list_distinct(list_concat(ta.ts, tb.ts))) END AS jac
             FROM cand JOIN tsets ta ON id_a = ta.doc_id JOIN tsets tb ON id_b = tb.doc_id
           ) WHERE jac >= 0.8
         ), edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION SELECT id_b, id_a FROM pairs
         ), reach(src, dst) AS (
           SELECT src, src FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         ), canon AS (
           SELECT src AS doc_id, min(dst) AS canonical FROM reach GROUP BY src
         )
         SELECT d.doc_id,
           CASE WHEN trim(d.text) = '' THEN 0
             ELSE CAST(len(regexp_split_to_array(trim(d.text), '\s+')) AS INT)
           END AS n_tokens
         FROM docs d
         WHERE NOT EXISTS (SELECT 1 FROM canon c
           WHERE c.doc_id = d.doc_id AND c.canonical <> d.doc_id)""",
    "x27_train_split" ->
      """SELECT split, count(*) AS n, min(doc_id) AS first_id FROM (
           SELECT doc_id,
             CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                  ELSE 'test' END AS split
           FROM (
             SELECT doc_id,
               ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
             FROM documents)
         ) GROUP BY split""",
    "x28_chunk_docs" ->
      """WITH d AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
           FROM documents WHERE doc_id < 200
         ), c AS (
           SELECT doc_id, toks,
             GREATEST(1, CAST(floor((len(toks) - 9) / 24.0) AS BIGINT) + 1) AS nc
           FROM d
         ), e AS (
           SELECT doc_id, toks, unnest(generate_series(0, nc - 1)) AS chunk_id
           FROM c
         )
         SELECT doc_id, chunk_id,
           array_to_string(toks[CAST(chunk_id*24+1 AS BIGINT):CAST(chunk_id*24+32 AS BIGINT)], ' ') AS chunk_text,
           CAST(len(toks[CAST(chunk_id*24+1 AS BIGINT):CAST(chunk_id*24+32 AS BIGINT)]) AS BIGINT) AS chunk_tokens
         FROM e""",
    "x29_pack_sequences" ->
      """WITH t AS (
           SELECT doc_id,
             CASE WHEN trim(text) = '' THEN 0
               ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt
           FROM documents
         ), c AS (
           SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
             COALESCE(SUM(nt) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
           FROM t
         )
         SELECT doc_id, n_tokens,
           CAST(floor(cb / 2048.0) AS BIGINT) AS seq_id
         FROM c""",
    "x05_quality" ->
      """WITH f AS (
           SELECT doc_id, text,
             CASE WHEN trim(text) = '' THEN 0
               ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS tc,
             length(regexp_replace(text, '\s+', '', 'g')) AS nws,
             length(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS na
           FROM documents
         )
         SELECT doc_id,
           CASE WHEN tc = 0 THEN 0.0 ELSE CAST(nws AS DOUBLE) / tc END AS mtl,
           CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(na AS DOUBLE) / length(text) END AS ar,
           (least(CAST(tc AS DOUBLE) / 50.0, 1.0)
             * least(1.0, 1000.0 / greatest(CAST(tc AS DOUBLE), 1.0))
             * (CASE WHEN (CASE WHEN tc = 0 THEN 0.0 ELSE CAST(nws AS DOUBLE) / tc END) < 3.0
                       OR (CASE WHEN tc = 0 THEN 0.0 ELSE CAST(nws AS DOUBLE) / tc END) > 10.0
                     THEN 0.5 ELSE 1.0 END)
             * (CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(na AS DOUBLE) / length(text) END)) AS score
         FROM f""",
    "x35_weighted_sample" ->
      """WITH f AS (
           SELECT doc_id, text,
             CASE WHEN trim(text) = '' THEN 0
               ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS tc,
             length(regexp_replace(text, '\s+', '', 'g')) AS nws,
             length(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS na
           FROM documents
         ), q AS (
           SELECT doc_id,
             (least(CAST(tc AS DOUBLE) / 50.0, 1.0)
               * least(1.0, 1000.0 / greatest(CAST(tc AS DOUBLE), 1.0))
               * (CASE WHEN (CASE WHEN tc = 0 THEN 0.0 ELSE CAST(nws AS DOUBLE) / tc END) < 3.0
                         OR (CASE WHEN tc = 0 THEN 0.0 ELSE CAST(nws AS DOUBLE) / tc END) > 10.0
                       THEN 0.5 ELSE 1.0 END)
               * (CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(na AS DOUBLE) / length(text) END)) AS q
           FROM f
         )
         SELECT doc_id, q FROM q
         WHERE CAST(('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS DOUBLE)
               / 1000000.0 < greatest(0.0, least(1.0, q))""",
    "x06_minhash_sig" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk, trim(text) AS tt
           FROM documents
         ), sh AS (
           SELECT doc_id, CASE WHEN len(tk) < 3 THEN [tt]
             ELSE [array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)] END AS shl
           FROM toks
         ), hb AS (
           SELECT doc_id,
             [('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 for s in shl] AS hs
           FROM sh
         )
         SELECT doc_id, array_to_string(
           [list_min([((('0x' || substr(md5('a_' || CAST(i AS VARCHAR)), 1, 7))::BIGINT * 2 + 1) * h
               + ('0x' || substr(md5('b_' || CAST(i AS VARCHAR)), 1, 7))::BIGINT) % 2147483647
             for h in hs]) for i in range(0, 12)], ',') AS sig
         FROM hb""",
    "x07_minhash_pairs" ->
      """WITH docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id % 50 = 0
         ), toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk, trim(text) AS tt
           FROM docs
         ), hb AS (
           SELECT doc_id,
             [('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647
               for s in (CASE WHEN len(tk) < 3 THEN [tt]
                 ELSE [array_to_string(tk[ii:ii+2], ' ') for ii in range(1, len(tk) - 1)] END)] AS hs
           FROM toks
         ), sig AS (
           SELECT doc_id,
             [list_min([((('0x' || substr(md5('a_' || CAST(i AS VARCHAR)), 1, 7))::BIGINT * 2 + 1) * h
                 + ('0x' || substr(md5('b_' || CAST(i AS VARCHAR)), 1, 7))::BIGINT) % 2147483647
               for h in hs]) for i in range(0, 12)] AS sg
           FROM hb
         ), buckets AS (
           SELECT doc_id, b.b AS band,
             md5(array_to_string([CAST(x AS VARCHAR) for x in sg[b.b*3+1:b.b*3+3]], ',')) AS bucket
           FROM sig, (SELECT unnest(range(0, 4)) AS b) b
         ), cand AS (
           SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
           FROM buckets a JOIN buckets c
             ON a.band = c.band AND a.bucket = c.bucket AND a.doc_id < c.doc_id
         ), tsets AS (
           SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) AS ts
           FROM docs
         )
         SELECT id_a, id_b, jac FROM (
           SELECT id_a, id_b,
             CASE WHEN len(list_distinct(list_concat(ta.ts, tb.ts))) = 0 THEN 0.0
               ELSE CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE)
                 / len(list_distinct(list_concat(ta.ts, tb.ts))) END AS jac
           FROM cand JOIN tsets ta ON id_a = ta.doc_id JOIN tsets tb ON id_b = tb.doc_id
         ) WHERE jac >= 0.8""",
    "x08_simhash" ->
      """WITH toks AS (
           SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) AS tk
           FROM documents
         ), hs AS (
           SELECT doc_id,
             [('0x' || substr(md5(t), 1, 15))::BIGINT for t in tk] AS hl
           FROM toks
         )
         SELECT doc_id,
           CAST(list_sum([CASE WHEN list_sum([CASE WHEN (h >> j) % 2 <> 0 THEN 1 ELSE -1 END for h in hl]) >= 0
             THEN (1::BIGINT << j) ELSE 0 END for j in range(0, 32)]) AS BIGINT) AS sh
         FROM hs""",
    "x09_jaccard_pairs" ->
      """WITH base AS (
           SELECT doc_id AS id, lang, source,
             list_distinct(regexp_split_to_array(trim(text), '\s+')) AS tok
           FROM documents
         )
         SELECT id_a, id_b, jac FROM (
           SELECT a.id AS id_a, b.id AS id_b,
             CASE WHEN len(list_distinct(list_concat(a.tok, b.tok))) = 0 THEN 0.0
               ELSE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.tok, b.tok))) END AS jac
           FROM base a JOIN base b
             ON a.lang = b.lang AND a.source = b.source AND a.id < b.id
         ) WHERE jac >= 0.5""",
    "x10_ann_brute" ->
      """WITH scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum([CAST(q.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE)
               for i in range(0, len(q.embedding))])
             / (sqrt(list_sum([CAST(q.embedding[i+1] AS DOUBLE) * CAST(q.embedding[i+1] AS DOUBLE)
                 for i in range(0, len(q.embedding))]))
               * sqrt(list_sum([CAST(c.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE)
                 for i in range(0, len(c.embedding))]))) AS sim
           FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
           WHERE q.vec_id < 5
         )
         SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
           FROM scored
         ) WHERE rank <= 10""",
    "x11_ann_lsh_sig" ->
      """SELECT vec_id,
           CAST(list_sum([CASE WHEN list_reduce(list_prepend(0.0, [CAST(embedding[i+1] AS DOUBLE)
               * ((('0x' || substr(md5(CAST(j AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 15))::BIGINT % 2001)
                  / 1000.0 - 1.0)
             for i in range(0, len(embedding))]), (acc, v) -> acc + v) >= 0
             THEN (1::BIGINT << j) ELSE 0 END for j in range(0, 8)]) AS BIGINT) AS bucket
         FROM embeddings""",
    "x18_range_join" ->
      """SELECT o_orderkey, CAST(i AS BIGINT) AS band
         FROM orders JOIN (SELECT unnest(range(0, 40)) AS i) b
           ON o_totalprice >= i * 10000.0 AND o_totalprice < (i + 1) * 10000.0""",
    // Mirrors ivfTopK exactly: pinned left-fold dots (list_reduce from
    // 0.0 = FloatVecDot's accumulation), dot/cn centroid ranking (norm
    // of the probing vector is a positive constant — argmax-invariant),
    // row_number ties broken by id everywhere.
    "x17_ann_ivf" -> ivfOracleSql,
    "x37_ann_ivf_indexed" -> ivfOracleSql,
    "x48_ann_recall" -> annRecallOracleSql,
    "x53_cluster_stats" -> clusterStatsOracleSql,
    // ---- synthetic scale probes: constant expected tables -----------------
    // These corpora are pure xxhash64 functions of the row id (zero
    // testdata dependence), so the probe outputs are engine-stable
    // constants. Each constant was frozen from a run whose planted-truth
    // relations hold by construction and are re-assertable by eye here:
    //   x26: every found pair is a planted (2g, 2g+1) near-dup
    //        (planted == n_pairs; LSH recall 147763/150000 = 98.5%)
    //   x36: 299850 corpus docs - 159 contaminated = 299691 kept
    //   x45: removed == 5 * n_docs (exactly the planted 5-word
    //        boilerplate), kept == 30 * n_docs organic tokens
    //   x49: all 2000 planted dups die, all 100000 originals survive
    //   x52: PPJoin finds EXACTLY the planted pairs (perfect P/R)
    "x26_neardup_300k" ->
      "SELECT CAST(147763 AS BIGINT) AS n_pairs, CAST(147763 AS BIGINT) AS planted",
    "x36_decontam_300k" ->
      "SELECT CAST(299691 AS BIGINT) AS kept",
    "x75_script_profile" ->
      """WITH aug AS (
           SELECT doc_id, CASE
             WHEN doc_id % 97 = 1 THEN 'привет мир снова'
             WHEN doc_id % 5 = 0 THEN text || ' привет мир'
             WHEN doc_id % 7 = 0 THEN text || ' 你好世界 こんにちは'
             ELSE text END AS text
           FROM documents
         ), c AS (
           SELECT doc_id,
             length(text) - length(regexp_replace(text,
               '[A-Za-z\x{00c0}-\x{024f}]', '', 'g')) AS c_lat,
             length(text) - length(regexp_replace(text,
               '[\x{0400}-\x{04ff}]', '', 'g')) AS c_cyr,
             length(text) - length(regexp_replace(text,
               '[\x{0370}-\x{03ff}]', '', 'g')) AS c_grk,
             length(text) - length(regexp_replace(text,
               '[\x{0600}-\x{06ff}]', '', 'g')) AS c_ara,
             length(text) - length(regexp_replace(text,
               '[\x{0900}-\x{097f}]', '', 'g')) AS c_dev,
             length(text) - length(regexp_replace(text,
               '[\x{3040}-\x{30ff}\x{4e00}-\x{9fff}\x{ac00}-\x{d7af}]',
               '', 'g')) AS c_cjk,
             length(regexp_replace(text, '[ \t\n\f\r]+', '', 'g')) AS nw
           FROM aug
         ), g AS (
           SELECT *, greatest(c_lat, c_cyr, c_grk, c_ara, c_dev, c_cjk)
             AS top FROM c
         )
         SELECT doc_id,
           CASE WHEN nw = 0 THEN 0.0
             ELSE CAST(c_lat AS DOUBLE) / nw END AS latin_frac,
           CASE WHEN nw = 0 THEN 0.0
             ELSE CAST(c_cyr AS DOUBLE) / nw END AS cyr_frac,
           CASE WHEN nw = 0 THEN 0.0
             ELSE CAST(c_cjk AS DOUBLE) / nw END AS cjk_frac,
           CASE WHEN c_lat = top AND top > 0 THEN 'latin'
             WHEN c_cyr = top AND top > 0 THEN 'cyrillic'
             WHEN c_grk = top AND top > 0 THEN 'greek'
             WHEN c_ara = top AND top > 0 THEN 'arabic'
             WHEN c_dev = top AND top > 0 THEN 'devanagari'
             WHEN c_cjk = top AND top > 0 THEN 'cjk'
             ELSE 'unknown' END AS script
         FROM g""",

    "x72_crawl_lifecycle" ->
      """WITH aug AS (
           SELECT doc_id,
             '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
             '</title><style>p{}</style></head><body><h1>Doc ' ||
             CAST(doc_id AS VARCHAR) || '</h1><p>' || text ||
             '</p><script>var x = 1 < 2;</script>' ||
             '<div>please subscribe to our newsletter today for more' ||
             ' updates</div></body></html>' AS html
           FROM documents
         ), stripped AS (
           SELECT doc_id,
             trim(regexp_replace(
               replace(replace(replace(replace(replace(replace(replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(html, '(?s)<!--.*?-->', ' ', 'g'),
                       '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
                     '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
                   '</?[A-Za-z!][^>]*>', ' ', 'g'),
                 '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                 '&#39;', chr(39)), '&apos;', chr(39)), '&nbsp;', ' '),
                 '&amp;', '&'),
               '[ \t\n\f\r]+', ' ', 'g')) AS text
           FROM aug
         ), tok0 AS (
           SELECT doc_id, text,
             regexp_split_to_array(trim(text), '\s+') AS tks
           FROM stripped
         ), gated AS (
           SELECT doc_id, text, tks FROM tok0
           WHERE CAST(len(list_distinct([lower(t) for t in tks
               if lower(t) IN ('the','be','to','of','and','that','have',
               'with')])) AS BIGINT) >= 2
             AND (CASE WHEN trim(text) = '' THEN 0.0
               ELSE CAST(len([t for t in tks
                 if regexp_matches(t, '[A-Za-z]')]) AS DOUBLE) / len(tks)
               END) >= 0.8
         ), gr AS (
           SELECT doc_id, CASE WHEN len(tks) < 8 THEN [trim(text)]
             ELSE [array_to_string(tks[ii:ii+7], ' ')
                   for ii in range(1, len(tks) - 6)] END AS grams
           FROM gated
         ), spans AS (
           SELECT doc_id, unnest(range(0, len(grams))) AS pos,
             ('0x' || substr(md5(unnest(grams)), 1, 15))::BIGINT AS sh
           FROM gr
         ), rep AS (
           SELECT sh FROM (SELECT DISTINCT sh, doc_id FROM spans)
           GROUP BY sh HAVING count(*) >= 2
         ), cuts AS (
           SELECT s.doc_id, list(s.pos) AS starts
           FROM spans s JOIN rep r ON s.sh = r.sh
           GROUP BY s.doc_id
         ), cleaned AS (
           SELECT t.doc_id,
             CASE WHEN c.starts IS NULL THEN t.text
               ELSE coalesce(array_to_string(
                 [t.tks[ii] for ii in range(1, len(t.tks) + 1)
                  if len([s for s in c.starts
                          if s <= ii - 1 and ii - 1 < s + 8]) = 0], ' '), '')
             END AS text
           FROM gated t LEFT JOIN cuts c ON t.doc_id = c.doc_id
         )
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN trim(text) = '' THEN 0
             ELSE len(regexp_split_to_array(trim(text), '\s+'))
           END) AS BIGINT) AS total_tokens
         FROM cleaned""",

    "x71_gopher_signals" ->
      """WITH aug AS (
           SELECT doc_id, CASE
             WHEN doc_id % 13 = 0
               THEN array_to_string(['buy' for i in range(0, 30)], ' ')
             WHEN doc_id % 17 = 0
               THEN array_to_string([CAST(i AS VARCHAR)
                                     for i in range(1, 31)], ' ')
             ELSE 'the start of ' || text || ' that ends with them'
           END AS text
           FROM documents
         ), tok AS (
           SELECT doc_id, text,
             regexp_split_to_array(trim(text), '\s+') AS tks
           FROM aug
         ), sig AS (
           SELECT doc_id,
             CASE WHEN trim(text) = '' THEN 0.0
               ELSE CAST(len(list_distinct(tks)) AS DOUBLE) / len(tks)
             END AS ttr,
             CASE WHEN trim(text) = '' THEN 0.0
               ELSE CAST(len([t for t in tks if lower(t) IN
                 ('the','be','to','of','and','that','have','with')])
                 AS DOUBLE) / len(tks)
             END AS stop_frac,
             CASE WHEN trim(text) = '' THEN 0.0
               ELSE CAST(len([t for t in tks
                 if regexp_matches(t, '[A-Za-z]')]) AS DOUBLE) / len(tks)
             END AS alpha_frac,
             CAST(len(list_distinct([lower(t) for t in tks if lower(t) IN
               ('the','be','to','of','and','that','have','with')]))
               AS BIGINT) AS n_stop
           FROM tok
         )
         SELECT doc_id, ttr, stop_frac, alpha_frac, n_stop,
           (n_stop >= 2 AND alpha_frac >= 0.8) AS keep
         FROM sig""",

    "x69_lm_score" ->
      """WITH tok AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tks
           FROM documents
         ), tr AS (SELECT * FROM tok WHERE doc_id % 10 < 8),
         sc AS (SELECT * FROM tok WHERE doc_id % 10 >= 8),
         uni AS (
           SELECT ('0x' || substr(md5(u.t), 1, 15))::BIGINT AS ch,
             CAST(count(*) AS BIGINT) AS cc
           FROM tr, unnest(tr.tks) AS u(t) GROUP BY 1
         ), vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
         bi AS (
           SELECT ('0x' || substr(md5(g), 1, 15))::BIGINT AS bh,
             CAST(count(*) AS BIGINT) AS cb
           FROM (SELECT unnest([array_to_string(tks[ii:ii+1], ' ')
                                for ii in range(1, len(tks))]) AS g
                 FROM tr)
           GROUP BY 1 HAVING count(*) >= 2
         ), grams AS (
           SELECT doc_id,
             unnest([('0x' || substr(md5(array_to_string(tks[ii:ii+1], ' ')),
                       1, 15))::BIGINT for ii in range(1, len(tks))]) AS bh,
             unnest([('0x' || substr(md5(tks[ii]), 1, 15))::BIGINT
                     for ii in range(1, len(tks))]) AS ch
           FROM sc
         ), per AS (
           SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN b.cb IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
             sum(CAST(round(ln(coalesce(b.cb, 0) + 1)
               - ln(coalesce(u.cc, 0) + (SELECT v FROM vv)), 9)
               AS DECIMAL(28,9))) AS slp
           FROM grams g
           LEFT JOIN bi b ON g.bh = b.bh
           LEFT JOIN uni u ON g.ch = u.ch
           GROUP BY g.doc_id
         )
         SELECT s.doc_id,
           CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(p.n_oov, 0) AS BIGINT) AS n_oov,
           round(CAST(p.slp AS DOUBLE) / p.n_grams, 6) AS lm_score
         FROM sc s LEFT JOIN per p ON s.doc_id = p.doc_id""",

    // 299700 vs x36's 299691: x36 matches grams in the 31-bit mod-P
    // domain (≈9 collision drops over 7M×3.5k probes); the bloom path
    // probes full 64-bit xxhash64 where both collision terms round to
    // zero — the wider filter is strictly MORE precise here.
    "x68_decontam_bloom_300k" ->
      "SELECT CAST(299700 AS BIGINT) AS kept",
    "x45_linededup_300k" ->
      """SELECT CAST(300000 AS BIGINT) AS n_docs, CAST(9000000 AS BIGINT) AS kept,
         CAST(1500000 AS BIGINT) AS removed""",
    "x70_spanremove_300k" ->
      "SELECT CAST(300000 AS BIGINT) AS n_docs, CAST(9000000 AS BIGINT) AS kept",
    "x49_semdedup_100k" ->
      "SELECT CAST(100000 AS BIGINT) AS n_kept, CAST(0 AS BIGINT) AS dups_survived",
    "x52_jaccard_300k" ->
      "SELECT CAST(150000 AS BIGINT) AS n_pairs, CAST(150000 AS BIGINT) AS planted",
    // ANN probe checksums (see annChecksum): n_rows counts (query,
    // neighbor) assignments, chk folds the full assignment — any
    // changed neighbor or rank shifts the sum
    "x22_ann_lsh_100k" ->
      "SELECT CAST(9690 AS BIGINT) AS n_rows, CAST(4861636425125 AS BIGINT) AS chk",
    "x23_ann_ivf_100k" ->
      "SELECT CAST(10000 AS BIGINT) AS n_rows, CAST(4997781969336 AS BIGINT) AS chk",
    "x24_ann_brute_100k" ->
      "SELECT CAST(10000 AS BIGINT) AS n_rows, CAST(4997764936759 AS BIGINT) AS chk",
    "x25_ann_lsh_1m" ->
      "SELECT CAST(9945 AS BIGINT) AS n_rows, CAST(5004062787162 AS BIGINT) AS chk",
    // recall@10 at the 100k probe: speed-tuned settings are honestly
    // low on a structureless uniform corpus; the recall-tuned rows
    // (OR-amplified LSH b=8 L=24, IVF probing 16/64 lists) clear 0.8
    "x55_ann_recall_100k" ->
      """SELECT 'lsh_speed' AS method, CAST(196 AS BIGINT) AS hits,
                CAST(10000 AS BIGINT) AS total, CAST(0.0196 AS DOUBLE) AS recall
         UNION ALL SELECT 'lsh_multi', 8385, 10000, CAST(0.8385 AS DOUBLE)
         UNION ALL SELECT 'ivf_speed', 4867, 10000, CAST(0.4867 AS DOUBLE)
         UNION ALL SELECT 'ivf_deep', 8531, 10000, CAST(0.8531 AS DOUBLE)""",

    "x56_bm25_search" -> bm25OracleSql(Seq("spark", "join", "vector"), 20),
    "x77_bm25_all" ->
      bm25OracleSql(Seq("spark", "join"), 15, requireAll = true),

    // pivot mirrors SQL conditional aggregation exactly: no-match
    // cells are NULL (sum over zero rows), unlisted types contribute
    // nothing; decimal sums for cross-engine bit-identity
    "ql41_lang_pivot" ->
      """SELECT bucket, click, purchase,
           COALESCE(purchase, CAST(0.0 AS DOUBLE)) AS spend
         FROM (
           SELECT user_id % 20 AS bucket,
             CAST(sum(CASE WHEN event_type = 'click'
               THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
             CAST(sum(CASE WHEN event_type = 'purchase'
               THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase
           FROM events GROUP BY 1)""",

    "x80_pivot" ->
      """SELECT user_id % 50 AS bucket,
           CAST(sum(CASE WHEN event_type = 'click'
             THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
           CAST(sum(CASE WHEN event_type = 'error'
             THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS error,
           CAST(sum(CASE WHEN event_type = 'purchase'
             THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase,
           CAST(sum(CASE WHEN event_type = 'signup'
             THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS signup,
           CAST(sum(CASE WHEN event_type = 'view'
             THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS view
         FROM events GROUP BY 1""",

    // unpivot KEEPS null cells (a missing measurement is still a row),
    // so the mirror is a plain UNION ALL, not SQL's null-dropping
    // UNPIVOT
    "x81_unpivot" ->
      """SELECT p_partkey, 'p_size' AS metric,
           CAST(p_size AS DOUBLE) AS value FROM part
         UNION ALL
         SELECT p_partkey, 'p_retailprice' AS metric,
           CAST(p_retailprice AS DOUBLE) AS value FROM part""",

    // the gap rows only: buckets with no observation, showing the
    // carried-forward level (n == null is the gap predicate)
    "ql42_lang_resample" ->
      """WITH res AS (
           SELECT event_type,
             CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS bucket,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         spans AS (
           SELECT event_type, min(bucket) AS mn, max(bucket) AS mx
           FROM res GROUP BY 1),
         grid AS (
           SELECT event_type, unnest(generate_series(mn, mx)) AS bucket
           FROM spans),
         joined AS (
           SELECT g.event_type, g.bucket, r.total,
             (r.n IS NOT NULL) AS observed
           FROM grid g
           LEFT JOIN res r ON g.event_type = r.event_type
             AND g.bucket = r.bucket),
         filled AS (
           SELECT event_type, bucket, observed,
             last_value(total IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried
           FROM joined)
         SELECT event_type, bucket, carried
         FROM filled WHERE NOT observed""",

    // mirrors the engine stage-for-stage: bucket agg (decimal sums),
    // per-series span grid, left join, running last_value IGNORE NULLS;
    // the count column keeps its gap NULLs by design
    "x82_resample_ffill" ->
      """WITH res AS (
           SELECT event_type, user_id % 7 AS ug,
             CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS bucket,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2, 3),
         spans AS (
           SELECT event_type, ug, min(bucket) AS mn, max(bucket) AS mx
           FROM res GROUP BY 1, 2),
         grid AS (
           SELECT event_type, ug,
             unnest(generate_series(mn, mx)) AS bucket
           FROM spans),
         joined AS (
           SELECT g.event_type, g.ug, g.bucket, r.total, r.n
           FROM grid g
           LEFT JOIN res r ON g.event_type = r.event_type
             AND g.ug = r.ug AND g.bucket = r.bucket)
         SELECT event_type, ug, bucket,
           last_value(total IGNORE NULLS) OVER (
             PARTITION BY event_type, ug ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS total,
           n
         FROM joined""",

    // quadratic ground truth: the engine's blocked path must match
    // brute force exactly (same exactness contract as x52's PPJoin)
    "x83_fuzzy_join" ->
      """SELECT id1, id2, dist FROM (
           SELECT a.c_custkey AS id1, b.c_custkey AS id2,
             CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
           FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
           WHERE a.c_custkey < 2000 AND b.c_custkey < 2000)
         WHERE dist <= 1""",

    // planted truth asserted in-query (see the query comment);
    // scale-invariant booleans, valid at every probeScale
    "x84_fuzzy_300k" ->
      "SELECT TRUE AS pairs_exact, TRUE AS all_twins",

    // truly independent ground truth: recursive transitive closure +
    // min over the reach set (the engine runs min-label rounds)
    "x85_components" ->
      """WITH RECURSIVE nodes AS (
           SELECT DISTINCT doc_id % 5000 AS a FROM documents),
         e AS (SELECT a AS s, a - a % 50 + (a * 7 + 3) % 50 AS t
               FROM nodes),
         und AS (SELECT s, t FROM e UNION SELECT t, s FROM e),
         reach(s, t) AS (
           SELECT s, t FROM und
           UNION
           SELECT r.s, u.t FROM reach r JOIN und u ON r.t = u.s),
         lbl AS (SELECT s AS id, least(s, min(t)) AS label
                 FROM reach GROUP BY s)
         SELECT label AS component, CAST(count(*) AS BIGINT) AS n_nodes
         FROM lbl GROUP BY 1""",

    "x86_corr_matrix" -> Seq(
      ("l_quantity", "l_extendedprice"), ("l_quantity", "l_discount"),
      ("l_quantity", "l_tax"), ("l_extendedprice", "l_discount"),
      ("l_extendedprice", "l_tax"), ("l_discount", "l_tax"))
      .map { case (x, y) =>
        s"SELECT '${x}__$y' AS pair, ${corrOracleSql(x, y)} AS corr FROM lineitem"
      }.mkString("\n UNION ALL \n"),

    // identical double arithmetic in the same evaluation order:
    // width = (max-min)/nbins, bin = least(floor((v-min)/width), last)
    "x87_histogram" ->
      """WITH b AS (
           SELECT CAST(min(l_extendedprice) AS DOUBLE) AS mn,
                  CAST(max(l_extendedprice) AS DOUBLE) AS mx
           FROM lineitem),
         binned AS (
           SELECT CASE WHEN (b.mx - b.mn) / 12 = 0 THEN 0
             ELSE least(CAST(floor(
               (CAST(l_extendedprice AS DOUBLE) - b.mn) /
                 ((b.mx - b.mn) / 12)) AS BIGINT), 11) END AS bin,
             b.mn AS mn, b.mx AS mx
           FROM lineitem, b WHERE l_extendedprice IS NOT NULL)
         SELECT bin, round(mn + bin * ((mx - mn) / 12), 6) AS lo,
           round(mn + (bin + 1) * ((mx - mn) / 12), 6) AS hi,
           CAST(count(*) AS BIGINT) AS n
         FROM binned GROUP BY bin, mn, mx""",

    "x88_rolling_mean" ->
      """SELECT event_id, user_id,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
             / count(value) OVER w, 6) AS ma4
         FROM events WHERE user_id % 19 = 0
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""",

    "x78_pagerank" -> pageRankOracleSql(400, 6, 0.85),

    "x89_pagerank_seeded" -> pageRankOracleSql(400, 6, 0.85, seeds = 10),

    "ql43_lang_capped_profile" ->
      """WITH capped AS (
           SELECT doc_id, lang, source, n_chars FROM (
             SELECT doc_id, lang, source, n_chars,
               row_number() OVER (PARTITION BY lang, source
                 ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                   doc_id) AS rn
             FROM documents) WHERE rn <= 5),
         b AS (SELECT CAST(min(n_chars) AS DOUBLE) AS mn,
                      CAST(max(n_chars) AS DOUBLE) AS mx FROM capped),
         binned AS (
           SELECT CASE WHEN (b.mx - b.mn) / 8 = 0 THEN 0
             ELSE least(CAST(floor(
               (CAST(n_chars AS DOUBLE) - b.mn) /
                 ((b.mx - b.mn) / 8)) AS BIGINT), 7) END AS bin,
             b.mn AS mn, b.mx AS mx
           FROM capped, b WHERE n_chars IS NOT NULL)
         SELECT bin, round(mn + bin * ((mx - mn) / 8), 6) AS lo,
           round(mn + (bin + 1) * ((mx - mn) / 8), 6) AS hi,
           CAST(count(*) AS BIGINT) AS n
         FROM binned GROUP BY bin, mn, mx""",

    "x95_top_per_group" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice FROM (
           SELECT o_orderkey, o_orderpriority, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3""",

    // the bucketed layout must not change the ANSWER — the oracle is
    // the plain join over the raw tables
    "x96_bucketed_join" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6)
             AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",

    // min-cost over walks of ≤3 edges from node 0, enumerated hop by
    // hop; the edge set mirrors the engine's md5-derived synthesis
    // exactly (h60 = first 15 md5 hex chars as a 60-bit int)
    "x97_sssp" -> {
      def h60sql(e: String) =
        s"('0x' || substr(md5($e), 1, 15))::BIGINT"
      val key = "CAST(a.k AS VARCHAR) || '_' || CAST(b.k AS VARCHAR)"
      s"""WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
         e AS (
           SELECT a.k AS src, b.k AS dst,
             CAST(${h60sql(key)} % 9 + 1 AS DOUBLE) AS w
           FROM n a, n b
           WHERE a.k <> b.k AND ${h60sql(key)} % 5 = 0),
         p1 AS (SELECT dst AS node, w AS dist FROM e WHERE src = 0),
         p2 AS (SELECT e2.dst AS node, p1.dist + e2.w AS dist
                FROM p1 JOIN e e2 ON e2.src = p1.node),
         p3 AS (SELECT e3.dst AS node, p2.dist + e3.w AS dist
                FROM p2 JOIN e e3 ON e3.src = p2.node),
         allp AS (
           SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS DOUBLE) AS dist
           UNION ALL SELECT * FROM p1
           UNION ALL SELECT * FROM p2
           UNION ALL SELECT * FROM p3)
         SELECT node, round(min(dist), 6) AS dist FROM allp GROUP BY node"""
    },

    // planted truth: every ladder node's distance is its layer index.
    // n_ok/all_exact hold at ANY dial; max_dist = L-1 = 19 requires
    // probeScale = 1.0 (L dials with it), which Verify always uses
    "x98_sssp_probe" ->
      "SELECT TRUE AS n_ok, CAST(19 AS BIGINT) AS max_dist, TRUE AS all_exact",

    // compaction must preserve the data exactly; the file-count check
    // is computed (and asserted) inside the engine query
    "x99_compact" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS sum_chars,
           TRUE AS files_ok
         FROM documents""",

    "x100_zvalue" ->
      (s"SELECT event_id, ${PF.zvalueSql("user_id % 1024",
        "event_id % 1024", 10)} AS z" +
        " FROM events WHERE event_id % 101 = 0"),

    // the filtered aggregate over the Z-ordered copy must equal the
    // same filter over the raw table; pruning is asserted in-query
    "x101_zorder_skip" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6)
             AS sum_v,
           TRUE AS pruned_ok
         FROM events
         WHERE user_id % 1024 < 32 AND event_id % 1024 < 32""",

    // the merge/delete end state in closed form: repriced unless
    // deleted, plus the synthetic inserts (whose +1e8 keys are never
    // in the delete set)
    "x102_upsert" ->
      """SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
                ELSE o_totalprice END AS o_totalprice
         FROM orders WHERE o_orderkey % 13 <> 0
         UNION ALL
         SELECT o_orderkey + 100000000 AS o_orderkey, 1.5 AS o_totalprice
         FROM orders WHERE o_orderkey % 97 = 0""",

    // the non-same rows of the qc25 reconciliation, in closed form
    "x124_keyed_changes" ->
      """SELECT o_orderkey, status FROM (
           SELECT o_orderkey,
             CASE WHEN o_orderkey % 13 = 0 THEN 'removed'
                  WHEN o_orderkey % 7 = 0
                       AND o_totalprice IS NOT NULL THEN 'changed'
                  ELSE 'same' END AS status
           FROM orders) WHERE status <> 'same'""",

    // snapshot-vs-live statuses in closed form: deletions beat the
    // reprice on 91ths; a NULL price stays NULL through +1000 and the
    // null-safe compare correctly calls it 'same'
    "qc25_snapshot_reconcile" ->
      """SELECT status, CAST(count(*) AS BIGINT) AS n FROM (
           SELECT CASE WHEN o_orderkey % 13 = 0 THEN 'removed'
                       WHEN o_orderkey % 7 = 0
                            AND o_totalprice IS NOT NULL THEN 'changed'
                       ELSE 'same' END AS status
           FROM orders) GROUP BY status""",

    // diff statuses in closed form; the %11 removal wins over the %5
    // reprice (the b side filtered FIRST); + 7.25 always changes a
    // finite price but a NULL price stays NULL on both sides, which
    // the null-safe compare correctly calls 'same'
    "x103_diff" ->
      """SELECT o_orderkey,
           CASE WHEN o_orderkey % 11 = 0 THEN 'removed'
                WHEN o_orderkey % 5 = 0 AND o_totalprice IS NOT NULL
                  THEN 'changed'
                ELSE 'same' END AS status
         FROM orders
         UNION ALL
         SELECT o_orderkey + 100000000 AS o_orderkey, 'added' AS status
         FROM orders WHERE o_orderkey % 97 = 0""",

    // incremental state + merge must equal the full recompute
    "x104_incr_agg" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE), 6)
             AS total,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
             / count(*), 6) AS mean
         FROM orders GROUP BY o_orderpriority""",

    // the BUCKETED state path ends at the same full recompute as
    // x116 (profile columns incl. the md5-HLL estimate, bit-for-bit)
    "x132_aggstate_keyed" ->
      """WITH h AS (
           SELECT o_orderpriority,
             ('0x' || substr(md5('hll:' || CAST(o_custkey AS VARCHAR)),
               1, 15))::BIGINT AS hv
           FROM orders WHERE o_custkey IS NOT NULL
         ), r AS (
           SELECT o_orderpriority, hv % 4096 AS bucket,
             max(CASE WHEN hv // 4096 = 0 THEN 49
                      ELSE 49 - length(bin(hv // 4096)) END) AS mj
           FROM h GROUP BY 1, 2
         ), sk AS (
           SELECT o_orderpriority,
             CAST(sum(CAST(pow(2.0, 49 - mj) AS BIGINT))
               + (4096 - count(*)) * CAST(pow(2.0, 49) AS BIGINT)
               AS BIGINT) AS sm,
             4096 - count(*) AS v
           FROM r GROUP BY 1
         ), b AS (
           SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,2)))
               AS DOUBLE), 6) AS total,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,2)))
               AS DOUBLE) / count(*), 6) AS mean,
             min(o_totalprice) AS vmin, max(o_totalprice) AS vmax
           FROM orders GROUP BY 1
         )
         SELECT b.o_orderpriority, n, total, mean, vmin, vmax,
           round(CASE WHEN (0.7213 / (1 + 1.079 / 4096)) * 4096.0 * 4096.0
                             / (CAST(sm AS DOUBLE) / pow(2.0, 49))
                             <= 2.5 * 4096 AND v > 0
                      THEN 4096.0 * ln(4096.0 / v)
                      ELSE (0.7213 / (1 + 1.079 / 4096)) * 4096.0 * 4096.0
                             / (CAST(sm AS DOUBLE) / pow(2.0, 49)) END, 3)
             AS approx_distinct
         FROM b JOIN sk USING (o_orderpriority)""",

    // the DELTA-mode state re-aggregated at read ends at x125's full
    // recompute (the bounded sample is a pure function of the value
    // multiset — chain levels cannot change it)
    "x133_aggstate_delta" ->
      """WITH s AS (
           SELECT o_orderpriority, CAST(o_totalprice AS VARCHAR) AS vs,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY ('0x' || substr(md5('smp:'
                 || CAST(o_totalprice AS VARCHAR)), 1, 15))::BIGINT,
                 CAST(o_totalprice AS VARCHAR)) AS rn
           FROM orders WHERE o_totalprice IS NOT NULL
         ), sm AS (
           SELECT o_orderpriority, CAST(vs AS DOUBLE) AS v
           FROM s WHERE rn <= 512
         ), med AS (
           SELECT o_orderpriority, list(v ORDER BY v) AS arr
           FROM sm GROUP BY 1
         ), b AS (
           SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
           FROM orders GROUP BY 1
         )
         SELECT b.o_orderpriority, n,
           round(arr[CAST(ceil(0.25 * len(arr)) AS INT)], 6) AS approx_p25,
           round((arr[(len(arr) + 1) // 2]
             + arr[len(arr) // 2 + 1]) / 2.0, 6) AS approx_median,
           round(arr[CAST(ceil(0.9 * len(arr)) AS INT)], 6) AS approx_p90
         FROM b JOIN med USING (o_orderpriority)""",

    // scale-invariant planted truths (see the query comments)
    "x134_aggstate_probe" ->
      """SELECT TRUE AS n_ok, TRUE AS all_same, TRUE AS cow_bounded,
           TRUE AS bases_untouched, TRUE AS delta_small,
           TRUE AS compacted""",

    // x132's HLL machinery plus the second measure's exact-decimal
    // sums — the multi-measure state must finalize to the one-shot
    // recompute per measure
    "x140_aggstate_multi" ->
      """WITH h AS (
           SELECT o_orderpriority,
             ('0x' || substr(md5('hll:' || CAST(o_custkey AS VARCHAR)),
               1, 15))::BIGINT AS hv
           FROM orders WHERE o_custkey IS NOT NULL
         ), r AS (
           SELECT o_orderpriority, hv % 4096 AS bucket,
             max(CASE WHEN hv // 4096 = 0 THEN 49
                      ELSE 49 - length(bin(hv // 4096)) END) AS mj
           FROM h GROUP BY 1, 2
         ), sk AS (
           SELECT o_orderpriority,
             CAST(sum(CAST(pow(2.0, 49 - mj) AS BIGINT))
               + (4096 - count(*)) * CAST(pow(2.0, 49) AS BIGINT)
               AS BIGINT) AS sm,
             4096 - count(*) AS v
           FROM r GROUP BY 1
         ), b AS (
           SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,2)))
               AS DOUBLE), 6) AS total_price,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,2)))
               AS DOUBLE) / count(*), 6) AS mean_price,
             min(o_totalprice) AS vmin_price, max(o_totalprice) AS vmax_price,
             CAST(sum(CAST(o_custkey AS DECIMAL(28,2))) AS DOUBLE)
               AS total_cust,
             min(o_custkey) AS vmin_cust, max(o_custkey) AS vmax_cust
           FROM orders GROUP BY 1
         )
         SELECT b.o_orderpriority, n, total_price, mean_price,
           vmin_price, vmax_price, total_cust, vmin_cust, vmax_cust,
           round(CASE WHEN (0.7213 / (1 + 1.079 / 4096)) * 4096.0 * 4096.0
                             / (CAST(sm AS DOUBLE) / pow(2.0, 49))
                             <= 2.5 * 4096 AND v > 0
                      THEN 4096.0 * ln(4096.0 / v)
                      ELSE (0.7213 / (1 + 1.079 / 4096)) * 4096.0 * 4096.0
                             / (CAST(sm AS DOUBLE) / pow(2.0, 49)) END, 3)
             AS approx_distinct
         FROM b JOIN sk USING (o_orderpriority)""",

    // scale-invariant planted truths (see the query comment)
    "x142_cdc_initial" ->
      """SELECT TRUE AS initial_exact, TRUE AS chunks_bounded,
           TRUE AS diff_exact, TRUE AS caught_up""",

    // scale-invariant planted truths (see the query comment)
    "x143_maintain" ->
      """SELECT TRUE AS n_ok, TRUE AS all_same, TRUE AS hot_is_single,
           TRUE AS split_hot_only, TRUE AS depths_ok,
           TRUE AS chains_folded, TRUE AS converged""",

    // scale-invariant planted truths (see the query comment)
    "x144_seq_cdc" ->
      """SELECT TRUE AS shuffled_ok, TRUE AS compact_ok,
           TRUE AS old_loses, TRUE AS guard_ok""",

    // scale-invariant planted truths (see the query comment)
    "x145_leaf_merge" ->
      """SELECT TRUE AS all_same, TRUE AS split_ok, TRUE AS merged_ok,
           TRUE AS converged""",

    // scale-invariant planted truths (see the query comment)
    "x146_seq_mv_cdc" ->
      """SELECT TRUE AS chg12_ok, TRUE AS chg23_ok, TRUE AS chg34_ok,
           TRUE AS late_empty, TRUE AS no_regress, TRUE AS mv_ok""",

    // scale-invariant planted truths (see the query comment)
    "x147_seq_poll_cdc" ->
      """SELECT TRUE AS init_ok, TRUE AS del_ok, TRUE AS upd_ok,
           TRUE AS late_ok""",

    // scale-invariant planted truths (see the query comment)
    "x148_dml_where" ->
      """SELECT TRUE AS all_same, TRUE AS upd_ok, TRUE AS del_ok,
           TRUE AS guard_key, TRUE AS guard_det""",

    // CoW update, CoW delete, delta update, delta delete — survivors
    // under composed CASE/WHERE
    "ql71_lang_dml" ->
      """WITH s1 AS (
           SELECT o_orderkey,
             CASE WHEN o_totalprice < 50000.0 THEN o_totalprice + 50.0
                  ELSE o_totalprice END AS p
           FROM orders)
         SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 1 THEN p - 25.0 ELSE p END
             AS o_totalprice
         FROM s1
         WHERE o_orderkey % 3 <> 0 AND o_orderkey % 5 <> 4""",

    // scale-invariant planted truths (see the query comment)
    "x141_bucket_split" ->
      """SELECT TRUE AS n_ok, TRUE AS all_same, TRUE AS untouched_kept,
           TRUE AS parents_gone, TRUE AS depths_ok, TRUE AS lookup_ok,
           TRUE AS changes_empty, TRUE AS old_readable,
           TRUE AS postmerge_ok""",

    // CDC end state in closed form: the seq-2 reprice wins for 7ths,
    // tombstones remove 13ths (including 91ths, where the tombstone's
    // seq outranks the reprice)
    "x120_cdc_merge" ->
      """SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
                ELSE o_totalprice END AS o_totalprice
         FROM orders WHERE o_orderkey % 13 <> 0""",

    // the streamed-and-replayed state finalizes to the full recompute
    "x138_aggstate_stream" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE), 6)
             AS total,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
             / count(*), 6) AS mean,
           TRUE AS replay_noop
         FROM orders GROUP BY o_orderpriority""",

    // the same closed form keyed on the (custkey, orderkey) tuple
    "x135_cdc_composite" ->
      """SELECT o_custkey, o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
                ELSE o_totalprice END AS o_totalprice
         FROM orders WHERE o_orderkey % 13 <> 0""",

    // scale-invariant planted truths (see the query comment)
    "x136_zonemap_probe" ->
      "SELECT TRUE AS all_same, TRUE AS nonempty, TRUE AS pruned_small",

    // scale-invariant planted truths (see the query comment)
    "x139_keyed_where" ->
      """SELECT TRUE AS key_rows_ok, TRUE AS zone_rows_ok,
           TRUE AS key_pruned, TRUE AS zone_pruned,
           TRUE AS fallback_full, TRUE AS fallback_ok,
           TRUE AS in_rows_ok, TRUE AS in_pruned,
           TRUE AS between_rows_ok, TRUE AS between_pruned,
           TRUE AS orrange_rows_ok, TRUE AS orrange_pruned,
           TRUE AS crossor_full, TRUE AS crossor_ok""",

    // the md5-order bottom-512 sample rebuilt with a rank window, its
    // median via the same explicit middle/average arithmetic
    "x125_incr_quantile" ->
      """WITH s AS (
           SELECT o_orderpriority, CAST(o_totalprice AS VARCHAR) AS vs,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY ('0x' || substr(md5('smp:'
                 || CAST(o_totalprice AS VARCHAR)), 1, 15))::BIGINT,
                 CAST(o_totalprice AS VARCHAR)) AS rn
           FROM orders WHERE o_totalprice IS NOT NULL
         ), sm AS (
           SELECT o_orderpriority, CAST(vs AS DOUBLE) AS v
           FROM s WHERE rn <= 512
         ), med AS (
           SELECT o_orderpriority, list(v ORDER BY v) AS arr
           FROM sm GROUP BY 1
         ), b AS (
           SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
           FROM orders GROUP BY 1
         )
         SELECT b.o_orderpriority, n,
           round(arr[CAST(ceil(0.25 * len(arr)) AS INT)], 6) AS approx_p25,
           round((arr[(len(arr) + 1) // 2]
             + arr[len(arr) // 2 + 1]) / 2.0, 6) AS approx_median,
           round(arr[CAST(ceil(0.9 * len(arr)) AS INT)], 6) AS approx_p90
         FROM b JOIN med USING (o_orderpriority)""",

    // x125's mirror at ROW grain: the sample hash salts in the
    // row-unique key, replayed identically in SQL
    "x130_incr_quantile_rows" ->
      """WITH s AS (
           SELECT o_orderpriority, CAST(o_totalprice AS VARCHAR) AS vs,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY ('0x' || substr(md5('smp:'
                 || CAST(o_totalprice AS VARCHAR) || ':'
                 || CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT,
                 CAST(o_totalprice AS VARCHAR)) AS rn
           FROM orders WHERE o_totalprice IS NOT NULL
         ), sm AS (
           SELECT o_orderpriority, CAST(vs AS DOUBLE) AS v
           FROM s WHERE rn <= 512
         ), med AS (
           SELECT o_orderpriority, list(v ORDER BY v) AS arr
           FROM sm GROUP BY 1
         ), b AS (
           SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
           FROM orders GROUP BY 1
         )
         SELECT b.o_orderpriority, n,
           round(arr[CAST(ceil(0.25 * len(arr)) AS INT)], 6) AS approx_p25,
           round((arr[(len(arr) + 1) // 2]
             + arr[len(arr) // 2 + 1]) / 2.0, 6) AS approx_median,
           round(arr[CAST(ceil(0.9 * len(arr)) AS INT)], 6) AS approx_p90
         FROM b JOIN med USING (o_orderpriority)""",

    // the generalized state finalized == the full recompute: exact
    // decimal sums, raw min/max, and the x30-style md5-HLL estimate
    // replayed bit-for-bit over ALL of orders
    "x116_incr_profile" ->
      """WITH h AS (
           SELECT o_orderpriority,
             ('0x' || substr(md5('hll:' || CAST(o_custkey AS VARCHAR)),
               1, 15))::BIGINT AS hv
           FROM orders WHERE o_custkey IS NOT NULL
         ), r AS (
           SELECT o_orderpriority, hv % 4096 AS bucket,
             max(CASE WHEN hv // 4096 = 0 THEN 49
                      ELSE 49 - length(bin(hv // 4096)) END) AS mj
           FROM h GROUP BY 1, 2
         ), sk AS (
           SELECT o_orderpriority,
             CAST(sum(CAST(pow(2.0, 49 - mj) AS BIGINT))
               + (4096 - count(*)) * CAST(pow(2.0, 49) AS BIGINT)
               AS BIGINT) AS sm,
             4096 - count(*) AS v
           FROM r GROUP BY 1
         ), b AS (
           SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,2)))
               AS DOUBLE), 6) AS total,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,2)))
               AS DOUBLE) / count(*), 6) AS mean,
             min(o_totalprice) AS vmin, max(o_totalprice) AS vmax
           FROM orders GROUP BY 1
         )
         SELECT b.o_orderpriority, n, total, mean, vmin, vmax,
           round(CASE WHEN (0.7213 / (1 + 1.079 / 4096)) * 4096.0 * 4096.0
                             / (CAST(sm AS DOUBLE) / pow(2.0, 49))
                             <= 2.5 * 4096 AND v > 0
                      THEN 4096.0 * ln(4096.0 / v)
                      ELSE (0.7213 / (1 + 1.079 / 4096)) * 4096.0 * 4096.0
                             / (CAST(sm AS DOUBLE) / pow(2.0, 49)) END, 3)
             AS approx_distinct
         FROM b JOIN sk USING (o_orderpriority)""",

    // the greedy anchored funnel as a min()-chain: t1 = first view,
    // t2 = first later click within the window, t3 = first later
    // purchase within the window of t1
    "x105_funnel" ->
      """WITH f AS (
           SELECT user_id, epoch_us(ts) AS us, event_type FROM events
           WHERE event_type IN ('view', 'click', 'purchase')
             AND ts IS NOT NULL),
         u AS (SELECT DISTINCT user_id FROM f),
         s1 AS (SELECT user_id, min(us) AS t1 FROM f
                WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT f.user_id, min(us) AS t2 FROM f
                JOIN s1 USING (user_id)
                WHERE event_type = 'click' AND us > t1
                  AND us <= t1 + 604800000000 GROUP BY f.user_id),
         s3 AS (SELECT f.user_id, min(us) AS t3 FROM f
                JOIN s2 USING (user_id) JOIN s1 USING (user_id)
                WHERE event_type = 'purchase' AND us > t2
                  AND us <= t1 + 604800000000 GROUP BY f.user_id)
         SELECT u.user_id,
           CASE WHEN t3 IS NOT NULL THEN 3
                WHEN t2 IS NOT NULL THEN 2
                WHEN t1 IS NOT NULL THEN 1
                ELSE 0 END AS depth
         FROM u LEFT JOIN s1 USING (user_id)
                LEFT JOIN s2 USING (user_id)
                LEFT JOIN s3 USING (user_id)""",

    // the capped funnel's prefix mirrored as a row_number over the
    // SAME (ts, step-index) order the heap aggregate keeps, then the
    // identical min-chain on the prefix
    "x115_funnel_capped" ->
      """WITH f0 AS (
           SELECT user_id, epoch_us(ts) AS us, event_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts),
                 CASE event_type WHEN 'view' THEN 0
                      WHEN 'click' THEN 1 ELSE 2 END) AS rn
           FROM events
           WHERE event_type IN ('view', 'click', 'purchase')
             AND ts IS NOT NULL),
         f AS (SELECT user_id, us, event_type FROM f0 WHERE rn <= 4),
         u AS (SELECT DISTINCT user_id FROM f),
         s1 AS (SELECT user_id, min(us) AS t1 FROM f
                WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT f.user_id, min(us) AS t2 FROM f
                JOIN s1 USING (user_id)
                WHERE event_type = 'click' AND us > t1
                  AND us <= t1 + 604800000000 GROUP BY f.user_id),
         s3 AS (SELECT f.user_id, min(us) AS t3 FROM f
                JOIN s2 USING (user_id) JOIN s1 USING (user_id)
                WHERE event_type = 'purchase' AND us > t2
                  AND us <= t1 + 604800000000 GROUP BY f.user_id)
         SELECT u.user_id,
           CASE WHEN t3 IS NOT NULL THEN 3
                WHEN t2 IS NOT NULL THEN 2
                WHEN t1 IS NOT NULL THEN 1
                ELSE 0 END AS depth
         FROM u LEFT JOIN s1 USING (user_id)
                LEFT JOIN s2 USING (user_id)
                LEFT JOIN s3 USING (user_id)""",

    "x106_retention" ->
      """WITH a AS (
           SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS b
           FROM events WHERE ts IS NOT NULL),
         c AS (SELECT user_id, min(b) AS cohort FROM a GROUP BY user_id)
         SELECT cohort, b - cohort AS "offset",
           CAST(count(*) AS BIGINT) AS n_users
         FROM a JOIN c USING (user_id) GROUP BY cohort, b - cohort""",

    // same co-moments (exact decimal sums cast to double), same
    // fixed-order IEEE formula, same degenerate-group NULLs
    "x108_linfit" ->
      """WITH m AS (
           SELECT l_returnflag,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) *
               CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4)))
               AS DOUBLE) AS sxy,
             CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) *
               CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4)))
               AS DOUBLE) AS sxx,
             CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
               CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4)))
               AS DOUBLE) AS syy
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
           GROUP BY l_returnflag)
         SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           round(CASE WHEN n < 2 OR (sxx - sx * sx / n) = 0 THEN NULL
             ELSE (sxy - sx * sy / n) / (sxx - sx * sx / n) END, 6)
             AS slope,
           round(CASE WHEN n < 2 OR (sxx - sx * sx / n) = 0 THEN NULL
             ELSE sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n))
               * (sx / n) END, 6) AS intercept,
           round(CASE WHEN n < 2 OR (sxx - sx * sx / n) = 0
                        OR (syy - sy * sy / n) = 0 THEN NULL
             ELSE (sxy - sx * sy / n) * (sxy - sx * sy / n)
               / ((sxx - sx * sx / n) * (syy - sy * sy / n)) END, 6)
             AS r2
         FROM m""",

    // same FALSE-or-NULL violation semantics (CASE ELSE catches both)
    "x114_check_constraints" -> {
      val rules = Seq(
        "key_positive" -> "o_orderkey > 0",
        "price_nonneg" -> "o_totalprice >= 0.0",
        "price_below_1k" -> "o_totalprice < 1000.0",
        "status_known" -> "o_orderstatus IN ('O', 'F', 'P')",
        "priority_dashed" -> "strpos(o_orderpriority, '-') = 2")
      val sums = rules.map { case (n, p) =>
        s"CAST(sum(CASE WHEN $p THEN 0 ELSE 1 END) AS BIGINT) AS $n"
      }.mkString(", ")
      val arms = rules.map { case (n, _) =>
        s"SELECT '$n' AS rule, n AS n_rows, $n AS n_violations, $n = 0 AS pass FROM m"
      }.mkString(" UNION ALL ")
      s"WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n, $sums FROM orders) $arms"
    },

    // layout must never change answers: the 3-D filtered aggregate
    // over the clustered copy equals the same filter over raw events
    "x113_zorder3_skip" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6)
             AS sum_v,
           TRUE AS pruned_ok
         FROM events
         WHERE event_id * 61 % 256 < 32 AND event_id * 131 % 256 < 32
           AND event_id * 197 % 256 < 32""",

    // the md5 bucket assignment (h60 mod 8) mirrored bit-for-bit;
    // the file-count invariant is asserted in the engine query
    "x112_table_stats" ->
      """SELECT CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
               1, 15)) AS BIGINT) % 8 AS kb,
           CAST(count(*) AS BIGINT) AS n_rows,
           TRUE AS one_file_each
         FROM orders GROUP BY 1""",

    // scale-invariant planted truths (see the query comments)
    "x110_upsert_1m" ->
      "SELECT TRUE AS n_ok, TRUE AS all_same",
    "x128_delta_probe" ->
      """SELECT TRUE AS n_ok, TRUE AS all_same,
           TRUE AS delta_small, TRUE AS bases_untouched""",

    // merge-on-read deltas and their compaction both end at x120's
    // closed-form state: the later delta wins the 7ths' reprice,
    // tombstones remove the 13ths (including 91ths, where the
    // tombstone sits at the highest precedence level)
    "x126_delta_merge" ->
      """SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
                ELSE o_totalprice END AS o_totalprice
         FROM orders WHERE o_orderkey % 13 <> 0""",
    "x127_delta_compact" ->
      """SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
                ELSE o_totalprice END AS o_totalprice
         FROM orders WHERE o_orderkey % 13 <> 0""",
    "x111_funnel_300k" ->
      "SELECT TRUE AS d1_ok, TRUE AS d2_ok, TRUE AS d3_ok",

    // adjacent-pair counts via lag over the same (ts, type) order
    "x109_transitions" ->
      """WITH o AS (
           SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_type) AS prev_type
           FROM events
           WHERE event_type IS NOT NULL AND ts IS NOT NULL)
         SELECT prev_type AS from_type, event_type AS to_type,
           CAST(count(*) AS BIGINT) AS n
         FROM o WHERE prev_type IS NOT NULL
         GROUP BY prev_type, event_type""",

    // the engine's (ts, type) struct sort == ORDER BY ts, type
    "x107_event_paths" ->
      """WITH o AS (
           SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_type) AS rn
           FROM events
           WHERE event_type IS NOT NULL AND ts IS NOT NULL),
         p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn)
                 AS path
               FROM o WHERE rn <= 8 GROUP BY user_id)
         SELECT path, CAST(count(*) AS BIGINT) AS n_users
         FROM p GROUP BY path""",

    "x93_profile" -> Seq("c_custkey", "c_name", "c_nationkey",
      "c_acctbal", "c_mktsegment").map { c =>
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n,
            CAST(count(*) - count($c) AS BIGINT) AS nulls,
            CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
            CAST(min($c) AS VARCHAR) AS min_s,
            CAST(max($c) AS VARCHAR) AS max_s
          FROM customer"""
    }.mkString("\n UNION ALL \n"),

    // per column: counts/min/max plus the x30-style md5-HLL estimate
    // replayed from raw values (the engine aggregates registers in one
    // pass; both sides round the one float step to 3 decimals)
    "x117_profile_approx" ->
      Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment").map { c =>
        s"""SELECT '$c' AS col_name,
              (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n,
              (SELECT CAST(count(*) - count($c) AS BIGINT) FROM customer)
                AS nulls,
              (SELECT round(CASE
                 WHEN (0.7213 / (1 + 1.079 / 4096)) * 4096.0 * 4096.0
                        / (CAST(sm AS DOUBLE) / pow(2.0, 49)) <= 2.5 * 4096
                      AND v > 0
                 THEN 4096.0 * ln(4096.0 / v)
                 ELSE (0.7213 / (1 + 1.079 / 4096)) * 4096.0 * 4096.0
                        / (CAST(sm AS DOUBLE) / pow(2.0, 49)) END, 3)
               FROM (SELECT CAST(sum(CAST(pow(2.0, 49 - mj) AS BIGINT))
                       + (4096 - count(*)) * CAST(pow(2.0, 49) AS BIGINT)
                       AS BIGINT) AS sm,
                       4096 - count(*) AS v
                     FROM (SELECT hv % 4096 AS bucket,
                             max(CASE WHEN hv // 4096 = 0 THEN 49
                                 ELSE 49 - length(bin(hv // 4096)) END) AS mj
                           FROM (SELECT ('0x' || substr(md5('hll:'
                                   || CAST($c AS VARCHAR)), 1, 15))::BIGINT
                                   AS hv
                                 FROM customer WHERE $c IS NOT NULL)
                           GROUP BY 1))) AS n_distinct,
              (SELECT CAST(min($c) AS VARCHAR) FROM customer) AS min_s,
              (SELECT CAST(max($c) AS VARCHAR) FROM customer) AS max_s"""
      }.mkString("\n UNION ALL \n"),

    // same exact-decimal mean/stddev formulas as PF.davg/dstddev;
    // n>=2 guard mirrors the engine's no-sample-stddev rule
    "x94_anomalies" ->
      """WITH stats AS (
           SELECT event_type,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               / CAST(count(value) AS DOUBLE) AS mean,
             sqrt((CAST(sum(CAST(CAST(value AS DECIMAL(18,2))
                 * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE)
               - CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 * CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 / CAST(count(value) AS DOUBLE))
               / (CAST(count(value) AS DOUBLE) - 1.0)) AS sd,
             count(value) AS nv
           FROM events GROUP BY event_type)
         SELECT event_id, e.event_type, value
         FROM events e JOIN stats s ON e.event_type = s.event_type
         WHERE s.nv >= 2 AND abs(value - s.mean) > 2.5 * s.sd""",

    // same md5-order row_number in DuckDB (q65's hash idiom)
    "x92_cap_per_source" ->
      """SELECT doc_id, lang, source FROM (
           SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY lang, source
               ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                 doc_id) AS rn
           FROM documents) WHERE rn <= 5""",

    // planted closed form asserted in-query; scale-invariant booleans
    "x91_agg_100m" ->
      "SELECT TRUE AS groups_complete, TRUE AS all_exact",

    // independent canonical 3-way join over the normalized simple
    // graph (the engine runs degree-ordered orientation)
    "x90_triangles" ->
      """WITH nodes AS (SELECT DISTINCT doc_id % 5000 AS a FROM documents),
         e0 AS (
           SELECT a AS s, a - a % 50 + (a + 1) % 50 AS t FROM nodes
           UNION ALL
           SELECT a AS s, a - a % 50 + (a + 2) % 50 AS t FROM nodes),
         und AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
                 FROM e0 WHERE s <> t)
         SELECT CAST(count(*) AS BIGINT) AS n_triangles
         FROM und e1
         JOIN und e2 ON e1.b = e2.a
         JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b""",

    "ql40_lang_pagerank" ->
      (s"SELECT node, rank AS r FROM (${pageRankOracleSql(400, 6, 0.85)})" +
        " ORDER BY r DESC, node LIMIT 10"),

    "ql45_lang_funnel" ->
      """WITH f AS (
           SELECT user_id, epoch_us(ts) AS us, event_type FROM events
           WHERE event_type IN ('view', 'click', 'purchase')
             AND ts IS NOT NULL),
         u AS (SELECT DISTINCT user_id FROM f),
         s1 AS (SELECT user_id, min(us) AS t1 FROM f
                WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT f.user_id, min(us) AS t2 FROM f
                JOIN s1 USING (user_id)
                WHERE event_type = 'click' AND us > t1
                  AND us <= t1 + 604800000000 GROUP BY f.user_id),
         s3 AS (SELECT f.user_id, min(us) AS t3 FROM f
                JOIN s2 USING (user_id) JOIN s1 USING (user_id)
                WHERE event_type = 'purchase' AND us > t2
                  AND us <= t1 + 604800000000 GROUP BY f.user_id),
         d AS (
           SELECT u.user_id,
             CASE WHEN t3 IS NOT NULL THEN 3
                  WHEN t2 IS NOT NULL THEN 2
                  WHEN t1 IS NOT NULL THEN 1
                  ELSE 0 END AS depth
           FROM u LEFT JOIN s1 USING (user_id)
                  LEFT JOIN s2 USING (user_id)
                  LEFT JOIN s3 USING (user_id))
         SELECT depth, CAST(count(*) AS BIGINT) AS n_users
         FROM d GROUP BY depth""",

    // language keyed lifecycle: reprice-unless-deleted in closed form
    "ql46_lang_keyed" ->
      """SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
                ELSE o_totalprice END AS o_totalprice
         FROM orders WHERE o_orderkey % 13 <> 0""",

    // the md5 bucket assignment (h60 mod 8) mirrored bit-for-bit
    "ql47_lang_maintenance" ->
      """SELECT CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
               1, 15)) AS BIGINT) % 8 AS kb,
           CAST(count(*) AS BIGINT) AS n_rows,
           TRUE AS one_file
         FROM orders GROUP BY 1""",

    "ql48_lang_phrase" -> phraseOracleSql(Seq("scan", "query")),

    // the language faces run the same engines the x-queries oracle:
    // ql50 == x104's recompute + min/max; ql51 == the delta reprice in
    // closed form; ql52 == x61's full-corpus BM25 recompute
    "ql50_lang_aggstate" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE), 6)
             AS total,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
             / count(*), 6) AS mean,
           min(o_totalprice) AS vmin, max(o_totalprice) AS vmax
         FROM orders GROUP BY o_orderpriority""",
    "ql51_lang_delta" ->
      """SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
                ELSE o_totalprice END AS o_totalprice
         FROM orders""",
    "ql57_lang_keyed_where" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)""",
    // the ROUTED group-by answers with the state's exact-decimal
    // arithmetic (sum as DECIMAL(28,2) cast to double once; mean over
    // the measure's NON-NULL count) — the scan plan's IEEE float sum
    // would not hash-match, so the oracle doubles as a routing canary
    "ql58_lang_mv_route" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
             AS total,
           CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
             / count(o_totalprice) AS avg_price,
           min(o_totalprice) AS lo, max(o_totalprice) AS hi
         FROM orders GROUP BY o_orderpriority""",
    // the refreshed bucket-grain view's fold: the %9 keys repriced
    // +500, exact-decimal total (routing canary — see ql58)
    "ql63_lang_mv_refresh" ->
      """WITH cur AS (
           SELECT o_orderpriority,
             CASE WHEN o_orderkey = 7 THEN o_totalprice + 250.0
                  WHEN o_orderkey % 9 = 0 THEN o_totalprice + 500.0
                  ELSE o_totalprice END AS p
           FROM orders)
         SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(p AS DECIMAL(28,2))) AS DOUBLE) AS total,
           min(p) AS lo, max(p) AS hi, TRUE AS pruned_ok
         FROM cur GROUP BY o_orderpriority""",

    // the sample bound covers every group, so the "approx" quantiles
    // are the exact order statistics of the post-upsert population —
    // the same rank formulas as finalizeAgg, 1-based in DuckDB
    "ql68_lang_mv_sample" ->
      """WITH cur AS (
           SELECT o_orderpriority,
             CASE WHEN o_orderkey % 9 = 0 THEN o_totalprice + 500.0
                  ELSE o_totalprice END AS p
           FROM orders),
         med AS (
           SELECT o_orderpriority, list(p ORDER BY p) AS arr
           FROM cur GROUP BY 1),
         b AS (
           SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(p AS DECIMAL(28,2))) AS DOUBLE) AS total
           FROM cur GROUP BY 1)
         SELECT o_orderpriority, n, total,
           round(arr[CAST(ceil(0.25 * len(arr)) AS INT)], 6) AS approx_p25,
           round((arr[(len(arr) + 1) // 2]
             + arr[len(arr) // 2 + 1]) / 2.0, 6) AS approx_median,
           round(arr[CAST(ceil(0.9 * len(arr)) AS INT)], 6) AS approx_p90
         FROM b JOIN med USING (o_orderpriority)""",

    // split + mass delete + maintain(merge budget): the content after
    // the fold is just the undeleted rows; merged_ok is the planted
    // depth truth
    "ql69_lang_maint_merge" ->
      """SELECT o_orderkey, o_totalprice, TRUE AS merged_ok
         FROM orders WHERE o_orderkey % 2 <> 0""",

    // the routed post-sweep group-by: exact-decimal canary (a sweep
    // that silently failed to re-arm would fall back to the scan and
    // still match — swept_ok pins the watermark claim; a sweep that
    // re-armed WITHOUT folding the changes would hash-mismatch here)
    "ql70_lang_mv_sweep" ->
      """WITH cur AS (
           SELECT o_orderpriority,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100.0
                  ELSE o_totalprice END AS p
           FROM orders)
         SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(p AS DECIMAL(28,2))) AS DOUBLE) AS total,
           TRUE AS swept_ok
         FROM cur GROUP BY o_orderpriority""",
    // maintain_keyed split every leaf; content identical
    "ql66_lang_maintain" ->
      "SELECT o_orderkey, o_totalprice FROM orders",
    // max-seq-wins ordered application, arrival order newest-first
    "ql67_lang_seq_cdc" ->
      """SELECT o_orderkey,
           CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 3000.0
                WHEN o_orderkey % 5 = 0 THEN o_totalprice + 2000.0
                WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
                ELSE o_totalprice END AS o_totalprice,
           CAST(CASE WHEN o_orderkey % 3 = 0 THEN 3
                WHEN o_orderkey % 5 = 0 THEN 2
                WHEN o_orderkey % 7 = 0 THEN 1
                ELSE 0 END AS BIGINT) AS seq
         FROM orders""",
    // the grain-filtered route: state rows filtered on the grain
    // column, exact-decimal total canary
    "ql64_lang_mv_where" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
             AS total
         FROM orders WHERE o_orderpriority = '1-URGENT'
         GROUP BY o_orderpriority""",
    // the rollup fold of a (custkey, priority) view: exact-decimal
    // total; mean divides the decimal sum by the non-null count
    "ql65_lang_mv_rollup" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
             AS total,
           CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
             / count(o_totalprice) AS avg_price
         FROM orders GROUP BY o_orderpriority""",
    "ql56_lang_aggstate_keyed" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE), 6)
             AS total,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
             / count(*), 6) AS mean,
           min(o_totalprice) AS vmin, max(o_totalprice) AS vmax
         FROM orders GROUP BY o_orderpriority""",
    // version 1 is always the unmodified bootstrap
    "ql53_lang_timetravel" ->
      "SELECT o_orderkey, o_totalprice FROM orders",
    "ql52_lang_idxappend" -> bm25OracleSql(Seq("customer", "window"), 15),
    "ql54_lang_idxcompact" -> bm25OracleSql(Seq("customer", "window"), 15),

    // the global fold: exact-decimal total + the register-union HLL
    "ql62_lang_mv_global" ->
      """WITH h AS (
           SELECT ('0x' || substr(md5('hll:' || CAST(o_custkey AS VARCHAR)),
               1, 15))::BIGINT AS hv
           FROM orders WHERE o_custkey IS NOT NULL
         ), r AS (
           SELECT hv % 4096 AS bucket,
             max(CASE WHEN hv // 4096 = 0 THEN 49
                      ELSE 49 - length(bin(hv // 4096)) END) AS mj
           FROM h GROUP BY 1
         ), sk AS (
           SELECT
             CAST(sum(CAST(pow(2.0, 49 - mj) AS BIGINT))
               + (4096 - count(*)) * CAST(pow(2.0, 49) AS BIGINT)
               AS BIGINT) AS sm,
             4096 - count(*) AS v
           FROM r
         ), b AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
               AS total
           FROM orders
         )
         SELECT n, total,
           round(CASE WHEN (0.7213 / (1 + 1.079 / 4096)) * 4096.0 * 4096.0
                             / (CAST(sm AS DOUBLE) / pow(2.0, 49))
                             <= 2.5 * 4096 AND v > 0
                      THEN 4096.0 * ln(4096.0 / v)
                      ELSE (0.7213 / (1 + 1.079 / 4096)) * 4096.0 * 4096.0
                             / (CAST(sm AS DOUBLE) / pow(2.0, 49)) END, 3)
             AS ad
         FROM b, sk""",

    // x132's md5-register HLL machinery: n + the p=12 estimate
    "ql61_lang_mv_adist" ->
      """WITH h AS (
           SELECT o_orderpriority,
             ('0x' || substr(md5('hll:' || CAST(o_custkey AS VARCHAR)),
               1, 15))::BIGINT AS hv
           FROM orders WHERE o_custkey IS NOT NULL
         ), r AS (
           SELECT o_orderpriority, hv % 4096 AS bucket,
             max(CASE WHEN hv // 4096 = 0 THEN 49
                      ELSE 49 - length(bin(hv // 4096)) END) AS mj
           FROM h GROUP BY 1, 2
         ), sk AS (
           SELECT o_orderpriority,
             CAST(sum(CAST(pow(2.0, 49 - mj) AS BIGINT))
               + (4096 - count(*)) * CAST(pow(2.0, 49) AS BIGINT)
               AS BIGINT) AS sm,
             4096 - count(*) AS v
           FROM r GROUP BY 1
         ), b AS (
           SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
           FROM orders GROUP BY 1
         )
         SELECT b.o_orderpriority, n,
           round(CASE WHEN (0.7213 / (1 + 1.079 / 4096)) * 4096.0 * 4096.0
                             / (CAST(sm AS DOUBLE) / pow(2.0, 49))
                             <= 2.5 * 4096 AND v > 0
                      THEN 4096.0 * ln(4096.0 / v)
                      ELSE (0.7213 / (1 + 1.079 / 4096)) * 4096.0 * 4096.0
                             / (CAST(sm AS DOUBLE) / pow(2.0, 49)) END, 3)
             AS ad
         FROM b JOIN sk USING (o_orderpriority)""",

    // the two group reads differ exactly on the repriced 7th keys
    "ql60_lang_group" ->
      """SELECT o_orderkey, 'changed' AS status FROM orders
         WHERE o_orderkey % 7 = 0""",

    // the MV changelog's second poll: every priority 'changed', new =
    // full recompute, old = the build's 9/10ths (exact-decimal sums)
    "ql59_lang_mv_cdc" ->
      """WITH newv AS (
           SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,2)))
               AS DOUBLE), 6) AS total
           FROM orders GROUP BY 1
         ), oldv AS (
           SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS old_n,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,2)))
               AS DOUBLE), 6) AS old_total
           FROM orders WHERE o_orderkey % 10 <> 0 GROUP BY 1
         )
         SELECT o_orderpriority, 'changed' AS status, n, total,
           old_n, old_total, 2 AS to_version
         FROM newv JOIN oldv USING (o_orderpriority)""",

    // the second poll is exactly the repriced keys at version 2
    "ql55_lang_cdcsource" ->
      """SELECT o_orderkey, 'changed' AS status,
           CAST(2 AS INT) AS to_version
         FROM orders WHERE o_orderkey % 7 = 0""",

    // per-a row counts survive the z-order + compaction round trip;
    // 3 output files bound every group's file count
    "ql49_lang_layout" ->
      """SELECT event_id % 256 AS a, CAST(count(*) AS BIGINT) AS n_rows,
           TRUE AS files_ok
         FROM events GROUP BY 1""",

    "ql44_lang_sssp" ->
      """WITH e AS (
           SELECT DISTINCT src, dst, w FROM (
             SELECT doc_id % 100 AS src, (doc_id*31 + 7) % 100 AS dst,
               CAST(doc_id % 5 + 1 AS DOUBLE) AS w FROM documents
             UNION ALL
             SELECT doc_id % 100 AS src, (doc_id*17 + 3) % 100 AS dst,
               CAST(doc_id % 7 + 2 AS DOUBLE) AS w FROM documents)),
         p1 AS (SELECT dst AS node, w AS dist FROM e WHERE src = 0),
         p2 AS (SELECT e2.dst AS node, p1.dist + e2.w AS dist
                FROM p1 JOIN e e2 ON e2.src = p1.node),
         p3 AS (SELECT e3.dst AS node, p2.dist + e3.w AS dist
                FROM p2 JOIN e e3 ON e3.src = p2.node),
         allp AS (
           SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS DOUBLE) AS dist
           UNION ALL SELECT * FROM p1
           UNION ALL SELECT * FROM p2
           UNION ALL SELECT * FROM p3)
         SELECT node, round(min(dist), 6) AS dist FROM allp GROUP BY node""",

    // scale-invariant planted truth (see the query comment): valid at
    // every probeScale, never needs re-capture
    "x79_pagerank_1m" ->
      """SELECT TRUE AS hub_ok, TRUE AS leaves_uniform,
                TRUE AS hub_dominates, TRUE AS nodes_complete""",

    "ql39_lang_crawl" ->
      """WITH pages AS (
           SELECT doc_id,
             '<p>' || text || '</p><script>x()</script>' AS raw
           FROM documents
         ), txt AS (
           SELECT doc_id,
             trim(regexp_replace(
               replace(replace(replace(replace(replace(replace(replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(raw, '(?s)<!--.*?-->', ' ', 'g'),
                       '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
                     '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
                   '</?[A-Za-z!][^>]*>', ' ', 'g'),
                 '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                 '&#39;', chr(39)), '&apos;', chr(39)), '&nbsp;', ' '),
                 '&amp;', '&'),
               '[ \t\n\f\r]+', ' ', 'g')) AS t
           FROM pages
         ), tok AS (
           SELECT doc_id, t,
             regexp_split_to_array(trim(t), '\s+') AS tks,
             length(t) - length(regexp_replace(t,
               '[A-Za-z\x{00c0}-\x{024f}]', '', 'g')) AS c_lat,
             length(t) - length(regexp_replace(t,
               '[\x{0400}-\x{04ff}]', '', 'g')) AS c_cyr,
             length(t) - length(regexp_replace(t,
               '[\x{0370}-\x{03ff}]', '', 'g')) AS c_grk,
             length(t) - length(regexp_replace(t,
               '[\x{0600}-\x{06ff}]', '', 'g')) AS c_ara,
             length(t) - length(regexp_replace(t,
               '[\x{0900}-\x{097f}]', '', 'g')) AS c_dev,
             length(t) - length(regexp_replace(t,
               '[\x{3040}-\x{30ff}\x{4e00}-\x{9fff}\x{ac00}-\x{d7af}]',
               '', 'g')) AS c_cjk
           FROM txt
         ), sig AS (
           SELECT doc_id,
             CASE WHEN c_lat = top AND top > 0 THEN 'latin'
               WHEN c_cyr = top AND top > 0 THEN 'cyrillic'
               WHEN c_grk = top AND top > 0 THEN 'greek'
               WHEN c_ara = top AND top > 0 THEN 'arabic'
               WHEN c_dev = top AND top > 0 THEN 'devanagari'
               WHEN c_cjk = top AND top > 0 THEN 'cjk'
               ELSE 'unknown' END AS scr,
             CASE WHEN trim(t) = '' THEN 0.0
               ELSE CAST(len([x for x in tks
                 if regexp_matches(x, '[A-Za-z]')]) AS DOUBLE) / len(tks)
             END AS af,
             CASE WHEN trim(t) = '' THEN 0.0
               ELSE CAST(len(list_distinct(tks)) AS DOUBLE) / len(tks)
             END AS ttr
           FROM (SELECT *, greatest(c_lat, c_cyr, c_grk, c_ara, c_dev,
                   c_cjk) AS top FROM tok)
         )
         SELECT scr, CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (WHERE ttr > 0.5) AS BIGINT) AS hi_ttr
         FROM sig WHERE af >= 0.8 GROUP BY scr""",

    "ql38_lang_search" ->
      s"""WITH hits AS (
           ${bm25OracleSql(Seq("spark", "join", "vector"), 20)}
         )
         SELECT h.doc_id, h.score, d.source
         FROM hits h JOIN documents d ON h.doc_id = d.doc_id
         ORDER BY h.score DESC, h.doc_id""",

    "x57_top_terms" ->
      """WITH tk AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS tok
           FROM documents
         ), p AS (
           SELECT doc_id, unnest(tok) AS term FROM tk
         ), tf AS (
           SELECT doc_id, term, count(*) AS tf FROM p GROUP BY doc_id, term
         ), dfq AS (
           SELECT term, count(*) AS df FROM tf GROUP BY term
         ), nd AS (SELECT count(*) AS n_docs FROM documents)
         SELECT doc_id, CAST(rank AS INT) AS rank, term, tfidf FROM (
           SELECT t.doc_id, t.term,
             round(CAST(t.tf AS DOUBLE)
               * (CAST(n_docs AS DOUBLE) / CAST(d.df AS DOUBLE)), 6) AS tfidf,
             row_number() OVER (PARTITION BY t.doc_id ORDER BY
               round(CAST(t.tf AS DOUBLE)
                 * (CAST(n_docs AS DOUBLE) / CAST(d.df AS DOUBLE)), 6) DESC,
               t.term) AS rank
           FROM tf t JOIN dfq d ON t.term = d.term CROSS JOIN nd
         ) WHERE rank <= 3""",

    "x58_top_tokens" ->
      """WITH p AS (
           SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
           FROM documents
         )
         SELECT term, CAST(count(*) AS BIGINT) AS n FROM p
         GROUP BY term ORDER BY n DESC, term LIMIT 25""",

    // exact-regime Misra-Gries == the exact per-term counts
    "x59_freq_sketch" ->
      """WITH p AS (
           SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
           FROM documents
         )
         SELECT term, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY term""",

    // frozen constants (probeScale 1.0): the Misra-Gries guarantee is
    // deterministic even though the raw estimates are merge-order-
    // dependent — all 10 planted heavies tracked, all inside the
    // error band, state bounded
    "x60_freq_sketch_5m" ->
      """SELECT CAST(10 AS BIGINT) AS n_heavy_found,
                CAST(10 AS BIGINT) AS n_bound_ok,
                CAST(1 AS BIGINT) AS tracked_ok,
                CAST(5000000 AS BIGINT) AS n_rows""",

    "x61_index_search" -> bm25OracleSql(Seq("customer", "window"), 15),
    // the appended index must equal the full-corpus scan recompute
    "x129_index_append" -> bm25OracleSql(Seq("customer", "index"), 15),

    // the same consecutive-token count over 1-based list indexing;
    // range(1, len-L+2) is empty for docs shorter than the phrase
    "x118_phrase_scan" -> phraseOracleSql(Seq("scan", "query")),
    "x119_phrase_index" -> phraseOracleSql(Seq("value", "table", "part")),
    "x122_near_scan" -> nearOracleSql(Seq("scan", "query"), 3),
    "x123_near_index" -> nearOracleSql(Seq("vector", "table"), 4),

    // the probed keys that exist, straight off the base table
    "x121_keyed_lookup" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_orderkey IN (1, 7, 32, 33, 65, 98, 100, 999999)""",

    // scale-invariant constants: top-20 exists on both paths and the
    // (doc_id, score) join matches row-for-row
    "x62_search_300k" ->
      """SELECT CAST(20 AS BIGINT) AS n_match,
                CAST(20 AS BIGINT) AS n_direct,
                CAST(20 AS BIGINT) AS n_indexed""",
    // same bit-parity contract over the build-then-append index
    "x131_index_append_200k" ->
      """SELECT CAST(20 AS BIGINT) AS n_match,
                CAST(20 AS BIGINT) AS n_direct,
                CAST(20 AS BIGINT) AS n_indexed""",

    // same parity shape as x131, post-compaction (scale-invariant)
    "x137_index_compact" ->
      """SELECT CAST(20 AS BIGINT) AS n_match,
                CAST(20 AS BIGINT) AS n_direct,
                CAST(20 AS BIGINT) AS n_indexed,
                TRUE AS one_segment""",

    // chr(769)/chr(776) are the combining acute/diaeresis — the oracle
    // plants the same decomposed-next-to-precomposed mix; UAX#15 NFC
    // and ICU strip_accents must byte-agree with the engine
    "x63_normalize" ->
      """WITH aug AS (
           SELECT doc_id,
             'Cafe' || chr(769) || ' café Zürich nai' || chr(776) ||
               've doc' || CAST(doc_id AS VARCHAR) AS aug
           FROM documents WHERE doc_id < 200
         )
         SELECT doc_id, nfc_normalize(aug) AS nfc,
           strip_accents(aug) AS folded,
           CAST(length(aug) AS INT) AS len_raw,
           CAST(length(nfc_normalize(aug)) AS INT) AS len_nfc
         FROM aug""",

    "x64_url_domains" ->
      """WITH aug AS (
           SELECT 'http://ex' || CAST(doc_id % 7 AS VARCHAR) ||
             '.org/a b https://www.site' || CAST(doc_id % 3 AS VARCHAR) ||
             '.com/x' AS aug
           FROM documents
         ), ex AS (
           SELECT unnest(regexp_extract_all(aug,
             'https?://([A-Za-z0-9.-]+)', 1)) AS domain
           FROM aug
         )
         SELECT domain, CAST(count(*) AS BIGINT) AS n
         FROM ex GROUP BY domain""",

    "x65_html_extract" ->
      """WITH aug AS (
           SELECT doc_id,
             '<!DOCTYPE html><html><head><title>Doc ' ||
             CAST(doc_id AS VARCHAR) ||
             '</title><style>body { color: #333; }</style></head>' ||
             '<body><!-- rendered' || chr(10) || ' page ' ||
             CAST(doc_id AS VARCHAR) ||
             ' --><h1>Doc ' || CAST(doc_id AS VARCHAR) ||
             '</h1>' || chr(10) || '<p>' || text || '</p>' ||
             CASE WHEN doc_id % 3 = 0
               THEN '<script type="text/javascript">var x = 1 < 2;</script>'
               ELSE '' END ||
             '<div>Tom &amp; Jerry say 1 &lt; 2 &amp;amp; more' ||
             '&nbsp;&#39;quoted&#39;</div></body></html>' AS html
           FROM documents
         )
         SELECT doc_id,
           trim(regexp_replace(
             replace(replace(replace(replace(replace(replace(replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(html, '(?s)<!--.*?-->', ' ', 'g'),
                     '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
                   '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
                 '</?[A-Za-z!][^>]*>', ' ', 'g'),
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', chr(39)), '&apos;', chr(39)), '&nbsp;', ' '),
               '&amp;', '&'),
             '[ \t\n\f\r]+', ' ', 'g')) AS extracted
         FROM aug""",

    "x66_remove_spans" ->
      """WITH aug AS (
           SELECT doc_id, CASE WHEN doc_id % 7 = 0
             THEN text || ' boiler plate terms of service apply all rights reserved today'
             ELSE text END AS text
           FROM documents
         ), tok AS (
           SELECT doc_id, text, trim(text) AS tt,
             regexp_split_to_array(trim(text), '\s+') AS tks
           FROM aug
         ), gr AS (
           SELECT doc_id, CASE WHEN len(tks) < 8 THEN [tt]
             ELSE [array_to_string(tks[ii:ii+7], ' ')
                   for ii in range(1, len(tks) - 6)] END AS grams
           FROM tok
         ), spans AS (
           SELECT doc_id, unnest(range(0, len(grams))) AS pos,
             ('0x' || substr(md5(unnest(grams)), 1, 15))::BIGINT AS sh
           FROM gr
         ), rep AS (
           SELECT sh FROM (SELECT DISTINCT sh, doc_id FROM spans)
           GROUP BY sh HAVING count(*) >= 2
         ), cuts AS (
           SELECT s.doc_id, list(s.pos) AS starts
           FROM spans s JOIN rep r ON s.sh = r.sh
           GROUP BY s.doc_id
         ), cleaned AS (
           SELECT t.doc_id,
             CASE WHEN c.starts IS NULL THEN t.text
               -- coalesce: DuckDB array_to_string([]) is NULL, but a
               -- fully-cut doc must read as EMPTY text (t.text is
               -- necessarily non-null when cuts exist)
               ELSE coalesce(array_to_string(
                 [t.tks[ii] for ii in range(1, len(t.tks) + 1)
                  if len([s for s in c.starts
                          if s <= ii - 1 and ii - 1 < s + 8]) = 0], ' '), '')
             END AS text
           FROM tok t LEFT JOIN cuts c ON t.doc_id = c.doc_id
         )
         SELECT doc_id, text,
           CASE WHEN trim(text) = '' THEN 0
             ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT)
           END AS n_tokens
         FROM cleaned""",

    "x67_decontam_bloom" ->
      """WITH aug AS (
           SELECT doc_id,
             CASE WHEN doc_id % 97 = 0 OR doc_id % 9 = 1
               THEN text || ' ' || array_to_string(
                 ['c' || CAST(doc_id % 5 AS VARCHAR) || '_' || CAST(i AS VARCHAR)
                  for i in range(0, 10)], ' ')
               ELSE text END AS text
           FROM documents
         ), grams AS (
           SELECT doc_id,
             [('0x' || substr(md5(s), 1, 15))::BIGINT
               for s in (CASE WHEN len(tks) < 8 THEN [tt]
                 ELSE [array_to_string(tks[ii:ii+7], ' ')
                       for ii in range(1, len(tks) - 6)] END)] AS gh
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tks,
                   trim(text) AS tt FROM aug)
         ), benchg AS (
           SELECT DISTINCT u.g AS gh
           FROM grams, unnest(grams.gh) AS u(g) WHERE doc_id % 97 = 0
         ), words AS (
           SELECT (p >> 5) AS wi,
             bit_or(1::BIGINT << CAST((p & 31) AS INT)) AS bits
           FROM (SELECT unnest(
               [((gh & 1048575) + i * (((gh >> 20) & 1048575) | 1)) & 1048575
                for i in range(0, 3)]) AS p
             FROM benchg)
           GROUP BY wi
         ), probe AS (
           SELECT doc_id, gh,
             unnest([((gh & 1048575) + i * (((gh >> 20) & 1048575) | 1)) & 1048575
                     for i in range(0, 3)]) AS p
           FROM (SELECT t.doc_id, u.g AS gh
                 FROM grams t, unnest(t.gh) AS u(g)
                 WHERE t.doc_id % 97 <> 0)
         ), contaminated AS (
           SELECT DISTINCT doc_id FROM (
             SELECT pr.doc_id, pr.gh
             FROM probe pr LEFT JOIN words w ON (pr.p >> 5) = w.wi
             GROUP BY pr.doc_id, pr.gh
             HAVING count(*) FILTER (WHERE
               ((coalesce(w.bits, 0) >> CAST((pr.p & 31) AS INT)) & 1) = 1) = 3)
         )
         SELECT a.doc_id,
           CASE WHEN trim(a.text) = '' THEN 0
             ELSE CAST(len(regexp_split_to_array(trim(a.text), '\s+')) AS INT)
           END AS n_tokens
         FROM aug a
         WHERE a.doc_id % 97 <> 0
           AND a.doc_id NOT IN (SELECT doc_id FROM contaminated)""",

    "x12_cosine_pairs" ->
      """WITH aug AS (
           SELECT vec_id, embedding, label FROM embeddings
           UNION ALL SELECT vec_id + 10000, embedding, label FROM embeddings WHERE vec_id % 100 = 0
         )
         SELECT id_a, id_b FROM (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum([CAST(a.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE)
               for i in range(0, len(a.embedding))])
             / (sqrt(list_sum([CAST(a.embedding[i+1] AS DOUBLE) * CAST(a.embedding[i+1] AS DOUBLE)
                 for i in range(0, len(a.embedding))]))
               * sqrt(list_sum([CAST(b.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE)
                 for i in range(0, len(b.embedding))]))) AS sim
           FROM aug a JOIN aug b ON a.label = b.label AND a.vec_id < b.vec_id
         ) WHERE sim >= 0.999""",
    "x13_multimodal_meta" ->
      """SELECT doc_id,
           CAST(octet_length(encode(text)) +
             CASE WHEN doc_id % 4 = 0 THEN 24
                  WHEN doc_id % 4 = 1 THEN 10 ELSE 4 END AS BIGINT) AS n_bytes,
           CASE WHEN doc_id % 4 = 0 THEN 'png'
                WHEN doc_id % 4 = 1 THEN 'gif'
                WHEN doc_id % 4 = 2 THEN 'jpeg' ELSE 'unknown' END AS format,
           CAST(CASE WHEN doc_id % 4 <= 1 THEN doc_id % 1920 + 1 ELSE 0 END AS INT) AS width,
           CAST(CASE WHEN doc_id % 4 <= 1 THEN doc_id % 1080 + 1 ELSE 0 END AS INT) AS height
         FROM documents""",
    "x14_window_hourly" ->
      """SELECT CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM events GROUP BY 1 ORDER BY 1""",
    "q46_scalar_misc" ->
      """SELECT n_nationkey,
           chr(n_nationkey + 65) AS ch,
           CAST(ord(substr(n_name, 1, 1)) AS INT) AS oc,
           round(n_nationkey * 1.37, 1) AS r1,
           round(n_nationkey * 137.0, -2) AS rn,
           pi() AS pi
         FROM nation""",
    "q47_rollup" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS y, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY ROLLUP (y, o_orderstatus)""",
    "q48_csv_roundtrip" ->
      "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey",
    "q49_json_roundtrip" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "q75_text_roundtrip" ->
      """SELECT text AS line,
           CASE WHEN trim(text) = '' THEN 0
             ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT)
           END AS n_tokens
         FROM documents WHERE text IS NOT NULL""",
    // the roundtrip is the thing under test; the oracle aggregates the
    // parquet original — identical iff ORC preserved every value
    "q76_orc_roundtrip" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           max(l_shipdate) AS max_ship
         FROM lineitem GROUP BY l_returnflag""",
    "q50_columns" ->
      """SELECT * FROM (VALUES
           ('r_regionkey', 'int', true),
           ('r_name', 'string', true)) v(name, type, nullable)""",
    "q51_asof" ->
      """WITH clicks AS (
           SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
         ), errors AS (
           SELECT user_id, ts, max(value) AS value FROM events
           WHERE event_type = 'error' GROUP BY user_id, ts
         )
         SELECT c.event_id, c.user_id, e.value AS last_error_value
         FROM clicks c ASOF LEFT JOIN errors e
           ON c.user_id = e.user_id AND c.ts >= e.ts""",
    "q52_salted_agg" ->
      """SELECT l_returnflag AS key,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum,
           CAST(count(l_quantity) AS BIGINT) AS cnt
         FROM lineitem GROUP BY l_returnflag""",
    "q53_structs" ->
      """SELECT c_custkey, c_acctbal * 2 AS x2, c_custkey % 7 AS y
         FROM customer""",
    "q54_page" ->
      """SELECT c_custkey, c_mktsegment FROM customer
         ORDER BY c_custkey LIMIT 20 OFFSET 40""",
    "q55_fmt" ->
      """SELECT n_nationkey,
           'nation ' || n_name || ' is #' || CAST(n_nationkey AS VARCHAR) AS msg
         FROM nation""",
    "q57_char_range" ->
      "SELECT chr(CAST(range AS INT)) AS item FROM range(97, 107)",
    "x16_sessionize" ->
      """WITH e AS (
           SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
               THEN 1 ELSE 0 END AS new_s
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         ), s AS (
           SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS sid
           FROM e
         )
         SELECT user_id, min(ts) AS session_start,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM s GROUP BY user_id, sid""",
    "qb1_bench_t1" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, o_orderpriority
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority LIKE '%1%'""",
    "qb2_bench_t2" ->
      """SELECT n_name, r_name, CAST(count(*) AS BIGINT) AS num,
           array_to_string(list_sort(list_distinct(list(o_orderpriority))), ',') AS priorities
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
         GROUP BY n_name, r_name""",
    "qc1_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-06-01'
           AND l_shipdate > TIMESTAMP '1998-06-01'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "qc2_local_volume" ->
      """SELECT r_name, n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM supplier
           JOIN lineitem ON l_suppkey = s_suppkey
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
         WHERE s_nationkey = c_nationkey
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY r_name, n_name ORDER BY revenue DESC, n_name""",
    "qc3_returned_items" ->
      """SELECT c_custkey, c_name, n_name, c_acctbal,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1996-07-01'
         GROUP BY c_custkey, c_name, n_name, c_acctbal
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "qc4_nation_year_top2" ->
      """WITH by_year AS (
           SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
           FROM lineitem
             JOIN orders ON l_orderkey = o_orderkey
             JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey
           GROUP BY n_name, year(o_orderdate)
         )
         SELECT n_name, o_year, revenue, CAST(rk AS INT) AS rk FROM (
           SELECT *, rank() OVER (PARTITION BY n_name
             ORDER BY revenue DESC, o_year) AS rk
           FROM by_year
         ) WHERE rk <= 2""",
    "qc5_product_profit" ->
      """SELECT n_name, CAST(year(l_shipdate) AS INT) AS l_year,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS profit,
           CAST(count(DISTINCT p_partkey) AS BIGINT) AS n_parts
         FROM part
           JOIN lineitem ON l_partkey = p_partkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
         WHERE p_name LIKE '%red%'
         GROUP BY n_name, year(l_shipdate)
         ORDER BY n_name, l_year""",
    "qc6_order_count_histogram" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
           SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
           FROM customer c LEFT JOIN orders o
             ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
           GROUP BY c.c_custkey)
         GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC""",
    "qc7_dormant_rich_customers" ->
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
         FROM customer c
         WHERE c_acctbal > (
             SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                    / count(c_acctbal)
             FROM customer WHERE c_acctbal > 0.0)
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_totalprice > 350000.0)
         GROUP BY c_nationkey ORDER BY c_nationkey""",
    "qc8_small_qty_revenue" ->
      """WITH brand_lines AS (
           SELECT l_partkey, l_quantity, l_extendedprice
           FROM lineitem JOIN part ON p_partkey = l_partkey
           WHERE p_brand = 'Brand#12' AND p_size <= 10
         ), per_part AS (
           SELECT l_partkey AS a_partkey,
             sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
             count(*) AS cq
           FROM brand_lines GROUP BY l_partkey
         )
         SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
                AS avg_yearly
         FROM brand_lines JOIN per_part ON l_partkey = a_partkey
         WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * cq < sq""",
    "qc9_large_volume_customers" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey IN (
             SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
             HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250)
         GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "qc10_lone_late_suppliers" ->
      """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
         FROM lineitem l1
           JOIN orders ON l1.l_orderkey = o_orderkey
           JOIN supplier ON l1.l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
         WHERE o_orderstatus = 'F' AND n_name = 'NATION_7'
           AND l1.l_shipdate > o_orderdate + INTERVAL 365 DAY
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate > o_orderdate + INTERVAL 365 DAY)
         GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""",
    "qc11_excess_shippers" ->
      """WITH pair AS (
           SELECT l_partkey, l_suppkey,
             sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq
           FROM lineitem JOIN part ON p_partkey = l_partkey
           WHERE p_name LIKE '%bolt%'
             AND l_shipdate >= TIMESTAMP '1997-01-01'
             AND l_shipdate < TIMESTAMP '1998-01-01'
           GROUP BY l_partkey, l_suppkey
         ), tot AS (
           SELECT l_partkey AS t_partkey, sum(sq) AS tq
           FROM pair GROUP BY l_partkey
         )
         SELECT s_name, n_name
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         WHERE s_suppkey IN (
             SELECT l_suppkey FROM pair JOIN tot ON l_partkey = t_partkey
             WHERE sq * 2 > tq)
         ORDER BY s_name""",
    "qc12_top_supplier_by_nation" ->
      """WITH rev AS (
           SELECT l_suppkey AS r_suppkey,
             sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      (1 - CAST(l_discount AS DECIMAL(18,2)))
                      AS DECIMAL(38,4))) AS rev
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1998-01-01'
             AND l_shipdate < TIMESTAMP '1998-07-01'
           GROUP BY l_suppkey
         ), by_supp AS (
           SELECT n_nationkey, n_name, s_name, rev
           FROM supplier
             JOIN rev ON s_suppkey = r_suppkey
             JOIN nation ON s_nationkey = n_nationkey
         ), max_rev AS (
           SELECT n_nationkey AS m_nationkey, max(rev) AS mrev
           FROM by_supp GROUP BY n_nationkey
         )
         SELECT n_name, s_name, CAST(rev AS DOUBLE) AS total_rev
         FROM by_supp JOIN max_rev
           ON n_nationkey = m_nationkey AND rev = mrev
         ORDER BY n_name, s_name""",
    "qc13_two_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation n1 ON s_nationkey = n1.n_nationkey
           JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
           AND ((n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_19') OR
                (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_13'))
         GROUP BY supp_nation, cust_nation, l_year
         ORDER BY supp_nation, cust_nation, l_year""",
    "qc14_disjunctive_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 20 AND 30)""",
    "qc15_market_share" ->
      """SELECT CAST(year(l_shipdate) AS INT) AS o_year,
           round(
             CAST(sum(CASE WHEN n1.n_name = 'NATION_12'
               THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l_discount AS DECIMAL(18,2)))
                    AS DECIMAL(38,4))
               ELSE CAST(0 AS DECIMAL(38,4)) END) AS DOUBLE) /
             CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                  (1 - CAST(l_discount AS DECIMAL(18,2)))
                  AS DECIMAL(38,4))) AS DOUBLE), 6) AS mkt_share
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation n2 ON c_nationkey = n2.n_nationkey
           JOIN region ON n2.n_regionkey = r_regionkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation n1 ON s_nationkey = n1.n_nationkey
         WHERE r_name = 'ASIA'
           AND l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
         GROUP BY o_year ORDER BY o_year""",
    "qc16_important_parts" ->
      """WITH per_part AS (
           SELECT l_partkey,
             sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                  (1 - CAST(l_discount AS DECIMAL(18,2)))
                  AS DECIMAL(38,4))) AS part_rev
           FROM lineitem GROUP BY l_partkey)
         SELECT l_partkey, CAST(part_rev AS DOUBLE) AS value
         FROM per_part, (SELECT sum(part_rev) AS total_rev FROM per_part)
         WHERE part_rev * 2000 > total_rev
         ORDER BY value DESC, l_partkey""",
    "qc17_priority_waiting" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1997-01-01'
           AND o_orderdate < TIMESTAMP '1997-04-01'
           AND EXISTS (
             SELECT 1 FROM lineitem
             WHERE l_orderkey = o_orderkey
               AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "qc18_late_line_priority" ->
      """SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "qc19_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_base_price,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (1 - CAST(l_discount AS DECIMAL(18,2)))
                AS DECIMAL(38,4))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
                (100 - CAST(round(l_discount * 100) AS BIGINT)) *
                (100 + CAST(round(l_tax * 100) AS BIGINT))) AS BIGINT)
             AS sum_charge_micro,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) /
             count(l_quantity) AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) /
             count(l_extendedprice) AS avg_price,
           CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) /
             count(l_discount) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "qc20_forecast_revenue" ->
      """SELECT CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
               CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4)))
             AS DOUBLE) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
           AND l_discount BETWEEN CAST(0.05 AS DOUBLE) AND CAST(0.07 AS DOUBLE)
           AND l_quantity < 24""",
    "qc21_promo_effect" ->
      """SELECT round(100.0 *
           CAST(sum(CASE WHEN p_type = 'PROMO'
             THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                  (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4))
             ELSE CAST(0 AS DECIMAL(38,4)) END) AS DOUBLE) /
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4)))
             AS DOUBLE), 6) AS promo_revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1997-03-01'
           AND l_shipdate < TIMESTAMP '1997-04-01'""",
    "qc22_supplier_variety" ->
      """SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#45' AND p_size <= 20
           AND l_suppkey NOT IN (
             SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
         GROUP BY p_brand, p_type, p_size
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    "qc24_segment_conversion" ->
      """WITH f AS (
           SELECT user_id, epoch_us(ts) AS us, event_type FROM events
           WHERE event_type IN ('view', 'click', 'purchase')
             AND ts IS NOT NULL),
         u AS (SELECT DISTINCT user_id FROM f),
         s1 AS (SELECT user_id, min(us) AS t1 FROM f
                WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT f.user_id, min(us) AS t2 FROM f
                JOIN s1 USING (user_id)
                WHERE event_type = 'click' AND us > t1
                  AND us <= t1 + 604800000000 GROUP BY f.user_id),
         s3 AS (SELECT f.user_id, min(us) AS t3 FROM f
                JOIN s2 USING (user_id) JOIN s1 USING (user_id)
                WHERE event_type = 'purchase' AND us > t2
                  AND us <= t1 + 604800000000 GROUP BY f.user_id),
         dep AS (
           SELECT u.user_id,
             CASE WHEN t3 IS NOT NULL THEN 3
                  WHEN t2 IS NOT NULL THEN 2
                  WHEN t1 IS NOT NULL THEN 1
                  ELSE 0 END AS depth
           FROM u LEFT JOIN s1 USING (user_id)
                  LEFT JOIN s2 USING (user_id)
                  LEFT JOIN s3 USING (user_id))
         SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN depth >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clicked,
           CAST(sum(CASE WHEN depth = 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_converted
         FROM dep JOIN customer ON user_id = c_custkey
         GROUP BY c_mktsegment""",

    "qc23_region_trend" ->
      """WITH monthly AS (
           SELECT r_name,
             CAST(year(o_orderdate)*12 + month(o_orderdate) - 1 AS BIGINT) AS m,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           GROUP BY 1, 2)
         SELECT r_name, m, revenue,
           round(CAST(sum(CAST(revenue AS DECIMAL(18,2))) OVER w AS DOUBLE)
             / count(revenue) OVER w, 6) AS trend3
         FROM monthly
         WINDOW w AS (PARTITION BY r_name ORDER BY m
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""",
    "ql1_lang_groupby" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n FROM customer
         GROUP BY c_mktsegment ORDER BY n DESC, c_mktsegment""",
    "ql2_lang_join" ->
      """SELECT n_name AS name, CAST(count(*) AS BIGINT) AS population
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY population DESC, name""",
    "ql3_lang_selection" ->
      """SELECT l_orderkey, l_linenumber,
           CAST(floor(CAST(l_quantity AS DOUBLE) / 2) AS BIGINT) AS half
         FROM lineitem WHERE l_quantity > 30 AND l_returnflag = 'R'""",
    "ql4_lang_script" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
         ORDER BY c_custkey LIMIT 50""",
    // while r in 0..4, keep regions with even r → n_regionkey % 2 = 0
    "ql5_lang_controlflow" ->
      """SELECT n_nationkey, n_regionkey FROM nation
         WHERE n_regionkey % 2 = 0 ORDER BY n_nationkey""",
    "ql6_lang_funcs" ->
      """SELECT c_custkey,
           CASE WHEN (CASE WHEN c_custkey % 3 = 0 THEN 'Fizz' ELSE '' END
                   || CASE WHEN c_custkey % 5 = 0 THEN 'Buzz' ELSE '' END) <> ''
             THEN (CASE WHEN c_custkey % 3 = 0 THEN 'Fizz' ELSE '' END
                   || CASE WHEN c_custkey % 5 = 0 THEN 'Buzz' ELSE '' END)
             ELSE CAST(c_custkey AS VARCHAR) END AS fb,
           c_custkey * 10 AS s, c_custkey * 3 AS s2
         FROM customer WHERE c_custkey <= 100""",
    "ql7_lang_one" ->
      "SELECT c_custkey, c_name FROM customer WHERE c_custkey = 42",
    "ql8_lang_struct" ->
      """SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
           n_name AS nation_name
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         ORDER BY c_custkey LIMIT 100""",
    "ql9_lang_ddl" ->
      """SELECT CAST(id AS BIGINT) AS id, name, CAST(pts AS BIGINT) AS pts
         FROM (VALUES (1, 'alpha', 10), (2, 'beta', 20)) v(id, name, pts)""",
    "ql10_lang_strindex" ->
      """SELECT n_nationkey, substr(n_name, 1, 1) AS c0,
           substr(n_name, 8) AS suffix FROM nation""",
    "ql15_lang_methods" ->
      """SELECT CAST(id AS BIGINT) AS id, CAST(size AS DOUBLE) AS size,
           CAST(size * size AS DOUBLE) AS area
         FROM (VALUES (1, 2.0), (2, 3.0), (3, 4.0)) v(id, size)
         WHERE size * size > 5.0 ORDER BY id""",
    "ql17_lang_structs" ->
      """WITH circle(cx, cy, radius) AS (
           SELECT * FROM (VALUES (3.0, 3.0, 2.0), (20.0, 20.0, 2.0))),
         box(sx, sy, ex, ey) AS (
           SELECT * FROM (VALUES (1.0, 1.0, 10.0, 10.0), (1.0, 1.0, 2.0, 2.0)))
         SELECT c.cx, c.cy, c.radius AS r, b.sx, b.ex
         FROM circle c CROSS JOIN box b
         WHERE c.cx - c.radius >= b.sx AND c.cy - c.radius >= b.sy
           AND c.cx + c.radius <= b.ex AND c.cy + c.radius <= b.ey""",
    "ql16_lang_selfref" ->
      """WITH people AS (
           SELECT * FROM (VALUES (1, 'Abraham', NULL), (2, 'Isaac', 1),
             (3, 'Jacob', 2), (4, 'Esau', 2)) v(id, name, parent))
         SELECT p.name, CAST(count(c.id) AS BIGINT) AS c,
           COALESCE(STRING_AGG(c.name, ',' ORDER BY c.name), '') AS kids
         FROM people p LEFT JOIN people c ON c.parent = p.id
         GROUP BY p.name ORDER BY p.name""",
    "q67_values" ->
      """SELECT code, descr, w, w * 2 AS w2 FROM (VALUES
           (CAST(1 AS BIGINT), 'low', CAST(0.25 AS DOUBLE)),
           (2, 'mid', 0.5), (3, 'high', 0.25)) v(code, descr, w)""",
    "ql12_lang_primes" ->
      """SELECT CAST(unnest([2, 3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37,
           41, 43, 47, 53, 59, 61]) AS BIGINT) AS num""",
    "ql13_lang_varargs" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_quantity >= 10 AND l_quantity <= 15
         ORDER BY l_orderkey, l_linenumber""",
    "ql14_lang_module" ->
      """SELECT o_orderkey,
           CASE WHEN o_totalprice > 400000 THEN 'high' ELSE 'mid' END AS tier
         FROM orders WHERE o_totalprice > 250000 ORDER BY o_orderkey""",
    // transaction rolls `picked` back; AssertError (<= ValueError)
    // is caught; the handler picks region 2
    "ql11_lang_trycatch" ->
      """SELECT n_nationkey, n_name FROM nation
         WHERE n_regionkey = 2 ORDER BY n_nationkey""",
    "ql24_lang_or_values" ->
      """SELECT n_nationkey,
           CASE WHEN n_regionkey != 0 THEN n_regionkey ELSE 99 END AS r,
           CASE WHEN n_regionkey != 0 THEN n_nationkey ELSE n_regionkey END AS a
         FROM nation ORDER BY n_nationkey""",
    "ql25_lang_in_proj" ->
      """SELECT s_suppkey,
           s_nationkey IN (SELECT n_nationkey FROM nation
                           WHERE n_regionkey = 1) AS in_r1
         FROM supplier ORDER BY s_suppkey""",
    "ql23_lang_sql_self" ->
      """WITH RECURSIVE bfs(item) AS (
           SELECT n_nationkey FROM nation WHERE n_nationkey = 1
           UNION
           SELECT (e.n_nationkey * 2) % 25 FROM nation e
           JOIN bfs ON e.n_nationkey = bfs.item)
         SELECT item FROM bfs ORDER BY item""",
    "ql22_lang_matrices" ->
      """WITH m1("row", "col", "value") AS (VALUES
           (0,0,-1),(0,1,0),(0,2,6),(1,0,2),(1,1,5),(1,2,1)),
         m2("row", "col", "value") AS (VALUES
           (0,0,2),(0,1,-4),(0,2,9),(0,3,3),(1,0,0),(1,1,5),(1,2,1),
           (1,3,2),(2,0,3),(2,1,6),(2,2,-1),(2,3,1))
         SELECT CAST(m1."row" AS BIGINT) AS "row",
           CAST(m2."col" AS BIGINT) AS "col",
           CAST(sum(m1."value" * m2."value") AS BIGINT) AS "value"
         FROM m1 JOIN m2 ON m1."col" = m2."row"
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "ql18_lang_agg_collect" ->
      """SELECT n_regionkey,
           array_to_string(list_sort(list(n_nationkey * 2)), ',') AS ks
         FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""",
    "ql19_lang_if_truthy" ->
      """SELECT n_nationkey,
           CASE WHEN n_nationkey % 2 <> 0 THEN 'odd' ELSE 'even' END AS v
         FROM nation ORDER BY n_nationkey""",
    "ql20_lang_names" ->
      """SELECT name, type FROM (VALUES
           ('n_name', 'string'), ('n_nationkey', 't_id'),
           ('n_regionkey', 'int')) v(name, type) ORDER BY name""",
    "ql21_lang_new_exprs" ->
      """SELECT CAST(id AS BIGINT) AS id, CAST(x AS BIGINT) AS x,
           CAST(y AS BIGINT) AS y
         FROM (VALUES (1, 20, 5), (2, 7, 2)) v(id, x, y) ORDER BY id""",
    "q63_reflection" ->
      """SELECT c_custkey, 'float' AS t_bal, 'int' AS t_key,
           '"' || c_name || '"' AS r_name, true AS is_num
         FROM customer""",
    "q64_env_vars" ->
      """SELECT * FROM (VALUES ('nation', 'table'), ('t', 'table'),
           ('x', 'int')) v(name, kind)""",
    "q65_sample_fast" ->
      """SELECT c_custkey, c_name FROM (
           SELECT c_custkey, c_name,
             ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
           FROM customer
         ) ORDER BY h, c_custkey LIMIT 100""",
    "q61_json" ->
      """SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k2
         FROM events
         WHERE json_extract_string(props, '$.k') IS NOT NULL""",
    "q62_quantiles" ->
      """SELECT o_orderstatus,
           array_to_string([CAST(round(q, 6) AS VARCHAR)
             for q in quantile_cont(o_totalprice, [0.25, 0.5, 0.75])], ',') AS qs
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q58_corr" ->
      """WITH b AS (
           SELECT l_returnflag,
             CAST(l_quantity AS DECIMAL(18,2)) AS dx,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS dy
           FROM lineitem
         )
         SELECT l_returnflag,
           round((CAST(sum(CAST(dx * dy AS DECIMAL(38,4))) AS DOUBLE)
             - CAST(sum(dx) AS DOUBLE) * CAST(sum(dy) AS DOUBLE) / count(*))
             / (count(*) - 1.0), 4) AS cov,
           round(((CAST(sum(CAST(dx * dy AS DECIMAL(38,4))) AS DOUBLE)
             - CAST(sum(dx) AS DOUBLE) * CAST(sum(dy) AS DOUBLE) / count(*))
             / (count(*) - 1.0))
             / (sqrt((CAST(sum(CAST(dx * dx AS DECIMAL(38,4))) AS DOUBLE)
                 - CAST(sum(dx) AS DOUBLE) * CAST(sum(dx) AS DOUBLE) / count(*))
                 / (count(*) - 1.0))
               * sqrt((CAST(sum(CAST(dy * dy AS DECIMAL(38,4))) AS DOUBLE)
                 - CAST(sum(dy) AS DOUBLE) * CAST(sum(dy) AS DOUBLE) / count(*))
                 / (count(*) - 1.0))), 8) AS corr
         FROM b GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q59_ntile" ->
      """SELECT c_custkey,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           round(percent_rank() OVER w, 8) AS pr
         FROM customer
         WINDOW w AS (ORDER BY c_acctbal, c_custkey)""",
    "q60_cube" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS y, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n
         FROM orders GROUP BY CUBE (y, o_orderstatus)""",
    "q56_first_scalars" ->
      """SELECT (SELECT c_name FROM customer ORDER BY c_custkey LIMIT 1) AS first_name,
           CAST(1 AS BOOLEAN) AS empty_is_empty,
           CAST(NULL AS VARCHAR) AS first_of_empty""",
    "x38_line_dedup" ->
      """WITH tk AS (
           SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents
         ), ex AS (
           SELECT doc_id, unnest(toks) AS w,
             unnest(range(1, len(toks) + 1)) AS pos
           FROM tk
         ), exf AS (
           SELECT * FROM ex WHERE trim(w) <> ''
         ), bad AS (
           SELECT wk FROM (
             SELECT trim(w) AS wk, count(DISTINCT doc_id) AS dfreq
             FROM exf GROUP BY trim(w)
           ) WHERE dfreq > 300
         ), kept AS (
           SELECT e.doc_id, e.pos, e.w
           FROM exf e LEFT JOIN bad b ON trim(e.w) = b.wk WHERE b.wk IS NULL
         ), reb AS (
           SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS clean_text,
             count(*) AS n_kept
           FROM kept GROUP BY doc_id
         ), tot AS (
           SELECT doc_id, count(*) AS n_tot FROM exf GROUP BY doc_id
         )
         SELECT d.doc_id,
           coalesce(reb.clean_text, '') AS clean_text,
           coalesce(reb.n_kept, 0) AS n_kept,
           coalesce(tot.n_tot, 0) - coalesce(reb.n_kept, 0) AS n_removed
         FROM documents d
         LEFT JOIN reb ON d.doc_id = reb.doc_id
         LEFT JOIN tot ON d.doc_id = tot.doc_id""",

    "x39_corpus_mix" ->
      """WITH f AS (
           SELECT doc_id, source,
             CASE WHEN trim(text) = '' THEN 0
               ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt
           FROM documents
         ), tot AS (
           SELECT source, sum(nt) AS t FROM f GROUP BY source
         ), r AS (
           SELECT source,
             least(1.0, (CAST(20000 AS DOUBLE) *
               ((CASE WHEN source IN ('src0','src1','src2','src3')
                      THEN 3.0 ELSE 1.0 END) / 28.0)) / CAST(t AS DOUBLE))
               AS rate
           FROM tot
         )
         SELECT f.source, count(*) AS n_docs,
           CAST(sum(f.nt) AS BIGINT) AS kept_tokens
         FROM f JOIN r ON f.source = r.source
         WHERE CAST((('0x' || substr(md5('mix:' || f.source || ':' ||
             CAST(f.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000) AS DOUBLE)
             / 1000000.0 < r.rate
         GROUP BY f.source""",

    "x50_corpus_mix_upsampled" ->
      """WITH f AS (
           SELECT doc_id, source,
             CASE WHEN trim(text) = '' THEN 0
               ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt
           FROM documents
         ), tot AS (
           SELECT source, sum(nt) AS t FROM f GROUP BY source
         ), r AS (
           SELECT source,
             (CAST(100000 AS DOUBLE) *
               ((CASE WHEN source IN ('src0','src1','src2','src3')
                      THEN 3.0 ELSE 1.0 END) / 28.0)) / CAST(t AS DOUBLE)
               AS rate
           FROM tot
         ), rws AS (
           SELECT f.doc_id, f.source, f.nt,
             CAST(floor(r.rate) AS BIGINT) +
               CASE WHEN CAST((('0x' || substr(md5('mix:' || f.source || ':' ||
                   CAST(f.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000) AS DOUBLE)
                   / 1000000.0 < r.rate - floor(r.rate)
                 THEN 1 ELSE 0 END AS copies
           FROM f JOIN r ON f.source = r.source
         ), e AS (
           SELECT doc_id, source, nt,
             unnest(range(1, copies + 1)) AS epoch
           FROM rws
         )
         SELECT source, count(*) AS n_rows,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           max(epoch) AS max_epoch,
           CAST(sum(nt) AS BIGINT) AS kept_tokens
         FROM e GROUP BY source""",

    // scale-invariant self-check (like x62): every appended twin is
    // found through the index regardless of corpus size
    "x74_ivf_append" ->
      "SELECT true AS all_found, true AS nonempty",

    "x73_neardup_incremental" ->
      """WITH uni AS (
           SELECT 0 AS side, doc_id, text FROM documents
           UNION ALL
           SELECT 1, doc_id + 100000000, text FROM documents
           WHERE doc_id % 50 = 0
           UNION ALL
           SELECT 1, doc_id + 200000000,
             array_to_string(['q' || CAST(doc_id AS VARCHAR) || '_' ||
               CAST(j AS VARCHAR) for j in range(0, 5)], ' ')
           FROM documents WHERE doc_id % 70 = 3
           UNION ALL
           SELECT 1, doc_id + 300000000,
             array_to_string(['q' || CAST(doc_id AS VARCHAR) || '_' ||
               CAST(j AS VARCHAR) for j in range(0, 5)], ' ')
           FROM documents WHERE doc_id % 70 = 3
         ), toks AS (
           SELECT side, doc_id,
             regexp_split_to_array(trim(text), '\s+') AS tk,
             trim(text) AS tt
           FROM uni
         ), hb AS (
           SELECT side, doc_id,
             [('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647
               for s in (CASE WHEN len(tk) < 3 THEN [tt]
                 ELSE [array_to_string(tk[ii:ii+2], ' ')
                       for ii in range(1, len(tk) - 1)] END)] AS hs
           FROM toks
         ), sig AS (
           SELECT side, doc_id,
             [list_min([((('0x' || substr(md5('a_' || CAST(i AS VARCHAR)),
                 1, 7))::BIGINT * 2 + 1) * h
                 + ('0x' || substr(md5('b_' || CAST(i AS VARCHAR)),
                 1, 7))::BIGINT) % 2147483647
               for h in hs]) for i in range(0, 12)] AS sg
           FROM hb
         ), buckets AS (
           SELECT side, doc_id, b.b AS band,
             md5(array_to_string([CAST(x AS VARCHAR)
               for x in sg[b.b*3+1:b.b*3+3]], ',')) AS bucket
           FROM sig, (SELECT unnest(range(0, 4)) AS b) b
         ), vs_index AS (
           SELECT DISTINCT b1.doc_id
           FROM buckets b1
           JOIN buckets b0 ON b1.side = 1 AND b0.side = 0
             AND b1.band = b0.band AND b1.bucket = b0.bucket
           JOIN sig sa ON sa.side = 1 AND sa.doc_id = b1.doc_id
           JOIN sig sb ON sb.side = 0 AND sb.doc_id = b0.doc_id
           WHERE CAST(len([i for i in range(1, 13)
             if sa.sg[i] = sb.sg[i]]) AS DOUBLE) / 12 >= 0.9
         ), vs_batch AS (
           SELECT DISTINCT b2.doc_id
           FROM buckets b1
           JOIN buckets b2 ON b1.side = 1 AND b2.side = 1
             AND b1.band = b2.band AND b1.bucket = b2.bucket
             AND b1.doc_id < b2.doc_id
           JOIN sig sa ON sa.side = 1 AND sa.doc_id = b1.doc_id
           JOIN sig sb ON sb.side = 1 AND sb.doc_id = b2.doc_id
           WHERE CAST(len([i for i in range(1, 13)
             if sa.sg[i] = sb.sg[i]]) AS DOUBLE) / 12 >= 0.9
         )
         SELECT doc_id FROM uni
         WHERE side = 1
           AND doc_id NOT IN (SELECT doc_id FROM vs_index)
           AND doc_id NOT IN (SELECT doc_id FROM vs_batch)""",

    "x40_dedup_incremental" ->
      """WITH fp AS (
           SELECT doc_id,
             md5(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS fp
           FROM documents
         ), idx AS (
           SELECT DISTINCT fp FROM fp WHERE doc_id % 3 = 0
         ), inc AS (
           SELECT doc_id, fp FROM fp WHERE doc_id % 3 <> 0
           UNION ALL
           SELECT doc_id + 100000000, fp FROM fp WHERE doc_id % 50 = 0
         ), firsts AS (
           SELECT fp, min(doc_id) AS doc_id FROM inc GROUP BY fp
         )
         SELECT f.doc_id FROM firsts f
         LEFT JOIN idx i ON f.fp = i.fp WHERE i.fp IS NULL""",

    "x76_jsonl_shards" ->
      """SELECT ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
             1, 15))::BIGINT % 8 AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM documents GROUP BY 1""",

    "x41_shuffle_shards" ->
      """WITH h AS (
           SELECT doc_id,
             ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 8 AS shard,
             ('0x' || substr(md5('ord:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               AS hh
           FROM documents
         )
         SELECT shard, count(*) AS n_docs, min(doc_id) AS min_id,
           arg_min(doc_id, hh) AS first_doc
         FROM h GROUP BY shard""",

    // mirrors the ENGINE's definition exactly (bad-char count over
    // planted text, null text -> null, empty -> 0.0) rather than
    // assuming testdata text is clean/non-null — the gate must not
    // depend on what the driver happens to generate
    "x54_garbage_ratio" ->
      """SELECT doc_id,
           CASE WHEN t IS NULL THEN NULL
                WHEN length(t) = 0 THEN 0.0
                ELSE CAST(length(t) - length(regexp_replace(t,
                    '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f' || chr(65533) || ']',
                    '', 'g')) AS DOUBLE) / length(t)
           END AS garbage
         FROM (SELECT doc_id,
                 CASE WHEN doc_id % 13 = 0
                   THEN text || ' bad' || chr(65533) || chr(1) || 'tail'
                   ELSE text END AS t
               FROM documents)""",

    "x46_contamination" ->
      """WITH aug AS (
           SELECT doc_id,
             CASE WHEN doc_id % 97 = 0 OR doc_id % 9 = 1
               THEN text || ' ' || array_to_string(
                 ['c' || CAST(doc_id % 5 AS VARCHAR) || '_' || CAST(i AS VARCHAR)
                  for i in range(0, 10)], ' ')
               ELSE text END AS text
           FROM documents
         ), grams AS (
           SELECT doc_id,
             [('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647
               for s in (CASE WHEN len(tks) < 8 THEN [tt]
                 ELSE [array_to_string(tks[ii:ii+7], ' ')
                       for ii in range(1, len(tks) - 6)] END)] AS gh
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tks,
                   trim(text) AS tt FROM aug)
         ), benchg AS (
           SELECT DISTINCT u.g AS gh
           FROM grams, unnest(grams.gh) AS u(g) WHERE doc_id % 97 = 0
         ), t AS (
           SELECT doc_id, u.g AS gh
           FROM grams, unnest(grams.gh) AS u(g) WHERE doc_id % 97 <> 0
         ), hit AS (
           SELECT t.doc_id, count(*) AS n_grams,
             sum(CASE WHEN b.gh IS NULL THEN 0 ELSE 1 END) AS n_hit
           FROM t LEFT JOIN benchg b ON t.gh = b.gh GROUP BY t.doc_id
         )
         SELECT doc_id, n_grams, CAST(n_hit AS BIGINT) AS n_hit,
           CAST(n_hit AS DOUBLE) / n_grams AS contamination
         FROM hit""",

    "x47_repeated_spans" ->
      """WITH planted AS (
           SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
               THEN text || ' boiler plate terms of service apply all rights reserved today'
               ELSE text END AS text
           FROM documents
         ), tk AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tks,
             trim(text) AS tt
           FROM planted
         ), sp AS (
           SELECT doc_id, u.s AS span
           FROM tk, unnest(CASE WHEN len(tks) < 8 THEN [tt]
             ELSE [array_to_string(tks[ii:ii+7], ' ')
                   for ii in range(1, len(tks) - 6)] END) AS u(s)
         ), g AS (
           SELECT span, count(DISTINCT doc_id) AS n_docs,
             min(doc_id) AS first_doc
           FROM sp GROUP BY span
         )
         SELECT span, n_docs, first_doc FROM g WHERE n_docs >= 2""",

    "x51_span_dup_frac" ->
      """WITH planted AS (
           SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
               THEN text || ' boiler plate terms of service apply all rights reserved today'
               ELSE text END AS text
           FROM documents
         ), tk AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tks,
             trim(text) AS tt
           FROM planted
         ), sp AS (
           SELECT doc_id, u.s AS span
           FROM tk, unnest(CASE WHEN len(tks) < 8 THEN [tt]
             ELSE [array_to_string(tks[ii:ii+7], ' ')
                   for ii in range(1, len(tks) - 6)] END) AS u(s)
         ), rep AS (
           SELECT span FROM (
             SELECT span, count(DISTINCT doc_id) AS nd FROM sp GROUP BY span
           ) WHERE nd >= 2
         )
         SELECT s.doc_id, count(*) AS n_spans,
           CAST(sum(CASE WHEN r.span IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_dup,
           CAST(sum(CASE WHEN r.span IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
             / count(*) AS span_dup_frac
         FROM sp s LEFT JOIN rep r ON s.span = r.span
         GROUP BY s.doc_id""",

    "x43_quality_classifier" ->
      """WITH tk AS (
           SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []
               ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
           FROM documents
         ), sc AS (
           SELECT doc_id,
             CASE WHEN toks IS NULL THEN NULL
               ELSE 0.25 + coalesce(list_sum([
                 ((('0x' || substr(md5('w:' || CAST(
                       (('0x' || substr(md5(t), 1, 15))::BIGINT % 1024)
                       AS VARCHAR)), 1, 15))::BIGINT % 2001) - 1000) / 1024.0
                 for t in toks]), 0.0) END AS margin
           FROM tk
         )
         SELECT doc_id, margin,
           CAST(margin > 0.0 AS INT) AS keep
         FROM sc""",

    "x44_corpus_lifecycle" ->
      """WITH g AS (
           SELECT doc_id, text FROM (
             SELECT doc_id, text,
               CASE WHEN toks IS NULL THEN NULL
                 ELSE 0.25 + coalesce(list_sum([
                   ((('0x' || substr(md5('w:' || CAST(
                         (('0x' || substr(md5(t), 1, 15))::BIGINT % 1024)
                         AS VARCHAR)), 1, 15))::BIGINT % 2001) - 1000) / 1024.0
                   for t in toks]), 0.0) END AS margin
             FROM (
               SELECT doc_id, text,
                 CASE WHEN trim(text) = '' THEN []
                   ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
               FROM documents)
           ) WHERE margin > 0.0
         ), tk AS (
           SELECT doc_id, string_split(text, ' ') AS toks
           FROM g
         ), ex AS (
           SELECT doc_id, unnest(toks) AS w2,
             unnest(range(1, len(toks) + 1)) AS pos
           FROM tk
         ), exf AS (
           SELECT * FROM ex WHERE trim(w2) <> ''
         ), bad AS (
           SELECT wk FROM (
             SELECT trim(w2) AS wk, count(DISTINCT doc_id) AS df2
             FROM exf GROUP BY trim(w2)
           ) WHERE df2 > 100
         ), kept AS (
           SELECT e.doc_id, e.pos, e.w2
           FROM exf e LEFT JOIN bad b ON trim(e.w2) = b.wk WHERE b.wk IS NULL
         ), reb AS (
           SELECT doc_id, string_agg(w2, ' ' ORDER BY pos) AS clean_text,
             count(*) AS n_kept
           FROM kept GROUP BY doc_id
         ), fpt AS (
           SELECT doc_id, clean_text,
             md5(regexp_replace(lower(clean_text), '[^a-z0-9]+', '', 'g')) AS fp
           FROM reb WHERE n_kept > 0
         ), keepids AS (
           SELECT min(doc_id) AS doc_id FROM fpt GROUP BY fp
         ), ded AS (
           SELECT f.doc_id, f.clean_text
           FROM fpt f JOIN keepids k ON f.doc_id = k.doc_id
         ), lab AS (
           SELECT doc_id, clean_text,
             CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                  ELSE 'test' END AS split,
             ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 4 AS shard
           FROM (
             SELECT doc_id, clean_text,
               ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 % 100 AS b
             FROM ded)
         )
         SELECT split, shard, count(*) AS n_docs,
           CAST(sum(CASE WHEN trim(clean_text) = '' THEN 0
             ELSE len(regexp_split_to_array(trim(clean_text), '\s+')) END)
             AS BIGINT) AS n_tokens
         FROM lab GROUP BY split, shard""",

    "x42_semantic_dedup" ->
      """WITH RECURSIVE aug AS (
           SELECT vec_id, embedding, label FROM embeddings
           UNION ALL SELECT vec_id + 100000000, embedding, label
           FROM embeddings WHERE vec_id % 20 = 0
         ), pairs AS (
           SELECT id_a, id_b FROM (
             SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_sum([CAST(a.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE)
                 for i in range(0, len(a.embedding))])
               / (sqrt(list_sum([CAST(a.embedding[i+1] AS DOUBLE) * CAST(a.embedding[i+1] AS DOUBLE)
                   for i in range(0, len(a.embedding))]))
                 * sqrt(list_sum([CAST(b.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE)
                   for i in range(0, len(b.embedding))]))) AS sim
             FROM aug a JOIN aug b ON a.label = b.label AND a.vec_id < b.vec_id
           ) WHERE sim >= 0.999
         ), edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION SELECT id_b, id_a FROM pairs
         ), reach(src, dst) AS (
           SELECT src, src FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         ), canon AS (
           SELECT src AS id, min(dst) AS cl FROM reach GROUP BY src
         ), dropped AS (
           SELECT id FROM canon WHERE cl <> id
         )
         SELECT a.vec_id, a.label FROM aug a
         LEFT JOIN dropped dr ON a.vec_id = dr.id WHERE dr.id IS NULL""",

    "x15_dup_clusters" ->
      """WITH RECURSIVE docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id % 50 = 0
         ), toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk, trim(text) AS tt
           FROM docs
         ), hb AS (
           SELECT doc_id,
             [('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647
               for s in (CASE WHEN len(tk) < 3 THEN [tt]
                 ELSE [array_to_string(tk[ii:ii+2], ' ') for ii in range(1, len(tk) - 1)] END)] AS hs
           FROM toks
         ), sig AS (
           SELECT doc_id,
             [list_min([((('0x' || substr(md5('a_' || CAST(i AS VARCHAR)), 1, 7))::BIGINT * 2 + 1) * h
                 + ('0x' || substr(md5('b_' || CAST(i AS VARCHAR)), 1, 7))::BIGINT) % 2147483647
               for h in hs]) for i in range(0, 12)] AS sg
           FROM hb
         ), buckets AS (
           SELECT doc_id, b.b AS band,
             md5(array_to_string([CAST(x AS VARCHAR) for x in sg[b.b*3+1:b.b*3+3]], ',')) AS bucket
           FROM sig, (SELECT unnest(range(0, 4)) AS b) b
         ), cand AS (
           SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
           FROM buckets a JOIN buckets c
             ON a.band = c.band AND a.bucket = c.bucket AND a.doc_id < c.doc_id
         ), tsets AS (
           SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) AS ts
           FROM docs
         ), pairs AS (
           SELECT id_a, id_b FROM (
             SELECT id_a, id_b,
               CASE WHEN len(list_distinct(list_concat(ta.ts, tb.ts))) = 0 THEN 0.0
                 ELSE CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE)
                   / len(list_distinct(list_concat(ta.ts, tb.ts))) END AS jac
             FROM cand JOIN tsets ta ON id_a = ta.doc_id JOIN tsets tb ON id_b = tb.doc_id
           ) WHERE jac >= 0.8
         ), edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION SELECT id_b, id_a FROM pairs
         ), reach(src, dst) AS (
           SELECT src, src FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         )
         SELECT src AS doc_id, min(dst) AS canonical FROM reach GROUP BY src"""
  )
}
