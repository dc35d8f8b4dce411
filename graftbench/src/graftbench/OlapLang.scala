package graftbench

import org.apache.spark.sql.Row

import graft.lang.{Interp, Parser}
import graft.sources.Tables

/** `olap_lang`: one analyst session. Each op is one Preql program run
  * through `Interp.Session` over TPC-H-shaped tables (scale 0.1, loaded
  * with `Tables.load`), and its result is collected in full. Twelve
  * templates in a fixed order, literals drawn from the seed; half the
  * ops are dimension-table programs (fixed per-query cost dominates) and
  * half scan and shuffle lineitem/orders.
  *
  * `check` writes each result with its reference SQL to
  * `<run dir>/olap_results.jsonl`; after the JVM exits, run.py runs the
  * SQL in DuckDB over the same parquet files and compares (an engine
  * independent of Spark, and cheaper than a second Spark query per op).
  */
final class OlapLang(ctx: Ctx) extends Workload {
  import OlapLang._

  private var spark = ctx.spark
  private var session: Interp.Session = _
  private var dir: String = _
  private var last: (Array[String], Array[Row]) = _
  private var results: java.io.PrintWriter = _

  override def prepare(d: String): Unit = {
    dir = d
    Gen.tpch(spark, ctx.seed, d, ctx.cores)
    results = new java.io.PrintWriter(
      s"${ctx.runDir}/olap_results.jsonl", "UTF-8")
    results.println(Json.obj("tables" -> Json.obj(TableNames.map(t =>
      s"raw_$t" -> Json.str(s"$d/$t.parquet")): _*)))
  }

  /** A fresh SQL session binding the tables, as an analyst's session
    * starts.
    */
  def build(unused: String): Unit = {
    spark = ctx.spark.newSession()
    ctx.tracer.watch(spark)
    session = new Interp.Session(spark,
      TableNames.map(t => t -> Tables.load(spark, dir, t)): _*)
  }

  def warmupOps: Int = Templates.length

  /** Warmup runs each template once; timed ops follow `Cycle`. */
  def op(i: Int): Op = {
    val t =
      if (i < 0) Templates((-i - 1) % Templates.length)
      else Cycle(i % Cycle.length)
    t.make(Gen.rng(ctx.seed, 1, i)).copy(index = i)
  }

  def run(o: Op): Long = {
    val p = o.asInstanceOf[Program]
    val tr = ctx.tracer
    if (tr.enabled) tr.span("lang", "parse")(Parser.parse(p.src))
    val df = tr.span("lang", "run")(session.run(p.src)).df
    val rows = tr.span("exec", "collect")(df.collect())
    last = (df.columns, rows)
    rows.length.toLong
  }

  /** Records the result for the DuckDB comparison; see the class doc. */
  def check(o: Op): Boolean = {
    val p = o.asInstanceOf[Program]
    val (cols, rows) = last
    results.println(Json.obj("op" -> p.index.toString, "sql" -> Json.str(p.sql),
      "ordered" -> p.ordered.toString,
      "columns" -> Json.arr(cols.toSeq.map(Json.str)),
      "rows" -> Json.arr(rows.toSeq.map(r =>
        Json.arr(r.toSeq.map(Json.value))))))
    true
  }

  def finish(): Seq[String] = { results.close(); Nil }

  /** The tables are written once and never rewritten. */
  def spaceAmp(): Double = {
    val stored = graft.sources.Maintenance.dirBytes(spark, dir)
    stored.toDouble / TableNames.map(t =>
      graft.sources.Maintenance.dirBytes(spark, s"$dir/$t.parquet")).sum
  }

  def finalLayerFacts(): Map[String, Double] = Map(
    "stored_bytes" -> graft.sources.Maintenance.dirBytes(spark, dir).toDouble)
}

object OlapLang {
  val TableNames = Seq("region", "nation", "supplier", "customer", "part",
    "orders", "lineitem")

  /** A Preql program and the Spark SQL over the raw files that must
    * return the same rows (`ordered`: in the same order).
    */
  final case class Program(kind: String, src: String, sql: String,
                           ordered: Boolean, index: Int = 0) extends Op {
    def text: String = s"$kind|$src|$sql"
  }

  final case class Template(kind: String,
                            make0: java.util.SplittableRandom => Program) {
    def make(r: java.util.SplittableRandom): Program = make0(r)
  }

  private def pick[T](r: java.util.SplittableRandom, xs: Seq[T]): T =
    xs(r.nextInt(xs.length))
  private def int(r: java.util.SplittableRandom, lo: Int, hi: Int): Int =
    lo + r.nextInt(hi - lo + 1)

  // Literals select fixed-width windows of uniform columns, so each
  // template's work and result size stay nearly the same from seed to
  // seed; no template returns more than a few hundred rows, so no single
  // op dominates rows_per_s.
  val Light: Seq[Template] = Seq(
    Template("dim_filter", r => {
      val lo = int(r, 0, 8000); val hi = lo + 1000
      val seg = pick(r, Gen.Segments)
      Program("dim_filter",
        s"customer[c_acctbal >= $lo.0, c_acctbal < $hi.0, c_mktsegment == '$seg']{c_custkey, c_name, bal: c_acctbal}",
        s"SELECT c_custkey, c_name, c_acctbal AS bal FROM raw_customer WHERE c_acctbal >= $lo.0 AND c_acctbal < $hi.0 AND c_mktsegment = '$seg'",
        ordered = false)
    }),
    Template("dim_groupby", r => {
      val lo = int(r, 1, 30); val hi = lo + 20
      Program("dim_groupby",
        s"part[p_size >= $lo, p_size <= $hi]{p_brand => n: count(), avg_price: mean(p_retailprice)}",
        s"SELECT p_brand, count(*) AS n, avg(p_retailprice) AS avg_price FROM raw_part WHERE p_size >= $lo AND p_size <= $hi GROUP BY p_brand",
        ordered = false)
    }),
    Template("dim_join", r => {
      val lo = int(r, 0, 6000); val hi = lo + 3000
      Program("dim_join",
        s"c2 = customer[c_acctbal >= $lo.0, c_acctbal < $hi.0]\njoin(c: c2, n: nation, $$on: c.c_nationkey == n.n_nationkey){name: n.n_name => population: count(), bal: sum(c.c_acctbal)}",
        s"SELECT n.n_name AS name, count(*) AS population, sum(c.c_acctbal) AS bal FROM raw_customer c JOIN raw_nation n ON c.c_nationkey = n.n_nationkey WHERE c.c_acctbal >= $lo.0 AND c.c_acctbal < $hi.0 GROUP BY n.n_name",
        ordered = false)
    }),
    Template("dim_semijoin", r => {
      val reg = int(r, 0, 4)
      Program("dim_semijoin",
        s"supplier[s_nationkey in nation[n_regionkey == $reg]{n_nationkey}]{s_suppkey, s_name, s_acctbal}",
        s"SELECT s_suppkey, s_name, s_acctbal FROM raw_supplier WHERE s_nationkey IN (SELECT n_nationkey FROM raw_nation WHERE n_regionkey = $reg)",
        ordered = false)
    }),
    Template("dim_topk", r => {
      val size = int(r, 1, 50); val k = int(r, 10, 50)
      Program("dim_topk",
        s"part[p_size == $size] order {^p_retailprice, p_partkey} [..$k] {p_partkey, p_name, p_retailprice}",
        s"SELECT p_partkey, p_name, p_retailprice FROM raw_part WHERE p_size = $size ORDER BY p_retailprice DESC, p_partkey LIMIT $k",
        ordered = true)
    }),
    Template("dim_groupby_sorted", r => {
      val lo = int(r, 0, 5000); val hi = lo + 5000
      Program("dim_groupby_sorted",
        s"supplier[s_acctbal >= $lo.0, s_acctbal < $hi.0]{s_nationkey => n: count(), bal: sum(s_acctbal)} order {s_nationkey}",
        s"SELECT s_nationkey, count(*) AS n, sum(s_acctbal) AS bal FROM raw_supplier WHERE s_acctbal >= $lo.0 AND s_acctbal < $hi.0 GROUP BY s_nationkey ORDER BY s_nationkey",
        ordered = true)
    }))

  val Heavy: Seq[Template] = Seq(
    Template("fact_filter", r => {
      val q = int(r, 1, 50); val d = int(r, 0, 10) / 100.0
      val f = pick(r, Gen.Flags)
      Program("fact_filter",
        s"lineitem[l_quantity == $q.0, l_discount == $d, l_returnflag == '$f']{l_orderkey, l_linenumber, rev: l_extendedprice * (1 - l_discount)}",
        s"SELECT l_orderkey, l_linenumber, l_extendedprice * (1 - l_discount) AS rev FROM raw_lineitem WHERE l_quantity = $q.0 AND l_discount = $d AND l_returnflag = '$f'",
        ordered = false)
    }),
    Template("fact_groupby", r => {
      val k = int(r, 0, 4); val lo = k / 100.0; val hi = (k + 4) / 100.0
      Program("fact_groupby",
        s"lineitem[l_tax >= $lo, l_tax <= $hi]{l_returnflag, l_linestatus => n: count(), qty: sum(l_quantity), price: sum(l_extendedprice), disc: mean(l_discount)}",
        s"SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, sum(l_extendedprice) AS price, avg(l_discount) AS disc FROM raw_lineitem WHERE l_tax >= $lo AND l_tax <= $hi GROUP BY l_returnflag, l_linestatus",
        ordered = false)
    }),
    Template("fact_join", r => {
      val lo = int(r, 1000, 400000); val hi = lo + 100000
      Program("fact_join",
        s"o2 = orders[o_totalprice >= $lo.0, o_totalprice < $hi.0]\njoin(o: o2, c: customer, $$on: o.o_custkey == c.c_custkey){seg: c.c_mktsegment, status: o.o_orderstatus => n: count(), tot: sum(o.o_totalprice)}",
        s"SELECT c.c_mktsegment AS seg, o.o_orderstatus AS status, count(*) AS n, sum(o.o_totalprice) AS tot FROM raw_orders o JOIN raw_customer c ON o.o_custkey = c.c_custkey WHERE o.o_totalprice >= $lo.0 AND o.o_totalprice < $hi.0 GROUP BY c.c_mktsegment, o.o_orderstatus",
        ordered = false)
    }),
    Template("fact_semijoin", r => {
      val q = int(r, 1, 50); val d = int(r, 0, 10) / 100.0
      Program("fact_semijoin",
        s"orders[o_orderkey in lineitem[l_quantity == $q.0, l_discount == $d]{l_orderkey}]{o_orderpriority => n: count(), tot: sum(o_totalprice)}",
        s"SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS tot FROM raw_orders WHERE o_orderkey IN (SELECT l_orderkey FROM raw_lineitem WHERE l_quantity = $q.0 AND l_discount = $d) GROUP BY o_orderpriority",
        ordered = false)
    }),
    Template("fact_topk", r => {
      val f = pick(r, Gen.Flags); val k = int(r, 10, 100)
      Program("fact_topk",
        s"lineitem[l_returnflag == '$f'] order {^l_extendedprice, l_orderkey, l_linenumber} [..$k] {l_orderkey, l_linenumber, l_extendedprice}",
        s"SELECT l_orderkey, l_linenumber, l_extendedprice FROM raw_lineitem WHERE l_returnflag = '$f' ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT $k",
        ordered = true)
    }),
    // TPC-H Q18's shape: group-HAVING, `in` semi-join, explicit join,
    // re-aggregation, descending top-20
    Template("q18_composed", r => {
      val t = int(r, 230, 260)
      Program("q18_composed",
        s"big = lineitem{l_orderkey => sum_qty: sum(l_quantity)}[sum_qty > $t.0]\nsel = orders[o_orderkey in big{l_orderkey}]\njoin(o: sel, l: lineitem, $$on: o.o_orderkey == l.l_orderkey) {okey: o.o_orderkey, price: o.o_totalprice => n_lines: count(), qty: sum(l.l_quantity)} order {^price, okey} [..20]",
        s"SELECT o.o_orderkey AS okey, o.o_totalprice AS price, count(*) AS n_lines, sum(l.l_quantity) AS qty FROM raw_orders o JOIN raw_lineitem l ON o.o_orderkey = l.l_orderkey WHERE o.o_orderkey IN (SELECT l_orderkey FROM raw_lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > $t.0) GROUP BY o.o_orderkey, o.o_totalprice ORDER BY price DESC, okey LIMIT 20",
        ordered = true)
    }))

  val Templates: Seq[Template] = Light ++ Heavy

  /** Thirty ops alternating dimension and fact programs, fifteen each.
    * The counts place the median among the mid-cost programs and p90
    * among the slower fact programs rather than in a gap between two
    * clusters of latencies, where a few ms would move it a long way:
    * dim_filter, dim_semijoin, dim_topk twice; the other dimension
    * templates three times; fact_groupby twice, q18_composed once, the
    * other fact templates three times.
    */
  val Cycle: IndexedSeq[Template] = {
    def t(kind: String) = Templates.find(_.kind == kind).get
    Seq("dim_filter", "fact_filter", "dim_groupby", "fact_join", "dim_join",
      "fact_topk", "dim_groupby_sorted", "fact_semijoin", "dim_semijoin",
      "fact_groupby", "dim_topk", "fact_filter", "dim_groupby", "fact_join",
      "dim_join", "fact_topk", "dim_groupby_sorted", "fact_semijoin",
      "dim_filter", "q18_composed", "dim_semijoin", "fact_filter",
      "dim_groupby", "fact_join", "dim_join", "fact_topk",
      "dim_groupby_sorted", "fact_semijoin", "dim_topk", "fact_groupby")
      .map(t).toIndexedSeq
  }
}
