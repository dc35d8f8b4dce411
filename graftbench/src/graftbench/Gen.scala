package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

/** Seeded input generation. Everything a workload feeds the engine is
  * a pure function of `--seed`: op parameters come from a
  * `SplittableRandom` keyed on (seed, stream, index), and table rows
  * from hash expressions of (seed, salt, row id), which do not depend
  * on partitioning or task order.
  */
object Gen {

  /** SplitMix64 finalizer: a well-mixed 64-bit hash of `x`. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, stream: Long, i: Long): Long =
    mix(mix(mix(seed) ^ stream) ^ i)

  /** The random source for element `i` of `stream` under `seed`. */
  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(hash(seed, stream, i))

  /** Uniform long in [0, n) from a hash (n > 0). */
  def below(h: Long, n: Long): Long = java.lang.Math.floorMod(h, n)

  /** Zipf(s) ranks over [0, n), mapped to keys by a seeded affine
    * permutation so the hot keys differ from seed to seed.
    */
  final class Zipf(n: Int, s: Double, seed: Long) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      var acc = 0.0
      val c = new Array[Double](n)
      var r = 0
      while (r < n) { acc += w(r); c(r) = acc; r += 1 }
      c.map(_ / acc)
    }
    // an odd multiplier coprime to n permutes [0, n)
    private val mul: Long = {
      var m = (below(hash(seed, 7, 0), n.toLong) | 1L) max 3L
      while (BigInt(m).gcd(BigInt(n)) != 1) m += 2
      m
    }
    private val add: Long = below(hash(seed, 7, 1), n.toLong)

    def key(r: SplittableRandom): Long = {
      val u = r.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      (math.min(i, n - 1) * mul + add) % n
    }

    /** `count` distinct keys (fewer if the draw budget runs out). */
    def keys(r: SplittableRandom, count: Int): Array[Long] = {
      val out = scala.collection.mutable.LinkedHashSet[Long]()
      var tries = 0
      while (out.size < count && tries < count * 20) {
        out += key(r); tries += 1
      }
      out.toArray
    }
  }

  // ---- TPC-H-shaped tables for the language workload ----------------------

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
    "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
    "5-LOW")
  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Nations = Seq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT",
    "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ",
    "JAPAN", "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
    "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
    "UNITED STATES")
  val TypeA = Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
  val TypeB = Seq("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")
  val TypeC = Seq("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")
  val Flags = Seq("A", "N", "R")

  /** Row counts at scale factor 0.1 (TPC-H's 1.0 sizes ÷ 10). */
  val Suppliers = 1000
  val Customers = 15000
  val Parts = 20000
  val Orders = 150000

  /** Write region, nation, supplier, customer, part, orders and
    * lineitem (≈600k rows, 1–7 lines per order) as
    * `<dir>/<name>.parquet`, the layout `graft.sources.Tables.load`
    * reads.
    */
  def tpch(spark: SparkSession, seed: Long, dir: String, parts: Int): Unit = {
    // uniform [0, 1) from (seed, salt, key column)
    def u(salt: Int, key: Column): Column =
      F.pmod(F.xxhash64(F.lit(seed), F.lit(salt), key), F.lit(1L << 30))
        .cast("double") / (1L << 30).toDouble
    def pick(xs: Seq[String], salt: Int, key: Column): Column =
      F.element_at(F.array(xs.map(F.lit): _*),
        (F.floor(u(salt, key) * xs.length) + 1).cast("int"))
    def int(lo: Int, hi: Int, salt: Int, key: Column): Column =
      (F.floor(u(salt, key) * (hi - lo + 1)) + lo).cast("int")
    def money(lo: Double, hi: Double, salt: Int, key: Column): Column =
      F.round(u(salt, key) * (hi - lo) + lo, 2)
    val id = F.col("id")
    def range(n: Long) = spark.range(1, n + 1, 1, parts)

    val region = spark.range(0, Regions.length, 1, 1).select(
      id.cast("int").as("r_regionkey"),
      F.element_at(F.array(Regions.map(F.lit): _*), (id + 1).cast("int"))
        .as("r_name"))
    val nation = spark.range(0, Nations.length, 1, 1).select(
      id.cast("int").as("n_nationkey"),
      F.element_at(F.array(Nations.map(F.lit): _*), (id + 1).cast("int"))
        .as("n_name"),
      int(0, Regions.length - 1, 1, id).as("n_regionkey"))
    val supplier = range(Suppliers).select(id.as("s_suppkey"),
      F.format_string("Supplier#%09d", id).as("s_name"),
      int(0, Nations.length - 1, 2, id).as("s_nationkey"),
      money(-999.99, 9999.99, 3, id).as("s_acctbal"))
    val customer = range(Customers).select(id.as("c_custkey"),
      F.format_string("Customer#%09d", id).as("c_name"),
      int(0, Nations.length - 1, 4, id).as("c_nationkey"),
      money(-999.99, 9999.99, 5, id).as("c_acctbal"),
      pick(Segments, 6, id).as("c_mktsegment"))
    val part = range(Parts).select(id.as("p_partkey"),
      F.concat_ws(" ", pick(TypeB, 7, id), pick(TypeC, 8, id))
        .as("p_name"),
      F.concat(F.lit("Brand#"), int(1, 5, 9, id).cast("string"),
        int(1, 5, 10, id).cast("string")).as("p_brand"),
      F.concat_ws(" ", pick(TypeA, 11, id), pick(TypeB, 12, id),
        pick(TypeC, 13, id)).as("p_type"),
      int(1, 50, 14, id).as("p_size"),
      // TPC-H's retail price formula (seed-free by definition)
      ((F.lit(90000L) + F.pmod(F.floor(id / 10), F.lit(20001L)) +
        F.pmod(id, F.lit(1000)) * 100) / 100.0).as("p_retailprice"))
    // 1992-01-01 .. 1998-08-02, in days
    def orderDay(key: Column) = int(0, 2405, 15, key)
    def day(d: Column) =
      F.timestamp_seconds(F.lit(694224000L) + d.cast("long") * 86400L)
    val orders = range(Orders).select(id.as("o_orderkey"),
      (int(0, Customers - 1, 16, id) + 1).cast("long").as("o_custkey"),
      pick(Seq("F", "O", "P"), 17, id).as("o_orderstatus"),
      money(1000.0, 500000.0, 18, id).as("o_totalprice"),
      day(orderDay(id)).as("o_orderdate"),
      pick(Priorities, 19, id).as("o_orderpriority"))
    val lk = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    val lineitem = range(Orders)
      .select(id.as("l_orderkey"),
        F.explode(F.sequence(F.lit(1), int(1, 7, 20, id))).as("l_linenumber"),
        orderDay(id).as("od"))
      .select(F.col("l_orderkey"),
        (int(0, Parts - 1, 21, lk) + 1).cast("long").as("l_partkey"),
        (int(0, Suppliers - 1, 22, lk) + 1).cast("long").as("l_suppkey"),
        F.col("l_linenumber"),
        int(1, 50, 23, lk).cast("double").as("l_quantity"),
        money(900.0, 105000.0, 24, lk).as("l_extendedprice"),
        (int(0, 10, 25, lk) / 100.0).as("l_discount"),
        (int(0, 8, 26, lk) / 100.0).as("l_tax"),
        pick(Flags, 27, lk).as("l_returnflag"),
        pick(Seq("F", "O"), 28, lk).as("l_linestatus"),
        day(F.col("od") + int(1, 121, 29, lk)).as("l_shipdate"))
    val tables = Seq("region" -> region, "nation" -> nation,
      "supplier" -> supplier, "customer" -> customer, "part" -> part,
      "orders" -> orders, "lineitem" -> lineitem)
    tables.foreach { case (name, df) => df.write.parquet(s"$dir/$name.parquet") }
  }

  /** Order-independent fingerprint of a frame's rows: (count, sum of
    * 31-bit row hashes, xor of 64-bit row hashes).
    */
  def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val h = F.xxhash64(df.columns.map(F.col): _*)
    val r = df.agg(F.count(F.lit(1)), F.sum(F.pmod(h, F.lit(1L << 31))),
      F.bit_xor(h)).head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    (l(0), l(1), l(2))
  }
}
