package graft.joins

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.DoubleType
import graft.dsl.PTable

/** The reference's n-ary named join family
  * (reference: preql/core/pql_functions.py:458-613): every join returns
  * a table of structs — one struct column per input table.
  *
  * Spark-first design notes:
  *  - We emit plain `df.join` with an equi- or theta-condition and let
  *    Catalyst choose the physical join. Equi-joins on big tables hash-
  *    shuffle on the key; call `.broadcastRight()`-style hints via
  *    `F.broadcast` for dimension tables so 100 TB fact scans never
  *    shuffle the small side.
  *  - Struct packing (`F.struct(cols)`) is pure projection — zero
  *    runtime cost under whole-stage codegen, and column pruning still
  *    reaches the scan because Catalyst prunes through struct fields.
  */
object Joins {

  sealed trait JoinKind { def spark: String }
  case object Inner extends JoinKind { def spark = "inner" }
  case object LeftOuter extends JoinKind { def spark = "left_outer" }
  case object FullOuter extends JoinKind { def spark = "full_outer" }
  case object Cross extends JoinKind { def spark = "cross" }

  /** One side of a join: alias + table + optional explicit join column
    * (`join(a: t1.x, b: t2.y)` form).
    */
  final case class Side(alias: String, table: PTable, joinCol: Option[String] = None)

  object Side {
    def apply(p: (String, PTable)): Side = Side(p._1, p._2)
  }

  /** Auto-join resolution (reference `_auto_join`/`_find_table_reference`
    * pql_functions.py:439-456, 619-625): find the FK in one side's meta
    * that references the other side's table; error on ambiguity.
    */
  private def autoJoinCond(a: Side, b: Side): Column = {
    val aFks = a.table.meta.fks.filter(_.refTable == b.table.meta.name)
    val bFks = b.table.meta.fks.filter(_.refTable == a.table.meta.name)
    (aFks, bFks) match {
      case (Seq(fk), Seq()) =>
        F.col(s"${a.alias}.${fk.column}") === F.col(s"${b.alias}.${fk.refColumn}")
      case (Seq(), Seq(fk)) =>
        F.col(s"${b.alias}.${fk.column}") === F.col(s"${a.alias}.${fk.refColumn}")
      case (Seq(), Seq()) => throw new IllegalArgumentException(
        s"Cannot auto-join '${a.table.meta.name}' and '${b.table.meta.name}': no FK relation")
      case _ => throw new IllegalArgumentException(
        s"Ambiguous auto-join between '${a.table.meta.name}' and '${b.table.meta.name}'")
    }
  }

  private def pairCond(a: Side, b: Side, on: Option[Column]): Column =
    on.getOrElse {
      (a.joinCol, b.joinCol) match {
        case (Some(ac), Some(bc)) =>
          F.col(s"${a.alias}.$ac") === F.col(s"${b.alias}.$bc")
        case _ => autoJoinCond(a, b)
      }
    }

  /** N-ary join folding left; struct-typed output (one struct per side).
    * `on` (Preql `$on:`) supplies an explicit theta predicate for the
    * final pair instead of column/FK resolution.
    */
  def joinN(kind: JoinKind, sides: Seq[Side], on: Option[Column] = None,
            broadcastAliases: Set[String] = Set.empty): PTable = {
    require(sides.size >= 2, "join needs at least 2 tables")
    def aliased(s: Side): DataFrame = {
      val d = s.table.df.alias(s.alias)
      if (broadcastAliases(s.alias)) F.broadcast(d) else d
    }
    var joined: DataFrame = aliased(sides.head)
    var prev: Side = sides.head
    for (s <- sides.tail) {
      val cond = if (kind == Cross) null else pairCond(prev, s, if (s == sides.last) on else None)
      joined =
        if (kind == Cross) joined.crossJoin(aliased(s))
        else joined.join(aliased(s), cond, kind.spark)
      prev = s
    }
    val structs = sides.map(s => F.struct(F.col(s"${s.alias}.*")).as(s.alias))
    // FK metadata rides through the join under the LEAF column name —
    // the reference propagates t_relation types onto struct fields, so
    // `join(...){...rating}{movieId => ...}` can still auto-join to
    // the referenced table (examples/movie_recommender.pql). Ambiguous
    // leaf names (same FK column on two sides) drop out.
    val fks = sides.flatMap(_.table.meta.fks)
      .groupBy(_.column).collect { case (_, Seq(one)) => one }.toSeq
    PTable(joined.select(structs: _*),
      graft.types.TableMeta("", fks = fks))
  }

  /** inner equi-join — `join(a: t1, b: t2)`. */
  def join(sides: (String, PTable)*): PTable =
    joinN(Inner, sides.map(Side(_)))

  /** left outer join — right structs become null on no-match
    * (reference pql_functions.py:582-587).
    */
  def leftjoin(sides: (String, PTable)*): PTable =
    joinN(LeftOuter, sides.map(Side(_)))

  /** full outer join on an explicit predicate (reference
    * pql_functions.py:589-594).
    */
  def outerjoinOn(on: Column, sides: (String, PTable)*): PTable =
    joinN(FullOuter, sides.map(Side(_)), Some(on))

  /** cartesian product — `joinall` (reference pql_functions.py:596-613). */
  def joinall(sides: (String, PTable)*): PTable =
    joinN(Cross, sides.map(Side(_)))

  /** semi-join: `t[col in other{c}]` (reference compile_binops.py:154-164).
    * left_semi never widens rows — at scale this beats `isin(collect)`.
    */
  def semi(t: PTable, col: String, other: PTable, otherCol: String): PTable =
    PTable(t.df.join(other.df, t.df(col) === other.df(otherCol), "left_semi"),
      t.meta)

  /** anti-join: `t[col !in other{c}]`. */
  def anti(t: PTable, col: String, other: PTable, otherCol: String): PTable =
    PTable(t.df.join(other.df, t.df(col) === other.df(otherCol), "left_anti"),
      t.meta)

  /** Positional zip join (reference __builtins__.pql:167-257): pair rows
    * by row index, Python-zip semantics. Index attachment uses
    * GlobalIndex (parallel, order-preserving, pure columns), never a
    * no-partition window.
    */
  private def indexed(t: PTable, alias: String): DataFrame =
    graft.plans.GlobalIndex.withIndex(t.df, "_zip_idx").alias(alias)

  private def zipKind(a: PTable, b: PTable, kind: String): PTable = {
    val ia = indexed(a, "a")
    val ib = indexed(b, "b")
    val joined = ia.join(ib, F.col("a._zip_idx") === F.col("b._zip_idx"), kind)
    val sa = F.struct(a.columns.map(c => F.col(s"a.$c")): _*).as("a")
    val sb = F.struct(b.columns.map(c => F.col(s"b.$c")): _*).as("b")
    PTable(joined.select(sa, sb))
  }

  /** zipjoin: stop at the shorter input (inner on index). */
  def zipjoin(a: PTable, b: PTable): PTable = zipKind(a, b, "inner")
  /** zipjoin_left: pad b with nulls to a's length. */
  def zipjoinLeft(a: PTable, b: PTable): PTable = zipKind(a, b, "left_outer")
  /** zipjoin_longest: pad both (full outer on index). */
  def zipjoinLongest(a: PTable, b: PTable): PTable = zipKind(a, b, "full_outer")

  /** As-of join (extension beyond the reference): for each left row,
    * attach the most recent right row with rightTs <= leftTs, per key.
    *
    * Scale design: the union + last_value-over-window trick, NOT a
    * range join — no quadratic candidate set. Equal timestamps: the
    * right row sorts before the left row, so a same-instant right row
    * matches (>= semantics, like DuckDB's ASOF JOIN).
    *
    * Skew hardening: a window partitioned by the key alone funnels a
    * hot key (one symbol = 30% of rows) into ONE task. Instead:
    *   1. slice time into `4 × partitions` equal buckets (one cheap
    *      min/max job; the slice id is a PURE FUNCTION of the row, so
    *      both plan branches agree with no materialization and no
    *      range-sampler nondeterminism);
    *   2. forward-fill per (key, slice) — the window's hash exchange
    *      keys on both, so a hot key splits across time slices;
    *   3. boundary carry-over: the last right-state of each
    *      (key, slice) cascades to later slices of the same key
    *      through a tiny per-key window over ≤slices rows per key,
    *      joined back and coalesced where the in-slice fill found
    *      nothing.
    * Residual bound: rows sharing one (key, timestamp-bucket) still
    * co-locate — pathological only when a single key concentrates in
    * a single time bucket.
    *
    * @param valueCols right-side columns to carry (attached with their
    *        own names; left keeps all its columns)
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String,
               valueCols: Seq[String], partitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    if (valueCols.isEmpty) return left
    val lCols = left.columns.toSeq
    val l = left
      .withColumn("_ts", F.col(leftTs))
      .withColumn("_side", F.lit(1))
      .select(Seq(F.col("_ts"), F.col("_side")) ++ keys.map(F.col) ++
        lCols.filterNot(keys.contains).map(F.col) ++
        valueCols.map(c => F.lit(null).cast(right.schema(c).dataType).as(s"_v_$c")): _*)
    val r = right
      .withColumn("_ts", F.col(rightTs))
      .withColumn("_side", F.lit(0))
      .select(Seq(F.col("_ts"), F.col("_side")) ++ keys.map(F.col) ++
        lCols.filterNot(keys.contains)
          .map(c => F.lit(null).cast(left.schema(c).dataType).as(c)) ++
        valueCols.map(c => F.col(c).as(s"_v_$c")): _*)
    val u0 = l.unionByName(r)
    val p =
      if (partitions > 0) partitions
      else u0.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // one cheap min/max job fixes the bucket grid; the slice id is
    // then a deterministic per-row expression — no repartitionByRange
    // (sampler nondeterminism) and no full-union checkpoint needed
    val tsNum = F.col("_ts").cast(DoubleType)
    val bounds = u0.agg(F.min(tsNum), F.max(tsNum)).head()
    val (lo, hi) =
      if (bounds.isNullAt(0)) (0.0, 0.0)
      else (bounds.getDouble(0), bounds.getDouble(1))
    val width = math.max((hi - lo) / (p.toDouble * 4), Double.MinPositiveValue)
    val ranged = u0.withColumn("_slice",
      F.least(F.floor((tsNum - lo) / width), F.lit(p * 4L - 1)))
    val slice = Window
      .partitionBy((F.col("_slice") +: keys.map(F.col)): _*)
      .orderBy(F.col("_ts").asc, F.col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = valueCols.foldLeft(ranged) { (df, c) =>
      df.withColumn(s"_f_$c",
        F.last(F.col(s"_v_$c"), ignoreNulls = true).over(slice))
    }
    // last right-state of each (key, slice) in ONE aggregation over the
    // union: max of (ts, value) structs among RIGHT rows (nulls for
    // left rows are skipped by max), so left-only slices come out as a
    // null state in the same pass — no separate distinct-slices scan
    // and join. Built from `ranged`, not from the window output, so the
    // heavy fill pipeline runs once.
    def stateAgg(c: String) =
      F.max(F.when(F.col("_side") === 0,
        F.struct(F.col("_ts"), F.col(s"_v_$c").as("v"))))
        .getField("v").as(s"_s_$c")
    val sliceKeys = F.col("_slice") +: keys.map(F.col)
    val states = ranged.groupBy(sliceKeys: _*)
      .agg(stateAgg(valueCols.head), valueCols.tail.map(stateAgg): _*)
    // cascade states across slices of the same key: ≤4P rows per key,
    // so this window is skew-free by construction
    val carry = Window.partitionBy(keys.map(F.col): _*)
      .orderBy(F.col("_slice").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carriesPlan = states
      .select(sliceKeys ++ valueCols.map(c =>
        F.last(F.col(s"_s_$c"), ignoreNulls = true).over(carry)
          .as(s"_c_$c")): _*)
    // materialize the tiny carry table and rebuild it from its RDD:
    // joining a frame back onto a subplan of its own lineage reuses
    // expression ids and misresolves the join keys (classic self-join
    // trap; same detach pattern as Graph.materialize)
    val ckpt = carriesPlan.localCheckpoint(true)
    val carries = u0.sparkSession.createDataFrame(ckpt.rdd, ckpt.schema)
    val joined = filled.join(carries, Seq("_slice") ++ keys, "left")
    val out = valueCols.foldLeft(joined) { (df, c) =>
      df.withColumn(c, F.coalesce(F.col(s"_f_$c"), F.col(s"_c_$c")))
    }
    out.filter(F.col("_side") === 1)
      .select((keys ++ lCols.filterNot(keys.contains) ++ valueCols)
        .map(F.col): _*)
  }

  /** Range join (extension): pair each left row with every right
    * interval containing its value — `v >= lo AND v < hi` (half-open).
    *
    * Scale design: a raw theta join plans as a nested-loop over the
    * cross product. Here both sides are BINNED on v/binSize: each left
    * row lands in exactly one bin, each interval explodes to the bins
    * it overlaps, and the join becomes an EQUI join on the bin id
    * (hash/broadcast-able, shuffles only on bin) followed by the exact
    * bound filter. A left row's bin is unique, so no pair duplicates.
    * Choose binSize near the typical interval width: candidate
    * pairs ≈ matches, and the explode factor stays ~O(1).
    */
  def rangeJoin(left: DataFrame, vCol: String,
                right: DataFrame, loCol: String, hiCol: String,
                binSize: Double): DataFrame = {
    val lb = left.withColumn("_bin", F.floor(F.col(vCol) / binSize))
    val rb = right.withColumn("_bin",
      F.explode(F.sequence(F.floor(F.col(loCol) / binSize),
        F.floor(F.col(hiCol) / binSize))))
    lb.join(rb, Seq("_bin"))
      .filter(F.col(vCol) >= F.col(loCol) && F.col(vCol) < F.col(hiCol))
      .drop("_bin")
  }
}
