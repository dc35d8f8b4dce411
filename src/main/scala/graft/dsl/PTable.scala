package graft.dsl

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.{BooleanType, DataType, DateType,
  DoubleType, LongType, StringType, StructField, StructType, TimestampType}
import graft.types.TableMeta

/** A named/aliased column: `name: expr` in a Preql projection
  * (reference: preql/core/pql_ast.py:152-162 NamedField; auto-naming
  * guess_field_name at compiler.py:131-148).
  */
final case class NamedCol(name: String, col: Column)

/** Sort key with direction; Preql `^x` = descending
  * (reference: preql/core/compiler.py:283-303).
  */
final case class Sort(col: Column, ascending: Boolean = true) {
  def spark: Column = if (ascending) col.asc else col.desc
}

/** The keyed-snapshot mark: `dir` is the manifest-keyed table the
  * frame was read from, `version` the manifest version it RESOLVED at
  * (recorded in the same manifest read — a base commit after the read
  * must not change what this frame answers), `conds` any selections
  * applied since (each one already filtering `df`). MV routing
  * requires the view's watermark to equal `version`, and can still
  * route a FILTERED frame when every condition touches only the
  * view's grain columns.
  */
final case class KeyedMark(dir: String, version: Int,
                           conds: Seq[Column] = Nil)

/** The engine's table value: a lazy Spark DataFrame plus engine-level
  * metadata (pk / fk). Semantically the reference's `TableInstance`
  * (type + deferred SQL tree, reference: preql/core/pql_objects.py:291-376)
  * — but the "deferred tree" here is Catalyst's logical plan, so every
  * chained operation stays declarative and the optimizer sees the whole
  * query (predicate pushdown / column pruning / join reorder for free).
  *
  * All operators are plan-building; nothing executes until an action.
  *
  * `keyedMark` marks a frame that IS the latest snapshot of a
  * manifest-keyed table (set only by the read_keyed face), pinned at
  * the manifest version it resolved from: the FIRST selection on such
  * a frame re-plans through `Maintenance.readKeyedWhere`, so
  * `read_keyed(dir)[k == 5]` pays a bucket-pruned point-read instead
  * of a full scan — the language-level twin of Delta/Iceberg's scan
  * planning. Selections PROPAGATE the mark (appending their
  * conditions), because a filtered snapshot is still MV-routable when
  * the predicate touches only grain columns; any other transformation
  * drops it (a projected/joined/unioned frame is no longer the raw
  * snapshot).
  */
final class PTable(val df: DataFrame, val meta: TableMeta,
                   val keyedMark: Option[KeyedMark] = None) {


  private def sameMeta(d: DataFrame): PTable = new PTable(d, meta)
  private def anon(d: DataFrame): PTable = new PTable(d, TableMeta.empty)

  /** Derived table keeping the pk/FK metadata of surviving columns —
    * the reference propagates column TYPES (incl. `t_relation`)
    * through projections and group-bys, so
    * `ratings{movieId => score: ...}` still auto-joins to `movies`
    * (examples/movie_recommender.pql `join(_: r, m: movies)`).
    */
  private def inherit(d: DataFrame, kept: Seq[String]): PTable = {
    val ks = kept.toSet
    new PTable(d, TableMeta("", pk = meta.pk.filter(ks),
      fks = meta.fks.filter(f => ks(f.column))))
  }

  def spark: SparkSession = df.sparkSession
  def schema: StructType = df.schema
  def columns: Seq[String] = df.columns.toSeq

  // ---- selection: t[cond1, cond2] (reference compiler.py:583-613) --------
  def where(conds: Column*): PTable = keyedMark match {
    case Some(mark) if conds.nonEmpty && mark.conds.isEmpty =>
      // predicate-planned read (first selection only): key-equality
      // conjuncts prune to their buckets, zone-mapped ranges skip via
      // manifest stats, anything else falls back to the unpruned read
      // + filter — semantics are identical either way (readKeyedWhere
      // applies the full predicate after resolution). The re-plan PINS
      // the mark's version: a base commit between read_keyed and this
      // selection must not change what the frame answers (the KeyedMark
      // contract — without the pin, MV routing at mark.version and the
      // scan plan at head could answer differently; ADVICE r12). The
      // mark survives with the conditions recorded: a grain-column-only
      // filter is still MV-routable.
      new PTable(graft.sources.Maintenance.readKeyedWhere(df.sparkSession,
        mark.dir, conds.reduce(_ && _), version = Some(mark.version)), meta,
        Some(mark.copy(conds = conds.toSeq)))
    case Some(mark) if conds.nonEmpty =>
      // later selections filter the already-pruned frame; the mark
      // accumulates them for routing
      new PTable(conds.foldLeft(df)((d, c) => d.filter(c)), meta,
        Some(mark.copy(conds = mark.conds ++ conds)))
    case _ => sameMeta(conds.foldLeft(df)((d, c) => d.filter(c)))
  }

  // ---- projection: t{a, name: expr, ...} (reference compiler.py:186-280) -
  def project(cols: NamedCol*): PTable = {
    val names = cols.map(_.name)
    if (names.distinct.size != names.size)
      throw new graft.types.TypeError(s"duplicate columns in projection: $names")
    inherit(df.select(cols.map(c => c.col.as(c.name)): _*), names)
  }

  /** Ellipsis projection `{..., extra}` / `{... !excluded}`:
    * remaining columns in declaration order, minus exclusions, plus
    * overrides appended (reference: compiler.py:80-128).
    */
  def projectAll(exclude: Seq[String] = Nil, extra: Seq[NamedCol] = Nil): PTable = {
    val overridden = extra.map(_.name).toSet
    val keep = df.columns.filterNot(c => exclude.contains(c) || overridden(c))
    inherit(df.select(keep.map(F.col).toSeq ++
      extra.map(c => c.col.as(c.name)): _*), keep.toSeq ++ extra.map(_.name))
  }

  // ---- group-by: t{keys => aggs} (reference compiler.py:217-280) ---------
  /** `{keys => aggs}`. Spark plans partial (map-side) + final
    * aggregation automatically — at 100 TB the shuffle carries one row
    * per (partition, key), not per input row.
    */
  def groupBy(keys: NamedCol*)(aggs: NamedCol*): PTable = {
    val keyed = df.groupBy(keys.map(k => k.col.as(k.name)): _*)
    aggs.toList match {
      case Nil =>
        // {keys =>} — distinct key combinations (compiler.py:275-280)
        inherit(df.select(keys.map(k => k.col.as(k.name)): _*).distinct(),
          keys.map(_.name))
      case a :: rest =>
        inherit(keyed.agg(a.col.as(a.name),
          rest.map(c => c.col.as(c.name)): _*), keys.map(_.name))
    }
  }

  /** `{=> aggs}` — global aggregation to a single row. */
  def aggAll(aggs: NamedCol*): PTable =
    anon(df.agg(aggs.head.col.as(aggs.head.name),
      aggs.tail.map(c => c.col.as(c.name)): _*))

  // ---- order / slice (reference compiler.py:283-303, 555-580) ------------
  def orderBy(keys: Sort*): PTable = sameMeta(df.orderBy(keys.map(_.spark): _*))

  /** `t[a..b]` — 0-based, end-exclusive. Spark's native OFFSET/LIMIT;
    * Catalyst plans GlobalLimit/CollectLimit (no single-partition sort
    * unless an orderBy precedes it).
    */
  def slice(from: Int, until: Int): PTable =
    sameMeta(if (from == 0) df.limit(until) else df.offset(from).limit(until - from))

  def limit(n: Int): PTable = sameMeta(df.limit(n))
  def page(index: Int, pageSize: Int): PTable =
    slice((index - 1) * pageSize, index * pageSize)

  // ---- set operations (reference pql_functions.py:385-417) ---------------
  /** `t1 + t2` = UNION ALL. */
  def +(o: PTable): PTable = anon(df.unionAll(o.df))
  /** `t1 | t2` = UNION (distinct). */
  def |(o: PTable): PTable = anon(df.unionAll(o.df).distinct())
  /** `t1 & t2` = INTERSECT. */
  def &(o: PTable): PTable = anon(df.intersect(o.df))
  /** `t1 - t2` = EXCEPT. */
  def -(o: PTable): PTable = anon(df.except(o.df))

  // ---- row-level ops -----------------------------------------------------
  def distinct: PTable = anon(df.distinct())

  /** `one`: assert exactly one row, return it
    * (reference evaluate.py:679-709).
    */
  def one(): Row = {
    val rows = df.take(2)
    if (rows.length != 1)
      throw new graft.types.ValueError(s"'one' expected 1 row, got ${rows.length}")
    rows(0)
  }

  /** LIMIT-1 existence probe (reference __builtins__.pql:192-197). */
  /** take(1) instead of Dataset.isEmpty (limit+groupBy+count): on a
    * driver-local plan (LocalRelation after ConvertToLocalRelation)
    * this answers without launching a Spark job — interpreter loops
    * probe emptiness per iteration.
    */
  def isEmpty: Boolean = df.take(1).isEmpty

  /** `first`: first value of the table's (single) leading column in
    * current order (reference __builtins__.pql:84-107).
    */
  def first(): Any = {
    val rows = df.take(1)
    if (rows.isEmpty) throw new graft.types.ValueError("'first' on empty table")
    rows(0).get(0)
  }

  /** `first_or_null` (reference __builtins__.pql:110-127). */
  def firstOrNull(): Any = df.take(1).headOption.map(_.get(0)).orNull

  /** `add_index`: no-op for correctness on columnar storage (as in the
    * reference for columnar targets, pql_functions.py:1059-1061); here
    * it clusters data by the given columns — repartition + sort within
    * partitions — which is what makes later scans/merge-joins on those
    * columns cheap at scale.
    */
  def addIndex(cols: String*): PTable =
    sameMeta(df.repartition(cols.map(F.col): _*)
      .sortWithinPartitions(cols.map(F.col): _*))

  /** `enum(t)`: attach a 0-based row index in the table's current order
    * (reference __builtins__.pql:290-311: row_number() over () - 1).
    *
    * Scale note (SURVEY §4): a no-partition window collapses to ONE
    * partition. We instead use GlobalIndex: per-partition counts + an
    * offset column — fully parallel, order-preserving, and pure
    * Catalyst expressions (no RDD round trip out of Tungsten).
    */
  def enum(indexName: String = "index"): PTable = {
    val indexed = graft.plans.GlobalIndex.withIndex(df, indexName)
    anon(indexed.select(F.col(indexName) +: df.columns.map(F.col): _*))
  }

  /** Deterministic sample by pk hash arithmetic — see PF.keyedSample. */
  def sampleByKey(key: Column, m: Int, keep: Int): PTable =
    sameMeta(df.filter(graft.functions.PF.keyedSample(key, m, keep)))

  /** Deterministic `sample_fast` twin: the n rows with the smallest
    * md5-derived uniforms over `key` — exactly n uniformly-chosen rows
    * (order statistics of iid uniforms), reproducible across engines
    * and partitionings, and planning as a heap top-k
    * (TakeOrderedAndProject) with no count pass or top-up job.
    */
  def sampleFastKeyed(n: Int, key: Column): PTable =
    sameMeta(df.orderBy(graft.ext.TextAnalysis.h60(key).asc, key.asc)
      .limit(n))

  /** `sample_ratio_fast(t, ratio)` (reference __builtins__.pql:515-518:
    * `tbl[random() < ratio]`): Bernoulli row sampling, evaluated
    * scan-side per row — identical semantics, fully parallel. Pass a
    * seed for reproducible tests; None = fresh randomness like the
    * reference.
    */
  def sampleRatioFast(ratio: Double, seed: Option[Long] = None): PTable =
    sameMeta(seed match {
      case Some(s) => df.sample(withReplacement = false, ratio, s)
      case None => df.sample(withReplacement = false, ratio)
    })

  /** `sample_fast(t, n, bias)` (reference __builtins__.pql:520-551):
    * one ratio-sample pass of `(1+bias)*n/count` capped at n, topped up
    * from the table head in the rare short case — at most two jobs,
    * like the reference's "one query (or at worst two)".
    *
    * The sizing count comes free from plan metadata when the plan
    * makes it exact (local relations, ranges); at cluster scale pass
    * `knownCount` from table metadata to skip the full scan the count
    * otherwise costs.
    */
  def sampleFast(n: Int, bias: Double = 0.05,
                 seed: Option[Long] = None,
                 knownCount: Option[Long] = None): PTable = {
    if (n <= 0) throw new graft.types.ValueError("n must be a number above 0")
    if (bias < 0) throw new graft.types.ValueError("Cannot have a negative bias")
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Range => LRange}
    val c = knownCount.getOrElse(df.queryExecution.optimizedPlan match {
      case lr: LocalRelation => lr.data.length.toLong
      case r: LRange => r.numElements.toLong
      case _ => df.count()
    })
    if (n > c) throw new graft.types.ValueError(
      "Asking for a sample size larger than the table")
    if (n == c) return this
    val ratio = math.min(1.0, (1 + bias) * n / c)
    val picked = sampleRatioFast(ratio, seed).df.limit(n)
      .localCheckpoint(true) // counted then unioned — compute once
    val got = picked.count()
    if (got == n) sameMeta(picked)
    else sameMeta(picked.unionAll(df.limit((n - got).toInt)))
  }

  // ---- copy-on-write mutation (reference evaluate.py:712-806) ------------
  /** `t update {col: expr} [conds]`: rows matching conds get the new
    * column values; all rows are returned (copy-on-write — Spark
    * DataFrames are immutable, so "update" is a projection).
    */
  def update(conds: Column)(assignments: (String, Column)*): PTable = {
    val amap = assignments.toMap
    val cols = df.columns.map { c =>
      amap.get(c) match {
        case Some(expr) => F.when(conds, expr).otherwise(F.col(c)).as(c)
        case None       => F.col(c)
      }
    }
    sameMeta(df.select(cols.toSeq: _*))
  }

  /** `t delete [conds]`: returns the remaining rows
    * (reference evaluate.py:720-754).
    */
  def delete(conds: Column): PTable = sameMeta(df.filter(!conds))

  // ---- plumbing ----------------------------------------------------------
  /** `inspect_sql` analogue (reference pql_functions.py:76-83): the
    * compiled plan instead of compiled SQL.
    */
  def explain(mode: String = "formatted"): Unit = df.explain(mode)

  /** `print t` sink (reference display, core/display.py): clipped
    * table preview to stdout — the REPL adds the row count.
    */
  def print(n: Int = 20): Unit = df.show(n, truncate = false)

  def cache(): PTable = sameMeta(df.cache())
  // renaming/re-annotating does NOT transform the frame — the pristine
  // keyed-snapshot mark survives (an assignment must not cost the
  // predicate-planned read)
  def named(n: String): PTable =
    new PTable(df, meta.copy(name = n), keyedMark)
  def withMeta(m: TableMeta): PTable = new PTable(df, m, keyedMark)
}

object PTable {
  def apply(df: DataFrame, meta: TableMeta = TableMeta.empty): PTable =
    new PTable(df, meta)

  /** Literal list `[1,2,3]` — a single-column table named `item`
    * (reference: pql_types.py:273 ITEM_NAME, compiler.py:394-437).
    */
  def fromList[T](spark: SparkSession, values: Seq[T]): PTable = {
    import spark.implicits._
    val df = values match {
      case vs: Seq[_] if vs.headOption.exists(_.isInstanceOf[Int]) =>
        vs.asInstanceOf[Seq[Int]].map(_.toLong).toDF("item")
      case vs: Seq[_] if vs.headOption.exists(_.isInstanceOf[Long]) =>
        vs.asInstanceOf[Seq[Long]].toDF("item")
      case vs: Seq[_] if vs.headOption.exists(_.isInstanceOf[String]) =>
        vs.asInstanceOf[Seq[String]].toDF("item")
      case vs: Seq[_] if vs.headOption.exists(_.isInstanceOf[Double]) =>
        vs.asInstanceOf[Seq[Double]].toDF("item")
      case _ => throw new IllegalArgumentException("unsupported literal list")
    }
    new PTable(df, TableMeta.empty)
  }

  /** Struct-row VALUES literal — an inline table of named-column rows
    * (reference sql.py:876-892 compiles struct rows to a VALUES
    * subquery). Types are inferred per column from the first non-null
    * value; a small local relation, broadcast-friendly by size.
    */
  def fromRows(spark: SparkSession, columns: Seq[String],
               rows: Seq[Seq[Any]]): PTable = {
    require(rows.nonEmpty && rows.forall(_.length == columns.length),
      "fromRows: every row must match the column list")
    def typeOf(i: Int): DataType =
      rows.iterator.map(_(i)).find(_ != null) match {
        case Some(_: Int) | Some(_: Long) => LongType
        case Some(_: Double) => DoubleType
        case Some(_: String) => StringType
        case Some(_: Boolean) => BooleanType
        case Some(_: java.sql.Timestamp) => TimestampType
        case Some(_: java.sql.Date) => DateType
        case Some(o) => throw new graft.types.TypeError(
          s"fromRows: unsupported value $o")
        case None => StringType
      }
    val schema = StructType(columns.zipWithIndex.map { case (c, i) =>
      StructField(c, typeOf(i))
    })
    // Validate EVERY row against the inferred column type up front: a
    // column mixing e.g. Long and String passes the shape require but
    // would otherwise die later at DataFrame encoding with an opaque
    // ClassCastException instead of a typed error naming the column.
    def compatible(v: Any, dt: DataType): Boolean = v match {
      case null => true
      case _: Int | _: Long => dt == LongType
      case _: Double => dt == DoubleType
      case _: String => dt == StringType
      case _: Boolean => dt == BooleanType
      case _: java.sql.Timestamp => dt == TimestampType
      case _: java.sql.Date => dt == DateType
      case _ => false
    }
    columns.indices.foreach { i =>
      val dt = schema(i).dataType
      rows.iterator.map(_(i)).find(!compatible(_, dt)).foreach { v =>
        throw new graft.types.TypeError(
          s"fromRows: column '${columns(i)}' was inferred as " +
            s"${dt.simpleString} but contains incompatible value " +
            s"$v (${v.getClass.getSimpleName})")
      }
    }
    val data = rows.map(r => Row.fromSeq(r.map {
      case i: Int => i.toLong
      case v => v
    }))
    new PTable(spark.createDataFrame(
      java.util.Arrays.asList(data: _*), schema), TableMeta.empty)
  }

  /** `[start..stop]` integer range, end-exclusive
    * (reference compiler.py:677-712). spark.range is already a
    * distributed, splittable source.
    */
  def range(spark: SparkSession, start: Long, stop: Long): PTable =
    new PTable(spark.range(start, stop).toDF("item"), TableMeta.empty)

  /** `char_range('a','e')` — characters from..until (end-exclusive),
    * one per row (reference __builtins__.pql:580-589).
    */
  def charRange(spark: SparkSession, from: Char, until: Char): PTable =
    new PTable(
      spark.range(from.toLong, until.toLong)
        .select(F.chr(F.col("id")).as("item")),
      TableMeta.empty)
}
