package graft.catalog

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import graft.dsl.PTable
import graft.types.TableMeta

/** Mutable named-table registry with copy-on-write semantics — the
  * engine's answer to the reference's INSERT/UPDATE/DELETE surface
  * (reference: preql/core/evaluate.py:712-947) on top of immutable
  * DataFrames. "Mutation" rebinds the name to a new plan
  * (single-writer driver model).
  *
  * Scale notes:
  *  - insert of literal rows unions a tiny local relation onto the
  *    existing plan — no rewrite of the underlying data; a long chain
  *    of mutations should be compacted via `materialize`.
  *  - generated ids: `new` rows get maxId+1.. — the max-probe is a
  *    cheap agg over the id column (pruned scan). For bulk distributed
  *    id assignment use GlobalIndex offsets, never a global window.
  */
final class Catalog(val spark: SparkSession) {

  private val tables = mutable.LinkedHashMap[String, PTable]()

  /** Cached max-id per table: a `new` insert bumps it locally instead
    * of re-scanning an ever-longer union chain (one probe on first
    * insert, O(1) after — ids stay monotonic even across deletes, like
    * a sequence).
    */
  private val idCounters = mutable.Map[String, Long]()

  /** Driver-known row buffer for tables created EMPTY and grown only
    * via `insertRow` — each insert rebinds the table to ONE
    * LocalRelation instead of an ever-longer union chain, so
    * selections and emptiness probes over it fold driver-side
    * (Catalyst's ConvertToLocalRelation) and an interpreter procedure
    * loop costs ~zero Spark scheduling per probe. Conf-gated size
    * (`spark.graft.catalog.localLimit`); past the limit — or on any
    * plan-level rebind (register/insertAll/update/delete) — the
    * buffer drops and mutation falls back to the union path.
    */
  private val localRows = mutable.Map[String, Vector[Row]]()
  /** Mutations since last compaction per table; every
    * `autoCompactEvery` mutations the plan is materialized so reads
    * never replay an unbounded mutation history.
    */
  private val mutationCounts = mutable.Map[String, Int]()
  var autoCompactEvery: Int = graft.GraftConf.autoCompactEvery(spark)

  private def nextId(name: String, t: PTable, idCol: String): Long = {
    val next = idCounters.getOrElse(name, maxId(t, idCol)) + 1
    idCounters(name) = next
    next
  }

  private def touched(name: String): Unit = {
    if (localRows.contains(name)) return // single LocalRelation:
                                         // nothing to compact
    val n = mutationCounts.getOrElse(name, 0) + 1
    if (n >= autoCompactEvery) {
      materialize(name)
      mutationCounts(name) = 0
    } else mutationCounts(name) = n
  }

  def register(name: String, t: PTable): PTable = synchronized {
    val named = t.withMeta(t.meta.copy(name = name))
    // identity-preserving re-register (same binding) keeps the
    // driver-known row buffer; any real rebind invalidates it
    if (!tables.get(name).exists(_.df eq t.df)) localRows.remove(name)
    tables(name) = named
    idCounters.remove(name) // unknown id domain for the new binding
    named
  }

  def get(name: String): PTable =
    tables.getOrElse(name, throw new graft.types.NameError(s"unknown table '$name'"))

  /** The driver-known rows of a buffered table (created empty, grown
    * via `insertRow` only), if any — callers can answer selections/
    * emptiness probes over it without any Spark work.
    */
  def localRowsOf(name: String): Option[Vector[Row]] = synchronized {
    localRows.get(name)
  }

  /** Drop a table (reference drop_table) — a later `table name {...}`
    * creates fresh instead of re-attaching.
    */
  def remove(name: String): Unit = synchronized {
    tables -= name
    idCounters -= name
    mutationCounts -= name
    localRows -= name
  }

  def names: Seq[String] = tables.keys.toSeq

  /** `table Foo {...}` — create an empty table with an auto `id` pk
    * (reference evaluate.py:262-267 adds `id: t_id` unless `bare`).
    */
  def create(name: String, fields: Seq[StructField], bare: Boolean = false,
             fks: Seq[graft.types.FK] = Nil): PTable = {
    val schema =
      if (bare || fields.exists(_.name == "id")) StructType(fields)
      else StructType(StructField("id", LongType, nullable = false) +: fields)
    val df = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    // one critical section: register + counter + row buffer must be
    // atomic, or a concurrent insertRow between them sees no buffer,
    // appends via the union path, and the late buffer write then
    // claims the table is empty
    synchronized {
      val t = register(name, PTable(df,
        TableMeta(name, pk = if (bare) Nil else Seq("id"), fks = fks)))
      idCounters(name) = 0L // fresh empty table: no probe needed ever
      localRows(name) = Vector.empty // content fully driver-known
      t
    }
  }

  private def maxId(t: PTable, idCol: String): Long = {
    val v = t.df.agg(F.max(F.col(idCol))).head().get(0)
    if (v == null) 0L else v.asInstanceOf[Number].longValue()
  }

  private def fitId(id: Long, dt: DataType): Any = dt match {
    case IntegerType => id.toInt
    case ShortType   => id.toShort
    case _           => id
  }

  /** `new Table(values...)` — insert one row, return it with its
    * generated id. Values are frozen (evaluated eagerly — reference
    * evaluate.py:877-882).
    */
  /** Widen literal insert values to the column type (`new T(4)` into a
    * float column — standard SQL numeric coercion).
    */
  private def coerce(v: Any, dt: DataType): Any = (v, dt) match {
    case (l: Long, DoubleType) => l.toDouble
    case (i: Int, DoubleType) => i.toDouble
    case (l: Long, FloatType) => l.toFloat
    case (i: Int, FloatType) => i.toFloat
    case (i: Int, LongType) => i.toLong
    case (d: Double, FloatType) => d.toFloat
    // `new A("2021-04-02 22:28:41")` into a timestamp column
    // (reference test_dates: timestamp literals arrive as strings)
    case (s: String, TimestampType) =>
      try java.sql.Timestamp.valueOf(
        if (s.contains(" ") || s.contains("T")) s.replace("T", " ")
        else s + " 00:00:00")
      catch {
        case _: IllegalArgumentException =>
          throw new graft.types.TypeError(
            s"cannot cast '$s' to timestamp")
      }
    case (s: String, DateType) =>
      try java.sql.Date.valueOf(s)
      catch {
        case _: IllegalArgumentException =>
          throw new graft.types.TypeError(s"cannot cast '$s' to date")
      }
    // positional struct value `[1, 1]` against a StructType column:
    // fold element-wise (recursive, so nested structs work too)
    case (s: Seq[_], st: StructType) =>
      if (s.length != st.fields.length)
        throw new graft.types.TypeError(
          s"struct value has ${s.length} fields, expected " +
            s"${st.fields.length} (${st.fieldNames.mkString(", ")})")
      Row.fromSeq(s.zip(st.fields).map { case (x, f) => coerce(x, f.dataType) })
    case _ =>
      // validate the common primitives instead of letting the Row
      // encoder throw a raw ClassCastException later (typed errors,
      // like fromRows); unknown datatypes stay permissive
      val bad = (v, dt) match {
        case (null, _) => false
        case (_: Long, LongType) | (_: Double, DoubleType)
           | (_: String, StringType) | (_: Boolean, BooleanType) => false
        case (_, LongType) | (_, DoubleType) | (_, StringType)
           | (_, BooleanType) => true
        case _ => false
      }
      if (bad)
        throw new graft.types.TypeError(
          s"value $v (${v.getClass.getSimpleName}) does not fit column type ${dt.simpleString}")
      v
  }

  def insertRow(name: String, values: Map[String, Any]): Row = synchronized {
    val t = get(name)
    // pk-less tables (bare DDL, `table a = [expr]` const tables) take
    // values as-given — no id generation (reference
    // test_table_from_expr: `table a = [1..3]; new a(5)`)
    val idCol = t.meta.pk.headOption.filter(t.columns.contains)
    val idVal = idCol.map(ic => nextId(name, t, ic))
    val row = Row.fromSeq(t.schema.fields.map { f =>
      if (idCol.contains(f.name)) fitId(idVal.get, f.dataType)
      else coerce(values.getOrElse(f.name, null), f.dataType)
    }.toSeq)
    localRows.get(name) match {
      case Some(rows)
          if rows.length < graft.GraftConf.catalogLocalLimit(spark) =>
        // driver-known table: rebuild as ONE LocalRelation — probes
        // over it stay jobless in interpreter loops
        val grown = rows :+ row
        localRows(name) = grown
        import scala.jdk.CollectionConverters._
        tables(name) = PTable(
          spark.createDataFrame(grown.asJava, t.schema), t.meta)
      case Some(_) => // outgrew the buffer: fall back to union chains
        localRows.remove(name)
        val newDf =
          spark.createDataFrame(java.util.Arrays.asList(row), t.schema)
        tables(name) = PTable(t.df.unionByName(newDf), t.meta)
      case None =>
        val newDf =
          spark.createDataFrame(java.util.Arrays.asList(row), t.schema)
        tables(name) = PTable(t.df.unionByName(newDf), t.meta)
    }
    touched(name)
    row
  }

  /** `Table += expr` / `new[] Table(rows)` — INSERT..SELECT with
    * column matching by name; generated ids continue from current max
    * (reference evaluate.py:278-287, 810-847).
    */
  def insertAll(name: String, rows: DataFrame): PTable = synchronized {
    val t = get(name)
    val idCol = t.meta.pk.headOption.filter(t.columns.contains)
    val withId = idCol match {
      case Some(ic) if !rows.columns.contains(ic) =>
        val base = idCounters.getOrElse(name, maxId(t, ic))
        // GlobalIndex freezes the inserted relation (localCheckpoint),
        // so a nondeterministic plan (sample/limit) cannot drift the
        // realized ids from the counter, and assigns per-partition
        // offset ids as pure columns — never a single-partition window,
        // never an RDD exit. The count comes from the same offsets
        // pass (an action over the small INSERTED relation only).
        val (indexed, n) = graft.plans.GlobalIndex.withIndexAndCount(
          rows, ic, startAt = base + 1)
        idCounters(name) = base + n
        indexed.select((F.col(ic) +: rows.columns.map(F.col)): _*)
      case _ =>
        idCounters.remove(name) // caller-provided ids: reprobe next time
        rows
    }
    val merged = PTable(t.df.unionByName(withId, allowMissingColumns = true), t.meta)
    localRows.remove(name) // bulk insert: content no longer driver-known
    tables(name) = merged
    touched(name)
    merged
  }

  /** `t update {col: expr} [conds]` — copy-on-write rebind. */
  def update(name: String, conds: Column, assignments: (String, Column)*): PTable = synchronized {
    val t = get(name).update(conds)(assignments: _*)
    localRows.remove(name)
    tables(name) = t
    t
  }

  /** `t delete [conds]` — keep non-matching rows, rebind. */
  def delete(name: String, conds: Column): PTable = synchronized {
    val t = get(name).delete(conds)
    localRows.remove(name)
    tables(name) = t
    t
  }

  /** `temptable(expr, const?)` — materialize an expression as a new
    * catalog table; unless const, attach a fresh id column
    * (reference pql_functions.py:327-348).
    */
  def temptable(name: String, expr: PTable, const: Boolean = false): PTable = {
    val t =
      if (const) PTable(expr.df, TableMeta(name))
      else {
        val indexed = graft.plans.GlobalIndex.withIndex(
          expr.df, "id", startAt = 1)
        PTable(indexed.select((F.col("id") +: expr.df.columns.map(F.col)): _*),
          TableMeta(name, pk = Seq("id")))
      }
    register(name, t.cache())
  }

  /** Compact a mutation chain: materialize current plan (checkpoint-
    * style) so later reads don't replay every historical mutation.
    */
  def materialize(name: String): PTable = synchronized {
    val t = get(name)
    val compacted = PTable(t.df.localCheckpoint(eager = true), t.meta)
    tables(name) = compacted
    compacted
  }

  // ---- cross-session persistence (reference sql_interface.py:965-1025:
  // connect() to a file-backed DB reopens previously created tables;
  // commit() flushes) ------------------------------------------------------

  /** The directory this catalog is attached to (via `attach`);
    * `persist()` flushes back here.
    */
  private var backingDir: Option[String] = None

  /** Write every registered table + a pk/fk manifest to `dir` —
    * parquet per table, so a saved catalog is itself a valid Spark/
    * DuckDB dataset. Each table's mutation chain materializes into
    * the files (the parquet write IS the compaction); on a cluster
    * `dir` is any Hadoop-FS path.
    */
  def saveTo(dir: String): Unit = synchronized {
    import spark.implicits._
    // writing back to the directory the plans lazily scan from would
    // delete files mid-read — freeze every table's lineage off the
    // files first (localCheckpoint), then overwrite safely
    if (backingDir.contains(dir))
      tables.keys.toSeq.foreach(materialize)
    val entries = tables.toSeq.zipWithIndex.map { case ((name, t), i) =>
      t.df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
      (i, name, t.meta.pk,
        t.meta.fks.map(fk => Seq(fk.column, fk.refTable, fk.refColumn)))
    }
    entries.toDF("ord", "name", "pk", "fks")
      .coalesce(1).write.mode("overwrite").json(s"$dir/_graft_manifest")
  }

  /** Reopen a catalog saved with `saveTo`: reads the manifest, binds
    * every table (lazy parquet scans — nothing materializes until
    * read), and remembers `dir` so `persist()` writes back. Returns
    * the reopened table names in their original creation order.
    */
  def attach(dir: String): Seq[String] = synchronized {
    val md = new org.apache.hadoop.fs.Path(s"$dir/_graft_manifest")
    // no non-empty part file: no saved catalog (or one of no tables),
    // attach fresh (like connecting to a new database file — commit()
    // will create it). Read the part files: a `_` dir path is hidden
    val parts = graft.sources.Fs.listOrEmpty(
        md.getFileSystem(spark.sparkContext.hadoopConfiguration), md)
      .filter(s => s.getPath.getName.startsWith("part-") && s.getLen > 0)
      .map(_.getPath.toString)
    val names = if (parts.isEmpty) Seq.empty else spark.read.json(parts: _*)
      .select("ord", "name", "pk", "fks")
      .collect().sortBy(_.getLong(0)).map { r =>
      val name = r.getString(1)
      val pk = r.getSeq[String](2)
      val fks = r.getSeq[scala.collection.Seq[String]](3)
        .map(f => graft.types.FK(f(0), f(1), f(2)))
      val df = spark.read.parquet(s"$dir/$name.parquet")
      register(name, PTable(df, TableMeta(name, pk = pk, fks = fks.toSeq)))
      name
    }.toSeq
    backingDir = Some(dir)
    names
  }

  /** `commit()` (reference pql_functions.py 'commit'): flush mutated
    * tables back to the attached directory. No-op when the catalog is
    * in-memory only.
    */
  def persist(): Unit = backingDir.foreach(saveTo)

  def attachedTo: Option[String] = backingDir
}
