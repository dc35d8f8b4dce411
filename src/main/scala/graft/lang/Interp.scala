package graft.lang

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import graft.dsl.{NamedCol, PTable, Sort}
import graft.functions.PF
import graft.joins.Joins
import graft.types.{NameError, TypeError, ValueError}

/** Interpreter for the reference-language front-end: evaluates parsed
  * programs against PTable values, so a user of the reference can run
  * queries in the original syntax on Spark:
  *
  *   Interp.run(spark, "customer{c_mktsegment => n: count()} order {^n}",
  *     "customer" -> customerTable)
  *
  * Table operators compile to the graft DSL (hence plain Catalyst
  * plans); nothing is interpreted row-by-row. Driver-side control flow
  * (`if`/`while`/`for`, reference evaluate.py:338-356) steers WHICH
  * plans get built; scalar variables substitute into expressions as
  * literals (vars shadow columns, like the reference's scoping).
  *
  * Supported: projections (incl. ellipsis/exclusions, `{...struct}`
  * inlining and all three group-by forms), selections (incl. `in`/`!in`
  * against tables → semi/anti joins), slices, order, update/delete,
  * joins (auto-join via FK metadata, explicit `on:`), ranges, list
  * literals, `one`/`one?`, user funcs with defaults + named arguments,
  * the full operator ladder with the reference's semantics (`/` float,
  * `/~` floor, null-safe `==`, `~` like, value-returning `and`/`or`),
  * and the §2 function library.
  */
object Interp {
  import Ast._

  /** A binding: a table or a driver-side scalar. */
  private sealed trait V
  private final case class VT(t: PTable) extends V
  private final case class VS(v: Any) extends V

  /** Driver-side dict value — what a varargs collector binds and what
    * `f(a:1, b:2)` evaluates to (reference ast.Dict_,
    * pql_objects.py:110-212). Field order is call order.
    */
  private[lang] final case class DictV(fields: Seq[(String, Any)]) {
    override def toString: String =
      fields.map { case (k, v) => s"$k: $v" }.mkString("{", ", ", "}")
  }

  /** A localized row of `table` (reference RowType): structural
    * equality, attr access via the scalars fold.
    */
  private[lang] final case class RowV(table: String,
                                      fields: Seq[(String, Any)]) {
    override def toString: String =
      fields.map { case (k, v) => s"$k: $v" }.mkString(s"row $table{", ", ", "}")
  }

  /** A first-class type value (reference: types are objects,
    * pql_functions.py:246-278) — `type(10/3)` evaluates to one, bare
    * `float`/`int` in scalar position name one, and `==` compares by
    * name, so `type(10/3) == float` holds.
    */
  private[lang] final case class TypeV(name: String) {
    override def toString: String = name
  }

  /** Bare identifiers that denote types in scalar expression position
    * (reference pql_types primitives + supertypes).
    */
  private val typeIdents: Set[String] = Set(
    "int", "float", "string", "bool", "text", "number", "primitive",
    "timestamp", "date", "nulltype", "any")

  /** `exit(value?)` control flow (reference ExitInterp) — the REPL
    * treats it as quit; embedding callers may catch it.
    */
  final class ExitInterp(val value: Option[Any]) extends RuntimeException

  def run(spark: SparkSession, src: String, tables: (String, PTable)*): PTable =
    runWithModules(spark, src, Map.empty, tables: _*)

  /** A persistent interpreter session — the engine's analogue of the
    * reference's `Preql()` handle: definitions, tables, and mutations
    * persist across `run`/`exec` calls against ONE shared state, and
    * calls from any thread marshal through one lock (the reference
    * serializes every DB call through a single worker thread,
    * sql_interface.py:95-193; pinned by test_threading's 100 threads
    * against one interpreter).
    */
  final class Session(spark: SparkSession, tables: (String, PTable)*) {
    private val st = new State(spark,
      tables.map { case (n, t) => n -> (VT(t): V) }.toMap, Map.empty)

    /** Run a program ending in an expression; returns its table. */
    def run(src: String): PTable = st.synchronized {
      val prog = Parser.parse(src)
      prog.stmts.foreach(st.exec)
      st.resultTable(prog.result)
    }

    /** Run statements only (definitions, mutations, procedure calls). */
    def exec(src: String): Unit = st.synchronized {
      val prog = Parser.parse(src + "\n0") // dummy result expression
      prog.stmts.foreach(st.exec)
    }
  }

  /** As `run`, with user module sources: `import m` executes
    * `modules("m")` (falling back to an `m.pql` file in the working
    * directory) in a fresh namespace and binds its members under
    * `m.<name>` (reference import_module, evaluate.py:387-423).
    */
  def runWithModules(spark: SparkSession, src: String,
                     modules: Map[String, String],
                     tables: (String, PTable)*): PTable = {
    val prog = Parser.parse(src)
    val st = new State(spark,
      tables.map { case (n, t) => n -> (VT(t): V) }.toMap, modules)
    prog.stmts.foreach(st.exec)
    st.resultTable(prog.result)
  }

  /** Mutable program state: bindings + user function definitions. */
  private final class State(spark: SparkSession, init: Map[String, V],
                            moduleSrc: Map[String, String] = Map.empty) {
    var env: Map[String, V] = init
    /** Names bound by `import m` — gates `m.member` resolution. */
    var modules: Set[String] = Set.empty
    /** Table methods from DDL bodies, keyed by table name. */
    var tableMethods: Map[String, Map[String, FuncDef]] = Map.empty
    /** DDL column defaults, keyed by table name. */
    var tableDefaults: Map[String, Map[String, Expr]] = Map.empty
    /** Reverse-FK names: referenced table → backref → (child table,
      * child fk column).
      */
    var backrefs: Map[String, Map[String, (String, String)]] = Map.empty
    /** Bindings derived from a method-bearing table (`s4 = Square[..]`)
      * inherit its methods through this alias map.
      */
    var methodAlias: Map[String, String] = Map.empty
    /** `struct Name {..}` declarations — usable as DDL column types;
      * nested as real Spark StructTypes (reference flattens instead,
      * types_impl.py:25-41).
      */
    var structDecls: Map[String, StructType] = Map.empty

    /** The named table at the ROOT of a table-expression chain — the
      * scope that method calls resolve against.
      */
    private def rootTable(e: Expr): Option[String] = e match {
      case Ident(n) => Some(n)
      case Selection(t, _) => rootTable(t)
      case Slice(t, _, _) => rootTable(t)
      case Order(t, _) => rootTable(t)
      case Projection(t, _, _, _) => rootTable(t)
      case OneE(t, _) => rootTable(t)
      case _ => None
    }

    private def methodsOf(te: Expr): Map[String, FuncDef] =
      rootTable(te).map { n =>
        val owner = methodAlias.getOrElse(n, n)
        tableMethods.getOrElse(owner, Map.empty)
      }.getOrElse(Map.empty)

    /** Inline table-method calls in an expression evaluated in the
      * scope of table expression `te` (methods may call each other).
      */
    private def withMethods(te: Expr, e: Expr): Expr = {
      val ms = methodsOf(te)
      if (ms.isEmpty) e else inline(e, funcs ++ ms)
    }

    private def brMapOf(te: Expr): Map[String, (String, String)] =
      rootTable(te).map(n => methodAlias.getOrElse(n, n))
        .flatMap(backrefs.get).getOrElse(Map.empty)

    /** Resolve FK attribute paths (`parent.name`) and backref names
      * (`children`, `count(children)`) against the base table: each
      * used forward FK left-joins its referenced table once as a
      * struct column `__fk_<col>`, each used backref left-joins the
      * child table once as `__br_<name>`, and the ASTs rewrite to
      * struct accesses (the reference's auto-join on attribute paths,
      * test_basic.py:1294-1321). Returns the joined table and the
      * rewritten expressions; callers that keep the base schema drop
      * the helper columns afterwards.
      */
    private def resolveRefs(te: Expr, tab: PTable, exprs: Seq[Expr])
        : (PTable, Seq[Expr]) = {
      val fkMap = tab.meta.fks.map(f => f.column -> f).toMap
      val brMap = brMapOf(te)
      if (fkMap.isEmpty && brMap.isEmpty) return (tab, exprs)
      val usedFk = scala.collection.mutable.LinkedHashSet[String]()
      val usedBr = scala.collection.mutable.LinkedHashSet[String]()
      exprs.foreach { e =>
        rewrite(e) {
          case a @ Attr(Ident(h), _) if fkMap.contains(h) =>
            usedFk += h; a
          case a @ Attr(Ident(h), _) if brMap.contains(h) =>
            usedBr += h; a
          case c @ Call("count", Seq(Arg(None, Ident(h))))
              if brMap.contains(h) =>
            usedBr += h; c
        }
      }
      if (usedFk.isEmpty && usedBr.isEmpty) return (tab, exprs)
      var df = tab.df
      usedFk.foreach { h =>
        val fk = fkMap(h)
        val ref = lookupTable(fk.refTable)
        val s = ref.df.select(F.col(fk.refColumn).as(s"__k_$h"),
          F.struct(ref.df.columns.map(F.col): _*).as(s"__fk_$h"))
        df = df.join(s, df(h) === F.col(s"__k_$h"), "left")
          .drop(s"__k_$h")
      }
      usedBr.foreach { h =>
        val (childName, fkCol) = brMap(h)
        val child = lookupTable(childName)
        val pk = tab.meta.pk.headOption.getOrElse("id")
        val s = child.df.select(F.col(fkCol).as(s"__k_$h"),
          F.struct(child.df.columns.map(F.col): _*).as(s"__br_$h"))
        df = df.join(s, df(pk) === F.col(s"__k_$h"), "left")
          .drop(s"__k_$h")
      }
      val rewritten = exprs.map(e => rewrite(e) {
        case Call("count", Seq(Arg(None, Ident(h)))) if brMap.contains(h) =>
          // count(children): non-null child ids after the left join
          val childPk = lookupTable(brMap(h)._1)
            .meta.pk.headOption.getOrElse("id")
          Call("count", Seq(Arg(None, Attr(Ident(s"__br_$h"), childPk))))
        case Attr(Ident(h), n) if fkMap.contains(h) =>
          Attr(Ident(s"__fk_$h"), n)
        case Attr(Ident(h), n) if brMap.contains(h) =>
          Attr(Ident(s"__br_$h"), n)
      })
      (graft.dsl.PTable(df, tab.meta), rewritten)
    }
    // `dict(a:1, b:2)` is stdlib sugar over the varargs collector
    // (reference __builtins__.pql:164 `func dict(...x) = x`)
    var funcs: Map[String, FuncDef] = Map(
      "dict" -> FuncDef("dict", Seq.empty, Ident("x"), Some("x")))
    var procs: Map[String, ProcDef] = Map.empty
    /** One catalog per program run: mutation state (cached id
      * counters, auto-compaction) survives across statements.
      */
    private val cat = new graft.catalog.Catalog(spark)

    /** `return` control flow inside procedures. */
    private final class ReturnValue(val v: V) extends RuntimeException
    private var procDepth = 0
    private val procResultCounter = new java.util.concurrent.atomic.AtomicLong(0)

    /** Replace scalar variables with literal AST nodes (vars shadow
      * columns) and inline user function calls.
      */
    /** Best-effort STATIC column set of a table expression — used to
      * give columns precedence over same-named scalar vars inside
      * projections/selections (the reference's scoping: the table's
      * columns are the innermost scope, so `x = 4` does not capture
      * `Point{x: x /~ 2}`, test_SQL f3).
      */
    private def staticCols(e: Expr): Set[String] = e match {
      case Ident(n) => env.get(n) match {
        case Some(VT(t)) => t.columns.toSet
        case _ => Set.empty
      }
      case Selection(t, _) => staticCols(t)
      case Slice(t, _, _) => staticCols(t)
      case Order(t, _) => staticCols(t)
      case OneE(t, _) => staticCols(t)
      case Update(t, _) => staticCols(t)
      case Delete(t, _) => staticCols(t)
      case _: ListLit | _: RangeLit => Set("item")
      case Call("SQL", args) => args.headOption.map(_.value) match {
        case Some(Ident(tn)) => env.get(tn) match {
          case Some(VT(t)) => t.columns.toSet
          case _ => Set.empty
        }
        case Some(Selection(Ident("list"), _)) | Some(Ident("list")) =>
          Set("item")
        case _ => Set.empty
      }
      case Projection(_, fs, _, as) =>
        (fs ++ as).flatMap(f => f.name.orElse(f.value match {
          case Ident(n) => Some(n)
          case Attr(_, n) => Some(n)
          case Call(fn, _) => Some(fn)
          case _ => None
        })).toSet
      case _ => Set.empty
    }

    def substitute(e: Expr): Expr = {
      // pass 1 — capture-aware: scalar vars replace identifiers except
      // where a join alias shadows the name (tree.pql common_ancestors
      // has params a/b AND join sides a/b) or the base table has a
      // same-named COLUMN (columns are the innermost scope)
      def scalarIdents(x: Expr): Expr = substShadow(x,
        n => env.get(n).collect { case VS(v) => scalarToAst(v) },
        staticCols)
      // pass 2 — bottom-up attr folding over the substituted tree
      def scalars(x: Expr): Expr = rewrite(scalarIdents(x)) {
        // dict member access folds in the same bottom-up pass, so
        // `d.a.b` chains resolve inner-first and the surviving AST can
        // embed anywhere a literal can (selections, projections)
        case Attr(DictLit(fs), n) =>
          fs.collectFirst { case (k, v) if k == n => v }.getOrElse(
            throw new NameError(s"dict has no attribute '$n'"))
        // row attr access; an FK column navigates to the referenced
        // row (reference `b.a.x`, test_basic.py:656-679) via one tiny
        // driver-side lookup
        case Attr(RowLit(tbl, fs), n) =>
          val v = fs.collectFirst { case (k, e) if k == n => e }.getOrElse(
            throw new NameError(s"row of '$tbl' has no attribute '$n'"))
          val fk = env.get(tbl).collect { case VT(t) => t.meta }
            .toSeq.flatMap(_.fks).find(_.column == n)
          fk match {
            case Some(f) if v != NullLit =>
              val ref = lookupTable(f.refTable)
              val rows = ref.df.filter(
                col(f.refColumn) === lit(litAny(v))).take(1)
              if (rows.isEmpty) throw new NameError(
                s"dangling FK: ${f.refTable}.${f.refColumn} = $v")
              RowLit(f.refTable, ref.schema.fields.map(_.name)
                .zip(rows(0).toSeq.map(scalarToAst)).toSeq)
            case _ => v
          }
        // `m.member` on an imported module: scalars splice as
        // literals, tables resolve through their qualified binding
        case Attr(Ident(m), n) if modules.contains(m) =>
          env.get(s"$m.$n") match {
            case Some(VS(v)) => scalarToAst(v)
            case Some(VT(_)) => Ident(s"$m.$n")
            case None =>
              throw new NameError(s"module '$m' has no member '$n'")
          }
      }
      // the scalar rewrite must also run AFTER inline(): a global
      // scalar referenced only inside a func body (closure global,
      // reference evaluate.py:551-648) first appears once the body is
      // spliced in. Param occurrences are already replaced by argument
      // ASTs at that point, so parameter shadowing is preserved.
      scalars(inline(scalars(e), funcs))
    }

    def exec(s: Stmt): Unit = s match {
      case Assign(name, value) =>
        // scalar results (incl. localized count/max/one over tables)
        // bind as scalars; everything else binds as a table.
        // Evaluate BEFORE the rebind: evalValue may itself mutate env
        // (a `new T(..)` on the right-hand side rebinds T), and
        // `env + (...)` would otherwise capture the pre-mutation map.
        val v = evalValue(substitute(value)) match {
          case VT(t) => VT(t.named(name))
          case vs => vs
        }
        env = env + (name -> v)
        // a binding rooted at a method- or backref-bearing table keeps
        // that scope (`size4 = Square[...]` then `size4{ area() }`)
        rootTable(value).map(n => methodAlias.getOrElse(n, n))
          .filter(o => tableMethods.contains(o) || backrefs.contains(o))
          .foreach(owner => methodAlias += name -> owner)
      case TableAssign(name, value) =>
        // `table x = expr` — CTAS: register the result as a catalog
        // table (reference evaluate.py:172-177 creates a DB table), so
        // `x = null` drops only the BINDING and `table x {...}` can
        // re-attach the stored rows (test_partial_table2)
        val tt = evalTable(substitute(value)).named(name)
        env = env + (name -> VT(cat.register(name, tt)))
        rootTable(value).map(n => methodAlias.getOrElse(n, n))
          .filter(o => tableMethods.contains(o) || backrefs.contains(o))
          .foreach(owner => methodAlias += name -> owner)
      case fd: FuncDef =>
        funcs = funcs + (fd.name -> fd)
      case InsertRows(name, value) =>
        val base = lookupTable(name)
        val rows = evalTable(substitute(value))
        env = env + (name -> VT(graft.dsl.PTable(
          base.df.unionByName(rows.df, allowMissingColumns = true),
          base.meta)))
      case StructDef(name, fields) =>
        // struct decl: fields resolve to primitive types or other
        // declared structs (nested); becomes a real nested StructType
        // on any table column typed with this name (box_circle.pql)
        val st = StructType(fields.map { cd =>
          val dt = structDecls.getOrElse(cd.tpe,
            try sparkTypeOf(cd.tpe)
            catch {
              case _: TypeError => throw new TypeError(
                s"struct $name: unknown field type '${cd.tpe}'")
            })
          StructField(cd.name, dt)
        })
        structDecls += name -> st
      case ConstTableDef(name, value) =>
        // `const table x = expr`: materialize the rhs once (CTAS into
        // a cached temp table, reference evaluate.py:178-185)
        env = env + (name ->
          VT(cat.temptable(name, evalTable(substitute(value)), const = true)))
      case TableDef(name, fields, _, _, true) =>
        // `table tracks { AlbumId: albums.AlbumId, ... }` — reflect
        // the EXISTING table of this name, attaching the declared FK
        // types to its columns; remaining columns pull through
        // unchanged (reference evaluate.py:214-247; chinook.pql)
        val existing = env.get(name) match {
          case Some(VT(t)) => t
          // binding dropped (`A = null`) but the table still lives in
          // the catalog — the DB is the source of truth
          // (test_partial_table)
          case _ if cat.names.contains(name) => cat.get(name)
          case _ => throw new NameError(
            s"table $name {...}: no existing table '$name' to reflect")
        }
        val fks = fields.flatMap { cd =>
          if (!existing.columns.contains(cd.name))
            throw new NameError(
              s"table $name {...}: no column '${cd.name}' to annotate")
          if (cd.tpe.contains('.')) {
            val Array(rt, rc) = cd.tpe.split("\\.", 2)
            Some(graft.types.FK(cd.name, rt, rc))
          } else if (env.get(cd.tpe).exists(_.isInstanceOf[VT]))
            Some(graft.types.FK(cd.name, cd.tpe, "id"))
          else None
        }
        env = env + (name -> VT(existing.withMeta(existing.meta.copy(
          name = name,
          fks = existing.meta.fks
            .filterNot(f => fks.exists(_.column == f.column)) ++ fks))))

      case TableDef(name, fields, _, _, _) if cat.names.contains(name) =>
        // reference evaluate.py:233-262: declaring a table that
        // already EXISTS in the database ATTACHES it — the instance
        // projects exactly the declared columns (+ id), declared FK
        // types annotate, and a declared column missing from the
        // stored table is a TypeError. This is the cross-session
        // `connect()` re-attach path and test_partial_table's
        // partial re-declare after `A = null`.
        val existing = cat.get(name)
        fields.foreach { cd =>
          if (!existing.columns.contains(cd.name))
            throw new TypeError(
              s"Column '${cd.name}' defined, but doesn't exist in database.")
        }
        val keep = (if (existing.columns.contains("id")) Seq("id") else Nil) ++
          fields.map(_.name).filterNot(_ == "id")
        val fks = fields.flatMap { cd =>
          if (cd.tpe.contains('.')) {
            val Array(rt, rc) = cd.tpe.split("\\.", 2)
            Some(graft.types.FK(cd.name, rt, rc))
          } else if (env.get(cd.tpe).exists(_.isInstanceOf[VT]))
            Some(graft.types.FK(cd.name, cd.tpe, "id"))
          else None
        }
        env = env + (name -> VT(PTable(
          existing.df.select(keep.map(col): _*),
          existing.meta.copy(name = name,
            pk = existing.meta.pk.filter(keep.contains),
            fks = fks))))

      case TableDef(name, fields, bare, methods, _) =>
        // reference evaluate.py:262-267: empty table, auto `id` pk.
        // A non-primitive column type names a declared struct (nested
        // StructType column) or another table: the column stores that
        // table's id and records an FK; `-> backref` registers the
        // reverse name on the referenced table (test_basic.py:1294-1321).
        val cols = fields.map { cd =>
          structDecls.get(cd.tpe) match {
            case Some(st) =>
              (StructField(cd.name, st), Option.empty[graft.types.FK])
            case None if cd.tpe.contains('.') =>
              // `x_axis: Point.x` — FK to a specific column; the column
              // takes the referenced column's type (evaluate.py:63-87)
              val Array(rt, rc) = cd.tpe.split("\\.", 2)
              val dt = env.get(rt).collect { case VT(tt) =>
                tt.schema.fields.find(_.name == rc).map(_.dataType)
              }.flatten.getOrElse(LongType)
              (StructField(cd.name, dt), Some(graft.types.FK(cd.name, rt, rc)))
            case None =>
              try (StructField(cd.name, sparkTypeOf(cd.tpe)), Option.empty[graft.types.FK])
              catch {
                case _: TypeError =>
                  (StructField(cd.name, LongType),
                    Some(graft.types.FK(cd.name, cd.tpe, "id")))
              }
          }
        }
        val t = cat.create(name, cols.map(_._1), bare,
          fks = cols.flatMap(_._2))
        env = env + (name -> VT(t))
        // table METHODS (reference test_basic.py:701-729): resolve
        // only inside projections/selections over this table
        if (methods.nonEmpty)
          tableMethods += name -> methods.map(m => m.name -> m).toMap
        val defaults = fields.collect {
          case cd if cd.default.nonEmpty => cd.name -> cd.default.get
        }
        if (defaults.nonEmpty) tableDefaults += name -> defaults.toMap
        fields.foreach { cd =>
          cd.backref.foreach { br =>
            backrefs += cd.tpe ->
              (backrefs.getOrElse(cd.tpe, Map.empty) + (br -> (name, cd.name)))
          }
        }
      case NewRow(name, args) =>
        execNew(name, args)
      case pd: ProcDef =>
        procs = procs + (pd.name -> pd)
      case ExprStmt(e) => e match {
        case Call(fn, args) if procs.contains(fn) => callProc(fn, args)
        // `connect("dir")` (reference sql_interface.py:965-1025):
        // reopen a saved catalog — previously created tables come
        // back as lazy parquet bindings, and commit() flushes to the
        // same directory. A path with no saved catalog attaches
        // fresh, like connecting to a new database file.
        case Call("connect", args) =>
          val dir = args.headOption.map(_.value) match {
            case Some(StrLit(s)) => s
            case o => throw new TypeError(
              s"connect: expected a path string, got ${o.getOrElse("nothing")}")
          }
          cat.attach(dir).foreach(n => env = env + (n -> VT(cat.get(n))))
        case Call("commit", _) =>
          // in-memory bindings commit incrementally (transaction {}
          // handles atomicity); when attached via connect(), flush
          // mutated tables back to the directory (reference 'commit').
          // Only bindings with the SAME column set sync back: a
          // partial `table t {...}` re-declare or a whitelisted
          // import_table binds a PROJECTION of the stored table — a
          // namespace view in the reference — and registering it
          // would permanently drop the undeclared columns from the
          // database on persist().
          if (cat.attachedTo.nonEmpty) {
            cat.names.foreach { n =>
              env.get(n) match {
                case Some(VT(t)) if (cat.get(n) ne t) &&
                    t.columns == cat.get(n).columns => cat.register(n, t)
                case _ => ()
              }
            }
            cat.persist()
          }
        case Call("rollback", _) => throw new graft.types.NotImplementedError(
          "rollback() outside transaction {}")
        // `set_setting(name, value)` (reference pql_functions.py:
        // 210-216): mutate a runtime display setting; names mirror
        // the reference's settings.Display fields
        case Call("set_setting", sargs) =>
          (sargs.map(a => tryScalar(substitute(a.value))) match {
            case Seq(Some(n: String), Some(v: Long)) =>
              graft.tools.Display.set(n, v)
            case _ => throw new TypeError(
              "set_setting expects (string, int)")
          }): Unit
        // `debug()` / `_breakpoint()` (reference pql_functions.py:
        // 231-243): pause execution, read program units from stdin
        // against the CURRENT state — bindings made in the debugger
        // persist when execution continues; `c()` (or EOF) resumes
        case Call(bp @ ("debug" | "_breakpoint"), _) => debugRepl(bp)
        // `exit(value?)` (reference pql_functions.py:836-847): leave
        // the current interpreter — the REPL quits, an embedding
        // caller sees the typed control exception
        case Call("exit", eargs) =>
          throw new Interp.ExitInterp(
            eargs.headOption.flatMap(a => tryScalar(substitute(a.value))))
        // drop a table binding (reference pql_functions.py:563-571)
        case Call(rm @ ("remove_table" | "remove_table_if_exists"), args) =>
          val n = args.headOption.map(_.value) match {
            case Some(Ident(nm)) => nm
            case Some(StrLit(nm)) => nm
            case o => throw new TypeError(s"$rm: expected a table name, got $o")
          }
          if (!env.contains(n) && rm == "remove_table")
            throw new NameError(s"unknown table '$n'")
          env = env - n
          cat.remove(n) // reference drop_table: a later `table n {...}`
                        // creates fresh instead of re-attaching
        // `t.add_index(col)` / `add_index(t, col)` (reference
        // pql_functions.py:1043-1078, registered both as a table
        // method and a global): on columnar storage an index IS
        // clustering — the table is rebound to its repartitioned +
        // sorted-within-partitions form, so later selective scans and
        // merge joins on that column stay cheap at scale.
        case Apply(Attr(Ident(n), "add_index"), iargs) =>
          execAddIndex(n, iargs)
        // a simple receiver parses as a dotted call name
        case Call(dotted, iargs) if dotted.endsWith(".add_index") &&
            !funcs.contains(dotted) =>
          execAddIndex(dotted.stripSuffix(".add_index"), iargs)
        case Call("add_index", Arg(None, Ident(n)) +: iargs) =>
          execAddIndex(n, iargs)
        case other =>
          // evaluate for effect (e.g. `one t` as an assertion)
          val sub = substitute(other)
          sub match {
            // a func body can reduce to `new T(...)` (reference
            // test_threading `func add_n(n) = new a(n)`) — run the
            // insert rather than treating it as a table expression
            case ne: NewE => execNew(ne.table, ne.args); ()
            // statement-position mutations write through (reference
            // updates hit the database, test_basic.py:323-380)
            case mut @ (_: Update | _: Delete) => persistMutation(mut); ()
            case _ => if (tryScalar(sub).isEmpty) { evalTable(sub); () }
          }
      }
      case IfStmt(cond, thenB, elseB) =>
        if (condTruthy(substitute(cond))) thenB.foreach(exec)
        else elseB.foreach(_.foreach(exec))
      case WhileStmt(cond, body) =>
        var guard = 0
        while (condTruthy(substitute(cond))) {
          body.foreach(exec)
          guard += 1
          if (guard > 1000000)
            throw new ValueError("while loop exceeded 1,000,000 iterations")
        }
      case ForStmt(v, iterable, body) =>
        iterValues(substitute(iterable)).foreach { x =>
          val saved = env.get(v)
          env = env + (v -> VS(x))
          body.foreach(exec)
          env = saved match {
            case Some(old) => env + (v -> old)
            case None => env - v
          }
        }
      case PrintStmt(e) =>
        val sub = resolveScalars(substitute(e))
        tryScalar(sub) match {
          case Some(v) => println(v)
          case None => evalTable(sub).df.show(20, false)
        }
      case TryStmt(body, catchVar, catchType, handler) =>
        try body.foreach(exec)
        catch {
          case e: graft.types.GraftError if errorIsa(e, catchType) =>
            // bind the caught message as a string var in handler scope
            catchVar.foreach(v => env = env + (v -> VS(e.getMessage)))
            handler.foreach(exec)
        }
      case ThrowStmt(tn, msg) =>
        throw makeError(tn, scalar(substitute(msg)).toString)
      case TransactionStmt(body) =>
        // snapshot-and-restore bindings: a signal inside the block
        // rolls the environment back, then re-raises (reference
        // evaluate.py:359-369 BEGIN/ROLLBACK semantics over our
        // copy-on-write bindings)
        val snapshot = env
        try body.foreach(exec)
        catch { case e: Throwable => env = snapshot; throw e }
      case AssertStmt(cond) =>
        if (!truthyScalar(scalar(substitute(cond))))
          throw new graft.types.AssertError(s"Assertion failed: $cond")
      case ImportStmt(m) =>
        // builtin modules are preloaded (bfs/walk_tree etc. are table
        // functions); user modules execute in a fresh namespace and
        // bind members under `m.<name>` (reference import_module,
        // evaluate.py:387-423: clone interp, include, wrap as Module)
        if (!Set("graph", "core", "builtins").contains(m))
          importModule(m)
      case ReturnStmt(e) =>
        if (procDepth == 0)
          throw new TypeError("'return' is only valid inside func bodies")
        throw new ReturnValue(evalValue(substitute(e)))
    }

    /** `import m`: run the module's statements in a fresh State (own
      * env + catalog, same module search space — the reference clones
      * the interpreter, evaluate.py:396-423), then bind its funcs,
      * procs and bindings under `m.<name>`. Free names inside module
      * func bodies are re-qualified to module scope first, so closure
      * globals keep resolving module-side after the splice.
      */
    private def importModule(m: String): Unit = {
      val src = moduleSrc.get(m).orElse {
        val f = new java.io.File(s"$m.pql")
        if (f.isFile)
          Some(new String(java.nio.file.Files.readAllBytes(f.toPath),
            java.nio.charset.StandardCharsets.UTF_8))
        else None
      }.getOrElse(throw new NameError(s"Cannot find module '$m'"))
      val sub = new State(spark, Map.empty, moduleSrc)
      Parser.parseModule(src).foreach(sub.exec)
      modules += m
      env ++= sub.env.map { case (k, v) => s"$m.$k" -> v }
      funcs ++= sub.funcs.collect { case (k, fd) if k != "dict" =>
        // params (and the varargs collector) shadow module globals
        val pnames = fd.params.map(_.name).toSet ++ fd.collector
        val qbody = rewrite(fd.body) {
          case Ident(n) if !pnames.contains(n) && sub.env.contains(n) =>
            Ident(s"$m.$n")
          case Call(fn, as) if sub.funcs.contains(fn) && fn != "dict" =>
            Call(s"$m.$fn", as)
        }
        s"$m.$k" -> fd.copy(body = qbody)
      }
      procs ++= sub.procs.map { case (k, pd) => s"$m.$k" -> pd }
    }

    /** `debug()` / `_breakpoint()` (reference pql_functions.py:
      * 231-243): an interactive pause. Units read from stdin run
      * against THIS state (statements mutate it for the rest of the
      * program; expressions preview up to 5 rows). Prompts, previews
      * and errors go to stderr so the paused program's stdout stays
      * clean; `c()`, `c` or EOF continues, `exit()` still exits the
      * whole interpreter (the reference's debugger is the REPL
      * environment with a continue binding added).
      */
    private def debugRepl(kind: String): Unit = {
      // Console.in is already a BufferedReader; wrapping it again
      // would read ahead and swallow stdin destined for code AFTER
      // the pause (a second debug() in the same piped program)
      val in = Console.in
      Console.err.println(s"-- $kind: paused; c() continues --")
      var going = true
      while (going) {
        Console.err.print(s"$kind> "); Console.err.flush()
        Option(in.readLine()).map(_.trim) match {
          case None => going = false
          // only the CALL continues (reference binds the callable
          // c()) — a bare `c` must still preview a binding named c
          case Some("c()") => going = false
          case Some("") => ()
          case Some(line) =>
            try {
              if (Parser.isStatement(line)) {
                Parser.parse(line + "\n0").stmts.foreach(exec)
                Console.err.println("ok")
              } else {
                val rows = resultTable(Parser.parse(line).result).df.take(6)
                rows.take(5).foreach(r => Console.err.println(r.toString))
                if (rows.length > 5) Console.err.println("...")
              }
            } catch {
              case e: Interp.ExitInterp => throw e
              case scala.util.control.NonFatal(e) =>
                Console.err.println(
                  s"${e.getClass.getSimpleName}: ${e.getMessage}")
            }
        }
      }
    }

    /** `add_index` (reference pql_functions.py:1043-1078): requires a
      * persistent (catalog) table; accepts one column name or a list
      * of names; `unique` is accepted and ignored (uniqueness comes
      * from the auto-id machinery, not a physical index, and the
      * reference likewise delegates enforcement to the database).
      */
    private def execAddIndex(name: String, iargs: Seq[Arg]): Unit = {
      // resolve the RECEIVER'S VALUE, as the reference does (it reads
      // table.type.options['name']): an alias bound to a persistent
      // table indexes that table; a derived binding (selection,
      // projection) has no backing table and is a TypeError; an
      // unknown name is a NameError before any persistence check
      val bound = lookupTable(name)
      // plan identity, not instance identity: aliasing (`q = p`)
      // renames the PTable wrapper but shares the plan, while any
      // derived binding (selection/projection) builds a new one
      val target = (name +: cat.names).distinct
        .find(n => cat.names.contains(n) && (cat.get(n).df eq bound.df))
        .getOrElse(throw new TypeError(
          "Can only add indexes to persistent tables"))
      val cols: Seq[String] = iargs.headOption.map(_.value) match {
        case Some(StrLit(s)) => Seq(s)
        case Some(ListLit(items)) => items.map {
          case StrLit(s) => s
          case o => throw new TypeError(
            s"add_index: expected column name strings, got $o")
        }
        case o => throw new TypeError(
          s"add_index: expected a column name, got ${o.getOrElse("nothing")}")
      }
      val tab = cat.get(target)
      cols.find(!tab.columns.contains(_)).foreach { c =>
        throw new NameError(s"add_index: no column '$c' in $target")
      }
      cat.register(target, tab.addIndex(cols: _*))
      env = env + (name -> VT(cat.get(target)))
      if (target != name) env.get(target) match {
        case Some(VT(t0)) if t0 eq tab =>
          env = env + (target -> VT(cat.get(target)))
        case _ => ()
      }
    }

    /** `new T(args)`: insert one row (positional args fill non-pk
      * columns in declaration order — reference test_basic.py:952-960;
      * DDL defaults fill the gaps) and return the inserted row value.
      */
    private def execNew(name: String, args: Seq[Arg]): RowV = {
      val base = lookupTable(name)
      // re-register ONLY when the binding changed outside the
      // catalog (identity check) — keeps the cached max-id counter
      // alive across an insert loop (O(1) jobs per insert)
      if (!cat.names.contains(name) || (cat.get(name) ne base))
        cat.register(name, base)
      val nonPk = base.schema.fields.map(_.name)
        .filterNot(base.meta.pk.contains)
      val named = args.zipWithIndex.map {
        case (a, i) => a.name.getOrElse(
          if (i < nonPk.length) nonPk(i)
          else throw new TypeError(
            s"new $name: too many positional arguments")) ->
          newValue(a.value)
      }
      // DDL column defaults fill unsupplied columns (reference
      // test_basic.py:1055-1068)
      val defaults = tableDefaults.getOrElse(name, Map.empty)
        .view.filterKeys(k => !named.exists(_._1 == k))
        .mapValues(newValue).toMap
      val row = cat.insertRow(name, named.toMap ++ defaults)
      env = env + (name -> VT(cat.get(name)))
      RowV(name, base.schema.fields.map(_.name).zip(row.toSeq).toSeq)
    }

    /** A `new` argument / column default: literal forms first, then
      * any const-evaluable scalar expression (`1 + 2`, `now()`,
      * `upper(v)`) — the reference evaluates `new` args as full
      * expressions (evaluate.py objects.new_table_instance path).
      */
    private def newValue(e: Expr): Any = {
      val s = substitute(e)
      try litAny(s) catch {
        case te: graft.types.TypeError =>
          tryScalar(resolveScalars(s)).getOrElse(throw te)
      }
    }

    /** Evaluate to a binding value: scalar if const-resolvable, else
      * table. A top-level procedure call passes its return value
      * through unchanged (tables stay tables).
      */
    private def evalValue(e: Expr): V = e match {
      case ne: NewE => VS(execNew(ne.table, ne.args))
      case Call(fn, args) if procs.contains(fn) =>
        callProc(fn, args).getOrElse(
          throw new ValueError(s"$fn did not return a value"))
      case _ =>
        val r = resolveScalars(e)
        tryScalar(r) match {
          case Some(v) => VS(v)
          case None => VT(evalTable(r))
        }
    }

    /** Program result: a table, or — reference parity for scalar
      * results like `sum([2, 4])` — a localized scalar wrapped as a
      * one-row table named after the expression (the reference returns
      * the bare python value; our API surface is tables).
      */
    def resultTable(e: Expr): PTable = {
      val sub = substitute(e)
      sub match {
        // `new T(...)` (or a func reducing to one) as the program
        // result: run the insert, show the inserted row (reference
        // returns the row object)
        case ne: NewE =>
          val row = execNew(ne.table, ne.args)
          return PTable.fromRows(spark, row.fields.map(_._1),
            Seq(row.fields.map(_._2)))
        // a procedure call runs ONCE here — routing it through the
        // evalTable-then-tryScalar fallback would execute its side
        // effects twice (tree.pql test() printed everything double)
        case Call(fn, cargs) if procs.contains(fn) =>
          callProc(fn, cargs) match {
            case Some(VT(tt)) => return tt
            case Some(VS(v)) =>
              return PTable(spark.range(1).select(litOf(v).as(fn)))
            case None => throw new ValueError(s"$fn did not return a value")
          }
        // a result-position mutation also writes through (reference
        // `A delete [x==1]` both returns and persists)
        case mut @ (_: Update | _: Delete) => return persistMutation(mut)
        // effectful statement builtins typed as the WHOLE input (the
        // REPL's `exit()` / `connect("dir")` / `commit()` case):
        // parseProgram put the call in result position, where
        // evalTable would raise NameError instead of acting — route
        // through the statement handler and return an empty result
        case c @ Call("exit" | "connect" | "commit" | "rollback" |
                      "set_setting" | "debug" | "_breakpoint", _) =>
          exec(ExprStmt(c))
          return PTable(spark.range(0).select(lit("ok").as("status")))
        case _ => ()
      }
      try evalTable(sub)
      catch {
        case err: graft.types.GraftError =>
          tryScalar(resolveScalars(sub)) match {
            case Some(v) =>
              try {
                val name =
                  try fieldName(Field(None, sub))
                  catch { case _: TypeError => "value" }
                graft.dsl.PTable(spark.range(1).select(litOf(v).as(name)))
              } catch { case _: RuntimeException => throw err }
            case None => throw err
          }
      }
    }

    private def lookupTable(name: String): PTable = env.get(name) match {
      case Some(VT(t)) => t
      case Some(VS(_)) => throw new TypeError(s"'$name' is not a table")
      case None => throw new NameError(s"unknown table '$name'")
    }

    /** `for` iteration domain: ranges and lists iterate driver-side;
      * a single-column table localizes its values (reference
      * evaluate.py:352-356 casts the iterable to a python list).
      */
    private def iterValues(e: Expr): Seq[Any] = e match {
      case RangeLit(f, u) =>
        val from = f.map(constLong).getOrElse(0L)
        val until = u.map(constLong).getOrElse(
          throw new TypeError("unbounded range in 'for'"))
        from until until
      case ListLit(items) => items.map(i => scalar(i))
      case other =>
        val t = evalTable(other)
        // single column iterates bare values; multi-column iterates
        // ROW objects (reference evaluate.py:352-356 casts to python —
        // examples/tree.pql `for (m in find_descendants(...))` reads
        // m.value). Driver-side by design: `for` is control flow.
        if (t.columns.length == 1)
          t.df.collect().map(_.get(0)).toSeq
        else {
          val tname = t.meta.name
          t.df.collect().map { r =>
            RowV(tname, t.columns.map(c => c -> r.getAs[Any](c)))
          }.toSeq
        }
    }

    /** Driver-side const evaluation; None when the expression needs the
      * engine (column refs, table ops).
      */
    def tryScalar(e: Expr): Option[Any] =
      try Some(constEval(e)) catch { case _: NotConst => None }

    /** Localize table-scalar subexpressions to literals: `count(t)`,
      * `one t{x}`, `max(t{c})`-style aggregates over tables,
      * `is_empty(t)`, and `fmt` interpolation — the reference's
      * cast_to_python shape, so conditions like `count(t) == 0` and
      * assignments like `n = max(primes{num})` const-eval.
      */
    private def resolveScalars(e: Expr): Expr = rewrite(e) {
      case c @ Call("count", Seq(Arg(None, te))) if isTableExpr(te) =>
        scalarToAst(localize(c))
      case o: OneE => scalarToAst(localize(o))
      case Call(agg @ ("max" | "min" | "sum" | "mean" | "avg" | "stddev" |
                       "product" | "list_median" | "count_distinct"),
                Seq(Arg(None, te))) if isTableExpr(te) =>
        val tt = evalTable(te)
        val c = col(tt.columns.head)
        val a = agg match {
          case "max" => F.max(c)
          case "min" => F.min(c)
          case "sum" => F.sum(c)
          case "stddev" => F.stddev_samp(c)
          case "product" => PF.product(c.cast(DoubleType))
          case "list_median" => F.percentile(c, lit(0.5))
          case "count_distinct" => F.countDistinct(c)
          case _ => F.avg(c)
        }
        scalarToAst(tt.df.agg(a).head().get(0))
      case Call("is_empty", Seq(Arg(None, te))) if isTableExpr(te) =>
        BoolLit(tableEmpty(te))
      case Call("inspect_sql", Seq(Arg(None, te))) if isTableExpr(te) =>
        // reference pql_functions.py inspect_sql returns the compiled
        // SQL text; the engine's compiled form IS the Catalyst plan
        StrLit(evalTable(te).df.queryExecution.optimizedPlan.toString)
      // `help()` / `help(obj)` — a brief summary string (reference
      // pql_functions.py:735-783)
      case Call("help", Seq()) =>
        StrLit("To see the list of functions and objects available " +
          "in the namespace, type 'names()'\nTo get help for a " +
          "specific object, type 'help(an_object)'")
      case Call("help", Seq(Arg(None, Ident(n)))) =>
        StrLit(
          if (funcs.contains(n)) {
            val fd = funcs(n)
            s"func $n(" + fd.params.map(p =>
              p.name + p.tpe.map(": " + _).getOrElse("") +
                p.default.map(_ => " = ...").getOrElse("")).mkString(", ") +
              fd.collector.map(c => s", ...$c").getOrElse("") + ")"
          } else env.get(n) match {
            case Some(VT(t)) =>
              s"table $n {" + t.schema.fields.map(f =>
                s"${f.name}: ${refTypeName(f.dataType)}").mkString(", ") + "}"
            case Some(VS(v)) => s"$n = $v"
            case None => throw new NameError(s"unknown name '$n'")
          })
      // `type(f)` of a user function surfaces its annotated signature
      // (reference test_user_functions2: T.function[T.int, ...])
      case Call("type", Seq(Arg(None, Ident(n)))) if funcs.contains(n) =>
        TypeLit("function[" +
          funcs(n).params.map(_.tpe.getOrElse("any")).mkString(", ") + "]")
      // `type(t)` over a table localizes to a type value: lists
      // (single-column tables) are `list[elem]` (reference test_casts:
      // `type(list(...)) == list[int]`; pql_functions.py:246-278)
      case Call("type", Seq(Arg(None, te))) if isTableExpr(te) =>
        val tt = evalTable(te)
        TypeLit(
          if (tt.columns.length == 1)
            s"list[${refTypeName(tt.df.schema.fields.head.dataType)}]"
          else s"table[${tt.columns.mkString(", ")}]")
      // first / first_or_null over a table localize the first value
      // (reference __builtins__.pql; tree.pql print_most_common_ancestor)
      case Call("first", Seq(Arg(None, te))) if isTableExpr(te) =>
        val rows = evalTable(te).df.take(1)
        if (rows.isEmpty)
          throw new ValueError("first: table is empty")
        scalarToAst(rows(0).get(0))
      case Call("first_or_null", Seq(Arg(None, te))) if isTableExpr(te) =>
        val rows = evalTable(te).df.take(1)
        scalarToAst(if (rows.isEmpty) null else rows(0).get(0))
      case Call("fmt", Seq(Arg(None, StrLit(s)))) =>
        StrLit(interpolate(s))
      // scalar `in` table membership localizes to a boolean
      // (reference tree.pql is_a: `b in find_path_to_root(...){value}`)
      case BinOp(op @ ("in" | "!in"), l, r)
        if isTableExpr(r) && tryScalar(l).isDefined =>
        val lv = tryScalar(l).get
        val tt = evalTable(r)
        val c = tt.columns.head
        val contains = !tt.df.filter(col(c) <=> lit(lv)).isEmpty
        BoolLit(if (op == "in") contains else !contains)
      // `new T(...)` in expression position: insert, splice the row
      case ne: NewE => scalarToAst(execNew(ne.table, ne.args))
      // procedure call in expression position: run, splice the value
      case Call(fn, args) if procs.contains(fn) =>
        callProc(fn, args) match {
          case Some(VS(v)) => scalarToAst(v)
          case Some(VT(t)) =>
            val rows = t.df.take(2)
            if (rows.length == 1 && rows(0).length == 1)
              scalarToAst(rows(0).get(0))
            else {
              // a table result splices back as a fresh binding so the
              // surrounding TABLE expression can keep composing
              // (tree.pql: get_trees(bfs(...)) inside a projection)
              val nm = s"__proc_result_${procResultCounter.incrementAndGet()}"
              env = env + (nm -> VT(t))
              Ident(nm)
            }
          case None => throw new ValueError(s"$fn did not return a value")
        }
    }

    /** Projection-position membership `{flag: item in other{c}}`
      * (reference compile_binops.py:141-168 allows `in` anywhere): the
      * RHS table's distinct values inline as an IN-list, bounded by
      * `spark.graft.inlist.limit` — selection position keeps the
      * semi/anti-join plan instead, which is the scale path; a flag
      * column genuinely needs the value set at every row, so a bounded
      * broadcast-style inline is the right distributed shape.
      */
    private def resolveVecMembership(e: Expr): Expr = rewrite(e) {
      case BinOp(op @ ("in" | "!in"), l, re)
          if isTableExpr(re) && tryScalar(l).isEmpty =>
        val tt = evalTable(re)
        val limit = graft.GraftConf.inlistLimit(spark)
        val vals = tt.df.select(tt.df.columns.head).distinct().take(limit + 1)
        if (vals.length > limit)
          throw new TypeError(
            s"'$op' table operand exceeds $limit distinct values in " +
              "projection position; use a selection condition " +
              "(semi-join) or raise spark.graft.inlist.limit")
        BinOp(op, l,
          ListLit(vals.toSeq.filter(_.get(0) != null)
            .map(r => scalarToAst(r.get(0)))))
    }

    /** `fmt("$var text")` interpolation from scalar bindings
      * (reference __builtins__.pql fmt).
      */
    private def interpolate(s: String): String =
      "\\$([A-Za-z_][A-Za-z0-9_]*)".r.replaceAllIn(s, m =>
        env.get(m.group(1)) match {
          case Some(VS(v)) =>
            java.util.regex.Matcher.quoteReplacement(String.valueOf(v))
          case Some(VT(_)) => throw new TypeError(
            s"fmt: '${m.group(1)}' is a table")
          case None => throw new NameError(
            s"fmt: unknown variable '${m.group(1)}'")
        })

    def scalar(e: Expr): Any = {
      val resolved = resolveScalars(e)
      tryScalar(resolved).getOrElse(localize(resolved))
    }

    /** Condition truthiness: tables are truthy when non-empty
      * (reference `if (not primes)`), otherwise scalar truthiness.
      */
    private def condTruthy(e: Expr): Boolean = e match {
      case Unary("not", te) if isTableExpr(te) => tableEmpty(te)
      case te if isTableExpr(te) => !tableEmpty(te)
      case _ => truthyScalar(scalar(e))
    }

    /** Emptiness probe with a driver-side fast path: a (selection
      * over a) catalog table whose rows are driver-known (single
      * LocalRelation, Catalog.localRowsOf) evaluates its predicates
      * with the SCALAR interpreter — zero Spark work per probe, so
      * procedure loops like the reference's primes.pql cost
      * microseconds per iteration instead of a plan-analysis pass.
      * Any predicate the scalar evaluator can't decide falls back to
      * the distributed path — correctness never depends on the cache.
      */
    private def tableEmpty(te: Expr): Boolean = {
      def buffered(n: String): Option[(Vector[org.apache.spark.sql.Row], Seq[String])] =
        env.get(n) match {
          case Some(VT(t)) if cat.names.contains(n) &&
              (cat.get(n).df eq t.df) =>
            cat.localRowsOf(n).map(rows => (rows, t.columns))
          case _ => None
        }
      def sparkEmpty: Boolean = evalTable(te).df.take(1).isEmpty
      te match {
        case Ident(n) =>
          buffered(n).map(_._1.isEmpty).getOrElse(sparkEmpty)
        case Selection(Ident(n), conds) =>
          buffered(n) match {
            case Some((rows, cols)) =>
              val idx = cols.zipWithIndex.toMap
              var unknown = false
              var found = false
              val it = rows.iterator
              while (!found && it.hasNext) {
                val row = it.next()
                // any evaluation failure — a cell type scalarToAst
                // can't represent (Float/Decimal/Date/struct), an
                // ordered compare against NULL — defers the row to
                // the Spark evaluation instead of crashing the probe
                // (null-safe ==/!= match Scala equality, so those
                // stay on the fast path)
                val verdict: Option[Boolean] =
                  try {
                    val vs = conds.map { c =>
                      tryScalar(rewrite(c) {
                        case Ident(cn) if idx.contains(cn) =>
                          scalarToAst(row.get(idx(cn)))
                      })
                    }
                    if (vs.forall(_.isDefined))
                      Some(vs.forall(v => truthyScalar(v.get)))
                    else None
                  } catch { case _: TypeError => None }
                verdict match {
                  case Some(true) => found = true
                  case Some(false) => ()
                  case None => unknown = true
                }
              }
              if (found) false
              else if (unknown) sparkEmpty
              else true
            case None => sparkEmpty
          }
        case _ => sparkEmpty
      }
    }

    /** Execute a procedure: bind evaluated args over the params
      * (defaults/named like funcs), run the body, restore only the
      * param bindings — other writes persist (the reference's
      * procedures mutate outer tables, e.g. primes.pql).
      */
    private def callProc(fn: String, args: Seq[Arg]): Option[V] = {
      val pd = procs(fn)
      val pos = args.takeWhile(_.name.isEmpty)
      val named = args.drop(pos.length)
      if (named.exists(_.name.isEmpty))
        throw new TypeError(s"$fn received a non-named argument after a named one")
      val byName = named.map(a => (a.name.get, a.value)).toMap
      val vals: Seq[(String, Expr)] = pd.params.zipWithIndex.map {
        case (prm, i) =>
          prm.name -> (if (i < pos.length) pos(i).value
          else byName.get(prm.name).orElse(prm.default).getOrElse(
            throw new TypeError(
              s"$fn is missing a value for parameter '${prm.name}'")))
      }
      val bound: Seq[(String, V)] = vals.map { case (n, ve) =>
        val sub = substitute(ve)
        n -> (if (isTableExpr(sub)) VT(evalTable(sub))
        else tryScalar(resolveScalars(sub)) match {
          case Some(v) => VS(v)
          case None => VT(evalTable(sub))
        })
      }
      val shadowed = bound.map { case (n, _) => n -> env.get(n) }
      env = env ++ bound
      procDepth += 1
      try { pd.body.foreach(exec); None }
      catch { case r: ReturnValue => Some(r.v) }
      finally {
        procDepth -= 1
        shadowed.foreach {
          case (n, Some(old)) => env = env + (n -> old)
          case (n, None) => env = env - n
        }
      }
    }

    /** `t[..] update {..}` / `t delete [..]` in statement or program-
      * result position: rebind the ROOT table to the mutated value, so
      * later statements (and later procedure calls) see it — the
      * reference writes mutations through to the database
      * (test_basic.py:323-380 test_update_basic, 995 test_delete).
      * Env is the source of truth; execNew re-syncs the catalog on the
      * next insert (identity check).
      */
    private def persistMutation(e: Expr): PTable = {
      val root = e match {
        case Update(te, _) => rootTable(te)
        case Delete(te, _) => rootTable(te)
        case _ => None
      }
      val t = evalTable(e)
      root.filter(n => env.get(n).exists(_.isInstanceOf[VT])).foreach { n =>
        env = env + (n -> VT(t.named(n)))
      }
      t
    }

    /** A 1×1 table localizes to its single value. */
    private def localize(e: Expr): Any = {
      val t = evalTable(e)
      val rows = t.df.take(2)
      if (rows.length == 1 && rows(0).length == 1) rows(0).get(0)
      // a single multi-column row localizes to a ROW object
      // (reference `one A{x}` → {'x': 2}, test_basic.py:952-972) —
      // attr access and FK navigation then work like `new`-bound rows
      else if (rows.length == 1)
        RowV(t.meta.name, t.columns.zip(rows(0).toSeq).toSeq)
      else throw new TypeError(s"not a scalar: $e")
    }

    // ---- table evaluation --------------------------------------------------
    def evalTable(e: Expr): PTable = {
      def t(ex: Expr): PTable = evalTable(ex)
      e match {
        case Ident(name) => lookupTable(name)

        case OneE(inner, opt) =>
          // reference evaluate.py:679-709: exactly one row (`one`) /
          // at most one (`one?`, empty stays empty)
          val tt = t(inner)
          val rows = tt.df.take(2)
          if (!opt && rows.length != 1)
            throw new ValueError(s"'one' expected 1 row, got ${rows.length}")
          if (opt && rows.length > 1)
            throw new ValueError("'one?' expected <=1 row, got >=2")
          import scala.jdk.CollectionConverters._
          PTable(spark.createDataFrame(rows.toSeq.asJava, tt.df.schema),
            tt.meta)

        case Selection(te, conds0) =>
          // table-method calls resolve in this table's scope first;
          // table-scalar subexpressions (count(t), one t{..}) localize
          val conds1 = conds0.map(c => resolveScalars(withMethods(te, c)))
          val base = t(te)
          // FK attribute paths (parent.name) join + rewrite
          val (tabR, conds) = resolveRefs(te, base, conds1)
          val filtered = conds.foldLeft(tabR) { (acc, cond) =>
            cond match {
              case BinOp("in", l, r) if isTableExpr(r) =>
                semiAnti(acc, l, t(r), anti = false)
              case BinOp("!in", l, r) if isTableExpr(r) =>
                semiAnti(acc, l, t(r), anti = true)
              case c => acc.where(evalCol(c, schemaOf(acc)))
            }
          }
          if (tabR eq base) filtered
          else graft.dsl.PTable(filtered.df.drop(filtered.df.columns
            .filter(c => c.startsWith("__fk_") || c.startsWith("__br_")): _*),
            base.meta)

        // slicing an UNBOUNDED range materializes just the window
        // (reference test_range: `func adult() = [18..]` then
        // `adult()[..10]` — infinite series bounded by the slice)
        case Slice(RangeLit(f0, None), sFrom, sUntil) if sUntil.nonEmpty =>
          val base = f0.map(constLong).getOrElse(0L)
          val lo = sFrom.map(constLong).getOrElse(0L)
          val hi = constLong(sUntil.get)
          PTable(spark.range(base + lo, base + hi)
            .select(col("id").as("item")))

        case Slice(te, from, until) =>
          val f = from.map(constLong).getOrElse(0L).toInt
          val u = until.map(constLong).map(_.toInt)
          u match {
            case Some(end) => t(te).slice(f, end)
            case None => // t[n..] — drop first n
              val tt = t(te)
              graft.dsl.PTable(tt.df.offset(f), tt.meta)
          }

        case Projection(te, fields0, grouped, aggs0) =>
          // table-method calls resolve in this table's scope; an
          // unnamed `{ area() }` field keeps the method's name
          // (reference auto-naming, test_basic.py:724)
          val ms = methodsOf(te)
          def resolve(fs: Seq[Field]): Seq[Field] =
            fs.map { f =>
              val named = f.name.orElse(f.value match {
                case Call(m, _) if ms.contains(m) => Some(m)
                case _ => None
              })
              // methods first, then localize table-scalar
              // subexpressions (count(t) etc.) the field may embed;
              // finally inline table membership as IN-lists
              Field(named,
                resolveVecMembership(resolveScalars(withMethods(te, f.value))))
            }
          val fields1 = resolve(fields0)
          val brM = brMapOf(te)
          // bare `backref.col` in agg scope collects child values
          // (reference `Person {name => children.name}` → sorted array)
          val aggs1 = resolve(aggs0).map {
            case Field(name, Attr(Ident(h), n)) if brM.contains(h) =>
              Field(Some(name.getOrElse(s"$h.$n")),
                Call("__collect", Seq(Arg(None, Attr(Ident(h), n)))))
            case f => f
          }
          val base = t(te)
          val (tab, rew) =
            resolveRefs(te, base, (fields1 ++ aggs1).map(_.value))
          val fields = fields1.zip(rew.take(fields1.length))
            .map { case (f, v) => Field(f.name, v) }
          val aggs = aggs1.zip(rew.drop(fields1.length))
            .map { case (f, v) => Field(f.name, v) }
          if (!grouped) {
            val cols = expandFields(tab, fields)
            // `[3]{... !item}` excludes every column — reference
            // raises TypeError on an empty projection
            if (cols.isEmpty)
              throw new TypeError("projection selects no columns")
            tab.project(cols: _*)
          }
          else if (fields.isEmpty)
            routeMvGlobal(tab, aggs).getOrElse(
              tab.aggAll(namedAggs(tab, aggs): _*))
          else if (aggs.isEmpty) tab.groupBy(expandFields(tab, fields): _*)()
          else routeMv(tab, fields, aggs).getOrElse {
            val keys = expandFields(tab, fields)
            tab.groupBy(keys: _*)(
              namedAggs(tab, aggs, keys.map(_.name).toSet): _*)
          }

        case Order(te, keys) =>
          // Sorting ABOVE a projection executes the projection TWICE:
          // the range partitioner's sampling pass runs the child plan
          // once for partition boundaries, then the real pass runs it
          // again — ruinous when the projection carries expensive
          // expressions (ql26's five text scalars: 2.2s → 1.1s).
          // When every sort key is a PASSTHROUGH column of a plain
          // projection, sort the SOURCE first: the sampling pass then
          // scans only raw columns, and the projection's expressions
          // run exactly once, above the exchange (a Project adds no
          // exchange, so the global order is preserved).
          // Walks a chain of plain projections/selections (both
          // preserve row order, so the rewrite is semantics-free);
          // keys remap through each projection's passthrough fields.
          def pushSort(e: Expr, ks: Seq[(Expr, Boolean)]): Option[Expr] = e match {
            case p @ Projection(src, fields, false, aggs)
                if aggs.isEmpty &&
                  !fields.exists(_.value.isInstanceOf[EllipsisE]) &&
                  // only worth it when the projection COMPUTES
                  // something: for pure passthroughs the re-executed
                  // subtree is just the (pruned) scan, and pushing the
                  // sort below a filter would only sort more rows
                  fields.exists(f => !f.value.isInstanceOf[Ident]) =>
              val outToSrc: Map[String, String] = fields.collect {
                case Field(name, Ident(srcN)) => name.getOrElse(srcN) -> srcN
              }.toMap
              val mapped = ks.map {
                case (Ident(n), asc) =>
                  outToSrc.get(n).map(s => (Ident(s): Expr, asc))
                case _ => None
              }
              if (mapped.nonEmpty && mapped.forall(_.isDefined)) {
                val inner = mapped.flatten
                Some(p.copy(t = pushSort(src, inner).getOrElse(Order(src, inner))))
              } else None
            case s @ Selection(src, _) =>
              // only rewrites when a projection sits below — sorting
              // below a filter alone would just sort more rows
              pushSort(src, ks).map(inner => s.copy(t = inner))
            case _ => None
          }
          pushSort(te, keys).map(t(_)).getOrElse {
            val tab = t(te)
            tab.orderBy(keys.map { case (k, asc) =>
              Sort(evalCol(k, schemaOf(tab)), asc) }: _*)
          }

        case Update(te, fields) =>
          // bare `t update {...}` updates all rows; pair with a prior
          // Selection for conditional update — matches reference shape
          // `t[conds] update {...}` only when t is a Selection node
          te match {
            case Selection(base, conds) =>
              val tab = t(base)
              val sch = schemaOf(tab)
              val cond = conds.map(c => evalCol(c, sch)).reduce(_ && _)
              tab.update(cond)(fields.map(f =>
                f.name.getOrElse(fieldName(f)) -> evalCol(f.value, sch)): _*)
            case _ =>
              val tab = t(te)
              val sch = schemaOf(tab)
              tab.update(lit(true))(fields.map(f =>
                f.name.getOrElse(fieldName(f)) -> evalCol(f.value, sch)): _*)
          }

        case Delete(te, conds) =>
          val tab = t(te)
          val sch = schemaOf(tab)
          tab.delete(conds.map(c => evalCol(c, sch)).reduce(_ && _))

        case RangeLit(from, until) =>
          val f = from.map(constLong).getOrElse(0L)
          val u = until.map(constLong).getOrElse(
            throw new TypeError("unbounded range not supported"))
          PTable.range(spark, f, u)

        // value-semantics and/or over TABLES picks a side by emptiness
        // (reference test_logical: `[1] or [2]` → [1], `and` → [2]);
        // driver-side limit-1 probe, like the reference's localization
        case BinOp(op @ ("and" | "or"), l, r)
            if isTableExpr(l) && isTableExpr(r) =>
          val lt = t(l)
          val lEmpty = lt.df.limit(1).isEmpty
          if (op == "or") { if (lEmpty) t(r) else lt }
          else { if (lEmpty) lt else t(r) }

        // table set operations (reference test_list_ops: `[1,2,3] + [5,6]`,
        // `|` distinct union, `-` except; `&` intersect as in the DSL)
        case BinOp(op @ ("+" | "|" | "&" | "-"), l, r)
            if isTableExpr(l) && isTableExpr(r) =>
          val lt = t(l)
          val rt = t(r)
          op match {
            case "+" => lt + rt
            case "|" => lt | rt
            case "&" => lt & rt
            case "-" => lt - rt
          }

        case ListLit(Seq()) =>
          // `[]` — empty list table (reference: empty VALUES of int)
          graft.dsl.PTable(spark.range(0).select(col("id").as("item")))

        case ListLit(items) if items.nonEmpty &&
            items.forall(_.isInstanceOf[StructLit]) =>
          // `[{a: 1, b: 2} {a: 10, b: 20}]` — dict rows form a table
          // (reference test_basic.py:1501-1507 test_table_def_dicts)
          val structs = items.map(_.asInstanceOf[StructLit])
          def keys(s: StructLit): Seq[String] = s.fields.map(_.name
            .getOrElse(throw new TypeError("dict-row fields must be named")))
          val cols = keys(structs.head)
          val rows = structs.map { s =>
            if (keys(s) != cols)
              throw new TypeError("dict rows must share the same keys: " +
                s"${keys(s).mkString(",")} vs ${cols.mkString(",")}")
            s.fields.map(f => tryScalar(f.value).getOrElse(
              throw new TypeError(s"unsupported dict-row value: ${f.value}")))
          }
          PTable.fromRows(spark, cols, rows)

        case ListLit(items) if items.nonEmpty =>
          // items may be scalar EXPRESSIONS (e.g. a loop var times a
          // constant) — const-evaluate them driver-side
          val vals = items.map(i => tryScalar(i).getOrElse(
            throw new TypeError(s"unsupported list element: $i")))
          vals.head match {
            case _: Long => PTable.fromList(spark,
              vals.map { case v: Long => v
                         case o => throw new TypeError(s"mixed-type list: $o") })
            case _: String => PTable.fromList(spark,
              vals.map { case v: String => v
                         case o => throw new TypeError(s"mixed-type list: $o") })
            case _: Double => PTable.fromList(spark,
              vals.map { case v: Double => v
                         case o => throw new TypeError(s"mixed-type list: $o") })
            case o => throw new TypeError(s"unsupported list element: $o")
          }

        case Call(fn, args) if procs.contains(fn) =>
          callProc(fn, args) match {
            case Some(VT(tt)) => tt
            case Some(VS(v)) => throw new TypeError(
              s"procedure $fn returned a scalar ($v), not a table")
            case None => throw new ValueError(s"$fn did not return a value")
          }

        case Call(fn, args) => tableCall(fn, args)

        // method call on a table expression — `Node[..].children()`
        // (reference test_basic.py:732-744): the method body runs with
        // `this` bound to the evaluated receiver, so `this.id` joins
        // against the FILTERED rows, not the whole table
        case Apply(Attr(te, m), args) if methodsOf(te).contains(m) =>
          val ms = methodsOf(te)
          val receiver = t(te)
          val saved = env
          env = env + ("this" -> VT(receiver))
          try evalTable(inline(Call(m, args), funcs ++ ms))
          finally env = saved

        // `tbl.column` in table position — a one-column projection
        // (reference: a column reference acts as a list, e.g.
        // `join(a: [1..10].item, ...)`, `list(A.col)`)
        case Attr(te, n) =>
          val bt = t(te)
          if (!bt.columns.contains(n))
            throw new TypeError(s"table has no column '$n'")
          bt.project(NamedCol(n, col(n)))

        case other => throw new TypeError(s"not a table expression: $other")
      }
    }

    /** Builtins that return tables — so wrappers like
      * `count(columns(A))` localize (reference test_bare_table).
      */
    private val tableFns: Set[String] = Set(
      "join", "leftjoin", "outerjoin", "joinall", "distinct", "limit",
      "enum", "list", "temptable", "sample_ratio_fast", "sample_fast",
      "page", "tables", "names", "columns", "env_vars", "bfs",
      "walk_tree", "graph.bfs", "graph.walk_tree", "page_rank",
      "graph.page_rank", "triangles", "graph.triangles", "SQL",
      "char_range",
      "limit_offset", "table_concat", "table_union", "table_intersect",
      "table_substract", "table_subtract", "force_eval", "describe",
      "zipjoin", "zipjoin_left", "zipjoin_longest", "map_range",
      "import_table", "import_json", "import_csv", "import_text",
      "import_orc", "import_jdbc", "dir",
      "run_statement", "dedup_exact", "near_dup_pairs", "ann_topk",
      "train_split", "chunk_docs", "pack_sequences",
      "repetition_signals", "decontaminate", "decontaminate_bloom",
      "lm_score", "weighted_sample",
      "line_dedup", "mix_corpus", "semantic_dedup", "shard_assign",
      "repeated_spans", "contamination_score", "span_dup_frac",
      "remove_repeated_spans",
      "bm25_search", "top_terms", "top_tokens", "freq_tokens",
      "pivot", "unpivot", "resample_fill", "fuzzy_pairs",
      "components", "corr_matrix", "histogram", "rolling_mean",
      "cap_per_group", "profile", "anomalies", "top_per_group",
      "asof_join", "range_join", "sssp", "graph.sssp",
      "funnel", "retention", "diff_tables", "event_paths", "sessionize",
      "linfit", "transitions",
      "compact_table", "write_zordered", "write_keyed", "read_keyed",
      "upsert_keyed", "delete_keyed", "vacuum_keyed", "read_keyed_at", "table_stats",
      "keyed_stats", "phrase_search", "near_search", "keyed_changes",
      "poll_keyed_changes", "commit_change_cursor",
      "commit_group", "read_group", "group_pins",
      "vacuum_group", "drop_group", "unregister_cursor", "refresh_mvs",
      "append_delta_keyed", "compact_keyed", "split_keyed",
      "delete_keyed_where", "update_keyed_where",
      "delete_keyed_where_delta", "update_keyed_where_delta",
      "split_candidates", "merge_candidates", "merge_leaves",
      "build_agg_state",
      "merge_agg_state", "finalize_agg", "build_agg_state_keyed",
      "merge_agg_state_keyed", "compact_agg_state_keyed",
      "register_mv", "refresh_mv", "unregister_mv", "rebuild_mv",
      "list_mvs", "build_mv", "refresh_mv_incremental", "maintain_keyed",
      "build_search_index", "append_search_index", "compact_search_index",
      "search_idx", "phrase_search_idx",
      "near_search_idx")

    private def isTableExpr(e: Expr): Boolean = e match {
      case Ident(n) => env.get(n).exists(_.isInstanceOf[VT])
      case _: Projection | _: Selection | _: RangeLit | _: ListLit |
           _: Order | _: Slice | _: OneE => true
      case Call(fn, _) =>
        tableFns.contains(fn) || (fn.startsWith("list[") && fn.endsWith("]"))
      case Apply(Attr(te, m), _) => methodsOf(te).contains(m)
      case _ => false
    }

    private def semiAnti(acc: PTable, l: Expr, other: PTable,
                         anti: Boolean): PTable = {
      val leftCol = l match {
        case Ident(n) => n
        case Attr(_, n) => n
        case o => throw new TypeError(s"'in' left side must be a column, got $o")
      }
      val rightCol = other.columns.head
      if (anti) Joins.anti(acc, leftCol, other, rightCol)
      else Joins.semi(acc, leftCol, other, rightCol)
    }

    private def tableCall(fn: String, args: Seq[Arg]): PTable = {
      def t(e: Expr): PTable = evalTable(e)
      fn match {
        case "join" | "leftjoin" | "outerjoin" | "joinall" =>
          val on = args.find(_.name.contains("on")).map(a => evalCol(a.value, None))
          val sides = args.filterNot(_.name.contains("on")).map { a =>
            val alias = a.name.getOrElse(
              throw new TypeError("join sides must be named: join(a: t1, b: t2)"))
            // `join(a: A.col, b: B.row)` — join ON the named columns,
            // keeping the FULL rows on each side (reference
            // examples/matrices.pql mult_matrices; test_struct_inline)
            a.value match {
              case Attr(te, cname) =>
                val base = try Some(t(te)) catch {
                  case _: graft.types.GraftError => None
                }
                base match {
                  case Some(bt) if bt.columns.contains(cname) =>
                    Joins.Side(alias, bt, Some(cname))
                  case _ => Joins.Side(alias, t(a.value))
                }
              case v => Joins.Side(alias, t(v))
            }
          }
          val kind = fn match {
            case "join" => Joins.Inner
            case "leftjoin" => Joins.LeftOuter
            case "outerjoin" => Joins.FullOuter
            case "joinall" => Joins.Cross
          }
          Joins.joinN(kind, sides, on)
        case "distinct" => t(args.head.value).distinct
        case "limit" =>
          t(args.head.value).limit(constLong(args(1).value).toInt)
        case "enum" => t(args.head.value).enum("index")
        case "count" => // count(table) → one-row table
          t(args.head.value).aggAll(NamedCol("count", F.count(lit(1))))
        case "list" => // list(t) → first column only, renamed `item`
          // (reference casts.py table→list aliases to ITEM_NAME)
          val tt = t(args.head.value)
          tt.project(NamedCol("item", col(tt.columns.head)))
        // `list[float](t)` — cast the single column to the element
        // type (reference casts.py _cast_list; `list[int]` truncates
        // like the reference's int cast)
        case _ if fn.startsWith("list[") && fn.endsWith("]") =>
          val elem = sparkTypeOf(fn.substring(5, fn.length - 1))
          val tt = t(args.head.value)
          tt.project(NamedCol("item", col(tt.columns.head).cast(elem)))
        // engine extensions (table position): the LLM-pipeline table
        // operators, so a dedup/ANN pass composes with ordinary
        // language queries. Column names are string literals (the
        // language has no column-reference values in call position).
        case "dedup_exact" =>
          if (args.length != 3)
            throw new TypeError("dedup_exact(t, \"id_col\", \"text_col\")")
          PTable(graft.ext.Dedup.exact(t(args(0).value).df,
            litString(args(1).value), litString(args(2).value)))
        case "near_dup_pairs" =>
          if (args.length != 4)
            throw new TypeError(
              "near_dup_pairs(t, \"id_col\", \"text_col\", threshold)")
          val thr = args(3).value match {
            case FloatLit(v) => v
            case IntLit(v) => v.toDouble
            case o => throw new TypeError(s"threshold must be a number, got $o")
          }
          PTable(graft.ext.Dedup.minhashPairs(t(args(0).value).df,
            litString(args(1).value), litString(args(2).value), thr))
        case "ann_topk" =>
          // optional 4th arg picks the engine's ANN strategy: exact
          // brute force (default), single-table LSH, OR-amplified
          // multi-table LSH (the recall dial), or IVF
          if (args.length < 3 || args.length > 4)
            throw new TypeError("ann_topk(queries, corpus, k, method?)")
          val (qdf, cdf) = (t(args(0).value).df, t(args(1).value).df)
          val k = constLong(args(2).value).toInt
          val method =
            if (args.length == 4) litString(args(3).value) else "brute"
          PTable(method match {
            case "brute" =>
              graft.ext.Similarity.bruteForceTopK(qdf, cdf, k)
            case "lsh" => graft.ext.Similarity.lshTopK(qdf, cdf, k)
            case "lsh_multi" =>
              graft.ext.Similarity.lshTopKMulti(qdf, cdf, k)
            case "ivf" => graft.ext.Similarity.ivfTopK(qdf, cdf, k)
            case other => throw new graft.types.ValueError(
              s"ann_topk: unknown method '$other' " +
                "(brute | lsh | lsh_multi | ivf)")
          })
        case "train_split" =>
          if (args.length != 2)
            throw new TypeError("train_split(t, \"id_col\")")
          val tab = t(args(0).value)
          PTable(graft.ext.Corpus.trainSplit(tab.df,
            tab.df.col(litString(args(1).value))))
        case "chunk_docs" =>
          if (args.length != 5)
            throw new TypeError(
              "chunk_docs(t, \"id_col\", \"text_col\", size, overlap)")
          val tab = t(args(0).value)
          PTable(graft.ext.Corpus.chunk(tab.df,
            tab.df.col(litString(args(1).value)),
            tab.df.col(litString(args(2).value)),
            constLong(args(3).value).toInt, constLong(args(4).value).toInt))
        case "weighted_sample" =>
          if (args.length != 3)
            throw new TypeError(
              "weighted_sample(t, \"key_col\", \"weight_col\")")
          val tab = t(args(0).value)
          PTable(graft.ext.Corpus.weightedSample(tab.df,
            tab.df.col(litString(args(1).value)),
            tab.df.col(litString(args(2).value))))
        case "repetition_signals" =>
          if (args.length != 3)
            throw new TypeError(
              "repetition_signals(t, \"id_col\", \"text_col\")")
          PTable(graft.ext.Corpus.repetitionSignals(t(args(0).value).df,
            litString(args(1).value), litString(args(2).value)))
        case "decontaminate" =>
          if (args.length != 5)
            throw new TypeError(
              "decontaminate(t, \"id_col\", \"text_col\", bench_t, \"bench_text_col\")")
          PTable(graft.ext.Corpus.decontaminate(t(args(0).value).df,
            litString(args(1).value), litString(args(2).value),
            t(args(3).value).df, litString(args(4).value)))
        case "lm_score" =>
          if (args.length < 5 || args.length > 7)
            throw new TypeError(
              "lm_score(t, \"id_col\", \"text_col\", ref_t, \"ref_text_col\", min_count?, n?)")
          val mc = if (args.length >= 6) constLong(args(5).value) else 1L
          val order = if (args.length == 7) constLong(args(6).value).toInt
                      else 2
          val model = graft.ext.Corpus.lmTrain(t(args(3).value).df,
            litString(args(4).value), minCount = mc, n = order)
          PTable(graft.ext.Corpus.lmScore(t(args(0).value).df,
            litString(args(1).value), litString(args(2).value), model))
        case "decontaminate_bloom" =>
          if (args.length < 5 || args.length > 6)
            throw new TypeError(
              "decontaminate_bloom(t, \"id_col\", \"text_col\", bench_t, \"bench_text_col\", n_bits?)")
          val nb = if (args.length == 6) constLong(args(5).value).toInt
                   else 1 << 20
          PTable(graft.ext.Corpus.decontaminateBloom(t(args(0).value).df,
            litString(args(1).value), litString(args(2).value),
            t(args(3).value).df, litString(args(4).value), nBits = nb))
        case "pack_sequences" =>
          if (args.length != 4)
            throw new TypeError(
              "pack_sequences(t, \"order_col\", \"tokens_col\", budget)")
          val tab = t(args(0).value)
          PTable(graft.ext.Corpus.packSequences(tab.df,
            tab.df.col(litString(args(1).value)),
            tab.df.col(litString(args(2).value)),
            constLong(args(3).value)))
        case "line_dedup" =>
          if (args.length < 4 || args.length > 5)
            throw new TypeError(
              "line_dedup(t, \"id_col\", \"text_col\", max_docs, \"delim\"?)")
          val delim =
            if (args.length == 5) litString(args(4).value) else "\n"
          PTable(graft.ext.Corpus.lineDedup(t(args(0).value).df,
            litString(args(1).value), litString(args(2).value),
            constLong(args(3).value), delim))
        case "mix_corpus" =>
          // named extra args are the per-source mixture weights
          // (mix_corpus(t, ..., budget, src0: 3.0, src1: 3.0));
          // unnamed sources default to weight 1
          val pos = args.filter(_.name.isEmpty)
          if (pos.length != 5)
            throw new TypeError(
              "mix_corpus(t, \"id_col\", \"source_col\", \"text_col\", budget_tokens, source: weight, ...)")
          val weights = args.filter(_.name.isDefined).map { a =>
            val v = a.value match {
              case FloatLit(x) => x
              case IntLit(x) => x.toDouble
              case o => throw new TypeError(s"mix weight must be a number, got $o")
            }
            a.name.get -> v
          }.toMap
          val tab = t(pos(0).value)
          PTable(graft.ext.Corpus.mixBySource(tab.df,
            litString(pos(1).value), litString(pos(2).value),
            graft.ext.TextAnalysis.tokenCount(
              tab.df.col(litString(pos(3).value))),
            weights, constLong(pos(4).value)))
        case "semantic_dedup" =>
          if (args.length != 3)
            throw new TypeError(
              "semantic_dedup(t, threshold, \"block_col\")")
          val thr = args(1).value match {
            case FloatLit(v) => v
            case IntLit(v) => v.toDouble
            case o => throw new TypeError(s"threshold must be a number, got $o")
          }
          PTable(graft.ext.Similarity.semanticDedup(t(args(0).value).df,
            thr, litString(args(2).value)))
        case "shard_assign" =>
          if (args.length != 3)
            throw new TypeError("shard_assign(t, \"key_col\", n_shards)")
          val tab = t(args(0).value)
          PTable(graft.ext.Corpus.shardAssign(tab.df,
            tab.df.col(litString(args(1).value)),
            constLong(args(2).value).toInt))
        case "repeated_spans" =>
          if (args.length < 3 || args.length > 4)
            throw new TypeError(
              "repeated_spans(t, \"id_col\", \"text_col\", min_docs?)")
          val md = if (args.length == 4) constLong(args(3).value) else 2L
          PTable(graft.ext.Dedup.repeatedSpans(t(args(0).value).df,
            litString(args(1).value), litString(args(2).value),
            minDocs = md))
        case "span_dup_frac" =>
          if (args.length != 3)
            throw new TypeError("span_dup_frac(t, \"id_col\", \"text_col\")")
          PTable(graft.ext.Dedup.spanDupFraction(t(args(0).value).df,
            litString(args(1).value), litString(args(2).value)))
        case "remove_repeated_spans" =>
          if (args.length < 3 || args.length > 5)
            throw new TypeError(
              "remove_repeated_spans(t, \"id_col\", \"text_col\", min_docs?, keep_first?)")
          val md = if (args.length >= 4) constLong(args(3).value) else 2L
          val kf = args.length == 5 && constBool(args(4).value)
          PTable(graft.ext.Dedup.removeRepeatedSpans(t(args(0).value).df,
            litString(args(1).value), litString(args(2).value),
            minDocs = md, keepFirst = kf))
        case "contamination_score" =>
          if (args.length != 5)
            throw new TypeError(
              "contamination_score(t, \"id_col\", \"text_col\", bench_t, \"bench_text_col\")")
          PTable(graft.ext.Corpus.contaminationScore(t(args(0).value).df,
            litString(args(1).value), litString(args(2).value),
            t(args(3).value).df, litString(args(4).value)))
        // ranked text retrieval (ext/Search): query terms are one
        // whitespace-separated string literal (plan-build-time
        // constants — that is what makes the scan zero-shuffle)
        case "pivot" =>
          // pivot(t, "group cols", "pivot_col", "v1 v2 ...", "agg",
          // "val_col") — long→wide reshape; agg ∈ sum|avg|count|min|max
          // (sum/avg run through exact decimal sums, the engine's
          // determinism rule for aggregated doubles)
          if (args.length != 6)
            throw new TypeError(
              "pivot(t, \"group cols\", \"pivot_col\", \"values\", " +
                "\"agg\", \"val_col\")")
          val groups = litString(args(1).value).trim.split("\\s+").toSeq
          val values = litString(args(3).value).trim.split("\\s+").toSeq
          val vc = col(litString(args(5).value))
          val agg: Column => Column = litString(args(4).value) match {
            case "sum"   => graft.functions.PF.dsum(_)
            case "avg"   => graft.functions.PF.davg(_)
            case "count" => F.count
            case "min"   => F.min
            case "max"   => F.max
            case other   => throw new TypeError(s"pivot: unknown agg '$other'")
          }
          PTable(graft.ext.Reshape.pivot(t(args(0).value).df,
            groups, litString(args(2).value), values, agg, vc))
        case "unpivot" =>
          // unpivot(t, "id cols", "value cols", "var_name"?, "val_name"?)
          if (args.length < 3 || args.length > 5)
            throw new TypeError(
              "unpivot(t, \"id cols\", \"value cols\", \"var\"?, \"val\"?)")
          val ids = litString(args(1).value).trim.split("\\s+").toSeq
          val vals = litString(args(2).value).trim.split("\\s+").toSeq
          val varName =
            if (args.length >= 4) litString(args(3).value) else "metric"
          val valName =
            if (args.length == 5) litString(args(4).value) else "value"
          PTable(graft.ext.Reshape.unpivot(t(args(0).value).df,
            ids, vals, varName, valName))
        case "top_per_group" =>
          // top_per_group(t, "key cols", "order cols", k) — order cols
          // may carry a ^ prefix for descending, reference-style
          if (args.length != 4)
            throw new TypeError(
              "top_per_group(t, \"key cols\", \"order cols\", k)")
          val keys = litString(args(1).value).trim.split("\\s+").toSeq
          val ord = litString(args(2).value).trim.split("\\s+").toSeq
            .map(c => if (c.startsWith("^")) col(c.drop(1)).desc
                      else col(c).asc)
          PTable(graft.ext.Ranks.topPerGroup(t(args(0).value).df,
            keys, ord.toIndexedSeq, constLong(args(3).value).toInt))
        case "asof_join" =>
          // asof_join(l, r, "key cols", "l_ts", "r_ts", "value cols")
          // — attach each left row the LAST right row at or before it
          if (args.length != 6)
            throw new TypeError(
              "asof_join(l, r, \"keys\", \"l_ts\", \"r_ts\", \"vals\")")
          val keys = litString(args(2).value).trim.split("\\s+").toSeq
          val vals = litString(args(5).value).trim.split("\\s+").toSeq
          PTable(graft.joins.Joins.asofJoin(t(args(0).value).df,
            t(args(1).value).df, keys, litString(args(3).value),
            litString(args(4).value), vals))
        case "range_join" =>
          // range_join(l, "v", r, "lo", "hi", bin) — l rows joined to
          // r intervals containing v, via binned equi-join
          if (args.length != 6)
            throw new TypeError(
              "range_join(l, \"v\", r, \"lo\", \"hi\", bin)")
          PTable(graft.joins.Joins.rangeJoin(t(args(0).value).df,
            litString(args(1).value), t(args(2).value).df,
            litString(args(3).value), litString(args(4).value),
            constDouble(args(5).value)))
        case "profile" =>
          // profile(t, "cols"?, approx?) — per-column count/nulls/
          // distinct/min/max in one pass; approx=true swaps exact
          // distinct for the md5-HLL register aggregate (no Expand)
          if (args.isEmpty || args.length > 3)
            throw new TypeError("profile(t, \"cols\"?, approx?)")
          val cols =
            if (args.length >= 2)
              litString(args(1).value).trim.split("\\s+").toSeq
            else Nil
          val approx = args.length == 3 && constBool(args(2).value)
          PTable(graft.ext.Stats.profile(t(args.head.value).df, cols,
            approx = approx))
        case "anomalies" =>
          // anomalies(t, "key cols", "val_col", z) — rows beyond z
          // sample stddevs from their group mean
          if (args.length != 4)
            throw new TypeError(
              "anomalies(t, \"key cols\", \"val_col\", z)")
          val keys = litString(args(1).value).trim.split("\\s+").toSeq
          PTable(graft.ext.Stats.anomalies(t(args(0).value).df,
            keys, litString(args(2).value),
            constDouble(args(3).value)))
        case "cap_per_group" =>
          // cap_per_group(t, "key cols", "id_col", k) — keep at most
          // k rows per group, deterministic (lowest md5 hashes win)
          if (args.length != 4)
            throw new TypeError(
              "cap_per_group(t, \"key cols\", \"id_col\", k)")
          val keys = litString(args(1).value).trim.split("\\s+").toSeq
          PTable(graft.ext.Corpus.capPerGroup(t(args(0).value).df,
            keys, litString(args(2).value),
            constLong(args(3).value).toInt))
        case "components" =>
          // components(edges) — connected components over (src, dst)
          // or (id_a, id_b) pairs; returns (id, label = min id in
          // component)
          if (args.length != 1)
            throw new TypeError("components(edges)")
          val e = t(args.head.value).df
          val pairs =
            if (e.columns.contains("id_a")) e
            else e.select(col(e.columns(0)).as("id_a"),
              col(e.columns(1)).as("id_b"))
          PTable(graft.ext.Dedup.connectedComponents(pairs))
        case "corr_matrix" =>
          // corr_matrix(t, "col col ...") — every pairwise Pearson
          // correlation in one aggregate pass
          if (args.length != 2)
            throw new TypeError("corr_matrix(t, \"cols\")")
          val cols = litString(args(1).value).trim.split("\\s+").toSeq
          PTable(graft.ext.Stats.corrMatrix(t(args.head.value).df, cols))
        case "histogram" =>
          // histogram(t, "col", nbins) — equi-width histogram
          if (args.length != 3)
            throw new TypeError("histogram(t, \"col\", nbins)")
          PTable(graft.ext.Stats.histogram(t(args.head.value).df,
            litString(args(1).value), constLong(args(2).value).toInt))
        case "rolling_mean" =>
          // rolling_mean(t, "key cols", "order cols", n, "val_col") —
          // trailing n-row moving average per series, appended as `ma`
          if (args.length != 5)
            throw new TypeError(
              "rolling_mean(t, \"key cols\", \"order cols\", n, \"val\")")
          val keys = litString(args(1).value).trim.split("\\s+").toSeq
          val ord = litString(args(2).value).trim.split("\\s+").toSeq
            .map(col)
          val src = t(args.head.value).df
          PTable(src.withColumn("ma",
            graft.ext.TimeSeries.rollingMean(keys, ord.toIndexedSeq,
              constLong(args(3).value).toInt,
              col(litString(args(4).value)))))
        case "fuzzy_pairs" =>
          // fuzzy_pairs(t, "id_col", "str_col", k) — typo-tolerant
          // entity matching: all row pairs within levenshtein k (1|2)
          if (args.length != 4)
            throw new TypeError(
              "fuzzy_pairs(t, \"id_col\", \"str_col\", k)")
          PTable(graft.ext.Dedup.fuzzyPairs(t(args(0).value).df,
            litString(args(1).value), litString(args(2).value),
            constLong(args(3).value).toInt))
        case "resample_fill" =>
          // resample_fill(t, "ts_col", "key cols", interval_us,
          // "val_col") — fixed-width buckets per key, gaps densified,
          // the summed level forward-filled; the per-bucket count `n`
          // keeps its gap NULLs (an absent observation is not zero)
          if (args.length != 5)
            throw new TypeError(
              "resample_fill(t, \"ts_col\", \"key cols\", interval_us, " +
                "\"val_col\")")
          val keys = litString(args(2).value).trim.split("\\s+").toSeq
          val vc = col(litString(args(4).value))
          PTable(graft.ext.TimeSeries.resampleFill(t(args(0).value).df,
            litString(args(1).value), keys,
            constLong(args(3).value),
            Seq(graft.functions.PF.dsum(vc).as("total"),
              F.count(F.lit(1)).as("n")),
            ffillCols = Seq("total")))
        case "bm25_search" =>
          if (args.length < 5 || args.length > 6)
            throw new TypeError(
              "bm25_search(t, \"id_col\", \"text_col\", \"terms\", k, all?)")
          val terms = litString(args(3).value).trim.split("\\s+").toSeq
            .filter(_.nonEmpty)
          if (terms.isEmpty)
            throw new graft.types.ValueError("bm25_search: empty query")
          val all = args.length == 6 && constBool(args(5).value)
          PTable(graft.ext.Search.bm25Search(t(args(0).value).df,
            litString(args(1).value), litString(args(2).value),
            terms, constLong(args(4).value).toInt, requireAll = all))
        case "top_terms" =>
          if (args.length != 4)
            throw new TypeError(
              "top_terms(t, \"id_col\", \"text_col\", m)")
          PTable(graft.ext.Search.topTermsPerDoc(t(args(0).value).df,
            litString(args(1).value), litString(args(2).value),
            constLong(args(3).value).toInt))
        case "top_tokens" =>
          if (args.length != 3)
            throw new TypeError("top_tokens(t, \"text_col\", k)")
          PTable(graft.ext.Search.topTokens(t(args(0).value).df,
            litString(args(1).value), constLong(args(2).value).toInt))
        case "freq_tokens" =>
          if (args.length != 3)
            throw new TypeError("freq_tokens(t, \"text_col\", capacity)")
          PTable(graft.ext.Search.freqTokens(t(args(0).value).df,
            litString(args(1).value), constLong(args(2).value).toInt))
        // positional joins (reference __builtins__.pql:211-257) —
        // sides may be named (`zipjoin(a: x, b: y)`) or positional
        case "zipjoin" | "zipjoin_left" | "zipjoin_longest" =>
          val sides = args.map(a => t(a.value))
          if (sides.length != 2)
            throw new TypeError(s"$fn expects 2 tables, got ${sides.length}")
          val names = args.zipWithIndex.map { case (a, i) =>
            a.name.getOrElse(if (i == 0) "a" else "b")
          }
          val joined = fn match {
            case "zipjoin" => Joins.zipjoin(sides(0), sides(1))
            case "zipjoin_left" => Joins.zipjoinLeft(sides(0), sides(1))
            case _ => Joins.zipjoinLongest(sides(0), sides(1))
          }
          // rename the struct sides to the caller's aliases
          joined.project(
            NamedCol(names(0), col(joined.columns(0))),
            NamedCol(names(1), col(joined.columns(1))))
        case "map_range" =>
          // reference __builtins__.pql:592-656: each row fans out to a
          // range of i values; int bounds are [start, end), FUNCTION
          // bounds apply per row to `item` and are inclusive (the
          // reference filters i <= end(item) after a global range —
          // a per-row sequence produces the same rows without the
          // global min/max probe or over-generation)
          val tt = t(args(0).value)
          val sch = Some(tt.df.schema)
          def bound(e: Expr): (Boolean, Column) =
            tryScalar(resolveScalars(e)) match {
              case Some(l: Long) => (true, lit(l))
              case _ =>
                val applied = e match {
                  case Ident(f2) => Call(f2, Seq(Arg(None, Ident("item"))))
                  case o => o
                }
                (false, evalCol(inline(applied, funcs), sch))
            }
          val (_, sCol) = bound(args(1).value)
          val (eInt, eCol) = bound(args(2).value)
          val hi = if (eInt) eCol - 1 else eCol
          // guard empty ranges: Spark's sequence(start, stop) steps
          // -1 when start > stop; the reference (__builtins__.pql
          // filter i <= end(item)) produces no rows there instead
          val lo = sCol.cast(LongType)
          val hiL = hi.cast(LongType)
          PTable(tt.df.select(
            F.explode(F.when(lo <= hiL, F.sequence(lo, hiL))
              .otherwise(F.array()))
              .as("i") +: tt.columns.map(col): _*))
        case "char_range" => // inclusive character range (reference
          // __builtins__.pql char_range via char/char_ord)
          val from = constString(args(0).value)
          val to = constString(args(1).value)
          PTable.fromList(spark,
            (from.head to to.head).map(_.toString))

        case "SQL" | "run_statement" =>
          // SQL(type, "code") escape hatch (reference
          // pql_functions.py:86-123): `$var` interpolates tables as
          // temp views and scalars as literals; `$self` recursion is
          // handled by SqlEscape's fixpoint. The type argument is
          // advisory — the result schema comes from the query itself.
          val code = args.last.value match {
            case StrLit(s) => s
            case o => throw new TypeError(s"SQL() expects a string, got $o")
          }
          val refs = "\\$([A-Za-z_][A-Za-z0-9_]*)".r
            .findAllMatchIn(code).map(_.group(1)).toSeq.distinct
            .filterNot(_ == "self")
          var text = code
          val tableVars = Seq.newBuilder[(String, PTable)]
          refs.foreach { n =>
            env.get(n) match {
              case Some(VT(tt)) => tableVars += (n -> tt)
              case Some(VS(v)) =>
                val litTxt = v match {
                  case s: String => "'" + s.replace("'", "''") + "'"
                  case null => "NULL"
                  case o => o.toString
                }
                text = text.replaceAll(
                  "\\$" + java.util.regex.Pattern.quote(n) + "(?![A-Za-z0-9_])",
                  java.util.regex.Matcher.quoteReplacement(litTxt))
              case None => throw new NameError(
                s"SQL(): unknown interpolation variable '$$$n'")
            }
          }
          // bare expression snippets (reference `SQL(int, "$x+5")`)
          // wrap into a SELECT — the reference compiles non-query
          // snippets as scalar expressions
          val trimmedUp = text.trim.toUpperCase
          if (!trimmedUp.startsWith("SELECT") && !trimmedUp.startsWith("WITH"))
            text = s"SELECT ($text) AS value"
          // the TYPE argument names the `$self` relation's columns
          // (reference graph.pql:14,34: list[int] → item; node → its
          // declared fields)
          val selfCols: Option[Seq[String]] = args.head.value match {
            case Selection(Ident("list"), _) | Ident("list") =>
              Some(Seq("item"))
            case Ident(tn) => env.get(tn) match {
              case Some(VT(tt)) => Some(tt.columns)
              case _ => None
            }
            case _ => None
          }
          val sqlRes = graft.sqlesc.SqlEscape.sqlTyped(spark, text, 1000,
            selfCols, tableVars.result(): _*)
          // run_statement(code) = force_eval(SQL(nulltype, code))
          // (reference __builtins__.pql:559-561) — execute for effect
          if (fn == "run_statement") { sqlRes.df.collect(); sqlRes }
          else sqlRes
        case "temptable" =>
          PTable(t(args.head.value).df.localCheckpoint(true))
        case "force_eval" => // materialize NOW (reference
          // pql_functions.py:125-130): same plan-cut as temptable
          PTable(t(args.head.value).df.localCheckpoint(true))
        case "describe" =>
          // per-numeric-column summary stats (reference
          // __builtins__.pql:656-687) — ONE distributed aggregate over
          // every column at once, reshaped driver-side (a single row
          // travels to the driver regardless of table size)
          val tt = t(args.head.value)
          val nums = tt.df.schema.fields
            .filter(_.dataType.isInstanceOf[NumericType]).map(_.name).toSeq
          if (nums.isEmpty)
            throw new TypeError("describe: table has no numeric columns")
          val aggs = nums.flatMap(c => Seq(
            F.count(col(c)).as(s"${c}__n"),
            F.avg(col(c)).as(s"${c}__mean"),
            F.min(col(c)).cast(DoubleType).as(s"${c}__min"),
            F.max(col(c)).cast(DoubleType).as(s"${c}__max"),
            F.stddev_samp(col(c)).as(s"${c}__std")))
          val row = tt.df.agg(aggs.head, aggs.tail: _*).head()
          val rows = nums.zipWithIndex.map { case (c, i) =>
            Seq[Any](c, row.getLong(i * 5), row.get(i * 5 + 1),
              row.get(i * 5 + 2), row.get(i * 5 + 3), row.get(i * 5 + 4))
          }
          PTable.fromRows(spark,
            Seq("column", "count", "mean", "min", "max", "std"), rows)
        case "sample_ratio_fast" =>
          // reference __builtins__.pql:515-518: tbl[random() < ratio]
          t(args.head.value).sampleRatioFast(constDouble(args(1).value))
        case "sample_fast" =>
          t(args.head.value).sampleFast(constLong(args(1).value).toInt,
            args.lift(2).map(a => constDouble(a.value)).getOrElse(0.05))
        case "page" =>
          // reference __builtins__.pql:553-556
          val size = args.lift(2).map(a => constLong(a.value))
            .getOrElse(20L).toInt
          val idx = constLong(args(1).value).toInt
          t(args.head.value).slice(idx * size, idx * size + size)
        case "limit_offset" =>
          // reference __builtins__.pql:134-137: tbl[offset..offset+lim]
          val lim = constLong(args(1).value).toInt
          val off = constLong(args(2).value).toInt
          t(args.head.value).slice(off, off + lim)
        // named forms of the table set operators
        // (reference pql_functions.py:385-411)
        case "table_concat" => t(args(0).value) + t(args(1).value)
        case "table_union" => t(args(0).value) | t(args(1).value)
        case "table_intersect" => t(args(0).value) & t(args(1).value)
        // reference namespace key is 'table_subtract'
        // (pql_functions.py:1111); the impl function carries the
        // 'substract' typo — accept both spellings
        case "table_substract" | "table_subtract" =>
          t(args(0).value) - t(args(1).value)
        case "tables" =>
          // reference pql_functions.py:806-828 introspection
          val rows = env.collect { case (n, VT(_)) => Tuple1(n) }.toSeq
            .sortBy(_._1)
          PTable(spark.createDataFrame(rows).toDF("name"))
        case "names" | "dir" =>
          // reference pql_functions.py:786-803: names(obj) lists the
          // object's attributes (a table's columns + methods);
          // names() lists the current namespace. Columns: name, type,
          // doc — test_basic.py:1093-1105 filters `type ~ 'function%'`.
          val rows: Seq[(String, String, String)] =
            if (args.nonEmpty) {
              val tname = args.head.value match {
                case Ident(n) => n
                case o => throw new TypeError(s"names() expects a table, got $o")
              }
              val tab = lookupTable(tname)
              val cols = tab.df.schema.fields.map { sf =>
                val ty =
                  if (tab.meta.pk.contains(sf.name)) "t_id"
                  else refTypeName(sf.dataType)
                (sf.name, ty, "")
              }.toSeq
              val methods = tableMethods.getOrElse(tname, Map.empty)
                .keys.map(m => (m, "function", "")).toSeq
              (cols ++ methods).sortBy(_._1)
            } else {
              val bindings = env.toSeq.map {
                case (n, VT(_)) => (n, "table", "")
                case (n, VS(x)) => (n, scalarTypeName(x), "")
              }
              val fns = (funcs.keySet ++ procs.keySet)
                .map(n => (n, "function", "")).toSeq
              (bindings ++ fns).sortBy(_._1)
            }
          PTable(spark.createDataFrame(rows).toDF("name", "type", "doc"))
        case "columns" =>
          PTable(graft.sources.Tables.columns(t(args.head.value)))
        case "env_vars" =>
          // reference pql_functions.py:653-665: bindings + their kind
          val rows = env.toSeq.map { case (n, v) =>
            (n, v match {
              case VT(_) => "table"
              case VS(x) => scalarTypeName(x)
            })
          }.sortBy(_._1)
          PTable(spark.createDataFrame(rows).toDF("name", "kind"))
        case "import_table" =>
          // reference pql_functions.py:689-711: import an existing DB
          // table into the namespace, reflecting its type; an optional
          // whitelist keeps only those columns
          val tname = constString(args.head.value)
          if (!cat.names.contains(tname))
            throw new NameError(s"unknown table '$tname'")
          val tab = cat.get(tname)
          val picked = args.lift(1).map(_.value) match {
            case None => tab
            case Some(ListLit(items)) =>
              val cols = items.map(constString)
              cols.filterNot(tab.columns.contains).foreach(c =>
                throw new NameError(
                  s"import_table: no column '$c' in '$tname'"))
              PTable(tab.df.select(cols.map(col): _*),
                tab.meta.copy(pk = tab.meta.pk.filter(cols.contains),
                  fks = tab.meta.fks.filter(f => cols.contains(f.column))))
            case Some(o) => throw new TypeError(
              s"import_table: expected a list of column names, got $o")
          }
          env = env + (tname -> VT(picked))
          picked
        case "import_json" =>
          // reference pql_functions.py:875-899: create a NEW table
          // from a JSON file, returning it
          val tname = constString(args.head.value)
          val uri = constString(args(1).value)
          val tab = graft.sources.Tables.json(spark, uri, name = tname)
          cat.register(tname, tab)
          env = env + (tname -> VT(cat.get(tname)))
          cat.get(tname)
        case "import_text" =>
          // raw-corpus ingestion (engine extension): one document per
          // line, a single `line` column
          if (args.length != 2)
            throw new TypeError("import_text(\"name\", \"path\")")
          val tname = constString(args.head.value)
          val uri = constString(args(1).value)
          val tab = graft.sources.Tables.text(spark, uri, name = tname)
          cat.register(tname, tab)
          env = env + (tname -> VT(cat.get(tname)))
          cat.get(tname)
        case "import_orc" =>
          // columnar warehouse ingestion (engine extension): ORC reads
          // with the same pushdown/pruning as parquet
          if (args.length != 2)
            throw new TypeError("import_orc(\"name\", \"path\")")
          val tname = constString(args.head.value)
          val uri = constString(args(1).value)
          val tab = graft.sources.Tables.orc(spark, uri, name = tname)
          cat.register(tname, tab)
          env = env + (tname -> VT(cat.get(tname)))
          cat.get(tname)
        case "import_jdbc" =>
          // foreign-database ingestion (the Spark-side analog of the
          // reference's external SQL dialect layer): bind a JDBC
          // table/subquery as a catalog table
          if (args.length != 3)
            throw new TypeError(
              "import_jdbc(\"name\", \"jdbc:...\", \"table\")")
          val tname = constString(args.head.value)
          val url = constString(args(1).value)
          val dbtable = constString(args(2).value)
          val tab = graft.sources.Tables.jdbc(spark, url, dbtable,
            name = tname)
          cat.register(tname, tab)
          env = env + (tname -> VT(cat.get(tname)))
          cat.get(tname)
        case "import_csv" =>
          // reference pql_functions.py:902-960: append a csv file's
          // rows into an EXISTING table (header=true skips/uses the
          // first line); headerless files bind positionally onto the
          // table's non-id columns
          val tname = args.head.value match {
            case Ident(n) => n
            case o => throw new TypeError(
              s"import_csv: expected a table, got $o")
          }
          val path = constString(args(1).value)
          val header = args.lift(2).map(_.value).exists {
            case BoolLit(b) => b
            case o => throw new TypeError(
              s"import_csv: header must be a bool, got $o")
          }
          val base = lookupTable(tname)
          if (!cat.names.contains(tname) || (cat.get(tname) ne base))
            cat.register(tname, base)
          val raw = graft.sources.Tables.csv(spark, path, header).df
          val targets = base.schema.fields
            .filterNot(f => base.meta.pk.contains(f.name))
          val aligned =
            if (header) raw
            else {
              // positional binding: stray TRAILING file columns drop
              // (same drop-don't-widen rule as the header path —
              // naively renaming would pass fewer names than columns
              // and crash toDF)
              val keepN = math.min(raw.columns.length, targets.length)
              raw.select(raw.columns.take(keepN).map(col): _*)
                .toDF(targets.map(_.name).take(keepN): _*)
            }
          // keep only the table's declared columns (a stray file
          // column must not widen the table) and cast the inferred
          // csv types to the table's
          val keepCols = aligned.columns.filter(c =>
            targets.exists(_.name == c))
          if (keepCols.isEmpty)
            throw new TypeError(
              s"import_csv: no file column matches table '$tname' " +
                s"(file: ${aligned.columns.mkString(", ")})")
          val casted = aligned.select(keepCols.map { c =>
            val f = targets.find(_.name == c).get
            col(c).cast(f.dataType).as(c)
          }: _*)
          val merged = cat.insertAll(tname, casted)
          env = env + (tname -> VT(merged))
          merged
        // qualified `graph.bfs` forms come from the stdlib module
        // (reference `import graph` — graph.pql; builtins preloaded).
        // Column contracts follow graph.pql: initial is any one-column
        // list; bfs returns `item`, walk_tree returns (id, rank).
        case "bfs" | "graph.bfs" =>
          val init = t(args(1).value)
          val initDf = init.df.select(col(init.columns.head).as("node"))
          PTable(graft.rec.Graph.bfs(t(args.head.value).df, initDf)
            .select(col("node").as("item")))
        case "walk_tree" | "graph.walk_tree" =>
          val init = t(args(1).value)
          val initDf = init.df.select(col(init.columns.head).as("node"))
          PTable(graft.rec.Graph.walkTree(t(args.head.value).df,
            initDf, constLong(args(2).value).toInt)
            .select(col("node").as("id"), col("rank")))
        case "page_rank" | "graph.page_rank" =>
          // page_rank(edges, iters?, damping?, seeds?) — edges must
          // expose (src, dst); returns (node, rank). A 4th table arg
          // personalizes the teleport to its (first-column) node set.
          if (args.isEmpty || args.length > 4)
            throw new TypeError(
              "page_rank(edges, iters?, damping?, seeds?)")
          val iters =
            if (args.length >= 2) constLong(args(1).value).toInt else 10
          val damping =
            if (args.length >= 3) constDouble(args(2).value) else 0.85
          val seeds =
            if (args.length == 4) t(args(3).value).df else null
          PTable(graft.rec.Graph.pageRank(t(args.head.value).df,
            iters, damping, sources = seeds))
        case "triangles" | "graph.triangles" =>
          // triangles(edges) — triangle count of the undirected
          // simple graph (one-row result)
          if (args.length != 1)
            throw new TypeError("triangles(edges)")
          PTable(graft.rec.Graph.triangles(t(args.head.value).df))
        case "sssp" | "graph.sssp" =>
          // sssp(edges, sources, max_iters?) — weighted shortest
          // paths; edges must expose (src, dst, weight), sources'
          // first column is the seed node set; returns (node, dist)
          if (args.length < 2 || args.length > 3)
            throw new TypeError("sssp(edges, sources, max_iters?)")
          val mi =
            if (args.length == 3) constLong(args(2).value).toInt else 50
          PTable(graft.rec.Graph.sssp(t(args.head.value).df,
            t(args(1).value).df, maxIters = mi))
        case "funnel" =>
          // funnel(events, "user", "ts", "type", "step1 step2 ...",
          //        window_us, max_events?) — anchored greedy funnel
          // depth per user; the optional cap bounds per-user state
          // (depth over the EARLIEST cap step-events)
          if (args.length < 6 || args.length > 7)
            throw new TypeError(
              "funnel(events, \"user\", \"ts\", \"type\", \"steps\", " +
                "window_us, max_events?)")
          val cap =
            if (args.length == 7) constLong(args(6).value).toInt else 0
          PTable(graft.ext.Events.funnel(t(args(0).value).df,
            litString(args(1).value), litString(args(2).value),
            litString(args(3).value),
            litString(args(4).value).trim.split("\\s+").toSeq,
            constLong(args(5).value), cap))
        case "retention" =>
          // retention(events, "user", "ts", bucket_us) — cohort
          // retention counts per (cohort, offset)
          if (args.length != 4)
            throw new TypeError(
              "retention(events, \"user\", \"ts\", bucket_us)")
          PTable(graft.ext.Events.retention(t(args(0).value).df,
            litString(args(1).value), litString(args(2).value),
            constLong(args(3).value)))
        case "linfit" =>
          // linfit(t, "key cols", "x", "y") — per-group OLS:
          // (keys..., n, slope, intercept, r2)
          if (args.length != 4)
            throw new TypeError("linfit(t, \"key cols\", \"x\", \"y\")")
          PTable(graft.ext.Stats.linfit(t(args(0).value).df,
            litString(args(1).value).trim.split("\\s+").toSeq,
            litString(args(2).value), litString(args(3).value)))
        case "transitions" =>
          // transitions(events, "user", "ts", "type") — first-order
          // Markov transition counts: (from_type, to_type, n)
          if (args.length != 4)
            throw new TypeError(
              "transitions(events, \"user\", \"ts\", \"type\")")
          PTable(graft.ext.Events.transitions(t(args(0).value).df,
            litString(args(1).value), litString(args(2).value),
            litString(args(3).value)))
        case "event_paths" =>
          // event_paths(events, "user", "ts", "type", max_len) — top
          // user journeys: (path, n_users)
          if (args.length != 5)
            throw new TypeError(
              "event_paths(events, \"user\", \"ts\", \"type\", max_len)")
          PTable(graft.ext.Events.eventPaths(t(args(0).value).df,
            litString(args(1).value), litString(args(2).value),
            litString(args(3).value), constLong(args(4).value).toInt))
        case "sessionize" =>
          // sessionize(events, "user", "ts", gap_us) — one row per
          // inactivity-gap session: (user, session_start, n)
          if (args.length != 4)
            throw new TypeError(
              "sessionize(events, \"user\", \"ts\", gap_us)")
          PTable(graft.ext.Events.sessionize(t(args(0).value).df,
            litString(args(1).value), litString(args(2).value),
            constLong(args(3).value)))
        case "diff_tables" =>
          // diff_tables(a, b, "key cols") — row-level reconciliation:
          // (keys..., status in added/removed/changed/same)
          if (args.length != 3)
            throw new TypeError("diff_tables(a, b, \"key cols\")")
          PTable(graft.sources.Maintenance.diff(t(args(0).value).df,
            t(args(1).value).df,
            litString(args(2).value).trim.split("\\s+").toSeq))
        case "compact_table" =>
          // compact_table(in_dir, out_dir, n_files) — rewrite a parquet
          // dataset into exactly n files; returns the chosen count
          if (args.length != 3)
            throw new TypeError("compact_table(\"in_dir\", \"out_dir\", n_files)")
          val n = graft.sources.Maintenance.compactTo(spark,
            litString(args(0).value), litString(args(1).value),
            constLong(args(2).value).toInt)
          PTable(spark.range(1).select(F.lit(n.toLong).as("n_files")))
        case "write_zordered" =>
          // write_zordered(t, dir, "cols", bits?, bucket_bits?) — write
          // clustered by the N-dim Morton interleave; returns the
          // written rows read back
          if (args.length < 3 || args.length > 5)
            throw new TypeError(
              "write_zordered(t, \"dir\", \"cols\", bits?, bucket_bits?)")
          val zc = litString(args(2).value).trim.split("\\s+").toSeq
          val bits =
            if (args.length >= 4) constLong(args(3).value).toInt else 10
          val bb =
            if (args.length == 5) constLong(args(4).value).toInt else 6
          graft.sources.Maintenance.writeZOrderedN(t(args(0).value).df,
            litString(args(1).value), zc, bits, bb)
          PTable(spark.read.parquet(litString(args(1).value)))
        case "write_keyed" =>
          // write_keyed(t, dir, "key", n_buckets) — persist as a
          // manifest-committed keyed table; returns the live snapshot
          if (args.length != 4)
            throw new TypeError("write_keyed(t, \"dir\", \"key\", n_buckets)")
          graft.sources.Maintenance.writeKeyed(t(args(0).value).df,
            litString(args(1).value), litString(args(2).value),
            constLong(args(3).value).toInt)
          PTable(graft.sources.Maintenance.readKeyed(spark,
            litString(args(1).value)))
        case "read_keyed" =>
          // read_keyed(dir, version?) — the manifest-resolved snapshot
          // (time travel with an explicit version)
          if (args.isEmpty || args.length > 2)
            throw new TypeError("read_keyed(\"dir\", version?)")
          val ver =
            if (args.length == 2) Some(constLong(args(1).value).toInt)
            else None
          // the LATEST snapshot carries the keyed mark (dir + the
          // manifest version it RESOLVED at, from the same manifest
          // read): the first selection on it re-plans through
          // readKeyedWhere (bucket-pruned point-reads / zone skipping
          // from the predicate itself), and MV routing requires the
          // watermark to equal the PINNED version — a base commit
          // after the read must not change what the frame answers.
          // Explicitly version-pinned reads stay plain scans.
          if (ver.isEmpty) {
            val (kdf, kv) = graft.sources.Maintenance.readKeyedPinned(
              spark, litString(args(0).value))
            new PTable(kdf, graft.types.TableMeta.empty,
              keyedMark = Some(graft.dsl.KeyedMark(
                litString(args(0).value).replaceAll("/+$", ""), kv)))
          } else PTable(graft.sources.Maintenance.readKeyed(spark,
            litString(args(0).value), ver))
        case "read_keyed_at" =>
          // read_keyed_at(dir, epoch_millis) — timestamp time travel:
          // the snapshot whose commit was live at that instant
          if (args.length != 2)
            throw new TypeError("read_keyed_at(\"dir\", epoch_millis)")
          PTable(graft.sources.Maintenance.readKeyed(spark,
            litString(args(0).value),
            Some(graft.sources.Maintenance.versionAt(spark,
              litString(args(0).value), constLong(args(1).value)))))
        case "upsert_keyed" =>
          // upsert_keyed(dir, updates, "key", n_buckets) — MERGE the
          // batch in (touched buckets only); returns the new snapshot
          if (args.length != 4)
            throw new TypeError(
              "upsert_keyed(\"dir\", updates, \"key\", n_buckets)")
          graft.sources.Maintenance.upsertKeyed(spark,
            litString(args(0).value), t(args(1).value).df,
            litString(args(2).value), constLong(args(3).value).toInt)
          PTable(graft.sources.Maintenance.readKeyed(spark,
            litString(args(0).value)))
        case "delete_keyed" =>
          // delete_keyed(dir, keys, "key", n_buckets) — keyed DELETE;
          // returns the new snapshot
          if (args.length != 4)
            throw new TypeError(
              "delete_keyed(\"dir\", keys, \"key\", n_buckets)")
          graft.sources.Maintenance.deleteKeyed(spark,
            litString(args(0).value), t(args(1).value).df,
            litString(args(2).value), constLong(args(3).value).toInt)
          PTable(graft.sources.Maintenance.readKeyed(spark,
            litString(args(0).value)))
        case "delete_keyed_where" =>
          // delete_keyed_where(dir, "sql_predicate") — DELETE WHERE
          // for keyed tables: the predicate prunes the read (key pins,
          // zone maps), only matching buckets rewrite, one atomic
          // commit. Returns the new snapshot.
          if (args.length != 2)
            throw new TypeError(
              "delete_keyed_where(\"dir\", \"predicate\")")
          graft.sources.Maintenance.deleteKeyedWhere(spark,
            litString(args(0).value),
            F.expr(litString(args(1).value)))
          PTable(graft.sources.Maintenance.readKeyed(spark,
            litString(args(0).value)))
        case "delete_keyed_where_delta" =>
          // delete_keyed_where_delta(dir, "predicate", "seq_expr"?) —
          // MERGE-ON-READ predicate delete: tombstones for matching
          // keys append as deltas (bytes ∝ matches, bases untouched);
          // seq tables must stamp (3rd arg). Returns the snapshot.
          if (args.length < 2 || args.length > 3)
            throw new TypeError(
              "delete_keyed_where_delta(\"dir\", \"predicate\", " +
                "\"seq_expr\"?)")
          graft.sources.Maintenance.deleteKeyedWhereDelta(spark,
            litString(args(0).value), F.expr(litString(args(1).value)),
            if (args.length == 3)
              Some(F.expr(litString(args(2).value)))
            else None)
          PTable(graft.sources.Maintenance.readKeyed(spark,
            litString(args(0).value)))
        case "update_keyed_where_delta" =>
          // update_keyed_where_delta(dir, "predicate", "col",
          // "sql_expr", ...) — MERGE-ON-READ predicate update: the
          // matching rows with assignments applied append as deltas
          // (bytes ∝ matches, bases untouched). Returns the snapshot.
          if (args.length < 4 || args.length % 2 != 0)
            throw new TypeError(
              "update_keyed_where_delta(\"dir\", \"predicate\", " +
                "\"col\", \"expr\", ...)")
          val ukdAssign = args.drop(2).grouped(2).map(p =>
            litString(p(0).value) -> F.expr(litString(p(1).value))).toSeq
          graft.sources.Maintenance.updateKeyedWhereDelta(spark,
            litString(args(0).value),
            F.expr(litString(args(1).value)), ukdAssign)
          PTable(graft.sources.Maintenance.readKeyed(spark,
            litString(args(0).value)))
        case "update_keyed_where" =>
          // update_keyed_where(dir, "sql_predicate", "col", "sql_expr",
          // ...) — UPDATE SET WHERE: matched rows get the assignments
          // (evaluated against the OLD row); key columns refuse.
          // Returns the new snapshot.
          if (args.length < 4 || args.length % 2 != 0)
            throw new TypeError(
              "update_keyed_where(\"dir\", \"predicate\", \"col\", " +
                "\"expr\", ...)")
          val ukAssign = args.drop(2).grouped(2).map(p =>
            litString(p(0).value) -> F.expr(litString(p(1).value))).toSeq
          graft.sources.Maintenance.updateKeyedWhere(spark,
            litString(args(0).value),
            F.expr(litString(args(1).value)), ukAssign)
          PTable(graft.sources.Maintenance.readKeyed(spark,
            litString(args(0).value)))
        case "append_delta_keyed" =>
          // append_delta_keyed(dir, updates, "key", n_buckets,
          // "seq_col"?) — MERGE-ON-READ upsert: the batch lands as
          // per-bucket delta dirs (bytes ∝ batch, bases never
          // rewritten); returns the resolved snapshot. Declaring a
          // sequence column (before the first append) makes resolution
          // MAX-SEQ-WINS table-wide — batches may then arrive in any
          // order (out-of-order CDC).
          if (args.length < 4 || args.length > 5)
            throw new TypeError(
              "append_delta_keyed(\"dir\", updates, \"key\", " +
                "n_buckets, \"seq_col\"?)")
          val adSeq = if (args.length == 5) {
            val v = litString(args(4).value).trim
            if (v.isEmpty) None else Some(v)
          } else None
          graft.sources.Maintenance.appendDeltaKeyedCols(spark,
            litString(args(0).value), t(args(1).value).df,
            Seq(litString(args(2).value)), constLong(args(3).value).toInt,
            seqCol = adSeq)
          PTable(graft.sources.Maintenance.readKeyed(spark,
            litString(args(0).value)))
        case "compact_keyed" =>
          // compact_keyed(dir) — fold every delta chain back into base
          // generations (one snapshot-isolated commit); returns the
          // compacted snapshot
          if (args.length != 1)
            throw new TypeError("compact_keyed(\"dir\")")
          graft.sources.Maintenance.compactKeyed(spark,
            litString(args(0).value))
          PTable(graft.sources.Maintenance.readKeyed(spark,
            litString(args(0).value)))
        case "split_keyed" =>
          // split_keyed(dir, b1, b2, ...) — extendible-hashing bucket
          // split: each listed leaf bucket splits into two children
          // one hash bit deeper; only those buckets' rows move, one
          // atomic manifest commit. Returns the (unchanged) snapshot.
          if (args.length < 2)
            throw new TypeError("split_keyed(\"dir\", bucket, ...)")
          graft.sources.Maintenance.splitKeyed(spark,
            litString(args(0).value),
            args.tail.map(a => constLong(a.value).toInt))
          PTable(graft.sources.Maintenance.readKeyed(spark,
            litString(args(0).value)))
        case "maintain_keyed" =>
          // maintain_keyed(dir, target_bytes, budget_bytes?,
          // min_chain?, merge_budget_bytes?) — ONE maintenance pass:
          // split every leaf over target_bytes (worst first, within
          // the rewrite budget), fold delta chains ≥ min_chain, then
          // MERGE drained sibling pairs back (combined bytes <
          // target/2) within the merge budget. Planned from the
          // manifest — a healthy table no-ops. Returns the split
          // bucket ids (empty = converged); merges show in the depth
          // map (keyed_stats / merge_candidates).
          if (args.length < 2 || args.length > 5)
            throw new TypeError(
              "maintain_keyed(\"dir\", target_bytes, budget_bytes?, " +
                "min_chain?, merge_budget_bytes?)")
          val mkBudget =
            if (args.length >= 3) constLong(args(2).value)
            else Long.MaxValue
          val mkChain =
            if (args.length >= 4) constLong(args(3).value).toInt else 2
          val mkMergeBudget =
            if (args.length == 5) constLong(args(4).value)
            else Long.MaxValue
          val mkSplit = graft.sources.Maintenance.maintainKeyed(spark,
            litString(args(0).value), constLong(args(1).value),
            mkBudget, mkChain, mkMergeBudget)
          PTable(
            if (mkSplit.isEmpty)
              spark.range(0).select(col("id").cast("int").as("bucket"))
            else spark.createDataFrame(mkSplit.map(Tuple1(_)))
              .toDF("bucket"))
        case "split_candidates" =>
          // split_candidates(dir, target_bytes) — the leaf buckets
          // whose live bytes exceed the budget, worst first, planned
          // from the manifest + fs listings (zero data IO): the policy
          // feed for split_keyed on a maintenance cadence
          if (args.length != 2)
            throw new TypeError("split_candidates(\"dir\", target_bytes)")
          val cand = graft.sources.Maintenance.splitCandidates(spark,
            litString(args(0).value), constLong(args(1).value))
          PTable(
            if (cand.isEmpty)
              spark.range(0).select(col("id").cast("int").as("bucket"),
                col("id").as("bytes"))
            else spark.createDataFrame(cand).toDF("bucket", "bytes"))
        case "merge_leaves" =>
          // merge_leaves(dir, p1, p2, ...) — extendible-hashing
          // CONTRACTION: each parent's two sibling leaves fold back
          // into one leaf a depth up (inverse of split_keyed; same
          // atomic depth-map commit). Returns the snapshot.
          if (args.length < 2)
            throw new TypeError("merge_leaves(\"dir\", parent, ...)")
          graft.sources.Maintenance.mergeLeaves(spark,
            litString(args(0).value),
            args.tail.map(a => constLong(a.value).toInt))
          PTable(graft.sources.Maintenance.readKeyed(spark,
            litString(args(0).value)))
        case "merge_candidates" =>
          // merge_candidates(dir, target_bytes) — the sibling leaf
          // pairs whose combined live bytes fell under target/2,
          // emptiest first (parent id + combined bytes): the
          // contraction feed for maintain_keyed's merge phase
          if (args.length != 2)
            throw new TypeError("merge_candidates(\"dir\", target_bytes)")
          val mcand = graft.sources.Maintenance.mergeCandidates(spark,
            litString(args(0).value), constLong(args(1).value))
          PTable(
            if (mcand.isEmpty)
              spark.range(0).select(col("id").cast("int").as("parent"),
                col("id").as("bytes"))
            else spark.createDataFrame(mcand).toDF("parent", "bytes"))
        case "build_agg_state" | "build_agg_state_keyed" =>
          // build_agg_state_keyed(t, "keys", "value", dir, n_buckets,
          // "distinct_key"?, sample_k?, "sample_unique"?) — the one full
          // pass of an incrementally maintained group-by view into the
          // agg-state table: refreshes touch only the batch's buckets
          // (or append delta partials); returns the finalized view.
          // build_agg_state(t, "keys", "value", dir, "distinct_key"?,
          // sample_k?, "sample_unique"?) is the same build into ONE
          // bucket. sample_unique (a row-unique column) makes the
          // quantile sample ROW-uniform; default is uniform over
          // distinct values — merges inherit the build's grain
          val bo = if (fn == "build_agg_state") 0 else 1 // n_buckets slot
          if (args.length < 4 + bo || args.length > 7 + bo)
            throw new TypeError(
              if (bo == 0)
                "build_agg_state(t, \"keys\", \"value\", \"dir\", " +
                  "\"distinct_key\"?, sample_k?, \"sample_unique\"?)"
              else
                "build_agg_state_keyed(t, \"keys\", \"value\", \"dir\", " +
                  "n_buckets, \"distinct_key\"?, sample_k?, " +
                  "\"sample_unique\"?)")
          val kkeys = litString(args(1).value).trim.split("\\s+").toSeq
          val ksk = if (args.length > 5 + bo)
            constLong(args(5 + bo).value).toInt else 0
          // "value" may be a space-separated LIST: one state tracking
          // several measures (per-measure __sum/__cnv/__min/__max)
          graft.sources.Maintenance.buildAggStateKeyedCols(
            t(args(0).value).df, litString(args(3).value), kkeys,
            litString(args(2).value).trim.split("\\s+").toSeq,
            if (bo == 0) 1 else constLong(args(4).value).toInt,
            distinctKey = optName(args, 4 + bo), sampleK = ksk,
            sampleUnique = optName(args, 6 + bo))
          PTable(graft.sources.Maintenance.finalizeAgg(
            graft.sources.Maintenance.readKeyed(spark,
              litString(args(3).value)), kkeys))
        case "merge_agg_state" | "merge_agg_state_keyed" =>
          // merge_agg_state_keyed(dir, batch, "keys", "value",
          // as_deltas?, "distinct_key"?, sample_k?, "sample_unique"?)
          // — fold one batch: copy-on-write of the touched buckets, or
          // as_deltas=true appends the partial (bytes ∝ batch; compact
          // with compact_agg_state_keyed). merge_agg_state(dir, batch,
          // "keys", "value", "distinct_key"?, sample_k?,
          // "sample_unique"?) is the copy-on-write merge, then a vacuum
          // keeping two versions. An omitted sample_k/sample_unique is
          // the build's; a contradicting grain fails loudly. Returns
          // the finalized view.
          val mo = if (fn == "merge_agg_state") 0 else 1 // as_deltas slot
          if (args.length < 4 || args.length > 7 + mo)
            throw new TypeError(
              if (mo == 0)
                "merge_agg_state(\"dir\", batch, \"keys\", \"value\", " +
                  "\"distinct_key\"?, sample_k?, \"sample_unique\"?)"
              else
                "merge_agg_state_keyed(\"dir\", batch, \"keys\", " +
                  "\"value\", as_deltas?, \"distinct_key\"?, sample_k?, " +
                  "\"sample_unique\"?)")
          val mdir = litString(args(0).value)
          val gkeys = litString(args(2).value).trim.split("\\s+").toSeq
          val gsk = // -1 = the build's recorded sampleK
            if (args.length > 5 + mo) constLong(args(5 + mo).value).toInt
            else -1
          graft.sources.Maintenance.mergeAggStateKeyedCols(spark, mdir,
            t(args(1).value).df, gkeys,
            litString(args(3).value).trim.split("\\s+").toSeq,
            distinctKey = optName(args, 4 + mo), sampleK = gsk,
            sampleUnique = optName(args, 6 + mo),
            asDeltas = mo == 1 && args.length >= 5 && constBool(args(4).value))
          if (mo == 0)
            graft.sources.Maintenance.vacuumKeyed(spark, mdir, keepVersions = 2)
          PTable(graft.sources.Maintenance.finalizeAgg(
            graft.sources.Maintenance.readKeyed(spark, mdir), gkeys))
        case "finalize_agg" =>
          // finalize_agg(dir, "keys") — the user-facing view of a
          // persisted agg state without touching it (read-only)
          if (args.length != 2)
            throw new TypeError("finalize_agg(\"dir\", \"keys\")")
          PTable(graft.sources.Maintenance.finalizeAgg(
            graft.sources.Maintenance.readKeyed(spark,
              litString(args(0).value)),
            litString(args(1).value).trim.split("\\s+").toSeq))
        case "compact_agg_state_keyed" =>
          // compact_agg_state_keyed(dir, "keys") — fold the
          // delta-partial chains back into base generations
          // (compact_keyed, which re-aggregates an agg state's
          // chains); returns the finalized view
          if (args.length != 2)
            throw new TypeError("compact_agg_state_keyed(\"dir\", \"keys\")")
          graft.sources.Maintenance.compactKeyed(spark,
            litString(args(0).value))
          PTable(graft.sources.Maintenance.finalizeAgg(
            graft.sources.Maintenance.readKeyed(spark,
              litString(args(0).value)),
            litString(args(1).value).trim.split("\\s+").toSeq))
        case "commit_group" =>
          // commit_group(group_dir, t1, v1, t2, v2, ...) — pin member
          // tables' manifest versions in ONE atomic group publish;
          // previously pinned tables this call omits carry forward.
          // Returns the group's pins.
          if (args.length < 3 || args.length % 2 == 0)
            throw new TypeError(
              "commit_group(\"group_dir\", \"table\", version, ...)")
          val gpins = args.tail.grouped(2).map(p =>
            litString(p(0).value) -> constLong(p(1).value).toInt).toMap
          graft.sources.Maintenance.commitGroup(spark,
            litString(args(0).value), gpins)
          pinsTable(litString(args(0).value))
        case "vacuum_group" =>
          // vacuum_group(group_dir, keep_versions?) — GC old pin sets
          // so their (older) pins stop flooring member vacuum; pins
          // only, never data
          if (args.isEmpty || args.length > 2)
            throw new TypeError(
              "vacuum_group(\"group_dir\", keep_versions?)")
          graft.sources.Maintenance.vacuumGroup(spark,
            litString(args(0).value),
            if (args.length == 2) constLong(args(1).value).toInt else 1)
          PTable(spark.range(1).select(lit(true).as("ok")))
        case "drop_group" =>
          // drop_group(group_dir) — decommission the group: sweep its
          // member pointer files and delete the group dir (member
          // vacuum floors relax immediately)
          if (args.length != 1)
            throw new TypeError("drop_group(\"group_dir\")")
          graft.sources.Maintenance.dropGroup(spark,
            litString(args(0).value))
          PTable(spark.range(1).select(lit(true).as("ok")))
        case "unregister_cursor" =>
          // unregister_cursor(dir, name) — decommission a registered
          // CDC consumer: its cursor stops flooring vacuum_keyed
          if (args.length != 2)
            throw new TypeError("unregister_cursor(\"dir\", \"name\")")
          graft.sources.Maintenance.unregisterCursor(spark,
            litString(args(0).value), litString(args(1).value))
          PTable(spark.range(1).select(lit(true).as("ok")))
        case "group_pins" =>
          // group_pins(group_dir) — the latest group version's pins
          if (args.length != 1)
            throw new TypeError("group_pins(\"group_dir\")")
          pinsTable(litString(args(0).value))
        case "read_group" =>
          // read_group(group_dir, table_dir) — the member table's
          // snapshot AT THE GROUP-PINNED VERSION: one group manifest
          // resolves every member, so a reader racing a pipeline never
          // sees mixed versions
          if (args.length != 2)
            throw new TypeError("read_group(\"group_dir\", \"table_dir\")")
          PTable(graft.sources.Maintenance.readGroup(spark,
            litString(args(0).value), litString(args(1).value)))
        case "register_mv" =>
          // register_mv(mv_dir, base_dir, "value_cols",
          // "distinct_key"?, float_sums?) — register the bucketed agg
          // state at mv_dir as a MATERIALIZED VIEW of the keyed table
          // at base_dir, watermarked at the base's current version: a
          // matching group-by over read_keyed(base_dir) then ROUTES
          // onto the state (the base's files never open) until the
          // base's version moves past the watermark. float_sums=true
          // declares float/double measures ≤2-decimal (money), opting
          // them into exact-decimal sum/mean routing. The registration
          // is DURABLE (<base>/_mvs/) — a fresh session routes with no
          // re-registration. Returns the finalized view.
          if (args.length < 3 || args.length > 5)
            throw new TypeError(
              "register_mv(\"mv_dir\", \"base_dir\", \"value_cols\", " +
                "\"distinct_key\"?, float_sums?)")
          val mvdk = if (args.length >= 4) {
            val v = litString(args(3).value).trim
            if (v.isEmpty) None else Some(v)
          } else None
          val mvfs = args.length == 5 && constBool(args(4).value)
          graft.sources.MatView.register(spark,
            litString(args(0).value), litString(args(1).value),
            litString(args(2).value).trim.split("\\s+").toSeq, mvdk,
            floatSums = mvfs)
          PTable(graft.sources.MatView.readMv(spark,
            litString(args(0).value)))
        case "build_mv" =>
          // build_mv(base_dir, mv_dir, "keys", "value_cols", n_buckets,
          // "distinct_key"?, float_sums?, sample_k?, "sample_unique"?)
          // — ONE call: aggregate the base's pinned snapshot at BUCKET
          // GRAIN (per (keys..., base bucket) partials), register it
          // watermarked at exactly that pinned version, persist the
          // registration. Bucket grain is what makes
          // refresh_mv_incremental cost ∝ changed base buckets for
          // arbitrary changes. sample_k > 0 carries a bounded quantile
          // sample; sample_unique (a row-unique column) makes it
          // ROW-uniform — the grain is recorded in the manifest, so
          // later merges/rebuilds reuse it (contradictions fail
          // loudly). Returns the finalized view at the logical grain.
          if (args.length < 5 || args.length > 9)
            throw new TypeError(
              "build_mv(\"base_dir\", \"mv_dir\", \"keys\", " +
                "\"value_cols\", n_buckets, \"distinct_key\"?, " +
                "float_sums?, sample_k?, \"sample_unique\"?)")
          val bdk = if (args.length >= 6) {
            val v = litString(args(5).value).trim
            if (v.isEmpty) None else Some(v)
          } else None
          val bfs = args.length >= 7 && constBool(args(6).value)
          val bsk2 =
            if (args.length >= 8) constLong(args(7).value).toInt else 0
          val bsu2 = if (args.length == 9) {
            val v = litString(args(8).value).trim
            if (v.isEmpty) None else Some(v)
          } else None
          graft.sources.MatView.buildMv(spark,
            litString(args(0).value), litString(args(1).value),
            litString(args(2).value).trim.split("\\s+").toSeq,
            litString(args(3).value).trim.split("\\s+").toSeq,
            constLong(args(4).value).toInt, bdk, bfs,
            sampleK = bsk2, sampleUnique = bsu2)
          PTable(graft.sources.MatView.readMv(spark,
            litString(args(1).value)))
        case "refresh_mv" =>
          // refresh_mv(mv_dir, to_version?) — re-arm the watermark
          // after the caller merged the base's changes into the state.
          // Pass the base version the merge was COMPUTED against (read
          // it BEFORE merging) to close the merge-then-watermark race;
          // omitted = the base's current version (single-maintainer
          // tables only). Returns the finalized view.
          if (args.isEmpty || args.length > 2)
            throw new TypeError("refresh_mv(\"mv_dir\", to_version?)")
          val rtv =
            if (args.length == 2) Some(constLong(args(1).value).toInt)
            else None
          graft.sources.MatView.refreshed(spark,
            litString(args(0).value), rtv)
          PTable(graft.sources.MatView.readMv(spark,
            litString(args(0).value)))
        case "refresh_mv_incremental" =>
          // refresh_mv_incremental(mv_dir) — fold the base's changes
          // since the watermark into the view in ONE call, reading
          // ONLY the changed base buckets (bucket-grain views; others
          // fall back to a rebuild). Idempotent: a crash-and-rerun
          // replays the same replace. Returns the finalized view.
          if (args.length != 1)
            throw new TypeError("refresh_mv_incremental(\"mv_dir\")")
          graft.sources.MatView.refreshMvIncremental(spark,
            litString(args(0).value))
          PTable(graft.sources.MatView.readMv(spark,
            litString(args(0).value)))
        case "unregister_mv" =>
          // unregister_mv(mv_dir) — drop the routing hint, including
          // the durable one (the state itself stays on disk)
          if (args.length != 1)
            throw new TypeError("unregister_mv(\"mv_dir\")")
          graft.sources.MatView.unregister(spark, litString(args(0).value))
          PTable(spark.range(1).select(lit(true).as("ok")))
        case "rebuild_mv" =>
          // rebuild_mv(mv_dir) — the O(base) fallback refresh: rebuild
          // the state from the base's pinned current snapshot and
          // re-arm the watermark at exactly that version (incremental
          // refresh = refresh_mv_incremental); returns the finalized
          // view
          if (args.length != 1)
            throw new TypeError("rebuild_mv(\"mv_dir\")")
          graft.sources.MatView.rebuildMv(spark,
            litString(args(0).value))
          PTable(graft.sources.MatView.readMv(spark,
            litString(args(0).value)))
        case "list_mvs" =>
          // list_mvs() — the registry: one row per registered view.
          // r13 adds STALENESS at a glance (base head − watermark; 0 =
          // fresh) so a maintain loop can see what needs a refresh
          // without probing each base itself.
          if (args.nonEmpty) throw new TypeError("list_mvs()")
          val mvs = graft.sources.MatView.list()
            .map(d => (d.mvDir, d.baseDir, d.keys.mkString(","),
              d.valueCols.mkString(","), d.baseVersion, d.floatSums,
              d.bucketTag.getOrElse(""),
              graft.sources.MatView.staleness(spark, d)))
          PTable(
            if (mvs.isEmpty)
              spark.range(0).select(
                col("id").cast("string").as("mv_dir"),
                col("id").cast("string").as("base_dir"),
                col("id").cast("string").as("keys"),
                col("id").cast("string").as("value_cols"),
                col("id").cast("int").as("base_version"),
                col("id").cast("boolean").as("float_sums"),
                col("id").cast("string").as("bucket_tag"),
                col("id").cast("int").as("staleness"))
            else spark.createDataFrame(mvs)
              .toDF("mv_dir", "base_dir", "keys", "value_cols",
                "base_version", "float_sums", "bucket_tag", "staleness"))
        case "refresh_mvs" =>
          // refresh_mvs(base_dir) — refresh EVERY registered view of
          // the base in one call (incremental per view; fresh views
          // no-op): the maintain-loop sweep. Returns one row per view
          // with its re-armed watermark.
          if (args.length != 1)
            throw new TypeError("refresh_mvs(\"base_dir\")")
          val swept = graft.sources.MatView.refreshMvs(spark,
            litString(args(0).value))
            .map(d => (d.mvDir, d.baseVersion))
          PTable(
            if (swept.isEmpty)
              spark.range(0).select(
                col("id").cast("string").as("mv_dir"),
                col("id").cast("int").as("base_version"))
            else spark.createDataFrame(swept)
              .toDF("mv_dir", "base_version"))
        case "keyed_changes" =>
          // keyed_changes(dir, from_version, to_version) — CDC feed of
          // added/removed/changed keys, reading only changed buckets
          if (args.length != 3)
            throw new TypeError("keyed_changes(\"dir\", from_v, to_v)")
          PTable(graft.sources.Maintenance.keyedChanges(spark,
            litString(args(0).value), constLong(args(1).value).toInt,
            constLong(args(2).value).toInt))
        case "poll_keyed_changes" =>
          // poll_keyed_changes(dir, cursor_path) — one micro-batch of
          // the CDC SOURCE: the keys added/removed/changed since this
          // consumer's cursor (the whole snapshot as 'added' for a
          // fresh cursor; empty when up to date). Does NOT advance the
          // cursor — commit_change_cursor after processing.
          if (args.length != 2)
            throw new TypeError(
              "poll_keyed_changes(\"dir\", \"cursor_path\")")
          graft.streaming.Streams.pollKeyedChanges(spark,
            litString(args(0).value), litString(args(1).value)) match {
            case Some((changes, _, toV)) =>
              PTable(changes.withColumn("to_version", lit(toV)))
            case None =>
              val m = graft.sources.Maintenance.readManifest(spark,
                litString(args(0).value))
              PTable(graft.sources.Maintenance.readKeyed(spark,
                litString(args(0).value)).limit(0)
                .select(m.keyCols.map(F.col) :+
                  F.lit("added").as("status") :+
                  F.lit(m.version).as("to_version"): _*))
          }
        case "commit_change_cursor" =>
          // commit_change_cursor(cursor_path, version) — advance the
          // consumer's cursor after processing a polled batch; returns
          // the committed position
          if (args.length != 2)
            throw new TypeError(
              "commit_change_cursor(\"cursor_path\", version)")
          graft.streaming.Streams.commitChangeCursor(spark,
            litString(args(0).value), constLong(args(1).value).toInt)
          PTable(spark.range(1).select(
            F.lit(constLong(args(1).value)).as("cursor")))
        case "vacuum_keyed" =>
          // vacuum_keyed(dir, keep?, grace_seconds?, force?) — GC old
          // snapshots; returns the surviving manifest versions. The
          // default 15-minute grace protects readers still holding a
          // dropped snapshot and concurrent writers' staged dirs; pass
          // 0 to reclaim immediately (single-writer cleanup). Versions
          // a registered CDC cursor or a live commit group still needs
          // survive any keep policy unless force=true (the consumer /
          // group reader then fails loudly).
          if (args.isEmpty || args.length > 4)
            throw new TypeError(
              "vacuum_keyed(\"dir\", keep_versions?, grace_seconds?, " +
                "force?)")
          val keep =
            if (args.length >= 2) constLong(args(1).value).toInt else 1
          val grace =
            if (args.length >= 3) constLong(args(2).value) * 1000L
            else 15 * 60 * 1000L
          graft.sources.Maintenance.vacuumKeyed(spark,
            litString(args(0).value), keep, grace,
            force = args.length == 4 && constBool(args(3).value))
          PTable(PTable.fromList(spark,
            graft.sources.Maintenance.manifestVersions(spark,
              litString(args(0).value)).map(_.toLong)).df
            .withColumnRenamed("item", "version"))
        case "table_stats" =>
          // table_stats(dir, "part_col") — rows/files per partition
          if (args.length != 2)
            throw new TypeError("table_stats(\"dir\", \"part_col\")")
          PTable(graft.sources.Maintenance.tableStats(spark,
            litString(args(0).value), litString(args(1).value)))
        case "keyed_stats" =>
          // keyed_stats(dir) — rows/files per bucket of the LIVE
          // keyed-table snapshot
          if (args.length != 1)
            throw new TypeError("keyed_stats(\"dir\")")
          PTable(graft.sources.Maintenance.keyedStats(spark,
            litString(args(0).value)))
        case "phrase_search" =>
          // phrase_search(t, "id_col", "text_col", "exact phrase") —
          // consecutive-token match with occurrence counts
          if (args.length != 4)
            throw new TypeError(
              "phrase_search(t, \"id_col\", \"text_col\", \"phrase\")")
          val ph = litString(args(3).value).trim.split("\\s+").toSeq
            .filter(_.nonEmpty)
          if (ph.isEmpty)
            throw new graft.types.ValueError("phrase_search: empty phrase")
          PTable(graft.ext.Search.phraseSearch(t(args(0).value).df,
            litString(args(1).value), litString(args(2).value), ph))
        case "phrase_search_idx" =>
          // phrase_search_idx(dir, "exact phrase") — the positional
          // inverted index answers row-identically to phrase_search
          if (args.length != 2)
            throw new TypeError("phrase_search_idx(\"dir\", \"phrase\")")
          val pidx = litString(args(1).value).trim.split("\\s+").toSeq
            .filter(_.nonEmpty)
          if (pidx.isEmpty)
            throw new graft.types.ValueError("phrase_search_idx: empty phrase")
          PTable(graft.ext.Search.phraseSearchIndex(spark,
            litString(args(0).value), pidx))
        case "near_search_idx" =>
          // near_search_idx(dir, "terms", slop) — ordered proximity
          // over the positional index
          if (args.length != 3)
            throw new TypeError("near_search_idx(\"dir\", \"terms\", slop)")
          val nidx = litString(args(1).value).trim.split("\\s+").toSeq
            .filter(_.nonEmpty)
          if (nidx.isEmpty)
            throw new graft.types.ValueError("near_search_idx: empty query")
          PTable(graft.ext.Search.nearSearchIndex(spark,
            litString(args(0).value), nidx, constLong(args(2).value).toInt))
        case "build_search_index" =>
          // build_search_index(t, "id", "text", dir, n_buckets?) —
          // persist the positional postings as a keyed table bucketed
          // on the term; returns the corpus-stats row
          if (args.length < 4 || args.length > 5)
            throw new TypeError(
              "build_search_index(t, \"id\", \"text\", \"dir\", n_buckets?)")
          val nb =
            if (args.length == 5) constLong(args(4).value).toInt else 64
          graft.ext.Search.buildIndex(t(args(0).value).df,
            litString(args(1).value), litString(args(2).value),
            litString(args(3).value), nb)
          PTable(graft.ext.Search.indexStats(spark,
            litString(args(3).value)))
        case "append_search_index" =>
          // append_search_index(t, "id", "text", dir) — grow an
          // existing index by merge-on-read deltas (existing postings
          // are never rewritten; one manifest commit); returns the
          // corpus-stats row of the grown index
          if (args.length != 4)
            throw new TypeError(
              "append_search_index(t, \"id\", \"text\", \"dir\")")
          graft.ext.Search.appendIndex(t(args(0).value).df,
            litString(args(1).value), litString(args(2).value),
            litString(args(3).value))
          PTable(graft.ext.Search.indexStats(spark,
            litString(args(3).value)))
        case "compact_search_index" =>
          // compact_search_index(dir) — fold the appended deltas back
          // into base generations; returns the corpus-stats row
          // (unchanged counts — compaction moves postings, never
          // documents)
          if (args.length != 1)
            throw new TypeError("compact_search_index(\"dir\")")
          graft.ext.Search.compactIndex(spark, litString(args(0).value))
          PTable(graft.ext.Search.indexStats(spark,
            litString(args(0).value)))
        case "search_idx" =>
          // search_idx(dir, "terms", k, all?) — BM25 over the
          // persisted index (bit-identical to bm25_search on the
          // source corpus)
          if (args.length < 3 || args.length > 4)
            throw new TypeError("search_idx(\"dir\", \"terms\", k, all?)")
          val sterms = litString(args(1).value).trim.split("\\s+").toSeq
            .filter(_.nonEmpty)
          if (sterms.isEmpty)
            throw new graft.types.ValueError("search_idx: empty query")
          val sall = args.length == 4 && constBool(args(3).value)
          PTable(graft.ext.Search.searchIndex(spark,
            litString(args(0).value), sterms,
            constLong(args(2).value).toInt, requireAll = sall))
        case "near_search" =>
          // near_search(t, "id_col", "text_col", "terms", slop) —
          // ordered proximity: terms in order, <= slop-1 intervening
          // tokens between consecutive terms (slop 1 == phrase)
          if (args.length != 5)
            throw new TypeError(
              "near_search(t, \"id_col\", \"text_col\", \"terms\", slop)")
          val nt = litString(args(3).value).trim.split("\\s+").toSeq
            .filter(_.nonEmpty)
          if (nt.isEmpty)
            throw new graft.types.ValueError("near_search: empty query")
          PTable(graft.ext.Search.nearSearch(t(args(0).value).df,
            litString(args(1).value), litString(args(2).value), nt,
            constLong(args(4).value).toInt))
        case other => throw new NameError(s"unknown table function '$other'")
      }
    }

    private def schemaOf(t: PTable): Option[StructType] = Some(t.df.schema)

    // ---- projection fields -------------------------------------------------
    private def expandFields(tab: PTable, fields: Seq[Field]): Seq[NamedCol] = {
      val schema = tab.df.schema
      // ellipsis exclusion = bare-name VALUES (renamed or not):
      // `{v: item, ...}` consumes item (reference compiler.py:82)
      val bareVals = fields.collect { case Field(_, Ident(n)) => n }.toSet
      // output names already taken by explicit or bare-ident fields
      val direct = fields.collect {
        case Field(Some(n), _) => n
        case Field(None, Ident(n)) => n
      }.toSet
      // reference naming on collision: item, item1, item2 …
      val used = scala.collection.mutable.Set[String](direct.toSeq: _*)
      def fresh(n: String): String =
        if (!used.contains(n)) { used += n; n }
        else {
          var i = 1
          while (used.contains(s"$n$i")) i += 1
          used += s"$n$i"; s"$n$i"
        }
      // an ellipsis exclusion must name a real column (reference
      // _test_ellipsis_exclude: `[3]{... !hello}` raises NameError)
      def checkExcludes(excludes: Seq[String], avail: Seq[String]): Unit =
        excludes.filterNot(avail.contains).foreach(u =>
          throw new NameError(s"unknown column '$u' in ellipsis exclusion"))
      fields.flatMap { f =>
        f.value match {
          case EllipsisE(excludes, None) =>
            checkExcludes(excludes, tab.columns)
            tab.columns
              .filterNot(c => excludes.contains(c) || bareVals.contains(c))
              .map(c => NamedCol(fresh(c), col(c)))
          case EllipsisE(excludes, Some(structCol)) =>
            // `{...s}`: inline the fields of struct column s
            // (reference compiler.py:104-116)
            val fieldsOf = schema.find(_.name == structCol) match {
              case Some(StructField(_, st: StructType, _, _)) => st.fields
              case Some(_) => throw new TypeError(
                s"cannot inline non-struct column '$structCol'")
              case None => throw new NameError(
                s"unknown column '$structCol'")
            }
            checkExcludes(excludes, fieldsOf.map(_.name).toSeq)
            fieldsOf.toSeq
              .filterNot(sf => excludes.contains(sf.name) ||
                bareVals.contains(sf.name))
              .map(sf => NamedCol(fresh(sf.name),
                col(s"$structCol.${sf.name}")))
          // sub-projection of a struct column: `{b{v:item}, a}` /
          // `{ab {b: b.item, a: a.item}, c}` reshapes the struct in
          // place (reference test_nested_projections); names inside
          // resolve against the struct's own fields
          case p @ Projection(sb, _, false, Seq())
              if inferType(sb, Some(schema)).exists(_.isInstanceOf[StructType]) =>
            val stype = inferType(sb, Some(schema)).get.asInstanceOf[StructType]
            val sBareVals = p.fields.collect {
              case Field(_, Ident(n)) => n
            }.toSet
            val sub = p.fields.flatMap { sf =>
              sf.value match {
                case EllipsisE(ex, None) =>
                  stype.fieldNames.toSeq
                    .filterNot(c => ex.contains(c) || sBareVals.contains(c))
                    .map(c => NamedCol(c, evalCol(Attr(sb, c), Some(schema))))
                case sv =>
                  // re-root struct-field names under the base column
                  val rooted = rewrite(sv) {
                    case Ident(n) if stype.fieldNames.contains(n) => Attr(sb, n)
                  }
                  Seq(NamedCol(sf.name.getOrElse(fieldName(sf)),
                    evalCol(rooted, Some(schema))))
              }
            }
            val outName = f.name.getOrElse(fieldName(Field(None, sb)))
            Seq(NamedCol(if (direct.contains(outName)) outName else fresh(outName),
              F.struct(sub.map(nc => nc.col.as(nc.name)): _*)))
          case v =>
            // auto-named computed fields dedup reference-style
            // ({ab.a.item, ab.b.item} → item, item1); bare idents and
            // explicit names are already reserved in `direct`
            val name = f.name.getOrElse(v match {
              case Ident(n) => n
              case _ => fresh(fieldName(f))
            })
            Seq(NamedCol(name, evalCol(v, Some(schema))))
        }
      }
    }

    /** Materialized-view ROUTING (r11): a grouped projection over the
      * PRISTINE latest snapshot of a keyed table (`read_keyed`) whose
      * keys are plain columns and whose aggregates are explicitly
      * named, covered measures (count/sum/mean/min/max) routes onto a
      * registered agg state — O(groups) rows read instead of the base
      * scan, the language-level twin of a warehouse's automatic MV
      * rewrite. Anything unrecognized falls through to the scan plan,
      * and `MatView.route` itself re-checks grain, coverage, and the
      * base-version WATERMARK (a stale view never answers) — routing
      * can narrow the plan but never change the rows.
      */
    /** The routable-aggregate shapes: explicitly named count / sum /
      * mean / min / max / approx_count_distinct over a plain column.
      */
    private def mvAggTriples(aggs: Seq[Field])
        : Option[Seq[(String, String, Option[String])]] = {
      val m = aggs.map {
        case Field(Some(n), Call("count", Seq())) =>
          Some((n, "count", None: Option[String]))
        case Field(Some(n), Call("count", Seq(Arg(None, Ident(c))))) =>
          Some((n, "countv", Some(c)))
        case Field(Some(n), Call(op @ ("sum" | "min" | "max"),
            Seq(Arg(None, Ident(c))))) =>
          Some((n, op, Some(c)))
        case Field(Some(n), Call("mean" | "avg",
            Seq(Arg(None, Ident(c))))) =>
          Some((n, "mean", Some(c)))
        case Field(Some(n), Call("approx_count_distinct",
            Seq(Arg(None, Ident(c))))) =>
          Some((n, "adist", Some(c)))
        case _ => None
      }
      if (m.exists(_.isEmpty)) None else Some(m.map(_.get))
    }

    private def routeMv(tab: PTable, fields: Seq[Field],
                        aggs: Seq[Field]): Option[PTable] =
      tab.keyedMark.flatMap { mark =>
        val keyPairs = fields.map {
          case Field(n, Ident(k)) => Some((n.getOrElse(k), k))
          case _ => None
        }
        if (keyPairs.exists(_.isEmpty)) None
        else mvAggTriples(aggs).flatMap(ts =>
          graft.sources.MatView.route(spark, mark.dir,
            keyPairs.map(_.get), ts,
            pinnedVersion = Some(mark.version),
            filters = mark.conds)).map(PTable(_))
      }

    /** Global-aggregation twin: `t {=> aggs}` over a (possibly
      * grain-filtered) keyed snapshot serves from ANY fresh registered
      * view of the base whose grain covers the filter columns — a
      * global aggregate is the fold of the per-key states.
      */
    private def routeMvGlobal(tab: PTable, aggs: Seq[Field])
        : Option[PTable] =
      tab.keyedMark.flatMap { mark =>
        mvAggTriples(aggs).flatMap(ts =>
          graft.sources.MatView.routeGlobal(spark, mark.dir, ts,
            pinnedVersion = Some(mark.version),
            filters = mark.conds))
          .map(PTable(_))
      }

    /** The commit group's pins as a 2-column table (language face). */
    private def pinsTable(groupDir: String): PTable = {
      val pins = graft.sources.Maintenance.groupPins(spark, groupDir)
        .toSeq.sortBy(_._1)
      PTable(spark.createDataFrame(pins).toDF("table_dir", "version"))
    }

    private def namedAggs(tab: PTable, aggs: Seq[Field],
                          taken: Set[String] = Set.empty): Seq[NamedCol] = {
      val used = scala.collection.mutable.Set[String](taken.toSeq: _*)
      def fresh(n: String): String =
        if (!used.contains(n)) { used += n; n }
        else {
          var i = 1
          while (used.contains(s"$n$i")) i += 1
          used += s"$n$i"; s"$n$i"
        }
      // an EXPLICIT agg name colliding with a key or another explicit
      // name is an error (reference compiler.py:199-201: `{a:1 => a:2}`
      // raises); auto-names keep collision-renaming instead
      def explicit(n: String): String =
        if (used.contains(n))
          throw new TypeError(s"duplicate column name in projection: '$n'")
        else { used += n; n }
      aggs.map { f =>
        f.value match {
          // bare column in agg scope collects into an array
          // (reference compiler.py:59-63)
          case Ident(n) if !f.name.isDefined =>
            used += n
            NamedCol(n, F.collect_list(col(n)))
          // any other non-aggregate expression over columns collects
          // too: the expression runs per row, the agg scope wraps it
          // in a list (reference test_basic.py:762 `citizens: p.name`
          // — fields after `=>` become T.aggregated lists unless an
          // aggregate function consumes them)
          case v if !hasAggCall(v) && hasColRef(v, tab.df.schema) =>
            val name = f.name match {
              case Some(n) => explicit(n)
              case None => fresh(fieldName(f))
            }
            NamedCol(name, F.collect_list(evalCol(v, Some(tab.df.schema))))
          case v =>
            val name = f.name match {
              case Some(n) => explicit(n)
              case None => fresh(fieldName(f))
            }
            NamedCol(name, evalCol(v, Some(tab.df.schema), agg = true))
        }
      }
    }
  }

  /** Aggregate-function names recognized in agg scope — an expression
    * containing none of these is an implicit per-group collect.
    */
  private val aggFnNames: Set[String] = Set(
    "count", "sum", "min", "max", "mean", "avg", "stddev",
    "count_distinct", "approx_count_distinct", "count_true",
    "count_false", "first",
    "first_or_null", "product", "approx_product", "__collect", "median")

  private def hasAggCall(e: Expr): Boolean = {
    var found = false
    rewrite(e) { case c @ Call(fn, _) if aggFnNames(fn) => found = true; c }
    found
  }

  private def hasColRef(e: Expr, schema: StructType): Boolean = {
    var found = false
    rewrite(e) {
      case i @ Ident(n) if schema.fieldNames.contains(n) =>
        found = true; i
    }
    found
  }

  /** Inline user function calls by AST substitution — the engine's
    * version of the reference's compile-and-inline for vectorizable
    * functions (reference evaluate.py:551-648): the body is spliced
    * into the call site with parameters replaced by argument ASTs, so
    * `func sqsum(x) = sum(x*x)` works inside aggregation projections
    * at zero runtime cost. Argument matching follows the reference
    * (pql_objects.py:110-212): positional prefix, then named, defaults
    * fill the gaps; named-before-positional and duplicates are errors.
    */
  private def inline(e: Expr, funcs: Map[String, FuncDef]): Expr = {
    def subst(body: Expr, bind: Map[String, Expr]): Expr =
      if (bind.isEmpty) body else substShadow(body, bind.get)
    // unnamed projection fields calling a user func keep the FUNC's
    // name once the body is spliced in (reference: `{=> sqsum(item)}`
    // names the column sqsum, not sum) — record names before inlining
    val named = rewrite(e) {
      case Projection(t2, fs, g, as) =>
        def nameIt(f: Field) = f.value match {
          case Call(fn, _) if f.name.isEmpty && funcs.contains(fn) =>
            Field(Some(fn), f.value)
          case _ => f
        }
        Projection(t2, fs.map(nameIt), g, as.map(nameIt))
    }
    rewrite(named) {
      case Call(fn, args0) if funcs.contains(fn) =>
        val fd = funcs(fn)
        // `f(...d)`: inline a dict value as named args (reference
        // pql_objects.py:145-157). Bottom-up rewriting already folded
        // nested calls / substituted dict vars inside the Spread.
        val args = args0.flatMap {
          case Arg(None, Spread(DictLit(fs))) =>
            fs.map { case (k, v) => Arg(Some(k), v) }
          case Arg(_, Spread(other)) => throw new TypeError(
            s"$fn: expression to inline is not a map: $other")
          case a => Seq(a)
        }
        val pos = args.takeWhile(_.name.isEmpty)
        val named = args.drop(pos.length)
        if (named.exists(_.name.isEmpty))
          throw new TypeError(
            s"$fn received a non-named argument after a named one")
        if (pos.length > fd.params.length)
          throw new TypeError(s"$fn takes ${fd.params.length} parameter(s) " +
            s"but received ${pos.length} positional argument(s)")
        val known = fd.params.map(_.name).toSet
        // extra NAMED args collect into the `...collector` dict
        // (reference pql_objects.py:185-212); without one they error
        val (knownNamed, extraNamed) =
          named.partition(a => known.contains(a.name.get))
        if (fd.collector.isEmpty) extraNamed.headOption.foreach { a =>
          throw new TypeError(s"$fn has no parameter named '${a.name.get}'")
        }
        val byName = knownNamed.map(a => (a.name.get, a.value)).toMap
        val vals = fd.params.zipWithIndex.map { case (prm, i) =>
          if (i < pos.length) {
            if (byName.contains(prm.name))
              throw new TypeError(s"$fn received argument '${prm.name}' " +
                "both as keyword and as positional")
            pos(i).value
          } else byName.get(prm.name).orElse(prm.default).getOrElse(
            throw new TypeError(
              s"$fn is missing a value for parameter '${prm.name}'"))
        }
        val bind = fd.params.map(_.name)
          .zip(vals.map(v => inline(v, funcs))).toMap ++
          fd.collector.map(cn => cn -> DictLit(extraNamed.map(a =>
            (a.name.get, inline(a.value, funcs)))))
        inline(subst(fd.body, bind), funcs)
      // higher-order application: post-order rewriting already inlined
      // the callee — a function VALUE surfaces as its bare name
      // (`func q2() = q1` inlines `q2()` to Ident(q1)), so the apply
      // reduces to an ordinary call (reference _test_user_functions)
      case Apply(Ident(fn), args) if funcs.contains(fn) =>
        inline(Call(fn, args), funcs)
      // method call on a table expression (`Node[..].children()`) —
      // resolved against the receiver's root table at EVAL time
      // (evalTable), not here: table methods aren't in `funcs`
      case a @ Apply(Attr(_, _), _) => a
      case Apply(f, _) =>
        throw new TypeError(s"not a function: $f")
    }
  }

  private def constLong(e: Expr): Long = e match {
    case IntLit(v) => v
    case Unary("-", IntLit(v)) => -v
    case o => throw new TypeError(s"expected integer literal, got $o")
  }

  private def constBool(e: Expr): Boolean = e match {
    case BoolLit(v) => v
    case o => throw new TypeError(s"expected boolean literal, got $o")
  }

  private def constDouble(e: Expr): Double = e match {
    case IntLit(v) => v.toDouble
    case FloatLit(v) => v
    case Unary("-", x) => -constDouble(x)
    case o => throw new TypeError(s"expected numeric literal, got $o")
  }

  private def constString(e: Expr): String = e match {
    case StrLit(v) => v
    case o => throw new TypeError(s"expected string literal, got $o")
  }

  /** Catch-by-supertype test over the signal tree (types/Errors.scala,
    * mirroring reference pql_types.py:295-323 `e.type <= catch_type`).
    */
  private def errorIsa(e: graft.types.GraftError, tn: String): Boolean =
    tn match {
      case "Exception" => true
      case "EvalError" => e.isInstanceOf[graft.types.EvalError]
      case "CodeError" => e.isInstanceOf[graft.types.CodeError]
      case "IOError" => e.isInstanceOf[graft.types.IOError]
      case "TypeError" => e.isInstanceOf[TypeError]
      case "CastError" => e.isInstanceOf[graft.types.CastError]
      case "ValueError" => e.isInstanceOf[ValueError]
      case "AssertError" => e.isInstanceOf[graft.types.AssertError]
      case "IndexError" => e.isInstanceOf[graft.types.IndexError]
      case "NameError" => e.isInstanceOf[NameError]
      case "AttributeError" => e.isInstanceOf[graft.types.AttributeError]
      case "JoinError" => e.isInstanceOf[graft.types.JoinError]
      case o => throw new NameError(s"unknown error type '$o'")
    }

  private def makeError(tn: String, msg: String): graft.types.GraftError =
    tn match {
      case "Exception" => new graft.types.UserError(msg)
      case "TypeError" => new TypeError(msg)
      case "CastError" => new graft.types.CastError(msg)
      case "ValueError" => new ValueError(msg)
      case "AssertError" => new graft.types.AssertError(msg)
      case "IndexError" => new graft.types.IndexError(msg)
      case "NameError" => new NameError(msg)
      case "AttributeError" => new graft.types.AttributeError(msg)
      case "JoinError" => new graft.types.JoinError(msg)
      case "NotImplementedError" => new graft.types.NotImplementedError(msg)
      case "FileError" => new graft.types.FileError(msg)
      case o => throw new NameError(s"unknown error type '$o'")
    }

  /** DDL type names → Spark types (reference pql_types primitives). */
  private def sparkTypeOf(tn: String): DataType = tn match {
    case "int" => LongType
    case "float" => DoubleType
    case "string" | "text" => StringType
    case "bool" => BooleanType
    case "timestamp" => TimestampType
    case "date" => DateType
    case o => throw new TypeError(s"unknown column type '$o'")
  }

  /** Reference type names for reflection (`type`/`isa`/`env_vars`). */
  private def refTypeName(dt: DataType): String = dt match {
    case LongType | IntegerType | ShortType | ByteType => "int"
    case DoubleType | FloatType | _: DecimalType => "float"
    case StringType => "string"
    case BooleanType => "bool"
    case TimestampType | TimestampNTZType => "timestamp"
    case DateType => "date"
    case _: ArrayType => "list"
    case _: StructType => "struct"
    case o => o.typeName
  }

  private def scalarTypeName(v: Any): String = v match {
    case null => "nulltype"
    case _: Long | _: Int => "int"
    case _: Double => "float"
    case _: String => "string"
    case _: Boolean => "bool"
    // language.md Structs: `type({a:1, b:2})` prints the field types
    case DictV(fs) => fs.map { case (k, v) => s"$k: ${scalarTypeName(v)}" }
      .mkString("struct[", ", ", "]")
    case _ => "object"
  }

  /** `issubclass` edges of the reference's type tree that reflection
    * exposes (pql_types.py: int/float <= number <= primitive).
    */
  private def isaMatches(tn: String, target: String): Boolean =
    tn == target ||
      (target == "number" && (tn == "int" || tn == "float")) ||
      (target == "primitive" &&
        Set("int", "float", "string", "bool").contains(tn))

  private def fieldName(f: Field): String = f.value match {
    case Ident(n) => n
    case Attr(_, n) => n
    case Call(fn, _) => fn
    // reference guess_field_name fallback (compiler.py:132-133): any
    // other computed field auto-names "_" (deduped to _1, _2 … by the
    // projection's fresh-name pass), e.g. `{item /~ 2 => count()}`
    case _ => f.name.getOrElse("_")
  }

  // ---- driver-side const evaluation ---------------------------------------
  private final class NotConst extends RuntimeException

  /** Join aliases visible to a projection/selection over this table
    * expression — they SHADOW variables/parameters of the same name
    * (reference: `func f(a, b) = join(a: ..., b: ...){a.id}` — a.id
    * is the join side, not the parameter; tree.pql common_ancestors).
    */
  private def joinAliasesOf(te: Expr): Set[String] = te match {
    case Call("join" | "leftjoin" | "outerjoin" | "joinall", as) =>
      as.flatMap(_.name).filterNot(_ == "on").toSet
    case Projection(t2, _, _, _) => joinAliasesOf(t2)
    case Selection(t2, _) => joinAliasesOf(t2)
    case Order(t2, _) => joinAliasesOf(t2)
    case Slice(t2, _, _) => joinAliasesOf(t2)
    case OneE(t2, _) => joinAliasesOf(t2)
    case _ => Set.empty
  }

  /** Capture-aware name substitution: manual recursion so expressions
    * under a join drop the join's aliases from scope before replacing
    * identifiers. `lookup` returns the replacement AST for a name, or
    * None to leave it alone.
    */
  private def substShadow(body: Expr, lookup: String => Option[Expr],
                          cols: Expr => Set[String] = _ => Set.empty): Expr = {
    def go(x: Expr, shadow: Set[String]): Expr = x match {
      case Ident(n) => if (shadow(n)) x else lookup(n).getOrElse(x)
      case Projection(t2, fs, g, as) =>
        val s2 = shadow ++ joinAliasesOf(t2) ++ cols(t2)
        def f(fl: Field) = Field(fl.name, go(fl.value, s2))
        Projection(go(t2, shadow), fs.map(f), g, as.map(f))
      case Selection(t2, cs) =>
        val s2 = shadow ++ joinAliasesOf(t2) ++ cols(t2)
        Selection(go(t2, shadow), cs.map(go(_, s2)))
      case Order(t2, ks) =>
        val s2 = shadow ++ joinAliasesOf(t2) ++ cols(t2)
        Order(go(t2, shadow), ks.map { case (k, asc) => (go(k, s2), asc) })
      case Update(t2, fs) =>
        val s2 = shadow ++ cols(t2)
        Update(go(t2, shadow), fs.map(fl => Field(fl.name, go(fl.value, s2))))
      case BinOp(op, l, r) => BinOp(op, go(l, shadow), go(r, shadow))
      case Unary(op, e2) => Unary(op, go(e2, shadow))
      case Attr(o, n) => Attr(go(o, shadow), n)
      case Call(fn, as) =>
        Call(fn, as.map(a => Arg(a.name, go(a.value, shadow))))
      case Apply(f, as) =>
        Apply(go(f, shadow), as.map(a => Arg(a.name, go(a.value, shadow))))
      case ListLit(items) => ListLit(items.map(go(_, shadow)))
      case OneE(e2, opt) => OneE(go(e2, shadow), opt)
      case Slice(t2, f0, u) =>
        Slice(go(t2, shadow), f0.map(go(_, shadow)), u.map(go(_, shadow)))
      case Delete(t2, cs) =>
        Delete(go(t2, shadow), cs.map(go(_, shadow ++ cols(t2))))
      case RangeLit(f0, u) =>
        RangeLit(f0.map(go(_, shadow)), u.map(go(_, shadow)))
      case DictLit(fs) => DictLit(fs.map { case (k, v) => (k, go(v, shadow)) })
      case RowLit(t2, fs) =>
        RowLit(t2, fs.map { case (k, v) => (k, go(v, shadow)) })
      case NewE(t2, as) =>
        NewE(t2, as.map(a => Arg(a.name, go(a.value, shadow))))
      case Spread(e2) => Spread(go(e2, shadow))
      case StructLit(fs) =>
        StructLit(fs.map(fl => Field(fl.name, go(fl.value, shadow))))
      case leaf => leaf
    }
    go(body, Set.empty)
  }

  private def scalarToAst(v: Any): Expr = v match {
    case null => NullLit
    case b: Boolean => BoolLit(b)
    case l: Long => IntLit(l)
    case i: Int => IntLit(i.toLong)
    case d: Double => FloatLit(d)
    case s: String => StrLit(s)
    case DictV(fs) => DictLit(fs.map { case (k, v) => (k, scalarToAst(v)) })
    case RowV(t, fs) => RowLit(t, fs.map { case (k, v) => (k, scalarToAst(v)) })
    case TypeV(n) => TypeLit(n)
    case t: java.sql.Timestamp => TsLit(t)
    case o => throw new TypeError(s"unsupported scalar value: $o")
  }

  /** A localized scalar as a literal Column; type values render as
    * their name (the reference prints types by repr).
    */
  private def litOf(v: Any): Column = v match {
    case TypeV(n) => lit(n)
    case _ => lit(v)
  }

  private def truthyScalar(v: Any): Boolean = v match {
    case null => false
    case b: Boolean => b
    case l: Long => l != 0
    case d: Double => d != 0.0
    case s: String => s.nonEmpty
    case o => throw new TypeError(s"not a condition value: $o")
  }

  /** Reference-semantics scalar interpreter for driver-side control
    * flow. Numbers are Long/Double, `/` is float division, `/~` floor,
    * `and`/`or` return operands (truthiness: nonzero / nonempty),
    * string `+` concatenates and `*` repeats.
    */
  private def constEval(e: Expr): Any = e match {
    case IntLit(v) => v
    case FloatLit(v) => v
    case StrLit(v) => v
    case BoolLit(v) => v
    case NullLit => null
    case Unary("-", x) => constEval(x) match {
      case l: Long => -l
      case d: Double => -d
      case o => throw new TypeError(s"cannot negate $o")
    }
    case Unary("not", x) => !truthyScalar(constEval(x))
    case BinOp(op, le, re) => constBin(op, le, re)
    case Call(fn, args) => constCall(fn, args)
    case TypeLit(n) => TypeV(n)
    case TsLit(v) => v
    case Ident(n) if typeIdents(n) => TypeV(n)
    // scalar string slice/index: `"hello"[2..4]`, `"hello"[1]`
    // (reference: strings slice like lists, test_basic.py test_strings)
    case Slice(se, f, u) => constEval(se) match {
      case s: String =>
        val from = f.map(e => constEval(e).asInstanceOf[Long].toInt)
          .getOrElse(0).max(0).min(s.length)
        val until = u.map(e => constEval(e).asInstanceOf[Long].toInt)
          .getOrElse(s.length).max(from).min(s.length)
        s.substring(from, until)
      case _ => throw new NotConst
    }
    case Selection(se, Seq(ie)) => constEval(se) match {
      case s: String =>
        val i = constEval(ie) match {
          case l: Long => l.toInt
          case o => throw new TypeError(s"string index must be int, got $o")
        }
        if (i < 0 || i >= s.length)
          throw new graft.types.IndexError(s"string index $i out of range")
        s.substring(i, i + 1)
      case _ => throw new NotConst
    }
    case DictLit(fs) => DictV(fs.map { case (k, v) => (k, constEval(v)) })
    // free-standing struct literal `x = {a:1, b:2}` (language.md
    // Structs: "essentially dictionaries") — binds as a dict value,
    // so `x.a` resolves through the DictV attribute path
    case StructLit(fs) => DictV(fs.map(f =>
      (f.name.getOrElse(fieldName(f)), constEval(f.value))))
    case RowLit(t, fs) => RowV(t, fs.map { case (k, v) => (k, constEval(v)) })
    case Attr(o, n) => constEval(o) match {
      case DictV(fs) =>
        fs.collectFirst { case (k, v) if k == n => v }.getOrElse(
          throw new NameError(s"dict has no attribute '$n'"))
      case _ => throw new NotConst
    }
    case _ => throw new NotConst
  }

  private def num2(l: Any, r: Any): Either[(Long, Long), (Double, Double)] =
    (l, r) match {
      case (a: Long, b: Long) => Left((a, b))
      case (a: Long, b: Double) => Right((a.toDouble, b))
      case (a: Double, b: Long) => Right((a, b.toDouble))
      case (a: Double, b: Double) => Right((a, b))
      case _ => throw new TypeError(s"expected numbers, got ($l, $r)")
    }

  /** Scalar kind for the and/or same-type rule (reference
    * compiler.py:313-339: `"hello" or 1` is a TypeError even though
    * the left side is truthy — operands must share a kernel type).
    */
  private def scalarKind(v: Any): String = v match {
    case null => "null"
    case _: Boolean => "bool"
    case _: Long | _: Int | _: Double => "number"
    case _: String => "string"
    case _: TypeV => "type"
    case _ => "object"
  }

  private def checkSameKind(op: String, l: Any, r: Any): Unit = {
    val (kl, kr) = (scalarKind(l), scalarKind(r))
    if (kl != kr && kl != "null" && kr != "null")
      throw new TypeError(
        s"'$op' operator requires both arguments to be of the same " +
          s"type, got ($kl, $kr)")
  }

  private def constBin(op: String, le: Expr, re: Expr): Any = {
    lazy val l = constEval(le)
    lazy val r = constEval(re)
    op match {
      case "and" => checkSameKind(op, l, r); if (truthyScalar(l)) r else l
      case "or" => checkSameKind(op, l, r); if (truthyScalar(l)) l else r
      case "+" => (l, r) match {
        case (a: String, b: String) => a + b
        case _ if l.isInstanceOf[String] || r.isInstanceOf[String] =>
          throw new TypeError("string + requires both sides string")
        case _ => num2(l, r).fold(
          { case (a, b) => a + b }, { case (a, b) => a + b })
      }
      case "-" => num2(l, r).fold(
        { case (a, b) => a - b }, { case (a, b) => a - b })
      case "*" => (l, r) match {
        case (a: String, b: Long) => a * b.toInt
        case _ => num2(l, r).fold(
          { case (a, b) => a * b }, { case (a, b) => a * b })
      }
      case "/" => num2(l, r).fold(
        { case (a, b) => a.toDouble / b }, { case (a, b) => a / b })
      case "/~" => num2(l, r).fold(
        { case (a, b) => Math.floorDiv(a, b) },
        { case (a, b) => math.floor(a / b) })
      case "%" => num2(l, r).fold(
        { case (a, b) => a % b }, { case (a, b) => a % b })
      case "**" => num2(l, r).fold(
        { case (a, b) => math.pow(a.toDouble, b.toDouble) },
        { case (a, b) => math.pow(a, b) })
      case "==" => l == r
      case "!=" | "<>" => l != r
      case "<" => cmp(l, r) < 0
      case "<=" => cmp(l, r) <= 0
      case ">" => cmp(l, r) > 0
      case ">=" => cmp(l, r) >= 0
      case "in" => re match {
        case ListLit(items) => items.map(constEval).contains(l)
        case _ => constEval(re) match {
          case s: String => s.contains(l.toString)
          case _ => throw new NotConst
        }
      }
      case "!in" => !constBin("in", le, re).asInstanceOf[Boolean]
      case "~" => (l, r) match {
        case (a: String, pat: String) =>
          // LIKE → regex (%, _ wildcards)
          val rx = java.util.regex.Pattern.quote(pat)
            .replace("%", "\\E.*\\Q").replace("_", "\\E.\\Q")
          a.matches(rx)
        case _ => throw new TypeError("~ requires strings")
      }
      case _ => throw new NotConst
    }
  }

  private def cmp(l: Any, r: Any): Int = (l, r) match {
    case (a: String, b: String) => a.compareTo(b)
    case _ => num2(l, r).fold(
      { case (a, b) => java.lang.Long.compare(a, b) },
      { case (a, b) => java.lang.Double.compare(a, b) })
  }

  private def constCall(fn: String, args: Seq[Arg]): Any = {
    def a(i: Int): Any = constEval(args(i).value)
    fn match {
      case "length" => a(0) match {
        case s: String => s.length.toLong
        case o => throw new TypeError(s"length of $o")
      }
      case "upper" => a(0).toString.toUpperCase
      case "lower" => a(0).toString.toLowerCase
      case "string" => a(0) match {
        case l: Long => l.toString
        case d: Double => d.toString
        case s: String => s
        case b: Boolean => if (b) "true" else "false"
        case o => String.valueOf(o)
      }
      case "int" => a(0) match {
        case l: Long => l
        case d: Double => d.toLong
        case s: String => try s.trim.toLong catch {
          case _: NumberFormatException =>
            throw new ValueError(s"cannot cast '$s' to int")
        }
        case b: Boolean => if (b) 1L else 0L
        case o => throw new TypeError(s"cannot cast $o to int")
      }
      case "float" => a(0) match {
        case l: Long => l.toDouble
        case d: Double => d
        case s: String => s.trim.toDouble
        case o => throw new TypeError(s"cannot cast $o to float")
      }
      case "bool" => truthyScalar(a(0))
      case "round" =>
        val x = a(0) match {
          case d: Double => d; case l: Long => l.toDouble
          case o => throw new TypeError(s"round of $o")
        }
        val n = if (args.length == 1) 0
          else constEval(args(1).value).asInstanceOf[Long].toInt
        // HALF_UP away from zero — SQL ROUND semantics (round(-4.535,2)
        // = -4.54; math.round's half-toward-+inf gives -4.53). Negative
        // digits round to tens/hundreds like the reference (round.pql).
        java.math.BigDecimal.valueOf(x)
          .setScale(n, java.math.RoundingMode.HALF_UP).doubleValue()
      case "iif" =>
        if (truthyScalar(a(0))) a(1) else a(2)
      // reflection as scalar values (reference pql_functions.py:246-278)
      case "type" => TypeV(scalarTypeName(a(0)))
      case "isa" =>
        val target = a(1) match {
          case TypeV(n) => n
          case s: String => s
          case o => throw new TypeError(s"isa: expected a type, got $o")
        }
        isaMatches(scalarTypeName(a(0)), target)
      case "issubclass" => (a(0), a(1)) match {
        case (TypeV(x), TypeV(y)) => x == y || isaMatches(x, y)
        case (x, y) => throw new TypeError(s"issubclass of ($x, $y)")
      }
      // `cast(obj, type)` — type-as-value form of the cast family
      // (reference pql_functions.py:668-689)
      case "cast" =>
        val target = a(1) match {
          case TypeV(n) => n
          case o => throw new TypeError(s"cast: expected a type, got $o")
        }
        constCall(target, args.take(1))
      case "get_db_type" => "spark"
      // reference pql_functions.py:224-229: the backend-qualified
      // quoted id — the engine has one flat namespace, so it's the
      // quoted name itself
      case "get_qualified_name" => a(0) match {
        case s: String => "`" + s + "`"
        case o => throw new TypeError(s"get_qualified_name of $o")
      }
      case "str_notcontains" => (a(0), a(1)) match {
        case (sub: String, s: String) => !s.contains(sub)
        case (x, y) => throw new TypeError(s"str_notcontains of ($x, $y)")
      }
      case "str_contains" => (a(0), a(1)) match {
        case (sub: String, s: String) => s.contains(sub)
        case (x, y) => throw new TypeError(s"str_contains of ($x, $y)")
      }
      // scalar string builtins (reference __builtins__.pql:462-513)
      case "str_index" => (a(0), a(1)) match {
        case (needle: String, s: String) => s.indexOf(needle).toLong
        case (x, y) => throw new TypeError(s"str_index of ($x, $y)")
      }
      case "char" => a(0) match {
        case l: Long => l.toChar.toString
        case o => throw new TypeError(s"char of $o")
      }
      case "char_ord" => a(0) match {
        case s: String if s.nonEmpty => s.charAt(0).toLong
        case o => throw new TypeError(s"char_ord of $o")
      }
      case "repeat" => (a(0), a(1)) match {
        case (s: String, n: Long) => s * n.toInt
        case (x, y) => throw new TypeError(s"repeat of ($x, $y)")
      }
      case "pi" => math.Pi
      // driver-side current timestamp (reference pql_functions.py
      // `now`): scalar contexts — `x = now()`, `new T(ts: now())`.
      // Column contexts still compile to F.current_timestamp().
      case "now" => java.sql.Timestamp.from(java.time.Instant.now())
      // driver-side random in scalar contexts — `new a(random())`
      // freezes the drawn value at insert (reference issue #7,
      // test_new_freezes_values); column contexts stay F.rand()
      case "random" => scala.util.Random.nextDouble()
      case _ => throw new NotConst
    }
  }

  private def litAny(e: Expr): Any = e match {
    case IntLit(v) => v
    case FloatLit(v) => v
    case StrLit(v) => v
    case BoolLit(v) => v
    case TsLit(v) => v
    case NullLit => null
    case Unary("-", IntLit(v)) => -v
    // a row value used where a literal goes (FK column) means its id
    case RowLit(t, fs) => fs.collectFirst { case ("id", e) => litAny(e) }
      .getOrElse(throw new TypeError(s"row of '$t' has no id"))
    // `[1, 1]` positional struct value for a struct-typed column
    // (box_circle.pql `new Box([1,1],[10,10])`); Catalog.coerce folds
    // the Seq into a Row against the column's StructType
    case ListLit(items) => items.map(litAny)
    case o => throw new TypeError(s"'new' values must be literals, got $o")
  }

  private def litValue(e: Expr): Any = e match {
    case IntLit(v) => v
    case FloatLit(v) => v
    case StrLit(v) => v
    case BoolLit(v) => v
    case TsLit(v) => v
    case o => throw new TypeError(s"expected literal, got $o")
  }

  // ---- static type inference over the table schema ------------------------
  /** Best-effort operand typing so `and`/`or` get the reference's
    * value semantics and string `+`/`*` dispatch correctly on COLUMNS,
    * not just literals (reference compiler.py:313-339 requires both
    * operands of one kernel type).
    */
  private def inferType(e: Expr, schema: Option[StructType]): Option[DataType] =
    e match {
      case IntLit(_) => Some(LongType)
      case FloatLit(_) => Some(DoubleType)
      case StrLit(_) => Some(StringType)
      case BoolLit(_) => Some(BooleanType)
      case NullLit => None
      case Ident(n) => schema.flatMap(_.find(_.name == n).map(_.dataType))
      case a: Attr =>
        schema.flatMap(s => resolvePath(s, attrRoot(a) +: attrFields(a)))
      case StructLit(fs) =>
        val ts = fs.map(f => inferType(f.value, schema))
        if (ts.exists(_.isEmpty)) None
        else Some(StructType(fs.zip(ts).map { case (f, t) =>
          StructField(f.name.getOrElse(fieldName(f)), t.get) }))
      case Unary("-", x) => inferType(x, schema)
      case Unary("not", _) => Some(BooleanType)
      case BinOp(op, l, r) => op match {
        case "==" | "!=" | "<>" | "<" | "<=" | ">" | ">=" | "~" | "in" |
             "!in" => Some(BooleanType)
        case "and" | "or" =>
          inferType(l, schema).orElse(inferType(r, schema))
        case "/" | "**" => Some(DoubleType)
        case "/~" => Some(LongType)
        case "+" | "-" | "*" | "%" =>
          (inferType(l, schema), inferType(r, schema)) match {
            case (Some(StringType), _) => Some(StringType)
            case (_, Some(StringType)) if op == "+" => Some(StringType)
            case (Some(DoubleType), _) | (_, Some(DoubleType)) =>
              Some(DoubleType)
            case (Some(a), _) => Some(a)
            case (_, b) => b
          }
        case _ => None
      }
      case Call(fn, args) => fn match {
        case "upper" | "lower" | "string" | "char" | "repeat" =>
          Some(StringType)
        case "length" | "int" | "char_ord" | "str_index" | "year" |
             "month" | "day" | "hour" | "minute" | "day_of_week" |
             "week_of_year" | "count" | "count_distinct" | "count_true" |
             "count_false" | "token_count" | "pii_count" => Some(LongType)
        case "approx_count_distinct" => Some(DoubleType)
        case "float" | "mean" | "avg" | "stddev" | "median" | "pi" |
             "random" | "product" | "approx_product" |
             "quality_score" | "garbage_ratio" | "type_token_ratio" |
             "stopword_frac" | "alpha_word_frac" | "script_frac" =>
          Some(DoubleType)
        case "lang_id" | "fingerprint" | "redact_pii" |
             "normalize_text" | "fold_accents" | "strip_html" |
             "dominant_script" => Some(StringType)
        case "bool" | "str_contains" => Some(BooleanType)
        case "iif" if args.length == 3 =>
          inferType(args(1).value, schema)
            .orElse(inferType(args(2).value, schema))
        case "sum" | "min" | "max" | "first" | "round" if args.nonEmpty =>
          inferType(args.head.value, schema)
        case _ => None
      }
      case OneE(x, _) => inferType(x, schema)
      // string slice/index stays a string
      case Slice(se, _, _) if inferType(se, schema).contains(StringType) =>
        Some(StringType)
      case Selection(se, Seq(_)) if inferType(se, schema).contains(StringType) =>
        Some(StringType)
      case _ => None
    }

  private def attrRoot(e: Expr): String = e match {
    case Ident(n) => n
    case Attr(o, _) => attrRoot(o)
    case o => throw new TypeError(s"bad attribute path: $o")
  }
  private def attrFields(e: Expr): Seq[String] = e match {
    case Ident(_) => Seq.empty
    case Attr(o, n) => attrFields(o) :+ n
    case o => throw new TypeError(s"bad attribute path: $o")
  }
  private def resolvePath(st: StructType, path: Seq[String]): Option[DataType] =
    path.foldLeft(Option(st: DataType)) {
      case (Some(s: StructType), n) => s.find(_.name == n).map(_.dataType)
      case _ => None
    }

  /** Kernel type for the reference's same-type check on and/or
    * (compiler.py:313-317): numeric types collapse together.
    */
  private def kernel(dt: DataType): String = dt match {
    case BooleanType => "bool"
    case StringType => "string"
    case _: NumericType => "number"
    case o => o.typeName
  }

  // ---- column evaluation --------------------------------------------------
  def evalCol(e: Expr, schema: Option[StructType],
              agg: Boolean = false): Column = e match {
    case IntLit(v) => lit(v)
    case FloatLit(v) => lit(v)
    case StrLit(v) => lit(v)
    case BoolLit(v) => lit(v)
    case TsLit(v) => lit(v)
    case NullLit => lit(null)
    case Ident(n) => col(n)
    case Attr(o, n) => col(attrPath(Attr(o, n)))
    // anonymous struct literal `{a: x, b}` → nested struct column
    // (reference test_nested2: `[1] {a:{b:{item}}}`)
    case StructLit(fs) =>
      F.struct(fs.map { f =>
        val n = f.name.getOrElse(fieldName(f))
        evalCol(f.value, schema, agg).as(n)
      }: _*)
    // a ROW value in column position compares by its pk (reference
    // compile_binops.py:14-136: rows dispatch to their id), so
    // `Person[country==isr]` and `[id!=me]` filter on the row's id
    case RowLit(t, fs) =>
      lit(fs.collectFirst { case ("id", e) => litValue(e) }.getOrElse(
        throw new TypeError(s"row of '$t' has no id")))
    case Unary("-", x) => -evalCol(x, schema, agg)
    case Unary("not", x) =>
      // value-semantics not: truthiness by operand type
      inferType(x, schema) match {
        case Some(dt) if kernel(dt) != "bool" =>
          PF.vNot(evalCol(x, schema, agg), dt)
        case _ => !evalCol(x, schema, agg)
      }
    case BinOp(op, l, r) => binop(op, l, r, schema, agg)
    case Call(fn, args) => colCall(fn, args, schema, agg)
    // string slice/index in column position: `s[a..b]` / `s[i]`
    // (reference sql.py:897-926 StringSlice)
    case Slice(se, f, u) if inferType(se, schema).contains(StringType) =>
      val s = evalCol(se, schema, agg)
      val from = f.map(e => evalCol(e, schema, agg)).getOrElse(lit(0L))
      u match {
        case Some(e) => PF.strSlice(s, from, evalCol(e, schema, agg))
        case None =>
          F.substring(s, (from + 1).cast(IntegerType), lit(1000000))
      }
    case Selection(se, Seq(ie)) if inferType(se, schema).contains(StringType) =>
      val i = evalCol(ie, schema, agg)
      PF.strSlice(evalCol(se, schema, agg), i, i + 1)
    case o => throw new TypeError(s"not a column expression: $o")
  }

  private def attrPath(e: Expr): String = e match {
    case Ident(n) => n
    case Attr(o, n) => s"${attrPath(o)}.$n"
    case o => throw new TypeError(s"bad attribute path: $o")
  }

  private def binop(op: String, le: Expr, re: Expr,
                    schema: Option[StructType], agg: Boolean): Column = {
    lazy val l = evalCol(le, schema, agg)
    lazy val r = evalCol(re, schema, agg)
    lazy val lt = inferType(le, schema)
    lazy val rt = inferType(re, schema)
    // string vs number/bool never compares equal and never orders —
    // the reference's _prepare_to_compare (compile_binops.py:64-77)
    // returns False/True for =/!= and raises TypeError on < > <= >=
    // (`3 != "3"` is true, `2 > "a"` is an error); Spark would
    // auto-cast instead. Timestamps keep the cast (string literals
    // against date columns are idiomatic).
    lazy val mixedKind: Boolean = (for { a <- lt; b <- rt } yield {
      val ks = Set(kernel(a), kernel(b))
      ks == Set("string", "number") || ks == Set("string", "bool")
    }).getOrElse(false)
    op match {
      case "==" if mixedKind => lit(false)
      case "!=" | "<>" if mixedKind => lit(true)
      case "<" | "<=" | ">" | ">=" if mixedKind =>
        throw new TypeError(
          s"Operator '$op' not implemented for ${lt.get} and ${rt.get}")
      case "==" => PF.eq(l, r)
      case "!=" | "<>" => PF.neq(l, r)
      case "<" => l < r
      case "<=" => l <= r
      case ">" => l > r
      case ">=" => l >= r
      case "~" => l.like(litString(re))
      // Reference and/or return an OPERAND, not a bool
      // (compiler.py:313-339): `a or b` = CASE WHEN bool(a) THEN a
      // ELSE b. Both sides must share a kernel type; pure-bool
      // operands keep the flat &&/|| form (same result, simpler plan).
      case "and" | "or" =>
        (lt, rt) match {
          case (Some(a), Some(b)) if kernel(a) != kernel(b) =>
            throw new TypeError(
              s"'$op' operator requires both arguments to be of the " +
                s"same type, got ($a, $b)")
          case _ => ()
        }
        val ty = lt.orElse(rt)
        ty match {
          case Some(dt) if kernel(dt) != "bool" =>
            if (op == "and") PF.vAnd(l, r, dt) else PF.vOr(l, r, dt)
          case _ => if (op == "and") l && r else l || r
        }
      case "+" =>
        (lt, rt) match {
          // string + is concatenation (reference compile_binops.py:201)
          case (Some(StringType), Some(StringType)) => F.concat(l, r)
          case (Some(StringType), Some(other)) =>
            throw new TypeError(s"cannot add string and $other")
          case (Some(other), Some(StringType)) =>
            throw new TypeError(s"cannot add $other and string")
          case _ => (le, re) match {
            case (StrLit(_), _) | (_, StrLit(_)) => F.concat(l, r)
            case _ => l + r
          }
        }
      case "-" => l - r
      case "*" =>
        (le, lt) match {
          // string * n is repetition
          case (StrLit(_), _) => PF.strRepeat(l, r)
          case (_, Some(StringType)) => PF.strRepeat(l, r)
          case _ => l * r
        }
      case "/" => PF.div(l, r)
      case "/~" => PF.floorDiv(l, r)
      case "%" => l % r
      case "**" => PF.pow(l, r)
      case "in" => re match {
        case ListLit(items) => l.isin(items.map(litValue): _*)
        case StrLit(s) => PF.strContains(lit(s), l) // "x" in "text"
        case _ => throw new TypeError(
          "'in' against a table is only supported as a selection condition")
      }
      case "!in" => re match {
        case ListLit(items) => !l.isin(items.map(litValue): _*)
        case StrLit(s) => !PF.strContains(lit(s), l)
        case _ => throw new TypeError(
          "'!in' against a table is only supported as a selection condition")
      }
      case o => throw new TypeError(s"unknown operator '$o'")
    }
  }

  /** Optional column-name argument `i`: absent or blank = None. */
  private def optName(args: Seq[Arg], i: Int): Option[String] =
    if (args.length > i) Some(litString(args(i).value).trim).filter(_.nonEmpty)
    else None

  private def litString(e: Expr): String = e match {
    case StrLit(s) => s
    case o => throw new TypeError(s"expected string literal, got $o")
  }

  private def colCall(fn: String, args: Seq[Arg],
                      schema: Option[StructType], agg: Boolean): Column = {
    def a(i: Int): Column = evalCol(args(i).value, schema, agg)
    def arity(n: Int): Unit =
      if (args.length != n)
        throw new TypeError(s"$fn expects $n argument(s), got ${args.length}")
    fn match {
      // aggregates; applied to an ARRAY value (a collected group) they
      // act per-row on the list instead (reference: `{k => item}
      // {count(item)}` counts each group's list — test_basic.py:1496)
      case "count" =>
        if (args.isEmpty) F.count(lit(1))
        else {
          arity(1)
          inferType(args(0).value, schema) match {
            case Some(_: ArrayType) => F.size(a(0)).cast(LongType)
            case _ => F.count(a(0))
          }
        }
      case "sum" => arity(1)
        inferType(args(0).value, schema) match {
          case Some(ArrayType(et: NumericType, _)) =>
            F.aggregate(a(0), lit(0).cast(et), (acc, v) => acc + v)
          case _ => F.sum(a(0))
        }
      case "min" => arity(1)
        inferType(args(0).value, schema) match {
          case Some(_: ArrayType) => F.array_min(a(0))
          case _ => F.min(a(0))
        }
      case "max" => arity(1)
        inferType(args(0).value, schema) match {
          case Some(_: ArrayType) => F.array_max(a(0))
          case _ => F.max(a(0))
        }
      case "mean" | "avg" => arity(1)
        inferType(args(0).value, schema) match {
          case Some(ArrayType(et: NumericType, _)) =>
            F.aggregate(a(0), lit(0).cast(et), (acc, v) => acc + v)
              .cast(DoubleType) / F.size(a(0))
          case _ => F.avg(a(0))
        }
      case "stddev" => arity(1); F.stddev_samp(a(0))
      case "count_distinct" => arity(1); F.countDistinct(a(0))
      // md5-register HLL (cross-engine deterministic, p=12) — the SAME
      // register arithmetic a bucketed agg state persists, so a
      // registered MV serves this aggregate BIT-IDENTICALLY
      case "approx_count_distinct" => arity(1)
        graft.plans.HllRegs.estimate(
          graft.plans.HllRegs.stateMd5(a(0), 12), 12)
      // non-boolean operands count by SQL truthiness — the reference
      // compiles these to sum(cast($field != 0 as int))
      // (__builtins__.pql:284-285), so ints/floats work too
      case "count_true" => arity(1)
        inferType(args(0).value, schema) match {
          case Some(BooleanType) | None => PF.countTrue(a(0))
          case Some(_) => PF.countTrue(a(0) =!= lit(0))
        }
      case "count_false" => arity(1)
        inferType(args(0).value, schema) match {
          case Some(BooleanType) | None => PF.countFalse(a(0))
          case Some(_) => PF.countFalse(a(0) =!= lit(0))
        }
      case "first" => arity(1); F.first(a(0))
      case "product" => arity(1); PF.product(a(0).cast(DoubleType))
      case "approx_product" => arity(1); PF.approxProduct(a(0))
      // internal: backref collect in agg scope (sorted for
      // deterministic cross-engine comparison; collect_list skips
      // nulls, so childless parents get [])
      case "__collect" => arity(1); F.array_sort(F.collect_list(a(0)))
      case "median" => arity(1); F.percentile(a(0), lit(0.5))
      // scalar functions
      case "upper" => arity(1); F.upper(a(0))
      case "lower" => arity(1); F.lower(a(0))
      case "length" => arity(1); F.length(a(0))
      case "round" =>
        if (args.length == 1) F.round(a(0), 0)
        else { arity(2); F.round(a(0), constLong(args(1).value).toInt) }
      case "repeat" => arity(2); PF.strRepeat(a(0), a(1))
      case "char" => arity(1); PF.charOf(a(0))
      case "char_ord" => arity(1); PF.charOrd(a(0))
      case "str_index" => arity(2); PF.strIndex(a(1), a(0))
      case "str_contains" => arity(2); PF.strContains(a(1), a(0))
      case "str_notcontains" => arity(2); !PF.strContains(a(1), a(0))
      // `cast(col, type)` column form (reference pql_functions.py:668)
      case "cast" => arity(2)
        args(1).value match {
          case Ident(tn) => colCall(tn, args.take(1), schema, agg)
          case TypeLit(tn) => colCall(tn, args.take(1), schema, agg)
          case o => throw new TypeError(s"cast: expected a type, got $o")
        }
      // engine extensions (beyond the reference): the text-analysis
      // scalars of ext.TextAnalysis, so pipeline signals compose with
      // ordinary language queries (`documents {lang: lang_id(text)}`)
      case "token_count" => arity(1)
        graft.ext.TextAnalysis.tokenCount(a(0)).cast(LongType)
      case "subword_count" => arity(1)
        graft.ext.TextAnalysis.subwordCount(a(0)).cast(LongType)
      case "lang_id" => arity(1); graft.ext.TextAnalysis.langId(a(0))
      case "quality_score" => arity(1)
        graft.ext.TextAnalysis.qualityScore(a(0))
      case "garbage_ratio" => arity(1)
        graft.ext.TextAnalysis.garbageRatio(a(0))
      case "fingerprint" => arity(1); graft.ext.TextAnalysis.fingerprint(a(0))
      case "redact_pii" => arity(1); graft.ext.TextAnalysis.redactPii(a(0))
      case "pii_count" => arity(1); graft.ext.TextAnalysis.piiCount(a(0))
      case "normalize_text" =>
        if (args.length < 1 || args.length > 2)
          throw new TypeError("normalize_text(text, \"form\"?)")
        val form =
          if (args.length == 2) litString(args(1).value) else "NFC"
        graft.ext.TextAnalysis.normalizeText(a(0), form)
      case "fold_accents" => arity(1)
        graft.ext.TextAnalysis.foldAccents(a(0))
      case "strip_html" => arity(1)
        graft.ext.TextAnalysis.stripHtml(a(0))
      case "type_token_ratio" => arity(1)
        graft.ext.TextAnalysis.typeTokenRatio(a(0))
      case "stopword_frac" => arity(1)
        graft.ext.TextAnalysis.stopwordFraction(a(0))
      case "alpha_word_frac" => arity(1)
        graft.ext.TextAnalysis.alphaWordFraction(a(0))
      case "script_frac" => arity(2)
        graft.ext.TextAnalysis.scriptFraction(a(0), litString(args(1).value))
      case "dominant_script" => arity(1)
        graft.ext.TextAnalysis.dominantScript(a(0))
      case "url_domains" => arity(1)
        graft.ext.TextAnalysis.urlDomains(a(0))
      case "year" => arity(1); PF.year(a(0))
      case "month" => arity(1); PF.month(a(0))
      case "day" => arity(1); PF.day(a(0))
      case "hour" => arity(1); PF.hour(a(0))
      case "minute" => arity(1); PF.minute(a(0))
      case "day_of_week" => arity(1); PF.dayOfWeek(a(0))
      case "week_of_year" => arity(1); PF.weekOfYear(a(0))
      // conditional expression (reference ast.If → sql.Case,
      // compiler.py:172-181; the condition is CAST to bool —
      // compiler.py:174 — so int/string conditions get truthiness)
      case "iif" => arity(3)
        val cond = inferType(args(0).value, schema) match {
          case Some(BooleanType) | None => a(0)
          case Some(t) => PF.truthy(a(0), t)
        }
        F.when(cond, a(1)).otherwise(a(2))
      case "pi" => lit(math.Pi)
      case "now" => F.current_timestamp()
      case "random" => F.rand()
      // casts (type-as-function, reference evaluate.py:560-563)
      case "int" => arity(1); args.head.value match {
        case StrLit(_) => PF.strictToInt(a(0))
        case _ => inferType(args.head.value, schema) match {
          case Some(StringType) => PF.strictToInt(a(0))
          case _ => a(0).cast(LongType)
        }
      }
      case "float" => arity(1); a(0).cast(DoubleType)
      case "string" => arity(1); a(0).cast(StringType)
      case "bool" => arity(1); PF.numToBool(a(0))
      // reflection (reference pql_functions.py:246-278): type names as
      // strings rather than first-class type objects
      case "type" => arity(1)
        lit(inferType(args.head.value, schema).map(refTypeName)
          .getOrElse("unknown"))
      case "isa" => arity(2)
        val tn = inferType(args.head.value, schema).map(refTypeName)
          .getOrElse("unknown")
        lit(isaMatches(tn, litString(args(1).value)))
      case "repr" => arity(1)
        inferType(args.head.value, schema) match {
          case Some(StringType) =>
            F.concat(lit("\""), a(0), lit("\""))
          case _ => a(0).cast(StringType)
        }
      case other => throw new NameError(s"unknown function '$other'")
    }
  }
}
