package graft.lang

/** Hand-rolled lexer + recursive-descent/Pratt parser for the core of
  * the reference language (grammar: reference preql/core/preql.lark):
  * projections `t{a, n: expr}` / group-by `t{k => aggs}`, selections
  * `t[conds]`, slices `t[a..b]`, `order {a, ^b}`, `update {...}`,
  * `delete [...]`, ranges `[a..b]`, lists `[1,2,3]`, function calls
  * with optional named args (`join(a: t1, b: t2)`), attribute access,
  * and the full binary-operator ladder incl. `/~`, `**`, `~`, `in`,
  * `!in`, and/or/not. No parser library — zero-dependency.
  */
object Ast {
  sealed trait Expr
  case class IntLit(v: Long) extends Expr
  case class FloatLit(v: Double) extends Expr
  case class StrLit(v: String) extends Expr
  case class BoolLit(v: Boolean) extends Expr
  case object NullLit extends Expr
  case class Ident(name: String) extends Expr
  case class Attr(obj: Expr, name: String) extends Expr
  case class BinOp(op: String, l: Expr, r: Expr) extends Expr
  case class Unary(op: String, e: Expr) extends Expr
  case class Call(fn: String, args: Seq[Arg]) extends Expr
  /** Call of a call's RESULT — higher-order application `q2()()`
    * (reference: functions are first-class, `func q2() = q1` returns
    * q1 and `q2()()` calls it, tests/test_basic.py _test_user_functions).
    * The inliner reduces the callee to a bare function name.
    */
  case class Apply(fn: Expr, args: Seq[Arg]) extends Expr
  case class Arg(name: Option[String], value: Expr)
  case class ListLit(items: Seq[Expr]) extends Expr
  /** Literal dict value — produced by a varargs collector (reference
    * ast.Dict_, pql_objects.py:110-212) and by substituting a bound
    * dict variable back into an expression.
    */
  case class DictLit(fields: Seq[(String, Expr)]) extends Expr
  /** A localized ROW of `table` (reference RowType,
    * test_basic.py:656-679): `a = new A(4)` binds one; attr access
    * walks fields and follows FK columns to the referenced row.
    */
  case class RowLit(table: String, fields: Seq[(String, Expr)]) extends Expr
  /** `new Table(args)` in EXPRESSION position — inserts and evaluates
    * to the inserted row (statement-position `new` stays NewRow).
    */
  case class NewE(table: String, args: Seq[Arg]) extends Expr
  /** Call-site `...expr` — inline a dict value as named arguments
    * (reference ast.Ellipsis in func_args, pql_objects.py:145-157).
    */
  case class Spread(e: Expr) extends Expr
  /** Anonymous struct construction in expression position:
    * `{a: expr, b}` — e.g. `[1] {a:{b:{item}}}` builds nested structs
    * (reference test_basic.py:560-562 test_nested2; compiles to
    * named_struct, fields resolve against the enclosing row scope).
    */
  case class StructLit(fields: Seq[Field]) extends Expr
  /** `{..., x}` / `{... !a !b}` — include remaining columns;
    * `{...s}` — inline the fields of struct column `s`
    * (reference compiler.py:80-128 `_expand_ellipsis`).
    */
  case class EllipsisE(excludes: Seq[String],
                       from: Option[String] = None) extends Expr
  case class RangeLit(from: Option[Expr], until: Option[Expr]) extends Expr
  /** `one expr` / `one? expr` (reference evaluate.py:679-709). */
  case class OneE(e: Expr, opt: Boolean) extends Expr
  /** A first-class TYPE value — what `type(x)` evaluates to and what a
    * bare type name (`float`, `int`) means in scalar expression
    * position, so `type(10/3) == float` compares types
    * (reference pql_functions.py:246-278: types are objects).
    */
  case class TypeLit(name: String) extends Expr
  /** A localized timestamp value (what `now()` and timestamp row
    * fields substitute back into expressions as).
    */
  case class TsLit(v: java.sql.Timestamp) extends Expr

  // table operators (postfix)
  case class Selection(t: Expr, conds: Seq[Expr]) extends Expr
  case class Slice(t: Expr, from: Option[Expr], until: Option[Expr]) extends Expr
  /** keys=None → plain projection; keys=Some(ks) → group-by (ks may be
    * empty for `{=>aggs}`); aggs empty with keys → distinct keys.
    */
  case class Projection(t: Expr, fields: Seq[Field], grouped: Boolean,
                        aggs: Seq[Field]) extends Expr
  case class Field(name: Option[String], value: Expr)
  case class Order(t: Expr, keys: Seq[(Expr, Boolean)]) extends Expr // (expr, asc)
  case class Update(t: Expr, fields: Seq[Field]) extends Expr
  case class Delete(t: Expr, conds: Seq[Expr]) extends Expr

  sealed trait Stmt
  case class Assign(name: String, value: Expr) extends Stmt
  /** `func f(a, b=dflt) = expr` (or a codeblock body translated to an
    * expression at parse time) — inlined at call sites like the
    * reference (reference evaluate.py:551-648 compile-and-inline;
    * param defaults/matching pql_objects.py:110-212).
    */
  case class Param(name: String, default: Option[Expr],
                   tpe: Option[String] = None)
  /** `collector`: `func f(...kw)` — extra NAMED args collect into a
    * dict bound to this name (reference param_collector,
    * pql_objects.py:84-212; grammar param_variadic preql.lark:69).
    */
  case class FuncDef(name: String, params: Seq[Param], body: Expr,
                     collector: Option[String] = None) extends Stmt
  /** Driver-side control flow (reference evaluate.py:338-356). */
  case class IfStmt(cond: Expr, thenB: Seq[Stmt],
                    elseB: Option[Seq[Stmt]]) extends Stmt
  case class WhileStmt(cond: Expr, body: Seq[Stmt]) extends Stmt
  case class ForStmt(v: String, iterable: Expr, body: Seq[Stmt]) extends Stmt
  case class PrintStmt(e: Expr) extends Stmt
  /** Only valid inside func codeblocks (translated away at parse time). */
  case class ReturnStmt(e: Expr) extends Stmt
  /** `try {..} catch (e: TypeName) {..}` (reference evaluate.py:371-385). */
  case class TryStmt(body: Seq[Stmt], catchVar: Option[String],
                     catchType: String, handler: Seq[Stmt]) extends Stmt
  /** `throw new TypeName("msg")` (reference evaluate.py:387-401). */
  case class ThrowStmt(errType: String, msg: Expr) extends Stmt
  /** `transaction {..}` — rollback bindings on signal (evaluate.py:359-369). */
  case class TransactionStmt(body: Seq[Stmt]) extends Stmt
  /** `assert cond` (reference evaluate.py:318-328). */
  case class AssertStmt(cond: Expr) extends Stmt
  /** `import name` (reference import_stmt; builtin modules only). */
  case class ImportStmt(module: String) extends Stmt
  /** Bare expression statement — e.g. a procedure call `find_primes()`
    * or `commit()` (reference: expressions are statements).
    */
  case class ExprStmt(e: Expr) extends Stmt
  /** `func f(...) { statements }` whose body does NOT reduce to an
    * expression: a PROCEDURE, executed statement-by-statement at call
    * time (reference CodeBlock funcs, evaluate.py:330-335).
    */
  case class ProcDef(name: String, params: Seq[Param],
                     body: Seq[Stmt]) extends Stmt

  /** Bottom-up AST rewrite with a partial function applied post-order. */
  def rewrite(e: Expr)(pf: PartialFunction[Expr, Expr]): Expr = {
    val mapped = e match {
      case BinOp(op, l, r) => BinOp(op, rewrite(l)(pf), rewrite(r)(pf))
      case Unary(op, x) => Unary(op, rewrite(x)(pf))
      case Attr(o, n) => Attr(rewrite(o)(pf), n)
      case Call(fn, args) =>
        Call(fn, args.map(a => Arg(a.name, rewrite(a.value)(pf))))
      case Apply(f, args) =>
        Apply(rewrite(f)(pf), args.map(a => Arg(a.name, rewrite(a.value)(pf))))
      case ListLit(items) => ListLit(items.map(rewrite(_)(pf)))
      case OneE(x, opt) => OneE(rewrite(x)(pf), opt)
      case Selection(t, cs) => Selection(rewrite(t)(pf), cs.map(rewrite(_)(pf)))
      case Slice(t, f, u) =>
        Slice(rewrite(t)(pf), f.map(rewrite(_)(pf)), u.map(rewrite(_)(pf)))
      case Projection(t, fs, g, as) =>
        Projection(rewrite(t)(pf),
          fs.map(f => Field(f.name, rewrite(f.value)(pf))), g,
          as.map(f => Field(f.name, rewrite(f.value)(pf))))
      case Order(t, ks) =>
        Order(rewrite(t)(pf), ks.map { case (k, asc) => (rewrite(k)(pf), asc) })
      case Update(t, fs) =>
        Update(rewrite(t)(pf), fs.map(f => Field(f.name, rewrite(f.value)(pf))))
      case Delete(t, cs) => Delete(rewrite(t)(pf), cs.map(rewrite(_)(pf)))
      case RangeLit(f, u) =>
        RangeLit(f.map(rewrite(_)(pf)), u.map(rewrite(_)(pf)))
      case DictLit(fs) =>
        DictLit(fs.map { case (k, v) => (k, rewrite(v)(pf)) })
      case RowLit(t, fs) =>
        RowLit(t, fs.map { case (k, v) => (k, rewrite(v)(pf)) })
      case NewE(t, args) =>
        NewE(t, args.map(a => Arg(a.name, rewrite(a.value)(pf))))
      case Spread(x) => Spread(rewrite(x)(pf))
      case StructLit(fs) =>
        StructLit(fs.map(f => Field(f.name, rewrite(f.value)(pf))))
      case leaf => leaf
    }
    if (pf.isDefinedAt(mapped)) pf(mapped) else mapped
  }
  /** `table += expr` — INSERT..SELECT (reference evaluate.py:278-287). */
  case class InsertRows(table: String, value: Expr) extends Stmt
  /** `table Name { col: type, ... }` DDL — auto `id` pk unless `bare`
    * (reference evaluate.py:262-267, preql.lark table_def).
    */
  /** One DDL column: `name: type ['?'] ['-> backref'] ['= default]`.
    * A non-primitive type names another table — the column becomes an
    * FK id with optional reverse name (reference preql.lark:42-47
    * typemod / col_def; test_basic.py:1294-1321 self reference).
    */
  case class ColDef(name: String, tpe: String,
                    optional: Boolean = false,
                    backref: Option[String] = None,
                    default: Option[Expr] = None)
  case class TableDef(name: String, fields: Seq[ColDef],
                      bare: Boolean,
                      methods: Seq[FuncDef] = Seq.empty,
                      ellipsis: Boolean = false) extends Stmt
  /** `struct Name { field: type ... }` — a declared value type usable
    * as a column type; unlike the reference (which flattens structs to
    * `parent_child` columns, types_impl.py:25-41), Spark has real
    * nested StructType columns, so fields stay nested and project/
    * filter via dotted paths (reference preql.lark struct_def;
    * tests/box_circle.pql).
    */
  case class StructDef(name: String, fields: Seq[ColDef]) extends Stmt
  /** `const table name = expr` — CTAS into a materialized temp table
    * (reference evaluate.py:178-185: const table compiles the rhs once
    * into a temptable; tests/box_circle.pql const table tmp1/tmp2).
    */
  case class ConstTableDef(name: String, value: Expr) extends Stmt
  /** `table x = expr` — CTAS: the result becomes a real catalog table
    * (reference evaluate.py:172-177 creates a DB table), so dropping
    * the name binding (`x = null`) leaves the stored rows reflectable
    * via `table x {...}` (test_partial_table2).
    */
  case class TableAssign(name: String, value: Expr) extends Stmt
  /** `new Table(col: value, ...)` — single-row insert
    * (reference evaluate.py:884-947).
    */
  case class NewRow(table: String, args: Seq[Arg]) extends Stmt
  case class Program(stmts: Seq[Stmt], result: Expr)
}

final case class ParseError(msg: String, pos: Int)
  extends RuntimeException(s"$msg at offset $pos")

object Lexer {
  sealed trait Tok { def pos: Int }
  case class TInt(v: Long, pos: Int) extends Tok
  case class TFloat(v: Double, pos: Int) extends Tok
  case class TStr(v: String, pos: Int) extends Tok
  case class TIdent(v: String, pos: Int) extends Tok
  case class TOp(v: String, pos: Int) extends Tok
  case class TEof(pos: Int) extends Tok

  private val multiOps = Seq("...", "=>", "..", "==", "!=", "<>", "<=", ">=",
    "/~", "**", "!in", "+=", "->")
  private val singleOps = "{}[](),:.+-*/%<>=^~&|!?"

  def lex(src: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = src.length
    while (i < n) {
      val c = src(i)
      if (c.isWhitespace) i += 1
      else if (c == '/' && i + 1 < n && src(i + 1) == '/') {
        while (i < n && src(i) != '\n') i += 1
      } else if (c == '#') {
        while (i < n && src(i) != '\n') i += 1
      } else if (c.isDigit) {
        val start = i
        while (i < n && src(i).isDigit) i += 1
        // `1..5` must lex as int, "..", int — only treat '.' as decimal
        // point when not followed by another '.'
        if (i < n && src(i) == '.' && !(i + 1 < n && src(i + 1) == '.')) {
          i += 1
          while (i < n && src(i).isDigit) i += 1
          out += TFloat(src.substring(start, i).toDouble, start)
        } else out += TInt(src.substring(start, i).toLong, start)
      } else if (c == '\\' && i + 1 < n &&
                 (src(i + 1) == '\n' ||
                  (src(i + 1) == '\r' && i + 2 < n && src(i + 2) == '\n'))) {
        // backslash line continuation (reference preql.lark handles
        // explicit line joins; movie_recommender.pql uses `= \`)
        i += (if (src(i + 1) == '\r') 3 else 2)
      } else if (c == '"' && src.startsWith("\"\"\"", i)) {
        // triple-quoted string (docstrings — reference grammar
        // LONG_STRING; examples/matrices.pql file docstring)
        val start = i
        val end = src.indexOf("\"\"\"", i + 3)
        if (end < 0) throw ParseError("unterminated string", start)
        out += TStr(src.substring(i + 3, end), start)
        i = end + 3
      } else if (c == '"' || c == '\'') {
        val quote = c
        val start = i
        i += 1
        val sb = new StringBuilder
        while (i < n && src(i) != quote) {
          if (src(i) == '\\' && i + 1 < n) {
            sb += (src(i + 1) match {
              case 'n' => '\n'; case 't' => '\t'; case other => other
            })
            i += 2
          } else { sb += src(i); i += 1 }
        }
        if (i >= n) throw ParseError("unterminated string", start)
        i += 1
        out += TStr(sb.toString, start)
      } else if (c.isLetter || c == '_') {
        val start = i
        while (i < n && (src(i).isLetterOrDigit || src(i) == '_')) i += 1
        out += TIdent(src.substring(start, i), start)
      } else if (c == '$' && src.startsWith("$on", i) &&
          (i + 3 >= n || !src(i + 3).isLetterOrDigit)) {
        // the reference spells the theta-join predicate `$on:`
        // (pql_functions.py:568-576); bare `on:` stays accepted too
        out += TIdent("on", i)
        i += 3
      } else {
        multiOps.find(op => src.startsWith(op, i)) match {
          case Some(op) => out += TOp(op, i); i += op.length
          case None =>
            if (singleOps.contains(c)) { out += TOp(c.toString, i); i += 1 }
            else throw ParseError(s"unexpected character '$c'", i)
        }
      }
    }
    out += TEof(n)
    out.result()
  }
}

final class Parser(toks: Vector[Lexer.Tok], src: String = "") {
  import Ast._
  import Lexer._

  private var p = 0
  private def cur: Tok = toks(p)

  // Newline sensitivity (the reference grammar is _NL-aware): postfix
  // `[`/`{` and call `(` only attach when they start on the SAME line
  // as the expression so far — otherwise `func f(i) = expr` on one line
  // followed by `[1..100]{...}` on the next would swallow the next
  // statement as a slice+projection.
  private val nlOffsets: Array[Int] =
    src.zipWithIndex.collect { case ('\n', i) => i }.toArray
  private def lineOf(pos: Int): Int = {
    val i = java.util.Arrays.binarySearch(nlOffsets, pos)
    if (i >= 0) i else -(i + 1)
  }
  private def sameLineAsPrev: Boolean =
    p == 0 || lineOf(toks(p - 1).pos) == lineOf(cur.pos)
  private def advance(): Tok = { val t = cur; p += 1; t }
  private def isOp(v: String): Boolean = cur match {
    case TOp(o, _) => o == v; case _ => false
  }
  private def isIdent(v: String): Boolean = cur match {
    case TIdent(o, _) => o == v; case _ => false
  }
  private def expectOp(v: String): Unit =
    if (isOp(v)) p += 1 else throw ParseError(s"expected '$v'", cur.pos)

  // ---- statements ---------------------------------------------------------
  // lookahead: IDENT '=' (not '==')
  private def atAssign: Boolean = (cur, toks.lift(p + 1)) match {
    case (TIdent(_, _), Some(TOp("=", _))) =>
      toks.lift(p + 2) match {
        case Some(TOp("=", _)) => false // '=='
        case _ => true
      }
    case _ => false
  }
  private def atInsert: Boolean = (cur, toks.lift(p + 1)) match {
    case (TIdent(_, _), Some(TOp("+=", _))) => true
    case _ => false
  }
  // `table Name {` / `table Name =` / `bare table Name {` are
  // statements; a bare `table` identifier expression is not
  private def atTableDef: Boolean =
    (isIdent("table") && toks.lift(p + 1).exists(_.isInstanceOf[TIdent])) ||
      (isIdent("bare") && (toks.lift(p + 1) match {
        case Some(TIdent("table", _)) => true
        case _ => false
      }))
  // `const table Name = expr` (box_circle.pql); `struct Name {` decl
  private def atConstTable: Boolean =
    isIdent("const") && (toks.lift(p + 1) match {
      case Some(TIdent("table", _)) => true
      case _ => false
    })
  private def atStructDef: Boolean =
    isIdent("struct") && toks.lift(p + 1).exists(_.isInstanceOf[TIdent]) &&
      (toks.lift(p + 2) match {
        case Some(TOp("{", _)) => true
        case _ => false
      })

  private def atStmt: Boolean =
    atAssign || atInsert || atTableDef || atConstTable || atStructDef ||
      isIdent("new") ||
      isIdent("func") || isIdent("if") || isIdent("while") ||
      isIdent("for") || isIdent("print") || isIdent("return") ||
      isIdent("try") || isIdent("throw") || isIdent("transaction") ||
      isIdent("assert") || (isIdent("import") &&
        toks.lift(p + 1).exists(_.isInstanceOf[TIdent]))

  /** `{ stmt* }` codeblock (reference preql.lark:62). */
  private def parseBlock(): Seq[Stmt] = {
    expectOp("{")
    val stmts = Seq.newBuilder[Stmt]
    while (!isOp("}")) stmts += parseStmt()
    expectOp("}")
    stmts.result()
  }

  /** `func name(params) = expr` or `func name(params) { block }` —
    * used by top-level statements and table-method definitions.
    * Codeblock bodies that reduce to a pure expression stay FuncDefs
    * (inlineable inside projections); otherwise they become PROCEDURES
    * executed at call time (reference func_def_short vs codeblock,
    * preql.lark:52-53).
    */
  private def parseFuncLike(): Stmt = {
    advance() // 'func'
    val name = advance() match {
      case TIdent(v, _) => v
      case t => throw ParseError("expected function name", t.pos)
    }
    expectOp("(")
    val params = Seq.newBuilder[Param]
    var collector: Option[String] = None
    var firstP = true
    while (!isOp(")")) {
      if (!firstP) expectOp(",")
      firstP = false
      if (collector.nonEmpty)
        throw ParseError("'...collector' must be the last parameter",
          cur.pos)
      if (isOp("...")) {
        // varargs collector (reference param_variadic preql.lark:69):
        // extra NAMED args collect into a dict bound to this name
        advance()
        collector = Some(advance() match {
          case TIdent(v, _) => v
          case t => throw ParseError("expected name after '...'", t.pos)
        })
      } else {
        val pname = advance() match {
          case TIdent(v, _) => v
          case t => throw ParseError("expected parameter name", t.pos)
        }
        // optional type annotation `: type` with `list[elem]` /
        // `table` / primitive names (reference preql.lark:66-69
        // typemod params; examples/tree.pql `func bfs(edges: table)`).
        // Annotations document intent (surfaced by `type(f)`);
        // dispatch stays dynamic.
        var ptype: Option[String] = None
        if (isOp(":")) {
          advance()
          val base = advance() match {
            case TIdent(v, _) => v
            case t => throw ParseError("expected type name", t.pos)
          }
          ptype = Some(base)
          if (isOp("[")) { // list[int] element annotation
            advance()
            val elem = advance() match {
              case TIdent(v, _) => v
              case t => throw ParseError("expected type name", t.pos)
            }
            expectOp("]")
            ptype = Some(s"$base[$elem]")
          }
          if (isOp("?")) advance() // nullable mark
        }
        val default =
          if (isOp("=")) { advance(); Some(parseExpr()) } else None
        params += Param(pname, default, ptype)
      }
    }
    expectOp(")")
    if (isOp("=")) {
      advance(); FuncDef(name, params.result(), parseExpr(), collector)
    } else {
      val block = parseBlock()
      // a block body using SQL() must execute as a PROCEDURE: its
      // `$var` string interpolations resolve params/locals from real
      // runtime bindings, which AST inlining cannot substitute
      // (examples/tree.pql func bfs)
      if (collector.isEmpty && block.exists(stmtContainsSql))
        ProcDef(name, params.result(), block)
      else try FuncDef(name, params.result(), blockToExpr(block), collector)
      catch {
        case _: ParseError if collector.isEmpty =>
          ProcDef(name, params.result(), block)
      }
    }
  }

  private def exprContainsSql(e: Ast.Expr): Boolean = {
    var found = false
    Ast.rewrite(e) {
      case c @ Ast.Call("SQL", _) => found = true; c
    }
    found
  }

  private def stmtContainsSql(s: Ast.Stmt): Boolean = s match {
    case Ast.Assign(_, v) => exprContainsSql(v)
    case Ast.ExprStmt(e) => exprContainsSql(e)
    case Ast.ReturnStmt(e) => exprContainsSql(e)
    case Ast.PrintStmt(e) => exprContainsSql(e)
    case Ast.IfStmt(c, t, e) => exprContainsSql(c) ||
      t.exists(stmtContainsSql) || e.exists(_.exists(stmtContainsSql))
    case Ast.WhileStmt(c, b) => exprContainsSql(c) || b.exists(stmtContainsSql)
    case Ast.ForStmt(_, it, b) => exprContainsSql(it) || b.exists(stmtContainsSql)
    case _ => false
  }

  private def parseStmt(): Stmt = {
    if (atConstTable) {
      advance(); advance() // 'const' 'table'
      val name = advance() match {
        case TIdent(v, _) => v
        case t => throw ParseError("expected table name", t.pos)
      }
      expectOp("=")
      ConstTableDef(name, parseExpr())
    } else if (atStructDef) {
      advance() // 'struct'
      val name = advance() match {
        case TIdent(v, _) => v
        case t => throw ParseError("expected struct name", t.pos)
      }
      expectOp("{")
      val fields = Seq.newBuilder[ColDef]
      while (!isOp("}")) {
        val fname = advance() match {
          case TIdent(v, _) => v
          case t => throw ParseError("expected field name", t.pos)
        }
        expectOp(":")
        val ftype = advance() match {
          case TIdent(v, _) => v
          case t => throw ParseError("expected field type", t.pos)
        }
        val optional = if (isOp("?")) { advance(); true } else false
        fields += ColDef(fname, ftype, optional)
        if (isOp(",")) advance()
      }
      expectOp("}")
      StructDef(name, fields.result())
    } else if (atTableDef) {
      val bare = isIdent("bare")
      if (bare) advance()
      advance() // 'table'
      val name = advance() match {
        case TIdent(v, _) => v
        case t => throw ParseError("expected table name", t.pos)
      }
      if (isOp("=")) { // `table x = expr` — CTAS-style assignment
        advance()
        TableAssign(name, parseExpr())
      } else {
        expectOp("{")
        val fields = Seq.newBuilder[ColDef]
        val methods = Seq.newBuilder[FuncDef]
        var ellipsis = false
        while (!isOp("}")) {
          if (isOp("...")) {
            // `table tracks { AlbumId: albums.AlbumId, ... }` — pull
            // the REMAINING columns from the existing table of this
            // name (reference evaluate.py:214-247; examples/chinook.pql)
            advance(); ellipsis = true
            if (isOp(",")) advance()
          } else
          // table METHODS (reference preql.lark:38 _table_contents =
          // table_cols func_defs; test_basic.py:701-729): `func` here
          // starts a method unless it's a column named func (func:)
          if (isIdent("func") &&
              toks.lift(p + 1).exists(_.isInstanceOf[TIdent])) {
            parseFuncLike() match {
              case fd: FuncDef => methods += fd
              case _ => throw ParseError(
                "table methods need an expression body", cur.pos)
            }
          } else {
            val fname = advance() match {
              case TIdent(v, _) => v
              case t => throw ParseError("expected column name", t.pos)
            }
            expectOp(":")
            val ftype0 = advance() match {
              case TIdent(v, _) => v
              case t => throw ParseError("expected column type", t.pos)
            }
            // `x_axis: Point.x` — FK to a specific COLUMN of another
            // table (reference evaluate.py:63-87, test_basic.py:189)
            val ftype =
              if (isOp(".")) {
                advance()
                advance() match {
                  case TIdent(c, _) => s"$ftype0.$c"
                  case t => throw ParseError("expected column name", t.pos)
                }
              } else ftype0
            val optional = if (isOp("?")) { advance(); true } else false
            val backref =
              if (isOp("->")) {
                advance()
                Some(advance() match {
                  case TIdent(v, _) => v
                  case t => throw ParseError("expected backref name", t.pos)
                })
              } else None
            val default =
              if (isOp("=")) { advance(); Some(parseExpr()) } else None
            fields += ColDef(fname, ftype, optional, backref, default)
          }
          if (isOp(",")) advance()
        }
        expectOp("}")
        TableDef(name, fields.result(), bare, methods.result(), ellipsis)
      }
    } else if (isIdent("new")) {
      advance()
      val name = advance() match {
        case TIdent(v, _) => v
        case t => throw ParseError("expected table name after 'new'", t.pos)
      }
      expectOp("(")
      val args = Seq.newBuilder[Arg]
      var firstA = true
      while (!isOp(")")) {
        if (!firstA) expectOp(",")
        firstA = false
        (cur, toks.lift(p + 1)) match {
          case (TIdent(n2, _), Some(TOp(":", _))) =>
            advance(); advance()
            args += Arg(Some(n2), parseExpr())
          case _ => args += Arg(None, parseExpr())
        }
      }
      expectOp(")")
      NewRow(name, args.result())
    } else if (atInsert) {
      val name = advance().asInstanceOf[TIdent].v
      expectOp("+=")
      InsertRows(name, parseExpr())
    } else if (isIdent("func")) {
      parseFuncLike()
    } else if (isIdent("if")) {
      advance(); expectOp("(")
      val cond = parseExpr()
      expectOp(")")
      val thenB = parseBlock()
      val elseB =
        if (isIdent("else")) {
          advance()
          if (isIdent("if")) Some(Seq(parseStmt())) // else-if chain
          else Some(parseBlock())
        } else None
      IfStmt(cond, thenB, elseB)
    } else if (isIdent("while")) {
      advance(); expectOp("(")
      val cond = parseExpr()
      expectOp(")")
      WhileStmt(cond, parseBlock())
    } else if (isIdent("for")) {
      advance(); expectOp("(")
      val v = advance() match {
        case TIdent(n, _) => n
        case t => throw ParseError("expected loop variable", t.pos)
      }
      if (!isIdent("in")) throw ParseError("expected 'in'", cur.pos)
      advance()
      val iter = parseExpr()
      expectOp(")")
      ForStmt(v, iter, parseBlock())
    } else if (isIdent("print")) {
      advance(); PrintStmt(parseExpr())
    } else if (isIdent("return")) {
      advance(); ReturnStmt(parseExpr())
    } else if (isIdent("try")) {
      advance()
      val body = parseBlock()
      if (!isIdent("catch")) throw ParseError("expected 'catch'", cur.pos)
      advance(); expectOp("(")
      // `catch (e: TypeName)` or `catch (TypeName)`
      val (cv, ct) = (cur, toks.lift(p + 1)) match {
        case (TIdent(v, _), Some(TOp(":", _))) =>
          advance(); advance()
          (Some(v), advance() match {
            case TIdent(t2, _) => t2
            case t => throw ParseError("expected error type", t.pos)
          })
        case (TIdent(t2, _), _) => advance(); (None, t2)
        case (t, _) => throw ParseError("expected error type", t.pos)
      }
      expectOp(")")
      TryStmt(body, cv, ct, parseBlock())
    } else if (isIdent("throw")) {
      advance()
      if (!isIdent("new")) throw ParseError("expected 'new' after throw", cur.pos)
      advance()
      val tn = advance() match {
        case TIdent(v, _) => v
        case t => throw ParseError("expected error type", t.pos)
      }
      expectOp("(")
      val msg = if (isOp(")")) StrLit("") else parseExpr()
      expectOp(")")
      ThrowStmt(tn, msg)
    } else if (isIdent("transaction")) {
      advance(); TransactionStmt(parseBlock())
    } else if (isIdent("assert")) {
      advance(); AssertStmt(parseExpr())
    } else if (isIdent("import") &&
        toks.lift(p + 1).exists(_.isInstanceOf[TIdent])) {
      advance()
      ImportStmt(advance().asInstanceOf[TIdent].v)
    } else if (atAssign) {
      val name = advance().asInstanceOf[TIdent].v
      expectOp("=")
      Assign(name, parseExpr())
    } else ExprStmt(parseExpr()) // bare expression statement
  }

  /** Translate a func codeblock to a single expression: `return e` ends
    * a path, `if/else` becomes `iif`, local `x = v` assignments are
    * substituted forward. This keeps codeblock funcs vectorizable —
    * `func fizz(i) { if (i%3==0) { return "Fizz" } else { return "" } }`
    * inlines into a projection as a CASE expression.
    */
  private def blockToExpr(stmts: Seq[Stmt]): Expr = stmts match {
    // a leading docstring is documentation, not computation
    // (reference: every stdlib func carries one — graph.pql)
    case ExprStmt(StrLit(_)) +: rest if rest.nonEmpty => blockToExpr(rest)
    case Seq(ReturnStmt(e)) => e
    case Seq(IfStmt(c, t, Some(e))) =>
      Call("iif", Seq(Arg(None, c), Arg(None, blockToExpr(t)),
        Arg(None, blockToExpr(e))))
    case (h: IfStmt) +: rest if rest.nonEmpty && h.elseB.isEmpty =>
      Call("iif", Seq(Arg(None, h.cond), Arg(None, blockToExpr(h.thenB)),
        Arg(None, blockToExpr(rest))))
    case Assign(n, v) +: rest if rest.nonEmpty =>
      rewrite(blockToExpr(rest)) { case Ident(`n`) => v }
    case other => throw ParseError(
      s"func codeblock must reduce to an expression " +
        s"(assignments, if/else, return), got: $other", 0)
  }

  // ---- program: statements then a final expression ------------------------
  def parseProgram(): Program = {
    val stmts = Seq.newBuilder[Stmt]
    var result: Option[Expr] = None
    while (!cur.isInstanceOf[TEof]) {
      if (atStmt) stmts += parseStmt()
      else {
        val e = parseExpr()
        if (cur.isInstanceOf[TEof]) result = Some(e)
        else stmts += ExprStmt(e) // mid-program bare expression
      }
    }
    val ss = stmts.result()
    // a program may END on a statement (`assert 0`, `return 1`,
    // `print x` — reference: any statement list is a program); the
    // result is then null, and statement-raised signals surface first
    Program(ss, result.getOrElse(
      if (ss.nonEmpty) NullLit else throw ParseError("empty program", 0)))
  }

  def parseSingle(): Expr = {
    val e = parseExpr()
    if (!cur.isInstanceOf[TEof]) throw ParseError("trailing input", cur.pos)
    e
  }

  /** A module file: statements only, no trailing result expression
    * required (reference include/import, evaluate.py:373-423).
    */
  def parseModule(): Seq[Stmt] = {
    val stmts = Seq.newBuilder[Stmt]
    while (!cur.isInstanceOf[TEof]) {
      if (atStmt) stmts += parseStmt()
      else stmts += ExprStmt(parseExpr())
    }
    stmts.result()
  }

  // ---- expression ladder --------------------------------------------------
  def parseExpr(): Expr = parseOr()

  private def parseOr(): Expr = {
    var l = parseAnd()
    while (isIdent("or")) { advance(); l = BinOp("or", l, parseAnd()) }
    l
  }
  private def parseAnd(): Expr = {
    var l = parseNot()
    while (isIdent("and")) { advance(); l = BinOp("and", l, parseNot()) }
    l
  }
  private def parseNot(): Expr =
    if (isIdent("not")) { advance(); Unary("not", parseNot()) }
    else parseCompare()

  private val compareOps = Set("==", "!=", "<>", "<", "<=", ">", ">=", "!in")
  private def parseCompare(): Expr = {
    var l = parseLike()
    var done = false
    while (!done) {
      cur match {
        case TOp(o, _) if compareOps(o) =>
          advance(); l = BinOp(o, l, parseLike())
        case TIdent("in", _) =>
          advance(); l = BinOp("in", l, parseLike())
        case _ => done = true
      }
    }
    l
  }
  private def parseLike(): Expr = {
    var l = parseAdd()
    while (isOp("~") || isIdent("like")) { advance(); l = BinOp("~", l, parseAdd()) }
    l
  }
  private def parseAdd(): Expr = {
    var l = parseMul()
    var done = false
    while (!done) cur match {
      case TOp(o, _) if o == "+" || o == "-" || o == "&" || o == "|" =>
        advance(); l = BinOp(o, l, parseMul())
      case _ => done = true
    }
    l
  }
  private def parseMul(): Expr = {
    var l = parsePower()
    var done = false
    while (!done) cur match {
      case TOp(o, _) if o == "*" || o == "/" || o == "%" || o == "/~" =>
        advance(); l = BinOp(o, l, parsePower())
      case _ => done = true
    }
    l
  }
  private def parsePower(): Expr = {
    val base = parseUnary()
    if (isOp("**")) { advance(); BinOp("**", base, parseUnary()) } else base
  }
  private def parseUnary(): Expr =
    if (isOp("-")) { advance(); Unary("-", parseUnary()) }
    else if (isOp("+")) { advance(); parseUnary() }
    else if (isIdent("one") && oneOperandFollows) {
      advance()
      val opt = isOp("?")
      if (opt) advance()
      OneE(parseUnary(), opt)
    } else parsePostfix()

  /** `one` is only the prefix operator when an operand follows —
    * `{one}` / `{x: one}` keep treating it as a plain identifier.
    */
  private def oneOperandFollows: Boolean = toks.lift(p + 1) match {
    case Some(TOp("?", _)) => true
    case Some(_: TIdent) | Some(_: TInt) | Some(_: TFloat) |
         Some(_: TStr) => true
    case Some(TOp("[", _)) | Some(TOp("(", _)) => true
    case _ => false
  }

  /** Call argument list after the opening `(`: positional, `name:`
    * named, and `...dict` spread forms.
    */
  private def parseCallArgs(): Seq[Arg] = {
    expectOp("(")
    val args = Seq.newBuilder[Arg]
    var first = true
    while (!isOp(")")) {
      if (!first) expectOp(",")
      first = false
      (cur, toks.lift(p + 1)) match {
        case (TIdent(n2, _), Some(TOp(":", _))) =>
          advance(); advance()
          args += Arg(Some(n2), parseExpr())
        case (TOp("...", _), _) =>
          // `f(...d)`: spread a dict value as named args
          advance()
          args += Arg(None, Spread(parseExpr()))
        case _ => args += Arg(None, parseExpr())
      }
    }
    expectOp(")")
    args.result()
  }

  // ---- molecule with postfix table operators ------------------------------
  private def parsePostfix(): Expr = {
    var e = parseAtom()
    var done = false
    while (!done) {
      if (isOp(".")) {
        advance()
        val name = advance() match {
          case TIdent(v, _) => v
          case t => throw ParseError("expected attribute name", t.pos)
        }
        e = Attr(e, name)
        // qualified call `module.func(args)` (reference Module getattr,
        // pql_objects.py:49-67): the dotted name becomes the callee
        if (isOp("(") && sameLineAsPrev) {
          e match {
            case Attr(Ident(q), f) => e = Call(s"$q.$f", parseCallArgs())
            // method call on a table EXPRESSION — `Node[..].children()`
            // (reference test_basic.py:744); resolved against the
            // expression's root table by the interpreter
            case Attr(obj, f) => e = Apply(Attr(obj, f), parseCallArgs())
            case _ => throw ParseError(
              s"cannot call attribute '$name' of a non-name expression",
              cur.pos)
          }
        }
      } else if (isOp("(") && sameLineAsPrev &&
          (e.isInstanceOf[Call] || e.isInstanceOf[Apply])) {
        // higher-order application: `q2()()` calls the function that
        // q2() returned (reference _test_user_functions)
        e = Apply(e, parseCallArgs())
      } else if (isOp("[") && sameLineAsPrev) {
        e = parseBracketPostfix(e)
        // parameterized cast call `list[float](expr)` (reference
        // casts.py list[T]): the bracketed type + call collapse into a
        // single callee name, matched by the interpreter's tableCall
        if (isOp("(") && sameLineAsPrev) e match {
          case Selection(Ident("list"), Seq(Ident(tn))) =>
            e = Call(s"list[$tn]", parseCallArgs())
          case _ => ()
        }
      } else if (isOp("{") && sameLineAsPrev) {
        e = parseProjection(e)
      } else if (isIdent("order")) {
        advance(); expectOp("{")
        val keys = Seq.newBuilder[(Expr, Boolean)]
        var first = true
        while (!isOp("}")) {
          if (!first) expectOp(",")
          first = false
          if (isOp("^")) { advance(); keys += ((parseExpr(), false)) }
          else keys += ((parseExpr(), true))
        }
        expectOp("}")
        e = Order(e, keys.result())
      } else if (isIdent("update")) {
        advance(); expectOp("{")
        val fields = parseFields(stopAt = Set("}"))
        expectOp("}")
        e = Update(e, fields)
      } else if (isIdent("delete")) {
        advance(); expectOp("[")
        val conds = Seq.newBuilder[Expr]
        var first = true
        while (!isOp("]")) {
          if (!first) expectOp(",")
          first = false
          conds += parseExpr()
        }
        expectOp("]")
        e = Delete(e, conds.result())
      } else done = true
    }
    e
  }

  /** `t[...]` — slice if it contains `..`, else selection conditions. */
  private def parseBracketPostfix(t: Expr): Expr = {
    expectOp("[")
    if (isOp("..")) { // t[..n]
      advance()
      val until = parseExpr()
      expectOp("]")
      Slice(t, None, Some(until))
    } else {
      val first = parseExpr()
      if (isOp("..")) {
        advance()
        val until = if (isOp("]")) None else Some(parseExpr())
        expectOp("]")
        Slice(t, Some(first), until)
      } else {
        val conds = Seq.newBuilder[Expr]
        conds += first
        while (isOp(",")) { advance(); conds += parseExpr() }
        expectOp("]")
        Selection(t, conds.result())
      }
    }
  }

  private def parseFields(stopAt: Set[String]): Seq[Field] = {
    val fields = Seq.newBuilder[Field]
    var first = true
    while (!stopAt.exists(isOp)) {
      // fields separate by `,` or just a newline (the reference
      // grammar's proj_exprs allows _NL separation —
      // examples/matrices.pql lays one field per line); a missing
      // comma on the SAME line is still a syntax error
      if (!first) {
        if (isOp(",")) advance()
        else if (sameLineAsPrev)
          throw ParseError("expected ','", cur.pos)
      }
      first = false
      // named field: IDENT ':' expr ; ellipsis: '...' ('!' IDENT)*
      if (isOp("...")) {
        advance()
        // `{...s}` inlines struct column s (reference _expand_ellipsis
        // from_struct); bare `...` expands the remaining columns
        val from = cur match {
          case TIdent(v, _) => advance(); Some(v)
          case _ => None
        }
        val ex = Seq.newBuilder[String]
        while (isOp("!")) {
          advance()
          ex += (advance() match {
            case TIdent(v, _) => v
            case t => throw ParseError("expected column name after '!'", t.pos)
          })
        }
        fields += Field(None, EllipsisE(ex.result(), from))
      } else (cur, toks.lift(p + 1)) match {
        case (TIdent(name, _), Some(TOp(":", _))) =>
          advance(); advance()
          fields += Field(Some(name), parseExpr())
        case _ =>
          fields += Field(None, parseExpr())
      }
    }
    fields.result()
  }

  private def parseProjection(t: Expr): Expr = {
    expectOp("{")
    if (isOp("=>")) { // {=> aggs}
      advance()
      val aggs = parseFields(stopAt = Set("}"))
      expectOp("}")
      Projection(t, Seq.empty, grouped = true, aggs)
    } else {
      val fields = parseFields(stopAt = Set("}", "=>"))
      if (isOp("=>")) {
        advance()
        val aggs = parseFields(stopAt = Set("}"))
        expectOp("}")
        Projection(t, fields, grouped = true, aggs)
      } else {
        expectOp("}")
        Projection(t, fields, grouped = false, Seq.empty)
      }
    }
  }

  private def parseAtom(): Expr = advance() match {
    case TInt(v, _) => IntLit(v)
    case TFloat(v, _) => FloatLit(v)
    case TStr(v, _) => StrLit(v)
    case TIdent("true", _) => BoolLit(true)
    case TIdent("false", _) => BoolLit(false)
    case TIdent("null", _) => NullLit
    case TIdent(name, _) =>
      if (name == "new" && cur.isInstanceOf[TIdent]) {
        // `new Table(args)` in expression position (test_basic.py:656)
        val tname = advance().asInstanceOf[TIdent].v
        NewE(tname, parseCallArgs())
      } else if (isOp("(") && sameLineAsPrev) Call(name, parseCallArgs())
      else Ident(name)
    case TOp("(", _) =>
      val e = parseExpr()
      expectOp(")")
      e
    case TOp("{", _) =>
      // anonymous struct literal `{a: x, b}` in value position
      // (test_basic.py test_nested2); a projection `{...}` never
      // starts an expression — it always chains off a table
      val fields = parseFields(stopAt = Set("}"))
      expectOp("}")
      StructLit(fields)
    case TOp("[", _) =>
      if (isOp("..")) { // [..n] range from 0
        advance()
        val until = parseExpr()
        expectOp("]")
        RangeLit(None, Some(until))
      } else if (isOp("]")) { advance(); ListLit(Seq.empty) }
      else {
        val first = parseExpr()
        if (isOp("..")) {
          advance()
          val until = if (isOp("]")) None else Some(parseExpr())
          expectOp("]")
          RangeLit(Some(first), until)
        } else {
          val items = Seq.newBuilder[Expr]
          items += first
          // items separate by `,` or just a newline: dict rows
          // (test_basic.py:1501-1507) and matrix rows
          // (examples/matrices.pql `[-1, 0, 6\n 2, 5, 1]`) both lay
          // items out line by line without trailing commas
          while (!isOp("]")) {
            if (isOp(",")) advance()
            else if (sameLineAsPrev)
              throw ParseError("expected ',' or ']'", cur.pos)
            items += parseExpr()
          }
          expectOp("]")
          ListLit(items.result())
        }
      }
    case t => throw ParseError(s"unexpected token $t", t.pos)
  }
}

object Parser {
  def parse(src: String): Ast.Program =
    new Parser(Lexer.lex(src), src).parseProgram()
  def parseExpr(src: String): Ast.Expr =
    new Parser(Lexer.lex(src), src).parseSingle()
  def parseModule(src: String): Seq[Ast.Stmt] =
    new Parser(Lexer.lex(src), src).parseModule()

  /** Classify a unit: true when it consists of statements only (so a
    * driver should exec it), false when it ends in an expression to
    * evaluate/preview. Shared by the REPL loop and the in-language
    * debugger.
    */
  def isStatement(unit: String): Boolean = {
    try {
      val prog = parse(unit + "\n0") // dummy result
      prog.stmts.nonEmpty &&
        prog.stmts.forall {
          case _: Ast.ExprStmt => false // bare expression: evaluate it
          case _ => true
        } && (prog.result match {
          case Ast.IntLit(0) => true
          case _ => false
        })
    } catch { case _: Throwable => false }
  }
}
