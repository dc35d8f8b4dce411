package graft.tools

import scala.io.StdIn
import graft.dsl.PTable
import graft.lang.{Ast, Interp, Parser}
import graft.sources.Tables

/** Interactive REPL over the language front-end — the engine's
  * analogue of the reference's `preql` shell (reference: preql/repl.py;
  * multi-line blocks and completion hints from
  * preql/core/autocomplete.py).
  *
  * Usage: graft.tools.Repl [testdataDir]
  *  - all testdata tables are pre-loaded under their names;
  *  - assignments, `func`/`table` definitions persist across units;
  *  - an input unit continues across lines until every bracket closes
  *    (so multi-line `func f(x) { ... }` bodies work, like the
  *    reference's prompt-toolkit multiline mode);
  *  - results print as an implicit `[..N]` preview plus the total row
  *    count (reference core/display.py clips table output the same
  *    way);
  *  - meta commands: `:tables`, `:schema t`, `:explain expr`,
  *    `:rows n`, `:complete text` (name completion at the cursor —
  *    the reference's autocomplete surface), `:quit`.
  */
object Repl {

  /** Bracket balance outside string literals: positive depth means the
    * unit is incomplete and the REPL keeps reading lines.
    */
  private[graft] def openDepth(s: String): Int = {
    var depth = 0
    var i = 0
    var quote: Char = 0
    var triple = false
    while (i < s.length) {
      val c = s(i)
      if (triple) {
        if (s.startsWith("\"\"\"", i)) { triple = false; i += 2 }
      } else if (quote != 0) {
        if (c == quote) quote = 0
        else if (c == '\\') i += 1
      } else c match {
        case '"' if s.startsWith("\"\"\"", i) => triple = true; i += 2
        case '"' | '\'' => quote = c
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case '/' if i + 1 < s.length && s(i + 1) == '/' => i = s.length
        case '#' => i = s.length
        case _ =>
      }
      i += 1
    }
    // an open triple-quoted docstring (or single-quoted string spilling
    // over the line) keeps the unit incomplete
    depth + (if (triple) 1 else 0)
  }

  /** A unit is a persistent statement if it parses as DEFINITION
    * statements only (assignments, funcs, DDL, imports — not bare
    * expressions) and leaves no final expression.
    */
  private[graft] def isStatement(unit: String): Boolean =
    Parser.isStatement(unit)

  /** Function names the completer offers alongside tables/columns —
    * the §2 builtin surface (reference autocomplete offers ALL names
    * in the interpreter namespace, core/autocomplete.py).
    */
  private[graft] val builtinFns: Seq[String] = Seq(
    "count", "sum", "min", "max", "mean", "avg", "stddev", "median",
    "first", "first_or_null", "product", "count_distinct", "count_true",
    "count_false", "distinct", "limit", "enum", "list", "join",
    "leftjoin", "outerjoin", "joinall", "zipjoin", "zipjoin_left",
    "zipjoin_longest", "temptable", "sample_fast", "sample_ratio_fast",
    "page", "tables", "names", "columns", "env_vars", "bfs", "walk_tree",
    "page_rank", "triangles", "pivot", "unpivot", "resample_fill",
    "fuzzy_pairs",
    "components", "corr_matrix", "histogram", "rolling_mean",
    "cap_per_group", "profile", "anomalies", "top_per_group",
    "asof_join", "range_join", "sssp",
    "funnel", "retention", "diff_tables", "event_paths", "sessionize",
    "linfit", "transitions",
    "compact_table", "write_zordered", "write_keyed", "read_keyed",
    "upsert_keyed", "delete_keyed", "vacuum_keyed", "read_keyed_at", "table_stats",
    "keyed_stats", "phrase_search", "near_search", "keyed_changes",
    "append_delta_keyed", "compact_keyed", "build_agg_state",
    "merge_agg_state", "finalize_agg",
    "build_search_index", "append_search_index", "search_idx", "phrase_search_idx",
    "near_search_idx",
    "import_orc",
    "SQL", "upper", "lower", "length", "round", "repeat", "char",
    "char_ord", "char_range", "str_index", "str_contains", "year",
    "month", "day", "hour", "minute", "day_of_week", "week_of_year",
    "iif", "pi", "now", "random", "int", "float", "string", "bool",
    "type", "isa", "repr", "fmt", "is_empty", "one", "print",
    "connect", "commit", "add_index", "debug", "_breakpoint",
    "import_jdbc",
    // engine extensions: pipeline scalars + table operators
    "token_count", "subword_count", "lang_id", "quality_score",
    "garbage_ratio", "fingerprint", "redact_pii", "pii_count",
    "dedup_exact", "near_dup_pairs", "ann_topk",
    "train_split", "chunk_docs", "pack_sequences",
    "repetition_signals", "decontaminate", "weighted_sample",
    "line_dedup", "mix_corpus", "semantic_dedup", "shard_assign",
    "repeated_spans", "remove_repeated_spans", "contamination_score",
    "span_dup_frac", "decontaminate_bloom", "lm_score",
    "bm25_search", "top_terms", "top_tokens", "freq_tokens",
    "normalize_text", "fold_accents", "url_domains", "strip_html",
    "type_token_ratio", "stopword_frac", "alpha_word_frac",
    "script_frac", "dominant_script")

  /** The position of the innermost still-open `{` or `[` (outside
    * strings/comments), or -1 — its base expression scopes completion
    * (reference autocomplete: `[1]{` offers `item`).
    */
  private def lastOpenBracket(s: String): Int = {
    var stack = List.empty[(Char, Int)]
    var i = 0
    var quote: Char = 0
    while (i < s.length) {
      val c = s(i)
      if (quote != 0) {
        if (c == quote) quote = 0
        else if (c == '\\') i += 1
      } else c match {
        case '"' | '\'' => quote = c
        case '{' | '[' | '(' => stack = (c, i) :: stack
        case '}' | ']' | ')' => if (stack.nonEmpty) stack = stack.tail
        case '/' if i + 1 < s.length && s(i + 1) == '/' =>
          while (i < s.length && s(i) != '\n') i += 1
        case '#' => while (i < s.length && s(i) != '\n') i += 1
        case _ =>
      }
      i += 1
    }
    stack.collectFirst { case (c, p) if c == '{' || c == '[' => p }
      .getOrElse(-1)
  }

  /** Columns of the table expression ENDING at position `at` —
    * best-effort static resolution: a named table's columns, or
    * `item` for list/range literals and `.item` projections.
    */
  private def baseColumns(s: String, at: Int,
                          cols: String => Option[Seq[String]]): Seq[String] = {
    // postfix keywords between a base table and its open bracket
    // (`x order {`, `t update {`) — skip back over them to the base
    val kw = Set("order", "update", "delete", "new", "by", "asc", "desc",
      "and", "or", "not", "in")
    // Walk LEFT over trailing balanced {..}/[..] groups (chained
    // projections/selections: `x{... !a}{` completes over x —
    // reference test_exclude_columns) until an ident resolves; a pure
    // bracket literal with no base (`[1,2]{`) scopes to `item`.
    def resolve(str0: String, sawList: Boolean): Seq[String] = {
      val str = str0.trim
      if (str.isEmpty) { if (sawList) Seq("item") else Seq.empty }
      else if (str.last == '}' || str.last == ']') {
        val close = str.last
        val open = if (close == '}') '{' else '['
        var depth = 0; var i = str.length - 1; var cut = -1
        while (i >= 0 && cut < 0) {
          if (str(i) == close) depth += 1
          else if (str(i) == open) { depth -= 1; if (depth == 0) cut = i }
          i -= 1
        }
        if (cut < 0) { if (sawList) Seq("item") else Seq.empty }
        else resolve(str.substring(0, cut), sawList || close == ']')
      } else "([A-Za-z_][A-Za-z0-9_]*)$".r.findFirstMatchIn(str) match {
        case Some(m) if kw(m.group(1)) =>
          resolve(str.dropRight(m.group(1).length), sawList)
        case Some(m) =>
          cols(m.group(1)).getOrElse(if (sawList) Seq("item") else Seq.empty)
        case None => if (sawList) Seq("item") else Seq.empty
      }
    }
    resolve(s.substring(0, at), false)
  }

  /** Columns statically known for a name WITHOUT running anything: a
    * closed DDL body declared in the text (auto-id unless `bare` —
    * reference test_expr completes `x{three}` right after `table x
    * {..}`), or `item` for a list/range-literal binding (test_range's
    * `x=[1,2,3]` → `x order {item}`).
    */
  private def declaredColumns(units: Seq[String]): Map[String, Seq[String]] = {
    val listBind = "(\\w+)\\s*=\\s*\\[".r
    val listCols = units.flatMap(u =>
      listBind.findAllMatchIn(u).map(_.group(1) -> Seq("item"))).toMap
    val ddl = "(?s)(bare\\s+)?table\\s+(\\w+)\\s*\\{([^{}]*)\\}".r
    val ddlCols = units.flatMap { u =>
      ddl.findAllMatchIn(u).map { m =>
        val cs = "(\\w+)\\s*:".r.findAllMatchIn(m.group(3)).map(_.group(1)).toSeq
        m.group(2) -> (if (m.group(1) == null) "id" +: cs else cs)
      }
    }.toMap
    listCols ++ ddlCols
  }

  /** alias → columns for aliases declared in a join-family CALL in the
    * text, open or closed (reference test_attr: `join(c: Country.name,
    * n: [..].item) {n.<item> => c.<name>}` completes through the
    * call's own aliases, not just join-assigned variables).
    */
  private def inlineJoinAliases(units: Seq[String],
                                cols: String => Option[Seq[String]]): Map[String, Seq[String]] = {
    val call = "(?:left|outer)?join(?:all)?\\s*\\(".r
    units.flatMap { u =>
      call.findAllMatchIn(u).flatMap { m =>
        var depth = 1; var i = m.end
        while (i < u.length && depth > 0) {
          u(i) match { case '(' => depth += 1; case ')' => depth -= 1; case _ => }
          i += 1
        }
        val span = u.substring(m.end, i) // balanced close, or end while typing
        "(\\w+)\\s*:\\s*([A-Za-z_][A-Za-z0-9_]*|\\[)".r.findAllMatchIn(span).map { am =>
          am.group(1) -> (if (am.group(2) == "[") Seq("item")
                          else cols(am.group(2)).getOrElse(Seq.empty))
        }
      }
    }.toMap
  }

  /** Parameters of every `func`/`catch` whose body brace is still OPEN
    * at the cursor — the progressive tier (reference
    * tests/test_autocomplete.py progressive1-3, test_params):
    * completion works mid-definition, inside unbalanced brackets and
    * partial expressions, offering the enclosing scope's params and
    * bindings.
    */
  private def openScopeParams(text: String): Seq[String] = {
    val header = "(?:func\\s+\\w+\\s*\\(([^)]*)\\)|catch\\s*\\(\\s*(\\w+)[^)]*\\))\\s*(=|\\{)?".r
    header.findAllMatchIn(text).flatMap { m =>
      val params = Option(m.group(1))
        .map(_.split(",").map(_.trim.stripPrefix("...").takeWhile(c =>
          c.isLetterOrDigit || c == '_')).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq(m.group(2)))
      m.group(3) match {
        case "=" => params // one-liner body: rest of the line is in scope
        case "{" =>
          // body brace still open at the cursor → params in scope
          val after = text.substring(m.end)
          var depth = 1
          var i = 0
          while (i < after.length && depth > 0) {
            after(i) match {
              case '{' => depth += 1
              case '}' => depth -= 1
              case _ =>
            }
            i += 1
          }
          if (depth > 0) params else Seq.empty
        case _ => Seq.empty
      }
    }.toSeq
  }

  /** Alias names of a user variable assigned from a join-family call
    * (`m = leftjoin(l: a, u: b)` → its "columns" are the aliases l, u
    * — reference progressive2 completes them inside selections over
    * the joined table).
    */
  private def joinAliases(name: String, units: Seq[String]): Seq[String] = {
    val assign = (name + "\\s*=\\s*(?:left|outer)?join(?:all)?\\s*\\(([^)]*)\\)").r
    units.reverseIterator
      .flatMap(u => assign.findAllMatchIn(u).toSeq.lastOption)
      .nextOption()
      .map(m => "(\\w+)\\s*:".r.findAllMatchIn(m.group(1))
        .map(_.group(1)).toSeq)
      .getOrElse(Seq.empty)
  }

  /** Completion candidates at the END of `text` (the REPL's cursor) —
    * the reference's autocomplete surface (core/autocomplete.py):
    * `table.<prefix>` completes that table's columns; inside an open
    * `{`/`[` the BASE table's columns join the pool (`[1]{` offers
    * `item`, `nation{n_` its columns, a join-assigned var its
    * aliases); a bare prefix completes tables, user definitions from
    * the prelude AND the current (possibly partial) text, enclosing
    * func params, and builtin functions. Sorted, distinct.
    */
  private[graft] def complete(text: String, env: Map[String, PTable],
                              prelude: Seq[String] = Nil): Seq[String] = {
    val units = prelude :+ text
    val userNames = units.flatMap { u =>
      "(?m)^\\s*(?:(?:const\\s+)?table\\s+(\\w+)|func\\s+(\\w+)|(\\w+)\\s*=[^=])".r
        .findAllMatchIn(u)
        .flatMap(m => Option(m.group(1)).orElse(Option(m.group(2)))
          .orElse(Option(m.group(3))))
    } ++ units.flatMap { u =>
      // local bindings inside (possibly unterminated) blocks
      "(?m)^\\s*(?:const\\s+table\\s+)?(\\w+)\\s*=[^=]".r
        .findAllMatchIn(u).map(_.group(1))
    }
    val declared = declaredColumns(units)
    // static name→columns resolution: loaded tables, closed DDL bodies,
    // list-literal bindings, then one level of plain alias (`c = Country`)
    def colsOf0(n: String): Option[Seq[String]] =
      env.get(n).map(_.columns.toSeq).orElse(declared.get(n))
    def colsOf(n: String): Option[Seq[String]] =
      colsOf0(n).orElse {
        units.reverseIterator.flatMap(u =>
          ("(?m)^\\s*" + n + "\\s*=\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*$").r
            .findAllMatchIn(u).toSeq.lastOption)
          .nextOption().flatMap(m => colsOf0(m.group(1)))
      }
    val dotted = "([A-Za-z_][A-Za-z0-9_]*)\\.([A-Za-z0-9_]*)$".r
    val bare = "([A-Za-z_][A-Za-z0-9_]*)$".r
    dotted.findFirstMatchIn(text) match {
      case Some(m) =>
        val (tbl, prefix) = (m.group(1), m.group(2))
        colsOf(tbl).map(_.filter(_.startsWith(prefix)).sorted)
          .orElse(inlineJoinAliases(units, colsOf).get(tbl)
            .map(_.filter(_.startsWith(prefix)).sorted).filter(_.nonEmpty))
          .orElse(Some(joinAliases(tbl, units)
            .filter(_.startsWith(prefix)).sorted)
            .filter(_.nonEmpty))
          .getOrElse(Seq.empty)
      case None if text.endsWith(".") =>
        Seq.empty // `{.` — nothing to anchor a member on (reference
                  // test_basic: autocomplete("a = [1,2,3]{.") == {})
      case None =>
        val prefix = bare.findFirstMatchIn(text).map(_.group(1)).getOrElse("")
        val inScope = lastOpenBracket(text) match {
          case -1 => Seq.empty
          case p =>
            val base = baseColumns(text, p, colsOf)
            if (base.nonEmpty) base
            else "([A-Za-z_][A-Za-z0-9_]*)\\s*$".r
              .findFirstMatchIn(text.substring(0, p))
              .map(m => joinAliases(m.group(1), units))
              .getOrElse(Seq.empty)
        }
        // loop variables of any `for (i in ...)` in scope complete in
        // the body (reference test_statements)
        val loopVars = units.flatMap(u =>
          "for\\s*\\(?\\s*(\\w+)\\s+in\\b".r.findAllMatchIn(u).map(_.group(1)))
        (inScope ++ env.keys.toSeq ++ userNames ++ loopVars ++
          openScopeParams(text) ++ builtinFns)
          .filter(_.startsWith(prefix)).distinct.sorted
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")

    val env: Map[String, PTable] = Tables.metas.keys.map { n =>
      n -> Tables.load(spark, dir, n)
    }.toMap
    var prelude: List[String] = Nil // accumulated assignments + funcs
    // :rows overrides; otherwise the Display setting applies LIVE, so
    // an in-language set_setting("TABLE_PREVIEW_SIZE_SHELL", n) takes
    // effect on the next print (reference Display semantics)
    var rowsOverride: Option[Int] = None
    def previewRows: Int =
      rowsOverride.getOrElse(graft.tools.Display.tablePreviewSizeShell)

    println(s"graft repl — tables: ${env.keys.toSeq.sorted.mkString(", ")}")
    println("multi-line blocks close on balanced brackets; " +
      ":tables :schema :explain :rows :complete :load :quit")
    // interactive line reader with TAB completion when a terminal is
    // available (jline ships with Spark); plain stdin otherwise —
    // completion logic stays in `complete` either way
    val readLine: String => Option[String] =
      try {
        val terminal = org.jline.terminal.TerminalBuilder.builder()
          .system(true).dumb(true).build()
        val completer = new org.jline.reader.Completer {
          override def complete(rd: org.jline.reader.LineReader,
                                line: org.jline.reader.ParsedLine,
                                cands: java.util.List[org.jline.reader.Candidate]): Unit = {
            val upToCursor = line.line().substring(0, line.cursor())
            val word = line.word()
            // a dotted word replaces only its trailing segment
            val keepPrefix = word.lastIndexOf('.') match {
              case -1 => ""
              case i => word.substring(0, i + 1)
            }
            Repl.complete(upToCursor, env, prelude).foreach { c =>
              cands.add(new org.jline.reader.Candidate(keepPrefix + c))
            }
          }
        }
        val reader = org.jline.reader.LineReaderBuilder.builder()
          .terminal(terminal).completer(completer).build()
        (prompt: String) =>
          try Some(reader.readLine(prompt))
          catch {
            case _: org.jline.reader.EndOfFileException => None
            case _: org.jline.reader.UserInterruptException => Some("")
          }
      } catch {
        case _: Throwable => (prompt: String) => {
          print(prompt); Console.flush()
          Option(StdIn.readLine())
        }
      }
    // ONE persistent interpreter session (the reference's Preql()
    // handle): statements execute exactly once, mutations persist,
    // and units never replay — O(unit) per input, not O(history).
    val sess = new Interp.Session(spark, env.toSeq: _*)
    var running = true
    while (running) {
      val unit = readUnit(readLine)
      unit match {
        case None => running = false
        case Some(u) if u.trim == ":quit" => running = false
        case Some(u) if u.linesIterator.forall { l =>
          val s = l.trim
          s.isEmpty || s.startsWith("#") || s.startsWith("//")
        } => () // comment-only unit
        case Some(u) if u.trim.startsWith(":load") =>
          try {
            prelude = loadScript(u.trim.split("\\s+", 2).lift(1).getOrElse(
              throw new graft.types.ValueError(":load needs a file path")),
              sess, prelude)
          } catch { case e: Throwable => println(s"error: ${e.getMessage}") }
        case Some(u) if u.trim.startsWith(":") =>
          try meta(u.trim, sess, env, prelude, previewRows)
            .foreach { case ("rows", n) => rowsOverride = Some(n) }
          catch { case e: Throwable => println(s"error: ${e.getMessage}") }
        case Some(u) =>
          try {
            if (isStatement(u)) {
              sess.exec(u)
              prelude = prelude :+ u // completion names only
              println("ok")
            } else {
              val t = sess.run(u)
              // implicit [..N] preview + true count, like the
              // reference's rich table display
              // capped count (reference display.py table_repr /
              // MAX_AUTO_COUNT): never full-scan a huge table just to
              // print its row count — LocalLimit stops each partition
              // early, so the probe reads at most the cap. The probe
              // always exceeds the preview size so the truncation
              // footer stays accurate even when the cap is tiny.
              val pr = previewRows
              val cap = math.max(graft.tools.Display.maxAutoCount, pr + 1)
              val total = t.df.limit(cap).count()
              // reference-style rendering (display.py _rich_table):
              // "table <name> =<count>" title + box grid, numbers
              // right-justified, nulls as '-', '...' truncation row
              val fields = t.df.schema.fields
              val cols = fields.map(f => f.name ->
                f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]).toSeq
              val cells = t.df.limit(pr).collect().toSeq.map(r =>
                cols.indices.map(i => Option(r.get(i)).map(String.valueOf(_))))
              val countStr = if (total >= cap) s">=$total" else s"=$total"
              println(graft.tools.Display.renderTable(
                t.meta.name, countStr, cols, cells, total > cells.length))
              // bare number in the English trailer ('=' belongs only
              // in the reference-style title)
              if (total > pr)
                println(s"[..$pr] of ${if (total >= cap) ">=" else ""}$total rows (:rows n to widen)")
            }
          } catch {
            // in-language `exit()` quits the shell (reference)
            case _: Interp.ExitInterp => running = false
            // a void procedure call (`main()`) has side effects only
            case e: graft.types.ValueError
              if e.getMessage != null &&
                 e.getMessage.endsWith("did not return a value") =>
              println("ok")
            case e: Throwable => println(s"error: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }

  /** `:load file.pql` — run a script file ONCE through the session
    * (the reference's example .pql scripts run verbatim); its
    * definitions persist in the session, and its text joins the
    * completion prelude. Returns the grown prelude.
    */
  private[graft] def loadScript(path: String, sess: Interp.Session,
                                prelude: List[String]): List[String] = {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    sess.exec(src)
    println(s"loaded $path")
    prelude :+ src
  }

  /** Read one input unit, continuing across lines until brackets
    * balance. Returns None on EOF.
    */
  private def readUnit(readLine: String => Option[String]): Option[String] = {
    val first = readLine("graft> ").getOrElse(return None)
    val buf = new StringBuilder(first)
    while (openDepth(buf.toString) > 0 ||
           buf.toString.trim.endsWith("\\")) {
      readLine("....>  ") match {
        case None => return Some(buf.toString)
        case Some(more) => buf.append('\n').append(more)
      }
    }
    Some(buf.toString)
  }

  private def meta(cmd: String, sess: Interp.Session,
                   env: Map[String, PTable], prelude: List[String],
                   previewRows: Int): Option[(String, Int)] = {
    val parts = cmd.split("\\s+", 2)
    parts(0) match {
      case ":tables" =>
        env.toSeq.sortBy(_._1).foreach { case (n, t) =>
          println(s"  $n(${t.columns.mkString(", ")})")
        }
        None
      case ":schema" =>
        val t = env.getOrElse(parts.lift(1).getOrElse(""),
          throw new graft.types.NameError(s"unknown table '${parts.lift(1).getOrElse("")}'"))
        t.df.printSchema()
        None
      case ":explain" =>
        val expr = parts.lift(1).getOrElse(
          throw new graft.types.ValueError(":explain needs an expression"))
        sess.run(expr).df.explain("formatted")
        None
      case ":rows" =>
        // bare ':rows' only REPORTS the current value — overriding
        // with it would silently detach the live
        // set_setting("TABLE_PREVIEW_SIZE_SHELL") linkage
        parts.lift(1).map(_.toInt) match {
          case Some(n) => println(s"preview rows: $n"); Some(("rows", n))
          case None => println(s"preview rows: $previewRows"); None
        }
      case ":complete" =>
        // completion at the cursor for terminals without readline —
        // `:complete nation.n_` lists matching columns
        val cands = complete(parts.lift(1).getOrElse(""), env, prelude)
        println(if (cands.isEmpty) "(no candidates)"
          else cands.mkString("  "))
        None
      case other =>
        println(s"unknown command $other — " +
          ":tables :schema <t> :explain <expr> :rows <n> :load <file> " +
          ":complete <text> :quit")
        None
    }
  }
}
