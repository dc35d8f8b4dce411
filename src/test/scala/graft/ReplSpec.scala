package graft

import graft.tools.Repl

class ReplSpec extends SparkSpec {

  test("display: reference-style table rendering (golden)") {
    // display.py _rich_table parity: title "table <name> =<count>",
    // box grid, numeric right-justify, null as '-', '...' truncation
    val out = graft.tools.Display.renderTable("pt", "=3",
      Seq("id" -> true, "name" -> false),
      Seq(Seq(Some("1"), Some("ALGERIA")), Seq(Some("25"), None)),
      hasMore = true)
    assert(out ==
      """table pt =3
        |┌─────┬─────────┐
        |│  id │ name    │
        |├─────┼─────────┤
        |│   1 │ ALGERIA │
        |│  25 │ -       │
        |│ ... │ ...     │
        |└─────┴─────────┘""".stripMargin, s"got:\n$out")
    // empty result renders the bare title (reference no-rows branch)
    assert(graft.tools.Display.renderTable("e", "=0",
      Seq("x" -> true), Nil, hasMore = false) == "table e =0")
    // capped count renders the reference's >= marker
    assert(graft.tools.Display.renderTable("big", ">=10000",
      Seq("x" -> true), Seq(Seq(Some("7"))), hasMore = true)
      .startsWith("table big >=10000\n"))
  }

  test("openDepth: balanced detection across lines, strings, comments") {
    assert(Repl.openDepth("func f(x) {") == 1)
    assert(Repl.openDepth("func f(x) {\n  return x\n}") == 0)
    assert(Repl.openDepth("func f(x) = x * 2") == 0)
    assert(Repl.openDepth("""t{a: "}"}""") == 0) // brace inside string
    assert(Repl.openDepth("t[a == '(']") == 0)   // paren inside string
    assert(Repl.openDepth("f( // (comment") == 1)
    assert(Repl.openDepth("[1..10]{v: item}") == 0)
  }

  test("isStatement: defs persist, expressions evaluate") {
    assert(Repl.isStatement("x = 5"))
    assert(Repl.isStatement("func f(a) = a + 1"))
    assert(Repl.isStatement("func g(a) {\n  return a * 2\n}"))
    assert(!Repl.isStatement("[1..10]"))
    assert(!Repl.isStatement("x + 1"))
    assert(!Repl.isStatement("f(3)"))
  }

  test("complete: table.prefix lists that table's matching columns") {
    val env = Map(
      "nation" -> graft.sources.Tables.load(spark, sf, "nation"),
      "region" -> graft.sources.Tables.load(spark, sf, "region"))
    assert(Repl.complete("nation.n_", env) ==
      Seq("n_name", "n_nationkey", "n_regionkey"))
    assert(Repl.complete("x = nation.n_na", env) == Seq("n_name", "n_nationkey"))
    assert(Repl.complete("nation.zzz", env).isEmpty)
    assert(Repl.complete("bogus.n_", env).isEmpty)
  }

  test("complete: bare prefix lists tables, prelude defs, builtins") {
    val env = Map(
      "nation" -> graft.sources.Tables.load(spark, sf, "nation"),
      "region" -> graft.sources.Tables.load(spark, sf, "region"))
    assert(Repl.complete("nat", env) == Seq("nation"))
    assert(Repl.complete("reg", env) == Seq("region"))
    assert(Repl.complete("cou", env) == Seq("count", "count_distinct",
      "count_false", "count_true"))
    // user definitions from the prelude complete too
    val prelude = Seq("func my_fn(a) = a + 1", "my_var = 5")
    assert(Repl.complete("my_", env, prelude) == Seq("my_fn", "my_var"))
    // inside a larger expression, only the trailing token matters
    assert(Repl.complete("nation[n_regionkey == 1]{upp", env) == Seq("upper"))
  }

  test("complete: open bracket scopes the base table's columns") {
    val env = Map(
      "nation" -> graft.sources.Tables.load(spark, sf, "nation"))
    // reference test_autocomplete: `[1]{` and `[1][` offer `item`;
    // bare `[1]` does not
    assert(Repl.complete("func d(){ [1]{", env).contains("item"))
    assert(Repl.complete("func d(){ [1][", env).contains("item"))
    assert(!Repl.complete("func d(){ [1]", env).contains("item"))
    // a named table's columns complete inside its projection/selection
    assert(Repl.complete("nation{n_", env) ==
      Seq("n_name", "n_nationkey", "n_regionkey"))
    assert(Repl.complete("nation[n_regionkey == 1]{n_na", env) ==
      Seq("n_name", "n_nationkey"))
    // assignments earlier in the SAME unit are in scope
    assert(Repl.complete("hello = [1] {item, item+2}\nhel",
      env).contains("hello"))
  }

  test("complete: progressive — enclosing func params and local bindings") {
    val env = Map(
      "nation" -> graft.sources.Tables.load(spark, sf, "nation"))
    // reference progressive1: a func defined earlier completes later
    assert(Repl.complete("func hello() = 0\n\na = hel", env)
      .contains("hello"))
    // reference test_params: params of the enclosing open func body
    // (and of one-liner bodies) are in scope mid-definition
    assert(Repl.complete("func enum2(tbl, whatever) = tb", env)
      .contains("tbl"))
    assert(Repl.complete("func x(param1) {\n    hello = \"b\"\n    par", env)
      .contains("param1"))
    assert(Repl.complete("func x(param1) {\n    hello = \"b\"\n    hel", env)
      .contains("hello"))
    // params go OUT of scope once the body closes
    assert(!Repl.complete("func x(param1) {\n    0\n}\npar", env)
      .contains("param1"))
    // reference progressive2: const-table locals and join aliases
    val body =
      """func get_users(logins) {
        |    const table matched_logins = leftjoin(l: logins.item, u: nation.n_nationkey)
        |    existing_users = matched_logins[""".stripMargin
    val inSel = Repl.complete(body, env)
    assert(inSel.contains("u") && inSel.contains("l"),
      s"join aliases not offered: $inSel")
    assert(Repl.complete(body + "u != null] {u.n_na", env) ==
      Seq("n_name", "n_nationkey") || // alias→columns is best-effort;
      Repl.complete(body + "u != null] {matched_lo", env)
        .contains("matched_logins"))
    assert(Repl.complete(body.replaceAll("\\[$", "") + "\n    new_users = matched_lo", env)
      .contains("matched_logins"))
    // reference progressive3: catch binding + print inside the handler
    val tryBody =
      "try {\n    SQL(int, \"SELECT 2\")\n}\ncatch(e: Exception) {\n    "
    assert(Repl.complete(tryBody + "pri", env).contains("print"))
    assert(Repl.complete(tryBody + "print ", env).contains("e"))
    // reference test_basic: a trailing `.` with nothing to anchor on
    assert(Repl.complete("a = [1,2,3]{.", env).isEmpty)
  }

  test("complete: DDL columns, agg position, chained exclude (test_expr/test_exclude_columns)") {
    val env = Map.empty[String, graft.dsl.PTable]
    val ddl = "table x {\n    a: int\n    two: int\n    three: int\n}\n"
    // reference test_expr: `x{<three>}` and `x{ => min(<two>), max(<three>)}`
    assert(Repl.complete(ddl + "x{thr", env).contains("three"))
    assert(Repl.complete(ddl + "x{ => min(tw", env).contains("two"))
    assert(Repl.complete(ddl + "x{ => min(two), max(thr", env).contains("three"))
    // non-bare DDL implies the auto-id column
    assert(Repl.complete(ddl + "x{i", env).contains("id"))
    // reference test_exclude_columns: `x{... !<a> !<two>}{<three>}`
    assert(Repl.complete(ddl + "a = x{... !a !tw", env).contains("two"))
    assert(Repl.complete(ddl + "a = x{... !a !two}{thr", env).contains("three"))
  }

  test("complete: inline join aliases + list bindings (test_attr/test_range)") {
    val env = Map.empty[String, graft.dsl.PTable]
    val ddl = "table Country {name: string}\n"
    // reference test_attr: aliases of the join CALL itself complete,
    // dotted, inside its trailing projection
    val j = ddl + "a = join(c: Country.name, n: [\"Palau\", \"Nauru\"].item) {"
    assert(Repl.complete(ddl + "a = join(c: Country.na", env).contains("name"))
    assert(Repl.complete(j + "n.it", env).contains("item"))
    assert(Repl.complete(j + "n.item => c.na", env).contains("name"))
    assert(Repl.complete(j + "c.i", env).contains("id"))
    // one level of plain aliasing resolves too (`c = Country; c.<name>`)
    assert(Repl.complete(ddl + "c = Country\nc.na", env).contains("name"))
    // reference test_range: a list-literal binding scopes `item` in a
    // postfix-keyword bracket (`x order {<item>}`)
    val r = "x=[1,2,3,3,10]\n"
    assert(Repl.complete(r + "x order {it", env).contains("item"))
    assert(Repl.complete(r + "x order {item} [(cou", env).contains("count"))
  }

  test("complete: loop variables in statement bodies (test_statements)") {
    val env = Map.empty[String, graft.dsl.PTable]
    // reference test_statements: `for (i in [1, 2]) { <print> <i> }`
    assert(Repl.complete("for (i in [1, 2]) {\n    pri", env).contains("print"))
    assert(Repl.complete("for (i in [1, 2]) {\n    print ", env).contains("i"))
    // `while (True) { <print> 1 }`
    assert(Repl.complete("while (True) {\n    pri", env).contains("print"))
    // reference test_assert: `hello = 10; assert <hello>`
    assert(Repl.complete("hello = 10\nassert hel", env).contains("hello"))
  }

  test(":load runs the corpus-pipeline example over the bound testdata") {
    val out = new java.io.ByteArrayOutputStream()
    val sess = new graft.lang.Interp.Session(spark,
      "documents" -> graft.sources.Tables.load(spark, sf, "documents"))
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Repl.loadScript("examples/corpus_pipeline.pql", sess, Nil)
    }
    val printed = out.toString("UTF-8")
    assert(printed.contains("loaded examples/corpus_pipeline.pql"), printed)
    assert(printed.contains("train"), s"summary not printed:\n$printed")
    // the pipeline's bindings persist for follow-up queries
    val n = sess.run("count(summary)").df.head.getLong(0)
    assert(n > 0)
  }

  test("parser fuzz: garbage inputs throw typed errors, never hang or crash the JVM") {
    // deterministic pseudo-random token soup: the parser must reject
    // (typed ParseError / graft error) or accept, within bounds —
    // no StackOverflow, no infinite loop, no unclassified exception
    val atoms = Array("{", "}", "[", "]", "(", ")", "..", ",", ":", "=>",
      "=", "+", "-", "*", "/", "^", "!", "~", "order", "table", "func",
      "if", "else", "while", "new", "in", "and", "or", "not", "x", "y",
      "1", "2.5", "\"s\"", "null", "true", "$p", ".", "<", ">=", "==")
    val rnd = new scala.util.Random(42)
    (1 to 300).foreach { _ =>
      val src = Seq.fill(1 + rnd.nextInt(40))(atoms(rnd.nextInt(atoms.length)))
        .mkString(" ")
      try { graft.lang.Parser.parse(src); () }
      catch {
        case _: graft.lang.ParseError => ()
        case _: graft.types.GraftError => ()
      }
    }
    // deep nesting parses or fails cleanly instead of blowing the stack
    val deep = "[" * 300 + "1" + "]" * 300
    try { graft.lang.Parser.parse(deep); () }
    catch {
      case _: graft.lang.ParseError => ()
      case _: graft.types.GraftError => ()
      case _: StackOverflowError =>
        fail("parser must not blow the stack on deep nesting")
    }
  }

  test(":load runs a reference example script and grows the prelude") {
    // scripts/fizzbuzz.pql, shaped like the reference's
    // examples/fizzbuzz.pql, ends in `print [1..100]{fizzbuzz(item)}`;
    // :load must print its output and keep the script's funcs available
    val out = new java.io.ByteArrayOutputStream()
    val sess = new graft.lang.Interp.Session(spark)
    val prelude = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Repl.loadScript("src/test/resources/scripts/fizzbuzz.pql", sess, Nil)
    }
    val printed = out.toString("UTF-8")
    assert(printed.contains("FizzBuzz") && printed.contains("Fizz") &&
      printed.contains("Buzz"), s"fizzbuzz output missing:\n$printed")
    assert(printed.contains("loaded src/test/resources/scripts/fizzbuzz.pql"))
    // the loaded definitions persist in the session for later units
    assert(prelude.nonEmpty)
    val r = sess.run("[15] {fizzbuzz(item)}").df.collect()
    assert(r.map(_.getString(0)).toSeq == Seq("FizzBuzz"))
  }

  test("complete: never throws on any program prefix (progressive)") {
    // reference test_autocomplete progressive_test: completion must
    // stay total over every prefix, including mid-string/mid-bracket
    val env = Map(
      "nation" -> graft.sources.Tables.load(spark, sf, "nation"))
    val prog =
      """func get(logins) {
        |    matched = leftjoin(l: logins.item, u: nation.n_nationkey)
        |    existing = matched[u != null] {u.n_name}
        |    return existing + nation[n_regionkey == 1]{n_name}
        |}
        |x = "a } [ ( string"
        |get([1,2,3]) order {n_name}""".stripMargin
    (1 to prog.length).foreach { i =>
      Repl.complete(prog.take(i), env) // must not throw
    }
  }
}
