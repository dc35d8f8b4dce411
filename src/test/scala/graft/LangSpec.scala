package graft

import org.apache.spark.sql.functions._
import graft.lang.Interp
import graft.sources.Tables

class LangSpec extends SparkSpec {

  private def nation = Tables.load(spark, sf, "nation")
  private def region = Tables.load(spark, sf, "region")
  private def customer = Tables.load(spark, sf, "customer")
  private def orders = Tables.load(spark, sf, "orders")

  test("projection with rename and computed column") {
    val out = Interp.run(spark,
      "nation{n_name, key10: n_nationkey * 10}", "nation" -> nation)
    assert(out.columns == Seq("n_name", "key10"))
    assert(out.df.filter(col("key10") === 240).count() == 1)
  }

  test("selection with null-safe == and conjunction") {
    val out = Interp.run(spark,
      "nation[n_regionkey == 0, n_nationkey > 5]", "nation" -> nation)
    val expected = nation.df
      .filter(col("n_regionkey") <=> 0 && col("n_nationkey") > 5).count()
    assert(out.df.count() == expected)
  }

  test("group-by forms: {k=>a}, {=>a}, {k=>}") {
    val g1 = Interp.run(spark,
      "customer{c_mktsegment => n: count()}", "customer" -> customer)
    assert(g1.df.count() == 5)
    val g2 = Interp.run(spark, "customer{=> n: count()}", "customer" -> customer)
    assert(g2.df.head().getLong(0) == customer.df.count())
    val g3 = Interp.run(spark, "customer{c_mktsegment =>}", "customer" -> customer)
    assert(g3.df.count() == 5)
  }

  test("order with ^ desc and slice") {
    val out = Interp.run(spark,
      "nation order {^n_nationkey} [..3] {n_nationkey}", "nation" -> nation)
    assert(out.df.collect().map(_.getInt(0)).toSeq == Seq(24, 23, 22))
  }

  test("ellipsis with exclusion") {
    val out = Interp.run(spark, "nation{... !n_regionkey}", "nation" -> nation)
    assert(out.columns == Seq("n_nationkey", "n_name"))
  }

  test("auto-join via FK metadata in the language") {
    val out = Interp.run(spark,
      "join(n: nation, r: region){name: r.r_name => nations: count()}",
      "nation" -> nation, "region" -> region)
    assert(out.df.count() == 5)
    assert(out.df.agg(sum("nations")).head().getLong(0) == 25)
  }

  test("in-table condition becomes a semi join; !in an anti join") {
    val src = "customer[c_custkey in big{o_custkey}]"
    val out = Interp.run(spark,
      "big = orders[o_totalprice > 200000]\n" + src,
      "customer" -> customer, "orders" -> orders)
    val expected = graft.joins.Joins.semi(customer, "c_custkey",
      orders.where(col("o_totalprice") > 200000), "o_custkey").df.count()
    assert(out.df.count() == expected)
    val outAnti = Interp.run(spark,
      "big = orders[o_totalprice > 200000]\ncustomer[c_custkey !in big{o_custkey}]",
      "customer" -> customer, "orders" -> orders)
    assert(outAnti.df.count() == customer.df.count() - expected)
  }

  test("arithmetic semantics: / float, /~ floor, ** pow") {
    val out = Interp.run(spark,
      "nation{a: n_nationkey / 2, b: n_nationkey /~ 2, c: n_nationkey ** 2}",
      "nation" -> nation)
    val r = out.df.filter(col("b") === 3 && col("a") === 3.5).head()
    assert(r.getDouble(2) == 49.0)
  }

  test("range and list literals as tables") {
    val r = Interp.run(spark, "[1..11]{ => total: sum(item)}")
    assert(r.df.head().getLong(0) == 55L)
    val l = Interp.run(spark, "[3, 1, 2] order {item}")
    assert(l.df.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("update and delete through the language") {
    val upd = Interp.run(spark,
      "nation[n_nationkey == 0] update {n_name: 'X'}", "nation" -> nation)
    assert(upd.df.filter(col("n_name") === "X").count() == 1)
    assert(upd.df.count() == 25)
    val del = Interp.run(spark,
      "nation delete [n_regionkey == 0]", "nation" -> nation)
    assert(del.df.count() == nation.df
      .filter(!(col("n_regionkey") <=> 0)).count())
  }

  test("string ops: like, in-string, concat, repeat") {
    val out = Interp.run(spark,
      "nation[n_name ~ '%ION_1%']{msg: 'x: ' + n_name}", "nation" -> nation)
    assert(out.df.count() > 0)
    assert(out.df.head().getString(0).startsWith("x: "))
  }

  test("user functions inline into queries, incl. aggregation scope") {
    // reference tests/test_basic.py:569-574: func sqsum(x) = sum(x*x)
    val out = Interp.run(spark,
      """func sqsum(x) = sum(x * x)
         func double(x) = x * 2
         nation{n_regionkey => s: sqsum(n_nationkey), d: sum(double(n_nationkey))}""",
      "nation" -> nation)
    assert(out.df.count() == 5)
    val direct = nation.df.groupBy("n_regionkey")
      .agg(sum(col("n_nationkey") * col("n_nationkey")),
        sum(col("n_nationkey") * 2))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val got = out.df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == direct)
  }

  test("user function composing table ops") {
    val out = Interp.run(spark,
      """func by_region(k) = nation[n_regionkey == k]
         by_region(2){n_name}""",
      "nation" -> nation)
    assert(out.df.count() == nation.df.filter(col("n_regionkey") <=> 2).count())
  }

  test("new and += mutation statements") {
    val out = Interp.run(spark,
      """new region(r_name: 'MIDDLE EARTH')
         region += region[r_regionkey == 0]
         region""",
      "region" -> region)
    assert(out.df.count() == region.df.count() + 2)
    assert(out.df.filter(col("r_name") === "MIDDLE EARTH").count() == 1)
    assert(out.df.filter(col("r_regionkey") === 0).count() == 2)
  }

  test("iif conditional expression") {
    val out = Interp.run(spark,
      "nation{n_nationkey, side: iif(n_nationkey < 12, 'low', 'high')}",
      "nation" -> nation)
    assert(out.df.filter(col("side") === "low").count() == 12)
  }

  test("parse errors are reported with position") {
    intercept[graft.lang.ParseError] {
      Interp.run(spark, "nation{", "nation" -> nation)
    }
  }

  test("unknown names raise typed errors") {
    intercept[graft.types.NameError] {
      Interp.run(spark, "nosuch{x}")
    }
  }

  // ---- control flow (reference evaluate.py:338-356) -----------------------
  test("while loop with scalar vars builds a table incrementally") {
    val out = Interp.run(spark,
      """t = [0]
        |i = 1
        |while (i < 5) {
        |  t += [1..2]{item: item * i}
        |  i = i + 1
        |}
        |t{=> total: sum(item), n: count()}""".stripMargin)
    val row = out.df.head()
    assert(row.getLong(1) == 5) // [0] + 4 appended single-row tables
    assert(row.getLong(0) == 0 + 1 + 2 + 3 + 4)
  }

  test("if/else statements steer plan building") {
    val src =
      """threshold = 10
        |if (threshold > 100) { picked = nation[n_nationkey < 3] }
        |else { picked = nation[n_nationkey >= 20] }
        |picked{n_nationkey}""".stripMargin
    val out = Interp.run(spark, src, "nation" -> nation)
    assert(out.df.count() == 5)
  }

  test("for loop over a range accumulates rows") {
    val out = Interp.run(spark,
      """t = [0]
        |for (k in [1..4]) { t += [k] }
        |t order {item}""".stripMargin)
    assert(out.df.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
  }

  test("for loop over a single-column table localizes values") {
    val out = Interp.run(spark,
      """t = [99]
        |for (k in [1..3]{item}) { t += [k * 10] }
        |t order {item}""".stripMargin)
    assert(out.df.collect().map(_.getLong(0)).toSeq == Seq(10L, 20L, 99L))
  }

  // ---- func parity (reference pql_objects.py:110-212) ---------------------
  test("func defaults and named arguments") {
    val out = Interp.run(spark,
      """func scaled(x, factor = 10) = x * factor
        |nation{a: scaled(n_nationkey), b: scaled(n_nationkey, 2),
        |  c: scaled(factor: 3, x: n_nationkey)}""".stripMargin,
      "nation" -> nation)
    val r = out.df.filter(col("a") === 50).head()
    assert(r.getLong(1) == 10 && r.getLong(2) == 15)
  }

  test("varargs collector: extra named args become a dict") {
    // reference test_basic.py:680-696 (test_vararg)
    val out = Interp.run(spark,
      """func f(...x) = x
        |[1]{a: f(a:1, b:2).a, b: f(a:1, b:2).b,
        |  c: f(a:1, b:f(c:3, d:4)).b.c}""".stripMargin)
    val r = out.df.head()
    assert(r.getLong(0) == 1 && r.getLong(1) == 2 && r.getLong(2) == 3)
  }

  test("varargs spread: f(...d) re-inlines a dict as named args") {
    val out = Interp.run(spark,
      """func f(...x) = x
        |x1 = f(a:1, b:2)
        |x2 = f(...x1)
        |[1]{a: x2.a, b: x2.b}""".stripMargin)
    val r = out.df.head()
    assert(r.getLong(0) == 1 && r.getLong(1) == 2)
  }

  test("varargs mix with fixed params; dict() builtin; errors") {
    val out = Interp.run(spark,
      """func g(base, ...opts) = base * opts.mult + opts.add
        |d = dict(tag: "x", n: 7)
        |[1]{v: g(10, mult: 3, add: 4), n: d.n}""".stripMargin)
    val r = out.df.head()
    assert(r.getLong(0) == 34 && r.getLong(1) == 7)
    // no collector → unknown named arg still errors
    intercept[graft.types.TypeError] {
      Interp.run(spark,
        "func h(x) = x\n[1]{v: h(x: 1, y: 2)}")
    }
    // missing dict field
    intercept[graft.types.NameError] {
      Interp.run(spark,
        "func f(...x) = x\n[1]{v: f(a:1).nope}")
    }
  }

  test("table methods: defined in DDL, resolve in that table's scope") {
    // reference test_basic.py:701-729 (test_methods)
    val out = Interp.run(spark,
      """table Square {
        |  size: float
        |  func area() = size * size
        |  func is_area_larger(num) = area() > num
        |}
        |new Square(4)
        |size4 = Square[size == 4]
        |[1]{a: count(Square[area() > 18.0]), b: count(Square[area() < 18.0]),
        |  c: count(Square[is_area_larger(14.0)])}""".stripMargin)
    val r = out.df.head()
    assert(r.getLong(0) == 0 && r.getLong(1) == 1 && r.getLong(2) == 1)
    // auto-named projection through a derived binding
    val p = Interp.run(spark,
      """table Square {
        |  size: float
        |  func area() = size * size
        |}
        |new Square(4)
        |size4 = Square[size == 4]
        |size4{ area() }""".stripMargin)
    assert(p.columns == Seq("area"))
    assert(p.df.head().getDouble(0) == 16.0)
    // methods don't leak into other tables' scope
    intercept[graft.types.GraftError] {
      Interp.run(spark,
        """table Square {
          |  size: float
          |  func area() = size * size
          |}
          |table a { size: int }
          |a{ area() }""".stripMargin)
    }
  }

  test("self-referencing FK columns: dotted attrs, backref count/collect") {
    // reference test_basic.py:1294-1321 (test_self_reference)
    val src =
      """table Person {
        |  name: string
        |  parent: Person? -> children
        |}
        |new Person("Abraham", null)
        |new Person("Isaac", 1)
        |new Person("Jacob", 2)
        |new Person("Esau", 2)
        |""".stripMargin
    val byParent = Interp.run(spark,
      src + """Person[name == "Jacob"]{name: parent.name}""")
    assert(byParent.df.collect().map(_.getString(0)).toSeq == Seq("Isaac"))
    val counts = Interp.run(spark,
      src + """Person {name => c: count(children)} [c > 0] order {name}""")
    assert(counts.df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      == Seq("Abraham" -> 1L, "Isaac" -> 2L))
    val collected = Interp.run(spark,
      src + """Person {name => children.name} order {name}""")
    val rows = collected.df.collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(collected.columns == Seq("name", "children.name"))
    assert(rows == Map("Abraham" -> List("Isaac"), "Esau" -> Nil,
      "Isaac" -> List("Esau", "Jacob"), "Jacob" -> Nil))
  }

  test("row objects: new in expression position, attrs, FK navigation") {
    // reference test_basic.py:656-679 (test_rowtype)
    val out = Interp.run(spark,
      """table A { x: int }
        |a = new A(4)
        |table B { a: A }
        |b = new B(a)
        |eq1 = (a == a)
        |eq2 = (b == b)
        |[1]{ax: a.x, bax: b.a.x, e1: eq1, e2: eq2, aid: a.id}""".stripMargin)
    val r = out.df.head()
    assert(r.getLong(0) == 4 && r.getLong(1) == 4)
    assert(r.getBoolean(2) && r.getBoolean(3))
    assert(r.getLong(4) == 1)
  }

  test("copy rows between tables: B += A repeats, projections insert") {
    // reference test_basic.py:918-949 (test_copy_rows)
    val out = Interp.run(spark,
      """table A { x: int }
        |table B { x: int }
        |new A(2)
        |B += A
        |B += A
        |B += A
        |B += [2, 3] {x: item}
        |A += B
        |[1]{na: count(A), nb: count(B)}""".stripMargin)
    val r = out.df.head()
    assert(r.getLong(1) == 5) // 3 copies of A + 2 list rows
    assert(r.getLong(0) == 6) // original + the 5 B rows
  }

  test("one on a multi-column row binds a row object") {
    // reference test_basic.py:952-962: one A{x} → row; attrs compose
    val out = Interp.run(spark,
      """table A { x: int, y: string }
        |new A(2, "two")
        |r = one A
        |[1]{x: r.x, y: r.y}""".stripMargin)
    val row = out.df.head()
    assert(row.getLong(0) == 2 && row.getString(1) == "two")
  }

  test("DDL column defaults fill unsupplied values") {
    // reference test_basic.py:1055-1068 (test_column_default)
    val out = Interp.run(spark,
      """table A {
        |  x: int
        |  y: int = 2
        |}
        |new A(1)
        |new A(2, 1)
        |A{y} order {^y}""".stripMargin)
    assert(out.df.collect().map(_.getLong(0)).toSeq == Seq(2L, 1L))
  }

  test("user modules: import binds funcs/vars under m.<name>") {
    // reference import_module (evaluate.py:387-423): module runs in
    // its own namespace; qualified access; closure globals resolve
    // module-side
    val util =
      """k = 7
        |func scale(x) = x * k
        |func twice(x) = scale(x) + scale(x)
        |base = 100
        |""".stripMargin
    val out = Interp.runWithModules(spark,
      """import util
        |[1]{a: util.scale(3), b: util.twice(2), c: util.base + 1}""".stripMargin,
      Map("util" -> util))
    val r = out.df.head()
    assert(r.getLong(0) == 21 && r.getLong(1) == 28 && r.getLong(2) == 101)
  }

  test("module funcs vectorize over table columns; missing module errors") {
    val mod = "func pct(x, whole) = x * 100 / whole"
    val out = Interp.runWithModules(spark,
      """import m
        |nation{n_nationkey, p: m.pct(n_nationkey, 25)} order {n_nationkey}""".stripMargin,
      Map("m" -> mod), "nation" -> nation)
    assert(out.df.filter(col("n_nationkey") === 5).head().getDouble(1) == 20.0)
    intercept[graft.types.NameError] {
      Interp.run(spark, "import nosuchmodule\n[1]")
    }
    intercept[graft.types.NameError] {
      Interp.runWithModules(spark, "import m\n[1]{v: m.nope}",
        Map("m" -> "k = 1"))
    }
  }

  test("func body resolves a global scalar (closure global)") {
    // reference evaluate.py:551-648: globals resolve inside func
    // bodies. The scalar rewrite must run AFTER inlining, else `k`
    // silently resolves as a column (or throws) once the body is
    // spliced into the projection.
    val out = Interp.run(spark,
      """k = 5
        |func addk(x) = x + k
        |nation{n_nationkey, a: addk(n_nationkey)} order {n_nationkey}""".stripMargin,
      "nation" -> nation)
    val r = out.df.head()
    assert(r.getAs[Number](1).longValue == r.getAs[Number](0).longValue + 5)
    // and a global sharing a COLUMN name: the param still shadows it
    val out2 = Interp.run(spark,
      """n_nationkey = 100
        |func f(n_nationkey) = n_nationkey + 1
        |nation{a: f(0)} order {a}""".stripMargin,
      "nation" -> nation)
    assert(out2.df.head().getAs[Number](0).longValue == 1L)
  }

  test("func argument errors match reference semantics") {
    intercept[graft.types.TypeError] { // missing required param
      Interp.run(spark, "func f(x, y) = x + y\nnation{a: f(n_nationkey)}",
        "nation" -> nation)
    }
    intercept[graft.types.TypeError] { // unknown named param
      Interp.run(spark, "func f(x) = x\nnation{a: f(z: 1)}",
        "nation" -> nation)
    }
    intercept[graft.types.TypeError] { // both positional and named
      Interp.run(spark, "func f(x) = x\nnation{a: f(1, x: 2)}",
        "nation" -> nation)
    }
  }

  test("func codeblock bodies translate to expressions (fizzbuzz)") {
    val out = Interp.run(spark,
      """func fizz(i) {
        |  if (i % 3 == 0) { return "Fizz" } else { return "" }
        |}
        |func buzz(i) {
        |  if (i % 5 == 0) { return "Buzz" } else { return "" }
        |}
        |func fizzbuzz(i) = (fizz(i) + buzz(i)) or string(i)
        |[1..16]{fb: fizzbuzz(item)}""".stripMargin)
    val fb = out.df.collect().map(_.getString(0)).toSeq
    assert(fb == Seq("1", "2", "Fizz", "4", "Buzz", "Fizz", "7", "8",
      "Fizz", "Buzz", "11", "Fizz", "13", "14", "FizzBuzz"))
  }

  // ---- value-semantics and/or (reference compiler.py:313-339) -------------
  test("and/or return operands, not booleans") {
    val out = Interp.run(spark,
      """nation{n_nationkey,
        |  k: n_nationkey and 99,
        |  d: (n_nationkey % 2) or -1}""".stripMargin,
      "nation" -> nation)
    val r0 = out.df.filter(col("n_nationkey") === 0).head()
    assert(r0.getLong(1) == 0)   // 0 and 99 -> 0 (falsy left)
    assert(r0.getLong(2) == -1)  // 0 or -1 -> -1
    val r3 = out.df.filter(col("n_nationkey") === 3).head()
    assert(r3.getLong(1) == 99)  // truthy left -> right
    assert(r3.getLong(2) == 1)
  }

  test("or on strings: empty string is falsy") {
    val out = Interp.run(spark,
      """nation{v: (n_name and "") or "fallback"}""", "nation" -> nation)
    assert(out.df.collect().forall(_.getString(0) == "fallback"))
  }

  test("and/or with mismatched kernel types raises TypeError") {
    intercept[graft.types.TypeError] {
      Interp.run(spark, "nation{v: n_name or 5}", "nation" -> nation)
    }
  }

  test("string + on string COLUMNS concatenates (not numeric plus)") {
    val out = Interp.run(spark,
      "nation{v: n_name + n_name}", "nation" -> nation)
    val r = out.df.filter(col("v").startsWith("NATION_7")).head()
    assert(r.getString(0) == "NATION_7NATION_7")
    intercept[graft.types.TypeError] {
      Interp.run(spark, "nation{v: n_name + n_nationkey}", "nation" -> nation)
    }
  }

  // ---- one / one? (reference evaluate.py:679-709) -------------------------
  test("one returns the single row; errors on 0 or 2+") {
    val out = Interp.run(spark,
      "one nation[n_nationkey == 7]{n_name}", "nation" -> nation)
    assert(out.df.count() == 1)
    intercept[graft.types.ValueError] {
      Interp.run(spark, "one nation", "nation" -> nation)
    }
    intercept[graft.types.ValueError] {
      Interp.run(spark, "one nation[n_nationkey == 999]", "nation" -> nation)
    }
  }

  test("one? tolerates empty; errors on 2+") {
    val empty = Interp.run(spark,
      "one? nation[n_nationkey == 999]", "nation" -> nation)
    assert(empty.df.count() == 0)
    intercept[graft.types.ValueError] {
      Interp.run(spark, "one? nation", "nation" -> nation)
    }
  }

  // ---- reflection + sampling ----------------------------------------------
  test("reflection: type/isa/repr over schema-inferred types") {
    val out = Interp.run(spark,
      """nation{t1: type(n_name), t2: type(n_nationkey * 2),
        |  ok: isa(n_nationkey, "number"), no: isa(n_name, "number"),
        |  r: repr(n_name)}""".stripMargin, "nation" -> nation)
    val r = out.df.head()
    assert(r.getString(0) == "string" && r.getString(1) == "int")
    assert(r.getBoolean(2) && !r.getBoolean(3))
    assert(r.getString(4).startsWith("\"") && r.getString(4).endsWith("\""))
  }

  test("tables()/columns() introspection in the language") {
    val names = Interp.run(spark, "x = 1\ntables()",
      "nation" -> nation, "region" -> region)
      .df.collect().map(_.getString(0)).toSeq
    assert(names == Seq("nation", "region")) // scalars excluded, sorted
    val cols = Interp.run(spark, "columns(nation)", "nation" -> nation)
    assert(cols.df.count() == 3)
  }

  test("env_vars lists scalar and table bindings") {
    val out = Interp.run(spark,
      "x = 3.5\nenv_vars()", "nation" -> nation)
    val kinds = out.df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(kinds("nation") == "table" && kinds("x") == "float")
  }

  test("sample_fast returns exactly n rows; ratio sample approximates") {
    val out = Interp.run(spark, "sample_fast(customer, 20)",
      "customer" -> customer)
    assert(out.df.count() == 20)
    intercept[graft.types.ValueError] {
      Interp.run(spark, "sample_fast(customer, 1000000)",
        "customer" -> customer)
    }
    val ratio = customer.sampleRatioFast(0.5, seed = Some(7)).df.count()
    val n = customer.df.count()
    assert(ratio > n / 5 && ratio < n * 4 / 5) // loose Bernoulli bounds
  }

  // ---- typed signal tree (reference pql_types.py:295-323) -----------------
  test("error signals catch by supertype") {
    intercept[graft.types.EvalError] { // NameError <= EvalError
      Interp.run(spark, "nosuch{x}")
    }
    intercept[graft.types.EvalError] { // ValueError <= EvalError
      Interp.run(spark, "one nation", "nation" -> nation)
    }
    intercept[graft.types.GraftError] { // TypeError <= GraftError
      Interp.run(spark, "nation{v: n_name + 5}", "nation" -> nation)
    }
  }

  // ---- table DDL + new (reference evaluate.py:262-267, test_one) ----------
  test("table DDL, positional/named new, one round-trip") {
    val out = Interp.run(spark,
      """table scores { name: string, pts: int }
        |new scores(name: "a", pts: 10)
        |new scores("b", 20)
        |scores order {id}""".stripMargin)
    val rows = out.df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq((1L, "a", 10L), (2L, "b", 20L)))
    val one = Interp.run(spark,
      """table A { x: int }
        |new A(2)
        |one A{x}""".stripMargin)
    assert(one.df.head().getLong(0) == 2)
  }

  test("bare table has no auto id column") {
    val out = Interp.run(spark,
      "bare table kv { k: string, v: int }\nkv")
    assert(out.columns == Seq("k", "v"))
    assert(out.df.count() == 0)
  }

  // ---- string indexing / slicing in column position -----------------------
  test("string index and slice: s[i], s[a..b], s[a..]") {
    val out = Interp.run(spark,
      """nation{c0: n_name[0], pre: n_name[0..6], tail: n_name[7..]}""",
      "nation" -> nation)
    val r = out.df.head()
    assert(r.getString(0) == "N" && r.getString(1) == "NATION")
    assert(r.getString(2).forall(_.isDigit))
    val sel = Interp.run(spark,
      """nation[n_name[7..] == "3"]{n_name}""", "nation" -> nation)
    assert(sel.df.collect().map(_.getString(0)).toSeq == Seq("NATION_3"))
  }

  // ---- try/catch/throw/transaction (reference evaluate.py:318-401) --------
  test("try/catch catches by supertype and binds the message") {
    val out = Interp.run(spark,
      """r = [0]
        |try {
        |  x = one [1, 2, 3]
        |  r = [1]
        |} catch (e: EvalError) {
        |  r = [99]
        |}
        |r""".stripMargin)
    assert(out.df.head().getLong(0) == 99) // ValueError <= EvalError
    intercept[graft.types.ValueError] { // mismatched type propagates
      Interp.run(spark,
        "try { x = one [1, 2] } catch (e: NameError) { y = 1 }\n[1]")
    }
  }

  test("throw raises the named signal; catch var carries the message") {
    val out = Interp.run(spark,
      """m = "none"
        |try { throw new ValueError("boom") } catch (e: ValueError) { m = e }
        |[1]{msg: m}""".stripMargin)
    assert(out.df.head().getString(0) == "boom")
    intercept[graft.types.CastError] {
      Interp.run(spark, "throw new CastError(\"bad\")\n[1]")
    }
  }

  test("transaction rolls bindings back on signal and re-raises") {
    val out = Interp.run(spark,
      """t = [1]
        |try {
        |  transaction {
        |    t = [2]
        |    throw new ValueError("abort")
        |  }
        |} catch (e: ValueError) { caught = 1 }
        |t""".stripMargin)
    assert(out.df.head().getLong(0) == 1) // t restored to pre-transaction
  }

  test("assert raises AssertError on falsy conditions") {
    intercept[graft.types.AssertError] {
      Interp.run(spark, "assert 1 == 2\n[1]")
    }
    // AssertError <= ValueError (catch by supertype)
    val ok = Interp.run(spark,
      """r = [0]
        |try { assert 1 == 2 } catch (e: ValueError) { r = [7] }
        |r""".stripMargin)
    assert(ok.df.head().getLong(0) == 7)
  }

  // ---- procedures (reference examples/primes.pql shape) -------------------
  test("procedure funcs run the primes example (bounded)") {
    val out = Interp.run(spark,
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
        |      cnt = count(primes)
        |      print fmt("Found prime: $n, total of $cnt known primes")
        |    }
        |  }
        |}
        |find_primes(30)
        |primes{num} order {num}""".stripMargin)
    val primes = out.df.collect().map(_.getLong(0)).toSeq
    assert(primes == Seq(2L, 3L, 5L, 7L, 11L, 13L, 17L, 19L, 23L, 29L, 31L))
  }

  test("procedure params bind locally; outer writes persist") {
    val out = Interp.run(spark,
      """x = 100
        |acc = [0]
        |func add_twice(x) {
        |  acc += [x]
        |  acc += [x * 10]
        |}
        |add_twice(7)
        |acc order {item}""".stripMargin)
    assert(out.df.collect().map(_.getLong(0)).toSeq == Seq(0L, 7L, 70L))
    // param x shadowed inside the proc, outer x intact afterwards
    val keep = Interp.run(spark,
      """x = 100
        |func setp(x) { y = x }
        |setp(5)
        |[1]{v: x}""".stripMargin)
    assert(keep.df.head().getLong(0) == 100)
  }

  test("procedures return values: scalars compose, tables flow") {
    val s1 = Interp.run(spark,
      """func sum_to(n) {
        |  s = 0
        |  i = 0
        |  while (i < n) {
        |    i = i + 1
        |    s = s + i
        |  }
        |  return s
        |}
        |total = sum_to(10) + 5
        |[1]{v: total}""".stripMargin)
    assert(s1.df.head().getLong(0) == 60)
    val s2 = Interp.run(spark,
      """import graph
        |func evens(t) {
        |  r = t[item % 2 == 0]
        |  return r
        |}
        |evens([1..11]) order {item}""".stripMargin)
    assert(s2.df.collect().map(_.getLong(0)).toSeq == Seq(2L, 4L, 6L, 8L, 10L))
    intercept[graft.types.NameError] {
      Interp.run(spark, "import nosuchmodule\n[1]")
    }
  }

  // ---- struct inlining {...s} (reference compiler.py:80-128) --------------
  test("struct inline expansion with reference collision naming") {
    val out = Interp.run(spark,
      "joinall(a: [1], b: [2]) {...a, ...b}")
    assert(out.columns == Seq("item", "item1"))
    val r = out.df.head()
    assert(r.getLong(0) == 1 && r.getLong(1) == 2)
    val out2 = Interp.run(spark,
      "join(a: [1..10], b: [8..20], on: a.item == b.item) {...a}")
    assert(out2.columns == Seq("item"))
    assert(out2.df.collect().map(_.getLong(0)).sorted.toSeq == Seq(8L, 9L))
  }

  // ---- struct declarations (reference tests/box_circle.pql) ---------------
  test("struct decl + struct-typed columns: box_circle.pql end-to-end") {
    val src =
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
        |box1 = new Box([1, 1], [10, 10])
        |box2 = new Box([1, 1], [2, 2])
        |circle1 = new Circle([3,3], 2)
        |circl2 = new Circle([20,20], 2)
        |const table tmp1 = Box[start.x < 10.0]
        |const table tmp2 = Box[end.x < 10.0] {start, end}
        |func circles_contained1() = joinall(c:Circle, b:Box) [
        |        c.center.x - c.radius >= b.start.x,
        |        c.center.y - c.radius >= b.start.y,
        |        c.center.x + c.radius <= b.end.x,
        |        c.center.y + c.radius <= b.end.y
        |    ] {x:c, s:b.start, b.end} {x.center, r:x.radius, start:s, end}
        |""".stripMargin
    val out = Interp.run(spark, src + "circles_contained1()")
    assert(out.columns == Seq("center", "r", "start", "end"))
    val rows = out.df.collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getStruct(0).getDouble(0) == 3.0) // center.x
    assert(r.getDouble(1) == 2.0)              // radius
    assert(r.getStruct(2).getDouble(0) == 1.0) // start.x
    assert(r.getStruct(3).getDouble(0) == 10.0) // end.x

    // the alternate projection-first formulation gives the same rows
    val out2 = Interp.run(spark, src +
      """func circles_contained2() = joinall(c:Circle, b:Box) { c.center, r: c.radius, b.start, b.end} [
        |        center.x - r >= start.x,
        |        center.y - r >= start.y,
        |        center.x + r <= end.x,
        |        center.y + r <= end.y
        |    ]
        |circles_contained2()""".stripMargin)
    assert(out2.df.count() == 1)

    // const tables materialized with expected contents
    val t1 = Interp.run(spark, src + "tmp1")
    assert(t1.df.count() == 2)
    val t2 = Interp.run(spark, src + "tmp2")
    assert(t2.columns == Seq("start", "end"))
    assert(t2.df.count() == 1)
  }

  // ---- nested projections (reference test_basic.py:515-562) ---------------
  test("struct sub-projection reshapes in place; auto-name collisions dedup") {
    // `{b{v:item}, a}` ≡ `{b{v:item}, a{item}}` ≡ `{b{v:item,...}, a{...}}`
    val r1 = Interp.run(spark, "joinall(a:[1,2], b:[2, 3]) {b{v:item}, a}")
    assert(r1.columns == Seq("b", "a"))
    assert(r1.df.schema.simpleString ==
      "struct<b:struct<v:bigint>,a:struct<item:bigint>>")
    val r2 = Interp.run(spark,
      "joinall(a:[1,2], b:[2, 3]) {b{v:item, ...}, a{...}}")
    assert(r2.df.schema == r1.df.schema)
    assert(r2.df.count() == 4)

    // nested joinall + reshape with names resolving in struct scope
    val r3 = Interp.run(spark,
      "joinall(ab: joinall(a:[1,2], b:[2,3]), c: [4,5]) {ab {b: b.item, a: a.item}, c}[..1]")
    val row = r3.df.head()
    assert(row.getStruct(0).getLong(0) == 2L) // ab.b
    assert(row.getStruct(0).getLong(1) == 1L) // ab.a
    assert(row.getStruct(1).getLong(0) == 4L) // c.item

    // auto-named dotted fields dedup reference-style: item, item1
    val r4 = Interp.run(spark,
      "joinall(ab: joinall(a:[1,2], b:[2,3]), c: [4,5]) {ab.a.item, ab.b.item, c}")
    assert(r4.columns == Seq("item", "item1", "c"))
    assert(r4.df.count() == 8)
  }

  test("anonymous struct literals nest (reference test_nested2)") {
    val r = Interp.run(spark, "[1] {a:{b:{item}}}")
    assert(r.df.schema.simpleString ==
      "struct<a:struct<b:struct<item:bigint>>>")
    assert(r.df.head().getStruct(0).getStruct(0).getLong(0) == 1L)
    // `[1] {item}` == `([1] {a:{item}}) {a.item}`
    val r2 = Interp.run(spark, "([1] {a:{item}}) {a.item}")
    assert(r2.columns == Seq("item"))
    assert(r2.df.head().getLong(0) == 1L)
  }

  test("agg funcs: user func names its column; count_true on ints") {
    // reference test_agg_funcs: sqsum names the output column
    val r = Interp.run(spark, "func sqsum(x) = sum(x*x)\n[2, 4]{=> sqsum(item)}")
    assert(r.columns == Seq("sqsum"))
    assert(r.df.head().getLong(0) == 20L)
    // count_true/count_false by SQL truthiness over ints
    val tf = Interp.run(spark,
      "[0, 2, 0, 0, 3, 4, 0] { => count_true(item), count_false(item) }").df.head()
    assert(tf.getLong(0) == 3L && tf.getLong(1) == 4L)
    // scalar result position wraps as a one-row table
    val s = Interp.run(spark, "sum([2, 4])")
    assert(s.columns == Seq("sum"))
    assert(s.df.head().getLong(0) == 6L)
  }

  // ---- list ops (reference test_basic.py:832-888 test_list_ops) -----------
  test("list set ops, empty lists, enum selection, null fields") {
    assert(Interp.run(spark, "[1,2,3] + [5,6]").df.collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 5L, 6L))
    assert(Interp.run(spark, "[1,2,3] | [3,4]").df.collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L))
    assert(Interp.run(spark, "[1,2,3] - [3,4]").df.collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(Interp.run(spark, "[1,2,3] & [3,4]").df.collect()
      .map(_.getLong(0)).toSeq == Seq(3L))
    // enum + self-referential selection (reference expects [1, 4])
    assert(Interp.run(spark, "enum([1,8,4,4])[index+1==item]{item}").df
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 4L))
    // empty inputs
    assert(Interp.run(spark, "[1,2,3][1..1]").df.count() == 0)
    assert(Interp.run(spark, "[] {x:0}").df.count() == 0)
    // `{null, null => null, null}` — four null columns, auto-deduped
    val nf = Interp.run(spark, "[1] {null, null => null, null}").df
    assert(nf.columns.length == 4)
    assert(nf.head().toSeq.forall(_ == null))
  }

  test("computed group keys auto-name _; table and/or; FK column refs") {
    // reference test_empty_count: unnamed computed key gets "_"
    val g = Interp.run(spark,
      "[1,2,3] { item /~ 2 => count()} {count} order {count}")
    assert(g.df.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // reference test_logical: and/or over tables picks a side by emptiness
    assert(Interp.run(spark, "[1] or [2]").df.head().getLong(0) == 1L)
    assert(Interp.run(spark, "[1] and [2]").df.head().getLong(0) == 2L)
    assert(Interp.run(spark, "[0][item > 5] or [7]").df.head().getLong(0) == 7L)
    // reference test_foreign_key: `x_axis: Point.x` joins on Point.x
    val fk = Interp.run(spark,
      """table Point {
        |    x: int
        |    y: int
        |}
        |table HRuler {
        |    x_axis: Point.x
        |}
        |new Point(1, 1)
        |new Point(3, 3)
        |new Point(3, 4)
        |new HRuler(3)
        |join(h: HRuler, p: Point) {p.y} order {y}""".stripMargin)
    assert(fk.df.collect().map(_.getLong(0)).toSeq == Seq(3L, 4L))
  }

  // ---- the reference's own test script, verbatim --------------------------
  // (reference tests/simple1.pql + expectations from test_basic.py
  // test_simple1: table-valued func params, func composition, chained
  // order/projection over an inlined func call)
  test("reference tests/simple1.pql runs verbatim") {
    val src = referenceScript("tests/simple1.pql")
    def get(name: String) = Interp.run(spark, src + "\n" + name)
    assert(get("english").df.collect().map(_.getString(1)).toSet ==
      Set("Eric Blaire", "H.G. Wells"))
    assert(get("""by_country("Israel") {name}""").df.collect()
      .map(_.getString(0)).toSeq == Seq("Erez Shinan"))
    assert(get("english2").df.collect().map(_.getString(0)).toSeq ==
      Seq("H.G. Wells", "Eric Blaire"))
    assert(get("english3").columns == Seq("id", "n"))
    assert(get("f3").df.collect().map(_.getString(0)).toSeq ==
      Seq("Erez Shinan"))
    assert(get("demography").df.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("England", 2L), ("Israel", 1L)))
  }

  test("agg position: non-aggregate expression collects per group") {
    // reference test_basic.py:762 — `citizens: p.name` after `=>`
    // becomes a list; computed expressions collect the same way
    val out = Interp.run(spark,
      "[1, 2, 3, 4]{k: item /~ 2 => doubled: item * 2} order {k}")
    val rows = out.df.collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(rows.map(_.getSeq[Long](1).sorted.toSeq).toSeq ==
      Seq(Seq(2L), Seq(4L, 6L), Seq(8L)))
    // constants in agg position stay scalar (no list wrap)
    val c = Interp.run(spark, "[1, 2]{=> n: count(), tag: 7}")
    assert(c.df.collect().head.getLong(1) == 7L)
  }

  test("if condition truthiness: int and string conditions cast to bool") {
    // reference compiler.py:174 casts ast.If conditions to bool
    val out = Interp.run(spark,
      """func pick(x) {
        |  if (x % 2) { return "odd" } else { return "even" }
        |}
        |[0, 1, 2, 3]{item, v: pick(item)} order {item}""".stripMargin)
    assert(out.df.collect().map(_.getString(1)).toSeq ==
      Seq("even", "odd", "even", "odd"))
    val s = Interp.run(spark,
      """func yes(x) { if (x) { return "Y" } else { return "N" } }
        |["", "a"]{v: yes(item)} order {v}""".stripMargin)
    assert(s.df.collect().map(_.getString(0)).toSeq == Seq("N", "Y"))
  }

  test("names(t) lists columns with reference type names; names() the namespace") {
    val out = Interp.run(spark,
      """table a {x: int}
        |names(a)[not (type ~ "function%")]{name} order {name}""".stripMargin)
    // reference test_basic.py:1105: ['id', 'x']
    assert(out.df.collect().map(_.getString(0)).toSeq == Seq("id", "x"))
    val ns = Interp.run(spark,
      """k = 5
        |func f(x) = x
        |names()[name == "k" or name == "f"]{name, type} order {name}""".stripMargin)
    assert(ns.df.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("f", "function"), ("k", "int")))
  }

  test("new with expression args, expression defaults, typed mismatch error") {
    val out = Interp.run(spark,
      """table A { x: int
        | y: int = 2 + 3
        |}
        |new A(10 * 2)
        |new A(7, y: 1 + 1)
        |A order {id}""".stripMargin)
    assert(out.df.collect()
      .map(r => (r.getAs[Number](1).longValue, r.getAs[Number](2).longValue))
      .toSeq == Seq((20L, 5L), (7L, 2L)))
    // now() default const-evaluates driver-side
    val ts = Interp.run(spark,
      """table E { name: string
        | ts: timestamp = now()
        |}
        |new E("a")
        |E{name, y: year(ts)}""".stripMargin)
    assert(ts.df.collect().head.getAs[Number](1).longValue >= 2026L)
    // wrong-typed value → typed GraftError, not ClassCastException
    val err = intercept[graft.types.TypeError] {
      Interp.run(spark,
        """table B { x: int }
          |new B("nope")
          |B""".stripMargin).df.collect()
    }
    assert(err.getMessage.contains("does not fit"))
  }

  test("docstrings, line continuation, newline-separated fields and items") {
    // examples/matrices.pql surface: file docstring, matrix-row list
    // literals, one projection field per line, backslash continuation
    val out = Interp.run(spark,
      "\"\"\"\nmodule doc\n\"\"\"\n" +
      """M = [1, 2
        |     3, 4]
        |x = \
        |  enum(M) { row: int(index / 2)
        |            value: item }
        |x order {value}""".stripMargin)
    assert(out.columns == Seq("row", "value"))
    assert(out.df.collect().map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L, 4L))
    // missing comma on the SAME line is still an error
    intercept[graft.lang.ParseError] {
      Interp.run(spark, "[1 2]").df.collect()
    }
  }

  test("join on attribute columns keeps full rows (matrices mult shape)") {
    val out = Interp.run(spark,
      "join(a: [1..10].item, b: [8..20].item) {...a}")
    assert(out.df.collect().map(_.getLong(0)).sorted.toSeq == Seq(8L, 9L))
    // full-row access on both sides through the join structs
    val m = Interp.run(spark,
      """A = enum([10, 20]) { row: index, value: item }
        |join(a: A.row, b: A.row) { r: a.row => s: sum(a.value + b.value) } order {r}""".stripMargin)
    assert(m.df.collect().map(_.getLong(1)).toSeq == Seq(20L, 40L))
  }

  test("aggregate fns on collected lists act per row; chained aggs") {
    // reference test_json: {k => item}{count(item)} counts each list
    val out = Interp.run(spark,
      "list([1,7,3,4]{item%2 => item}{count(item)} order {count})")
    assert(out.df.collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    val s = Interp.run(spark,
      "[1,7,3,4]{item%2 => item}{s: sum(item), m: min(item), x: max(item)} order {s}")
    assert(s.df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq == Seq((4L, 4L, 4L), (11L, 1L, 7L)))
  }

  test("unbounded ranges bound by slice; count over columns()") {
    // reference test_range: infinite series sliced later
    val out = Interp.run(spark,
      """func adult() = [18..]
        |list( (adult()[..10] + adult()[..1]) {item + 1} )""".stripMargin)
    assert(out.df.collect().map(_.getLong(0)).sorted.toSeq ==
      (Seq(19L) ++ (19L to 28L)).sorted)
    val c = Interp.run(spark,
      """bare table A {x: int}
        |[1]{c: count(columns(A))}""".stripMargin)
    assert(c.df.collect().head.getLong(0) == 1L)
  }

  test("tree.pql surface: typed params, SQL() $self in procs, shadowed aliases") {
    // a trimmed examples/tree.pql: user-defined bfs through the SQL()
    // escape hatch (typed $self CTE), docstrings, alias shadowing
    val out = Interp.run(spark,
      """table Tree {
        |    value: string
        |    parent: Tree?
        |}
        |animal = new Tree("Animal", null)
        |mammal = new Tree("Mammal", animal)
        |dog = new Tree("Dog", mammal)
        |new Tree("Golden Retriever", dog)
        |edges_upwards = Tree{ src: id
        |                      dst: parent }
        |func bfs(edges: table, initial: table) {
        |    "Performs a breadth-first search on a graph"
        |    bfs = SQL(list[int], "SELECT * FROM $initial UNION SELECT e.dst FROM $edges e JOIN $self bfs ON e.src = bfs.item")
        |    return SQL(list[int], "SELECT bfs.item FROM $bfs bfs")
        |}
        |func get_trees(ids: list[int]) {
        |    "Return tree rows for ids"
        |    return join(_: ids.item, t: Tree.id){ t.id
        |                                          t.value }
        |}
        |func find_path_to_root(initial: table) {
        |    "All ancestors"
        |    path_to_root = bfs(edges_upwards, initial{id})
        |    return get_trees(path_to_root)
        |}
        |func is_a(a: string, b: string) {
        |    initial = Tree[value==a]
        |    return b in find_path_to_root(initial){value}
        |}
        |[1]{dog_animal: is_a("Dog", "Animal"), animal_dog: is_a("Animal", "Dog")}""".stripMargin)
    val r = out.df.collect().head
    assert(r.getBoolean(0) && !r.getBoolean(1))
  }

  test("lang graph.walk_tree/bfs column contracts; list() renames to item") {
    val wt = Interp.run(spark,
      """edges = [
        |    {src: 1, dst: 2}
        |    {src: 2, dst: 3}
        |]
        |graph.walk_tree(edges, [1], 10)""".stripMargin)
    assert(wt.columns == Seq("id", "rank"))
    assert(wt.df.collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
      .sorted.toSeq == Seq((1L, 0L), (2L, 1L), (3L, 2L)))
    val l = Interp.run(spark, "list(nation{n_name})", "nation" -> nation)
    assert(l.columns == Seq("item"))
    // first/first_or_null localize scalars (tree.pql print_most_common_ancestor)
    val f = Interp.run(spark,
      """x = first_or_null(nation[n_nationkey < 0]{n_name})
        |y = first(nation[n_nationkey == 3]{n_name})
        |[1]{x: x, y: y}""".stripMargin, "nation" -> nation)
    val fr = f.df.collect().head
    assert(fr.isNullAt(0) && fr.getString(1).nonEmpty)
  }

  test("mixed-kind compare: string vs number never equal, never ordered") {
    // reference compile_binops.py:64-77 (test_compare: 3 != "3")
    val out = Interp.run(spark,
      """[1]{a: 3 != "3", b: 3 == "3", c: "3" in [1,2,3]}""")
    val r = out.df.collect().head
    assert(r.getBoolean(0) && !r.getBoolean(1) && r.getBoolean(2))
    val err = intercept[graft.types.TypeError] {
      Interp.run(spark, """[1]{a: 2 > "a"}""").df.collect()
    }
    assert(err.getMessage.contains("not implemented"))
  }

  test("new on pk-less tables appends values; func body reducing to new") {
    // reference test_table_from_expr + test_threading
    val out = Interp.run(spark,
      """table a = [0]
        |func add_n(n) = new a(n)
        |add_n(5)
        |add_n(6)
        |new a(7)
        |a{item} order {item}""".stripMargin)
    assert(out.df.collect().map(_.getLong(0)).toSeq == Seq(0L, 5L, 6L, 7L))
  }

  test("dict-literal rows form a table (reference test_table_def_dicts)") {
    val out = Interp.run(spark,
      """[
        |    {a: 1, b: 2}
        |    {a: 10, b: 20}
        |]{c: a+b}""".stripMargin)
    assert(out.columns == Seq("c"))
    assert(out.df.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 30L))
    // mismatched keys are a typed error
    val err = intercept[graft.types.TypeError] {
      Interp.run(spark, "[\n{a: 1}\n{b: 2}\n]").df.collect()
    }
    assert(err.getMessage.contains("share the same keys"))
  }

  test("nested struct decls: struct-of-struct columns project by path") {
    val out = Interp.run(spark,
      """struct Point {
        |    x: float
        |    y: float
        |}
        |struct Line {
        |    start: Point
        |    end: Point
        |}
        |table NamedLine {
        |    name: string
        |    line: Line
        |}
        |new NamedLine("l1", [[1,1], [1,2]])
        |new NamedLine("l2", [[0,0], [3,4]])
        |NamedLine{name, x0: line.start.x, y1: line.end.y} order {name}""".stripMargin)
    assert(out.columns == Seq("name", "x0", "y1"))
    val rows = out.df.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("l1", "l2"))
    assert(rows.map(_.getDouble(2)).toSeq == Seq(2.0, 4.0))
  }

  test("set_setting mutates runtime display settings") {
    val before = graft.tools.Display.tablePreviewSizeShell
    try {
      Interp.run(spark,
        """set_setting("TABLE_PREVIEW_SIZE_SHELL", 5) 0""",
        "nation" -> nation)
      assert(graft.tools.Display.tablePreviewSizeShell == 5)
      intercept[graft.types.NameError] {
        Interp.run(spark, """set_setting("NO_SUCH_SETTING", 1) 0""")
      }
      intercept[graft.types.TypeError] {
        Interp.run(spark, """set_setting(5, 5) 0""")
      }
      // a non-positive value would poison every later preview
      // (df.limit(-1) fails analysis) — rejected at set time
      intercept[graft.types.ValueError] {
        Interp.run(spark, """set_setting("MAX_AUTO_COUNT", 0) 0""")
      }
    } finally graft.tools.Display.tablePreviewSizeShell = before
  }

  test("emptiness probe: NULL cells defer to Spark instead of crashing") {
    // the driver-side row-buffer fast path can't order-compare a NULL
    // cell — it must fall back to the Spark evaluation, not throw
    val out = Interp.run(spark,
      """table T { d: float? }
        |new T(null)
        |new T(1.0)
        |x = 0
        |if (T[d < 2.0]) { x = 1 }
        |[x]""".stripMargin).df.collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
    // all-NULL: the Spark evaluation decides (d < 2.0 filters NULLs)
    val out2 = Interp.run(spark,
      """table U { d: float? }
        |new U(null)
        |x = 0
        |if (U[d < 2.0]) { x = 1 }
        |[x]""".stripMargin).df.collect()
    assert(out2.map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("pipeline table operators callable from the language") {
    val docs = Tables.load(spark, sf, "documents")
    // near_dup_pairs == the Scala operator, row for row
    val viaLang = Interp.run(spark,
      """near_dup_pairs(documents, "doc_id", "text", 0.8)""",
      "documents" -> docs).df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = graft.ext.Dedup.minhashPairs(docs.df, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaLang == direct)
    // composes with downstream language ops (count the pairs)
    val counted = Interp.run(spark,
      """count(near_dup_pairs(documents, "doc_id", "text", 0.8))""",
      "documents" -> docs).df.head.getLong(0)
    assert(counted == direct.size)
    // bad arity raises a language TypeError, not a Spark error
    intercept[graft.types.TypeError] {
      Interp.run(spark, """dedup_exact(documents)""", "documents" -> docs)
    }
  }

  test("audit table functions in the language: repeated_spans / span_dup_frac / contamination_score") {
    import spark.implicits._
    val tail = "boiler plate terms of service apply all rights reserved"
    val docs = graft.dsl.PTable(Seq(
      (1L, s"u1 u2 u3 $tail"),
      (2L, s"v1 $tail"),
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10")).toDF("doc_id", "text"))
    // repeated_spans composes with selection + ordering
    val spans = Interp.run(spark,
      """repeated_spans(docs, "doc_id", "text")[n_docs >= 2] order {span} {span}""",
      "docs" -> docs).df.collect().map(_.getString(0))
    assert(spans.toSeq == Seq(
      "boiler plate terms of service apply all rights",
      "plate terms of service apply all rights reserved"))
    // span_dup_frac: the clean doc scores 0, the shared-tail docs > 0
    val frac = Interp.run(spark,
      """span_dup_frac(docs, "doc_id", "text")""", "docs" -> docs).df
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(frac(3L) == 0.0 && frac(1L) > 0.0 && frac(2L) > 0.0)
    // contamination_score against a bench table
    val bench = graft.dsl.PTable(Seq((9L, s"x $tail y")).toDF("doc_id", "text"))
    val cont = Interp.run(spark,
      """contamination_score(docs, "doc_id", "text", bench, "text")""",
      "docs" -> docs, "bench" -> bench).df
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(cont(3L) == 0.0 && cont(1L) > 0.0)
    intercept[graft.types.TypeError] {
      Interp.run(spark, """span_dup_frac(docs)""", "docs" -> docs)
    }
    // remove_repeated_spans cuts the shared tail, keep_first spares
    // the lowest containing doc
    val cut = Interp.run(spark,
      """remove_repeated_spans(docs, "doc_id", "text") order {doc_id}""",
      "docs" -> docs).df.collect().map(_.getString(1))
    assert(cut.toSeq == Seq("u1 u2 u3", "v1",
      "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"))
    val kf = Interp.run(spark,
      """remove_repeated_spans(docs, "doc_id", "text", 2, true) order {doc_id}""",
      "docs" -> docs).df.collect().map(_.getString(1))
    assert(kf.toSeq == Seq(s"u1 u2 u3 $tail", "v1",
      "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"))
  }

  test("import_text ingests one document per line into the catalog") {
    val dir = java.nio.file.Files.createTempDirectory("graft_txt").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part1.txt"),
      "alpha beta\ngamma\n".getBytes("UTF-8"))
    val out = Interp.run(spark,
      s"""t = import_text("raw", "$dir")
         |t {line, n: token_count(line)} order {line}""".stripMargin)
      .df.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("alpha beta", 2L), ("gamma", 1L)))
    intercept[graft.types.TypeError] {
      Interp.run(spark, """import_text("x")""")
    }
  }

  test("ann_topk method arg selects the ANN strategy (brute | lsh | lsh_multi | ivf)") {
    val emb = Tables.load(spark, sf, "embeddings")
    def run(m: String) = Interp.run(spark,
      s"""q = embeddings[vec_id < 3]
         |ann_topk(q, embeddings, 5, "$m")""".stripMargin,
      "embeddings" -> emb).df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = run("brute")
    assert(brute.size == 15) // 3 queries x top-5, exact
    // default (no method) is exact brute force
    val default = Interp.run(spark,
      """q = embeddings[vec_id < 3]
        |ann_topk(q, embeddings, 5)""".stripMargin,
      "embeddings" -> emb).df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(default == brute)
    // approximate strategies run and stay within the corpus id space;
    // multi-table LSH recall dominates single-table (OR-amplification)
    val lsh = run("lsh"); val multi = run("lsh_multi"); val ivf = run("ivf")
    assert((multi intersect brute).size >= (lsh intersect brute).size)
    assert(ivf.nonEmpty && multi.nonEmpty)
    intercept[graft.types.ValueError] { run("bogus") }
  }

  test("examples/dedup_audit.pql runs verbatim: corpus-level audit counts") {
    import spark.implicits._
    val script = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("examples/dedup_audit.pql")),
      java.nio.charset.StandardCharsets.UTF_8)
    val base = Tables.load(spark, sf, "documents").df
      .select(col("doc_id"), col("text")).limit(60)
    // plant: one exact copy, so classes/pairs/spans are all non-zero
    val docs = graft.dsl.PTable(base.unionAll(
      base.filter(col("doc_id") === 0)
        .select((col("doc_id") + 5000).as("doc_id"), col("text"))))
    val evalset = graft.dsl.PTable(
      base.filter(col("doc_id") === 1).select(col("doc_id"), col("text")))
    val r = Interp.run(spark, script + "\nreport",
      "documents" -> docs, "evalset" -> evalset).df.head
    // the planted copy: >=1 exact class, >=1 near-dup pair, 2 docs
    // wholly span-duplicated; doc 1 is verbatim in the eval set
    assert(r.getLong(0) >= 1L && r.getLong(1) >= 1L)
    assert(r.getLong(2) >= 2L && r.getLong(3) >= 1L)
    // span-cut token delta is non-negative; every multi-token doc
    // gets an LM score
    assert(r.getLong(4) >= 0L && r.getLong(5) >= 1L)
  }

  test("examples/search_explore.pql runs verbatim over the testdata") {
    val script = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("examples/search_explore.pql")),
      java.nio.charset.StandardCharsets.UTF_8)
    val docs = Tables.load(spark, sf, "documents")
    val r = Interp.run(spark, script + "\nreport",
      "documents" -> docs).df.head
    // exact-regime sketch tracks the whole vocabulary; 5 ranked hits,
    // each contributing its TF-IDF keywords
    assert(r.getLong(0) == r.getLong(1), "sketch must equal exact vocab")
    assert(r.getLong(2) == 5L)
    assert(r.getLong(3) >= 5L && r.getLong(3) <= 10L)
  }

  test("examples/corpus_pipeline.pql runs verbatim over the testdata") {
    val script = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("examples/corpus_pipeline.pql")),
      java.nio.charset.StandardCharsets.UTF_8)
    val docs = Tables.load(spark, sf, "documents")
    val out = Interp.run(spark, script + "\nsummary",
      "documents" -> docs).df.collect()
    assert(out.nonEmpty)
    assert(out.map(_.getString(0)).toSet.subsetOf(Set("train", "val", "test")))
    // every surviving (split, shard) cell is non-empty with real tokens
    assert(out.forall(r => r.getLong(2) > 0 && r.getLong(3) > 0))
  }

  test("examples/table_format.pql runs verbatim over the testdata") {
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("examples/table_format.pql")),
      java.nio.charset.StandardCharsets.UTF_8)
    // the example ships with REPL-friendly /tmp literals; the spec
    // redirects them into a fresh scratch root (the .cursor literal
    // derives from the keyed path, so one replace covers both)
    val root = java.nio.file.Files
      .createTempDirectory("graft_tour").toString
    val script = raw
      .replace("/tmp/graft_tour_keyed", root + "/keyed")
      .replace("/tmp/graft_tour_state", root + "/state")
      .replace("/tmp/graft_tour_mv", root + "/mv")
      .replace("/tmp/graft_tour_group", root + "/group")
    val odf = Tables.load(spark, sf, "orders")
    val r = Interp.run(spark, script + "\nreport",
      "orders" -> odf).df.head
    val n = odf.df.count()
    val negated = odf.df.filter(col("o_orderkey") % 97 === 0).count()
    val groups = odf.df.select(countDistinct(col("o_custkey"))).head.getLong(0)
    // upserts/deltas replace rows, never add or drop keys
    assert(r.getLong(0) == n && r.getLong(1) == n)
    assert(r.getLong(2) == negated)
    assert(r.getLong(3) == 1L)       // the pruned point read
    assert(r.getLong(4) == n)        // CDC initial load = every key
    assert(r.getLong(5) == groups)   // finalized agg view
    assert(r.getLong(6) == groups)   // MV-routed group-by
    assert(r.getLong(7) == n)        // group-pinned snapshot
  }

  test("examples/analytics_tour.pql runs verbatim over the testdata") {
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("examples/analytics_tour.pql")),
      java.nio.charset.StandardCharsets.UTF_8)
    // redirect the example's /tmp tables into a fresh scratch root (as
    // the table_format spec does): a table an earlier run left at the
    // fixed path would be re-bootstrapped instead of created, and one
    // an older engine wrote carries a manifest format that is refused
    val root = java.nio.file.Files
      .createTempDirectory("graft_tour").toString
    val script = raw
      .replace("/tmp/graft_tour_keyed", root + "/keyed")
      .replace("/tmp/graft_tour_aggstate", root + "/aggstate")
    val out = Interp.run(spark, script + "\ngap_summary",
      "events" -> Tables.load(spark, sf, "events"),
      "documents" -> Tables.load(spark, sf, "documents")).df.collect()
    assert(out.nonEmpty && out.forall(_.getLong(1) > 0))
    val kept = Interp.run(spark, script + "\nkept_by_lang",
      "events" -> Tables.load(spark, sf, "events"),
      "documents" -> Tables.load(spark, sf, "documents")).df.collect()
    // top_per_group keeps exactly 2 per language on this corpus
    assert(kept.nonEmpty && kept.forall(_.getLong(1) == 2L))
    // the product-analytics stage: every user with a step-type event
    // lands in exactly one depth bucket (never more than the universe)
    val conv = Interp.run(spark, script + "\nconversion",
      "events" -> Tables.load(spark, sf, "events"),
      "documents" -> Tables.load(spark, sf, "documents")).df.collect()
    val users = Tables.load(spark, sf, "events").df
      .select("user_id").distinct().count()
    val funneled = conv.map(_.getLong(1)).sum
    assert(conv.nonEmpty && funneled > 0 && funneled <= users)
    // the maintenance stage: every doc lands in exactly one bucket,
    // one file per bucket, and vacuum keeps the latest snapshot only
    val layout = Interp.run(spark, script + "\nlayout",
      "events" -> Tables.load(spark, sf, "events"),
      "documents" -> Tables.load(spark, sf, "documents")).df.collect()
    val nd = Tables.load(spark, sf, "documents").df.count()
    assert(layout.map(_.getLong(1)).sum == nd &&
      layout.forall(_.getLong(2) == 1L))
    val vers = Interp.run(spark, script + "\nversions",
      "events" -> Tables.load(spark, sf, "events"),
      "documents" -> Tables.load(spark, sf, "documents")).df.collect()
    assert(vers.length == 1)
  }

  test("corpus hygiene operators callable from the language") {
    val docs = Tables.load(spark, sf, "documents")
    // repetition_signals == the Scala operator, row for row
    val viaLang = Interp.run(spark,
      """repetition_signals(documents, "doc_id", "text")""",
      "documents" -> docs).df.collect()
      .map(r => (r.getLong(0), r.getDouble(4))).toMap
    val direct = graft.ext.Corpus.repetitionSignals(docs.df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getDouble(4))).toMap
    assert(viaLang == direct)
    // redact_pii / pii_count as projection scalars
    val red = Interp.run(spark,
      """rows = [{id: 1, t: "mail a@b.io now"}, {id: 2, t: "clean"}]
        |rows {id, n: pii_count(t), r: redact_pii(t)} order {id}""".stripMargin)
      .df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(red.toSeq == Seq((1L, 1L, "mail <EMAIL> now"), (2L, 0L, "clean")))
    // strip_html as a projection scalar
    val stripped = Interp.run(spark,
      """rows = [{id: 1, t: "<p>a &amp; b</p><script>x()</script>"}]
        |rows {id, v: strip_html(t)}""".stripMargin)
      .df.collect().map(r => (r.getLong(0), r.getString(1)))
    assert(stripped.toSeq == Seq((1L, "a & b")))
    // decontaminate drops the doc sharing the eval set's text
    val kept = Interp.run(spark,
      """bench = documents[doc_id == 3] {btext: text}
        |decontaminate(documents[doc_id < 10], "doc_id", "text", bench, "btext")
        |""".stripMargin, "documents" -> docs).df
      .collect().map(_.getLong(0)).toSet
    assert(!kept.contains(3L) && kept.contains(1L))
    // Gopher lexical signals as projection scalars
    val gop = Interp.run(spark,
      """rows = [{id: 1, t: "the cat with the dog"}]
        |rows {id, s: stopword_frac(t), r: type_token_ratio(t),
        |      a: alpha_word_frac(t)}""".stripMargin)
      .df.head
    assert(gop.getDouble(1) == 0.6 && gop.getDouble(2) == 0.8 &&
      gop.getDouble(3) == 1.0)
    // script routing scalars
    val scr = Interp.run(spark,
      """rows = [{id: 1, t: "hello мир"}]
        |rows {id, f: script_frac(t, "latin"), s: dominant_script(t)}"""
        .stripMargin).df.head
    assert(scr.getDouble(1) == 5.0 / 8 && scr.getString(2) == "latin")
    // lm_score trains on the ref table and scores in one call
    val lm = Interp.run(spark,
      """ref = [{id: 1, t: "a b a b a c"}]
        |docs = [{id: 10, t: "a b"}]
        |lm_score(docs, "id", "t", ref, "t")""".stripMargin)
      .df.collect().map(r => (r.getLong(1), r.getDouble(3)))
    assert(lm.toSeq == Seq((1L, -0.693147)))
    // the bloom path agrees at default width on this tiny eval set
    val keptB = Interp.run(spark,
      """bench = documents[doc_id == 3] {btext: text}
        |decontaminate_bloom(documents[doc_id < 10], "doc_id", "text", bench, "btext")
        |""".stripMargin, "documents" -> docs).df
      .collect().map(_.getLong(0)).toSet
    assert(keptB == kept)
    intercept[graft.types.TypeError] {
      Interp.run(spark, """repetition_signals(documents)""",
        "documents" -> docs)
    }
  }

  test("pivot and unpivot compose in the language") {
    import spark.implicits._
    val sales = graft.dsl.PTable(
      Seq((1L, "red", 2.0), (1L, "red", 3.0), (1L, "blue", 4.0),
        (2L, "blue", 7.0)).toDF("store", "color", "amt"))
    val wide = Interp.run(spark,
      """pivot(sales, "store", "color", "red blue", "sum", "amt") order {store}""",
      "sales" -> sales)
    assert(wide.columns == Seq("store", "red", "blue"))
    val r = wide.df.collect()
    assert(r(0).getDouble(1) == 5.0 && r(0).getDouble(2) == 4.0)
    assert(r(1).isNullAt(1) && r(1).getDouble(2) == 7.0)
    // melt it back: 2 stores × 2 colors = 4 rows, nulls KEPT
    val long = Interp.run(spark,
      """w = pivot(sales, "store", "color", "red blue", "sum", "amt")
        |unpivot(w, "store", "red blue", "color", "amt")
        |""".stripMargin, "sales" -> sales)
    assert(long.columns == Seq("store", "color", "amt"))
    assert(long.df.count() == 4)
    assert(long.df.filter("amt IS NULL").count() == 1)
  }

  test("fuzzy_pairs and resample_fill are callable from the language") {
    import spark.implicits._
    val names = graft.dsl.PTable(
      Seq((1L, "anna"), (2L, "anne"), (3L, "bob")).toDF("id", "nm"))
    val out = Interp.run(spark,
      """fuzzy_pairs(names, "id", "nm", 1)""", "names" -> names)
    assert(out.columns == Seq("id1", "id2", "dist"))
    assert(out.df.collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet == Set((1L, 2L)))
    val ev = graft.dsl.PTable(
      Seq((1000000L, "a", 1.0), (3500000L, "a", 2.0))
        .toDF("us", "k", "value")
        .select(org.apache.spark.sql.functions.timestamp_micros(
          col("us")).as("ts"), col("k"), col("value")))
    val ts = Interp.run(spark,
      """resample_fill(ev, "ts", "k", 1000000, "value")""", "ev" -> ev)
    assert(ts.columns == Seq("k", "bucket", "total", "n"))
    assert(ts.df.count() == 3) // buckets 1, 2 (gap, filled), 3
  }

  test("components, corr_matrix, histogram, rolling_mean in the language") {
    import spark.implicits._
    val edges = graft.dsl.PTable(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst"))
    val comp = Interp.run(spark, "components(edges)", "edges" -> edges)
      .df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L))
    val nums = graft.dsl.PTable(
      Seq((1.0, 2.0), (2.0, 4.0), (3.0, 6.0)).toDF("x", "y"))
    val cm = Interp.run(spark, """corr_matrix(nums, "x y")""",
      "nums" -> nums).df.collect()
    assert(cm.length == 1 && cm.head.getDouble(1) == 1.0)
    val h = Interp.run(spark, """histogram(nums, "x", 2)""",
      "nums" -> nums).df.collect()
    assert(h.map(_.getLong(3)).sum == 3L)
    val keyed = graft.dsl.PTable(
      Seq(("a", 1.0, 2.0), ("a", 2.0, 4.0)).toDF("k", "x", "y"))
    val rm = Interp.run(spark,
      """rolling_mean(keyed, "k", "x", 2, "y") {x, ma}""",
      "keyed" -> keyed)
    assert(rm.columns == Seq("x", "ma"))
    assert(rm.df.collect().map(_.getDouble(1)).sorted.toSeq ==
      Seq(2.0, 3.0))
  }

  test("top_per_group, asof_join, range_join in the language") {
    import spark.implicits._
    val sales = graft.dsl.PTable(
      Seq(("a", 1L, 10.0), ("a", 2L, 30.0), ("a", 3L, 20.0),
        ("b", 4L, 5.0)).toDF("seg", "id", "amt"))
    val top = Interp.run(spark,
      """top_per_group(sales, "seg", "^amt id", 2)""", "sales" -> sales)
      .df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(top == Set(("a", 2L), ("a", 3L), ("b", 4L)))
    val quotes = graft.dsl.PTable(
      Seq(("a", 1L, 100.0), ("a", 5L, 105.0)).toDF("k", "t", "px"))
    val trades = graft.dsl.PTable(
      Seq(("a", 3L), ("a", 6L)).toDF("k", "t"))
    val aj = Interp.run(spark,
      """asof_join(trades, quotes, "k", "t", "t", "px")""",
      "trades" -> trades, "quotes" -> quotes)
      .df.collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(aj == Map(3L -> 100.0, 6L -> 105.0))
    val pts = graft.dsl.PTable(Seq(Tuple1(5.0), Tuple1(25.0)).toDF("v"))
    val ivs = graft.dsl.PTable(
      Seq((0.0, 10.0, "lo"), (20.0, 30.0, "hi")).toDF("lo", "hi", "tag"))
    val rj = Interp.run(spark,
      """range_join(pts, "v", ivs, "lo", "hi", 10.0)""",
      "pts" -> pts, "ivs" -> ivs)
      .df.collect().map(r => r.getDouble(0) -> r.getString(3)).toMap
    assert(rj == Map(5.0 -> "lo", 25.0 -> "hi"))
  }

  test("sssp in the language") {
    import spark.implicits._
    val edges = graft.dsl.PTable(
      Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (1L, 3L, 5.0))
        .toDF("src", "dst", "weight"))
    val out = Interp.run(spark, """sssp(edges, [1], 10)""",
      "edges" -> edges)
      .df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out == Map(1L -> 0.0, 2L -> 1.0, 3L -> 2.0))
    // hop bound honored through the language face
    val one = Interp.run(spark, """sssp(edges, [1], 1)""",
      "edges" -> edges)
      .df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(one == Map(1L -> 0.0, 2L -> 1.0, 3L -> 5.0))
  }

  test("funnel, retention and diff_tables in the language") {
    import spark.implicits._
    val us = 1000000L
    def ts(u: Long) = new java.sql.Timestamp(u / 1000)
    val events = graft.dsl.PTable(
      Seq((1L, ts(1 * us), "a"), (1L, ts(2 * us), "b"),
        (2L, ts(1 * us), "a"), (3L, ts(5 * us), "b"))
        .toDF("user_id", "ts", "etype"))
    val f = Interp.run(spark,
      """funnel(events, "user_id", "ts", "etype", "a b", 10000000)""",
      "events" -> events)
      .df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(f == Map(1L -> 2, 2L -> 1, 3L -> 0))
    val r = Interp.run(spark,
      """retention(events, "user_id", "ts", 1000000)""",
      "events" -> events)
      .df.collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    assert(r((1L, 0L)) == 2L && r((1L, 1L)) == 1L && r((5L, 0L)) == 1L)
    val a = graft.dsl.PTable(Seq((1L, "x"), (2L, "y")).toDF("k", "v"))
    val b = graft.dsl.PTable(Seq((1L, "x"), (3L, "z")).toDF("k", "v"))
    val d = Interp.run(spark, """diff_tables(a, b, "k")""",
      "a" -> a, "b" -> b)
      .df.collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(d == Map(1L -> "same", 2L -> "removed", 3L -> "added"))
    val p = Interp.run(spark,
      """event_paths(events, "user_id", "ts", "etype", 2)""",
      "events" -> events)
      .df.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(p == Map("a>b" -> 1L, "a" -> 1L, "b" -> 1L))
    val sess = Interp.run(spark,
      """sessionize(events, "user_id", "ts", 10000000)""",
      "events" -> events)
      .df.collect().map(x => (x.getLong(0), x.getLong(2)))
    assert(sess.toSet == Set((1L, 2L), (2L, 1L), (3L, 1L)))
    val tr = Interp.run(spark,
      """transitions(events, "user_id", "ts", "etype")""",
      "events" -> events)
      .df.collect().map(x => (x.getString(0), x.getString(1)) -> x.getLong(2))
      .toMap
    assert(tr == Map(("a", "b") -> 1L))
    val lf = Interp.run(spark,
      """fit = linfit(pts, "g", "x", "y")
        |fit {g, slope, intercept}""".stripMargin,
      "pts" -> graft.dsl.PTable(
        Seq(("a", 1.0, 3.0), ("a", 2.0, 5.0), ("a", 3.0, 7.0))
          .toDF("g", "x", "y")))
      .df.collect().map(x => (x.getString(0), x.getDouble(1), x.getDouble(2)))
    assert(lf.toSeq == Seq(("a", 2.0, 1.0)))
  }

  test("profile and anomalies in the language") {
    import spark.implicits._
    val tbl = graft.dsl.PTable(
      Seq(("a", 1.0), ("a", 1.0), ("a", 1.0), ("a", 1.0), ("a", 50.0))
        .toDF("k", "v"))
    val prof = Interp.run(spark, """profile(tbl, "v")""", "tbl" -> tbl)
      .df.collect()
    assert(prof.length == 1 && prof.head.getLong(1) == 5L &&
      prof.head.getLong(3) == 2L)
    val an = Interp.run(spark, """anomalies(tbl, "k", "v", 1.5)""",
      "tbl" -> tbl).df.collect()
    assert(an.length == 1 && an.head.getDouble(1) == 50.0)
  }

  test("triangles and seeded page_rank in the language") {
    import spark.implicits._
    val edges = graft.dsl.PTable(
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst"))
    val tri = Interp.run(spark, "triangles(edges)", "edges" -> edges)
    assert(tri.df.collect().head.getLong(0) == 1L)
    val seeds = graft.dsl.PTable(Seq(Tuple1(1L)).toDF("node"))
    val pr = Interp.run(spark,
      "page_rank(edges, 4, 0.85, seeds) order {node}",
      "edges" -> edges, "seeds" -> seeds)
    val ranks = pr.df.collect().map(r => r.getLong(0) -> r.getDouble(1))
      .toMap
    // teleport restricted to node 1; node 4 only reachable via 3
    assert(ranks(1L) > ranks(4L) && ranks(4L) > 0.0)
  }

  test("page_rank composes in the language: star hub wins") {
    import spark.implicits._
    val edges = graft.dsl.PTable(
      Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L)).toDF("src", "dst"))
    val out = Interp.run(spark,
      "page_rank(edges, 4) {node, r: round(rank, 6)} order {^r} [..1]",
      "edges" -> edges)
    assert(out.columns == Seq("node", "r"))
    val top = out.df.collect().head
    assert(top.getLong(0) == 0L)
    // star closed form: hub = base*(1 + 4d) with base = 0.15/5
    assert(math.abs(top.getDouble(1) - 0.132) < 1e-6)
  }

  test("debug() pauses into a live-state REPL; bindings persist") {
    // reference pql_functions.py:231-243: the debugger IS the REPL
    // environment — statements mutate the paused program's state,
    // expressions preview it, c() continues
    val input = new java.io.StringReader("x = x + 1\n[1]{v: x}\nc()\n")
    val errBuf = new java.io.ByteArrayOutputStream()
    val out = Console.withIn(input) {
      Console.withErr(errBuf) {
        Interp.run(spark, "x = 41\ndebug()\n[1]{v: x}")
      }
    }
    assert(out.df.head().getLong(0) == 42,
      "binding made inside the debugger must persist after continue")
    val err = errBuf.toString
    assert(err.contains("debug>"))
    assert(err.contains("ok"), s"statement ack missing from: $err")
    assert(err.contains("[42]"), s"live-state preview missing from: $err")
    // _breakpoint spelling; EOF also continues; errors don't kill it
    val errBuf2 = new java.io.ByteArrayOutputStream()
    val out2 = Console.withIn(new java.io.StringReader("nosuch_fn()\n")) {
      Console.withErr(errBuf2) {
        Interp.run(spark, "y = 7\n_breakpoint()\n[1]{v: y}")
      }
    }
    assert(out2.df.head().getLong(0) == 7)
    assert(errBuf2.toString.contains("_breakpoint>"))
    // TWO pauses sharing one piped stdin: the first must not read
    // ahead and swallow the second's commands
    val errBuf3 = new java.io.ByteArrayOutputStream()
    val out3 = Console.withIn(new java.io.StringReader(
      "a = 10\nc()\nb = a + 1\nc()\n")) {
      Console.withErr(errBuf3) {
        Interp.run(spark, "debug()\ndebug()\n[1]{v: b}")
      }
    }
    assert(out3.df.head().getLong(0) == 11,
      "second pause lost its piped commands")
    // a bare `c` previews a binding named c — only the CALL continues
    val errBuf4 = new java.io.ByteArrayOutputStream()
    Console.withIn(new java.io.StringReader("c\nc()\n")) {
      Console.withErr(errBuf4) {
        Interp.run(spark, "c = 5\ndebug()\n[1]{v: c}")
      }
    }
    assert(errBuf4.toString.contains("[5]"),
      s"bare c must preview the binding: ${errBuf4.toString}")
    // result-position debug() (a REPL unit / final statement) pauses
    // too, instead of raising NameError
    val errBuf5 = new java.io.ByteArrayOutputStream()
    val out5 = Console.withIn(new java.io.StringReader("c()\n")) {
      Console.withErr(errBuf5) { Interp.run(spark, "debug()") }
    }
    assert(errBuf5.toString.contains("debug>"))
    assert(out5.df.columns.toSeq == Seq("status"))
  }

  test("keyed_changes and capped funnel from the language") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_qlchg").toString + "/t"
    val out = Interp.run(spark,
      s"""base = [1..50] {k: item, v: item * 10}
         |s0 = write_keyed(base, "$dir", "k", 4)
         |s1 = upsert_keyed("$dir", [1] {k: 7, v: 0 - 1}, "k", 4)
         |keyed_changes("$dir", 1, 2) order {k}
         |""".stripMargin).df.collect()
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((7L, "changed")))
    // the 7th funnel arg caps per-user state: user 1's click is its
    // 3rd event — invisible under cap 2
    val ev = Seq(
      (1L, new java.sql.Timestamp(1000L), "view"),
      (1L, new java.sql.Timestamp(2000L), "view"),
      (1L, new java.sql.Timestamp(3000L), "click"))
      .toDF("user_id", "ts", "etype")
    val capped = Interp.run(spark,
      """funnel(ev, "user_id", "ts", "etype", "view click",
        |       604800000000, 2)""".stripMargin,
      "ev" -> graft.dsl.PTable(ev)).df.collect()
    assert(capped.map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((1L, 1)))
  }

  test("index-backed search from the language: build, bm25, phrase, near") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_qlsidx").toString + "/idx"
    val docs = Seq(
      (1L, "spark shuffles wide joins fast"),
      (2L, "spark joins spark joins spark"),
      (3L, "narrow scans only")).toDF("doc_id", "text")
    val stats = Interp.run(spark,
      s"""build_search_index(corpus, "doc_id", "text", "$dir", 8)""",
      "corpus" -> graft.dsl.PTable(docs)).df.collect()
    assert(stats.head.getLong(0) == 3L) // n_docs
    val bm = Interp.run(spark,
      s"""search_idx("$dir", "spark joins", 10)""").df.collect()
    assert(bm.nonEmpty && bm.head.getLong(0) == 2L) // tf-heavy doc wins
    val ph = Interp.run(spark,
      s"""phrase_search_idx("$dir", "spark joins")""").df.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(ph == Map(2L -> 2))
    val nr = Interp.run(spark,
      s"""near_search_idx("$dir", "spark joins", 3)""").df.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // doc 1: spark ... joins with one intervening token (slop 3); doc
    // 2: chains from each of the three spark positions
    assert(nr.keySet == Set(1L, 2L) && nr(1L) == 1)
  }

  test("read_keyed selection is predicate-planned: key equality prunes to its bucket") {
    import graft.sources.Maintenance
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lang_kwhere").toString + "/t"
    val df = spark.range(0, 6400).select((col("id") % 64).as("tenant"),
      ((col("id") % 64) * 100000L + col("id")).as("v"))
    Maintenance.writeKeyed(df, dir, Seq("tenant"), 64,
      statsCols = Seq("v"))
    val total = Maintenance.readKeyed(spark, dir).inputFiles.length
    // the selection on the pristine snapshot re-plans through
    // readKeyedWhere: the key equality reads only its bucket
    val out = Interp.run(spark,
      s"""t = read_keyed("$dir")
         |t[tenant == 5] {tenant, v}
         |""".stripMargin)
    assert(out.df.inputFiles.length <= 2 &&
      out.df.inputFiles.length < total,
      s"${out.df.inputFiles.length} of $total files read")
    assert(out.df.count() == 100 &&
      out.df.select(min(col("v"))).head.getLong(0) == 500005L)
    // a zone range on the stats column prunes too
    val outZ = Interp.run(spark,
      s"""read_keyed("$dir")[v >= ${63 * 100000L}] {tenant, v}""")
    assert(outZ.df.inputFiles.length < total / 8)
    assert(outZ.df.count() == 100)
    // a version-pinned read stays a plain (unpruned) scan
    val outV = Interp.run(spark,
      s"""read_keyed("$dir", 1)[tenant == 5] {tenant, v}""")
    assert(outV.df.inputFiles.length == total)
    assert(outV.df.count() == 100)
    // a projection BEFORE the selection clears the mark (the frame is
    // no longer the raw snapshot) — plain filter, right answer
    val outP = Interp.run(spark,
      s"""read_keyed("$dir") {tenant, v} [tenant == 5]""")
    assert(outP.df.count() == 100)
  }

  test("r12 face arity/typing errors are loud: build_mv, refresh_mv_incremental, maintain_keyed") {
    intercept[graft.types.TypeError] {
      Interp.run(spark, """build_mv("a", "b")""")
    }
    intercept[graft.types.TypeError] {
      Interp.run(spark, """refresh_mv_incremental()""")
    }
    intercept[graft.types.TypeError] {
      Interp.run(spark, """maintain_keyed("a")""")
    }
    intercept[graft.types.TypeError] {
      Interp.run(spark,
        """vacuum_keyed("a", 1, 0, "notabool")""")
    }
    // an unregistered view refuses the incremental refresh by name
    val err = intercept[IllegalArgumentException] {
      Interp.run(spark, """refresh_mv_incremental("/no/such/view")""")
    }
    assert(err.getMessage.contains("registered"))
    // r13 faces: arity errors are loud
    intercept[graft.types.TypeError] {
      Interp.run(spark, """build_mv("a","b","k","v",4,"",true,1,"u","x")""")
    }
    intercept[graft.types.TypeError] {
      Interp.run(spark, """refresh_mvs()""")
    }
    intercept[graft.types.TypeError] {
      Interp.run(spark, """merge_candidates("a")""")
    }
    intercept[graft.types.TypeError] {
      Interp.run(spark, """merge_leaves("a")""")
    }
    intercept[graft.types.TypeError] {
      Interp.run(spark, """delete_keyed_where("a")""")
    }
    intercept[graft.types.TypeError] {
      Interp.run(spark, """delete_keyed_where_delta("a")""")
    }
    intercept[graft.types.TypeError] {
      Interp.run(spark, """update_keyed_where_delta("a", "k = 1", "v")""")
    }
    intercept[graft.types.TypeError] {
      Interp.run(spark, """update_keyed_where("a", "k = 1", "v")""")
    }
    intercept[graft.types.TypeError] {
      Interp.run(spark, """unregister_cursor("a")""")
    }
    intercept[graft.types.TypeError] {
      Interp.run(spark, """drop_group()""")
    }
    intercept[graft.types.TypeError] {
      Interp.run(spark, """vacuum_group()""")
    }
    intercept[graft.types.TypeError] {
      Interp.run(spark, """maintain_keyed("a", 1, 2, 3, 4, 5)""")
    }
  }

  test("r13 operational faces: staleness, refresh_mvs, merge_candidates from the language") {
    import graft.sources.Maintenance
    val root = java.nio.file.Files
      .createTempDirectory("graft_lang_ops").toString
    val bdir = s"$root/b"; val mdir = s"$root/m"
    graft.sources.MatView.unregister(spark, mdir)
    val stale = Interp.run(spark,
      s"""base = [1..3001] {k: item, g: item % 7, v: item % 31}
         |w = write_keyed(base, "$bdir", "k", 4)
         |v0 = build_mv("$bdir", "$mdir", "g", "v", 4)
         |ups = base[k % 10 == 0] {k, g, v: v + 1}
         |u = upsert_keyed("$bdir", ups, "k", 4)
         |list_mvs() [mv_dir == "$mdir"] {staleness}
         |""".stripMargin).df.head.getInt(0)
    assert(stale == 1, s"one base commit past the watermark: $stale")
    val fresh = Interp.run(spark,
      s"""sw = refresh_mvs("$bdir")
         |list_mvs() [mv_dir == "$mdir"] {staleness}
         |""".stripMargin).df.head.getInt(0)
    assert(fresh == 0, "the sweep must re-arm every view of the base")
    // no merge candidates on a flat (never-split) table
    assert(Interp.run(spark,
      s"""merge_candidates("$bdir", 1000000)""").df.count() == 0)
    // split_keyed / merge_leaves round-trip from the language
    Interp.run(spark, s"""split_keyed("$bdir", 1)""")
    assert(Maintenance.readManifest(spark, bdir).depths ==
      Map(1 -> 1, 5 -> 1))
    assert(Interp.run(spark,
      s"""merge_candidates("$bdir", 100000000)""").df.count() == 1)
    Interp.run(spark, s"""merge_leaves("$bdir", 1)""")
    assert(Maintenance.readManifest(spark, bdir).depths.isEmpty)
    assert(Interp.run(spark, s"""read_keyed("$bdir") {=> n: count()}""")
      .df.head.getLong(0) == 3000L)
    // unregister_cursor / drop_group round-trip from the language
    val cur = Maintenance.registeredCursorPath(bdir, "langc")
    graft.streaming.Streams.commitChangeCursor(spark, cur, 1)
    Interp.run(spark, s"""x = unregister_cursor("$bdir", "langc")""")
    assert(!new org.apache.hadoop.fs.Path(cur)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(cur)))
  }

  test("maintain_keyed and seq-mode append_delta_keyed drive from the language") {
    import graft.sources.Maintenance
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lang_maint").toString + "/t"
    val out = Interp.run(spark,
      s"""base = [1..2001] {k: item, v: item * 2, seq: 0}
         |w = write_keyed(base, "$dir", "k", 4)
         |m = maintain_keyed("$dir", 1, 100000000, 1)
         |ups = base[k % 10 == 0] {k, v: 0 - v, seq: 5}
         |d = append_delta_keyed("$dir", ups, "k", 4, "seq")
         |late = base[k % 10 == 0] {k, v, seq: 2}
         |d2 = append_delta_keyed("$dir", late, "k", 4)
         |t = read_keyed("$dir")
         |t[v < 0] {=> n: count()}
         |""".stripMargin)
    // every leaf split (1-byte target), then the seq-5 negation beats
    // the late seq-2 restore for all 200 %10 keys
    assert(out.df.head.getLong(0) == 200L)
    val m = Maintenance.readManifest(spark, dir)
    assert(m.depths.values.toSet == Set(1), s"depths: ${m.depths}")
    assert(m.seqCol == "seq")
  }
}
