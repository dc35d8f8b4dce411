package graft

import org.apache.spark.sql.Row
import graft.lang.Interp
import graft.types._

/** Conformance against the reference's own behavioral suite
  * (reference: tests/test_basic.py) — each test cites the reference
  * test it mirrors and asserts the values that suite asserts.
  * Snippets run verbatim through graft.lang.
  */
class RefConformanceSpec extends SparkSpec {

  /** Run a snippet; return the single scalar it evaluates to. */
  private def one(src: String): Any = {
    val rows = Interp.run(spark, src).df.collect()
    assert(rows.length == 1 && rows(0).length == 1,
      s"expected one scalar from <$src>, got ${rows.toSeq}")
    rows(0).get(0)
  }

  /** Run a snippet; return rows as ordered (name -> value) maps. */
  private def rows(src: String): Seq[Seq[(String, Any)]] = {
    val df = Interp.run(spark, src).df
    val names = df.columns.toSeq
    df.collect().toSeq.map(r => names.zip(r.toSeq))
  }

  /** Run a snippet; return the values of a single-column result. */
  private def col0(src: String): Seq[Any] =
    Interp.run(spark, src).df.collect().toSeq.map(_.get(0))

  /** Normalize engine values to Long for reference 0/1 assertions:
    * the reference's SQLite backend stores booleans as ints, our
    * engine keeps native BooleanType — both encode the same result.
    */
  private def asLong(v: Any): Long = v match {
    case b: Boolean => if (b) 1L else 0L
    case o => o.toString.toLong
  }

  private def numeq(a: Any, b: Double): Boolean = a match {
    case d: Double => d == b
    case f: Float => f.toDouble == b
    case l: Long => l.toDouble == b
    case i: Int => i.toDouble == b
    case other => other == b
  }

  // ---- test_basic.py::_test_basic -----------------------------------------

  test("basic scalars: literals, unary minus, division flavors") {
    assert(numeq(one("3.14"), 3.14))
    assert(numeq(one("1"), 1))
    assert(numeq(one("-(1)"), -1))
    assert(numeq(one("1 / 2"), 0.5))
    assert(numeq(one("10 /~ 3"), 3))
    assert(one("type(10/3) == float") == true)
  }

  test("group-by on a renamed derived key ({v: item/~2 => sum(item)})") {
    // reference test_basic.py:88-89
    val r1 = rows("[1,2,3]{v: item/~2 => sum(item)} order {v}")
    assert(r1.map(_.map { case (k, v) => (k, v.toString.toLong) }) ==
      Seq(Seq("v" -> 0L, "sum" -> 1L), Seq("v" -> 1L, "sum" -> 5L)))
    val r2 = rows("[1,2,3]{item: item/~2 => sum(item)} order {item}")
    assert(r2.map(_.map { case (k, v) => (k, v.toString.toLong) }) ==
      Seq(Seq("item" -> 0L, "sum" -> 1L), Seq("item" -> 1L, "sum" -> 5L)))
  }

  // ---- test_empty_count ---------------------------------------------------

  test("one one [1,2,3]{ => count()} == 3") {
    assert(numeq(one("one one [1,2,3] { => count()}"), 3))
    val r = col0("[1,2,3] { item /~ 2 => count()} {count}")
      .map(_.toString.toLong).sorted
    assert(r == Seq(1L, 2L))
  }

  // ---- test_assert --------------------------------------------------------

  test("assert 0 raises AssertError") {
    intercept[AssertError] { one("assert 0") }
  }

  // ---- test_arith ---------------------------------------------------------

  test("arith: precedence, string concat/repeat, like, pow") {
    assert(numeq(one("1 + 2 / 4"), 1.5))
    assert(numeq(one("1 + 2 /~ 4 + 1"), 2))
    assert(one("\"a\" + \"b\"") == "ab")
    assert(one("\"a\" * 3") == "aaa")
    assert(one("\"ab\" * 3") == "ababab")
    assert(one("\"a\" + \"b\"*2 + \"c\"") == "abbc")
    assert(one("\"a\" ~ \"a%\"") == true)
    assert(one("\"abc\" ~ \"a%\"") == true)
    assert(one("\"abc\" ~ \"a%c\"") == true)
    assert(one("\"ab\" ~ \"a%c\"") == false)
    assert(numeq(one("1 - 2**3"), -7))
    assert(numeq(one("10**-2"), 0.01))
    assert(col0("list([0.0, 10.0, 1.2]{item ** 2})")
      .map(_.toString.toDouble) == Seq(0.0, 100.0, 1.44))
  }

  test("arith type errors: string+int, string~int, string-string") {
    intercept[TypeError] { one("\"a\" + 3") }
    intercept[TypeError] { one("\"a\" ~ 3") }
    intercept[TypeError] { one("\"a\" - \"b\"") }
    intercept[TypeError] { one("\"a\" % \"b\"") }
    intercept[TypeError] { one("3 ~ 3") }
  }

  // ---- test_table_arith ---------------------------------------------------

  test("table arith with empty lists: [1]+[2], [1]+[], []+[1], []") {
    assert(col0("[1] + [2]").map(_.toString.toLong) == Seq(1L, 2L))
    assert(col0("[1] + []").map(_.toString.toLong) == Seq(1L))
    assert(col0("[] + [1]").map(_.toString.toLong) == Seq(1L))
    assert(col0("[]").isEmpty)
  }

  // ---- test_logical -------------------------------------------------------

  test("scalar or/and return operands (value semantics)") {
    assert(one("1==0 or isa(1, int)") == true)
    assert(one("1==0 or isa(1, float)") == false)
    assert(one("\"hello\" or \"a\"") == "hello")
    assert(one("\"hello\" and \"a\"") == "a")
    assert(one("\"hello\" and \"\"") == "")
    assert(one("\"\" and \"hello\"") == "")
    assert(one("\"\" or \"hello\"") == "hello")
    assert(one("\"bla\" and \"hello\"") == "hello")
    assert(numeq(one("1 or 2 or 3"), 1))
    assert(numeq(one("1 and 2 and 3"), 3))
    assert(numeq(one("1 and 2 or 3"), 2))
    assert(numeq(one("1 or 2 and 3"), 1))
    intercept[TypeError] { one("\"hello\" or 1") }
  }

  test("table or/and pick the truthy (non-empty) operand") {
    assert(col0("[1] or [2]").map(_.toString.toLong) == Seq(1L))
    assert(col0("[1] and [2]").map(_.toString.toLong) == Seq(2L))
  }

  test("vectorized or/and in projections; boolean column from comparison") {
    // reference test_basic.py:215-223
    val r1 = col0("[0,1,2,3][item < 2]{r: item or 0} order {r}")
      .map(_.toString.toLong)
    assert(r1 == Seq(0L, 1L))
    val r2 = col0("[0,1,2,3][item < 2]{r: item or 10} order {r}")
      .map(_.toString.toLong)
    assert(r2 == Seq(1L, 10L))
    val r3 = rows("[0,1,2,3]{r: item > 1 and item < 3}[r]")
    assert(r3.map(r => asLong(r.head._2)) == Seq(1L))
    val r4 = rows("[0,1,2,3]{r: item < 3, item}[not r]")
    assert(r4.map(_.map { case (k, v) => (k, asLong(v)) }) ==
      Seq(Seq("r" -> 0L, "item" -> 3L)))
  }

  // ---- test_vectorized_logic2 --------------------------------------------

  test("vectorized string or/and keep operand values; auto-name is _") {
    assert(col0("list([\"a\", \"b\"]{length(item)>1 or true})")
      .map(asLong) == Seq(1L, 1L))
    val slice = rows("[\"hello\"]{item[..1]}")
    assert(slice == Seq(Seq("_" -> "h")))
    assert(rows("[\"hello\"]{item or \"a\"}") == Seq(Seq("_" -> "hello")))
    assert(rows("[\"hello\"]{item and \"a\"}") == Seq(Seq("_" -> "a")))
    assert(rows("[\"hello\"]{item and \"\"}") == Seq(Seq("_" -> "")))
    assert(rows("[\"\"]{item or \"a\"}") == Seq(Seq("_" -> "a")))
    assert(rows("[\"\"]{item and \"a\"}") == Seq(Seq("_" -> "")))
    assert(rows("[\"\"]{item or \"\"}") == Seq(Seq("_" -> "")))
    assert(rows("[\"hello\"]{item or \"a\" and \"b\"}") ==
      Seq(Seq("_" -> "hello")))
    assert(rows("[\"hello\"]{item and \"a\" or \"b\"}") ==
      Seq(Seq("_" -> "a")))
    intercept[TypeError] { one("[\"hello\"]{item or 1}") }
  }

  // ---- test_compare -------------------------------------------------------

  test("comparison semantics incl. mixed kinds and null") {
    assert(one("3 != \"3\"") == true)
    assert(one("null != 1") == true)
    assert(one("1 == 1") == true)
    assert(one("1 != 1") == false)
    assert(one("1 > 2") == false)
    assert(one("2 >= 1") == true)
    assert(one("\"a\" == \"a\"") == true)
    assert(one("\"a\" != \"b\"") == true)
    assert(one("1 in [1,2,3]") == true)
    assert(one("1 !in [1,2,3]") == false)
    assert(one("4 in [1,2,3]") == false)
    assert(one("null == null") == true)
    assert(one("null != null") == false)
    assert(one("\"a\" != null") == true)
    intercept[TypeError] { one("2 > \"a\"") }
    intercept[TypeError] { one("1 == [2]") }
    intercept[TypeError] { one("[1] in [2]") }
  }

  // ---- test_list_ops ------------------------------------------------------

  test("list ops: concat/union/except, projections, slices") {
    assert(col0("[1,2,3] + [5,6]").map(_.toString.toLong) ==
      Seq(1L, 2L, 3L, 5L, 6L))
    assert(col0("[1,2,3] | [3,4]").map(_.toString.toLong).sorted ==
      Seq(1L, 2L, 3L, 4L))
    assert(col0("[1,2,3] - [3,4]").map(_.toString.toLong).sorted ==
      Seq(1L, 2L))
    assert(col0("[1,2,3]{v:item*2}[v < 5] order {v}")
      .map(_.toString.toLong) == Seq(2L, 4L))
    assert(col0("[1,2,3]{v:item*2}[v in [2,6]] order {v}")
      .map(_.toString.toLong) == Seq(2L, 6L))
    assert(col0("[1,2,3]{v:item*2}[v !in [2,6]]")
      .map(_.toString.toLong) == Seq(4L))
    assert(col0("enum([1,8,4,4])[index+1==item]{item}")
      .map(_.toString.toLong).sorted == Seq(1L, 4L))
    assert(col0("[1,2,3][..2]").map(_.toString.toLong) == Seq(1L, 2L))
    assert(col0("[1,2,3][1..]").map(_.toString.toLong) == Seq(2L, 3L))
    assert(col0("[1,2,3][1..2]").map(_.toString.toLong) == Seq(2L))
    assert(col0("[1,2,3][1..1]").isEmpty)
    assert(rows("[] {x:0}").isEmpty)
  }

  test("list/projection type errors: mixed list, dup names") {
    intercept[TypeError] { one("[\"a\", 1]") }
    intercept[TypeError] { one("[1] {a: 1, a: 2}") }
    intercept[TypeError] { one("[1] {a: 1 => a: 2}") }
  }

  test("projection of nulls keeps four null columns") {
    // reference test_basic.py:886-887
    val r = rows("[1] {null, null => null, null}")
    assert(r.length == 1 && r.head.length == 4 &&
      r.head.forall(_._2 == null))
  }

  // ---- test_strings -------------------------------------------------------

  test("string membership and slicing") {
    assert(one("upper(\"ba\")") == "BA")
    assert(one("lower(\"BA\")") == "ba")
    assert(one("\"ba\" in \"kabab\"") == true)
    assert(one("\"ba\" !in \"kabab\"") == false)
    assert(one("\"bak\" in \"kabab\"") == false)
    assert(one("\"bak\" !in \"kabab\"") == true)
    assert(one("\"hello\"[0..3]") == "hel")
    assert(one("\"hello\"[1..]") == "ello")
    assert(one("\"hello\"[..1]") == "h")
    assert(one("\"hello\"[2..4]") == "ll")
    assert(one("\"hello\"[1]") == "e")
    assert(numeq(one("length(\"hello\")"), 5))
    assert(col0("list([\"hello\"]{length(item)})")
      .map(_.toString.toLong) == Seq(5L))
    assert(col0("list([\"hello\"]{item[1..2]})") == Seq("e"))
    assert(col0("list([\"hello\"]{item[1]})") == Seq("e"))
  }

  // ---- test_casts ---------------------------------------------------------

  test("casts: float/int round-trips, list[T] casts, strict parse") {
    assert(one("type(float(1))").toString.contains("float"))
    assert(one("type(int(float(1)))").toString.contains("int"))
    assert(col0("list[float]([1,2])").map(_.toString.toDouble) ==
      Seq(1.0, 2.0))
    assert(col0("list[int](list[float]([1,2]))")
      .map(_.toString.toLong) == Seq(1L, 2L))
    assert(col0("list[int]([1.2, 3.4])").map(_.toString.toLong) ==
      Seq(1L, 3L))
    assert(col0("list(list([1,2]{item+1}){item+1})")
      .map(_.toString.toLong) == Seq(3L, 4L))
    assert(one("type(list(list([1,2]{item+1}){item+1}))")
      .toString == "list[int]")
    assert(col0("list([\"1\", \"2\"]{int(item)})")
      .map(_.toString.toLong) == Seq(1L, 2L))
    intercept[Exception] {
      col0("list([\"1\", \"2f\"]{int(item)})")
    }
  }

  // ---- test_range ---------------------------------------------------------

  test("ranges through funcs: [..20], [1..3], [18..] sliced") {
    val r = Interp.run(spark,
      """func to20() = [..20]
        |func abc() = [1..3]
        |func adult() = [18..]
        |to20()""".stripMargin)
    assert(r.df.collect().map(_.getLong(0)).toSeq == (0L until 20L))
    assert(col0("func abc() = [1..3]\nabc()").map(_.toString.toLong) ==
      Seq(1L, 2L))
    assert(col0("func adult() = [18..]\nadult()[..10]")
      .map(_.toString.toLong) == (18L until 28L))
    assert(col0("func adult() = [18..]\nadult()[..10] + adult()[..1]")
      .map(_.toString.toLong) == ((18L until 28L) :+ 18L))
    assert(col0(
      "func adult() = [18..]\nlist( (adult()[..10] + adult()[..1]) {item + 1} )")
      .map(_.toString.toLong) == ((19L until 29L) :+ 19L))
  }

  // ---- test_basic2 --------------------------------------------------------

  test("selection against an aggregate of the same table: x[item == max(x)]") {
    val r = col0("x = [1..4]\nx[item == max(x)]")
    assert(r.map(_.toString.toLong) == Seq(3L))
  }

  test("top-level return is an error") {
    intercept[GraftError] { one("return 1") }
  }

  // ---- test_lists2 --------------------------------------------------------

  test("vectorized membership: {item in x{item}} yields 0/1 flags") {
    val r = col0(
      """func in_list(x) = [1,2,3] {item in x{item}}
        |func test() = in_list([2, 3])
        |list(test())""".stripMargin).map(asLong)
    assert(r == Seq(0L, 1L, 1L))
  }

  // ---- test_repeat --------------------------------------------------------

  test("repeat auto-names its column") {
    val r = rows("[1,2,3]{repeat(\"a\", item)} order {repeat}")
    assert(r.map(_.head) == Seq("repeat" -> "a", "repeat" -> "aa",
      "repeat" -> "aaa"))
  }

  // ---- test_builtins ------------------------------------------------------

  test("builtins: round, length/lower/upper, str_index, char family") {
    assert(col0("list([1.1, 2.3]{round(item)})")
      .map(_.toString.toDouble) == Seq(1.0, 2.0))
    assert(numeq(one("round(1.3)"), 1.0))
    assert(col0("list([\"A\", \"Ab\"]{length(item)})")
      .map(_.toString.toLong) == Seq(1L, 2L))
    assert(col0("list([\"A\", \"Ab\"]{lower(item)})") == Seq("a", "ab"))
    assert(col0("list([\"A\", \"Ab\"]{upper(item)})") == Seq("A", "AB"))
    assert(numeq(one("length(\"Ab\")"), 2))
    assert(one("lower(\"Ab\")") == "ab")
    assert(one("upper(\"Ab\")") == "AB")
    assert(col0("list([\"Ab\", \"Aab\"]{str_index(\"b\", item)})")
      .map(_.toString.toLong) == Seq(1L, 2L))
    assert(numeq(one("str_index(\"b\", \"Ab\")"), 1))
    assert(one("char(65)") == "A")
    assert(numeq(one("char_ord(\"A\")"), 65))
    assert(col0("char_range(\"a\", \"c\")") == Seq("a", "b", "c"))
  }

  // ---- test_json (chained group-by) ---------------------------------------

  test("chained group-by: {item%2 => item}{count(item)}") {
    val r = col0("list([1,7,3,4]{item%2 => item}{count(item)} order {count})")
      .map(_.toString.toLong)
    assert(r == Seq(1L, 3L))
  }

  // ---- test_triple_join ---------------------------------------------------

  test("triple join on explicit columns") {
    val r = col0(
      "join(a: [1..10].item, b: [2..20].item, c:[3,5,15].item) {c.item} order {item}")
      .map(_.toString.toLong)
    assert(r == Seq(3L, 5L))
  }

  // ---- test_nonzero -------------------------------------------------------

  test("truthiness through a user func, scalar and vectorized") {
    val pre =
      """func f(x) {
        |    if (x) {
        |        return "YES"
        |    } else {
        |        return "NO"
        |    }
        |}
        |func apply_to_list(lst) = list(lst{f(item)})
        |""".stripMargin
    assert(one(pre + "f(1)") == "YES")
    assert(one(pre + "f(0)") == "NO")
    assert(one(pre + "f(\"a\")") == "YES")
    assert(one(pre + "f(\"\")") == "NO")
    assert(col0(pre + "apply_to_list([0, 1])") == Seq("NO", "YES"))
    assert(col0(pre + "apply_to_list([\"\", \"a\"])") == Seq("NO", "YES"))
  }

  // ---- test_fmt -----------------------------------------------------------

  test("fmt interpolates scalar bindings") {
    val pre = "a = \"hello\"\nb = \"world\"\n"
    assert(one(pre + "fmt(\"\")") == "")
    assert(one(pre + "fmt(\"a\")") == "a")
    assert(one(pre + "fmt(\"a b c $a\")") == "a b c hello")
    assert(one(pre + "fmt(\"a b c $a $b!\")") == "a b c hello world!")
    assert(one(pre + "fmt(\"$a my $b!\")") == "hello my world!")
  }

  // ---- test_round ---------------------------------------------------------

  test("round: digits, negative digits, half-away-from-zero") {
    assert(numeq(one("round(1928.9182)"), 1929.0))
    assert(numeq(one("round(1928.9182, 0)"), 1929.0))
    assert(numeq(one("round(1928.9182, 1)"), 1928.9))
    assert(numeq(one("round(1928.9182, 2)"), 1928.92))
    assert(numeq(one("round(1928.9182, -1)"), 1930.0))
    assert(numeq(one("round(1928.9182, -3)"), 2000.0))
    assert(numeq(one("round(-59.9)"), -60.0))
    assert(numeq(one("round(-4.535, 2)"), -4.54))
  }

  // ---- test_agg_funcs -----------------------------------------------------

  test("agg funcs: count_true/false on ints, sqsum through a user func") {
    val r = rows("[0, 2, 0, 0, 3, 4, 0] { => count_true(item), count_false(item) }")
    assert(r.map(_.map { case (k, v) => (k, v.toString.toLong) }) ==
      Seq(Seq("count_true" -> 3L, "count_false" -> 4L)))
    assert(numeq(one("func sqsum(x) = sum(x*x)\none [2, 4]{=> sqsum(item)}"), 20))
    assert(numeq(one("sum([2, 4])"), 6))
  }

  // ---- test_SQL / test_SQL2 -----------------------------------------------

  test("SQL escape hatch: scalar snippets, table vars, composition") {
    val pre =
      """table Point {x: int, y: int}
        |new Point(1,3)
        |new Point(2,7)
        |new Point(3,1)
        |new Point(4,2)
        |x = 4
        |""".stripMargin
    assert(numeq(one(pre + "func f1() = SQL(int, \"$x+5\")\nf1()"), 9))
    assert(col0(pre +
      "func f2() = SQL(Point, \"SELECT * FROM $Point WHERE x > 2\")\nf2(){x}")
      .length == 2)
    assert(col0(pre +
      "func f3() = SQL(Point, \"SELECT * FROM $Point\") { x: x /~ 2 => y}\nf3(){x}")
      .length == 3)
    val f4 = col0(pre +
      "zz = Point[x==2]\nfunc f4() = SQL(Point, \"SELECT * FROM $zz\") {y}\nf4()")
    assert(f4.map(_.toString.toLong) == Seq(7L))
    assert(numeq(one(
      "a = [1..10]\nfunc f() = SQL(int, \"SELECT COUNT(*) FROM $a\")\nf()"), 9))
  }

  // ---- test_nested_projections --------------------------------------------

  test("nested projections over joinall structs") {
    // count(b.item) == count(b) (a struct column counts like a field)
    val r1 = rows("joinall(a:[1,2], b:[2, 3]) {a.item => count(b.item)} order {item}")
      .map(_.map { case (k, v) => (k, v.toString.toLong) })
    val r2 = rows("joinall(a:[1,2], b:[2, 3]) {a.item => count(b)} order {item}")
      .map(_.map { case (k, v) => (k, v.toString.toLong) })
    assert(r1.map(_.map(_._2)) == r2.map(_.map(_._2)))
    assert(r1.map(_.head._2) == Seq(1L, 2L) &&
      r1.map(_.last._2) == Seq(2L, 2L))
    // chained group-by ON the agg output: {b => a: count(a)}
    val r3 = rows(
      "one joinall(a:[1,2], b:[2, 3]) {a: a.item => b: count(b.item)} {b => a: count(a)}")
    assert(r3.map(_.map { case (k, v) => (k, v.toString.toLong) }) ==
      Seq(Seq("b" -> 2L, "a" -> 2L)))
    // struct sub-projection variants are equivalent
    val v1 = rows("joinall(a:[1,2], b:[2, 3]) {b{v:item}, a} order {a.item, b.v}")
    val v2 = rows("joinall(a:[1,2], b:[2, 3]) {b{v:item}, a{item}} order {a.item, b.v}")
    val v3 = rows("joinall(a:[1,2], b:[2, 3]) {b{v:item, ...}, a{...}} order {a.item, b.v}")
    assert(v1 == v2 && v1 == v3)
    // nested joinall: 2*2*2 rows; {ab, c} is identity; dotted paths dig
    assert(rows("joinall(ab: joinall(a:[1,2], b:[2,3]), c: [4,5])").length == 8)
    assert(rows("joinall(ab: joinall(a:[1,2], b:[2,3]), c: [4,5]) {ab, c}").length == 8)
    assert(rows("joinall(ab: joinall(a:[1,2], b:[2,3]), c: [4,5]) {ab.a, ab.b, c}").length == 8)
    assert(rows("joinall(ab: joinall(a:[1,2], b:[2,3]), c: [4,5]) {ab.a.item, ab.b.item, c}").length == 8)
  }

  // ---- test_one (extended) ------------------------------------------------

  test("one/one? multiplicity across tables and lists") {
    val pre = "table A { x: int }\ntable B { x: int }\nnew A(2)\n"
    assert(one(pre + "one A{x}").toString.toLong == 2L)
    assert(one(pre + "one? A{x}").toString.toLong == 2L)
    assert(col0(pre + "one? B").isEmpty)
    intercept[ValueError] { one(pre + "one B") }
    assert(numeq(one("one [2]"), 2))
    assert(col0("one? []").isEmpty)
    intercept[ValueError] { one("one [1,2]") }
    intercept[ValueError] { one("one? [1,2]") }
    intercept[ValueError] { one("one []") }
  }

  // ---- test_delete --------------------------------------------------------

  test("delete removes matching rows and returns the table") {
    val pre = "table A { x: int }\nnew A(1)\nnew A(2)\n"
    assert(numeq(one(pre + "count(A)"), 2))
    assert(col0(pre + "A delete [x==1] {x}").map(_.toString.toLong) == Seq(2L))
    assert(col0(pre + "A delete [x==1] delete [x==1] {x}")
      .map(_.toString.toLong) == Seq(2L))
    assert(col0(pre + "A delete [x==1] delete [x==2] {x}").isEmpty)
  }

  // ---- test_join_on -------------------------------------------------------

  test("leftjoin with $on theta keeps unmatched left rows (null right)") {
    val r = rows(
      """A = [1, 3]
        |B = [1, 2]
        |leftjoin(a: A, b: B, $on: a.item > b.item) {ai: a.item, bi: b.item}""".stripMargin)
      .map(row => (row.head._2.toString.toLong,
        Option(row.last._2).map(_.toString.toLong)))
      .sortBy(p => (p._1, p._2.getOrElse(-1L)))
    assert(r == Seq((1L, None), (3L, Some(1L)), (3L, Some(2L))))
  }

  // ---- test_text ----------------------------------------------------------

  test("text columns round-trip multi-line strings") {
    val pre = "table A { x: string }\na = new A(\"hello\")\nb = new A(\"hello\\nworld\")\n"
    assert(one(pre + "one A[id==1]{x}") == "hello")
    assert(one(pre + "one A[id==2]{x}") == "hello\nworld")
  }

  // ---- test_update_basic --------------------------------------------------

  test("updates persist across procedure calls; const table is isolated") {
    val pre =
      """table Point {x: int, y: int}
        |new Point(1,3)
        |new Point(2,7)
        |new Point(3,1)
        |new Point(4,2)
        |const table backup = Point
        |func p2() {
        |    Point[x==3] update{y: y + 13}
        |    return Point[x==3]
        |}
        |""".stripMargin
    val r1 = rows(pre + "p2() {x, y}")
    assert(r1.map(_.map { case (k, v) => (k, v.toString.toLong) }) ==
      Seq(Seq("x" -> 3L, "y" -> 14L)))
    val r2 = rows(pre + "p2()\np2() {x, y}")
    assert(r2.map(_.map { case (k, v) => (k, v.toString.toLong) }) ==
      Seq(Seq("x" -> 3L, "y" -> 27L)))
    // the const snapshot does not see Point's updates
    assert(col0(pre + "p2()\nbackup[x==3]{y}").map(_.toString.toLong) == Seq(1L))
    // and updates ON the snapshot work independently
    assert(col0(pre + "backup[x==3] update {y: x+y}\nbackup[x==3]{y}")
      .map(_.toString.toLong) == Seq(4L))
  }

  // ---- test_partial_table + connect() persistence --------------------------
  // (reference tests/test_basic.py:1246-1277; sql_interface.py:965-1025:
  // connect() to a file-backed DB reopens previously created tables)

  test("partial table re-declare attaches the stored table (test_partial_table)") {
    val out = rows(
      """table A {
        |    a: int
        |    b: int?
        |    c: string
        |    d: float
        |}
        |new A(1, null, "hello", 3.14)
        |A = null
        |table A {
        |    d: float
        |    c: string
        |}
        |A {d, c}""".stripMargin)
    assert(out == Seq(Seq("d" -> 3.14, "c" -> "hello")))
    // declared column must exist in the stored table
    assertThrows[TypeError](rows(
      """table A { a: int }
        |new A(1)
        |A = null
        |table A { nope: int }
        |A""".stripMargin))
    // remove_table DROPS from the database: re-declare creates fresh
    assert(one(
      """table A { a: int }
        |new A(1)
        |remove_table(A)
        |table A { a: int }
        |count(A)""".stripMargin).toString.toLong == 0L)
  }

  test("connect() persistence: mutations survive into a fresh session") {
    val dir = java.nio.file.Files.createTempDirectory("graft_db")
      .toFile.getAbsolutePath
    // session 1: attach a fresh directory, create, insert, flush
    Interp.run(spark,
      s"""connect("$dir")
         |table Point { x: int, y: int }
         |new Point(1, 2)
         |new Point(3, 4)
         |commit()
         |[0]""".stripMargin)
    // session 2: FRESH session state — connect() reopens the tables
    val s2 = spark.newSession()
    val out = Interp.run(s2,
      s"""connect("$dir")
         |Point {x, y}""".stripMargin)
      .df.collect().map(r => (r.getLong(1 - 1), r.getLong(1))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, 2L), (3L, 4L)))
    // reflective partial re-declare against the reopened catalog
    val out2 = Interp.run(s2,
      s"""connect("$dir")
         |table Point { y: int }
         |Point""".stripMargin).df
    assert(out2.columns.toSeq == Seq("id", "y"))
    assert(out2.collect().map(_.getLong(1)).sorted.toSeq == Seq(2L, 4L))
    // session 2 mutates + commits; session 3 sees the mutations
    Interp.run(s2,
      s"""connect("$dir")
         |Point[x == 3] update {y: y + 10}
         |new Point(5, 6)
         |commit()
         |[0]""".stripMargin)
    val out3 = Interp.run(spark.newSession(),
      s"""connect("$dir")
         |Point {x, y}""".stripMargin)
      .df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(out3.toSeq == Seq((1L, 2L), (3L, 14L), (5L, 6L)))
    // a PARTIAL re-declare is a namespace VIEW: committing after it
    // must NOT narrow the stored table (the projected binding would
    // otherwise re-register and persist() would drop column x)
    Interp.run(spark.newSession(),
      s"""connect("$dir")
         |table Point { y: int }
         |commit()
         |[0]""".stripMargin)
    val out4 = Interp.run(spark.newSession(),
      s"""connect("$dir")
         |Point {x, y}""".stripMargin).df
    assert(out4.columns.toSeq == Seq("x", "y"),
      "commit() after a partial declare must keep every stored column")
    assert(out4.count() == 3)
  }

  // ---- namespace completeness: import_*/dir/exit/inspect_sql ---------------

  test("import_table reflects a stored table, optionally whitelisting columns") {
    // reference pql_functions.py:689-711 (import_table("name", [cols]))
    val out = rows(
      """table A { x: int, y: int }
        |new A(1, 2)
        |A = null
        |import_table("A", ["x"])
        |A""".stripMargin)
    assert(out == Seq(Seq("x" -> 1L)))
    assertThrows[NameError](rows("import_table(\"nope\")\n[0]"))
    assertThrows[NameError](rows(
      "table A { x: int }\nA = null\nimport_table(\"A\", [\"zz\"])\n[0]"))
  }

  test("import_csv appends file rows into an existing table; import_json creates one") {
    val dir = java.nio.file.Files.createTempDirectory("graft_imp")
    val csv = dir.resolve("rows.csv")
    java.nio.file.Files.write(csv, "7,seven\n8,eight\n".getBytes("UTF-8"))
    val out = rows(
      s"""table A { x: int, name: string }
         |new A(1, "one")
         |import_csv(A, "$csv")
         |A {x, name} order {x}""".stripMargin)
    assert(out.map(_.map { case (k, v) => (k, v.toString) }) == Seq(
      Seq("x" -> "1", "name" -> "one"),
      Seq("x" -> "7", "name" -> "seven"),
      Seq("x" -> "8", "name" -> "eight")))
    val json = dir.resolve("rows.json")
    java.nio.file.Files.write(json,
      "{\"a\": 1, \"b\": \"p\"}\n{\"a\": 2, \"b\": \"q\"}\n".getBytes("UTF-8"))
    val out2 = rows(
      s"""import_json("J", "$json")
         |J {a, b} order {a}""".stripMargin)
    assert(out2.map(_.map { case (k, v) => (k, v.toString) }) == Seq(
      Seq("a" -> "1", "b" -> "p"), Seq("a" -> "2", "b" -> "q")))
  }

  test("dir aliases names; inspect_sql returns the compiled plan; qualified name quotes") {
    assert(col0("x = 5\ndir()[type == \"int\"]{name}") == Seq("x"))
    val plan = one("inspect_sql([1, 2]{item + 1})").toString
    assert(plan.contains("Project") || plan.contains("LocalRelation"),
      s"not a plan: $plan")
    assert(one("get_qualified_name(\"nation\")") == "`nation`")
  }

  test("catalog roundtrip survives bare-only tables (all-empty pk/fk manifest)") {
    val cat = new graft.catalog.Catalog(spark)
    import org.apache.spark.sql.types.{StructField, StringType}
    cat.create("b1", Seq(StructField("name", StringType)), bare = true)
    cat.insertRow("b1", Map("name" -> "x"))
    val dir = java.nio.file.Files.createTempDirectory("graft_bare").toString
    cat.saveTo(dir)
    val cat2 = new graft.catalog.Catalog(spark)
    assert(cat2.attach(dir) == Seq("b1"))
    assert(cat2.get("b1").columns == Seq("name"))
    assert(cat2.get("b1").df.collect().map(_.getString(0)).toSeq == Seq("x"))
  }

  test("import_csv ignores file columns the table does not declare") {
    val csv = java.nio.file.Files.createTempFile("graft_extra", ".csv")
    java.nio.file.Files.write(csv, "x,name,extra\n7,seven,zzz\n".getBytes("UTF-8"))
    val out = rows(
      s"""table A { x: int, name: string }
         |import_csv(A, "$csv", true)
         |A""".stripMargin)
    // the undeclared 'extra' column must NOT widen the table
    assert(out.head.map(_._1) == Seq("id", "x", "name"))
    assert(out.map(_.drop(1).map { case (k, v) => (k, v.toString) }) ==
      Seq(Seq("x" -> "7", "name" -> "seven")))
    // headerless positional binding: stray TRAILING columns drop the
    // same way (naive renaming crashed toDF on the arity mismatch)
    val csv2 = java.nio.file.Files.createTempFile("graft_extra2", ".csv")
    java.nio.file.Files.write(csv2, "9,nine,zzz,17\n".getBytes("UTF-8"))
    val out2 = rows(
      s"""table B { x: int, name: string }
         |import_csv(B, "$csv2")
         |B""".stripMargin)
    assert(out2.head.map(_._1) == Seq("id", "x", "name"))
    assert(out2.map(_.drop(1).map { case (k, v) => (k, v.toString) }) ==
      Seq(Seq("x" -> "9", "name" -> "nine")))
  }

  test("run_statement executes raw SQL for effect with $var interpolation") {
    // reference __builtins__.pql:559-561: force_eval(SQL(nulltype, code))
    assert(col0("x = 41\nrun_statement(\"SELECT $x + 1\")\n[7]")
      .map(_.toString.toLong) == Seq(7L))
  }

  test("exit() raises the interpreter-exit control signal") {
    val e = intercept[Interp.ExitInterp](rows("x = 1\nexit(x)\n[99]"))
    assert(e.value.contains(1L))
    // typed as the WHOLE input (the REPL case) the call lands in
    // result position — it must still raise, not NameError
    val e2 = intercept[Interp.ExitInterp](Interp.run(spark, "exit()"))
    assert(e2.value.isEmpty)
  }

  // ---- test_threading (shared interpreter) ---------------------------------

  test("shared interpreter: 100 threaded inserts through ONE session land exactly once") {
    // reference test_threading (tests/test_basic.py): ThreadPool(10)
    // maps p.add_n over range(100) against ONE Preql handle, then
    // asserts len(a) == 101 and a{item} - [..100] == []
    val sess = new Interp.Session(spark)
    sess.exec(
      """table a = [0]
        |
        |func add_n(n) = new a(n)""".stripMargin)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(10)
    try {
      val futures = (0 until 100).map { n =>
        pool.submit(new Runnable {
          def run(): Unit = sess.exec(s"add_n($n)")
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    assert(sess.run("count(a)").df.head.get(0).toString.toLong == 101L)
    assert(sess.run("a{item} - [0..100]").df.count() == 0L)
  }

  test("session state persists definitions and mutations across runs") {
    val sess = new Interp.Session(spark)
    sess.exec("table Point { x: int, y: int }")
    sess.exec("new Point(1, 2)")
    sess.exec("func dbl(v) = v * 2")
    assert(sess.run("one one Point[x == 1] {y}").df
      .head.get(0).toString.toLong == 2L)
    assert(sess.run("dbl(21)").df.head.get(0).toString.toLong == 42L)
    sess.exec("Point[x == 1] update {y: y + 10}")
    assert(sess.run("one one Point[x == 1] {y}").df
      .head.get(0).toString.toLong == 12L)
  }

  // ---- examples/airports.pql (local-fixture twin) -------------------------
  // (reference imports a JSON of airports from a URL, strips fields
  // with ellipsis-exclude, sorts by elevation desc, and counts per
  // country; zero-egress here, so the same script runs on a local file)

  test("airports.pql shape: import_json, exclude, order desc, grouped count") {
    val f = java.nio.file.Files.createTempFile("airports", ".json")
    java.nio.file.Files.writeString(f,
      """{"code":"BPX","name":"Bangda","country":"China","elev":14219,"url":"x","tz":"t","phone":"p","email":"e","type":"intl"}
        |{"code":"LPB","name":"El Alto","country":"Bolivia","elev":13325,"url":"x","tz":"t","phone":"p","email":"e","type":"intl"}
        |{"code":"JUL","name":"Juliaca","country":"Peru","elev":12552,"url":"x","tz":"t","phone":"p","email":"e","type":"dom"}
        |{"code":"CUZ","name":"Velazco Astete","country":"Peru","elev":10860,"url":"x","tz":"t","phone":"p","email":"e","type":"intl"}
        |""".stripMargin)
    try {
      val pre =
        s"""import_json("airports", "${f}")
           |airports_short = airports{... !url !tz !phone !email !type}
           |airports_by_highest = airports order {^elev}
           |airports_by_country = airports {country => airport_count: count()} order {^airport_count}
           |""".stripMargin
      // unhelpful fields dropped, order preserved otherwise
      val shortCols = Interp.run(spark, pre + "airports_short").df.columns.toSeq
      assert(!shortCols.exists(Set("url", "tz", "phone", "email", "type")))
      assert(shortCols.contains("code") && shortCols.contains("elev"))
      // highest-first ordering
      assert(col0(pre + "airports_by_highest {code}").map(_.toString) ==
        Seq("BPX", "LPB", "JUL", "CUZ"))
      // per-country counts, most airports first
      assert(rows(pre + "airports_by_country").map(_.map {
        case (k, v) => (k, v.toString) }) == Seq(
        Seq("country" -> "Peru", "airport_count" -> "2"),
        Seq("country" -> "Bolivia", "airport_count" -> "1"),
        Seq("country" -> "China", "airport_count" -> "1")) ||
        // China/Bolivia tie at 1 — either order is a correct sort
        rows(pre + "airports_by_country").head.head._2 == "Peru")
    } finally java.nio.file.Files.deleteIfExists(f)
  }

  // ---- test_transaction1 / test_transaction2 ------------------------------
  // (reference tests/test_basic.py: a signal ESCAPING the transaction
  // block rolls its mutations back; a signal caught INSIDE the block
  // lets the transaction complete and its mutations persist)

  test("transaction1: uncaught throw inside transaction rolls back the insert") {
    val out = col0(
      """table a { x: int }
        |try {
        |  transaction {
        |    new a(4)
        |    throw new Exception("Some Error")
        |  }
        |} catch (Exception) {
        |}
        |[1]{c: count(a)}""".stripMargin)
    assert(out.map(_.toString.toLong) == Seq(0L)) // `assert not p.a`
  }

  test("transaction2: throw caught inside the transaction commits the insert") {
    val out = col0(
      """table a { x: int }
        |transaction {
        |  try {
        |    new a(5)
        |    throw new Exception("A")
        |  } catch (Exception) {
        |  }
        |}
        |a{x}""".stripMargin)
    assert(out.map(_.toString.toLong) == Seq(5L)) // list(a{x}) == [5]
  }

  // ---- test_new_freezes_values (issue #7) ---------------------------------

  test("new freezes evaluated values: random() inserts a stable row") {
    // would fail if the random re-evaluated on every read of the table
    val r = col0(
      """table a{x: float}
        |row = new a(random())
        |assert row.x in a{x}
        |a{x}""".stripMargin)
    assert(r.length == 1)
  }

  // ---- test_keywords ------------------------------------------------------

  test("named arguments: defaults fill, duplicates error") {
    val pre = "func f(a, b=4) = a + b\n"
    assert(numeq(one(pre + "f(b: 2, a: 3)"), 5))
    assert(numeq(one(pre + "f(3, b: 10)"), 13))
    intercept[TypeError] { one(pre + "f(3, a: 10)") }
  }

  // ---- test_basic1: _test_ellipsis / _test_ellipsis_exclude ---------------

  test("ellipsis ordering and consumption rules") {
    val pre =
      """table Person { name: string, country: int }
        |new Person("Erez", 1)
        |""".stripMargin
    def keys(q: String): Seq[String] =
      Interp.run(spark, pre + q).df.columns.toSeq
    // explicit fields first, remaining columns in table order
    assert(keys("Person {name, ...}") == Seq("name", "id", "country"))
    assert(keys("Person {country, ...}") == Seq("country", "id", "name"))
    assert(keys("Person {..., id}") == Seq("name", "country", "id"))
    assert(keys("Person {country, ..., id}") == Seq("country", "name", "id"))
    // a renamed BARE column is consumed; a computed expr is not
    assert(keys("Person {name2: name, ...}") == Seq("name2", "id", "country"))
    assert(keys("Person {name2: name, ..., name3: name}") ==
      Seq("name2", "id", "country", "name3"))
    assert(keys("Person {name2: name + \"!\", ...}") ==
      Seq("name2", "id", "name", "country"))
    assert(keys("Person {name2: name + \"!\", ..., name3: name}") ==
      Seq("name2", "id", "country", "name3"))
    // errors: named ellipsis, ellipsis in an expression, unknown or
    // total exclusion
    intercept[graft.lang.ParseError] { one(pre + "Person {x: ...}") }
    intercept[graft.lang.ParseError] { one(pre + "Person {...+\"a\", 2}") }
    intercept[NameError] { one("[3]{... !hello}") }
    intercept[TypeError] { one("[3]{... !item}") }
  }

  // ---- test_foreign_key ---------------------------------------------------

  test("FK to a specific column drives auto-join") {
    val pre =
      """table Point { x: int, y: int }
        |table HRuler { x_axis: Point.x }
        |new Point(1, 1)
        |new Point(3, 3)
        |new Point(3, 4)
        |new HRuler(3)
        |""".stripMargin
    assert(col0(pre + "join(h: HRuler, p: Point) {p.y} order {y}")
      .map(_.toString.toLong) == Seq(3L, 4L))
    assert(col0(pre + "new HRuler(4)\njoin(h: HRuler[x_axis==4], p: Point) {p.y}")
      .isEmpty)
  }

  // ---- test_join_to_temptable ---------------------------------------------

  test("temptable of a leftjoin selects on struct fields") {
    val pre =
      """l1 = [1, 2, 3]
        |l2 = [1, 2, 4]
        |t = temptable(leftjoin(a: l1.item, b: l2.item))
        |""".stripMargin
    assert(col0(pre + "t[a.item == 1] {a.item}").map(_.toString.toLong) ==
      Seq(1L))
    assert(col0(pre + "t[b.item == null] {a.item}").map(_.toString.toLong) ==
      Seq(3L))
  }

  // ---- test_table_from_expr -----------------------------------------------

  test("table a = expr creates an insertable table") {
    val r = col0(
      """table a = [1..3]
        |new a(5)
        |a{item} order {item}""".stripMargin).map(_.toString.toLong)
    assert(r == Seq(1L, 2L, 5L))
  }

  // ---- test_user_functions2 -----------------------------------------------

  test("type(f) surfaces the annotated function signature") {
    assert(one("func f(x: int, y: list[string]) = 0\ntype(f)").toString ==
      "function[int, list[string]]")
  }

  // ---- test_basic1 over country_person.pql --------------------------------

  private val countryPerson =
    """table Country {
      |    name: string
      |    language: string
      |}
      |table Person {
      |    name: string
      |    country: Country
      |}
      |isr = new Country("Israel", "he")
      |eng = new Country("England", language:"en")
      |us = new Country(language:"en", name:"United States")
      |me = new Person("Erez Shinan", isr)
      |new Person("Ephraim Kishon", isr)
      |new Person("Eric Blaire", eng)
      |new Person("H.G. Wells", eng)
      |new Person("John Steinbeck", us)
      |""".stripMargin

  test("country_person: selections against row bindings") {
    assert(col0(countryPerson +
      "func query1() = list(Country[language==\"en\"]{name})\nquery1()")
      .toSet == Set("England", "United States"))
    assert(col0(countryPerson + "list(Person[country==isr]{name})").toSet ==
      Set("Erez Shinan", "Ephraim Kishon"))
    assert(col0(countryPerson + "list(Person[id!=me]{name})").toSet ==
      Set("Ephraim Kishon", "Eric Blaire", "H.G. Wells", "John Steinbeck"))
  }

  test("country_person: auto-join directions and manual join") {
    val expectEn = Seq(("Eric Blaire", "England"), ("H.G. Wells", "England"),
      ("John Steinbeck", "United States"))
    def pairs(q: String): Seq[(String, String)] =
      rows(countryPerson + q).map(r =>
        (r.head._2.asInstanceOf[String], r.last._2.asInstanceOf[String]))
    assert(pairs("join(c: Country[language==\"en\"].id, p: Person.country) { p.name, country: c.name } order {name}") == expectEn)
    assert(pairs("join(c: Country[language==\"en\"], p: Person) { p.name, country: c.name } order {name}") == expectEn)
    assert(pairs("join(p: Person, c: Country[language==\"en\"]) { p.name, country: c.name } order {name}") == expectEn)
    // leftjoin keeps the LEFT side: all five people vs only en countries
    val lj = pairs("leftjoin(p: Person, c: Country[language==\"en\"]) { p.name, country: c.name } order {name}")
    assert(lj.length == 5 &&
      lj.filter(_._2 != null) == expectEn &&
      lj.collect { case (n, null) => n } ==
        Seq("Ephraim Kishon", "Erez Shinan"))
    assert(pairs("leftjoin(c: Country[language==\"en\"], p: Person) { p.name, country: c.name } order {name}") == expectEn)
    val byCountry = pairs("leftjoin(c: Country, p: Person[id==me]) { person: p.name, country: c.name } order {country}")
    assert(byCountry == Seq((null, "England"), ("Erez Shinan", "Israel"),
      (null, "United States")))
    // a func returning a join keeps its aliases projectable
    assert(pairs(
      "func j() = join(c: Country[language==\"en\"], p: Person)\nj() {person: p.name, country: c.name} order {person}") == expectEn)
  }

  test("country_person: higher-order functions (function values)") {
    // reference _test_user_functions: q2 returns q1 itself; query7
    // returns query6, applied through query8
    val pre = countryPerson +
      """func q1() = Person
        |func q2() = q1
        |func query3() = Person[id != me]
        |func query6(c) = query3()[country == c]
        |func query7() = query6
        |func query8(ccc) = query7()(ccc)
        |""".stripMargin
    assert(col0(pre + "q2()()[id == me] {name}") == Seq("Erez Shinan"))
    assert(col0(pre + "query6(isr){name}") == Seq("Ephraim Kishon"))
    assert(col0(pre + "query8(isr) {name}") == Seq("Ephraim Kishon"))
  }

  test("country_person: group-by forms and collected citizens") {
    assert(numeq(one("one one [1,2,3]{=>sum(item*item)}"), 14))
    val langs = rows(countryPerson +
      "Country {language => count(id)} order {language}")
    assert(langs.map(r => (r.head._2, r.last._2.toString.toLong)) ==
      Seq(("en", 2L), ("he", 1L)))
    assert(rows(countryPerson + "Country {=> first(id)}").length == 1)
    val pop = rows(countryPerson +
      "join(p: Person, c: Country) {country: c.name => population: count(p.id)} order {country}")
    assert(pop.map(r => (r.head._2, r.last._2.toString.toLong)) ==
      Seq(("England", 2L), ("Israel", 2L), ("United States", 1L)))
    val cit = rows(countryPerson +
      "join(p: Person, c: Country) {country: c.name => citizens: p.name} order {country}")
    assert(cit.map(_.head._2) == Seq("England", "Israel", "United States"))
    assert(cit.map(_.last._2.asInstanceOf[scala.collection.Seq[Any]].toSet) ==
      Seq(Set("Eric Blaire", "H.G. Wells"),
        Set("Ephraim Kishon", "Erez Shinan"), Set("John Steinbeck")))
  }

  test("country_person: temptable materialization shapes") {
    assert(col0(countryPerson +
      "english_countries = temptable(Country[language==\"en\"], true)\n" +
      "english_countries{name} order {name}") ==
      Seq("England", "United States"))
    assert(col0(countryPerson +
      "names = temptable(Person{name})\nnames{name} order {name}") ==
      Seq("Ephraim Kishon", "Erez Shinan", "Eric Blaire", "H.G. Wells",
        "John Steinbeck"))
    val tj = rows(countryPerson +
      "temptable(join(c: Country[language==\"en\"], p: Person)) {person: p.name, country: c.name} order {person}")
    assert(tj.map(r => (r.head._2, r.last._2)) ==
      Seq(("Eric Blaire", "England"), ("H.G. Wells", "England"),
        ("John Steinbeck", "United States")))
    assert(col0(countryPerson +
      "temptable(temptable(Person, true)[name==\"Erez Shinan\"], true){name}") ==
      Seq("Erez Shinan"))
  }

  // ---- test_rowtype / test_vararg -----------------------------------------

  test("row values compare structurally; vararg dicts nest and spread") {
    val pre =
      """table A { x: int }
        |a = new A(4)
        |table B { a: A }
        |b = new B(a)
        |""".stripMargin
    assert(one(pre + "a == a") == true)
    assert(one(pre + "b == b") == true)
    assert(numeq(one(pre + "a.x"), 4))
    assert(numeq(one(pre + "b.a.x"), 4))
    val vf = "func f(...x) = x\n"
    assert(numeq(one(vf + "f(a:1, b:f(c:3, d:4)).b.c"), 3))
    assert(one(vf + "x1 = f(a:1, b:2)\nx2 = f(...x1)\nx1 == x2") == true)
  }

  // ---- test_dates ---------------------------------------------------------

  test("timestamp defaults and literals: now() default vs string value") {
    val r = rows(
      """table A { dt: timestamp = now() }
        |x = new A()
        |y = new A(x.dt)
        |z = new A("2021-04-02 22:28:41")
        |A {id, dt} order {id}""".stripMargin)
    assert(r.length == 3)
    val dts = r.map(_.last._2)
    assert(dts(0) == dts(1), "y copies x's frozen timestamp")
    assert(dts(0) != dts(2), "explicit literal differs from now()")
    assert(dts(2).toString.startsWith("2021-04-02"))
  }

  // ---- stdlib coverage: named set ops, limit_offset, cast, issubclass ----

  test("stdlib: named table ops, limit_offset, cast, issubclass, removal") {
    assert(col0("table_concat([1,2], [2,3])").map(_.toString.toLong) ==
      Seq(1L, 2L, 2L, 3L))
    assert(col0("table_union([1,2], [2,3])").map(_.toString.toLong).sorted ==
      Seq(1L, 2L, 3L))
    assert(col0("table_intersect([1,2], [2,3])").map(_.toString.toLong) ==
      Seq(2L))
    assert(col0("table_substract([1,2], [2,3])").map(_.toString.toLong) ==
      Seq(1L))
    // the reference registers the impl under 'table_subtract'
    // (pql_functions.py:1111) — the real spelling must work too
    assert(col0("table_subtract([1,2], [2,3])").map(_.toString.toLong) ==
      Seq(1L))
    assert(col0("limit_offset([10..20], 3, 2)").map(_.toString.toLong) ==
      Seq(12L, 13L, 14L))
    assert(numeq(one("cast(5, float)"), 5.0))
    assert(numeq(one("cast(\"12\", int)"), 12))
    assert(col0("list([1.9, 2.1]{cast(item, int)})")
      .map(_.toString.toLong) == Seq(1L, 2L))
    assert(one("issubclass(int, number)") == true)
    assert(one("issubclass(int, string)") == false)
    assert(one("str_contains(\"ell\", \"hello\")") == true)
    assert(one("str_notcontains(\"xyz\", \"hello\")") == true)
    assert(one("get_db_type()") == "spark")
    // remove_table drops the binding; _if_exists tolerates absence
    intercept[NameError] {
      one("table A { x: int }\nremove_table(A)\ncount(A)")
    }
    assert(numeq(one(
      "table A { x: int }\nremove_table_if_exists(B)\ncount(A)"), 0))
  }

  test("add_index clusters a persistent table (pql_functions.py:1043-1078)") {
    // the reference docstring example: a method of the table type
    val out = Interp.run(spark,
      "table x = [3,1,2]{item}\nx.add_index(\"item\")\nx")
    assert(out.df.collect().map(_.get(0).toString.toLong).sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // the rebound table is physically clustered on the indexed column
    assert(out.df.queryExecution.optimizedPlan.toString
      .contains("RepartitionByExpression"))
    // also registered as a global (pql_functions.py:1081)
    assert(numeq(one(
      "table y = [1,2]{item}\nadd_index(y, \"item\", false)\ncount(y)"), 2))
    // non-persistent receiver mirrors the reference TypeError
    intercept[TypeError] {
      Interp.run(spark, "z = [1,2]{item}\nz.add_index(\"item\")\nz")
    }
    // the receiver resolves by VALUE (reference reads the table's
    // options['name']): an alias to a persistent table indexes it...
    assert(numeq(one(
      "table p = [1,2]{item}\nq2 = p\nq2.add_index(\"item\")\ncount(p)"), 2))
    // ...while a DERIVED rebinding of the name is no longer the
    // persistent table — TypeError, and the binding is untouched
    assert(numeq(one(
      """table v = [1,2,3]{item}
        |v = v[item > 1]
        |caught = 0
        |try {
        |  v.add_index("item")
        |} catch (e: TypeError) {
        |  caught = 1
        |}
        |count(v) + caught""".stripMargin), 3))
    // unknown receiver is a NameError, not a persistence complaint
    intercept[NameError] {
      Interp.run(spark, "nosuch.add_index(\"c\")\n[1]{item}")
    }
    // unknown column is a NameError
    intercept[NameError] {
      Interp.run(spark, "table w = [1]{item}\nw.add_index(\"nope\")\nw")
    }
  }

  // ---- examples/movie_recommender.pql -------------------------------------

  test("movie recommender example runs end-to-end") {
    val prog =
      """table movies {
        |    movieId: int
        |    title: string
        |}
        |table ratings {
        |    userId: int
        |    movieId: movies.movieId
        |    rating: float
        |}
        |new movies(1, "A")
        |new movies(2, "B")
        |new movies(3, "C")
        |new movies(4, "D")
        |new ratings(1, 1, 5.0)
        |new ratings(1, 3, 4.0)
        |new ratings(2, 1, 3.0)
        |new ratings(2, 4, 2.0)
        |new ratings(3, 2, 1.0)
        |new ratings(3, 4, 5.0)
        |func recommend(liked_movie_ids) {
        |    liked_ratings = ratings[movieId in liked_movie_ids]
        |    user_similarity = liked_ratings {
        |        userId
        |          =>
        |        similarity_score: sum(rating)
        |    }
        |    unseen_ratings = ratings[movieId !in liked_movie_ids]
        |    unseen_ratings_with_similarity = \
        |        join(
        |            rating: unseen_ratings.userId,
        |            rater: user_similarity.userId
        |        ) {
        |            rater.similarity_score
        |            ...rating
        |        }
        |    movie_score = unseen_ratings_with_similarity {
        |        movieId
        |          =>
        |        score: sum(similarity_score * rating)
        |    }
        |    return movie_score order{ ^score }
        |}
        |r = recommend([1])
        |join(_: r, m: movies) { Movie: "* " + m.title, _.score } order { ^score }
        |""".stripMargin
    val out = rows(prog).map(row =>
      (row.head._2, row.last._2.toString.toDouble))
    // likes=[1] → sim u1=5, u2=3; unseen scores: C=5*4=20, D=3*2=6
    assert(out == Seq(("* C", 20.0), ("* D", 6.0)))
  }

  // ---- examples/chinook.pql: reflective DDL + relation declarations -------

  test("chinook-style reflective DDL attaches FKs to loaded tables") {
    import graft.dsl.PTable
    // strip the loader's FK metadata — the POINT is that the partial
    // DDL re-attaches it (reference chinook.pql: `table albums {
    // ArtistId: artists.ArtistId, ... }` over a connected database)
    def bare(n: String): (String, PTable) =
      n -> PTable(graft.sources.Tables.load(spark, sf, n).df).named(n)
    val prog =
      """table nation { n_regionkey: region.r_regionkey, ... }
        |table supplier { s_nationkey: nation.n_nationkey, ... }
        |joined = join(s: supplier, n: nation, r: region) {
        |    ...s !s_nationkey !s_acctbal
        |    nation: n.n_name
        |    region: r.r_name
        |}
        |joined order {s_suppkey}
        |""".stripMargin
    val df = Interp.run(spark, prog,
      bare("supplier"), bare("nation"), bare("region")).df
    val sup = graft.sources.Tables.load(spark, sf, "supplier").df
    assert(df.count() == sup.count())
    assert(df.columns.contains("nation") && df.columns.contains("region") &&
      !df.columns.contains("s_nationkey"))
    // grouped ellipsis keys with a collected value (chinook's
    // tracks_with_categories shape)
    val grouped = Interp.run(spark,
      """table nation { n_regionkey: region.r_regionkey, ... }
        |join(n: nation, r: region) { n.n_name => regions: r.r_name }
        |""".stripMargin,
      bare("nation"), bare("region")).df
    assert(grouped.count() == 25)
  }

  // ---- test_threading -----------------------------------------------------

  test("concurrent inserts through one catalog land exactly once") {
    // reference test_threading: 100 threads calling `new a(n)` on a
    // shared interpreter — every row lands, none lost to races
    val cat = new graft.catalog.Catalog(spark)
    cat.register("a", graft.dsl.PTable.fromList(spark, Seq(0L)).named("a"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (1L to 100L).map(n => Future {
      cat.insertRow("a", Map("item" -> n))
    })
    Await.result(Future.sequence(fs), 120.seconds)
    val vals = cat.get("a").df.collect().map(_.getLong(0)).sorted.toSeq
    assert(vals == (0L to 100L))
  }

  // ---- help / force_eval --------------------------------------------------

  test("describe summarizes every numeric column in one pass") {
    val r = rows(
      """table A { x: int, y: float }
        |new A(1, 10.0)
        |new A(2, 20.0)
        |new A(3, 60.0)
        |describe(A) order {column}""".stripMargin)
    assert(r.map(_.head._2) == Seq("id", "x", "y"))
    val y = r.last.toMap
    assert(y("count").toString.toLong == 3L)
    assert(y("mean").toString.toDouble == 30.0)
    assert(y("min").toString.toDouble == 10.0 &&
      y("max").toString.toDouble == 60.0)
    intercept[TypeError] { one("describe([\"a\", \"b\"])") }
  }

  test("help summarizes names; force_eval materializes in place") {
    assert(one("help()").toString.contains("names()"))
    assert(one("func f(x: int, y = 2) = x + y\nhelp(f)") ==
      "func f(x: int, y = ...)")
    assert(one("table A { x: int }\nhelp(A)") ==
      "table A {id: int, x: int}")
    assert(col0("list(force_eval([1,2,3]{item * 2}))")
      .map(_.toString.toLong) == Seq(2L, 4L, 6L))
  }

  // ---- tests/simple2.pql (implicit joins through FK attrs/backrefs) -------

  test("simple2.pql runs verbatim: dotted FK attrs and backrefs") {
    val script = referenceScript("tests/simple2.pql")
    def q(result: String): Seq[Seq[(String, Any)]] =
      rows(script + "\n" + result)
    assert(q("english_speakers {name} order {name}").map(_.head._2) ==
      Seq("Eric Blaire", "H.G. Wells", "John Steinbeck"))
    assert(q("person_and_language order {name}")
      .map(r => (r.head._2, r.last._2)).toSet ==
      Set(("Erez Shinan", "he"), ("Ephraim Kishon", "he"),
        ("Eric Blaire", "en"), ("H.G. Wells", "en"),
        ("John Steinbeck", "en")))
    val cbl = q("country_by_language order {language}")
    assert(cbl.map(_.head._2) == Seq("en", "he"))
    assert(cbl.map(_.last._2.asInstanceOf[scala.collection.Seq[Any]].toSet) ==
      Seq(Set("England", "United States"), Set("Israel")))
    assert(q("population_count order {name}")
      .map(r => (r.head._2, r.last._2.toString.toLong)) ==
      Seq(("England", 2L), ("Israel", 2L), ("United States", 1L)))
    assert(q("population_count2 order {name}")
      .map(r => (r.head._2, r.last._2.toString.toLong)) ==
      Seq(("England", 2L), ("Israel", 2L), ("United States", 1L)))
    val cl = q("citizens_list order {name}")
    assert(cl.map(_.last._2.asInstanceOf[scala.collection.Seq[Any]].toSet) ==
      Seq(Set("Eric Blaire", "H.G. Wells"),
        Set("Ephraim Kishon", "Erez Shinan"), Set("John Steinbeck")))
    assert(q("person_and_country order {id}").map(_.last._2) ==
      Seq("Israel", "Israel", "England", "England", "United States"))
    assert(q("explicit_join {p.name} order {name}").map(_.head._2) ==
      Seq("Eric Blaire", "H.G. Wells", "John Steinbeck"))
  }

  // ---- docs/language.md: free-standing struct values ----------------------

  test("struct literal binds as a value; attr access and type()") {
    // language.md Structs: "essentially dictionaries" — created on
    // the fly, keys are strings, attr access reads fields
    assert(numeq(one("x = {a:1, b:2}\nx.a"), 1))
    assert(numeq(one("{a:1, b:2}.b"), 2))
    assert(one("x = {a:1, b:2.5}\ntype(x)").toString ==
      "struct[a: int, b: float]")
  }

  // ---- docs/tutorial.md REPL snippets -------------------------------------

  test("tutorial: statement-bodied func vectorizes into a projection") {
    // docs/tutorial.md:200-231 — `sign` uses if/else-if/return, and
    // must run BOTH scalar-position and compiled to a vectorized
    // conditional inside a table operation
    val pre =
      """func sign(x) {
        |  if (x == 0) {
        |    return 0
        |  } else if (x > 0) {
        |    return 1
        |  } else {
        |    return -1
        |  }
        |}
        |""".stripMargin
    assert(numeq(one(pre + "sign(-100)"), -1))
    assert(numeq(one(pre + "sign(100)"), 1))
    assert(col0(pre + "[-20, 0, 30]{ sign(item) }")
      .map(_.toString.toLong) == Seq(-1L, 0L, 1L))
  }

  test("tutorial: user func in aggregate position (sqrsum)") {
    // docs/tutorial.md — `func sqrsum(x) = sum(x*x)` then
    // `[1,2,3,4]{ => sqrsum(item)}`: the func body's aggregate
    // applies over the grouped column expression
    assert(numeq(one(
      "func sqrsum(x) = sum(x*x)\n[1,2,3,4]{ => sqrsum(item)}"), 30))
  }

  // ---- tests/simple1.pql (funcs over tables, test_basic.py:1110-1127) -----

  test("simple1.pql runs verbatim: table funcs, order, demography") {
    val script = referenceScript("tests/simple1.pql")
    def q(result: String): Seq[Seq[(String, Any)]] =
      rows(script + "\n" + result)
    assert(q("english {name}").map(_.head._2).toSet ==
      Set("Eric Blaire", "H.G. Wells"))
    assert(q("by_country(\"Israel\") {name}").map(_.head._2) ==
      Seq("Erez Shinan"))
    assert(q("english2").map(_.head._2) ==
      Seq("H.G. Wells", "Eric Blaire"))
    assert(q("english3 {n}").map(_.head._2) ==
      Seq("Eric Blaire", "H.G. Wells"))
    // funcs that take TABLES as parameters chain (_f2 -> _table_func)
    assert(q("f3").map(_.head._2) == Seq("Erez Shinan"))
    assert(q("demography")
      .map(r => (r.head._2, r.last._2.toString.toLong)) ==
      Seq(("England", 2L), ("Israel", 1L)))
  }

  // ---- tests/box_circle.pql (struct columns, const tables) ----------------

  test("box_circle.pql runs verbatim: struct geometry queries") {
    val script = referenceScript("tests/box_circle.pql")
    def q(result: String): Seq[Seq[(String, Any)]] =
      rows(script + "\n" + result)
    // circle1 (3,3 r2) fits only box1 (1,1)-(10,10)
    val c1 = q("circles_contained1() {r}")
    assert(c1.map(_.head._2.toString.toDouble) == Seq(2.0))
    val c2 = q("circles_contained2() {r}")
    assert(c2.map(_.head._2.toString.toDouble) == Seq(2.0))
    assert(q("tmp1 {sx: start.x}").length == 2)
    assert(q("tmp2 {ex: end.x}").length == 1)
  }

  // ---- examples/fizzbuzz.pql ----------------------------------------------

  test("fizzbuzz.pql runs verbatim") {
    val script = referenceScript("examples/fizzbuzz.pql")
    val out = col0(script + "\nlist([1..16]{fizzbuzz(item)})")
    assert(out == Seq("1", "2", "Fizz", "4", "Buzz", "Fizz", "7", "8",
      "Fizz", "Buzz", "11", "Fizz", "13", "14", "FizzBuzz"))
  }

  // ---- zipjoin family in the language -------------------------------------

  test("zipjoin/_left/_longest pair rows positionally in the language") {
    val r = rows("zipjoin(a: [10, 20, 30], b: [\"x\", \"y\"]) {a.item, b.item}")
    assert(r.map(row => (row.head._2.toString.toLong, row.last._2)) ==
      Seq((10L, "x"), (20L, "y")))
    val l = rows("zipjoin_left(a: [10, 20, 30], b: [\"x\", \"y\"]) {a.item, b.item}")
    assert(l.map(row => (row.head._2.toString.toLong, row.last._2)) ==
      Seq((10L, "x"), (20L, "y"), (30L, null)))
    val g = rows("zipjoin_longest(a: [10], b: [\"x\", \"y\"]) {b.item}")
    assert(g.map(_.head._2) == Seq("x", "y"))
  }

  // ---- map_range (reference __builtins__.pql:592-656) ---------------------

  test("table-scalar aggregates localize: stddev/product/list_median") {
    assert(numeq(one("list_median([1, 10, 100])"), 10.0))
    assert(numeq(one("product([2, 3, 4])"), 24.0))
    assert(numeq(one("count_distinct([1, 1, 2])"), 2))
    assert(one("stddev([2, 4])").toString.toDouble > 1.41 &&
      one("stddev([2, 4])").toString.toDouble < 1.42)
  }

  test("map_range fans each row out over int or per-row function bounds") {
    val r1 = rows("map_range([\"a\", \"b\"], 0, 3)")
      .map(row => (row.head._2.toString.toLong, row.last._2))
    assert(r1.sortBy(p => (p._2.toString, p._1)) ==
      Seq((0L, "a"), (1L, "a"), (2L, "a"), (0L, "b"), (1L, "b"), (2L, "b"))
        .sortBy(p => (p._2.toString, p._1)))
    // per-row FUNCTION bound, inclusive (docstring example)
    val r2 = rows("map_range([\"a\", \"ab\"], 1, length)")
      .map(row => (row.head._2.toString.toLong, row.last._2))
    assert(r2.sortBy(p => (p._2.toString, p._1)) ==
      Seq((1L, "a"), (1L, "ab"), (2L, "ab")))
    // user func as the bound
    val r3 = rows("func half(x) = x /~ 2\nmap_range([2, 4], 0, half)")
      .map(row => (row.head._2.toString.toLong, row.last._2.toString.toLong))
    assert(r3.sortBy(p => (p._2, p._1)) ==
      Seq((0L, 2L), (1L, 2L), (0L, 4L), (1L, 4L), (2L, 4L)))
    // EMPTY ranges drop the row (the reference filters i <= end(item))
    // — Spark's sequence() would otherwise step -1 and emit [3, 2, 1]
    assert(rows("map_range([\"a\"], 3, 1)").isEmpty)
    // per-row bound below the start: only rows with room fan out
    val r4 = rows("func less2(x) = x - 2\nmap_range([1, 4], 2, less2)")
      .map(row => (row.head._2.toString.toLong, row.last._2.toString.toLong))
    assert(r4.sortBy(p => (p._2, p._1)) == Seq((2L, 4L)))
  }

  // ---- test_vectorized_logic ----------------------------------------------

  test("if/else-if chains vectorize (sign function)") {
    val pre =
      """func sign(x) {
        |    if (x == 0) {
        |        return 0
        |    } else if (x > 0) {
        |        return 1
        |    } else {
        |        return -1
        |    }
        |}
        |""".stripMargin
    assert(numeq(one(pre + "sign(-1)"), -1))
    assert(numeq(one(pre + "sign(0)"), 0))
    assert(numeq(one(pre + "sign(1)"), 1))
    assert(col0(pre + "list([-2..3]{sign(item)})")
      .map(_.toString.toLong) == Seq(-1L, -1L, 0L, 1L, 1L))
    val agg = col0(pre + "[-2..3]{=>sign(item)}")
    assert(agg.length == 1)
    assert(agg.head.asInstanceOf[scala.collection.Seq[Any]].toSeq
      .map(_.toString.toLong) == Seq(-1L, -1L, 0L, 1L, 1L))
  }

  // ---- test_nested2 (test_basic.py:556-562) -------------------------------

  test("depth-2 nested projections and nested field access") {
    val r = rows(" [1] {a:{b:{item}}} ")
    assert(r.length == 1 && r.head.map(_._1) == Seq("a"))
    val Row(inner: Row) = r.head.head._2
    val Row(item) = inner
    assert(item.toString.toLong == 1L)
    // reprojecting the nested struct and drilling back down agree
    assert(col0("([1] {a:{item}}) {a.item}").map(_.toString.toLong) == Seq(1L))
    val reproj = rows("[1] {a:{item}} {a}")
    assert(reproj.length == 1 && reproj.head.map(_._1) == Seq("a"))
  }

  // ---- test_table_def_dicts (test_basic.py:1501-1507) ---------------------

  test("dict-literal rows form a table ([{a:1,b:2} {a:10,b:20}])") {
    val r = rows(
      """[
        |  {a: 1, b: 2}
        |  {a: 10, b: 20}
        |]{c: a+b}""".stripMargin)
    assert(r.map(_.map { case (k, v) => (k, v.toString.toLong) }) ==
      Seq(Seq("c" -> 3L), Seq("c" -> 30L)))
  }

  // ---- test_struct_inline (test_basic.py:1083-1089) -----------------------

  test("struct spread of a join alias ({...a}); collision renames item1") {
    assert(col0("list(join(a:[1..10].item, b:[8..20].item) {...a})")
      .map(_.toString.toLong).sorted == Seq(8L, 9L))
    val r = rows("joinall(a:[1], b:[2]) {...a, ...b}")
    assert(r.map(_.map { case (k, v) => (k, v.toString.toLong) }) ==
      Seq(Seq("item" -> 1L, "item1" -> 2L)))
  }

  // ---- test_column_default (test_basic.py:1055-1068) ----------------------

  test("DDL column defaults fill omitted trailing args") {
    val pre =
      """table A {
        |    x: int
        |    y: int = 2
        |}
        |a1 = new A(1)
        |a2 = new A(2, 1)
        |""".stripMargin
    assert(col0(pre + "A{y} order {^y}").map(_.toString.toLong) == Seq(2L, 1L))
    assert(one(pre + "a2.y").toString.toLong == 1L)
  }

  // ---- test_names (test_basic.py:1093-1105) -------------------------------

  test("names(t) lists columns + methods; type filter drops functions") {
    assert(col0(
      """table a {x: int}
        |list(names(a)[not (type ~ 'function%')]{name})""".stripMargin) ==
      Seq("id", "x"))
  }

  // ---- test_methods (test_basic.py:701-744) -------------------------------

  test("table methods: area()/is_area_larger() in filters and projections") {
    val pre =
      """table Square {
        |    size: float
        |    func area() = size * size
        |    func is_area_larger(num) = area() > num
        |}
        |s = new Square(4)
        |size4 = Square[size==4]
        |""".stripMargin
    val r = rows(pre + "size4{ area() }")
    assert(r.map(_.map { case (k, v) => (k, v.toString.toDouble) }) ==
      Seq(Seq("area" -> 16.0)))
    assert(one(pre + "count(Square[area() > 18.0])").toString.toLong == 0L)
    assert(one(pre + "count(Square[area() < 18.0])").toString.toLong == 1L)
    assert(one(pre + "count(Square[is_area_larger(18.0)])").toString.toLong == 0L)
    assert(one(pre + "count(Square[is_area_larger(14.0)])").toString.toLong == 1L)
    // a method of ANOTHER table must not leak into this one's scope
    intercept[graft.types.GraftError] {
      rows(pre + "table b { size: int }\nb{area()}")
    }
  }

  test("method call on a table expression: Node[..].children() via this.id") {
    val pre =
      """table Node {
        |    parent: Node?
        |    func children() = join(s:this.id, n:Node.parent) {n}
        |}
        |a = new Node(null)
        |b = new Node(a)
        |c = new Node(a)
        |""".stripMargin
    assert(one(pre + "count(Node[parent==null].children())")
      .toString.toLong == 2L)
  }

  // ---- test_partial_table2 (test_basic.py:1278-1290) ----------------------

  test("table x = expr is CTAS: x = null unbinds, table x {...} re-attaches") {
    val r = rows(
      """table A = [1, 2, 3]
        |A = null
        |table A {...}
        |new A(10)
        |A {item} order {item}""".stripMargin)
    assert(r.map(_.head._2.toString.toLong) == Seq(1L, 2L, 3L, 10L))
  }
}
