package graft

import org.apache.spark.sql.functions._
import graft.dsl._
import graft.functions.PF

class PTableSpec extends SparkSpec {
  private def items(vs: Int*) = PTable.fromList(spark, vs)

  test("literal list is a single-column table named item") {
    assert(items(1, 2, 3).columns == Seq("item"))
    assert(items(1, 2, 3).df.count() == 3)
  }

  test("range is end-exclusive") {
    assert(PTable.range(spark, 1, 4).df.collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 3L))
  }

  test("projection rejects duplicate column names") {
    intercept[graft.types.TypeError] {
      items(1).project("item", "item" -> col("item") * 2)
    }
  }

  test("projectAll supports exclusion and appended overrides") {
    val t = items(1).project("a" -> lit(1), "b" -> lit(2), "c" -> lit(3))
    val out = t.projectAll(exclude = Seq("b"),
      extra = Seq(NamedCol("d", col("a") + 10)))
    assert(out.columns == Seq("a", "c", "d"))
    assert(out.df.head().getInt(2) == 11)
  }

  test("where applies conjunction") {
    assert(items(1, 2, 3, 4).where(col("item") > 1, col("item") < 4)
      .df.count() == 2)
  }

  test("slice is 0-based end-exclusive") {
    val out = items(10, 20, 30, 40, 50).orderBy("item").slice(1, 3)
      .df.collect().map(_.getLong(0))
    assert(out.toSeq == Seq(20L, 30L))
  }

  test("set operations: + is bag concat, | dedups, & intersects, - subtracts") {
    val a = items(1, 2, 2, 3)
    val b = items(2, 3, 4)
    assert((a + b).df.count() == 7)
    assert((a | b).df.count() == 4)
    assert((a & b).df.collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    assert((a - b).df.collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("one returns the single row; errors on 0 or 2+") {
    assert(items(7).one().getLong(0) == 7L)
    intercept[graft.types.ValueError] { items(1, 2).one() }
    intercept[graft.types.ValueError] {
      items(1).where(lit(false)).one()
    }
  }

  test("isEmpty is a limit-1 probe") {
    assert(items(1).where(lit(false)).isEmpty)
    assert(!items(1).isEmpty)
  }

  test("enum attaches 0-based index in current order") {
    val out = items(30, 10, 20).orderBy("item").enum("idx")
      .df.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((0L, 10L), (1L, 20L), (2L, 30L)))
  }

  test("groupBy {keys=>} yields distinct keys; {=>aggs} yields one row") {
    val t = items(1, 1, 2, 2, 3)
    assert(t.groupBy("item")().df.count() == 3)
    val g = t.aggAll("n" -> count(lit(1)), "s" -> sum(col("item")))
    val row = g.df.head()
    assert(row.getLong(0) == 5L && row.getLong(1) == 9L)
  }

  test("charRange yields one char per row, end-exclusive") {
    val out = PTable.charRange(spark, 'a', 'd').df.collect()
      .map(_.getString(0))
    assert(out.sorted.toSeq == Seq("a", "b", "c"))
  }

  test("fromRows rejects a type-mixed column with a typed error") {
    // a column mixing Long and String must raise graft TypeError
    // naming the column, not an opaque encoding ClassCastException
    val e = intercept[graft.types.TypeError] {
      PTable.fromRows(spark, Seq("a", "b"),
        Seq(Seq(1L, "x"), Seq("oops", "y")))
    }
    assert(e.getMessage.contains("'a'"))
    // nulls and Int→Long widening stay accepted
    val ok = PTable.fromRows(spark, Seq("a", "b"),
      Seq(Seq(1, "x"), Seq(null, "y"))).df.collect()
    assert(ok.length == 2)
  }

  test("update is copy-on-write with condition") {
    val t = items(1, 2, 3)
      .update(col("item") === 2)("item" -> (col("item") * 100))
    assert(t.df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 200L))
  }

  test("delete keeps non-matching rows") {
    assert(items(1, 2, 3).delete(col("item") === 2)
      .df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
  }

  test("print sink and inspect_sql (explain) write to stdout") {
    val t = graft.sources.Tables.load(spark, sf, "region")
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      t.print(3)
      t.explain()
    }
    val s = out.toString("UTF-8")
    assert(s.contains("r_name") && s.contains("AFRICA"))
    assert(s.contains("Physical Plan"))
  }

  test("Tables.jdbc reads an external SQL database (embedded Derby)") {
    // Derby ships in /opt/spark/jars — a real in-JVM JDBC database, so
    // the passthrough is exercised end-to-end (connection, schema
    // reflection, row transfer), not mocked
    val dbDir = java.nio.file.Files.createTempDirectory("graft_derby")
      .resolve("db").toString
    val url = s"jdbc:derby:$dbDir;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE ext_nation (nkey INT PRIMARY KEY, nname VARCHAR(32))")
      st.executeUpdate(
        "INSERT INTO ext_nation VALUES (0, 'ALGERIA'), (1, 'ARGENTINA'), (2, 'BRAZIL')")
      st.close()
    } finally conn.close()
    val t = graft.sources.Tables.jdbc(spark, url, "ext_nation",
      name = "ext_nation")
    assert(t.meta.name == "ext_nation")
    val rows = t.df.collect()
      .map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    assert(rows.toSeq == Seq(0 -> "ALGERIA", 1 -> "ARGENTINA", 2 -> "BRAZIL"))
    // a dbtable subquery pushes the predicate to the database side
    val sub = graft.sources.Tables.jdbc(spark, url,
      "(SELECT nkey, nname FROM ext_nation WHERE nkey > 0) q")
    assert(sub.df.count() == 2)
  }

  test("a pinned keyed frame's first selection answers from the PIN, not the latest manifest") {
    val M = graft.sources.Maintenance
    val dir = java.nio.file.Files.createTempDirectory("pt_pin").toString
    val base = spark.range(0, 1000).select(col("id").as("k"),
      (col("id") % 7).cast("double").as("v"))
    M.writeKeyed(base, dir, "k", 4)
    val (df, v) = M.readKeyedPinned(spark, dir)
    val pt = new PTable(df, graft.types.TableMeta.empty,
      Some(KeyedMark(dir, v)))
    // a base commit lands BETWEEN read_keyed and the first selection —
    // the KeyedMark contract says it must not change the frame's rows
    // (ADVICE r12: the un-pinned re-plan read the LATEST manifest, so
    // MV routing at mark.version and the scan disagreed)
    M.upsertKeyed(spark, dir, spark.range(5, 6).select(col("id").as("k"),
      org.apache.spark.sql.functions.lit(99.0).as("v")), "k", 4)
    M.deleteKeyed(spark, dir,
      spark.range(100, 200).select(col("id").as("k")), "k", 4)
    // point-read path (key equality): the pinned value, not 99.0
    assert(pt.where(col("k") === 5L).df.select("v").head.getDouble(0)
      == 5.0)
    // scan path (range predicate): deleted rows still visible at the pin
    assert(pt.where(col("k") >= 100L && col("k") < 200L).df.count()
      == 100L)
    // and the mark's version still matches what the rows answer — the
    // routing precondition
    assert(pt.where(col("k") >= 0L).keyedMark.get.version == v)
    // a frame read fresh (no pin staleness) sees the new state
    val (df2, v2) = M.readKeyedPinned(spark, dir)
    val pt2 = new PTable(df2, graft.types.TableMeta.empty,
      Some(KeyedMark(dir, v2)))
    assert(pt2.where(col("k") === 5L).df.select("v").head.getDouble(0)
      == 99.0)
    assert(pt2.where(col("k") >= 100L && col("k") < 200L).df.count()
      == 0L)
  }

  test("addIndex clusters rows: each partition sorted by the column") {
    val t = graft.sources.Tables.load(spark, sf, "customer")
    val idx = t.addIndex("c_nationkey")
    assert(idx.df.count() == t.df.count())
    val sortedPerPartition = idx.df.select("c_nationkey").rdd
      .mapPartitions { it =>
        val keys = it.map(_.getInt(0)).toSeq
        Iterator(keys == keys.sorted)
      }.collect()
    assert(sortedPerPartition.forall(identity))
  }
}
