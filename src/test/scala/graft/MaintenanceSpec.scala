package graft

import org.apache.spark.sql.functions._
import graft.functions.PF
import graft.sources.Maintenance

/** Behavior of the table-maintenance layer: small-file compaction and
  * Z-order clustering (sources/Maintenance.scala).
  */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("zvalue interleaves bits (known vector) and is a bijection") {
    // a=3 (011), b=5 (101), bits=3: z = a0<<0 | b0<<1 | a1<<2 | b2<<5
    val z = Seq((3L, 5L)).toDF("a", "b")
      .select(PF.zvalue(col("a"), col("b"), 3).as("z"))
      .head().getLong(0)
    assert(z == (1 + 2 + 4 + 32))
    // all 8×8 inputs map to 64 distinct z values in [0, 64)
    val grid = spark.range(0, 64)
      .select((col("id") % 8).as("a"), (col("id") / 8).cast("long").as("b"))
      .select(PF.zvalue(col("a"), col("b"), 3).as("z"))
      .collect().map(_.getLong(0))
    assert(grid.distinct.length == 64 && grid.forall(z => z >= 0 && z < 64))
  }

  test("zvalueSql mirrors zvalue through Spark SQL itself") {
    // the oracle string uses only >> & << + — valid in Spark SQL too,
    // so cross-check the mirror against the Column version directly
    val df = spark.range(0, 500)
      .select((col("id") * 7 % 1024).as("a"), (col("id") * 13 % 1024).as("b"))
    val mismatch = df.select(
        PF.zvalue(col("a"), col("b"), 10).as("zc"),
        expr(PF.zvalueSql("a", "b", 10)).as("zs"))
      .filter(col("zc") =!= col("zs")).count()
    assert(mismatch == 0)
  }

  test("zvalueN: 2-dim case equals zvalue; SQL mirror agrees; 3-dim bijection") {
    val df = spark.range(0, 300)
      .select((col("id") * 7 % 1024).as("a"), (col("id") * 13 % 1024).as("b"),
        (col("id") * 31 % 1024).as("c"))
    val bad2 = df.select(PF.zvalue(col("a"), col("b"), 10).as("z2"),
        PF.zvalueN(Seq(col("a"), col("b")), 10).as("zn"))
      .filter(col("z2") =!= col("zn")).count()
    assert(bad2 == 0)
    val badSql = df.select(
        PF.zvalueN(Seq(col("a"), col("b")), 10).as("zc"),
        expr(PF.zvalueSql("a", "b", 10)).as("zs"))
      .filter(col("zc") =!= col("zs")).count()
    assert(badSql == 0)
    // 4x4x4 grid -> 64 distinct interleaves in [0, 64)
    val grid = spark.range(0, 64).select((col("id") % 4).as("a"),
        (col("id") / 4 % 4).cast("long").as("b"),
        (col("id") / 16).cast("long").as("c"))
      .select(PF.zvalueN(Seq(col("a"), col("b"), col("c")), 2).as("z"))
      .collect().map(_.getLong(0))
    assert(grid.distinct.length == 64 && grid.forall(z => z >= 0 && z < 64))
  }

  test("writeZOrderedN: 3-D low corner lives in one file, data intact") {
    val dir = tmp("graft_zord3")
    val df = spark.range(0, 4096).select(col("id"),
      (col("id") % 16).as("a"), (col("id") / 16 % 16).cast("long").as("b"),
      (col("id") / 256).cast("long").as("c"))
    Maintenance.writeZOrderedN(df, dir, Seq("a", "b", "c"),
      bits = 4, bucketBits = 6)
    val r = spark.read.parquet(dir).withColumn("f", input_file_name())
    assert(r.count() == 4096)
    val hit = r.filter(col("a") < 4 && col("b") < 4 && col("c") < 4)
      .agg(countDistinct(col("f"))).head().getLong(0)
    // low corner: top 6 of 12 bits all zero -> exactly one bucket
    assert(hit == 1, s"3-D low corner should live in one file, hit=$hit")
  }

  test("compactTo rewrites many small files into the exact count, data intact") {
    val in = tmp("graft_cpt_in"); val out = tmp("graft_cpt_out")
    val df = spark.range(0, 1000).select(col("id"), (col("id") * 3).as("v"))
    df.repartition(16).write.mode("overwrite").parquet(in)
    assert(Maintenance.compactTo(spark, in, out, 2) == 2)
    val r = spark.read.parquet(out)
    // project first: Spark 4 forbids nondeterministic expressions
    // directly inside aggregate arguments
    assert(r.select(input_file_name().as("f"))
      .agg(countDistinct(col("f"))).head().getLong(0) == 2)
    assert(r.count() == 1000 &&
      r.agg(sum("v")).head().getLong(0) == df.agg(sum("v")).head().getLong(0))
  }

  test("writeZOrdered clusters: a 2-D range hits few files, data intact") {
    val dir = tmp("graft_zord")
    val df = spark.range(0, 4096).select(
      col("id"), (col("id") % 64).as("a"), (col("id") / 64).cast("long").as("b"))
    Maintenance.writeZOrdered(df, dir, "a", "b", bits = 6, bucketBits = 4)
    val r = spark.read.parquet(dir)
    assert(r.count() == 4096 && !r.columns.contains("__zb"))
    val rf = r.withColumn("f", input_file_name())
    val total = rf.agg(countDistinct(col("f"))).head().getLong(0)
    // low-corner rectangle (both dims < 16): z < 2^8, top-4 bucket = 0
    val hit = rf.filter(col("a") < 16 && col("b") < 16)
      .agg(countDistinct(col("f"))).head().getLong(0)
    assert(hit == 1, s"low corner should live in one file, hit=$hit")
    assert(total >= 8, s"full span should spread across files, total=$total")
  }

  test("writeZOrdered rejects an unsplittable bucketBits") {
    val df = Seq((1L, 1L)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      Maintenance.writeZOrdered(df, "/tmp/never", "a", "b", 4, 9)
    }
  }

  private def fileState(dir: String): Map[String, (Long, Long)] =
    parquetFileState(dir)

  private def kbOf(key: Long, nBuckets: Int): Int =
    Seq(key).toDF("k")
      .select(pmod(graft.ext.TextAnalysis.h60(col("k")), lit(nBuckets.toLong))
        .cast("int")).head().getInt(0)

  test("upsertKeyed merges the batch and leaves untouched buckets byte-identical") {
    val dir = tmp("graft_ups")
    val base = spark.range(0, 200).select(col("id").as("k"),
      (col("id") * 10).as("v"))
    Maintenance.writeKeyed(base, dir, "k", 8)
    val before = fileState(dir)
    // one repriced key + one brand-new key
    val updates = Seq((7L, 777L), (1000L, 42L)).toDF("k", "v")
    Maintenance.upsertKeyed(spark, dir, updates, "k", 8)
    val got = Maintenance.readKeyed(spark, dir).select("k", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 201 && got(7L) == 777L && got(1000L) == 42L &&
      got(8L) == 80L)
    // buckets NOT containing k=7 or k=1000 must be untouched on disk
    // AND still the dirs the new manifest points at
    val touched = Set(kbOf(7L, 8), kbOf(1000L, 8))
    val touchedNames = touched.map(b => f"b$b%05d_")
    val after = fileState(dir)
    val untouchedBefore = before.filterNot { case (p, _) =>
      touchedNames.exists(p.contains) }
    assert(untouchedBefore.nonEmpty, "test needs some untouched bucket")
    untouchedBefore.foreach { case (p, st) =>
      assert(after.get(p).contains(st), s"untouched file rewritten: $p")
    }
    val m = Maintenance.readManifest(spark, dir)
    assert(m.version == 2)
    m.buckets.foreach { case (b, d) =>
      val wantGen = if (touched.contains(b)) 2 else 1
      assert(d.contains(f"_g$wantGen%09d"), s"bucket $b at wrong gen: $d")
    }
  }

  test("merge job reads only the touched buckets' live dirs") {
    val dir = tmp("graft_upsp")
    Maintenance.writeKeyed(
      spark.range(0, 100).select(col("id").as("k"), col("id").as("v")),
      dir, "k", 8)
    // manifest-resolved path pruning: a snapshot read of the table
    // lists every live bucket; the merge base reads ONLY touched dirs
    val allFiles = Maintenance.readKeyed(spark, dir).inputFiles.toSet
    val b7 = kbOf(7L, 8)
    Maintenance.upsertKeyed(spark, dir, Seq((7L, -1L)).toDF("k", "v"), "k", 8)
    val m = Maintenance.readManifest(spark, dir)
    val liveNow = Maintenance.readKeyed(spark, dir).inputFiles.toSet
    // every untouched bucket's files are the SAME file paths as v1 —
    // the merge never opened (let alone rewrote) them
    val untouched = allFiles.filterNot(_.contains(f"b$b7%05d_"))
    assert(untouched.subsetOf(liveNow), "untouched bucket files replaced")
    assert(m.buckets(b7).contains(f"_g${2}%09d"))
  }

  test("deleteKeyed removes keys and drops emptied buckets from the manifest") {
    val dir = tmp("graft_del")
    val base = spark.range(0, 64).select(col("id").as("k"), col("id").as("v"))
    Maintenance.writeKeyed(base, dir, "k", 4)
    // wipe out bucket 2 entirely, plus one key from another bucket
    val b2keys = (0L until 64L).filter(k => kbOf(k, 4) == 2)
    val other = (0L until 64L).find(k => kbOf(k, 4) != 2).get
    Maintenance.deleteKeyed(spark, dir,
      (b2keys :+ other).toDF("k"), "k", 4)
    val left = Maintenance.readKeyed(spark, dir).select("k")
      .collect().map(_.getLong(0)).toSet
    assert(left == (0L until 64L).toSet -- b2keys - other)
    // the emptied bucket leaves the manifest (a dynamic overwrite alone
    // would have silently left it behind) …
    assert(!Maintenance.readManifest(spark, dir).buckets.contains(2))
    // … and vacuum reclaims its v1 generation dir
    Maintenance.vacuumKeyed(spark, dir, keepVersions = 1, graceMs = 0L)
    assert(!new java.io.File(dir).listFiles.exists(f =>
      f.getName.startsWith("b00002_")), "emptied bucket dir not vacuumed")
  }

  test("commit is atomic: a reader mid-merge sees a complete old or new snapshot") {
    val dir = tmp("graft_iso")
    val base = spark.range(0, 100).select(col("id").as("k"), col("id").as("v"))
    Maintenance.writeKeyed(base, dir, "k", 4)
    // stage a merge (all bucket-generation dirs written) WITHOUT the
    // manifest publish — exactly the writer's state mid-commit
    val merged = Maintenance.readKeyed(spark, dir)
      .withColumn("v", col("v") + 1000L)
    val pending = Maintenance.stageMerge(spark, dir, merged, Seq(0, 1, 2, 3),
      Maintenance.readManifest(spark, dir))
    // a racing reader resolves the OLD manifest: complete, correct
    val mid = Maintenance.readKeyed(spark, dir).select("k", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mid.size == 100 && (0L until 100L).forall(k => mid(k) == k))
    // the publish flips every reader to the complete NEW snapshot
    Maintenance.commitKeyed(spark, pending)
    val after = Maintenance.readKeyed(spark, dir).select("k", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after.size == 100 && (0L until 100L).forall(k => after(k) == k + 1000))
  }

  test("optimistic concurrency: the losing commit conflicts cleanly, orphans vacuum away") {
    val dir = tmp("graft_occ")
    val base = spark.range(0, 64).select(col("id").as("k"), col("id").as("v"))
    Maintenance.writeKeyed(base, dir, "k", 4)
    // two writers build merges against the SAME snapshot v1
    val mergedA = Maintenance.readKeyed(spark, dir)
      .withColumn("v", col("v") + 100L)
    val mergedB = Maintenance.readKeyed(spark, dir)
      .withColumn("v", col("v") + 1000L)
    val m1 = Maintenance.readManifest(spark, dir)
    val pendA = Maintenance.stageMerge(spark, dir, mergedA, Seq(0, 1, 2, 3), m1)
    val pendB = Maintenance.stageMerge(spark, dir, mergedB, Seq(0, 1, 2, 3), m1)
    // writer-unique staged names: both staged fine, nothing visible yet
    assert(Maintenance.readKeyed(spark, dir)
      .agg(sum("v")).head().getLong(0) == (0L until 64L).sum)
    Maintenance.commitKeyed(spark, pendB) // B wins
    val conflict = intercept[Maintenance.CommitConflict] {
      Maintenance.commitKeyed(spark, pendA)
    }
    assert(conflict.getMessage.contains("concurrent"))
    // the table is exactly B's snapshot — A's staged dirs are invisible
    val got = Maintenance.readKeyed(spark, dir).select("k", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 64L).forall(k => got(k) == k + 1000))
    // vacuum reclaims A's orphaned generation dirs
    Maintenance.vacuumKeyed(spark, dir, keepVersions = 1, graceMs = 0L)
    val live = Maintenance.readManifest(spark, dir).buckets.values.toSet
    val onDisk = new java.io.File(dir).listFiles
      .map(_.getName).filter(_.startsWith("b")).toSet
    assert(onDisk == live, s"orphans survived vacuum: ${onDisk -- live}")
    // and the END-TO-END retry: a normal upsert after the race works
    Maintenance.upsertKeyed(spark, dir, Seq((1L, 5L)).toDF("k", "v"), "k", 4)
    assert(Maintenance.readKeyed(spark, dir)
      .filter(col("k") === 1L).head().getLong(1) == 5L)
  }

  test("a commit built against a stale manifest conflicts instead of dropping the interleaved write") {
    val dir = tmp("graft_lostupd")
    Maintenance.writeKeyed(
      spark.range(0, 32).select(col("id").as("k"), col("id").as("v")),
      dir, "k", 4)
    val stale = Maintenance.readManifest(spark, dir) // v1
    // a concurrent writer lands v2
    Maintenance.upsertKeyed(spark, dir, Seq((1L, -1L)).toDF("k", "v"), "k", 4)
    // a merge computed against v1 must NOT publish on top of v2
    val merged = Maintenance.readKeyed(spark, dir, Some(1))
      .withColumn("v", col("v") + 7L)
    val pend = Maintenance.stageMerge(spark, dir, merged,
      Seq(0, 1, 2, 3), stale)
    intercept[Maintenance.CommitConflict] {
      Maintenance.commitKeyed(spark, pend)
    }
    // v2's update survives
    assert(Maintenance.readKeyed(spark, dir)
      .filter(col("k") === 1L).head().getLong(1) == -1L)
  }

  test("vacuum grace spares fresh unreferenced dirs; empty snapshot reads as empty; null keys fail fast") {
    val dir = tmp("graft_grace")
    Maintenance.writeKeyed(
      spark.range(0, 16).select(col("id").as("k"), col("id").as("v")),
      dir, "k", 2)
    Maintenance.upsertKeyed(spark, dir, Seq((1L, 9L)).toDF("k", "v"), "k", 2)
    val before = new java.io.File(dir).listFiles
      .map(_.getName).count(_.startsWith("b"))
    // default grace: the just-orphaned v1 dirs are FRESH -> untouched
    Maintenance.vacuumKeyed(spark, dir, keepVersions = 1)
    val after = new java.io.File(dir).listFiles
      .map(_.getName).count(_.startsWith("b"))
    assert(after == before, "default-grace vacuum deleted fresh dirs")
    // deleting every key yields a legal EMPTY snapshot readable as
    // an empty frame with the prior schema
    Maintenance.deleteKeyed(spark, dir,
      spark.range(0, 16).select(col("id").as("k")), "k", 2)
    val empty = Maintenance.readKeyed(spark, dir)
    assert(empty.columns.toSeq == Seq("k", "v", "kb") && empty.count() == 0)
    // a NULL key is rejected with a clear message, not a partition
    // crash after the write job
    val err = intercept[Exception] {
      Maintenance.upsertKeyed(spark, dir,
        Seq((Option.empty[Long], 1L)).toDF("k", "v"), "k", 2)
    }
    val messages = Iterator.iterate(err: Throwable)(_.getCause)
      .takeWhile(_ != null).take(8)
      .map(e => String.valueOf(e.getMessage)).mkString("\n")
    assert(messages.contains("must not be NULL"), messages.take(400))
  }

  test("versionAt: timestamp time travel resolves the commit live at that instant") {
    val dir = tmp("graft_vat")
    Maintenance.writeKeyed(
      spark.range(0, 10).select(col("id").as("k"), col("id").as("v")),
      dir, "k", 2)
    val t1 = System.currentTimeMillis()
    Thread.sleep(1100) // local-FS mtime granularity can be 1s
    Maintenance.upsertKeyed(spark, dir, Seq((1L, -1L)).toDF("k", "v"), "k", 2)
    assert(Maintenance.versionAt(spark, dir, t1) == 1)
    assert(Maintenance.versionAt(spark, dir, System.currentTimeMillis()) == 2)
    assert(Maintenance.readKeyed(spark, dir,
      Some(Maintenance.versionAt(spark, dir, t1)))
      .filter(col("k") === 1L).head().getLong(1) == 1L)
    // before the table existed -> loud error
    intercept[IllegalArgumentException] {
      Maintenance.versionAt(spark, dir, t1 - 86400000L)
    }
  }

  test("versionAt reads the manifest-body ts, not FS mtime (object-store renames copy)") {
    val dir = tmp("graft_vts")
    Maintenance.writeKeyed(
      spark.range(0, 4).select(col("id").as("k"), col("id").as("v")),
      dir, "k", 2)
    Maintenance.upsertKeyed(spark, dir, Seq((1L, -1L)).toDF("k", "v"), "k", 2)
    // sabotage every manifest's mtime to the far future — an mtime-
    // trusting versionAt would now claim no snapshot ever existed
    val md = new org.apache.hadoop.fs.Path(dir, "_manifests")
    val fs = md.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(md).foreach(s =>
      fs.setTimes(s.getPath, System.currentTimeMillis() + 86400000L, -1))
    assert(Maintenance.versionAt(spark, dir,
      System.currentTimeMillis()) == 2)
    val m = Maintenance.readManifest(spark, dir)
    assert(m.tsMillis > 0, "commit ts must be recorded in the body")
  }

  test("composite keys: merge/delete/delta/lookup/changes key on the full tuple") {
    val dir = tmp("graft_comp")
    // (t, k) pairs; k alone repeats across t, so any single-column
    // keying would collide — every face must use the tuple
    val base = spark.range(0, 60).select((col("id") % 3).as("t"),
      (col("id") % 20).as("k"), col("id").as("v"))
    Maintenance.writeKeyed(base, dir, Seq("t", "k"), 8)
    assert(Maintenance.readManifest(spark, dir).keyCols == Seq("t", "k"))
    // upsert one existing pair + one new pair: only (1, 4) changes,
    // its twin (2, 4) must survive untouched
    Maintenance.upsertKeyed(spark, dir,
      Seq((1L, 4L, -1L), (9L, 9L, -2L)).toDF("t", "k", "v"), Seq("t", "k"), 8)
    val got = Maintenance.readKeyed(spark, dir)
      .select("t", "k", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.size == 61 && got((1L, 4L)) == -1L && got((9L, 9L)) == -2L &&
      got((2L, 4L)) == 44L && got((0L, 4L)) == 24L)
    // tuple delete removes exactly one pair
    Maintenance.deleteKeyed(spark, dir, Seq((0L, 7L)).toDF("t", "k"),
      Seq("t", "k"), 8)
    val afterDel = Maintenance.readKeyed(spark, dir)
    assert(afterDel.count() == 60 &&
      afterDel.filter(col("t") === 0L && col("k") === 7L).isEmpty)
    // merge-on-read delta + tombstone on the tuple
    Maintenance.appendDeltaKeyedCols(spark, dir,
      Seq((2L, 5L, -5L)).toDF("t", "k", "v"), Seq("t", "k"), 8,
      tombstoneKeys = Some(Seq((1L, 13L)).toDF("t", "k")))
    val afterDelta = Maintenance.readKeyed(spark, dir)
      .select("t", "k", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(afterDelta((2L, 5L)) == -5L && !afterDelta.contains((1L, 13L)) &&
      afterDelta((0L, 5L)) == 45L && afterDelta((2L, 13L)) == 53L)
    // composite point lookup takes Seq components
    val lk = Maintenance.lookupKeyed(spark, dir, Seq(Seq(2L, 5L), Seq(1L, 4L)))
      .select("t", "k", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(lk == Map((2L, 5L) -> -5L, (1L, 4L) -> -1L))
    // changelog keys on the tuple: v1 -> v2 changed exactly (1,4)
    // and added (9,9)
    val ch = Maintenance.keyedChanges(spark, dir, 1, 2)
      .select("t", "k", "status").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(ch == Map((1L, 4L) -> "changed", (9L, 9L) -> "added"))
    // CDC merge on the tuple: last-wins per pair by seq
    Maintenance.cdcMergeKeyedCols(spark, dir,
      Seq((2L, 8L, 100L, 1L, false), (2L, 8L, 200L, 2L, false),
        (0L, 9L, 0L, 1L, true)).toDF("t", "k", "v", "seq", "del"),
      Seq("t", "k"), 8, seqCol = Some("seq"), deleteCol = Some("del"))
    val afterCdc = Maintenance.readKeyed(spark, dir)
      .select("t", "k", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(afterCdc((2L, 8L)) == 200L && !afterCdc.contains((0L, 9L)))
  }

  test("bucketCols: keyed (a, b), bucketed on a: every write matches a Map, a in one bucket") {
    val dir = tmp("graft_bprefix")
    val key = Seq("a", "b")
    var model = (0L until 120L).map(i => (i % 12, i) -> i * 10).toMap
    def write(m: Map[(Long, Long), Long]) =
      m.toSeq.map { case ((a, b), v) => (a, b, v) }.toDF("a", "b", "v")
    def check(what: String): Unit = {
      val rows = Maintenance.readKeyed(spark, dir)
        .select("a", "b", "v", "kb").collect()
      val got = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      assert(got.length == model.size && got.toMap == model, what)
      // the bucket is a function of a alone: one bucket per a value
      val perA = rows.groupBy(_.getLong(0)).map { case (a, rs) =>
        a -> rs.map(_.getInt(3)).distinct.length }
      assert(perA.values.forall(_ == 1), s"$what: a spans buckets $perA")
    }
    Maintenance.writeKeyed(write(model), dir, key, 4, bucketCols = Seq("a"))
    val m1 = Maintenance.readManifest(spark, dir)
    assert(m1.bucketCols == Seq("a") && m1.bucketKey == Seq("a"))
    check("write")
    // a copy-on-write upsert: replace one pair, add pairs under an old
    // and a new a
    val up = Map((3L, 3L) -> -1L, (3L, 1000L) -> -2L, (50L, 1L) -> -3L)
    Maintenance.upsertKeyed(spark, dir, write(up), key, 4)
    model ++= up
    check("upsert")
    // a merge-on-read delta with a tombstone
    val delta = Map((5L, 5L) -> -4L, (60L, 2L) -> -5L)
    Maintenance.appendDeltaKeyedCols(spark, dir, write(delta), key, 4,
      tombstoneKeys = Some(Seq((7L, 7L)).toDF("a", "b")))
    model = model ++ delta - ((7L, 7L))
    check("delta append")
    Maintenance.compactKeyed(spark, dir)
    assert(Maintenance.readManifest(spark, dir).deltas.isEmpty)
    check("compact")
    // a split re-hashes the split leaves one bit deeper, still on a
    Maintenance.splitKeyed(spark, dir, Seq(0, 1))
    assert(Maintenance.readManifest(spark, dir).depths.nonEmpty)
    check("split")
    val probes = Seq((3L, 3L), (60L, 2L), (7L, 7L), (11L, 119L))
    val lk = Maintenance.lookupKeyed(spark, dir,
        probes.map { case (a, b) => Seq(a, b) })
      .select("a", "b", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(lk == model.filter { case (k, _) => probes.contains(k) })
  }

  test("zone maps: readKeyedRange prunes to intersecting buckets, matches the unpruned filter") {
    val dir = tmp("graft_zone")
    // few keys per bucket => per-dir v ranges are narrow enough to
    // prune (zone maps help exactly when values cluster per dir)
    val df = spark.range(0, 96).select(col("id").as("k"),
      (col("id") * 1000L).as("v"))
    Maintenance.writeKeyed(df, dir, Seq("k"), 48, statsCols = Seq("v"))
    val m = Maintenance.readManifest(spark, dir)
    assert(m.statsCols == Seq("v"))
    assert(m.colStats.values.forall(_.contains("v")) && m.colStats.nonEmpty)
    val pruned = Maintenance.readKeyedRange(spark, dir, "v", 5000L, 6000L)
    assert(pruned.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(5L, 6L))
    // the pruned plan lists only the kept buckets' files
    assert(pruned.inputFiles.length <
      Maintenance.readKeyed(spark, dir).inputFiles.length,
      "range read should scan a strict subset of the table's files")
    // delta safety: an update moving a key's value OUT of the range
    // must not resurrect the superseded base row (filter applies
    // post-resolution; pruning only ever skips WHOLE buckets)
    Maintenance.appendDeltaKeyed(spark, dir,
      Seq((5L, 999999L)).toDF("k", "v"), "k", 48)
    val after = Maintenance.readKeyedRange(spark, dir, "v", 5000L, 6000L)
    assert(after.select("k").collect().map(_.getLong(0)).toSeq == Seq(6L))
    // ...and a range matching the delta's NEW value finds the winner
    val high = Maintenance.readKeyedRange(spark, dir, "v", 900000L, 1000000L)
    assert(high.select("k", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((5L, 999999L)))
  }

  test("readKeyedWhere: predicate-planned pruning — key equality, IN, open ranges, safe fallback") {
    val dir = tmp("graft_where")
    // the x136 shape: tenant-keyed, per-tenant-disjoint v bands
    val df = spark.range(0, 6400).select((col("id") % 64).as("tenant"),
      ((col("id") % 64) * 100000L + col("id")).as("v"),
      (col("id") % 7).cast("double").as("x"))
    Maintenance.writeKeyed(df, dir, Seq("tenant"), 64,
      statsCols = Seq("v"))
    val total = Maintenance.readKeyed(spark, dir).inputFiles.length
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("tenant", "v").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // key equality -> the lookupKeyed point-read path
    val q1 = Maintenance.readKeyedWhere(spark, dir,
      col("tenant") === 5L && col("x") < 3.0)
    assert(q1.inputFiles.length <= 2 && q1.inputFiles.length < total)
    assert(rows(q1) == rows(df.filter(col("tenant") === 5L && col("x") < 3.0)))
    // IN-list (and an int literal against the bigint key: the
    // analysis cast on the literal side is looked through)
    val q2 = Maintenance.readKeyedWhere(spark, dir,
      col("tenant").isin(3, 9))
    assert(q2.inputFiles.length <= 2)
    assert(rows(q2) == rows(df.filter(col("tenant").isin(3, 9))))
    // OR-chain of equalities prunes like an IN
    val q2b = Maintenance.readKeyedWhere(spark, dir,
      col("tenant") === 3L || col("tenant") === 9L)
    assert(q2b.inputFiles.length <= 2 && rows(q2b) == rows(q2))
    // open-ended zone range on the stats column: only the top band's
    // bucket can hold v >= 63*100000
    val q3 = Maintenance.readKeyedWhere(spark, dir,
      col("v") >= 6300000L)
    assert(q3.inputFiles.length < total / 8,
      s"${q3.inputFiles.length} of $total files")
    assert(rows(q3) == rows(df.filter(col("v") >= 6300000L)))
    // unrecognized predicate shapes prune NOTHING and answer right
    val q4 = Maintenance.readKeyedWhere(spark, dir,
      col("tenant") % 2 === 1 && col("v") % 10 === 3)
    assert(q4.inputFiles.length == total)
    assert(rows(q4) ==
      rows(df.filter(col("tenant") % 2 === 1 && col("v") % 10 === 3)))
    // an attribute-side cast disables key pruning (semantics change)
    val q5 = Maintenance.readKeyedWhere(spark, dir,
      col("tenant").cast("string") === "5")
    assert(q5.inputFiles.length == total)
    assert(rows(q5) == rows(df.filter(col("tenant") === 5L)))
  }

  test("readKeyedWhere: composite keys pin via per-component equalities; delta values filter post-resolution") {
    val dir = tmp("graft_where2")
    val df = spark.range(0, 500).select((col("id") % 10).as("a"),
      col("id").as("b"), (col("id") * 3).as("v"))
    Maintenance.writeKeyed(df, dir, Seq("a", "b"), 16)
    val total = Maintenance.readKeyed(spark, dir).inputFiles.length
    val q1 = Maintenance.readKeyedWhere(spark, dir,
      col("a") === 3L && col("b") === 13L)
    assert(q1.inputFiles.length < total)
    assert(q1.select("v").collect().map(_.getLong(0)).toSeq == Seq(39L))
    // a delta moving a key's value must not resurrect the base row
    // (the full predicate applies AFTER last-wins resolution)
    Maintenance.appendDeltaKeyedCols(spark, dir,
      Seq((3L, 13L, -1L)).toDF("a", "b", "v"), Seq("a", "b"), 16)
    val q2 = Maintenance.readKeyedWhere(spark, dir,
      col("a") === 3L && col("b") === 13L && col("v") > 0L)
    assert(q2.count() == 0)
    val q3 = Maintenance.readKeyedWhere(spark, dir,
      col("a") === 3L && col("b") === 13L)
    assert(q3.select("v").collect().map(_.getLong(0)).toSeq == Seq(-1L))
  }

  test("appendDeltaKeyed fails loudly on duplicate keys within one call") {
    val dir = tmp("graft_dup")
    Maintenance.writeKeyed(
      spark.range(0, 10).select(col("id").as("k"), col("id").as("v")),
      dir, "k", 4)
    val err = intercept[IllegalArgumentException] {
      Maintenance.appendDeltaKeyed(spark, dir,
        Seq((3L, 1L), (3L, 2L)).toDF("k", "v"), "k", 4)
    }
    assert(err.getMessage.contains("duplicate"), err.getMessage)
    // a key updated AND tombstoned in one call is the same violation
    val err2 = intercept[IllegalArgumentException] {
      Maintenance.appendDeltaKeyed(spark, dir,
        Seq((3L, 1L)).toDF("k", "v"), "k", 4,
        tombstoneKeys = Some(Seq(3L).toDF("k")))
    }
    assert(err2.getMessage.contains("duplicate"), err2.getMessage)
  }

  test("a batch retyping an existing column fails loudly (types never change)") {
    val dir = tmp("graft_retype")
    Maintenance.writeKeyed(
      spark.range(0, 10).select(col("id").as("k"), col("id").as("v")),
      dir, "k", 2)
    intercept[IllegalArgumentException] {
      Maintenance.upsertKeyed(spark, dir,
        Seq((1L, 0.5)).toDF("k", "v"), "k", 2)
    }
    intercept[IllegalArgumentException] {
      Maintenance.appendDeltaKeyed(spark, dir,
        Seq((1L, 0.5)).toDF("k", "v"), "k", 2)
    }
    // the table is still intact and long-typed
    assert(Maintenance.readKeyed(spark, dir).schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("time travel: old snapshots stay readable until vacuumed") {
    val dir = tmp("graft_tt")
    Maintenance.writeKeyed(
      spark.range(0, 50).select(col("id").as("k"), col("id").as("v")),
      dir, "k", 4)
    Maintenance.upsertKeyed(spark, dir, Seq((1L, -1L), (999L, 9L)).toDF("k", "v"),
      "k", 4)
    assert(Maintenance.manifestVersions(spark, dir) == Seq(1, 2))
    val v1 = Maintenance.readKeyed(spark, dir, Some(1)).select("k", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(v1.size == 50 && v1(1L) == 1L)
    val v2 = Maintenance.readKeyed(spark, dir).select("k", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(v2.size == 51 && v2(1L) == -1L && v2(999L) == 9L)
    Maintenance.vacuumKeyed(spark, dir, keepVersions = 1, graceMs = 0L)
    intercept[IllegalArgumentException] {
      Maintenance.readKeyed(spark, dir, Some(1))
    }
    // the live snapshot survives the vacuum intact
    assert(Maintenance.readKeyed(spark, dir).count() == 51)
  }

  test("lookupKeyed reads only the probed keys' buckets, via manifest metadata") {
    val dir = tmp("graft_lk")
    val base = spark.range(0, 400).select(col("id").as("k"),
      (col("id") * 3).as("v"))
    Maintenance.writeKeyed(base, dir, "k", 16)
    val keys = Seq(5L, 9L, 123L, 9999L)
    val got = Maintenance.lookupKeyed(spark, dir, keys)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(5L -> 15L, 9L -> 27L, 123L -> 369L))
    // the scan lists ONLY the probed buckets' dirs
    val touched = keys.map(k =>
      f"b${kbOf(k, 16)}%05d_").toSet
    val files = Maintenance.lookupKeyed(spark, dir, keys).inputFiles
    assert(files.nonEmpty && files.forall(f => touched.exists(f.contains)),
      s"lookup read untouched buckets: ${files.mkString(",")}")
    // the native-typed key IN-list pushes into the parquet scan (a
    // string-cast filter would read every row group of the bucket)
    val plan = Maintenance.lookupKeyed(spark, dir, keys)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(k"),
      s"key IN-list did not push down:\n$plan")
    // a caller passing the wrong bucket count to a merge is refused
    intercept[IllegalArgumentException] {
      Maintenance.upsertKeyed(spark, dir, Seq((1L, 1L)).toDF("k", "v"),
        "k", 8)
    }
  }

  test("lookupKeyed: a NULL key pins no bucket and matches no row; the bucket probe runs no job") {
    val dir = tmp("graft_lknull")
    Maintenance.writeKeyed(spark.range(0, 100).select(col("id").as("k"),
      (col("id") * 3).as("v")), dir, "k", 8)
    val lk = Maintenance.lookupKeyed(spark, dir, Seq(5L, null))
    assert(lk.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq ==
      Seq(5L -> 15L))
    assert(lk.inputFiles.forall(_.contains(f"b${kbOf(5L, 8)}%05d_")))
    assert(Maintenance.lookupKeyed(spark, dir, Seq(null)).count() == 0)
    assert(Maintenance.readKeyedWhere(spark, dir, col("k").isin(5L, null))
      .count() == 1)
    assert(jobsOf(Maintenance.lookupKeyed(spark, dir, Seq(5L, 9L))) == 0)
  }

  test("keyed schema evolves additively: new columns land, old rows read NULL") {
    val dir = tmp("graft_evo")
    Maintenance.writeKeyed(
      spark.range(0, 40).select(col("id").as("k"), (col("id") * 2).as("v")),
      dir, "k", 4)
    // batch carries a NEW column w
    Maintenance.upsertKeyed(spark, dir,
      Seq((1L, -2L, "x"), (100L, 9L, "y")).toDF("k", "v", "w"), "k", 4)
    val got = Maintenance.readKeyed(spark, dir)
      .select("k", "v", "w").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), Option(r.getString(2))))).toMap
    assert(got.size == 41)
    assert(got(1L) == ((-2L, Some("x"))) && got(100L) == ((9L, Some("y"))))
    // untouched rows surface the new column as NULL
    assert(got(2L) == ((4L, None)))
    // a later batch may OMIT a table column: its rows read NULL there
    Maintenance.upsertKeyed(spark, dir,
      Seq((200L, "z")).toDF("k", "w"), "k", 4)
    val r200 = Maintenance.readKeyed(spark, dir)
      .filter(col("k") === 200L).select("v", "w").head()
    assert(r200.isNullAt(0) && r200.getString(1) == "z")
    // point lookup across mixed-schema generations still works
    val lk = Maintenance.lookupKeyed(spark, dir, Seq(2L, 200L))
      .select("k", "w").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(lk == Map(2L -> None, 200L -> Some("z")))
  }

  test("keyedChanges: CDC feed reads only generation-changed buckets") {
    val dir = tmp("graft_chg")
    val base = spark.range(0, 100).select(col("id").as("k"),
      (col("id") * 10).as("v"))
    Maintenance.writeKeyed(base, dir, "k", 8)
    Maintenance.upsertKeyed(spark, dir,
      Seq((7L, -1L), (1000L, 5L)).toDF("k", "v"), "k", 8)
    Maintenance.deleteKeyed(spark, dir, Seq(3L).toDF("k"), "k", 8)
    val ch = Maintenance.keyedChanges(spark, dir, 1,
      Maintenance.manifestVersions(spark, dir).last)
    val got = ch.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(7L -> "changed", 1000L -> "added", 3L -> "removed"))
    // only the touched buckets' dirs are listed on either side
    val touched = Seq(7L, 1000L, 3L).map(k => f"b${kbOf(k, 8)}%05d_").toSet
    val files = ch.inputFiles
    assert(files.nonEmpty && files.forall(f => touched.exists(f.contains)),
      s"changelog read unchanged buckets: ${files.mkString(",")}")
    // and it equals the full snapshot diff's non-same rows
    val full = Maintenance.diff(
        Maintenance.readKeyed(spark, dir, Some(1)).drop("kb"),
        Maintenance.readKeyed(spark, dir).drop("kb"), Seq("k"))
      .filter(col("status") =!= "same")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(full == got)
  }

  test("keyedStats reports rows and files per bucket of the live snapshot") {
    val dir = tmp("graft_tst")
    Maintenance.writeKeyed(
      spark.range(0, 120).select(col("id").as("k"), col("id").as("v")),
      dir, "k", 4)
    // a second generation for one bucket must not double-count
    Maintenance.upsertKeyed(spark, dir, Seq((7L, 7L)).toDF("k", "v"), "k", 4)
    val st = Maintenance.keyedStats(spark, dir)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(st.values.map(_._1).sum == 120L)
    assert(st.values.forall(_._2 == 1L), s"one file per bucket: $st")
  }

  test("diff: added/removed/changed/same with null-safe column compare") {
    val a = Seq((1L, Some("x"), 1.0), (2L, None, 2.0), (3L, Some("z"), 3.0),
        (4L, None, 4.0))
      .toDF("k", "s", "v")
    val b = Seq((1L, Some("x"), 1.0), (2L, Some("y"), 2.0),
        (4L, None, 4.0), (5L, Some("n"), 5.0))
      .toDF("k", "s", "v")
    val got = Maintenance.diff(a, b, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // 1: identical; 2: null -> y = changed; 3: removed; 4: null == null
    // null-safely = same; 5: added
    assert(got == Map(1L -> "same", 2L -> "changed", 3L -> "removed",
      4L -> "same", 5L -> "added"))
  }

  test("incremental agg state: two merges equal the full recompute exactly") {
    val dir = tmp("graft_mv")
    val full = spark.range(0, 300).select(
      (col("id") % 3).cast("string").as("g"), (col("id") % 17 + 0.25).as("v"))
    Maintenance.buildAggStateKeyed(full.filter(col("id") % 5 === 0),
      dir, Seq("g"), "v", nBuckets = 1)
    Maintenance.mergeAggStateKeyed(spark, dir,
      full.filter(col("id") % 5 === 1), Seq("g"), "v")
    Maintenance.mergeAggStateKeyed(spark, dir,
      full.filter(col("id") % 5 >= 2), Seq("g"), "v")
    val st = Maintenance.readKeyed(spark, dir)
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    val inc = snap(Maintenance.finalizeAgg(st, Seq("g")))
    val direct = snap(Maintenance.finalizeAgg(
      full.groupBy("g").agg(count(lit(1)).as("__cnt"),
        sum(col("v").cast("decimal(28,2)")).as("__sum")), Seq("g")))
    assert(inc == direct)
    // and the state on disk IS the returned state
    val disk = Maintenance.readKeyed(spark, dir)
    assert(snap(Maintenance.finalizeAgg(disk, Seq("g"))) == inc)
  }

  test("sampled agg state: merge order cannot change the sample or its median") {
    val dir = tmp("graft_smp")
    val dir2 = tmp("graft_smp_rev")
    val full = spark.range(0, 3000).select(
      (col("id") % 2).cast("string").as("g"),
      (col("id") % 701 + 0.5).as("v"))
    def medians(d: String, parts: Seq[org.apache.spark.sql.DataFrame]) = {
      Maintenance.buildAggStateKeyed(parts.head, d, Seq("g"), "v",
        nBuckets = 1, sampleK = 64)
      parts.tail.foreach(b =>
        Maintenance.mergeAggStateKeyed(spark, d, b, Seq("g"), "v",
          sampleK = 64))
      val st = Maintenance.readKeyed(spark, d)
      Maintenance.finalizeAgg(st, Seq("g"))
        .select("g", "approx_median").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    }
    val a = full.filter(col("id") % 3 === 0)
    val b = full.filter(col("id") % 3 === 1)
    val c = full.filter(col("id") % 3 === 2)
    val fwd = medians(dir, Seq(a, b, c))
    val rev = medians(dir2, Seq(c, b, a))
    assert(fwd == rev, s"merge order changed the sample: $fwd vs $rev")
    // the 64-point sample's median lands near the true median (~350.5)
    fwd.values.foreach(m => assert(math.abs(m - 350.5) < 80,
      s"median estimate off: $fwd"))
  }

  test("merge-on-read deltas: N small appends resolve to the one-shot merge, bases untouched") {
    val dir = tmp("graft_mor"); val dir2 = tmp("graft_mor_cow")
    val base = spark.range(0, 300).select(col("id").as("k"),
      (col("id") * 10).as("v"))
    Maintenance.writeKeyed(base, dir, "k", 8)
    Maintenance.writeKeyed(base, dir2, "k", 8)
    val before = fileState(dir)
    // three delta batches: reprice, re-reprice (later wins), tombstone
    val u1 = Seq((7L, 700L), (9L, 900L), (1000L, 1L)).toDF("k", "v")
    val u2 = Seq((7L, 777L), (11L, 111L)).toDF("k", "v")
    Maintenance.appendDeltaKeyed(spark, dir, u1, "k", 8)
    Maintenance.appendDeltaKeyed(spark, dir, u2, "k", 8,
      tombstoneKeys = Some(Seq(9L, 13L).toDF("k")))
    // NO base generation was read or rewritten: every pre-append file
    // is byte-identical (bytes written ∝ batches, not buckets)
    val after = fileState(dir)
    before.foreach { case (p, st) =>
      assert(after.get(p).contains(st), s"delta append rewrote base: $p")
    }
    // the copy-on-write twin of the same history
    Maintenance.upsertKeyed(spark, dir2, u1, "k", 8)
    Maintenance.upsertKeyed(spark, dir2, u2, "k", 8)
    Maintenance.deleteKeyed(spark, dir2, Seq(9L, 13L).toDF("k"), "k", 8)
    def snap(d: String) = Maintenance.readKeyed(spark, d).select("k", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mor = snap(dir)
    assert(mor == snap(dir2), "merge-on-read != copy-on-write end state")
    assert(mor(7L) == 777L && mor(11L) == 111L && mor(1000L) == 1L &&
      !mor.contains(9L) && !mor.contains(13L) && mor(8L) == 80L)
    // point lookup resolves the chains too (tombstone honored)
    val lk = Maintenance.lookupKeyed(spark, dir, Seq(7L, 9L, 8L))
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lk == Map(7L -> 777L, 8L -> 80L))
    // compaction folds chains through the same commit path: identical
    // rows, manifest carries no deltas, vacuum reclaims the delta dirs
    Maintenance.compactKeyed(spark, dir)
    assert(snap(dir) == mor, "compaction changed the resolved rows")
    assert(Maintenance.readManifest(spark, dir).deltas.isEmpty)
    Maintenance.vacuumKeyed(spark, dir, keepVersions = 1, graceMs = 0L)
    assert(!new java.io.File(dir).listFiles.exists(_.getName.startsWith("d")),
      "delta dirs survived compact+vacuum")
    assert(snap(dir) == mor)
    // keyedChanges across the delta history stays O(changed buckets)
    val ch = Maintenance.keyedChanges(spark, dir2, 1,
      Maintenance.manifestVersions(spark, dir2).last)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ch == Map(7L -> "changed", 9L -> "removed", 11L -> "changed",
      13L -> "removed", 1000L -> "added"))
    // minChain policy: compaction planned from the manifest alone —
    // chains below the threshold are left in place
    val dir3 = tmp("graft_mor_pol")
    Maintenance.writeKeyed(base, dir3, "k", 8)
    Maintenance.appendDeltaKeyed(spark, dir3,
      Seq((7L, 1L)).toDF("k", "v"), "k", 8)          // chain 1 on b(7)
    Maintenance.appendDeltaKeyed(spark, dir3,
      Seq((7L, 2L), (9L, 9L)).toDF("k", "v"), "k", 8) // b(7)=2, b(9)<=2
    val before3 = Maintenance.readManifest(spark, dir3).deltas
    Maintenance.compactKeyed(spark, dir3, minChain = 2)
    val after3 = Maintenance.readManifest(spark, dir3).deltas
    assert(before3.exists(_._2.length >= 2) &&
      after3.forall(_._2.length < 2),
      s"minChain=2 left a long chain: $after3")
    assert(after3.keySet == before3.filter(_._2.length < 2).keySet,
      "minChain compacted short chains it should have left")
    assert(Maintenance.readKeyed(spark, dir3).filter(col("k") === 7L)
      .head().getLong(1) == 2L)
  }

  test("delta batches evolve the schema additively, like merges do") {
    val dir = tmp("graft_morevo")
    Maintenance.writeKeyed(
      spark.range(0, 40).select(col("id").as("k"), (col("id") * 2).as("v")),
      dir, "k", 4)
    // a delta batch carries a NEW column w; an older key keeps NULL
    Maintenance.appendDeltaKeyed(spark, dir,
      Seq((1L, -2L, "x"), (100L, 9L, "y")).toDF("k", "v", "w"), "k", 4)
    val got = Maintenance.readKeyed(spark, dir)
      .select("k", "v", "w").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), Option(r.getString(2)))))
      .toMap
    assert(got.size == 41 && got(1L) == ((-2L, Some("x"))) &&
      got(100L) == ((9L, Some("y"))) && got(2L) == ((4L, None)))
    // a later delta may OMIT a table column (its rows read NULL there)
    Maintenance.appendDeltaKeyed(spark, dir,
      Seq((200L, "z")).toDF("k", "w"), "k", 4)
    val r200 = Maintenance.readKeyed(spark, dir)
      .filter(col("k") === 200L).select("v", "w").head()
    assert(r200.isNullAt(0) && r200.getString(1) == "z")
    // lookup through the evolved chain; compaction preserves it all
    val lk = Maintenance.lookupKeyed(spark, dir, Seq(1L, 2L, 200L))
      .select("k", "w").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(lk == Map(1L -> Some("x"), 2L -> None, 200L -> Some("z")))
    Maintenance.compactKeyed(spark, dir)
    val after = Maintenance.readKeyed(spark, dir)
      .select("k", "v", "w").collect()
      .map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getLong(1)),
          Option(r.getString(2))))).toMap
    assert(after.size == 42 && after(1L) == ((Some(-2L), Some("x"))) &&
      after(200L) == ((None, Some("z"))) && after(2L) == ((Some(4L), None)))
    // the manifest's recorded schema grew to include w
    assert(Maintenance.readManifest(spark, dir).schemaDdl
      .contains("w STRING"),
      Maintenance.readManifest(spark, dir).schemaDdl)
  }

  test("CDC batch with tombstones is ONE commit; stats fast-path agrees with scan") {
    val dir = tmp("graft_cdc1c")
    val base = spark.range(0, 100).select(col("id").as("k"),
      (col("id") * 2).as("v"), lit(0L).as("seq"))
    graft.streaming.Streams.upsertKeyedBatch(
      base.withColumn("del", lit(false)), dir, "k", 4,
      seqCol = Some("seq"), deleteCol = Some("del"))
    val v0 = Maintenance.manifestVersions(spark, dir).last
    // one batch carrying BOTH updates and tombstones
    val batch = Seq((7L, 700L, 1L, false), (9L, 0L, 1L, true),
      (7L, 7000L, 2L, false)).toDF("k", "v", "seq", "del")
    graft.streaming.Streams.upsertKeyedBatch(batch, dir, "k", 4,
      seqCol = Some("seq"), deleteCol = Some("del"))
    // exactly ONE manifest version: a reader can never observe
    // updates-applied/deletes-pending (two commits would leave v0+2)
    assert(Maintenance.manifestVersions(spark, dir).last == v0 + 1,
      "CDC batch took more than one commit")
    val got = Maintenance.readKeyed(spark, dir).select("k", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(7L) == 7000L && !got.contains(9L) && got.size == 99)
    // a LATE batch with an older seq for k=7 must not regress it
    graft.streaming.Streams.upsertKeyedBatch(
      Seq((7L, 1L, 1L, false)).toDF("k", "v", "seq", "del"), dir, "k", 4,
      seqCol = Some("seq"), deleteCol = Some("del"))
    assert(Maintenance.readKeyed(spark, dir).filter(col("k") === 7L)
      .head().getLong(1) == 7000L, "stale seq regressed the row")
    // keyedStats answers from the manifest here (no deltas): cross-check
    // against the direct scan
    val fast = Maintenance.keyedStats(spark, dir)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val scan = Maintenance.tableStats(
        Maintenance.readKeyed(spark, dir), "kb")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(fast == scan, s"manifest stats $fast != scan stats $scan")
  }

  test("re-bootstrap over a live keyed table is snapshot-isolated") {
    val dir = tmp("graft_reboot")
    Maintenance.writeKeyed(
      spark.range(0, 50).select(col("id").as("k"), col("id").as("v")),
      dir, "k", 4)
    val v1files = Maintenance.readKeyed(spark, dir).inputFiles.toSet
    // full replacement write over the EXISTING table
    Maintenance.writeKeyed(
      spark.range(100, 130).select(col("id").as("k"), (col("id") * 5).as("v")),
      dir, "k", 4)
    // the old snapshot's files were never deleted (a racing reader
    // holding v1 still resolves complete data) and time travel works
    v1files.foreach(f => assert(new java.io.File(new java.net.URI(f)).exists,
      s"re-bootstrap deleted a live v1 file: $f"))
    assert(Maintenance.readKeyed(spark, dir, Some(1)).count() == 50)
    val now = Maintenance.readKeyed(spark, dir).select("k", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(now.size == 30 && now(100L) == 500L && !now.contains(1L))
  }

  test("vacuum graces dropped manifests; emptied table stays readable AFTER vacuum") {
    val dir = tmp("graft_mgrace")
    Maintenance.writeKeyed(
      spark.range(0, 20).select(col("id").as("k"), col("id").as("v")),
      dir, "k", 2)
    Maintenance.upsertKeyed(spark, dir, Seq((1L, -1L)).toDF("k", "v"), "k", 2)
    // default grace: the dropped v1 manifest is FRESH -> retained, and
    // its data dirs are retained WITH it (a graced manifest must never
    // outlive its own data)
    Maintenance.vacuumKeyed(spark, dir, keepVersions = 1)
    assert(Maintenance.manifestVersions(spark, dir) == Seq(1, 2))
    assert(Maintenance.readKeyed(spark, dir, Some(1)).count() == 20)
    // delete EVERY key, vacuum to just the empty head with zero grace:
    // the manifest's recorded schema keeps the table readable even
    // though no generation dir remains anywhere
    Maintenance.deleteKeyed(spark, dir,
      spark.range(0, 20).select(col("id").as("k")), "k", 2)
    Maintenance.vacuumKeyed(spark, dir, keepVersions = 1, graceMs = 0L)
    assert(Maintenance.manifestVersions(spark, dir).size == 1)
    val empty = Maintenance.readKeyed(spark, dir)
    assert(empty.columns.toSeq == Seq("k", "v", "kb") && empty.count() == 0)
    // and the emptied table accepts new writes with the kept schema
    Maintenance.upsertKeyed(spark, dir, Seq((5L, 50L)).toDF("k", "v"), "k", 2)
    assert(Maintenance.readKeyed(spark, dir).select("k", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((5L, 50L)))
  }

  test("lookupKeyed serves EVERY key type via the engine's own hash (double, timestamp)") {
    // pre-r10 the driver-side JVM-toString hash had to reject
    // non-integral/string keys loudly (it would probe the wrong
    // bucket); the probe now computes buckets with the engine's own
    // kb expression, so the hash matches the layout by construction
    val ddir = tmp("graft_lkdouble")
    Maintenance.writeKeyed(
      spark.range(0, 10).select((col("id") + 0.5).as("k"), col("id").as("v")),
      ddir, "k", 4)
    assert(Maintenance.lookupKeyed(spark, ddir, Seq(3.5, 7.5))
      .select("v").collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 7L))
    val tdir = tmp("graft_lkts")
    Maintenance.writeKeyed(
      spark.range(0, 10).select(
        timestamp_millis(col("id") * 3600000L).as("k"), col("id").as("v")),
      tdir, "k", 4)
    assert(Maintenance.lookupKeyed(spark, tdir,
      Seq(new java.sql.Timestamp(2 * 3600000L)))
      .select("v").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("multi-writer hammer: every batch lands exactly once, versions gapless") {
    val dir = tmp("graft_hammer")
    Maintenance.writeKeyed(
      spark.range(0, 8).select((col("id") + 1000000L).as("k"),
        lit(-1L).as("v")), dir, "k", 4)
    val threads = 4; val batches = 3
    val errs = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Throwable]())
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        try {
          for (b <- 0 until batches) {
            val lo = (t * batches + b) * 100
            Maintenance.upsertKeyed(spark, dir,
              spark.range(lo, lo + 10).select(col("id").as("k"),
                lit(t.toLong).as("v")), "k", 4)
          }
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"writer failed: ${errs}")
    // all 12 batches × 10 distinct keys + the 8 seed keys, exactly once
    val got = Maintenance.readKeyed(spark, dir).groupBy("k")
      .count().filter(col("count") =!= 1L).count()
    assert(got == 0, "duplicate keys after concurrent merges")
    assert(Maintenance.readKeyed(spark, dir).count() ==
      threads * batches * 10 + 8)
    // gapless version chain: 1 bootstrap + one commit per batch
    val vs = Maintenance.manifestVersions(spark, dir)
    assert(vs == (1 to threads * batches + 1),
      s"version chain has gaps: $vs")
  }

  test("sample grain: default is distinct-value-uniform; sampleUnique makes it row-uniform") {
    // skew: value 1000.0 holds 99% of rows; values 1..100 once each
    val skewed = spark.range(0, 10000).select(lit("g").as("g"),
      when(col("id") < 100, col("id").cast("double") + 1.0)
        .otherwise(lit(1000.0)).as("v"),
      col("id").as("rk"))
    val dV = tmp("graft_grain_v"); val dR = tmp("graft_grain_r")
    // distinct-value grain: the dominant value is ONE sample point, so
    // the median estimates the distinct-value distribution (~50)
    Maintenance.buildAggStateKeyed(skewed, dV, Seq("g"), "v",
      nBuckets = 1, sampleK = 64)
    val mV = Maintenance.finalizeAgg(
        Maintenance.readKeyed(spark, dV), Seq("g"))
      .select("approx_median").head().getDouble(0)
    assert(mV < 500, s"distinct-grain median should ignore multiplicity: $mV")
    // row grain: 99% of sampled rows carry the dominant value, so the
    // median is the true multiset median
    Maintenance.buildAggStateKeyed(skewed, dR, Seq("g"), "v",
      nBuckets = 1, sampleK = 64, sampleUnique = Some("rk"))
    val mR = Maintenance.finalizeAgg(
        Maintenance.readKeyed(spark, dR), Seq("g"))
      .select("approx_median").head().getDouble(0)
    assert(mR == 1000.0, s"row-grain median should track the multiset: $mR")
    // row-grain merges stay order-free too (the hash is a pure
    // function of (value, row key))
    val dR2 = tmp("graft_grain_r2")
    Maintenance.buildAggStateKeyed(skewed.filter(col("rk") % 2 === 0),
      dR2, Seq("g"), "v", nBuckets = 1, sampleK = 64,
      sampleUnique = Some("rk"))
    Maintenance.mergeAggStateKeyed(spark, dR2,
      skewed.filter(col("rk") % 2 === 1), Seq("g"), "v",
      sampleK = 64, sampleUnique = Some("rk"))
    val st2 = Maintenance.readKeyed(spark, dR2)
    assert(Maintenance.finalizeAgg(st2, Seq("g"))
      .select("approx_median").head().getDouble(0) == mR)
  }

  test("delta appends racing compactions and merges: last-wins holds, nothing lost") {
    val dir = tmp("graft_morrace")
    Maintenance.writeKeyed(
      spark.range(0, 100).select(col("id").as("k"), lit(0L).as("v")),
      dir, "k", 4)
    // writer A: 6 delta batches, each bumping a disjoint key range to
    // its batch number; writer B: compactions interleaved; writer C:
    // a copy-on-write upsert of its own key range. Whatever the
    // interleaving, the final resolved table must show every batch's
    // LAST write (ranges are disjoint, so last == only).
    val errs = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Throwable]())
    val a = new Thread(() => {
      try for (i <- 1 to 6)
        Maintenance.appendDeltaKeyed(spark, dir,
          spark.range(i * 200, i * 200 + 10)
            .select(col("id").as("k"), lit(i.toLong).as("v")), "k", 4)
      catch { case e: Throwable => errs.add(e) }
    })
    val b = new Thread(() => {
      try for (_ <- 1 to 4) {
        Maintenance.compactKeyed(spark, dir); Thread.sleep(30)
      } catch { case e: Throwable => errs.add(e) }
    })
    val c = new Thread(() => {
      try Maintenance.upsertKeyed(spark, dir,
        spark.range(50, 60).select(col("id").as("k"), lit(-5L).as("v")),
        "k", 4)
      catch { case e: Throwable => errs.add(e) }
    })
    a.start(); b.start(); c.start(); a.join(); b.join(); c.join()
    assert(errs.isEmpty, s"racing writer failed: $errs")
    Maintenance.compactKeyed(spark, dir) // fold any residue
    val got = Maintenance.readKeyed(spark, dir).select("k", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 100 + 60, s"rows lost/duplicated: ${got.size}")
    for (i <- 1 to 6; k <- i * 200 until i * 200 + 10)
      assert(got(k.toLong) == i.toLong, s"delta batch $i lost key $k")
    for (k <- 50L until 60L) assert(got(k) == -5L, s"upsert lost key $k")
    for (k <- 0L until 50L) assert(got(k) == 0L)
    assert(Maintenance.readManifest(spark, dir).deltas.isEmpty)
  }

  test("sample-grain mismatch between build and merge fails loudly") {
    val dir = tmp("graft_grainmix")
    val df = spark.range(0, 500).select(lit("g").as("g"),
      (col("id") % 31).cast("double").as("v"), col("id").as("rk"),
      (col("id") + 1).as("rk2"))
    def build(d: String) =
      Maintenance.buildAggStateKeyed(df, d, Seq("g"), "v", nBuckets = 1,
        sampleK = 32, sampleUnique = Some("rk"))
    build(dir)
    // a refresh salting the sample with ANOTHER column would mix two
    // hash functions into one heap — it must fail loudly, not silently
    // corrupt the sample
    val err = intercept[IllegalArgumentException] {
      Maintenance.mergeAggStateKeyed(spark, dir, df, Seq("g"), "v",
        sampleK = 32, sampleUnique = Some("rk2"))
    }
    assert(err.getMessage.contains("sample grain"), err.getMessage)
    // omitting the grain (and sampleK) inherits the build's: the same
    // state as naming it
    Maintenance.mergeAggStateKeyed(spark, dir, df, Seq("g"), "v")
    val named = tmp("graft_grainmix_named")
    build(named)
    Maintenance.mergeAggStateKeyed(spark, named, df, Seq("g"), "v",
      sampleK = 32, sampleUnique = Some("rk"))
    def state(d: String) = Maintenance.readKeyed(spark, d)
      .collect().toSeq
    assert(state(dir) == state(named))
  }

  test("generalized agg state: min/max and HLL registers merge == full recompute bit-for-bit") {
    val dir = tmp("graft_mvp")
    val dir2 = tmp("graft_mvp_full")
    val full = spark.range(0, 5000).select(
      (col("id") % 3).cast("string").as("g"),
      (col("id") % 17 + 0.25).as("v"),
      (col("id") % 537).as("u"))
    Maintenance.buildAggStateKeyed(full.filter(col("id") % 5 === 0),
      dir, Seq("g"), "v", nBuckets = 1, distinctKey = Some("u"))
    Maintenance.mergeAggStateKeyed(spark, dir,
      full.filter(col("id") % 5 === 1), Seq("g"), "v",
      distinctKey = Some("u"))
    Maintenance.mergeAggStateKeyed(spark, dir,
      full.filter(col("id") % 5 >= 2), Seq("g"), "v",
      distinctKey = Some("u"))
    val st = Maintenance.readKeyed(spark, dir)
    // the full single-pass state over everything, same builder
    Maintenance.buildAggStateKeyed(full, dir2, Seq("g"), "v",
      nBuckets = 1, distinctKey = Some("u"))
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5),
        r.getDouble(6))).toSet
    val inc = snap(Maintenance.finalizeAgg(st, Seq("g")))
    val direct = snap(Maintenance.finalizeAgg(
      Maintenance.readKeyed(spark, dir2), Seq("g")))
    assert(inc == direct)
    // sanity on the estimate: each group has ~min(537, distinct u per g)
    val est = Maintenance.finalizeAgg(st, Seq("g"))
      .select("g", "approx_distinct").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // distinct u per g: 537 = 3·179 and id ≡ g (mod 3) forces
    // u = id % 537 ≡ g (mod 3) too → exactly 179 distinct u per group
    est.values.foreach(e => assert(math.abs(e - 179) / 179.0 < 0.15,
      s"estimate off: $est"))
    // a merge ORDER cannot change bits: merge the two halves reversed
    val dir3 = tmp("graft_mvp_rev")
    Maintenance.buildAggStateKeyed(full.filter(col("id") % 5 >= 2),
      dir3, Seq("g"), "v", nBuckets = 1, distinctKey = Some("u"))
    Maintenance.mergeAggStateKeyed(spark, dir3,
      full.filter(col("id") % 5 === 1), Seq("g"), "v",
      distinctKey = Some("u"))
    Maintenance.mergeAggStateKeyed(spark, dir3,
      full.filter(col("id") % 5 === 0), Seq("g"), "v",
      distinctKey = Some("u"))
    val st3 = Maintenance.readKeyed(spark, dir3)
    assert(snap(Maintenance.finalizeAgg(st3, Seq("g"))) == inc)
  }

  // ---- bucketed agg state: merge cost ∝ batch ----------------------------

  private def aggRows(df: org.apache.spark.sql.DataFrame) =
    Maintenance.finalizeAgg(df, Seq("g"))
      .select("g", "n", "total", "mean")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet

  test("bucketed agg state: CoW merge touches only the batch's buckets and equals the full recompute") {
    val dir = tmp("graft_bas")
    val full = spark.range(0, 20000)
      .select((col("id") % 500).as("g"), (col("id") % 97).cast("double").as("v"))
    Maintenance.buildAggStateKeyed(full.filter(col("id") % 10 =!= 0),
      dir, Seq("g"), "v", nBuckets = 16)
    val m1 = Maintenance.readManifest(spark, dir)
    assert(m1.resolve == "agg" && m1.nBuckets == 16)
    // batch confined to 3 groups -> at most 3 touched buckets
    val batch = full.filter(col("id") % 10 === 0 && col("g") < 3)
    Maintenance.mergeAggStateKeyed(spark, dir, batch, Seq("g"), "v")
    val m2 = Maintenance.readManifest(spark, dir)
    val moved = m2.buckets.count { case (b, dd) => !m1.buckets.get(b).contains(dd) }
    assert(moved >= 1 && moved <= 3, s"CoW merge moved $moved buckets")
    // every untouched bucket keeps its exact generation dir
    assert(m1.buckets.count { case (b, dd) => m2.buckets.get(b).contains(dd) }
      == m1.buckets.size - moved)
    // the merged state equals the recompute over build-rows ∪ batch
    val dir2 = tmp("graft_bas_full")
    Maintenance.buildAggStateKeyed(
      full.filter(col("id") % 10 =!= 0 || col("g") < 3),
      dir2, Seq("g"), "v", nBuckets = 16)
    assert(aggRows(Maintenance.readKeyed(spark, dir)) ==
      aggRows(Maintenance.readKeyed(spark, dir2)))
  }

  test("bucketed agg state: asDeltas appends partials, read re-aggregates, compact folds") {
    val dir = tmp("graft_basd")
    val full = spark.range(0, 20000)
      .select((col("id") % 500).as("g"), (col("id") % 97).cast("double").as("v"))
    Maintenance.buildAggStateKeyed(full.filter(col("id") % 4 === 0),
      dir, Seq("g"), "v", nBuckets = 16, sampleK = 64)
    val m1 = Maintenance.readManifest(spark, dir)
    (1 to 3).foreach(i =>
      Maintenance.mergeAggStateKeyed(spark, dir,
        full.filter(col("id") % 4 === i), Seq("g"), "v", sampleK = 64,
        asDeltas = true))
    val m2 = Maintenance.readManifest(spark, dir)
    // delta appends never move a base generation
    assert(m2.buckets == m1.buckets)
    assert(m2.deltas.values.exists(_.nonEmpty))
    // every reader resolves the agg-partial chains by re-aggregation
    // through the one resolver: bit for bit the one-shot recompute,
    // the bounded sample's quantiles included
    val dir2 = tmp("graft_basd_full")
    Maintenance.buildAggStateKeyed(full, dir2, Seq("g"), "v",
      nBuckets = 16, sampleK = 64)
    def q(df: org.apache.spark.sql.DataFrame) =
      Maintenance.finalizeAgg(df, Seq("g"))
        .select("g", "n", "total", "mean", "vmin", "vmax", "approx_p25",
          "approx_median", "approx_p90")
        .collect().map(_.toSeq).toSet
    assert(q(Maintenance.readKeyed(spark, dir)) ==
      q(Maintenance.readKeyed(spark, dir2)))
    val probe = Seq(0L, 7L, 123L, 499L, 5000L)
    val looked = q(Maintenance.lookupKeyed(spark, dir, probe))
    assert(looked.size == 4)
    assert(looked == q(Maintenance.lookupKeyed(spark, dir2, probe)))
    // compaction folds the chains; result unchanged
    Maintenance.compactKeyed(spark, dir)
    val m3 = Maintenance.readManifest(spark, dir)
    assert(m3.deltas.values.forall(_.isEmpty))
    assert(q(Maintenance.readKeyed(spark, dir)) ==
      q(Maintenance.readKeyed(spark, dir2)))
    assert(Maintenance.readKeyed(spark, dir).count() == 500)
  }

  test("an agg-state merge contradicting the build's recorded p or sampleK fails loudly") {
    val dir = tmp("graft_basp")
    val full = spark.range(0, 2000)
      .select((col("id") % 50).as("g"), (col("id") % 97).cast("double").as("v"))
    Maintenance.buildAggStateKeyed(full.filter(col("id") % 2 === 0),
      dir, Seq("g"), "v", nBuckets = 4, distinctKey = Some("v"),
      sampleK = 64)
    val v0 = Maintenance.manifestVersions(spark, dir).last
    val batch = full.filter(col("id") % 2 === 1)
    // a smaller sampleK would truncate the touched buckets' samples
    // under a manifest still recording 64; a different p would union
    // HLL registers of two sizes
    val errK = intercept[IllegalArgumentException] {
      Maintenance.mergeAggStateKeyed(spark, dir, batch, Seq("g"), "v",
        distinctKey = Some("v"), sampleK = 16)
    }
    assert(errK.getMessage.contains("sampleK"), errK.getMessage)
    val errP = intercept[IllegalArgumentException] {
      Maintenance.mergeAggStateKeyed(spark, dir, batch, Seq("g"), "v",
        distinctKey = Some("v"), p = 14, asDeltas = true)
    }
    assert(errP.getMessage.contains("p="), errP.getMessage)
    assert(Maintenance.manifestVersions(spark, dir).last == v0)
    // the build's own values, named or omitted, merge
    Maintenance.mergeAggStateKeyed(spark, dir, batch, Seq("g"), "v",
      distinctKey = Some("v"), p = 12, sampleK = 64)
    // register bytes compare by content
    def state(d: String) = Maintenance.readKeyed(spark, d).drop("kb")
      .collect().map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case v => v
      }).toSet
    val named = state(dir)
    val dirO = tmp("graft_basp_omitted")
    Maintenance.buildAggStateKeyed(full.filter(col("id") % 2 === 0),
      dirO, Seq("g"), "v", nBuckets = 4, distinctKey = Some("v"),
      sampleK = 64)
    Maintenance.mergeAggStateKeyed(spark, dirO, batch, Seq("g"), "v",
      distinctKey = Some("v"))
    assert(state(dirO) == named)
  }

  test("bucketed agg state: a state column the batch partial lacks fails loudly (sample grain is identity)") {
    val dir = tmp("graft_basg")
    val full = spark.range(0, 1000)
      .select((col("id") % 10).as("g"), col("id").cast("double").as("v"))
    Maintenance.buildAggStateKeyed(full, dir, Seq("g"), "v",
      nBuckets = 4, sampleK = 16, sampleUnique = Some("g"))
    // r12: the manifest RECORDS the sample grain column, so a default
    // merge reuses the build's grain (no silent flip, no caller-
    // repeated numbers) — the state stays row-uniform (__smpr)
    Maintenance.mergeAggStateKeyed(spark, dir, full, Seq("g"), "v",
      sampleK = 16)
    assert(Maintenance.readKeyed(spark, dir)
      .columns.contains("__smpr"))
    // ...and a merge CONTRADICTING the recorded column fails loudly
    // (two salt columns under one __smpr name would silently mix hash
    // functions in one heap)
    val errG = intercept[IllegalArgumentException] {
      Maintenance.mergeAggStateKeyed(spark, dir, full, Seq("g"), "v",
        sampleK = 16, sampleUnique = Some("v"))
    }
    assert(errG.getMessage.contains("sample grain"), errG.getMessage)
    // a PRE-r12 state (no recorded grain) merged with the WRONG grain
    // still fails at the stored-column align select: build the
    // distinct-value grain, merge row-uniform
    val dirOld = tmp("graft_basg_old")
    Maintenance.buildAggStateKeyed(full, dirOld, Seq("g"), "v",
      nBuckets = 4, sampleK = 16)
    intercept[org.apache.spark.sql.AnalysisException] {
      Maintenance.mergeAggStateKeyed(spark, dirOld, full, Seq("g"), "v",
        sampleK = 16, sampleUnique = Some("g"))
    }
    // and a ROW-table merge face refuses an agg-state table outright
    val err = intercept[IllegalArgumentException] {
      Maintenance.mergeAggStateKeyed(spark, tmp("graft_basg_row"), full,
        Seq("g"), "v")
    }
    assert(err.getMessage.contains("manifest") ||
      err.getMessage.contains("keyed"), err.getMessage)
  }

  test("predicate DML: old-row update semantics, NULL predicates match nothing, delta chains fold") {
    val M = Maintenance
    val dir = tmp("dml_sem")
    val base = spark.range(0, 1000).select(col("id").as("k"),
      col("id").cast("double").as("a"),
      (col("id") * 2).cast("double").as("b"),
      when(col("id") % 5 === 0, lit(null).cast("double"))
        .otherwise(col("id").cast("double")).as("m"))
    M.writeKeyed(base, dir, "k", 4)
    // a delta chain in the DML path must resolve before the rewrite
    M.appendDeltaKeyed(spark, dir,
      spark.range(0, 3).select(col("id").as("k"), lit(-1.0).as("a"),
        lit(-2.0).as("b"), lit(0.0).as("m")), "k", 4)
    // SWAP assignments prove old-row evaluation: a <-> b for k < 10
    val matched = M.updateKeyedWhere(spark, dir, col("k") < 10,
      Seq("a" -> col("b"), "b" -> col("a")))
    assert(matched == 10)
    val r3 = M.lookupKeyed(spark, dir, Seq(3L)).head
    assert(r3.getDouble(r3.fieldIndex("a")) == 6.0 &&
      r3.getDouble(r3.fieldIndex("b")) == 3.0,
      "assignments must read the OLD row, like SQL UPDATE")
    val r0 = M.lookupKeyed(spark, dir, Seq(0L)).head
    assert(r0.getDouble(r0.fieldIndex("a")) == -2.0 &&
      r0.getDouble(r0.fieldIndex("b")) == -1.0,
      "the delta row must resolve BEFORE the update rewrites it")
    // NULL predicate rows match nothing: delete on m < 100 keeps every
    // m-NULL row (SQL three-valued semantics)
    val del = M.deleteKeyedWhere(spark, dir, col("m") < 100.0)
    val kept = M.readKeyed(spark, dir)
    assert(kept.filter(col("m").isNull).count() ==
      base.filter(col("m").isNull).count() - 1, // k=0's delta set m=0.0
      "NULL-predicate rows must survive a DELETE WHERE")
    // matched-count sanity: deleted = rows with non-null m < 100
    // (k<3 delta rows set m=0.0 and count; k%5==0 nulls don't)
    val expectDel = (0L until 1000L)
      .count(k => (if (k < 3) 0.0 else k.toDouble) < 100.0 &&
        !(k % 5 == 0 && k >= 3))
    assert(del == expectDel, s"del=$del expect=$expectDel")
  }

  test("predicate DML refusals: agg states and seq tables; empty match commits nothing") {
    val M = Maintenance
    // agg state refuses
    val st = tmp("dml_agg")
    M.buildAggStateKeyed(spark.range(0, 100).select(
      (col("id") % 5).as("g"), col("id").cast("double").as("x")),
      st, Seq("g"), "x", 2)
    val e1 = intercept[IllegalArgumentException] {
      M.deleteKeyedWhere(spark, st, col("g") === 1L)
    }
    assert(e1.getMessage.contains("agg"))
    // seq-resolved table refuses (batch-wins would break ordering)
    val sq = tmp("dml_seq")
    M.writeKeyed(spark.range(0, 100).select(col("id").as("k"),
      col("id").cast("double").as("v"), lit(0L).as("seq")), sq, "k", 2)
    M.appendDeltaKeyedCols(spark, sq,
      spark.range(0, 5).select(col("id").as("k"), lit(1.0).as("v"),
        lit(2L).as("seq")), Seq("k"), 2, seqCol = Some("seq"))
    val e2 = intercept[IllegalArgumentException] {
      M.updateKeyedWhere(spark, sq, col("k") === 1L,
        Seq("v" -> lit(9.0)))
    }
    assert(e2.getMessage.contains("sequence"))
    // an empty match is a metadata no-op: no commit, version unchanged
    val nv = tmp("dml_noop")
    M.writeKeyed(spark.range(0, 100).select(col("id").as("k"),
      col("id").cast("double").as("v")), nv, "k", 2)
    val v1 = M.readManifest(spark, nv).version
    assert(M.deleteKeyedWhere(spark, nv, col("v") > 1e9) == 0L)
    assert(M.readManifest(spark, nv).version == v1,
      "an empty DML match must not commit a new version")
  }

  test("delta-mode predicate delete: bytes ∝ matches, bases untouched; seq tables must stamp") {
    val M = Maintenance
    val dir = tmp("dml_mor")
    val base = spark.range(0, 2000).select(col("id").as("k"),
      (col("id") % 31).cast("double").as("v"))
    M.writeKeyed(base, dir, "k", 4)
    val m1 = M.readManifest(spark, dir)
    val matched = M.deleteKeyedWhereDelta(spark, dir, col("v") < 3.0)
    assert(matched == base.filter(col("v") < 3.0).count())
    val m2 = M.readManifest(spark, dir)
    assert(m2.buckets == m1.buckets,
      "a delta delete must never rewrite base generations")
    assert(m2.deltas.values.exists(_.nonEmpty))
    val expect = base.filter(!(col("v") < 3.0))
    assert(M.diff(M.readKeyed(spark, dir).select("k", "v"), expect,
      Seq("k")).filter(col("status") =!= "same").count() == 0)
    // compaction reclaims; content unchanged
    M.compactKeyed(spark, dir)
    assert(M.diff(M.readKeyed(spark, dir).select("k", "v"), expect,
      Seq("k")).filter(col("status") =!= "same").count() == 0)
    // a SEQ table refuses unstamped, applies stamped as-of its seq
    val sq = tmp("dml_mor_seq")
    M.writeKeyed(spark.range(0, 100).select(col("id").as("k"),
      col("id").cast("double").as("v"), lit(0L).as("seq")), sq, "k", 2)
    M.appendDeltaKeyedCols(spark, sq,
      spark.range(0, 3).select(col("id").as("k"), lit(-1.0).as("v"),
        lit(5L).as("seq")), Seq("k"), 2, seqCol = Some("seq"))
    val e = intercept[IllegalArgumentException] {
      M.deleteKeyedWhereDelta(spark, sq, col("k") < 10)
    }
    assert(e.getMessage.contains("STAMP"))
    // stamp 3: kills seq-0 rows but LOSES to the stored seq-5 rows
    val n3 = M.deleteKeyedWhereDelta(spark, sq, col("k") < 10,
      seq = Some(lit(3L)))
    assert(n3 == 10)
    val left = M.readKeyed(spark, sq).filter(col("k") < 10)
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getDouble(1))
      .toMap
    assert(left == Map(0L -> -1.0, 1L -> -1.0, 2L -> -1.0),
      s"seq-5 rows must outlive a seq-3 tombstone: $left")
  }

  test("delta-mode predicate update: new values append as deltas; seq stamping governs winners") {
    val M = Maintenance
    val dir = tmp("dml_morU")
    val base = spark.range(0, 1000).select(col("id").as("k"),
      (col("id") % 31).cast("double").as("v"))
    M.writeKeyed(base, dir, "k", 4)
    val m1 = M.readManifest(spark, dir)
    val matched = M.updateKeyedWhereDelta(spark, dir, col("v") < 3.0,
      Seq("v" -> (col("v") + 100.0)))
    assert(matched == base.filter(col("v") < 3.0).count())
    val m2 = M.readManifest(spark, dir)
    assert(m2.buckets == m1.buckets,
      "a delta update must never rewrite base generations")
    val expect = base.select(col("k"),
      when(col("v") < 3.0, col("v") + 100.0).otherwise(col("v")).as("v"))
    assert(M.diff(M.readKeyed(spark, dir).select("k", "v"), expect,
      Seq("k")).filter(col("status") =!= "same").count() == 0)
    // seq table: unstamped refuses; a stamp below the stored seq loses
    val sq = tmp("dml_morU_seq")
    M.writeKeyed(spark.range(0, 100).select(col("id").as("k"),
      col("id").cast("double").as("v"), lit(0L).as("seq")), sq, "k", 2)
    M.appendDeltaKeyedCols(spark, sq,
      spark.range(0, 3).select(col("id").as("k"), lit(-1.0).as("v"),
        lit(5L).as("seq")), Seq("k"), 2, seqCol = Some("seq"))
    intercept[IllegalArgumentException] {
      M.updateKeyedWhereDelta(spark, sq, col("k") < 10,
        Seq("v" -> lit(7.0)))
    }
    assert(M.updateKeyedWhereDelta(spark, sq, col("k") < 10,
      Seq("v" -> lit(7.0)), seq = Some(lit(3L))) == 10)
    val got = M.readKeyed(spark, sq).filter(col("k") < 10)
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getDouble(1))
      .toMap
    assert((0L to 2L).forall(got(_) == -1.0) &&
      (3L to 9L).forall(got(_) == 7.0),
      s"stored seq-5 rows must outrank the seq-3 update: $got")
  }

  test("DML guards (r14): unknown assignment columns, time-stamping predicates, seq stamp on non-seq table") {
    val M = Maintenance
    val dir = tmp("dml_guards")
    M.writeKeyed(spark.range(0, 100).select(col("id").as("k"),
      col("id").cast("double").as("v")), dir, "k", 2)
    // a typo'd assignment name must fail loudly, not report matches
    // while changing nothing
    val e1 = intercept[IllegalArgumentException] {
      M.updateKeyedWhere(spark, dir, col("k") < 10,
        Seq("vv" -> lit(1.0)))
    }
    assert(e1.getMessage.contains("not a column"))
    val e1d = intercept[IllegalArgumentException] {
      M.updateKeyedWhereDelta(spark, dir, col("k") < 10,
        Seq("vv" -> lit(1.0)))
    }
    assert(e1d.getMessage.contains("not a column"))
    // current_timestamp() is Catalyst-deterministic but re-stamps per
    // execution: the probe and rewrite jobs could diverge — refused
    val e2 = intercept[IllegalArgumentException] {
      M.deleteKeyedWhere(spark, dir,
        org.apache.spark.sql.functions.current_timestamp()
          .cast("long") > col("k"))
    }
    assert(e2.getMessage.contains("deterministic"))
    // a seq stamp on a NON-seq table would silently get chain-order
    // semantics — refused
    val e3 = intercept[IllegalArgumentException] {
      M.deleteKeyedWhereDelta(spark, dir, col("k") < 5,
        seq = Some(lit(9L)))
    }
    assert(e3.getMessage.contains("not sequence-resolved"))
    val e4 = intercept[IllegalArgumentException] {
      M.updateKeyedWhereDelta(spark, dir, col("k") < 5,
        Seq("v" -> lit(1.0)), seq = Some(lit(9L)))
    }
    assert(e4.getMessage.contains("not sequence-resolved"))
    // the table is untouched by all four refusals
    assert(M.readManifest(spark, dir).version == 1)
  }

  test("vacuum group-pointer hygiene (r14): only undecodable pointers sweep; live groups' survive") {
    // The r13 ADVICE hole: ANY exception while resolving a pointer
    // classified it dead — including a transient IO error listing a
    // LIVE group's manifests, which would un-pin versions the group
    // still needs. The catch is now scoped to the Base64 decode; a
    // manifest-listing error KEEPS the pointer (code-reviewed branch —
    // a local FS cannot be made to throw on demand here). Testable
    // halves: an undecodable name sweeps, a live group's pointer (and
    // a decodable-but-empty one only once actually empty) behave as
    // before.
    val M = Maintenance
    val member = tmp("vac_ptr")
    M.writeKeyed(spark.range(0, 10).select(col("id").as("k"),
      col("id").cast("double").as("v")), member, "k", 2)
    val group = tmp("vac_ptr_grp")
    M.commitGroup(spark, group,
      Map(member -> M.readManifest(spark, member).version))
    val fs = new org.apache.hadoop.fs.Path(member)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gdir = new org.apache.hadoop.fs.Path(member, "_groups")
    val dead = new org.apache.hadoop.fs.Path(gdir, "!!not-base64!!")
    fs.create(dead).close()
    val liveName = java.util.Base64.getUrlEncoder.withoutPadding
      .encodeToString(group.getBytes("UTF-8"))
    M.vacuumKeyed(spark, member, keepVersions = 1, graceMs = 0L,
      force = true)
    assert(!fs.exists(dead), "undecodable pointer must sweep")
    assert(fs.exists(new org.apache.hadoop.fs.Path(gdir, liveName)),
      "a live group's pointer must survive the sweep")
  }

  test("one read path: a selection reaching no live bucket reads empty with the reader's non-empty schema") {
    val M = Maintenance
    val MV = graft.sources.MatView
    val dir = tmp("graft_readpath")
    val mvDir = tmp("graft_readpath_mv") + "/mv"
    // spark.range keys are NOT NULL, so the recorded DDL is too
    val df = spark.range(0, 96).select(col("id").as("k"),
      (col("id") * 1000L).as("v"), (col("id") % 4).as("g"))
    M.writeKeyed(df, dir, Seq("k"), 16, statsCols = Seq("v"))
    assert(!M.readManifest(spark, dir).schema("k").nullable)
    // a delta chain (an update and a tombstone) on top of the zone-mapped
    // base generations
    M.appendDeltaKeyed(spark, dir, Seq((5L, 5500L, 1L)).toDF("k", "v", "g"),
      "k", 16, tombstoneKeys = Some(Seq(9L).toDF("k")))
    val live = M.manifestVersions(spark, dir).last
    assert(M.readManifest(spark, dir).deltas.nonEmpty)
    MV.buildMv(spark, dir, mvDir, Seq("g"), Seq("v"), 4)
    val stateFull = M.readKeyed(spark, mvDir)
    val mvFull = MV.readMv(spark, mvDir)
    // every key deleted: every bucket is dead at `gone`, and the view's
    // incremental refresh replaces every changed bucket's partials with
    // nothing
    M.deleteKeyed(spark, dir, spark.range(0, 96).select(col("id").as("k")),
      "k", 16)
    val gone = M.manifestVersions(spark, dir).last
    MV.refreshMvIncremental(spark, mvDir)
    val cases = Seq(
      ("readKeyed at an all-deleted version",
        M.readKeyed(spark, dir, Some(gone)), M.readKeyed(spark, dir, Some(live))),
      ("readKeyedPinned", M.readKeyedPinned(spark, dir)._1,
        M.readKeyed(spark, dir, Some(live))),
      ("readKeyedRange over a disjoint range",
        M.readKeyedRange(spark, dir, "v", 10000000L, 20000000L, Some(live)),
        M.readKeyedRange(spark, dir, "v", 5000L, 6000L, Some(live))),
      ("readKeyedWhere over a disjoint range",
        M.readKeyedWhere(spark, dir, col("v") >= 10000000L, Some(live)),
        M.readKeyedWhere(spark, dir, col("v") <= 6000L, Some(live))),
      ("lookupKeyed of keys in dead buckets",
        M.lookupKeyed(spark, dir, Seq(5L, 6L), Some(gone)),
        M.lookupKeyed(spark, dir, Seq(5L, 6L), Some(live))),
      ("readKeyed of an emptied agg state",
        M.readKeyed(spark, mvDir), stateFull),
      ("readMv after a refresh that emptied every changed bucket",
        MV.readMv(spark, mvDir), mvFull))
    cases.foreach { case (what, empty, full) =>
      assert(empty.isEmpty, what)
      assert(!full.isEmpty, what)
      assert(empty.schema == full.schema,
        s"$what: ${empty.schema.toDDL} vs ${full.schema.toDDL}")
    }
    // the graftbench keyed_serve shape: Double probes on a Long column
    // still prune by zone map (readKeyedRange never re-analyzes them
    // into an attribute-side cast)
    val dbl = M.readKeyedRange(spark, dir, "v", 5000.0, 6000.0, Some(live))
    assert(dbl.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(5L, 6L))
    assert(dbl.inputFiles.length <
      M.readKeyed(spark, dir, Some(live)).inputFiles.length)
  }

  // ---- NULL group keys in the agg state ------------------------------------

  test("agg state: NULL is one group through build, merges, compaction and split") {
    val M = Maintenance
    val MV = graft.sources.MatView
    // every 7th row carries a NULL group key
    val rows = spark.range(0, 2000).select(
      when(col("id") % 7 =!= 0, (col("id") % 5).cast("string")).as("g"),
      (col("id") % 13 + 0.5).as("v"), col("id"))
    val part = (0 until 3).map(i => rows.filter(col("id") % 3 === i))
    type Row6 = (Option[String], Long, Double, Double, Double, Double)
    def view(fin: org.apache.spark.sql.DataFrame): Set[Row6] =
      fin.select("g", "n", "total", "mean", "vmin", "vmax").collect()
        .map(r => (Option(r.getString(0)), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
    // the plain SQL group-by over every row fed so far
    def scan(fed: org.apache.spark.sql.DataFrame): Set[Row6] =
      view(M.finalizeAgg(fed.groupBy("g").agg(count(lit(1)).as("__cnt"),
        sum(col("v").cast("decimal(28,2)")).as("__sum"),
        min("v").as("__min"), max("v").as("__max")), Seq("g")))
    def nullRow(s: Set[Row6]): Row6 = s.find(_._1.isEmpty).get

    val dir = tmp("graft_nullgrp")
    val steps: Seq[(String, () => Unit, Int)] = Seq(
      ("build", () => M.buildAggStateKeyed(part(0), dir, Seq("g"), "v",
        nBuckets = 4), 1),
      ("CoW merge", () => M.mergeAggStateKeyed(spark, dir, part(1),
        Seq("g"), "v"), 2),
      ("asDeltas merge", () => M.mergeAggStateKeyed(spark, dir, part(2),
        Seq("g"), "v", asDeltas = true), 3),
      ("compactKeyed", () => M.compactKeyed(spark, dir), 3),
      ("splitKeyed", () => M.splitKeyed(spark, dir, 0 until 4), 3))
    val versions = steps.map { case (what, run, fed) =>
      run()
      val got = view(M.finalizeAgg(M.readKeyed(spark, dir), Seq("g")))
      val want = scan(part.take(fed).reduce(_.union(_)))
      assert(want.exists(_._1.isEmpty), what)
      assert(got == want, what)
      M.manifestVersions(spark, dir).last
    }

    // the changelog across the CoW merge: the NULL group is ONE changed
    // row carrying its new and old values
    val ch = M.aggStateChanges(spark, dir, versions(0), versions(1))
      .filter(col("g").isNull)
      .select("status", "n", "total", "old_n", "old_total").collect()
    assert(ch.length == 1, ch.toSeq)
    val (now, before) = (nullRow(scan(part(0).union(part(1)))),
      nullRow(scan(part(0))))
    assert(ch(0).getString(0) == "changed")
    assert((ch(0).getLong(1), ch(0).getDouble(2)) == ((now._2, now._3)))
    assert((ch(0).getLong(3), ch(0).getDouble(4)) == ((before._2, before._3)))

    // a bucket-grain MV over a keyed base whose group column holds NULLs
    val bdir = tmp("graft_nullgrp_base")
    val mdir = tmp("graft_nullgrp_mv")
    M.writeKeyed(rows, bdir, "id", 4)
    MV.buildMv(spark, bdir, mdir, Seq("g"), Seq("v"), 4)
    assert(view(MV.readMv(spark, mdir)) == scan(rows))
    // move rows into and out of the NULL group, and delete some
    M.upsertKeyed(spark, bdir, rows.filter(col("id") % 11 === 0)
      .select(when(col("g").isNull, lit("9")).as("g"),
        (col("v") + 1).as("v"), col("id")), "id", 4)
    M.deleteKeyed(spark, bdir,
      rows.filter(col("id") % 17 === 0).select("id"), "id", 4)
    MV.refreshMvIncremental(spark, mdir)
    assert(view(MV.readMv(spark, mdir)) == scan(M.readKeyed(spark, bdir)))
    MV.unregister(spark, mdir)
  }

  // ---- bucket layout pin ----------------------------------------------------

  /** Key (rendered as a string, components joined on `|`) → the bucket
    * its row landed in, read from the stored `kb` column.
    */
  private def layoutOf(dir: String, keyCols: Seq[String]): Map[String, Int] =
    Maintenance.readKeyed(spark, dir)
      .select(concat_ws("|", keyCols.map(c => col(c).cast("string")): _*),
        col("kb"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap

  test("bucket layout is pinned: fixed keys land in fixed buckets") {
    // every existing table's rows stay where they are: these buckets
    // are constants of the on-disk format, not of the current code
    val M = Maintenance
    // Long keys, 8 buckets
    val dl = tmp("graft_pin_long")
    M.writeKeyed(spark.range(0, 12).select(col("id").as("k")), dl, "k", 8)
    val long = layoutOf(dl, Seq("k"))
    assert(long == Map(
      "0" -> 6, "1" -> 0, "2" -> 6, "3" -> 7, "4" -> 1, "5" -> 4,
      "6" -> 2, "7" -> 7, "8" -> 1, "9" -> 3, "10" -> 5, "11" -> 6),
      s"Long keys: $long")
    // String keys, 8 buckets
    val ds = tmp("graft_pin_str")
    M.writeKeyed(Seq("a", "b", "tenant-7", "", "zürich", "x y")
      .toDF("s"), ds, "s", 8)
    val str = layoutOf(ds, Seq("s"))
    assert(str == Map(
      "" -> 0, "a" -> 2, "b" -> 6, "tenant-7" -> 1, "x y" -> 1,
      "zürich" -> 3), s"String keys: $str")
    // two-column composite key, 8 buckets
    val dc = tmp("graft_pin_comp")
    M.writeKeyed(Seq(("t1", 1L), ("t1", 2L), ("t2", 1L), ("acme", 42L),
      ("", 0L)).toDF("tenant", "id"), dc, Seq("tenant", "id"), 8)
    val comp = layoutOf(dc, Seq("tenant", "id"))
    assert(comp == Map(
      "t1|1" -> 5, "t1|2" -> 2, "t2|1" -> 5, "acme|42" -> 5,
      "|0" -> 6), s"composite keys: $comp")
    // extendible-hashing layout: 4 base buckets, leaf 1 split twice
    val dx = tmp("graft_pin_split")
    M.writeKeyed(spark.range(0, 24).select(col("id").as("k")), dx, "k", 4)
    M.splitKeyed(spark, dx, Seq(1))
    M.splitKeyed(spark, dx, Seq(1))
    assert(M.readManifest(spark, dx).depths == Map(1 -> 2, 5 -> 1, 9 -> 2))
    val split = layoutOf(dx, Seq("k"))
    assert(split == Map(
      "0" -> 2, "1" -> 0, "2" -> 2, "3" -> 3, "4" -> 1, "5" -> 0,
      "6" -> 2, "7" -> 3, "8" -> 9, "9" -> 3, "10" -> 5, "11" -> 2,
      "12" -> 5, "13" -> 0, "14" -> 5, "15" -> 2, "16" -> 3, "17" -> 0,
      "18" -> 1, "19" -> 0, "20" -> 0, "21" -> 2, "22" -> 2, "23" -> 2),
      s"split layout: $split")
  }

  test("writer contract: each manifest dir is one key-sorted file whose footer is the manifest's rows and zone stats") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val M = Maintenance
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = tmp("graft_contract")
    M.writeKeyed(spark.range(0, 300).select(col("id").as("k"),
      (col("id") * 37 % 101).as("v")), dir, Seq("k"), 4, statsCols = Seq("v"))
    M.upsertKeyed(spark, dir, spark.range(250, 320)
      .select(col("id").as("k"), (col("id") % 7).as("v")), Seq("k"), 4)
    M.appendDeltaKeyed(spark, dir, spark.range(310, 360)
      .select(col("id").as("k"), (col("id") * 2).as("v")), "k", 4)
    val m = M.readManifest(spark, dir)
    val dirs = m.buckets.values.toSeq ++ m.deltas.values.flatten
    assert(dirs.exists(_.startsWith("d")), s"a delta dir is listed: $dirs")
    dirs.foreach { d =>
      val p = new Path(dir, d)
      val files = p.getFileSystem(conf).listStatus(p).toSeq
        .map(_.getPath).filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"$d holds one parquet file: $files")
      val ks = spark.read.parquet(files.head.toString).select("k")
        .collect().map(_.getLong(0)).toSeq
      assert(ks.nonEmpty && ks == ks.sorted, s"$d rows sorted by key: $ks")
      val rd = ParquetFileReader.open(HadoopInputFile.fromPath(files.head, conf))
      try {
        assert(m.rows(d) == rd.getRecordCount, s"$d rows")
        val vs = rd.getFooter.getBlocks.toArray.toSeq.flatMap { b =>
          b.asInstanceOf[org.apache.parquet.hadoop.metadata.BlockMetaData]
            .getColumns.toArray.toSeq.map(_.asInstanceOf[
              org.apache.parquet.hadoop.metadata.ColumnChunkMetaData])
            .filter(_.getPath.toDotString == "v").map(_.getStatistics)
        }
        val mn = vs.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue).min
        val mx = vs.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue).max
        assert(m.colStats(d) == Map("v" -> (mn.toString, mx.toString)),
          s"$d zone stats")
      } finally rd.close()
    }
    // a write failing in its tasks (a NULL key on a row table; a range,
    // not a local relation, so the optimizer cannot fail it first)
    // leaves nothing beside the table dir
    val parent = tmp("graft_nullkey")
    intercept[Exception](M.writeKeyed(spark.range(0, 40).select(
      when(col("id") =!= 17, col("id")).as("k"), col("id").as("v")),
      s"$parent/t", "k", 4))
    assert(new java.io.File(parent).list().toSeq.filterNot(_ == "t").isEmpty)
  }

  // ---- the write's own duplicate guard, DML counts, job pins ---------------

  test("in-write duplicate guard: a non-local batch's triple key is refused with 2, nothing left staged") {
    val M = Maintenance
    val dir = tmp("graft_dup3")
    M.writeKeyed(spark.range(0, 10).select(col("id").as("k"),
      col("id").as("v")), dir, "k", 4)
    val before = new java.io.File(dir).list().toSet
    // 40 distinct keys plus k=5 three times, over 4 input partitions
    val batch = spark.range(0, 43, 1, 4).select(
      when(col("id") >= 40, lit(5L)).otherwise(col("id") + 100).as("k"),
      col("id").as("v"))
    assert(batch.rdd.getNumPartitions == 4)
    assert(!batch.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val err = intercept[IllegalArgumentException] {
      M.appendDeltaKeyed(spark, dir, batch, "k", 4)
    }
    assert(err.getMessage.contains("): 2 duplicate keys"), err.getMessage)
    assert(new java.io.File(dir).list().toSet == before,
      "a refused append must leave no generation dir behind")
    assert(M.readManifest(spark, dir).version == 1)
  }

  test("in-write duplicate guard: a composite-key repeat is refused, distinct tuples pass") {
    val M = Maintenance
    val dir = tmp("graft_dupc")
    M.writeKeyed(spark.range(0, 20).select((col("id") % 5).as("a"),
      (col("id") / 5).cast("long").as("b"), col("id").as("v")),
      dir, Seq("a", "b"), 4)
    val err = intercept[IllegalArgumentException] {
      M.appendDeltaKeyedCols(spark, dir,
        Seq((1L, 2L, 7L), (1L, 3L, 8L), (1L, 2L, 9L)).toDF("a", "b", "v"),
        Seq("a", "b"), 4)
    }
    assert(err.getMessage.contains("): 1 duplicate keys"), err.getMessage)
    // same `a`, different `b`: distinct keys, accepted
    M.appendDeltaKeyedCols(spark, dir,
      Seq((1L, 2L, 7L), (1L, 3L, 8L)).toDF("a", "b", "v"), Seq("a", "b"), 4)
    val got = M.readKeyed(spark, dir).filter(col("a") === 1L)
      .select("b", "v").collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(got(2L) == 7L && got(3L) == 8L, got)
  }

  test("in-write duplicate guard: an agg-state delta append with NULL groups and unique keys is accepted") {
    val M = Maintenance
    val dir = tmp("graft_dup_aggnull")
    val rows = Seq[(Option[String], Option[String], Double)](
      (Some("x"), Some("p"), 1.0), (None, Some("p"), 2.0),
      (Some("x"), None, 3.0), (None, None, 4.0))
    M.buildAggStateKeyed(rows.toDF("g", "h", "v"), dir, Seq("g", "h"), "v",
      nBuckets = 2)
    // every group once, NULL components included: a guard that skipped
    // NULL components (multi-column count_distinct) would refuse this
    M.mergeAggStateKeyed(spark, dir, rows.toDF("g", "h", "v"),
      Seq("g", "h"), "v", asDeltas = true)
    val got = M.finalizeAgg(M.readKeyed(spark, dir), Seq("g", "h"))
      .select("g", "h", "n").collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1))) ->
        r.getLong(2)).toMap
    assert(got == rows.map(r => (r._1, r._2) -> 2L).toMap, got)
  }

  test("delta-mode DML returns the model's matched count for 0, 1 and many matches; zero matches publish nothing") {
    val M = Maintenance
    val dir = tmp("dml_counts")
    M.writeKeyed(spark.range(0, 300).select(col("id").as("k"),
      (col("id") % 7).cast("double").as("v")), dir, "k", 4)
    var model = (0L until 300L).map(k => k -> (k % 7).toDouble).toMap
    def table: Map[Long, Double] = M.readKeyed(spark, dir).select("k", "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def version: Int = M.readManifest(spark, dir).version
    // zero matches: 0 and no new version
    val v0 = version
    assert(M.deleteKeyedWhereDelta(spark, dir, col("k") > 1000L) == 0L)
    assert(M.updateKeyedWhereDelta(spark, dir, col("v") > 100.0,
      Seq("v" -> lit(1.0))) == 0L)
    assert(version == v0, "a zero-match delta DML must not publish")
    // one match each
    assert(M.updateKeyedWhereDelta(spark, dir, col("k") === 7L,
      Seq("v" -> lit(99.0))) == 1L)
    model += 7L -> 99.0
    assert(M.deleteKeyedWhereDelta(spark, dir, col("k") === 8L) == 1L)
    model -= 8L
    assert(table == model)
    // many
    val up = model.count(_._2 == 3.0).toLong
    assert(up > 1L)
    assert(M.updateKeyedWhereDelta(spark, dir, col("v") === 3.0,
      Seq("v" -> (col("v") + 10.0))) == up)
    model = model.map { case (k, v) => k -> (if (v == 3.0) v + 10.0 else v) }
    val del = model.count(_._2 < 2.0).toLong
    assert(del > 1L)
    assert(M.deleteKeyedWhereDelta(spark, dir, col("v") < 2.0) == del)
    model = model.filter(_._2 >= 2.0)
    assert(table == model)
    assert(version == v0 + 4)
  }

  /** Spark jobs `body` starts on this thread. */
  private def jobsOf(body: => Unit): Int = jobStats(body)._1

  /** Spark jobs `body` starts on this thread, and the distinct SQL
    * executions (queries) they ran under.
    */
  private def jobStats(body: => Unit): (Int, Int) = {
    val group = "graft-jobpin"
    val execs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(
              _.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          execs.add(String.valueOf(
            js.properties.getProperty("spark.sql.execution.id")))
        }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "keyed commit job pin")
    try {
      body
      Thread.sleep(300) // let listener events drain
      (jobs.get, execs.size)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("a local batch's delta append and upsert run a pinned number of Spark jobs") {
    val M = Maintenance
    val dir = tmp("graft_jobpin")
    M.writeKeyed(spark.range(0, 100).select(col("id").as("k"),
      col("id").as("v")), dir, "k", 4)
    val append = jobsOf(M.appendDeltaKeyed(spark, dir,
      Seq((3L, 30L), (50L, 500L), (200L, 2L)).toDF("k", "v"), "k", 4))
    val upsert = jobsOf(M.upsertKeyed(spark, dir,
      Seq((4L, 40L), (60L, 600L), (300L, 3L)).toDF("k", "v"), "k", 4))
    // a CDC batch with tombstones and no seq column merges through the
    // upsert's body: same jobs
    val cdc = jobsOf(M.cdcMergeKeyedCols(spark, dir,
      Seq((5L, 50L, false), (70L, 0L, true), (400L, 4L, false))
        .toDF("k", "v", "del"), Seq("k"), 4, deleteCol = Some("del")))
    // the stage job's two (shuffle map + write); the upsert adds the
    // touched buckets' resolve and the broadcast anti join (the batch
    // keys broadcast straight from the driver). A re-read duplicate
    // guard, a batch checkpoint, a kb probe job or a distinct over the
    // batch keys would each raise these
    assert(append == 2 && upsert == 4 && cdc == 4,
      s"append ran $append jobs, upsert $upsert, CDC merge $cdc")
    val got = M.readKeyed(spark, dir).select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L until 100L).map(k => k -> k).toMap - 70L ++
      Map(3L -> 30L, 50L -> 500L, 200L -> 2L, 4L -> 40L, 60L -> 600L,
        300L -> 3L, 5L -> 50L, 400L -> 4L))
  }

  test("an incremental bucket-grain MV refresh after a 60-key upsert runs a pinned number of Spark jobs") {
    val M = Maintenance
    val MV = graft.sources.MatView
    val dir = tmp("graft_mvjobpin")
    val mvDir = tmp("graft_mvjobpin_mv")
    M.writeKeyed(spark.range(0, 2000).select(col("id").as("k"),
      (col("id") % 50).as("g"), col("id").as("v")), dir, "k", 16)
    MV.buildMv(spark, dir, mvDir, Seq("g"), Seq("v"), 8)
    M.upsertKeyed(spark, dir, (0L until 60L).map(i =>
      (i * 31, i % 7, i * 1000)).toDF("k", "g", "v"), "k", 16)
    // ONE write query: the partial's aggregate exchange, the stage's
    // repartition and its write. A probe of the state, a checkpoint of
    // the partial or a read of untouched state buckets would move this pin
    val (refresh, queries) = jobStats(MV.refreshMvIncremental(spark, mvDir))
    assert(refresh == 3 && queries == 1,
      s"the MV refresh ran $refresh jobs in $queries queries")
    val scan = M.readKeyed(spark, dir).groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val view = MV.readMv(spark, mvDir).select("g", "n", "total")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2).toLong))
      .toMap
    assert(view == scan)
    MV.unregister(spark, mvDir)
  }

  test("a key-pinned predicate delete runs one write query; a pinned bucket without a match keeps its generation") {
    val M = Maintenance
    val dir = tmp("graft_deljobpin")
    M.writeKeyed(spark.range(0, 100).select(col("id").as("k"),
      col("id").as("v")), dir, "k", 4)
    val m0 = M.readManifest(spark, dir)
    def bucketOf(k: Long) = M.bucketsOf(m0, Seq(k).toDF("k")).head
    val hitBuckets = Seq(3L, 50L).map(bucketOf).toSet
    // two absent keys, one of them in a bucket no live key hits
    val absent = (1000L until 2000L).find(k => !hitBuckets(bucketOf(k))).get
    val noHit = bucketOf(absent)
    var n = -1L
    val (jobs, queries) = jobStats {
      n = M.deleteKeyedWhere(spark, dir, col("k").isin(3L, 50L, 999L, absent))
    }
    // the stage job's two (shuffle map + write) and no probe of the
    // matching rows before it
    assert(n == 2L && jobs == 2 && queries == 1,
      s"deleted $n rows in $jobs jobs and $queries queries")
    val got = M.readKeyed(spark, dir).select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L until 100L).map(k => k -> k).toMap - 3L - 50L)
    val m1 = M.readManifest(spark, dir)
    assert(m1.version == m0.version + 1)
    assert(m1.buckets(noHit) == m0.buckets(noHit),
      "a pinned bucket without a match was rewritten")
    hitBuckets.foreach(b => assert(m1.buckets(b) != m0.buckets(b)))
    // its task removed the copy it wrote
    val staged = new java.io.File(dir).list().toSeq
      .filter(_.startsWith(f"b$noHit%05d_g${m1.version}%09d"))
    assert(staged.isEmpty, s"left unreferenced copies: $staged")
    // nothing matched: nothing published
    assert(M.deleteKeyedWhere(spark, dir, col("k").isin(3L, absent)) == 0L)
    assert(M.readManifest(spark, dir).version == m1.version)
  }

  test("replaceAggStateByTag: a partial row outside the replaced tags fails the write and commits nothing") {
    val M = Maintenance
    val MV = graft.sources.MatView
    val dir = tmp("graft_replguard")
    val mvDir = tmp("graft_replguard_mv")
    M.writeKeyed(spark.range(0, 200).select(col("id").as("k"),
      (col("id") % 7).as("g"), col("id").as("v")), dir, "k", 4)
    MV.buildMv(spark, dir, mvDir, Seq("g"), Seq("v"), 2)
    val before = M.manifestVersions(spark, mvDir)
    val view = MV.readMv(spark, mvDir).collect().toSet
    // the state's own rows are partials of every tag; replace one tag
    val partial = M.readKeyed(spark, mvDir).drop("kb")
    val err = intercept[Exception] {
      M.replaceAggStateByTag(spark, mvDir, partial, MV.BucketTagCol, Seq(0),
        Map(dir -> 99L))
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage)
        .contains("outside the replaced tag set")), err.toString)
    assert(M.manifestVersions(spark, mvDir) == before)
    assert(MV.readMv(spark, mvDir).collect().toSet == view)
    MV.unregister(spark, mvDir)
  }

  test("lookupKeyed: fresh small key sets compile no new code after the first") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val M = Maintenance
    val dir = tmp("graft_lkcodegen")
    M.writeKeyed(spark.range(0, 1000).select(col("id").as("k"),
      (col("id") * 3).as("v")), dir, "k", 8)
    assert(M.lookupKeyed(spark, dir, Seq(1L, 2L, 3L)).collect().length == 3)
    // an IN-list of literals inlines them into the generated code: each
    // fresh set below the InSet threshold compiled its own classes
    val sets = Seq(Seq(17L), Seq(5L, 900L, 33L, 41L),
      (100L until 110L), Seq(7L, 8L))
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    sets.foreach(ks =>
      assert(M.lookupKeyed(spark, dir, ks).collect().map(_.getLong(0)).toSet ==
        ks.toSet))
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiles == 0, s"lookups 2-5 compiled $compiles classes")
  }
}
