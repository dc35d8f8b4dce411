package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.sources.{Fs, Maintenance}
import graft.sources.Maintenance.KeyedManifest

/** The single manifest codec and the single publish-if-absent
  * primitive: every manifest field survives an encode/decode round
  * trip whatever its text holds, manifests of any other format are
  * refused by path, and a second publish to a taken destination loses
  * without touching the winner's bytes.
  */
class ManifestCodecSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  // JSON metacharacters, the old format's separators, control and
  // non-ASCII text (a surrogate pair included) in every string field
  private val text: Gen[String] = Gen.listOf(Gen.oneOf(Seq("\"", "\\",
    ",", "|", "{", "}", "[", "]", ":", " ", "\n", "\u0001", "é", "日本",
    "😀", "a", "b", "0"))).map(_.mkString)
  private val anyInt = Gen.chooseNum(Int.MinValue, Int.MaxValue)
  private val anyLong = Gen.chooseNum(Long.MinValue, Long.MaxValue)
  private def mapOf[K, V](k: Gen[K], v: Gen[V]): Gen[Map[K, V]] =
    Gen.chooseNum(0, 4).flatMap(n => Gen.listOfN(n, Gen.zip(k, v)))
      .map(_.toMap)
  private def seqOf[A](g: Gen[A]): Gen[Seq[A]] =
    Gen.chooseNum(0, 3).flatMap(n => Gen.listOfN(n, g))

  private val manifest: Gen[KeyedManifest] = for {
    version <- Gen.chooseNum(1, Int.MaxValue)
    buckets <- mapOf(anyInt, text)
    keyCol <- text
    nBuckets <- anyInt
    schemaDdl <- text
    deltas <- mapOf(anyInt, seqOf(text))
    rows <- mapOf(text, anyLong)
    statsCols <- seqOf(text)
    colStats <- mapOf(text, mapOf(text, Gen.zip(text, text)))
    resolve <- text
    txn <- mapOf(text, anyLong)
    aggP <- anyInt
    aggK <- anyInt
    depths <- mapOf(anyInt, anyInt)
    aggSU <- text
    seqCol <- text
    bucketCols <- seqOf(text)
    counters <- mapOf(text, anyLong)
  } yield KeyedManifest(version, buckets, keyCol, nBuckets, schemaDdl,
    deltas, rows, 1700000000123L, statsCols, colStats, resolve, txn,
    aggP, aggK, depths, aggSU, seqCol, bucketCols, counters)

  test("manifest codec: decode(encode(m)) == m for arbitrary manifests") {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500),
      Prop.forAll(manifest) { m =>
        KeyedManifest.decode(m.version, KeyedManifest.encode(m)) == m
      })
    assert(res.passed, res.status.toString)
    // the all-defaults manifest is just the stamp
    assert(KeyedManifest.encode(KeyedManifest(1, Map.empty)) ==
      """{"format":1}""")
  }

  test("bucketCols and counters round-trip, and are omitted at their defaults") {
    val m = KeyedManifest(3, Map(0 -> "b00000_g000000001"), "term,doc_id",
      4, bucketCols = Seq("term"), counters = Map("n_docs" -> 7L,
        "sdl" -> Long.MaxValue))
    val body = KeyedManifest.encode(m)
    assert(body.contains(""""bucketCols":["term"]""") &&
      body.contains(""""counters":{"n_docs":7,"sdl":9223372036854775807}"""),
      body)
    assert(KeyedManifest.decode(3, body) == m)
    assert(m.bucketKey == Seq("term") && m.keyCols == Seq("term", "doc_id"))
    val plain = m.copy(bucketCols = Seq.empty, counters = Map.empty)
    val plainBody = KeyedManifest.encode(plain)
    assert(!plainBody.contains("bucketCols") &&
      !plainBody.contains("counters"), plainBody)
    assert(KeyedManifest.decode(3, plainBody) == plain)
    assert(plain.bucketKey == plain.keyCols)
    // a write bucketing on the whole key records the default: the field
    // is omitted from the manifest it publishes
    val dir = tmp("graft_mbucket")
    Maintenance.writeKeyed(spark.range(0, 8).selectExpr("id AS a",
      "id AS b"), dir, Seq("a", "b"), 2, bucketCols = Seq("a", "b"))
    val written = new String(Files.readAllBytes(
      Paths.get(dir, "_manifests", "v000000001.json")), UTF_8)
    assert(!written.contains("bucketCols") && !written.contains("counters"),
      written)
  }

  test("every written manifest is compact JSON stamped format 1") {
    val dir = tmp("graft_mfmt")
    Maintenance.writeKeyed(spark.range(0, 8).selectExpr("id AS k",
      "id AS v"), dir, "k", 2)
    val body = new String(Files.readAllBytes(
      Paths.get(dir, "_manifests", "v000000001.json")), UTF_8)
    assert(body.startsWith("""{"format":1,"""), body)
    assert(!body.contains(": "), body)
  }

  test("a manifest with a missing or foreign format is refused by path") {
    def refused(body: String): String = {
      val dir = tmp("graft_mbad")
      Files.createDirectories(Paths.get(dir, "_manifests"))
      Files.write(Paths.get(dir, "_manifests", "v000000001.json"),
        body.getBytes(UTF_8))
      val err = intercept[IllegalArgumentException] {
        Maintenance.readKeyed(spark, dir)
      }
      assert(err.getMessage.contains(dir), err.getMessage)
      err.getMessage
    }
    assert(refused("""{"buckets":{"0":"b00000_g000000001"}}""")
      .contains("(missing)"))
    assert(refused("""{"format":2,"buckets":{}}""").contains("format 2"))
    // the pre-format shape: a regex-era manifest
    assert(refused("""{"version": 1, "buckets": {"0": "g1"}}""")
      .contains("(missing)"))
    assert(refused("not json").contains("not JSON"))
  }

  test("publishIfAbsent: the first publish wins, the loser leaves no tmp") {
    val dir = new Path(tmp("graft_pub"))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def staged(name: String, body: String): Path = {
      val p = new Path(dir, name)
      val out = fs.create(p, true)
      try out.write(body.getBytes(UTF_8)) finally out.close()
      p
    }
    val dst = new Path(dir, "v000000001.json")
    val t1 = staged(".tmp_a", "first")
    assert(Fs.publishIfAbsent(fs, t1, dst))
    val t2 = staged(".tmp_b", "second")
    assert(!Fs.publishIfAbsent(fs, t2, dst))
    assert(new String(Files.readAllBytes(Paths.get(dst.toUri.getPath)),
      UTF_8) == "first")
    assert(!fs.exists(t1) && !fs.exists(t2))
    assert(fs.listStatus(dir).map(_.getPath.getName)
      .filterNot(_.endsWith(".crc")).toSeq == Seq("v000000001.json"))
  }

  test("forWrite: file: writes get the stock modes, bytes and checksums") {
    import org.apache.hadoop.fs.LocalFileSystem
    import org.apache.hadoop.fs.permission.FsPermission
    val dir = new Path(tmp("graft_posixfs"))
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    val stock = new LocalFileSystem()
    stock.initialize(new java.net.URI("file:///"), conf)
    val fast = Fs.forWrite(stock)
    assert(fast.isInstanceOf[graft.sources.PosixLocalFs])
    def write(fs: org.apache.hadoop.fs.FileSystem, sub: String): Path = {
      val p = new Path(dir, s"$sub/new/part")
      val out = fs.create(p, true)
      try out.write("payload".getBytes(UTF_8)) finally out.close()
      p
    }
    val (a, b) = (write(stock, "stock"), write(fast, "fast"))
    for ((x, y) <- Seq(a -> b, a.getParent -> b.getParent))
      assert(stock.getFileStatus(x).getPermission ==
        stock.getFileStatus(y).getPermission)
    // the checksum file is written, so a stock reader verifies it
    assert(stock.exists(new Path(b.getParent, ".part.crc")))
    assert(new String(Files.readAllBytes(Paths.get(b.toUri.getPath)),
      UTF_8) == "payload")
    fast.setPermission(b, new FsPermission("640"))
    assert(stock.getFileStatus(b).getPermission == new FsPermission("640"))
    // a write job's conf resolves file: to a fresh PosixLocalFs; any
    // other file: implementation is kept
    val jobConf = new org.apache.hadoop.conf.Configuration(conf)
    Fs.forWrite(jobConf)
    assert(b.getFileSystem(jobConf).isInstanceOf[graft.sources.PosixLocalFs])
    val custom = new org.apache.hadoop.conf.Configuration(conf)
    custom.set("fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    Fs.forWrite(custom)
    assert(custom.get("fs.file.impl") ==
      "org.apache.hadoop.fs.RawLocalFileSystem")
  }
}
