package graftbench

import graft.sources.{Maintenance => M}

/** Seed discipline: for every workload, the same seed must give a
  * byte-identical op sequence and identical inputs, and another seed
  * must change both. Exits non-zero on any violation.
  *
  *   python3 graftbench/run.py --seed-check
  */
object SeedCheck {
  val Ops = 300

  def main(args: Array[String]): Unit = {
    val dir = Main.arg(args, "dir")
    val spark = Main.session(Main.arg(args, "cores").toInt, dir)
    val cores = spark.sparkContext.defaultParallelism
    val tracer = new Tracer(spark, enabled = false)
    var failures = 0
    def expect(ok: Boolean, what: String): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += 1
    }
    val (s1, s2) = (17L, 18L)
    var n = 0
    Seq("olap_lang", "keyed_ingest", "keyed_serve").foreach { name =>
      def w(seed: Long) = Main.workload(name, Ctx(spark, seed, cores, tracer, dir))
      def opsText(x: Workload): String =
        ((-x.warmupOps to -1) ++ (0 until Ops)).map(x.op(_).text)
          .mkString("\n")
      val a = opsText(w(s1))
      expect(a == opsText(w(s1)), s"$name: same seed, same $Ops-op sequence")
      expect(a != opsText(w(s2)), s"$name: other seed, other op sequence")
      // inputs: fingerprints of everything the build wrote
      def inputs(seed: Long): Seq[(String, (Long, Long, Long))] = {
        val d = s"$dir/seedcheck$n"; n += 1
        val x = w(seed)
        x.prepare(s"$d/data")
        x.build(d)
        val fps = if (name == "olap_lang")
          OlapLang.TableNames.map(t =>
            t -> Gen.fingerprint(spark.read.parquet(s"$d/data/$t.parquet")))
        else Seq("table" -> Gen.fingerprint(
          M.readKeyed(spark, s"$d/table").drop("kb")))
        Main.rmrf(new java.io.File(d))
        fps
      }
      val i1 = inputs(s1)
      expect(i1 == inputs(s1), s"$name: same seed, same inputs $i1")
      expect(i1 != inputs(s2), s"$name: other seed, other inputs")
    }
    spark.stop()
    println(s"seed check: ${if (failures == 0) "passed" else s"$failures failed"}")
    if (failures > 0) sys.exit(1)
  }
}
