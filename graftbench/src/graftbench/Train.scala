package graftbench

/** A short pass over every workload (set-up and a few ops) whose JVM
  * the build runs with -XX:ArchiveClassesAtExit: the class archive it
  * leaves lets every measured run start without loading Spark's classes
  * from their jars again.
  */
object Train {
  def main(args: Array[String]): Unit = {
    val dir = Main.arg(args, "dir")
    val cores = Main.arg(args, "cores").toInt
    val spark = Main.session(cores, dir)
    val tracer = new Tracer(spark, enabled = false)
    Seq("olap_lang", "keyed_ingest", "keyed_serve").foreach { name =>
      val w = Main.workload(name, Ctx(spark, 1L, cores, tracer, dir))
      w.prepare(s"$dir/$name/data")
      w.build(s"$dir/$name/input")
      (1 to 3).foreach { j =>
        val o = w.op(-j)
        w.run(o)
        w.check(o)
      }
    }
    spark.stop()
  }
}
