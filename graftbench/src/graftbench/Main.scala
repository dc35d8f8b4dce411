package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation. `kind` names its template; `text` is its full
  * description, a pure function of (seed, index) that the seed check
  * compares byte for byte.
  */
trait Op {
  def kind: String
  def text: String
}

/** What every workload gets: the session, the seed, the core count, the
  * tracer (a no-op unless `--trace 1`) and the run's scratch directory.
  */
final case class Ctx(spark: SparkSession, seed: Long, cores: Int,
                     tracer: Tracer, runDir: String)

/** Just enough JSON writing for result records. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case x => str(x.toString)
  }
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** A closed-loop, single-client workload: the runner asks for op `i`,
  * times `run`, then calls `check` outside the timed window.
  */
trait Workload {
  /** Generate input files under `dir` once per run: the benchmark's own
    * work, which set-up time leaves out.
    */
  def prepare(dir: String): Unit = ()
  /** Do the engine's set-up under `dir`, a fresh directory on every
    * call. The last build is the one warmed up and timed.
    */
  def build(dir: String): Unit
  /** Ops that bring JIT and caches to the state the timed loop sees. */
  def warmupOps: Int
  /** The i-th op (negative: warmup ops), a pure function of seed and i. */
  def op(i: Int): Op
  /** Run `op` against the engine: the timed part. Returns the user rows
    * the op moved (rows returned, or rows committed).
    */
  def run(op: Op): Long
  /** Whether `op`'s output, just produced by `run`, is correct. */
  def check(op: Op): Boolean
  /** End-of-run checks over the whole state; a list of failures. */
  def finish(): Seq[String]
  /** Stored bytes of the workload's tables ÷ bytes of the same final
    * state written once.
    */
  def spaceAmp(): Double
  /** Layer metrics measured from the final state (sources.versions,
    * sources.stored_bytes, user bytes for fs.write_amp).
    */
  def finalLayerFacts(): Map[String, Double]
}

object Main {
  /** Builds per run; setup_s takes their median. */
  val SetupRounds = 2

  def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def session(cores: Int, dir: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("graftbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "olap_lang" => new OlapLang(ctx)
    case "keyed_ingest" => new KeyedIngest(ctx)
    case "keyed_serve" => new KeyedServe(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (olap_lang, keyed_ingest, keyed_serve)")
  }

  /** Nearest-rank percentile of an ascending array. */
  def pct(sorted: Array[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.length - 1,
      math.max(0, math.ceil(p * sorted.length).toInt - 1)))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def rmrf(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    val name = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val dir = arg(args, "dir")
    val cores = arg(args, "cores").toInt
    val traceOut = arg(args, "trace-out")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = session(cores, dir)
    graft.sources.MatView.clear()
    val tracer = new Tracer(spark, traced)
    val w = workload(name, Ctx(spark, seed, cores, tracer, dir))
    val sc = spark.sparkContext
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    // ---- setup: build SetupRounds times, keep the last, warm it up ----
    w.prepare(s"$dir/data")
    val buildS = (0 until SetupRounds).map { r =>
      val d = s"$dir/input$r"
      val t0 = System.nanoTime()
      w.build(d)
      val s = (System.nanoTime() - t0) / 1e9
      if (r > 0) rmrf(new java.io.File(s"$dir/input${r - 1}"))
      s
    }
    sc.setJobGroup("warmup", "warmup", false)
    val tw = System.nanoTime()
    val warmFailures = (1 to w.warmupOps).count { j =>
      val o = w.op(-j)
      try { w.run(o); !w.check(o) }
      catch { case NonFatal(e) => System.err.println(s"warmup ${o.kind}: $e"); true }
    }
    val warmupS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + median(buildS) + warmupS

    // ---- timed closed loop --------------------------------------------
    tracer.drain()
    val lat = ArrayBuffer[Double]()
    val kinds = ArrayBuffer[String]()
    var failed = 0
    var rows = 0L
    var measuredNs = 0L
    val budgetNs = (seconds * 1e9).toLong
    val wall0 = System.nanoTime()
    val loadBefore = loadavg()
    val cpuBefore = cpuTimes()
    var i = 0
    while (measuredNs < budgetNs &&
        System.nanoTime() - wall0 < 4 * budgetNs + 30000000000L) {
      val o = w.op(i)
      sc.setJobGroup(s"op$i", o.kind, false)
      tracer.beginOp(i)
      val t0 = System.nanoTime()
      val out = try Right(w.run(o)) catch { case NonFatal(e) => Left(e) }
      val t1 = System.nanoTime()
      tracer.endOp()
      sc.setJobGroup("check", "check", false)
      measuredNs += t1 - t0
      lat += (t1 - t0) / 1e6
      kinds += o.kind
      val ok = out match {
        case Right(n) =>
          rows += n
          try w.check(o) catch { case NonFatal(e) =>
            System.err.println(s"check of op $i (${o.kind}) threw: $e"); false
          }
        case Left(e) =>
          System.err.println(s"op $i (${o.kind}) failed: $e"); false
      }
      if (!ok) {
        failed += 1
        System.err.println(s"op $i FAILED: ${o.text.take(300)}")
      }
      i += 1
    }
    val loadAfter = loadavg()
    val cpuAfter = cpuTimes()
    val cpuDelta = cpuBefore.zip(cpuAfter).map { case (a, b) => b - a }
    val n = lat.length
    tracer.drain()

    // ---- end of run: whole-state checks, space, retained heap ---------
    val finalFailures = try w.finish() catch {
      case NonFatal(e) => Seq(s"final checks threw: $e")
    }
    finalFailures.foreach(f => System.err.println(s"final check: $f"))
    val spaceAmp = w.spaceAmp()
    val facts = w.finalLayerFacts()
    // Spark's ContextCleaner drops shuffle and broadcast state only after
    // a GC has cleared the references to it; let it run between GCs
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    val retainedMb = heap.getUsed / (1024.0 * 1024.0)

    val sorted = lat.toArray.sorted
    val measuredS = measuredNs / 1e9
    val metrics = scala.collection.mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "op_p50_ms" -> pct(sorted, 0.5),
      "op_p90_ms" -> pct(sorted, 0.9),
      "ops_per_s" -> n / measuredS,
      "rows_per_s" -> rows / measuredS,
      "space_amp" -> spaceAmp,
      "retained_heap_mb" -> retainedMb)
    if (traced) metrics ++= layerMetrics(tracer, n, cores, facts) +
      ("trace.op_p50_ms" -> pct(sorted, 0.5))
    tracer.writeOut(traceOut)

    // a final-state failure fails the run's last op (counted once)
    val failedAll = math.min(n, failed +
      (if (finalFailures.nonEmpty && failed == 0) 1 else 0))
    val byKind = kinds.zip(lat).groupBy(_._1).toSeq.sortBy(_._1).map {
      case (k, xs) => s"$k:${xs.length}@${fmt(median(xs.map(_._2).toSeq))}ms"
    }
    println(s"workload=$name seed=$seed ops=$n failed=$failedAll " +
      s"failed_frac=${if (n == 0) 0.0 else failedAll.toDouble / n} " +
      s"warmup_failures=$warmFailures samples_beyond_p90=${
        sorted.count(_ > pct(sorted, 0.9))} " +
      s"session_s=${fmt(sessionS)} builds_s=${buildS.map(fmt).mkString(",")} " +
      s"warmup_s=${fmt(warmupS)} wall_s=${
        fmt((System.nanoTime() - wall0) / 1e9)}")
    println(s"per_kind ${byKind.mkString(" ")}")
    println(s"loadavg_before=$loadBefore loadavg_after=$loadAfter " +
      s"cpu_steal_pct=${fmt(100.0 * cpuDelta.lift(7).getOrElse(0L) /
        cpuDelta.sum.max(1L))}")
    val correct = failedAll == 0 && warmFailures == 0 &&
      finalFailures.isEmpty && n > 0
    println("GRAFTBENCH " + Json.obj("correct" -> correct.toString,
      "attempted" -> n.toString, "failed" -> failedAll.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, v) =>
        k -> Json.value(if (v.isNaN || v.isInfinite) 0.0 else v) }: _*)))
    spark.stop()
  }

  private def fmt(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))

  /** The aggregate `cpu` line of /proc/stat (user nice system idle iowait
    * irq softirq steal ...), in ticks; empty where unavailable.
    */
  private def cpuTimes(): Seq[Long] =
    try {
      val s = scala.io.Source.fromFile("/proc/stat")
      try s.getLines().next().trim.split("\\s+").drop(1).map(_.toLong).toSeq
      finally s.close()
    } catch { case NonFatal(_) => Nil }

  private def loadavg(): String =
    try {
      val s = scala.io.Source.fromFile("/proc/loadavg")
      try s.mkString.trim.split(" ").take(3).mkString("/") finally s.close()
    } catch { case NonFatal(_) => "n/a" }

  /** Per-layer metrics of a traced run: per-op means unless the name
    * says otherwise (see graftbench/README.md for each definition).
    */
  def layerMetrics(tr: Tracer, ops: Int, cores: Int,
                   facts: Map[String, Double]): Map[String, Double] = {
    val n = ops.max(1).toDouble
    val windows = tr.opWindows.toIndexedSeq
    val jobs = tr.jobs.asScala.toSeq.map { case (o, s, e) =>
      (o, s.toDouble, e.toDouble) }
    val jobsByOp = jobs.groupBy(_._1)
    // a query belongs to the op whose window holds its last phase end
    def opAt(t: Double): Int =
      windows.indexWhere { case (s, e) => t >= s - 1 && t <= e + 1 }
    val queries = tr.queries.asScala.toSeq.filter(_.nonEmpty)
      .map(q => (opAt(q.values.map(_._2).max.toDouble), q))
      .filter(_._1 >= 0)
    val phasesByOp = queries.groupBy(_._1).map { case (o, qs) =>
      o -> qs.flatMap(_._2.values.map { case (s, e) =>
        (s.toDouble, e.toDouble) })
    }
    def phaseMs(name: String) =
      queries.flatMap(_._2.get(name)).map { case (s, e) => e - s }.sum / n
    val jobWall = windows.indices.map { o =>
      Intervals.covered(jobsByOp.getOrElse(o, Nil).map(j => (j._2, j._3)),
        windows(o)._1, windows(o)._2)
    }
    val gaps = windows.indices.map { o =>
      val (s, e) = windows(o)
      val busy = jobsByOp.getOrElse(o, Nil).map(j => (j._2, j._3)) ++
        phasesByOp.getOrElse(o, Nil)
      (e - s) - Intervals.covered(busy, s, e)
    }
    def spansOf(layer: String, name: String) =
      tr.spans.filter(s => s.layer == layer && s.name == name).toSeq
    def meanMs(layer: String, name: String): Double = {
      val xs = spansOf(layer, name)
      if (xs.isEmpty) 0.0 else xs.map(_.ms).sum / xs.length
    }
    def jobsIn(xs: Seq[Span]): Int = xs.map { sp =>
      jobsByOp.getOrElse(sp.op, Nil)
        .count(j => j._2 >= sp.start - 1 && j._2 <= sp.end + 1)
    }.sum
    // self time: span duration minus what phases and jobs inside it cover
    def selfMs(xs: Seq[Span]): Double = xs.map { sp =>
      val busy = jobsByOp.getOrElse(sp.op, Nil).map(j => (j._2, j._3)) ++
        phasesByOp.getOrElse(sp.op, Nil)
      sp.ms - Intervals.covered(busy, sp.start, sp.end)
    }.sum
    val parse = spansOf("lang", "parse")
    val runs = spansOf("lang", "run")
    val commits = spansOf("sources", "commit")
    val polls = spansOf("streaming", "poll")
    val totalJobWall = jobWall.sum
    val taskRun = tr.taskRunMs.n.sum.toDouble
    val fs = tr.fs
    val userBytes = facts.getOrElse("user_bytes", 0.0)
    Map(
      "lang.parse_ms" -> parse.map(_.ms).sum / n,
      "lang.build_ms" -> math.max(0.0,
        (selfMs(runs) - parse.map(_.ms).sum) / n),
      "lang.eager_jobs" -> jobsIn(runs) / n,
      "catalyst.actions" -> queries.length / n,
      "catalyst.analysis_ms" -> phaseMs("analysis"),
      "catalyst.optimization_ms" -> phaseMs("optimization"),
      "catalyst.planning_ms" -> phaseMs("planning"),
      "exec.jobs" -> jobs.length / n,
      "exec.stages" -> tr.stages.n.sum / n,
      "exec.tasks" -> tr.tasks.n.sum / n,
      "exec.job_wall_ms" -> totalJobWall / n,
      "exec.driver_gap_ms" -> gaps.sum / n,
      "exec.task_run_ms" -> taskRun / n,
      "exec.task_cpu_ms" -> tr.taskCpuNs.n.sum / 1e6 / n,
      "exec.core_util" ->
        (if (totalJobWall > 0) taskRun / (totalJobWall * cores) else 0.0),
      "exec.input_bytes" -> tr.inputBytes.n.sum / n,
      "exec.shuffle_read_bytes" -> tr.shuffleRead.n.sum / n,
      "exec.shuffle_write_bytes" -> tr.shuffleWrite.n.sum / n,
      "exec.spill_bytes" -> tr.spill.n.sum / n,
      "sources.commit_ms" -> meanMs("sources", "commit"),
      "sources.jobs_per_commit" ->
        (if (commits.isEmpty) 0.0 else jobsIn(commits).toDouble / commits.length),
      "sources.refresh_ms" -> meanMs("sources", "refresh"),
      "sources.maintain_ms" -> meanMs("sources", "maintain"),
      "sources.read_plan_ms" -> meanMs("sources", "read_plan"),
      "sources.changes_ms" -> meanMs("sources", "changes"),
      "sources.versions" -> facts.getOrElse("versions", 0.0),
      "sources.stored_bytes" -> facts.getOrElse("stored_bytes", 0.0),
      "streaming.poll_ms" -> meanMs("streaming", "poll"),
      "streaming.rows_polled" -> (if (polls.isEmpty) 0.0
        else facts.getOrElse("rows_polled", 0.0) / polls.length),
      "fs.read_ops" -> fs.readOps / n,
      "fs.list_ops" -> fs.listOps / n,
      "fs.write_ops" -> fs.writeOps / n,
      "fs.bytes_read" -> fs.bytesRead / n,
      "fs.bytes_written" -> fs.bytesWritten / n,
      "fs.write_amp" ->
        (if (userBytes > 0) fs.bytesWritten / userBytes else 0.0),
      "jvm.gc_ms" -> tr.gcMs / n)
  }
}
