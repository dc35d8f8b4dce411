package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval at a layer boundary, in epoch milliseconds. `op` is the
  * timed op that caused it; -1 outside the timed loop.
  */
final case class Span(op: Int, layer: String, name: String,
                      start: Double, end: Double) {
  def ms: Double = end - start
}

/** File system counters: operations and bytes. */
final case class FsStats(readOps: Long, listOps: Long, writeOps: Long,
                         bytesRead: Long, bytesWritten: Long) {
  def -(o: FsStats): FsStats = FsStats(readOps - o.readOps,
    listOps - o.listOps, writeOps - o.writeOps, bytesRead - o.bytesRead,
    bytesWritten - o.bytesWritten)
  def +(o: FsStats): FsStats = FsStats(readOps + o.readOps,
    listOps + o.listOps, writeOps + o.writeOps, bytesRead + o.bytesRead,
    bytesWritten + o.bytesWritten)
}

object FsStats {
  val zero: FsStats = FsStats(0, 0, 0, 0, 0)
  /** Op counts from `CountingLocalFs`, bytes from Hadoop's statistics. */
  @annotation.nowarn("cat=deprecation")
  def now(): FsStats = {
    val all = FileSystem.getAllStatistics.asScala
    FsStats(CountingLocalFs.reads.sum, CountingLocalFs.lists.sum,
      CountingLocalFs.writes.sum, all.map(_.getBytesRead).sum,
      all.map(_.getBytesWritten).sum)
  }
}

/** The local file system with per-call counters. Hadoop's statistics
  * count bytes for it but no operations, so the traced run installs this
  * subclass as the `file` scheme's implementation.
  */
final class CountingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  import CountingLocalFs._
  import org.apache.hadoop.fs.Path
  import org.apache.hadoop.fs.permission.FsPermission

  override def open(f: Path, bufferSize: Int) = {
    reads.increment(); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path) = {
    reads.increment(); super.getFileStatus(f)
  }
  override def listStatus(f: Path) = {
    lists.increment(); super.listStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable) = {
    writes.increment()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path) = {
    writes.increment(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean) = {
    writes.increment(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission) = {
    writes.increment(); super.mkdirs(f, permission)
  }
}

object CountingLocalFs {
  val reads, lists, writes = new LongAdder

  /** Make every later `file:` FileSystem lookup return a counting one:
    * the cache is keyed by scheme and user, not by configuration, so
    * the first instance created after clearing it serves everyone.
    */
  def install(conf: org.apache.hadoop.conf.Configuration): Unit = {
    conf.set("fs.file.impl", classOf[CountingLocalFs].getName)
    FileSystem.closeAll()
    val fs = FileSystem.get(new java.net.URI("file:///"), conf)
    require(fs.isInstanceOf[CountingLocalFs],
      s"file system is ${fs.getClass.getName}, not the counting one")
  }
}

/** The traced run's recorder. Spans come from the benchmark's own calls
  * into each layer; Spark jobs, stages and tasks from a `SparkListener`
  * (attributed to ops by the job group the runner sets per op); Catalyst
  * phases from a `QueryExecutionListener` (attributed by time); file
  * system and GC counters from deltas around each op. Everything stays
  * in memory until the run ends. A disabled tracer runs every body
  * untouched and registers nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Epoch ms at nanoTime resolution, comparable with Spark event times. */
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = ArrayBuffer[Span]()
  /** Per op: (start, end) in epoch ms. */
  val opWindows = ArrayBuffer[(Double, Double)]()
  var fs: FsStats = FsStats.zero
  var gcMs = 0L
  private var op = -1
  private var fs0 = FsStats.zero
  private var gc0 = 0L
  private var start0 = 0.0

  /** Time `body` as a span of the current op (untimed work is not traced). */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled || op < 0) body
    else {
      val s = now()
      try body finally spans += Span(op, layer, name, s, now())
    }

  private def gcNow(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  def beginOp(i: Int): Unit = if (enabled) {
    op = i
    fs0 = FsStats.now()
    gc0 = gcNow()
    start0 = now()
  }

  def endOp(): Unit = if (enabled) {
    opWindows += ((start0, now()))
    fs = fs + (FsStats.now() - fs0)
    gcMs += gcNow() - gc0
    op = -1
  }

  // ---- Spark events ---------------------------------------------------------

  final class Counter { val n = new LongAdder; def +=(v: Long): Unit = n.add(v) }
  val stages, tasks, taskRunMs, taskCpuNs, inputBytes, shuffleRead,
      shuffleWrite, spill = new Counter
  /** Jobs of timed ops: (op, start, end) in epoch ms. */
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]()
  /** Executed queries: their Catalyst phases as name -> (start, end). */
  val queries =
    new java.util.concurrent.ConcurrentLinkedQueue[Map[String, (Long, Long)]]()

  private val jobOp = new ConcurrentHashMap[Int, (Int, Long)]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()

  private def opOf(group: String): Int =
    if (group != null && group.startsWith("op"))
      scala.util.Try(group.drop(2).toInt).getOrElse(-1)
    else -1

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val o = opOf(Option(e.properties)
        .map(_.getProperty("spark.jobGroup.id")).orNull)
      if (o >= 0) {
        jobOp.put(e.jobId, (o, e.time))
        e.stageIds.foreach(s => stageOp.put(s, o))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobOp.remove(e.jobId)).foreach { case (o, t) =>
        jobs.add((o, t, e.time))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (stageOp.containsKey(e.stageInfo.stageId)) stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageOp.containsKey(e.stageId)) {
        tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          taskRunMs += m.executorRunTime
          taskCpuNs += m.executorCpuTime
          inputBytes += m.inputMetrics.bytesRead
          shuffleRead += m.shuffleReadMetrics.totalBytesRead
          shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      queries.add(qe.tracker.phases.map { case (k, p) =>
        k -> ((p.startTimeMs, p.endTimeMs))
      })
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = record(qe)
  }

  if (enabled) {
    CountingLocalFs.install(spark.sparkContext.hadoopConfiguration)
    spark.sparkContext.addSparkListener(listener)
  }
  watch(spark)

  /** Record the executed queries of `session` too (listeners are per
    * SQL session; a workload that opens a new session calls this).
    */
  def watch(session: SparkSession): Unit = if (enabled)
    session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager.register(qeListener)

  /** Wait until every posted Spark event has reached the listeners. */
  def drain(): Unit = if (enabled)
    org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** Write the spans, op windows and jobs as JSON lines to `path`. */
  def writeOut(path: String): Unit = if (enabled) {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      opWindows.zipWithIndex.foreach { case ((s, e), i) =>
        w.println(s"""{"kind":"op","op":$i,"start":$s,"end":$e}""")
      }
      spans.foreach(s => w.println(
        s"""{"kind":"span","op":${s.op},"layer":"${s.layer}",""" +
          s""""name":"${s.name}","start":${s.start},"end":${s.end}}"""))
      jobs.asScala.foreach { case (o, s, e) =>
        w.println(s"""{"kind":"job","op":$o,"start":$s,"end":$e}""")
      }
      queries.asScala.foreach { q =>
        q.foreach { case (ph, (s, e)) =>
          w.println(s"""{"kind":"phase","phase":"$ph","start":$s,"end":$e}""")
        }
      }
    } finally w.close()
  }
}

/** Interval arithmetic for self times and uncovered gaps. */
object Intervals {
  /** Total length of the union of `xs` clipped to [lo, hi]. */
  def covered(xs: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = xs.iterator.map { case (s, e) => (s max lo, e min hi) }
      .filter { case (s, e) => e > s }.toArray.sortBy(_._1)
    var total = 0.0
    var cs = Double.NaN
    var ce = Double.NaN
    clipped.foreach { case (s, e) =>
      if (cs.isNaN || s > ce) {
        if (!cs.isNaN) total += ce - cs
        cs = s; ce = e
      } else ce = ce max e
    }
    if (!cs.isNaN) total += ce - cs
    total
  }
}
