package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbench.{Bus, ScanListener}

/** One timed call into a graft layer (or a benchmark op around such
  * calls). Times are epoch nanoseconds so they line up with the
  * scheduler's job timestamps. */
final class Span(val id: Long, val name: String, val parent: Long,
    val op: Long, val start: Long) {
  var end: Long = 0L
  val counters: mutable.Map[String, Double] = mutable.Map.empty
  def wallS: Double = (end - start) / 1e9
}

/** Per-span Spark work, filled in by [[SpanListener]]. */
final class SpanWork {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  val execIds = mutable.Set.empty[Long]
}

/** Filesystem call counters for the `file:` scheme. The local
  * filesystem's own `Statistics` count bytes but not operations, so a
  * traced run swaps in this subclass through `fs.file.impl`. Counters
  * are JVM-global: in local mode executor tasks run in the same JVM, so
  * task-side reads are counted too. */
object FsCounters {
  val readOps = new AtomicLong
  val listOps = new AtomicLong
  val writeOps = new AtomicLong
  val statusOps = new AtomicLong
  def snapshot: Array[Long] =
    Array(readOps.get, listOps.get, writeOps.get, statusOps.get)
}

class CountingLocalFs extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    FsCounters.readOps.incrementAndGet(); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    FsCounters.listOps.incrementAndGet(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    FsCounters.statusOps.incrementAndGet(); super.getFileStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FsCounters.writeOps.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    FsCounters.writeOps.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    FsCounters.writeOps.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    FsCounters.writeOps.incrementAndGet(); super.mkdirs(f, permission)
  }
}

/** Attributes scheduler work to the span that was active on the driver
  * when the job was submitted (the `graftbench.span` local property). */
final class SpanListener extends SparkListener {
  val work = new ConcurrentHashMap[Long, SpanWork]()
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private def of(span: Long): SpanWork = work.computeIfAbsent(span, _ => new SpanWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.SpanProp))).foreach { s =>
      val span = s.toLong
      jobSpan.put(e.jobId, span)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(stageJob.putIfAbsent(_, e.jobId))
      val w = of(span)
      w.synchronized {
        w.jobs += 1
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(x => w.execIds += x.toLong)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.get(e.jobId)).foreach { span =>
      val w = of(span)
      w.synchronized { w.jobIntervals += ((jobStart.get(e.jobId), e.time)) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for {
      job <- Option(stageJob.get(e.stageId))
      span <- Option(jobSpan.get(job))
      m <- Option(e.taskMetrics)
    } {
      val w = of(span)
      w.synchronized {
        w.tasks += 1
        w.taskMs += m.executorRunTime
        w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
}

/** Span recorder. Disabled, `span` only runs its body: the untraced
  * run sets no local properties and registers no listener. Spans are
  * recorded on the thread that created the tracer (the closed-loop
  * client); other threads (input generation, parallel warm-up) run
  * their bodies untraced. */
final class Tracer private (val enabled: Boolean, spark: SparkSession) {
  private val sc = spark.sparkContext
  private val owner = Thread.currentThread()
  private val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private var nextId = 0L
  private val stack = mutable.Stack[Span]()
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = new SpanListener
  val files = new ScanListener

  if (enabled) {
    sc.addSparkListener(jobs)
    sc.addSparkListener(files)
  }

  def now: Long = System.nanoTime() + epochOffset

  def span[T](name: String, op: Long = -1L)(body: => T): T =
    if (!enabled || Thread.currentThread() != owner) body
    else {
      nextId += 1
      val parent = stack.headOption
      val s = new Span(nextId, name, parent.map(_.id).getOrElse(0L),
        if (op >= 0) op else parent.map(_.op).getOrElse(-1L), now)
      stack.push(s)
      spans += s
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      val fs0 = FsCounters.snapshot
      try body
      finally {
        s.end = now
        val fs1 = FsCounters.snapshot
        Seq("fs_read_ops", "fs_list_ops", "fs_write_ops", "fs_status_ops").zipWithIndex
          .foreach { case (k, i) => s.counters(k) = (fs1(i) - fs0(i)).toDouble }
        stack.pop()
        sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Attach a value to the innermost open span. */
  def note(key: String, v: Double): Unit =
    if (enabled && Thread.currentThread() == owner) stack.headOption.foreach(_.counters(key) = v)

  /** Block until every scheduler and query event has been delivered. */
  def drain(): Unit = if (enabled) Bus.drain(spark)

  /** Spark work of `s` and all its descendants. */
  def work(s: Span): SpanWork = {
    val w = new SpanWork
    inclusive(s).flatMap(x => Option(jobs.work.get(x.id))).foreach { x =>
      w.jobs += x.jobs; w.tasks += x.tasks; w.taskMs += x.taskMs
      w.shuffleBytes += x.shuffleBytes; w.spillBytes += x.spillBytes
      w.jobIntervals ++= x.jobIntervals; w.execIds ++= x.execIds
    }
    w
  }

  /** Files read by the span's queries whose relation lives under `root`. */
  def filesScanned(s: Span, root: String): Long =
    work(s).execIds.toSeq.flatMap(id => Option(files.scans.get(id)).getOrElse(Nil))
      .collect { case (p, n) if p.contains(root) => n }.sum

  /** Wall time of `s` not covered by any of its (or its descendants') jobs. */
  def driverGapS(s: Span): Double = {
    val lo = s.start / 1000000L
    val hi = s.end / 1000000L
    val iv = work(s).jobIntervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, s.wallS - covered / 1000.0)
  }

  /** Span time minus the part of it its direct children cover. */
  def selfS(s: Span): Double =
    s.wallS - children.getOrElse(s.id, Nil).map(_.wallS).sum

  lazy val children: Map[Long, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** `s` and all its descendants. */
  def inclusive(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(inclusive)
}

object Tracer {
  val SpanProp = "graftbench.span"
  def apply(enabled: Boolean, spark: SparkSession): Tracer = new Tracer(enabled, spark)
}
