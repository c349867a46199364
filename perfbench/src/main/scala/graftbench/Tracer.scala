package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Cumulative Spark counters fed by a listener on the driver. A [[Snap]]
  * is a point-in-time copy; the difference of two snaps is what ran in
  * between (the listener bus is drained before every snap). */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  /** (start, end) epoch ms of every finished job. */
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => jobIntervals.add((s, e.time)))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
    }
  }

  def snap(sc: SparkContext): Snap = {
    org.apache.spark.BenchAccess.drainListenerBus(sc)
    Snap(System.currentTimeMillis(), jobs.get, tasks.get, taskMs.get, gcMs.get,
      shuffleWrite.get, spill.get)
  }

  /** Milliseconds of [from, to] covered by at least one job. */
  def jobCoverMs(from: Long, to: Long): Long = {
    import scala.jdk.CollectionConverters._
    val iv = jobIntervals.asScala.toSeq
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

final case class Snap(atMs: Long, jobs: Long, tasks: Long, taskMs: Long, gcMs: Long,
                      shuffleWrite: Long, spill: Long) {
  def -(o: Snap): Snap = Snap(atMs - o.atMs, jobs - o.jobs, tasks - o.tasks, taskMs - o.taskMs,
    gcMs - o.gcMs, shuffleWrite - o.shuffleWrite, spill - o.spill)
}

/** One recorded span. Times are nanoseconds since the tracer started;
  * `parent` is the id of the enclosing span on the same thread (-1 at
  * top level). `attrs` carries the Spark counter deltas (or, for a
  * `.phases` span, the planner phase times). */
final case class Span(id: Int, parent: Int, run: String, name: String,
                      startNs: Long, endNs: Long, attrs: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans nest per thread; each one snapshots the
  * Spark counters at both ends, so a span that wraps one layer call (made
  * eager by a persist + count at its boundary) carries that layer's jobs,
  * tasks, task/GC time, shuffle bytes, spill and driver gap. Nothing is
  * written until [[write]]. */
final class Tracer(sc: SparkContext, val counters: SparkCounters, runId: String) {
  private val t0 = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new AtomicLong
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[T](name: String)(body: => T): (T, Span) = {
    val id = nextId.getAndIncrement().toInt
    val parent = stack.get.headOption.getOrElse(-1)
    stack.set(id :: stack.get)
    val before = counters.snap(sc)
    val s = System.nanoTime()
    val out = try body finally stack.set(stack.get.tail)
    val e = System.nanoTime()
    val d = counters.snap(sc) - before
    val wallMs = (e - s) / 1e6
    val gapS = math.max(0.0, wallMs - counters.jobCoverMs(before.atMs, before.atMs + d.atMs)) / 1e3
    val sp = Span(id, parent, runId, name, s - t0, e - t0, Map(
      "jobs" -> d.jobs.toDouble, "tasks" -> d.tasks.toDouble, "task_ms" -> d.taskMs.toDouble,
      "gc_ms" -> d.gcMs.toDouble, "shuffle_write_bytes" -> d.shuffleWrite.toDouble,
      "spill_bytes" -> d.spill.toDouble, "driver_gap_s" -> gapS))
    spans.synchronized(spans += sp)
    (out, sp)
  }

  /** Attach the planner phase times of a Dataset's QueryExecution
    * (parsing/analysis/optimization/planning, ms) as a zero-length span
    * under `name`. */
  def phases(name: String, ds: org.apache.spark.sql.Dataset[_]): Map[String, Double] = {
    val ph = ds.queryExecution.tracker.phases.map { case (k, v) => s"phase_${k}_ms" -> v.durationMs.toDouble }
    val now = System.nanoTime() - t0
    spans.synchronized(spans += Span(nextId.getAndIncrement().toInt, stack.get.headOption.getOrElse(-1),
      runId, name + ".phases", now, now, ph))
    ph
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    all.sortBy(_.id).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"run":${Json.str(s.run)},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},"attrs":{""")
      sb.append(s.attrs.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(","))
      sb.append("}}")
    }
    sb.append("\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\""); case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n"); case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
