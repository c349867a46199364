package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Command line of one benchmark process (see perfbench/README.md). */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: Path, out: Path, launchEpochMs: Long, pins: Path) {
  /** `--workload train`: one cold pass of every workload, no timed loop
    * (the build uses it to record the JVM class-data archive). */
  def train: Boolean = workload == "train"
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")), Paths.get(need("out")),
      m.get("launch-epoch-ms").map(_.toLong).getOrElse(System.currentTimeMillis()),
      Paths.get(m.getOrElse("pins", "perfbench/corpus_digests.json")))
  }
}

/** What a workload run accumulates: output checks, end-to-end metrics,
  * per-layer metrics, and extra report lines (the workload-specific
  * numbers printed for people but not part of the metric contract). */
final class Ctx(val spark: SparkSession, val opts: Opts, val sessionS: Double) {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val report = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val attempts = new AtomicLong
  private val failures = new AtomicLong
  def attempted: Long = attempts.get
  def failed: Long = failures.get

  /** One output check (or one operation); a false `ok` counts as failed. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempts.incrementAndGet()
    if (!ok) { failures.incrementAndGet(); System.err.println(s"[perfbench] CHECK FAILED: $what") }
    ok
  }
  def fail(what: String): Unit = check(ok = false, what)

  /** Heap peaks swing too far from run to run to gate a change on, so the
    * figure is a report line, and a per-layer metric in traced runs. */
  def heap(mb: Double): Unit = {
    report("live_heap_peak_mb") = (mb, "MB")
    if (opts.trace) layer("live_heap_peak_mb") = (mb, "MB")
  }

  lazy val tracer: Tracer = {
    val c = new SparkCounters
    spark.sparkContext.addSparkListener(c)
    new Tracer(spark.sparkContext, c, s"${opts.workload}-${opts.seed}")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (numpy "linear" / type 7). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def time[T](body: => T): (T, Double) = {
    val t = System.nanoTime(); val r = body; (r, (System.nanoTime() - t) / 1e9)
  }
  def secs(body: => Unit): Double = time(body)._2

  /** Median per key over several per-iteration metric maps. */
  def medianByKey(maps: Seq[Map[String, Double]]): Map[String, Double] =
    maps.flatMap(_.keys).distinct.map(k => k -> median(maps.flatMap(_.get(k)))).toMap
}

/** Peak heap-used-after-GC of one measured window, from the collectors'
  * own notifications. Each window starts with a full collection (outside
  * any timing), so garbage left by earlier iterations does not count and
  * the peak reflects what the window itself kept live. */
object HeapWatch {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._

  @volatile private var open = false
  private val peak = new AtomicLong(0)
  private val mem = ManagementFactory.getMemoryMXBean
  private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter =>
      em.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, hb: AnyRef): Unit =
          if (open && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
              case (pool, u) if heapPools(pool) => u.getUsed
            }.sum
            peak.accumulateAndGet(used, (a, b) => math.max(a, b))
          }
      }, null, null)
    case _ => ()
  }

  /** Run `body` in a fresh window; returns its result and the window's
    * peak in MiB. */
  def measure[T](body: => T): (T, Double) = {
    System.gc()
    peak.set(mem.getHeapMemoryUsage.getUsed)
    open = true
    val r = try body finally open = false
    (r, peak.get / (1024.0 * 1024.0))
  }
}

object Main {
  val workloads: Map[String, Ctx => Unit] = Map(
    "catalog" -> CatalogWorkload.run,
    "composite" -> CompositeWorkload.run,
    "tiles" -> TilesWorkload.run,
    "corpus" -> CorpusWorkload.run)

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s)
    s
  }

  def main(args: Array[String]): Unit = {
    val code =
      try {
        if (args.headOption.contains("--pin-corpus")) { CorpusWorkload.pin(args.tail); 0 }
        else run(Opts.parse(args))
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      }
    System.out.flush(); System.err.flush()
    // The JVM ends itself, without stopping Spark (run.py deletes the
    // scratch space): a server thread pool that outlives its owner (see
    // README, "Known defects") would otherwise keep it alive.
    Runtime.getRuntime.halt(code)
  }

  def run(o: Opts): Int = {
    val bodies =
      if (o.train) Seq("catalog", "composite", "tiles", "corpus").map(workloads)
      else Seq(workloads.getOrElse(o.workload,
        throw new IllegalArgumentException(s"unknown workload ${o.workload}")))
    Files.createDirectories(o.work)
    HeapWatch.install()
    val spark = session(o.work)
    // warm the engine once so the session figure covers JVM + Spark start
    // and the first job, not the first workload iteration
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = (System.currentTimeMillis() - o.launchEpochMs) / 1e3
    val ctx = new Ctx(spark, o, sessionS)
    bodies.foreach { body =>
      try body(ctx)
      catch { case e: Throwable => e.printStackTrace(); ctx.fail(s"workload threw $e") }
    }
    if (o.trace) ctx.tracer.write(o.work.getParent.resolve("traces")
      .resolve(s"${o.workload}-seed${o.seed}.json"))
    writeResult(ctx)
    0
  }

  /** Print order: end-to-end metrics, then the per-layer catalogue. */
  private val order = Seq("wall_s", "setup_s", "first_result_s") ++
    Layers.all.map(_._1)

  private def writeResult(ctx: Ctx): Unit = {
    if (ctx.opts.trace) Layers.complete(ctx)
    def rank(k: String) = order.indexOf(k) match { case -1 => Int.MaxValue; case i => i }
    def block(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.toSeq.sortBy(kv => rank(kv._1)).map { case (k, (v, u)) =>
        s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
      }.mkString("{", ",", "}")
    val js = s"""{"correct":${ctx.failed == 0},"attempted":${ctx.attempted},"failed":${ctx.failed},""" +
      s""""end_to_end":${block(ctx.e2e)},"per_layer":${block(ctx.layer)},"report":${block(ctx.report)}}"""
    Files.write(ctx.opts.out, js.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
