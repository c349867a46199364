package graft.viz

import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, Executors}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.Dataset
import graft.core.RasterSpec
import graft.ops.{Reproject, Resampling}
import graft.scan.Tile

/** Live XYZ tile service — the serving-layer counterpart of the
  * reference's `show()` (`stackstac/show.py:130-408`): an HTTP endpoint
  * `GET /{z}/{x}/{y}.png` over a cached composite Dataset, with an LRU
  * result cache (`show.py:44-46,191-193`) and fire-and-forget speculative
  * neighbor prefetch (the viewport-diff scheduler, `show.py:242-257`,
  * reduced to its useful core: warm the cache around each request).
  *
  * Rendering one tile = filter + warp + collect of a 256² slice — a small
  * Spark job; concurrent tiles ride Spark's scheduler. This is driver-side
  * serving logic, not a query operator (SURVEY §2.9).
  *
  * `bands` empty renders the dataset as one plane through `cmap`;
  * 2-3 band names render a true-color composite (the reference's headline
  * RGB preview, `show.py:452-475`): each channel is its band's plane,
  * normalized over one shared display range — the reference computes its
  * 2-98 percentile over the WHOLE array, all bands flattened together
  * (`show.py:481-498`), and so does [[displayRange]].
  */
final class TileServer(
    tiles: Dataset[Tile], spec: RasterSpec, srcChunk: Int,
    range: Option[(Double, Double)] = None, cacheSize: Int = 512,
    cmap: Colormap = Colormap.viridis,
    bands: Seq[String] = Seq.empty) {

  require(bands.size <= 3, s"1-3 bands for RGB compose, got ${bands.size}")

  private val cached = tiles.cache()

  /** Display range: explicit, or the 2nd-98th percentile of the data
    * computed once over the cached tiles (reference `show.py:484-498`,
    * including its persist-then-percentile pattern). */
  lazy val displayRange: (Double, Double) = range.getOrElse {
    import org.apache.spark.sql.functions._
    val spark = cached.sparkSession
    import spark.implicits._
    val row = cached.flatMap(_.pixels.filter(!_.isNaN)).toDF("v")
      .agg(expr("percentile_approx(v, array(0.02, 0.98), 10000)").as("p"))
      .collect().head.getSeq[Double](0)
    (row(0), row(1))
  }
  private val lru = new java.util.LinkedHashMap[String, Array[Byte]](cacheSize, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Array[Byte]]): Boolean =
      size() > cacheSize
  }
  private val inFlight = new ConcurrentHashMap[String, AnyRef]()
  private val prefetchPool = Executors.newFixedThreadPool(2)
  /** The HTTP handler pool; its threads are non-daemon, so [[stop]] must
    * shut it down or a JVM that served tiles never exits. */
  private[graft] val httpPool = Executors.newFixedThreadPool(4)
  private var server: HttpServer = _
  private val hitCtr = new java.util.concurrent.atomic.AtomicLong()
  private val missCtr = new java.util.concurrent.atomic.AtomicLong()

  /** Serving statistics — the engine's `stackstac.server_stats` analog
    * (`show.py:63-125` renders these per registered array in a widget;
    * here they are a value + the `/stats` JSON endpoint). `misses` counts
    * actual renders (each one Spark job), so `hits/(hits+misses)` is the
    * cache's job-elision rate. */
  final case class ServerStats(cachedTiles: Int, hits: Long, misses: Long)
  def stats: ServerStats =
    ServerStats(lru.synchronized(lru.size()), hitCtr.get(), missCtr.get())

  private val rendering =
    new ConcurrentHashMap[String, java.util.concurrent.CompletableFuture[Array[Byte]]]()

  def renderTile(z: Int, x: Int, y: Int): Array[Byte] = {
    val key = s"$z/$x/$y"
    lru.synchronized { Option(lru.get(key)) } match {
      case Some(b) => hitCtr.incrementAndGet(); b
      case None =>
        // Dogpile guard: concurrent requests for the SAME tile coalesce
        // onto one Spark job (a map pan fires the same tile from several
        // HTTP threads at once); waiters count as hits — they rendered
        // nothing.
        val fresh = new java.util.concurrent.CompletableFuture[Array[Byte]]()
        val prior = rendering.putIfAbsent(key, fresh)
        if (prior != null) { hitCtr.incrementAndGet(); prior.join() }
        else try {
          val png = renderFresh(z, x, y)
          lru.synchronized { lru.put(key, png) }
          fresh.complete(png)
          png
        } catch {
          case e: Throwable => fresh.completeExceptionally(e); throw e
        } finally rendering.remove(key)
    }
  }

  private def renderFresh(z: Int, x: Int, y: Int): Array[Byte] = {
    missCtr.incrementAndGet()
    val dstSpec = Xyz.tileSpec(z, x, y)
    // ONE warp job covers every band: Reproject groups by (item, asset,
    // dst chunk), so a 3-band composite costs one Spark job per tile,
    // not one per channel; the collected tiles split by band here.
    val warped = Reproject(cached, spec, dstSpec, srcChunk, 256, Resampling.Nearest)
      .collect()
    def plane(ts: Array[Tile]): Array[Double] = {
      val p = Array.fill(256 * 256)(Double.NaN)
      ts.foreach { t =>
        var r = 0
        while (r < t.height) {
          System.arraycopy(t.pixels, r * t.width, p, (t.rowOff + r) * 256 + t.colOff, t.width)
          r += 1
        }
      }
      p
    }
    // 1-band -> colormap; 2-3 bands -> RGB compose (reference
    // `show.py:452-475`: cmap only for single-band, 1-3 bands
    // rendered as channels, one shared display range for all bands).
    val planes: Seq[Array[Double]] =
      if (bands.isEmpty) Seq(plane(warped))
      else bands.map(b => plane(warped.filter(_.band == b)))
    val norm = planes.map(_.map(Png.normalize(_, displayRange._1, displayRange._2)))
    Png.encode(norm, 256, 256, cmap = cmap)
  }

  /** Warm neighbors of a requested tile (speculative execution, bounded). */
  private def prefetch(z: Int, x: Int, y: Int): Unit =
    for ((dx, dy) <- Seq((1, 0), (-1, 0), (0, 1), (0, -1))) {
      val key = s"$z/${x + dx}/${y + dy}"
      if (lru.synchronized(!lru.containsKey(key)) &&
          inFlight.putIfAbsent(key, TileServer.Marker) == null) {
        prefetchPool.submit(new Runnable {
          def run(): Unit =
            try renderTile(z, x + dx, y + dy)
            catch { case _: Throwable => () }
            finally inFlight.remove(key)
        })
      }
    }

  /** Start serving on `port` (0 = ephemeral); returns the bound port. */
  def start(port: Int = 0): Int = {
    server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
      if (path == "/stats") {
        val s = stats
        val msg = (s"""{"cachedTiles":${s.cachedTiles},"hits":${s.hits},""" +
          s""""misses":${s.misses}}""").getBytes
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(200, msg.length)
        ex.getResponseBody.write(msg)
      } else path.stripPrefix("/").stripSuffix(".png").split("/") match {
        case Array(z, x, y) if Seq(z, x, y).forall(_.matches("-?\\d+")) =>
          try {
            val png = renderTile(z.toInt, x.toInt, y.toInt)
            ex.getResponseHeaders.add("Content-Type", "image/png")
            ex.sendResponseHeaders(200, png.length)
            ex.getResponseBody.write(png)
            prefetch(z.toInt, x.toInt, y.toInt)
          } catch {
            case e: Throwable =>
              val msg = s"render error: ${e.getMessage}".getBytes
              ex.sendResponseHeaders(500, msg.length)
              ex.getResponseBody.write(msg)
          }
        case _ =>
          val msg = "usage: /{z}/{x}/{y}.png".getBytes
          ex.sendResponseHeaders(404, msg.length)
          ex.getResponseBody.write(msg)
      }
      ex.close()
    })
    server.setExecutor(httpPool)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    httpPool.shutdownNow()
    prefetchPool.shutdownNow()
    cached.unpersist()
  }
}

object TileServer { private object Marker }
