package graftbench

import java.net.{HttpURLConnection, URL}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import graft.Stack
import graft.core.Proj
import graft.ops.{Mosaic, Reproject, Resampling}
import graft.scan.Tile
import graft.viz.{Png, Xyz}

/** Tile serving: an RGB mosaic served through `Stack.serve` (first tile
  * at z12), driven by a closed loop of 4 client connections. Each client
  * fetches a 3×3 viewport of z13–z14 tiles, then pans one tile or zooms
  * one level; panning back revisits tiles, so the LRU cache, dogpile
  * coalescing, prefetch, per-tile `Reproject` jobs and PNG encoding all
  * matter. */
object TilesWorkload {
  val Items = 8
  val Px = 256
  val Chunk = 128
  /** 80 m pixels: the 4 footprints span ~33 km, ~20 z14 tiles across, so
    * a run's requests keep finding uncached tiles, while the composite
    * every render scans stays small (3 × ~415² px). */
  val Res = 80.0
  val footprints: IndexedSeq[Inputs.Footprint] =
    CompositeWorkload.footprints.map(f => Inputs.Footprint(f.col * Px / f.width, f.row * Px / f.height, Px, Px, Res))
  val Bands = Seq("red", "green", "blue")
  val Clients = 4
  val Zooms = 12 to 14
  /** One lap of a client's walk: E/W/S/N pan one tile, + zooms in from
    * z13 to z14 and - back out; the lap's net drift is one tile E and S. */
  val Itinerary = "EWEWSNSN+-"

  private val PngMagic = Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)

  final case class Fetch(key: String, status: Int, bytes: Array[Byte], ms: Double)

  def get(port: Int, z: Int, x: Int, y: Int): Fetch = {
    val t = System.nanoTime()
    val c = new URL(s"http://127.0.0.1:$port/$z/$x/$y.png").openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(30000); c.setReadTimeout(60000)
    try {
      val code = c.getResponseCode
      val body = (if (code == 200) c.getInputStream else c.getErrorStream).readAllBytes()
      Fetch(s"$z/$x/$y", code, body, (System.nanoTime() - t) / 1e6)
    } finally c.disconnect()
  }

  /** Tile index ranges (x0, x1, y0, y1) covering the data at zoom z. */
  def tileRange(b: graft.core.Bounds, z: Int): (Int, Int, Int, Int) = {
    val (lon0, lat0) = Proj.transform(Inputs.Epsg, 4326, b.minx, b.miny)
    val (lon1, lat1) = Proj.transform(Inputs.Epsg, 4326, b.maxx, b.maxy)
    val (xa, ya) = Xyz.tileOf(lon0, lat0, z)
    val (xb, yb) = Xyz.tileOf(lon1, lat1, z)
    (math.min(xa, xb), math.max(xa, xb), math.min(ya, yb), math.max(ya, yb))
  }

  private def poolThreads(): Set[Thread] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && !t.isDaemon && t.getName.matches("pool-\\d+-thread-\\d+")).toSet
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val o = ctx.opts
    var stack: Stack = null
    def generate(): Unit = {
      val rnd = new SplittableRandom(o.seed * 0x9e3779b97f4a7c15L + 3)
      val sc = Inputs.scenes(rnd, Items, footprints, Bands, 0.0, "T")
      stack = Stack(spark, Inputs.items(sc), chunk = Chunk)
    }
    val gen = Stats.median((0 until 3).map(_ => Stats.secs(generate())))
    val bounds = stack.spec.bounds
    val ranges = Zooms.map(z => z -> tileRange(bounds, z)).toMap
    val (cx, cy) = { val r = ranges(Zooms.head); ((r._1 + r._2) / 2, (r._3 + r._4) / 2) }
    val threadsBefore = poolThreads()
    val seen = new ConcurrentHashMap[String, Array[Byte]]()

    def checked(f: Fetch): Fetch = {
      val ok = f.status == 200 && f.bytes.length > 8 && f.bytes.take(4).sameElements(PngMagic)
      ctx.check(ok, s"tiles: ${f.key} -> HTTP ${f.status}, ${f.bytes.length} bytes")
      if (ok) {
        val prior = seen.putIfAbsent(f.key, f.bytes)
        if (prior != null) ctx.check(java.util.Arrays.equals(prior, f.bytes),
          s"tiles: revisit of ${f.key} returned different bytes")
      }
      f
    }

    // Stack.serve → first PNG, including the display-range pass
    val t0serve = System.nanoTime()
    val (server, port) = stack.serve(bands = Bands)
    if (o.trace) ctx.tracer.span("viz.display_range")(server.displayRange)
    checked(get(port, Zooms.head, cx, cy))
    val firstS = (System.nanoTime() - t0serve) / 1e9
    if (o.train) { server.stop(); return }

    // ---- closed loop -------------------------------------------------
    val stats0 = server.stats
    val jobs0 = if (o.trace) ctx.tracer.counters.snap(spark.sparkContext).jobs else 0L
    val latencies = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val steps = new java.util.concurrent.ConcurrentLinkedQueue[(Boolean, Double)]()
    val t0 = System.nanoTime()
    val deadline = t0 + (o.seconds * 1e9).toLong
    val start = {
      val r = ranges(Zooms(1)); val rnd = new SplittableRandom(o.seed * 1000003L - 1)
      ((r._1 + r._2) / 2 + rnd.nextInt(3) - 1, (r._3 + r._4) / 2 + rnd.nextInt(3) - 1)
    }
    val clients = (0 until Clients).map { id =>
      new Thread(() => {
        val rnd = new SplittableRandom(o.seed * 1000003L + id)
        // A fixed itinerary: every client opens the same seeded viewport
        // near the data's centre (its renders coalesce), then walks away in
        // its own quadrant direction, panning out and back (the return is
        // a revisit), zooming in and back out, and drifting one tile per
        // lap so every lap also meets uncached tiles. Positions wrap around
        // the data's tile range at each zoom.
        val (sx, sy) = (if (id % 2 == 0) 1 else -1, if (id / 2 == 0) 1 else -1)
        val (bx, by) = (rnd.nextInt(2), rnd.nextInt(2))
        var z = Zooms(1)
        def wrapX(v: Int) = { val r = ranges(z); r._1 + Math.floorMod(v - r._1, r._2 - r._1 + 1) }
        def wrapY(v: Int) = { val r = ranges(z); r._3 + Math.floorMod(v - r._3, r._4 - r._3 + 1) }
        var x = wrapX(start._1)
        var y = wrapY(start._2)
        var n = 0
        while (System.nanoTime() < deadline || n < 2) {
          val traced = o.trace && id % 2 == 1
          val s = System.nanoTime()
          for (dy <- -1 to 1; dx <- -1 to 1) {
            def one() = {
              val f = try checked(get(port, z, wrapX(x + dx), wrapY(y + dy)))
                      catch { case e: Throwable => ctx.fail(s"tiles: request threw $e"); null }
              if (f != null) latencies.add(f.ms)
            }
            if (traced) ctx.tracer.span("viz.request")(one()) else one()
          }
          steps.add((traced, (System.nanoTime() - s) / 1e9))
          Itinerary(n % Itinerary.size) match {
            case 'E' => x = wrapX(x + sx)
            case 'W' => x = wrapX(x - sx)
            case 'S' => y = wrapY(y + sy)
            case 'N' => y = wrapY(y - sy)
            case '+' => z += 1; x = wrapX(2 * x + bx); y = wrapY(2 * y + by)
            case _ => z -= 1; x = wrapX(x / 2); y = wrapY(y / 2)
          }
          n += 1
        }
      }, s"perfbench-client-$id")
    }
    val (_, heapMb) = HeapWatch.measure { clients.foreach(_.start()); clients.foreach(_.join()) }
    val loopS = (System.nanoTime() - t0) / 1e9
    val stats1 = server.stats
    import scala.jdk.CollectionConverters._
    val lat = latencies.asScala.toSeq
    val untracedSteps = steps.asScala.collect { case (false, s) => s }.toSeq
    val tracedSteps = steps.asScala.collect { case (true, s) => s }.toSeq
    val hits = (stats1.hits - stats0.hits).toDouble
    val misses = (stats1.misses - stats0.misses).toDouble

    // steps are bimodal (all cached vs several renders), so the mean
    // step — total client time over steps — is the steady figure
    ctx.e2e("wall_s") = (untracedSteps.sum / untracedSteps.size, "s")
    ctx.e2e("setup_s") = (ctx.sessionS + gen + firstS, "s")
    ctx.e2e("first_result_s") = (firstS, "s")
    ctx.heap(heapMb)
    ctx.report("first_tile_s") = (firstS, "s")
    ctx.report("tile_p50_ms") = (Stats.quantile(lat, 0.5), "ms")
    ctx.report("tile_p90_ms") = (Stats.quantile(lat, 0.9), "ms")
    ctx.report("tile_requests") = (lat.size.toDouble, "count")
    ctx.report("viewport_steps") = (steps.size.toDouble, "count")
    ctx.report("tile_requests_beyond_p90") = (lat.count(_ > Stats.quantile(lat, 0.9)).toDouble, "count")
    ctx.report("tiles_per_s") = (lat.size / loopS, "1/s")
    ctx.report("viz.hit_ratio") = (hits / math.max(1.0, hits + misses), "ratio")

    if (o.trace) {
      val t = ctx.tracer
      val jobs = t.counters.snap(spark.sparkContext).jobs - jobs0
      val dr = t.all.filter(_.name == "viz.display_range").map(_.seconds)
      // direct probes on tiles the loop never requests (z15 inside the data)
      val r15 = tileRange(bounds, 15)
      val probes = Seq((r15._1 + 1, r15._3 + 1), ((r15._1 + r15._2) / 2, (r15._3 + r15._4) / 2),
        (r15._2 - 1, r15._4 - 1))
      val render = probes.map { case (x, y) => t.span("viz.render_tile")(server.renderTile(15, x, y))._2.seconds * 1e3 }
      val bandIdx = stack.assetTable.map(_.band).distinct.sorted.zipWithIndex.toMap
      import spark.implicits._
      val comp = Mosaic(stack.tiles, Chunk).map(c => Tile(0, bandIdx(c.band), c.band, 0L,
        c.yChunk, c.xChunk, 0, 0, c.height, c.width, c.pixels)).cache()
      comp.count()
      val warped = probes.map { case (x, y) =>
        t.span("ops.reproject")(Reproject(comp, stack.spec, Xyz.tileSpec(15, x, y), Chunk, 256,
          Resampling.Nearest).collect())
      }
      comp.unpersist()
      val planes = Bands.map { b =>
        val p = Array.fill(256 * 256)(Double.NaN)
        warped(1)._1.filter(_.band == b).foreach { tl =>
          var r = 0
          while (r < tl.height) {
            System.arraycopy(tl.pixels, r * tl.width, p, (tl.rowOff + r) * 256 + tl.colOff, tl.width); r += 1
          }
        }
        p.map(Png.normalize(_, 0.0, 128.0))
      }
      val enc = (0 until 5).map(_ => t.span("viz.png_encode")(Png.encode(planes, 256, 256))._2.seconds * 1e3)
      ctx.layer("viz.display_range_s") = (Stats.median(dr), "s")
      ctx.layer("viz.cache_hits") = (hits, "count")
      ctx.layer("viz.cache_misses") = (misses, "count")
      ctx.layer("viz.hit_ratio") = (hits / math.max(1.0, hits + misses), "ratio")
      ctx.layer("viz.render_tile_ms") = (Stats.median(render), "ms")
      ctx.layer("ops.reproject_ms") = (Stats.median(warped.map(_._2.seconds * 1e3)), "ms")
      ctx.layer("viz.png_encode_ms") = (Stats.median(enc), "ms")
      ctx.layer("spark.jobs_per_miss") = (jobs / math.max(1.0, misses), "count")
      ctx.layer("spark.jobs") = (jobs.toDouble, "count")
      val (u, tr) = (untracedSteps.sum / untracedSteps.size, tracedSteps.sum / tracedSteps.size)
      ctx.layer("trace.untraced_wall_s") = (u, "s")
      ctx.layer("trace.traced_wall_s") = (tr, "s")
      ctx.layer("trace.overhead_s") = (tr - u, "s")
    }

    server.stop()
    // TileServer.stop() leaves its HTTP executor threads running; count
    // them once the prefetch pools had time to wind down
    var leaked = poolThreads() -- threadsBefore
    val until = System.nanoTime() + 3e9.toLong
    while (System.nanoTime() < until && leaked.exists(_.getState != Thread.State.WAITING)) {
      Thread.sleep(100); leaked = poolThreads() -- threadsBefore
    }
    ctx.report("viz.leaked_threads") = (leaked.size.toDouble, "count")
    if (o.trace) ctx.layer("viz.leaked_threads") = (leaked.size.toDouble, "count")
  }
}
