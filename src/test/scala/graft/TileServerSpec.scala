package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerStageSubmitted}
import graft.core.{AffineTransform, Bounds, Proj, RasterSpec}
import graft.ops.{Mosaic, Reproject, Resampling}
import graft.scan.{Tile, TileScan}
import graft.stac.{Prepare, PrepareResult, StacAsset, StacItem}
import graft.viz.{Png, TileServer, Xyz}

/** End-to-end serving test: composite -> HTTP GET /{z}/{x}/{y}.png. */
class TileServerSpec extends SparkSpec {

  test("serves a rendered PNG tile over HTTP with caching") {
    import spark.implicits._
    val items = (0 until 2).map { i =>
      StacItem(s"s$i", Some(f"2024-06-0${i + 1}T00:00:00Z"), epsg = Some(32633),
        assets = Map("gray" -> StacAsset(s"fake://gray/$i",
          bbox = Some(Bounds(399960, 4990200, 402520, 4992760)),
          shape = Some((256, 256)),
          transform = Some(AffineTransform.northUp(399960, 4992760, 10, 10)))))
    }
    val plan = Prepare(items)
    val composite = Mosaic(TileScan.scan(spark, plan.assetTable, plan.spec, 128), 128)
      .map(c => Tile(0, 0, c.band, 0L, c.yChunk, c.xChunk, 0, 0, c.height, c.width, c.pixels))
    val server = new TileServer(composite, plan.spec, 128) // range auto = 2-98 percentile
    val port = server.start()
    try {
      val (cx, cy) = ((399960 + 402520) / 2.0, (4990200 + 4992760) / 2.0)
      val (lon, lat) = graft.core.Proj.transform(32633, 4326, cx, cy)
      val (tx, ty) = Xyz.tileOf(lon, lat, 12)
      def get(path: String): (Int, Array[Byte]) = {
        val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        val code = conn.getResponseCode
        val is = if (code == 200) conn.getInputStream else conn.getErrorStream
        val bytes = is.readAllBytes(); is.close()
        (code, bytes)
      }
      val (code, png) = get(s"/12/$tx/$ty.png")
      assert(code == 200)
      assert(png.take(4).sameElements(Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)))
      // cached second hit returns identical bytes
      val (_, png2) = get(s"/12/$tx/$ty.png")
      assert(png2.sameElements(png))
      // serving stats (server_stats analog): the repeat was a cache hit,
      // the first render a miss; the JSON endpoint mirrors the accessor
      val st = server.stats
      assert(st.hits >= 1 && st.misses >= 1 && st.cachedTiles >= 1, st.toString)
      val (sc, sbody) = get("/stats")
      assert(sc == 200 && new String(sbody).contains("\"hits\":"))
      // malformed path -> 404
      assert(get("/nonsense")._1 == 404)
    } finally server.stop()
  }

  test("concurrent requests for the same tile coalesce onto one render") {
    import spark.implicits._
    val items = Seq(StacItem("s0", Some("2024-06-01T00:00:00Z"), epsg = Some(32633),
      assets = Map("gray" -> StacAsset("fake://gray/0",
        bbox = Some(Bounds(399960, 4990200, 402520, 4992760)),
        shape = Some((256, 256)),
        transform = Some(AffineTransform.northUp(399960, 4992760, 10, 10))))))
    val plan = Prepare(items)
    val composite = Mosaic(TileScan.scan(spark, plan.assetTable, plan.spec, 128), 128)
      .map(c => Tile(0, 0, c.band, 0L, c.yChunk, c.xChunk, 0, 0, c.height, c.width, c.pixels))
    val server = new TileServer(composite, plan.spec, 128, range = Some((0.0, 255.0)))
    try {
      val (cx, cy) = ((399960 + 402520) / 2.0, (4990200 + 4992760) / 2.0)
      val (lon, lat) = graft.core.Proj.transform(32633, 4326, cx, cy)
      val (tx, ty) = Xyz.tileOf(lon, lat, 12)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val results = (0 until 8).map(_ => pool.submit(
        new java.util.concurrent.Callable[Array[Byte]] {
          def call(): Array[Byte] = server.renderTile(12, tx, ty)
        }))
      val pngs = results.map(_.get())
      pool.shutdown()
      assert(pngs.forall(_.sameElements(pngs.head)))
      // dogpile guard: exactly ONE Spark render ran; the other 7 either
      // joined the in-flight future or hit the cache
      val st = server.stats
      assert(st.misses == 1, st.toString)
      assert(st.hits == 7, st.toString)
    } finally server.stop()
  }

  test("parallel HTTP GETs: cache-coherent, never a duplicate warp per tile key") {
    import spark.implicits._
    val items = Seq(StacItem("s0", Some("2024-06-01T00:00:00Z"), epsg = Some(32633),
      assets = Map("gray" -> StacAsset("fake://gray/0",
        bbox = Some(Bounds(399960, 4990200, 402520, 4992760)),
        shape = Some((256, 256)),
        transform = Some(AffineTransform.northUp(399960, 4992760, 10, 10))))))
    val plan = Prepare(items)
    val composite = Mosaic(TileScan.scan(spark, plan.assetTable, plan.spec, 128), 128)
      .map(c => Tile(0, 0, c.band, 0L, c.yChunk, c.xChunk, 0, 0, c.height, c.width, c.pixels))
    val server = new TileServer(composite, plan.spec, 128, range = Some((0.0, 255.0)))
    val port = server.start()
    try {
      val (cx, cy) = ((399960 + 402520) / 2.0, (4990200 + 4992760) / 2.0)
      val (lon, lat) = graft.core.Proj.transform(32633, 4326, cx, cy)
      val (tx, ty) = Xyz.tileOf(lon, lat, 12)
      def get(path: String): Array[Byte] = {
        val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        assert(conn.getResponseCode == 200, path)
        val bytes = conn.getInputStream.readAllBytes()
        conn.getInputStream.close(); bytes
      }
      // two distinct tile keys, 8 concurrent GETs each, through the
      // server's own 4-thread HTTP pool (the show.py:259-274 map-pan
      // shape: the same tiles fired from several connections at once)
      val keys = Seq(s"/12/$tx/$ty.png", s"/12/${tx + 1}/$ty.png")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
      def volley(): Map[String, Seq[Array[Byte]]] = {
        val fs = for (k <- keys; _ <- 0 until 8) yield k -> pool.submit(
          new java.util.concurrent.Callable[Array[Byte]] {
            def call(): Array[Byte] = get(k)
          })
        fs.groupBy(_._1).view.mapValues(_.map(_._2.get())).toMap
      }
      val first = volley()
      // per-key coherence: every concurrent response is byte-identical
      first.foreach { case (k, pngs) =>
        assert(pngs.forall(_.sameElements(pngs.head)), s"$k responses diverged")
      }
      // prefetch of the 4-neighborhood may still be in flight — wait for
      // the miss counter to go quiet before pinning the render census
      var last = -1L
      var settled = server.stats.misses
      while (settled != last) {
        last = settled; Thread.sleep(300); settled = server.stats.misses
      }
      // no duplicate warp per key: every miss is a DISTINCT tile key
      // (2 requested + at most their 7 distinct prefetch neighbors)
      assert(settled <= 9, s"more renders than distinct tile keys: $settled")
      // a second volley is all cache hits — zero new Spark jobs — and
      // byte-identical to the first
      val h0 = server.stats.hits
      val second = volley()
      pool.shutdown()
      assert(server.stats.misses == settled,
        "warm-cache volley re-rendered a tile")
      assert(server.stats.hits >= h0 + 16)
      second.foreach { case (k, pngs) =>
        pngs.foreach(p => assert(p.sameElements(first(k).head), s"$k changed after caching"))
      }
    } finally server.stop()
    // stop() also ends the HTTP handler pool: its non-daemon threads
    // would otherwise keep the JVM alive after serving
    assert(server.httpPool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS),
      "HTTP executor still running after stop()")
  }

  test("Stack.serve: the one-call show() analog serves RGB tiles over HTTP") {
    val bounds = Bounds(399960, 4990200, 402520, 4992760)
    val assets = Seq("red", "grn", "nir").map { b =>
      b -> StacAsset(s"fake://$b/0", bbox = Some(bounds), shape = Some((256, 256)),
        transform = Some(AffineTransform.northUp(399960, 4992760, 10, 10)))
    }.toMap
    val items = Seq(StacItem("s0", Some("2024-06-01T00:00:00Z"),
      epsg = Some(32633), assets = assets))
    val stack = Stack(spark, items, chunk = 128)
    val (server, port) = stack.serve(
      bands = Seq("red", "grn", "nir"), range = Some((0.0, 255.0)))
    try {
      val (cx, cy) = ((bounds.minx + bounds.maxx) / 2.0, (bounds.miny + bounds.maxy) / 2.0)
      val (lon, lat) = graft.core.Proj.transform(32633, 4326, cx, cy)
      val (tx, ty) = Xyz.tileOf(lon, lat, 12)
      val conn = new java.net.URL(s"http://127.0.0.1:$port/12/$tx/$ty.png")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 200)
      val bytes = conn.getInputStream.readAllBytes()
      assert(bytes.take(4).sameElements(Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)))
      assert(server.stats.misses >= 1)
    } finally server.stop()
  }

  test("RGB compose: 3-band server renders channels from their bands") {
    import spark.implicits._
    val bounds = Bounds(399960, 4990200, 402520, 4992760)
    val assets = Seq("red", "grn", "nir").map { b =>
      b -> StacAsset(s"fake://$b/0", bbox = Some(bounds), shape = Some((256, 256)),
        transform = Some(AffineTransform.northUp(399960, 4992760, 10, 10)))
    }.toMap
    val items = Seq(StacItem("s0", Some("2024-06-01T00:00:00Z"),
      epsg = Some(32633), assets = assets))
    val plan = Prepare(items)
    // per-band composite planes; distinct assetIdx per band so the warp's
    // (item, asset, chunk) gather never mixes bands in one group
    val bandIdx = Map("red" -> 0, "grn" -> 1, "nir" -> 2)
    val composite = Mosaic(TileScan.scan(spark, plan.assetTable, plan.spec, 128), 128)
      .map(c => Tile(0, bandIdx(c.band), c.band, 0L, c.yChunk, c.xChunk, 0, 0,
        c.height, c.width, c.pixels))
    val (cx, cy) = ((bounds.minx + bounds.maxx) / 2.0, (bounds.miny + bounds.maxy) / 2.0)
    val (lon, lat) = graft.core.Proj.transform(32633, 4326, cx, cy)
    val (tx, ty) = Xyz.tileOf(lon, lat, 12)

    def decode(png: Array[Byte]) =
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))

    val rgb = new TileServer(composite, plan.spec, 128, range = Some((0.0, 255.0)),
      bands = Seq("red", "grn", "nir"))
    val bgr = new TileServer(composite, plan.spec, 128, range = Some((0.0, 255.0)),
      bands = Seq("nir", "grn", "red"))
    try {
      val img = decode(rgb.renderTile(12, tx, ty))
      assert(img.getWidth == 256 && img.getHeight == 256)
      // deterministic: same tile renders to identical bytes
      assert(rgb.renderTile(12, tx, ty).sameElements(rgb.renderTile(12, tx, ty)))
      // find a valid (non-checkerboard) pixel: alpha 255 and channels not
      // the 0xcc/0x99 greys; FakeReader gives each band's url a different
      // plane, so a true per-band compose has unequal channels there
      val px = for { r <- 0 until 256; c <- 0 until 256 } yield (r, c, img.getRGB(c, r))
      def isChecker(argb: Int) = {
        val v = argb & 0xff
        ((argb >> 16) & 0xff) == v && ((argb >> 8) & 0xff) == v && (v == 0xcc || v == 0x99)
      }
      val valid = px.filter { case (_, _, a) => ((a >> 24) & 0xff) == 255 && !isChecker(a) }
      assert(valid.nonEmpty, "tile should overlap the composite")
      assert(valid.exists { case (_, _, a) =>
        val (r, g, b) = ((a >> 16) & 0xff, (a >> 8) & 0xff, a & 0xff)
        r != g || g != b
      }, "RGB channels should differ on some pixel (per-band compose, not gray)")
      // swapping the band order swaps the R and B channels pixel-for-pixel
      val swapped = decode(bgr.renderTile(12, tx, ty))
      valid.take(500).foreach { case (r, c, a) =>
        val s = swapped.getRGB(c, r)
        assert(((s >> 16) & 0xff) == (a & 0xff) && (s & 0xff) == ((a >> 16) & 0xff) &&
          ((s >> 8) & 0xff) == ((a >> 8) & 0xff),
          s"band-order swap should mirror R/B at ($r,$c)")
      }
    } finally { rgb.stop(); bgr.stop() }
  }

  // --- one-window render: Reproject.window against the distributed warp

  private val winChunk = 64
  /** Two 256² UTM items, the second 100 px east and south of the first:
    * a 356² grid of 6 × 6 chunks, NaN where neither item lies. */
  private def twoItems(bands: Seq[String]): PrepareResult = Prepare((0 until 2).map { i =>
    val (x0, y1) = (399960.0 + 1000 * i, 4992760.0 - 1000 * i)
    StacItem(s"w$i", Some(f"2024-06-0${i + 1}T00:00:00Z"), epsg = Some(32633),
      assets = bands.map(b => b -> StacAsset(s"fake://$b/$i",
        bbox = Some(Bounds(x0, y1 - 2560, x0 + 2560, y1)), shape = Some((256, 256)),
        transform = Some(AffineTransform.northUp(x0, y1, 10, 10)))).toMap)
  })

  /** The per-band composite `Stack.serve` builds (assetIdx = band order),
    * spread over 4 partitions. */
  private def composite(plan: PrepareResult): Dataset[Tile] = {
    import spark.implicits._
    val idx = plan.assetTable.map(_.band).distinct.sorted.zipWithIndex.toMap
    Mosaic(TileScan.scan(spark, plan.assetTable, plan.spec, winChunk), winChunk)
      .map(c => Tile(0, idx(c.band), c.band, 0L, c.yChunk, c.xChunk, 0, 0,
        c.height, c.width, c.pixels))
      .repartition(4)
  }

  /** Tile (z, x, y) holding source pixel (row, col) of `spec`. */
  private def tileAt(spec: RasterSpec, z: Int, row: Int, col: Int): (Int, Int, Int) = {
    val (wx, wy) = spec.transform(col.toDouble, row.toDouble)
    val (lon, lat) = Proj.transform(spec.epsg, 4326, wx, wy)
    val (x, y) = Xyz.tileOf(lon, lat, z)
    (z, x, y)
  }

  /** Per (item, asset, band), the 256² plane of a warp's tiles as raw bits. */
  private def planeBits(ts: Array[Tile]): Map[(Int, Int, String), Seq[Long]] =
    ts.groupBy(t => (t.itemIdx, t.assetIdx, t.band)).map { case (k, g) =>
      val p = Array.fill(256 * 256)(Double.NaN)
      for (t <- g; r <- 0 until t.height; c <- 0 until t.width)
        p((t.yChunk * 256 + t.rowOff + r) * 256 + t.xChunk * 256 + t.colOff + c) =
          t.pixels(r * t.width + c)
      k -> p.toSeq.map(java.lang.Double.doubleToRawLongBits)
    }

  /** The tiles a render must cover: below, at and above the natural zoom,
    * across a source chunk corner, partly off the data. */
  private def renderTiles(spec: RasterSpec): Seq[(Int, Int, Int)] = {
    val nat = Xyz.naturalZoom(spec.xres)
    val (h, w) = spec.shape
    Seq(tileAt(spec, nat - 2, h / 2, w / 2), tileAt(spec, nat, h / 2, w / 2),
      tileAt(spec, nat + 2, 2 * winChunk, 2 * winChunk),
      tileAt(spec, nat + 1, 3 * winChunk, 2 * winChunk), tileAt(spec, nat, 0, 0),
      tileAt(spec, nat + 1, h - 1, w - 1))
  }

  test("Reproject.window equals the distributed Nearest warp bit for bit") {
    val plan = twoItems(Seq("red", "grn", "nir"))
    val comp = composite(plan).cache()
    assert(comp.rdd.getNumPartitions >= 4)
    val scan = TileScan.scan(spark, plan.assetTable.filter(_.band == "red"), plan.spec, winChunk)
    def check(tiles: Dataset[Tile], z: Int, x: Int, y: Int): Map[(Int, Int, String), Seq[Long]] = {
      val dst = Xyz.tileSpec(z, x, y)
      val win = Reproject.window(tiles, plan.spec, dst, winChunk)
      assert(win.forall(t => t.height == 256 && t.width == 256 && t.yChunk == 0 && t.xChunk == 0))
      val want = planeBits(Reproject(tiles, plan.spec, dst, winChunk, 256, Resampling.Nearest).collect())
      val got = planeBits(win)
      assert(got.keySet == want.keySet, s"$z/$x/$y")
      want.foreach { case (k, bits) =>
        val differ = bits.indices.count(i => got(k)(i) != bits(i))
        assert(differ == 0, s"$z/$x/$y $k: $differ pixels differ")
      }
      got
    }
    try {
      val tiles = renderTiles(plan.spec)
      val keys = tiles.map { case (z, x, y) => check(comp, z, x, y).keySet }
      assert(keys.forall(_.size == 3), keys) // every band, every tile
      // fully off the data: nothing routed, nothing returned
      val (z, x, y) = tiles(1)
      assert(check(comp, z, x + 40, y).isEmpty)
      assert(Reproject.window(comp, plan.spec, Xyz.tileSpec(z, x + 40, y), winChunk).isEmpty)
      // a plain scan: two items, partial tiles at chunk offsets
      val items = tiles.map { case (z, x, y) => check(scan, z, x, y).keySet.map(_._1) }
      assert(items.exists(_ == Set(0, 1)), items)
    } finally comp.unpersist()
  }

  /** The render before [[Reproject.window]]: the distributed Nearest warp,
    * overlaid per band, normalized and encoded. */
  private def reprojectPng(tiles: Dataset[Tile], spec: RasterSpec, bands: Seq[String],
                           range: (Double, Double), z: Int, x: Int, y: Int): Array[Byte] = {
    val warped = Reproject(tiles, spec, Xyz.tileSpec(z, x, y), winChunk, 256,
      Resampling.Nearest).collect()
    def plane(ts: Array[Tile]): Array[Double] = {
      val p = Array.fill(256 * 256)(Double.NaN)
      for (t <- ts; r <- 0 until t.height)
        System.arraycopy(t.pixels, r * t.width, p, (t.rowOff + r) * 256 + t.colOff, t.width)
      p
    }
    val planes = if (bands.isEmpty) Seq(plane(warped)) else bands.map(b => plane(warped.filter(_.band == b)))
    Png.encode(planes.map(_.map(Png.normalize(_, range._1, range._2))), 256, 256)
  }

  test("1-band and RGB servers render the PNG bytes of the Reproject path") {
    import spark.implicits._
    val plan = twoItems(Seq("red", "grn", "nir"))
    val rgbComp = composite(plan)
    val grayComp = rgbComp.filter(_.band == "grn").map(_.copy(assetIdx = 0))
    val gray = new TileServer(grayComp, plan.spec, winChunk) // range auto = 2-98 percentile
    val rgb = new TileServer(rgbComp, plan.spec, winChunk, range = Some((0.0, 128.0)),
      bands = Seq("nir", "red", "grn"))
    try {
      val tiles = renderTiles(plan.spec)
      val (z, x, y) = tiles(1)
      for ((z, x, y) <- tiles :+ ((z, x + 40, y))) {
        assert(gray.renderTile(z, x, y).sameElements(
          reprojectPng(grayComp, plan.spec, Seq.empty, gray.displayRange, z, x, y)), s"gray $z/$x/$y")
        assert(rgb.renderTile(z, x, y).sameElements(
          reprojectPng(rgbComp, plan.spec, Seq("nir", "red", "grn"), (0.0, 128.0), z, x, y)),
          s"rgb $z/$x/$y")
      }
    } finally { gray.stop(); rgb.stop() }
  }

  test("a render miss on a warm server is one Spark job with no shuffle") {
    val plan = twoItems(Seq("red", "grn", "nir"))
    val server = new TileServer(composite(plan), plan.spec, winChunk,
      range = Some((0.0, 128.0)), bands = Seq("red", "grn", "nir"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = new java.util.concurrent.atomic.AtomicInteger()
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      // a stage whose output is still cached is skipped, never submitted
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        shuffleBytes.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    val sc = spark.sparkContext
    try {
      val Seq(warm, miss) = renderTiles(plan.spec).take(2)
      server.renderTile(warm._1, warm._2, warm._3) // materializes the cached composite
      org.apache.spark.SpecAccess.drainListenerBus(sc)
      sc.addSparkListener(listener)
      server.renderTile(miss._1, miss._2, miss._3)
      org.apache.spark.SpecAccess.drainListenerBus(sc)
      assert(server.stats.misses == 2)
      // one job whose only stage is its result stage: no shuffle map stage
      assert((jobs.get, stages.get, shuffleBytes.get) == ((1, 1, 0L)))
    } finally { sc.removeSparkListener(listener); server.stop() }
  }
}
