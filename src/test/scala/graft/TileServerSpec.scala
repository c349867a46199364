package graft

import graft.core.{AffineTransform, Bounds}
import graft.ops.Mosaic
import graft.scan.{Tile, TileScan}
import graft.stac.{Prepare, StacAsset, StacItem}
import graft.viz.{TileServer, Xyz}

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
}
