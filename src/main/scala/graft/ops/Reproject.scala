package graft.ops

import scala.collection.mutable
import org.apache.spark.sql.Dataset
import graft.core.{Bounds, Proj, RasterSpec, Window}
import graft.scan.{Tile, TileScan}

/** Resampling method. The reference's own `reproject_array` supports
  * nearest and linear (`geom_utils.py:229-234`); `Cubic`, `Mode` and
  * `Average` extend the warp path toward the wider GDAL enum its
  * WarpedVRT wrap exposes (`rio_reader.py:344-360`) — bicubic for
  * continuous rasters, majority vote for categorical ones (land-cover
  * classes, masks), where any interpolating kernel would invent
  * nonexistent class values, and footprint mean ("box") for the >2×
  * DOWNSAMPLE regime, where the point-sampling kernels read a sliver of
  * the pixels under each output cell and alias. */
sealed trait Resampling
object Resampling {
  case object Nearest extends Resampling
  case object Bilinear extends Resampling
  case object Cubic extends Resampling
  case object Mode extends Resampling
  case object Average extends Resampling
  case object Lanczos extends Resampling
  /** Cubic B-spline (GDAL `cubicspline`) — SMOOTHING, not interpolating:
    * the 4×4 window convolved with the B₃ basis (weights /6, partition
    * of unity), trading sharpness for guaranteed positivity/no
    * overshoot. */
  case object CubicSpline extends Resampling
  // footprint reductions (GDAL max/min/med/q1/q3/sum/rms): the Average
  // machinery with a different per-box reduce — all half-open
  // center-in-box membership, NaN-skipping, empty box = nodata
  case object Min extends Resampling
  case object Max extends Resampling
  case object Med extends Resampling
  case object Q1 extends Resampling
  case object Q3 extends Resampling
  case object Sum extends Resampling
  case object Rms extends Resampling
  /** Gaussian-kernel resampling (GDAL `GRA_Gauss` / rasterio
    * `Resampling.gauss`) — the LAST member of the rasterio enum: the
    * 3×3 binomial kernel [1 2 1]⊗[1 2 1]/16 applied at the source pixel
    * nearest each output center (the kernel GDAL's overview builder
    * uses for its GAUSS 2:1 reductions; rasterio exposes the enum value
    * even though GDAL restricts it to overview building — here it rides
    * the same windowed warp path as every other kernel). NaN taps are
    * skipped with weight renormalization (the nodata-ignoring footprint
    * convention); a center whose 3×3 window leaves the source — or an
    * all-NaN window — is nodata. Dyadic /16 weights keep integer
    * fixtures exact cross-engine. Anti-aliasing beyond ~2× reduction
    * belongs to Average/[[graft.ops.Coarsen]], as with Mode. */
  case object Gauss extends Resampling
}

/** Grid-to-grid array reprojection — the reference `reproject_array`
  * (`stackstac/geom_utils.py:206-304`) — with two entry points:
  *
  *  - [[apply]] warps a whole Dataset as a distributed gather
  *    ([[graft.Stack.reproject]], r3, r6):
  *    1. metadata-only: for every destination chunk, its footprint is
  *       reprojected into the source grid and intersected with the source
  *       chunk grid (same 4-corner envelope math as the planner);
  *    2. one shuffle keyed by (item, band, destination chunk) routes every
  *       overlapping source tile to the destination chunk that needs it
  *       (SURVEY §7.3: "gather pattern with a shuffle keyed by source
  *       tile");
  *    3. per group, each output pixel center is inverse-transformed
  *       dst grid -> dst CRS -> src CRS -> src fractional pixel and sampled
  *       (nearest or NaN-aware bilinear, like `map_coordinates` order 0/1
  *       with cval=NaN).
  *  - [[window]] warps ONE destination window to the driver with Nearest
  *    sampling in one narrow job (a map tile, [[graft.viz.TileServer]]).
  *
  * Both share the routing of step 1 and the nearest-sample rule (`floor`,
  * bounds check, first tile containing the pixel), so a window equals the
  * gather's Nearest output bit for bit.
  *
  * Same-CRS same-grid inputs short-circuit to the identity (the
  * reference's fastpath, `geom_utils.py:276-281`). Scale: the shuffle
  * volume is bounded by source tiles × overlap multiplicity (typically
  * ≤4 destination chunks per source tile); no source tile is collected.
  */
object Reproject {

  def apply(tiles: Dataset[Tile], srcSpec: RasterSpec, dstSpec: RasterSpec,
            srcChunk: Int, dstChunk: Int,
            method: Resampling = Resampling.Nearest): Dataset[Tile] = {
    require(method == Resampling.Nearest || method == Resampling.Bilinear,
      s"Reproject samples Nearest or Bilinear only, not $method; the read-time " +
      "warp (WarpedGridReader, scan/Warp.scala) implements every Resampling method.")
    if (srcSpec == dstSpec && srcChunk == dstChunk) return tiles

    val spark = tiles.sparkSession
    import spark.implicits._

    val (srcH, srcW) = srcSpec.shape
    val outGrid = TileScan.chunkGrid(dstSpec, dstChunk)

    // --- 1. metadata-only routing table: dst chunk -> overlapping src chunks
    val routes: Map[(Int, Int), Seq[(Int, Int)]] = outGrid.map { case (oyc, oxc, ow) =>
      (oyc, oxc) -> route(srcSpec, dstSpec, ow, srcChunk).fold(Seq.empty[(Int, Int)])(_.chunks)
    }.toMap
    // invert: src chunk -> dst chunks that need it
    val inverse: Map[(Int, Int), Seq[(Int, Int)]] = routes.toSeq
      .flatMap { case (out, srcs) => srcs.map(_ -> out) }
      .groupMap(_._1)(_._2)
    val bInverse = spark.sparkContext.broadcast(inverse)
    val bRoutes = spark.sparkContext.broadcast(
      outGrid.map { case (y, x, w) => (y, x) -> w }.toMap)

    // --- 2. shuffle: route each src tile to every dst chunk needing it
    val routed = tiles.flatMap { tile =>
      bInverse.value.getOrElse((tile.yChunk, tile.xChunk), Seq.empty)
        .map { case (oyc, oxc) => ((tile.itemIdx, tile.assetIdx, oyc, oxc), tile) }
    }

    val dstEpsg = dstSpec.epsg; val srcEpsg = srcSpec.epsg
    val nearest = method == Resampling.Nearest

    // --- 3. per-destination-chunk gather + resample
    routed.groupByKey(_._1).flatMapGroups {
      (key: (Int, Int, Int, Int), it: Iterator[((Int, Int, Int, Int), Tile)]) =>
      val (itemIdx, assetIdx, oyc, oxc) = key
      val group = it.map(_._2).toArray
      if (group.isEmpty) Iterator.empty
      else {
        val ow = bRoutes.value((oyc, oxc))
        val rects = new Rects(group, srcChunk)
        val dstT = dstSpec.transform
        val srcInv = srcSpec.transform.inverse
        val out = new Array[Double](ow.width * ow.height)
        var r = 0
        while (r < ow.height) {
          var c = 0
          while (c < ow.width) {
            val (dx, dy) = dstT(ow.colOff + c + 0.5, ow.rowOff + r + 0.5)
            val (sx, sy) = Proj.transform(dstEpsg, srcEpsg, dx, dy)
            val (fc, fr) = srcInv(sx, sy)
            val v =
              if (nearest) {
                val rr = nearestIndex(fr, srcH); val cc = nearestIndex(fc, srcW)
                if (rr < 0 || cc < 0) Double.NaN else rects.sample(rr, cc)
              } else {
                // bilinear on pixel centers (center of pixel k is k+0.5)
                val gr = fr - 0.5; val gc = fc - 0.5
                val r0 = math.floor(gr).toInt; val c0 = math.floor(gc).toInt
                val wr = gr - r0; val wc = gc - c0
                val v00 = rects.sample(r0, c0); val v01 = rects.sample(r0, c0 + 1)
                val v10 = rects.sample(r0 + 1, c0); val v11 = rects.sample(r0 + 1, c0 + 1)
                v00 * (1 - wr) * (1 - wc) + v01 * (1 - wr) * wc +
                  v10 * wr * (1 - wc) + v11 * wr * wc
              }
            out(r * ow.width + c) = v
            c += 1
          }
          r += 1
        }
        if (out.forall(_.isNaN)) Iterator.empty // sparse elision survives warp
        else Iterator.single(Tile(itemIdx, assetIdx, group.head.band,
          group.head.timeMicros, oyc, oxc, 0, 0, ow.height, ow.width, out))
      }
    }
  }

  /** Warp the whole of `dstSpec` as one window to the driver, Nearest:
    * one dense `height × width` tile (chunk 0, 0) per (item, asset) that
    * has a valid pixel, ordered by (item, asset). Each tile equals, bit for
    * bit, that (item, asset)'s output of [[apply]] with Nearest and one
    * destination chunk covering `dstSpec` — what a map tile renders from.
    *
    *  1. the driver maps each destination pixel center to its source pixel
    *     once (every band shares the map), keeping those in the routed
    *     source chunks, bucketed by chunk;
    *  2. one narrow job over `tiles.rdd` (planned once per Dataset, so a
    *     server passing its one cached Dataset plans nothing per render)
    *     keeps the tiles of the routed chunk range; per partition, each
    *     (item, asset, chunk) looks its bucket up in its tiles and returns
    *     only the hits as sparse (index, value) arrays;
    *  3. the driver scatters the hits into NaN-filled planes and drops the
    *     all-NaN ones.
    *
    * No shuffle, no broadcast variable, and no source tile reaches the
    * driver: it receives at most one value per destination pixel per
    * (item, asset) at any zoom. */
  def window(tiles: Dataset[Tile], srcSpec: RasterSpec, dstSpec: RasterSpec,
             srcChunk: Int): Array[Tile] = {
    val (srcH, srcW) = srcSpec.shape
    val (h, w) = dstSpec.shape
    val routed = route(srcSpec, dstSpec, Window(0, 0, w, h), srcChunk) match {
      case Some(cr) => cr
      case None => return Array.empty
    }

    // --- 1. driver: dst pixel -> src pixel, as (dst index, row, col)
    // triples in the bucket of their routed src chunk
    val dstT = dstSpec.transform
    val srcInv = srcSpec.transform.inverse
    val acc = mutable.LongMap.empty[mutable.ArrayBuilder.ofInt]
    var r = 0
    while (r < h) {
      var c = 0
      while (c < w) {
        val (dx, dy) = dstT(c + 0.5, r + 0.5)
        val (sx, sy) = Proj.transform(dstSpec.epsg, srcSpec.epsg, dx, dy)
        val (fc, fr) = srcInv(sx, sy)
        val rr = nearestIndex(fr, srcH); val cc = nearestIndex(fc, srcW)
        val k = if (rr < 0 || cc < 0) -1L else routed.indexOf(rr / srcChunk, cc / srcChunk)
        if (k >= 0) acc.getOrElseUpdate(k, new mutable.ArrayBuilder.ofInt)
          .addOne(r * w + c).addOne(rr).addOne(cc)
        c += 1
      }
      r += 1
    }
    val buckets = acc.mapValuesNow(_.result())

    // --- 2. one narrow job over the routed tiles: per (item, asset), the
    // hits of its tiles
    val hits = tiles.rdd.mapPartitions { part =>
      part.filter(t => routed.indexOf(t.yChunk, t.xChunk) >= 0).toArray
        .groupBy(t => (t.itemIdx, t.assetIdx)).iterator.map { case ((item, asset), ts) =>
          val idx = new mutable.ArrayBuilder.ofInt
          val vals = new mutable.ArrayBuilder.ofDouble
          ts.groupBy(t => routed.indexOf(t.yChunk, t.xChunk)).foreach { case (k, cts) =>
            val rects = new Rects(cts, srcChunk)
            val b = buckets.getOrElse(k, Array.emptyIntArray)
            var i = 0
            while (i < b.length) {
              val j = rects.find(b(i + 1), b(i + 2))
              if (j >= 0) { idx.addOne(b(i)); vals.addOne(rects.at(j, b(i + 1), b(i + 2))) }
              i += 3
            }
          }
          (item, asset, ts.head.band, ts.head.timeMicros, idx.result(), vals.result())
        }
    }.collect()

    // --- 3. driver: scatter into NaN planes, drop the all-NaN ones
    hits.groupBy(x => (x._1, x._2)).toArray.sortBy(_._1).flatMap { case ((item, asset), parts) =>
      val plane = new Array[Double](h * w)
      java.util.Arrays.fill(plane, Double.NaN)
      parts.foreach { case (_, _, _, _, idx, vals) =>
        var i = 0
        while (i < idx.length) { plane(idx(i)) = vals(i); i += 1 }
      }
      if (plane.forall(_.isNaN)) None
      else Some(Tile(item, asset, parts.head._3, parts.head._4, 0, 0, 0, 0, h, w, plane))
    }
  }

  /** Inclusive source chunk ranges a destination window reads. */
  private final case class ChunkRange(y0: Int, y1: Int, x0: Int, x1: Int) {
    /** Row-major position of chunk (yc, xc) in the range, or -1 outside it. */
    def indexOf(yc: Int, xc: Int): Long =
      if (yc < y0 || yc > y1 || xc < x0 || xc > x1) -1L
      else (yc - y0).toLong * (x1 - x0 + 1) + (xc - x0)
    def chunks: Seq[(Int, Int)] = for (yc <- y0 to y1; xc <- x0 to x1) yield (yc, xc)
  }

  /** Routing: the source chunks under destination window `ow` — its
    * footprint's 4-corner envelope in the source CRS, widened by one
    * source pixel for bilinear support, clipped to the source grid; None
    * when that misses the grid. */
  private def route(srcSpec: RasterSpec, dstSpec: RasterSpec, ow: Window,
                    srcChunk: Int): Option[ChunkRange] = {
    val (srcH, srcW) = srcSpec.shape
    // dst window bounds in dst CRS (pixel window -> world envelope)
    val tl = dstSpec.transform(ow.colOff, ow.rowOff)
    val br = dstSpec.transform(ow.colEnd, ow.rowEnd)
    val dstB = Bounds(math.min(tl._1, br._1), math.min(tl._2, br._2),
                      math.max(tl._1, br._1), math.max(tl._2, br._2))
    val srcB = Proj.reprojectBounds(dstB, dstSpec.epsg, srcSpec.epsg)
    val grown = Bounds(srcB.minx - srcSpec.xres, srcB.miny - srcSpec.yres,
                       srcB.maxx + srcSpec.xres, srcB.maxy + srcSpec.yres)
    val win = srcSpec.windowFor(grown).intersect(Window(0, 0, srcW, srcH))
    if (win.isEmpty) None
    else Some(ChunkRange(win.rowOff / srcChunk, (win.rowEnd - 1) / srcChunk,
                         win.colOff / srcChunk, (win.colEnd - 1) / srcChunk))
  }

  /** Nearest sampling, grid step: the source pixel under fractional
    * position `f` on an `n`-pixel axis (`floor`), or -1 off the axis. */
  private def nearestIndex(f: Double, n: Int): Int = {
    val i = math.floor(f).toInt
    if (i < 0 || i >= n) -1 else i
  }

  /** Nearest sampling, tile step: `tiles` as global source-pixel rects in
    * the order given; a pixel takes its value from the first one
    * containing it. */
  private final class Rects(tiles: Array[Tile], srcChunk: Int) {
    private val r0 = tiles.map(t => t.yChunk * srcChunk + t.rowOff)
    private val c0 = tiles.map(t => t.xChunk * srcChunk + t.colOff)

    /** Index of the first tile containing source pixel (rr, cc), or -1. */
    def find(rr: Int, cc: Int): Int = {
      var i = 0
      while (i < tiles.length) {
        val t = tiles(i)
        if (rr >= r0(i) && rr < r0(i) + t.height && cc >= c0(i) && cc < c0(i) + t.width)
          return i
        i += 1
      }
      -1
    }

    def at(i: Int, rr: Int, cc: Int): Double =
      tiles(i).pixels((rr - r0(i)) * tiles(i).width + (cc - c0(i)))

    def sample(rr: Int, cc: Int): Double = {
      val i = find(rr, cc)
      if (i < 0) Double.NaN else at(i, rr, cc)
    }
  }
}
