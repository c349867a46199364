package graft.ops

import org.apache.spark.sql.Dataset
import graft.core.{Proj, RasterSpec, Window}
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
  * (`stackstac/geom_utils.py:206-304`) re-expressed as a distributed
  * gather:
  *
  *  1. metadata-only: for every destination chunk, its footprint is
  *     reprojected into the source grid and intersected with the source
  *     chunk grid (same 4-corner envelope math as the planner);
  *  2. one shuffle keyed by (item, band, destination chunk) routes every
  *     overlapping source tile to the destination chunk that needs it
  *     (SURVEY §7.3: "gather pattern with a shuffle keyed by source
  *     tile");
  *  3. per group, each output pixel center is inverse-transformed
  *     dst grid -> dst CRS -> src CRS -> src fractional pixel and sampled
  *     (nearest or NaN-aware bilinear, like `map_coordinates` order 0/1
  *     with cval=NaN).
  *
  * Same-CRS same-grid inputs short-circuit to the identity (the
  * reference's fastpath, `geom_utils.py:276-281`). Scale: the shuffle
  * volume is bounded by source tiles × overlap multiplicity (typically
  * ≤4 destination chunks per source tile); no global collect anywhere.
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
      // dst chunk bounds in dst CRS (pixel window -> world envelope)
      val tl = dstSpec.transform(ow.colOff, ow.rowOff)
      val br = dstSpec.transform(ow.colEnd, ow.rowEnd)
      val dstB = graft.core.Bounds(math.min(tl._1, br._1), math.min(tl._2, br._2),
                                   math.max(tl._1, br._1), math.max(tl._2, br._2))
      val srcB = Proj.reprojectBounds(dstB, dstSpec.epsg, srcSpec.epsg)
      // widen by one src pixel for bilinear support at edges
      val grown = graft.core.Bounds(srcB.minx - srcSpec.xres, srcB.miny - srcSpec.yres,
                                    srcB.maxx + srcSpec.xres, srcB.maxy + srcSpec.yres)
      val win = srcSpec.windowFor(grown).intersect(Window(0, 0, srcW, srcH))
      val chunks =
        if (win.isEmpty) Seq.empty
        else for {
          yc <- (win.rowOff / srcChunk) to ((win.rowEnd - 1) / srcChunk)
          xc <- (win.colOff / srcChunk) to ((win.colEnd - 1) / srcChunk)
        } yield (yc, xc)
      (oyc, oxc) -> chunks
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
      val _ = (itemIdx, assetIdx)
      val group = it.map(_._2).toArray
      if (group.isEmpty) Iterator.empty
      else {
        val ow = bRoutes.value((oyc, oxc))
        // precompute global source rects per tile
        val rects = group.map { t =>
          val r0 = t.yChunk * srcChunk + t.rowOff
          val c0 = t.xChunk * srcChunk + t.colOff
          (t, r0, c0, r0 + t.height, c0 + t.width)
        }
        def sampleInt(rr: Int, cc: Int): Double = {
          var i = 0
          while (i < rects.length) {
            val (t, r0, c0, r1, c1) = rects(i)
            if (rr >= r0 && rr < r1 && cc >= c0 && cc < c1)
              return t.pixels((rr - r0) * t.width + (cc - c0))
            i += 1
          }
          Double.NaN
        }
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
                val rr = math.floor(fr).toInt; val cc = math.floor(fc).toInt
                if (rr < 0 || rr >= srcH || cc < 0 || cc >= srcW) Double.NaN
                else sampleInt(rr, cc)
              } else {
                // bilinear on pixel centers (center of pixel k is k+0.5)
                val gr = fr - 0.5; val gc = fc - 0.5
                val r0 = math.floor(gr).toInt; val c0 = math.floor(gc).toInt
                val wr = gr - r0; val wc = gc - c0
                val v00 = sampleInt(r0, c0); val v01 = sampleInt(r0, c0 + 1)
                val v10 = sampleInt(r0 + 1, c0); val v11 = sampleInt(r0 + 1, c0 + 1)
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
}
