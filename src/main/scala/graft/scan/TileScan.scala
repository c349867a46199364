package graft.scan

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, exists, isnan}
import graft.core.{Bounds, RasterSpec, Window}

/** One row of the planned scan list — the exploded (tidy) form of the
  * reference's 2-D structured asset table
  * (`stackstac/prepare.py:30-32,124`): row = (item, band), null `url`
  * means missing asset (=> fill tile, elided). `timeMicros` carries the
  * item datetime so temporal grouping never collapses duplicate
  * timestamps (itemIdx is the tiebreaker — reference `stack.py:272-274`).
  */
final case class AssetRow(
    itemIdx: Int, assetIdx: Int, band: String, timeMicros: Long,
    url: String,
    minx: Double, miny: Double, maxx: Double, maxy: Double,
    scale: Double, offset: Double,
    epsg: Int = 0) {
  /** Asset footprint in the OUTPUT spec's CRS (the planner reprojects
    * envelopes of foreign-CRS assets — `prepare.py:220-266`); `epsg` is
    * the asset's NATIVE CRS (0 = same as spec / unknown), so readers know
    * whether to warp ([[Warp.sourceCoords]]). */
  def bounds: Bounds = Bounds(minx, miny, maxx, maxy)
}

/** One materialized chunk of the 4-D (time, band, y, x) array: the Spark
  * analog of a dask chunk (`stackstac/to_dask.py:157-205`). Sparse
  * representation (reference R4, `to_dask.py:168-205`): only the
  * intersection rectangle of the asset within the chunk is stored
  * (`rowOff`/`colOff` are chunk-relative), and all-missing tiles are
  * simply absent rows.
  */
final case class Tile(
    itemIdx: Int, assetIdx: Int, band: String, timeMicros: Long,
    yChunk: Int, xChunk: Int,
    rowOff: Int, colOff: Int, height: Int, width: Int,
    pixels: Array[Double])

object TileScan {

  /** The (y, x) chunk grid of a spec: analog of dask `chunksize=1024`
    * normalization (`stackstac/to_dask.py:208-231`). Rectangular chunks
    * come from the [[Chunks]] grammar (tuples/"auto"/byte budgets). */
  def chunkGrid(spec: RasterSpec, chunk: Int): Seq[(Int, Int, Window)] =
    chunkGrid(spec, chunk, chunk)

  def chunkGrid(spec: RasterSpec, chunkY: Int, chunkX: Int): Seq[(Int, Int, Window)] = {
    val (h, w) = spec.shape
    val ny = (h + chunkY - 1) / chunkY
    val nx = (w + chunkX - 1) / chunkX
    for (yc <- 0 until ny; xc <- 0 until nx) yield {
      val r0 = yc * chunkY; val c0 = xc * chunkX
      (yc, xc, Window(c0, r0, math.min(chunkX, w - c0), math.min(chunkY, h - r0)))
    }
  }

  /** Build the lazy tile Dataset: the [[v2.TileSourceV2]] scan of the
    * (asset × chunk) pairs that spatially overlap (J2+J3 in SURVEY §2.3),
    * one partition per spatial chunk, with every all-NaN tile dropped
    * (sparse elision, reference R4). Planning is metadata-only
    * (reference R5): no pixel IO happens until an action runs.
    *
    * The elision is a filter above the source, not a source option: the
    * source keeps its no-elision row set, and Spark pushes neither COUNT
    * nor LIMIT through the filter, so `count()` and `limit(n)` see only
    * non-empty tiles and column pruning always keeps `pixels`.
    */
  def scan(
      spark: SparkSession,
      assets: Seq[AssetRow],
      spec: RasterSpec,
      chunk: Int = 1024,
      readerFor: AssetRow => Reader = a => FakeReader(a.url),
      errorsAsNodata: ErrorsAsNodata = ErrorsAsNodata.none): Dataset[Tile] =
    scan(spark, assets, spec, chunk, chunk, readerFor, errorsAsNodata)

  /** Rectangular-chunk scan: edges usually come from
    * `Chunks.spatialEdges(ChunksParam.parse("auto"), spec)`. */
  def scan(
      spark: SparkSession,
      assets: Seq[AssetRow],
      spec: RasterSpec,
      chunkY: Int, chunkX: Int,
      readerFor: AssetRow => Reader,
      errorsAsNodata: ErrorsAsNodata): Dataset[Tile] =
    v2.TileSourceV2.load(spark, v2.ScanPlan(assets, spec, chunkY, chunkX, readerFor, errorsAsNodata))
      .where(exists(col("pixels"), p => !isnan(p)))
      .as[Tile](Encoders.product[Tile])

  /** Metadata-only (asset × chunk) work-list, driver side (like prepare:
    * reference scale is 1e2..1e5 assets — tiny vs the pixel data). Only
    * overlapping pairs are kept (chunk-granular IO elision, reference R3
    * `to_dask.py:183-189`). The work-list is enumerated per asset by
    * [[pairsOf]] — O(assets × overlap), not O(assets × total-chunks): a
    * 1e6-asset plan over a 1e5-chunk grid stays a driver-side metadata
    * pass, never 1e11 intersection tests. The v2 source, and so
    * [[scan]], plans its reads and answers pushed aggregates from this
    * list.
    */
  def workList(assets: Seq[AssetRow], spec: RasterSpec, chunk: Int): Seq[PlannedRead] =
    workList(assets, spec, chunk, chunk)

  def workList(assets: Seq[AssetRow], spec: RasterSpec,
               chunkY: Int, chunkX: Int): Seq[PlannedRead] =
    assets.filter(_.url != null).flatMap(pairsOf(_, spec, chunkY, chunkX))

  /** The planned reads of one asset, in row-major chunk order: the asset
    * window clamped to the grid, cut at every chunk it overlaps. Empty
    * when the asset misses the grid. */
  private def pairsOf(a: AssetRow, spec: RasterSpec,
                      chunkY: Int, chunkX: Int): Seq[PlannedRead] = {
    val (h, w) = spec.shape
    val win = spec.windowFor(a.bounds).intersect(Window(0, 0, w, h))
    if (win.isEmpty) Nil
    else for {
      yc <- (win.rowOff / chunkY) to ((win.rowEnd - 1) / chunkY)
      xc <- (win.colOff / chunkX) to ((win.colEnd - 1) / chunkX)
    } yield PlannedRead(a, yc, xc, Window(xc * chunkX, yc * chunkY, chunkX, chunkY).intersect(win))
  }

  /** Expand a sparse tile to the full dense chunk rectangle (fill = NaN).
    * Used before elementwise band algebra where rects must align. */
  def densify(t: Tile, chunkH: Int, chunkW: Int): Array[Double] = {
    val out = Array.fill(chunkH * chunkW)(Double.NaN)
    var r = 0
    while (r < t.height) {
      System.arraycopy(t.pixels, r * t.width, out, (t.rowOff + r) * chunkW + t.colOff, t.width)
      r += 1
    }
    out
  }
}
