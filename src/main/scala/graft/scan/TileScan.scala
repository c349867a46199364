package graft.scan

import org.apache.spark.sql.{Dataset, SparkSession}
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

  /** Build the lazy tile Dataset: (asset × chunk) pairs that spatially
    * overlap (J2+J3 in SURVEY §2.3), partitioned by spatial chunk, read
    * via `mapPartitions`. Planning is metadata-only (reference R5): no
    * pixel IO happens until an action runs.
    *
    * The driver ships only the planned assets (non-null `url`); each
    * asset is expanded into its overlapping chunks by [[pairsOf]] inside
    * the scan's tasks, so the plan holds one row per asset, not one per
    * pair. The partition count comes from the closed-form pair count, so
    * partitioning and chunk placement equal those of the driver-side
    * [[workList]].
    *
    * `readerFor` is evaluated lazily once per asset per task; Spark's
    * process-per-task model replaces the reference's thread-local GDAL
    * dataset machinery (`rio_reader.py:124-265`).
    */
  def scan(
      spark: SparkSession,
      assets: Seq[AssetRow],
      spec: RasterSpec,
      chunk: Int = 1024,
      readerFor: AssetRow => Reader = a => FakeReader(a.url),
      errorsAsNodata: ErrorsAsNodata = ErrorsAsNodata.none,
      applyRescale: Boolean = true): Dataset[Tile] =
    scan(spark, assets, spec, chunk, chunk, readerFor, errorsAsNodata, applyRescale)

  /** Rectangular-chunk scan: edges usually come from
    * `Chunks.spatialEdges(ChunksParam.parse("auto"), spec)`. */
  def scan(
      spark: SparkSession,
      assets: Seq[AssetRow],
      spec: RasterSpec,
      chunkY: Int, chunkX: Int,
      readerFor: AssetRow => Reader,
      errorsAsNodata: ErrorsAsNodata,
      applyRescale: Boolean): Dataset[Tile] = {
    import spark.implicits._

    val planned = assets.filter(_.url != null)
    val nPairs = planned.iterator.map { a =>
      val (_, ys, xs) = overlap(a, spec, chunkY, chunkX)
      ys.size.toLong * xs.size
    }.sum

    val nPart = math.max(1L, math.min(nPairs, spark.sparkContext.defaultParallelism * 2L)).toInt
    spark.createDataset(planned)
      .flatMap(a => pairsOf(a, spec, chunkY, chunkX))
      .repartition(nPart, $"_2", $"_3") // co-locate by (yChunk, xChunk) for downstream per-chunk aggs
      .mapPartitions { it =>
        // Per-task reader cache: each URL opened at most once per task
        // (the reference enforces this via dask fusion-blocking, R7
        // `to_dask.py:65-69`; here it's a plain lazy map). Readers are
        // closed when the task completes — file-backed readers hold fds.
        val open = scala.collection.mutable.HashMap.empty[String, Reader]
        Option(org.apache.spark.TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
          open.values.foreach(r => try r.close() catch { case _: Throwable => () })
        })
        it.flatMap { case (a, yc, xc, win) =>
          val reader = open.getOrElseUpdate(a.url, readerFor(a))
          val px =
            try reader.read(win)
            catch {
              case e: Throwable if errorsAsNodata.matches(e) =>
                Array.fill(win.width * win.height)(Double.NaN)
            }
          if (applyRescale && (a.scale != 1.0 || a.offset != 0.0)) {
            var i = 0
            while (i < px.length) { px(i) = px(i) * a.scale + a.offset; i += 1 }
          }
          // Sparse elision (R4): an all-nodata read produces no row.
          if (px.forall(_.isNaN)) Iterator.empty
          else Iterator.single(Tile(
            a.itemIdx, a.assetIdx, a.band, a.timeMicros, yc, xc,
            win.rowOff - yc * chunkY, win.colOff - xc * chunkX,
            win.height, win.width, px))
        }
      }
  }

  /** Metadata-only (asset × chunk) work-list, driver side (like prepare:
    * reference scale is 1e2..1e5 assets — tiny vs the pixel data). Only
    * overlapping pairs are kept (chunk-granular IO elision, reference R3
    * `to_dask.py:183-189`). The work-list is enumerated per asset by
    * [[pairsOf]] — O(assets × overlap), not O(assets × total-chunks): a
    * 1e6-asset plan over a 1e5-chunk grid stays a driver-side metadata
    * pass, never 1e11 intersection tests. [[scan]] runs the same
    * enumeration inside its tasks, and the v2 source plans its reads and
    * answers pushed aggregates from this list.
    */
  def workList(assets: Seq[AssetRow], spec: RasterSpec,
               chunk: Int): Seq[(AssetRow, Int, Int, Window)] =
    workList(assets, spec, chunk, chunk)

  def workList(assets: Seq[AssetRow], spec: RasterSpec,
               chunkY: Int, chunkX: Int): Seq[(AssetRow, Int, Int, Window)] =
    assets.filter(_.url != null).flatMap(pairsOf(_, spec, chunkY, chunkX))

  /** The (asset, yChunk, xChunk, read window) pairs of one asset, in
    * row-major chunk order: the asset window clamped to the grid, cut at
    * every chunk it overlaps. Empty when the asset misses the grid. */
  def pairsOf(a: AssetRow, spec: RasterSpec,
              chunkY: Int, chunkX: Int): Seq[(AssetRow, Int, Int, Window)] = {
    val (win, ys, xs) = overlap(a, spec, chunkY, chunkX)
    for (yc <- ys; xc <- xs)
      yield (a, yc, xc, Window(xc * chunkX, yc * chunkY, chunkX, chunkY).intersect(win))
  }

  /** An asset's window clamped to the grid, and the row and column chunk
    * index ranges it overlaps (both empty when it misses the grid). */
  private def overlap(a: AssetRow, spec: RasterSpec,
                      chunkY: Int, chunkX: Int): (Window, Range, Range) = {
    val (h, w) = spec.shape
    val win = spec.windowFor(a.bounds).intersect(Window(0, 0, w, h))
    if (win.isEmpty) (win, Range(0, 0), Range(0, 0))
    else (win, (win.rowOff / chunkY) to ((win.rowEnd - 1) / chunkY),
          (win.colOff / chunkX) to ((win.colEnd - 1) / chunkX))
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
