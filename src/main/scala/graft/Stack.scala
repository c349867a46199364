package graft

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import graft.core.RasterSpec
import graft.ops.{CompositeTile, Median, Mosaic, Pixels, Reproject, Resampling, TileAlgebra}
import graft.scan.{AssetRow, ErrorsAsNodata, FakeReader, Reader, Tile, TileScan}
import graft.stac.{Prepare, PrepareOptions, PrepareResult, StacItem}

/** The user-facing entry point — the analog of `stackstac.stack(...)`
  * (`stackstac/stack.py:26-326`): items in, a lazy raster stack out, with
  * the query surface users exercise on top (band selection, metadata
  * pruning, algebra, composites, reprojection, pixel SQL view).
  *
  * All methods are lazy plan builders over `Dataset[Tile]`; nothing reads
  * a pixel until an action runs (reference R5).
  */
final case class Stack(
    spark: SparkSession,
    tiles: Dataset[Tile],
    spec: RasterSpec,
    chunk: Int,
    items: Seq[StacItem],
    assetTable: Seq[AssetRow]) {

  /** Band selection (P1): `stack.selectBands("red","nir")`. */
  def selectBands(bands: String*): Stack = {
    val set = bands.toSet
    copy(tiles = tiles.filter(t => set.contains(t.band)))
  }

  /** Metadata predicate over item properties (P6): prunes whole time
    * slices before IO, e.g. `filterItems(_.properties.get("eo:cloud_cover").exists(_.toDouble < 20))`. */
  def filterItems(pred: StacItem => Boolean): Stack = {
    val keep = items.zipWithIndex.collect { case (it, i) if pred(it) => i }.toSet
    copy(tiles = tiles.filter(t => keep.contains(t.itemIdx)))
  }

  /** Label-based time slice (P7), ISO8601 bounds. */
  def sliceTime(fromIso: String, untilIso: String): Stack = {
    val lo = graft.stac.Stac.parseDatetimeMicros(fromIso)
    val hi = graft.stac.Stac.parseDatetimeMicros(untilIso)
    copy(tiles = tiles.filter(t => t.timeMicros >= lo && t.timeMicros < hi))
  }

  /** Elementwise band math (J5): `algebra("ndvi", "nir", "red")((n,r) => (n-r)/(n+r))`. */
  def algebra(outBand: String, bandA: String, bandB: String)
             (f: (Double, Double) => Double): Stack =
    copy(tiles = TileAlgebra.binary(
      tiles.filter(t => t.band == bandA), tiles.filter(t => t.band == bandB),
      chunk, outBand)(f))

  /** First-valid composite over time (A1). */
  def mosaic(reverse: Boolean = false): Dataset[CompositeTile] =
    Mosaic(tiles, chunk, reverse)

  /** Per-pixel temporal mean per calendar period (A8/W3). */
  def temporalMean(trunc: Long => Long): Dataset[(Long, CompositeTile)] =
    Mosaic.temporalMean(tiles, chunk, trunc)

  /** Per-pixel temporal median per calendar period (the README query). */
  def temporalMedian(trunc: Long => Long): Dataset[(Long, CompositeTile)] =
    Median.temporal(tiles, chunk, trunc)

  /** Warp to another grid (F18). */
  def reproject(dst: RasterSpec, dstChunk: Int,
                method: Resampling = Resampling.Nearest): Stack =
    copy(tiles = Reproject(tiles, spec, dst, chunk, dstChunk, method),
         spec = dst, chunk = dstChunk)

  /** Flat pixel DataFrame with world coordinates — arbitrary SQL over
    * pixels. */
  def toPixels: DataFrame = Pixels.toPixels(tiles, spec, chunk)

  /** Serve this stack as a live XYZ tile endpoint — the `stackstac.show`
    * analog (`show.py:130-408`): composites over time, then starts a
    * [[graft.viz.TileServer]] on `port` (0 = ephemeral). 1 band renders
    * through `cmap`; 2–3 `bands` render true-color. Returns the server
    * (for `.stats` / `.stop()`) and the bound port. */
  def serve(port: Int = 0, bands: Seq[String] = Seq.empty,
            range: Option[(Double, Double)] = None,
            cmap: graft.viz.Colormap = graft.viz.Colormap.viridis)
      : (graft.viz.TileServer, Int) = {
    import spark.implicits._
    val bandIdx = assetTable.map(_.band).distinct.sorted.zipWithIndex.toMap
    val composite =
      if (bands.size > 1) {
        // per-band composite planes; distinct assetIdx per band keeps the
        // warp's (item, asset, chunk) gather from mixing bands
        val idx = bandIdx
        Mosaic(tiles, chunk).map(c => graft.scan.Tile(0, idx(c.band), c.band, 0L,
          c.yChunk, c.xChunk, 0, 0, c.height, c.width, c.pixels))
      } else Mosaic(tiles, chunk).map(c => graft.scan.Tile(0, 0, c.band, 0L,
        c.yChunk, c.xChunk, 0, 0, c.height, c.width, c.pixels))
    val server = new graft.viz.TileServer(composite, spec, chunk,
      range = range, cmap = cmap, bands = bands)
    val boundPort = server.start(port)
    (server, boundPort)
  }

  /** Declared-dtype materialization — `stack(dtype=, fill_value=)` parity
    * (reference `to_dask.py:39-43`, `prepare.py:166-183`): validates
    * fill-value castability and, since the scan always rescales, every
    * asset's scale/offset castability, then fills nodata and casts each
    * cell (truncate-toward-zero, clipped). Tiles keep the Double carrier;
    * the values are exactly the dtype's. */
  def cast(dtype: graft.core.CellType, fillValue: Double = Double.NaN): Dataset[Tile] = {
    graft.core.CellType.requireFill(dtype, fillValue)
    assetTable.filter(_.url != null)
      .foreach(a => graft.core.CellType.requireRescale(dtype, a.scale, a.offset))
    import spark.implicits._
    tiles.map(t => t.copy(pixels =
      t.pixels.map(v => dtype.cast(if (v.isNaN) fillValue else v))))
  }

  /** First-valid composite with a declared dtype: NaN nodata on an
    * integral dtype is the reference's usage-error guard
    * (`ops.py:202-208`). */
  def mosaicAs(dtype: graft.core.CellType, nodata: Double = Double.NaN,
               reverse: Boolean = false): Dataset[CompositeTile] = {
    graft.core.CellType.requireMosaicNodata(dtype, nodata)
    import spark.implicits._
    mosaic(reverse).map(ct => ct.copy(pixels =
      ct.pixels.map(v => dtype.cast(if (v.isNaN) nodata else v))))
  }
}

object Stack {
  /** Build the stack: normalize+sort -> plan -> lazy scan. `readerFor`
    * defaults to the deterministic FakeReader; pass
    * `GeoTiffReader.factory(spec)` for real files. */
  def apply(spark: SparkSession, items: Seq[StacItem],
            opts: PrepareOptions = PrepareOptions(),
            chunk: Int = 1024,
            readerFor: RasterSpec => AssetRow => Reader = _ => a => FakeReader(a.url),
            errorsAsNodata: ErrorsAsNodata = ErrorsAsNodata.none): Stack =
    build(spark, items, opts, errorsAsNodata, elide = true)(_ => chunk, p => readerFor(p.spec))

  /** `stack(chunksize=...)` parity: accept the full chunk-spec grammar
    * ("auto", "64 MiB", -1, ints — `to_dask.py:208-231`) and resolve it
    * against the planned spec. Downstream per-chunk operators index with
    * one square edge, so a rectangular resolution takes the finer axis. */
  def chunked(spark: SparkSession, items: Seq[StacItem],
              chunks: graft.scan.ChunksParam,
              opts: PrepareOptions = PrepareOptions(),
              readerFor: RasterSpec => AssetRow => Reader = _ => a => FakeReader(a.url),
              errorsAsNodata: ErrorsAsNodata = ErrorsAsNodata.none): Stack =
    build(spark, items, opts, errorsAsNodata, elide = true)(
      spec => { val (cy, cx) = graft.scan.Chunks.spatialEdges(chunks, spec); math.min(cy, cx) },
      p => readerFor(p.spec))

  /** [[apply]] without the all-NaN elision: the tiles are the plain
    * [[graft.scan.v2.TileSourceV2]] rows, one per planned read (the DSv2
    * row-set contract — pruning must be a pure optimization). Both scans
    * report one partition per chunk, so [[Stack.algebra]]'s band-align
    * join is storage-partitioned either way (SpjSpec/j14). */
  def v2(spark: SparkSession, items: Seq[StacItem],
         opts: PrepareOptions = PrepareOptions(),
         chunk: Int = 1024,
         readerFor: RasterSpec => AssetRow => Reader = _ => a => FakeReader(a.url),
         errorsAsNodata: ErrorsAsNodata = ErrorsAsNodata.none): Stack =
    build(spark, items, opts, errorsAsNodata, elide = false)(_ => chunk, p => readerFor(p.spec))

  /** Real-file stack over GeoTIFFs, mixed-CRS capable: assets whose
    * native CRS differs from the output spec are warped per pixel at read
    * time using the planner-collected native grids (the reference's
    * `WarpedVRT` wrap, `rio_reader.py:344-360`) — a two-UTM-zone
    * collection scans onto one grid with `opts.epsg` set. */
  def geotiff(spark: SparkSession, items: Seq[StacItem],
              opts: PrepareOptions = PrepareOptions(),
              chunk: Int = 1024,
              nodata: Option[Double] = None,
              errorsAsNodata: ErrorsAsNodata = ErrorsAsNodata.none): Stack =
    build(spark, items, opts, errorsAsNodata, elide = true)(_ => chunk,
      p => graft.scan.GeoTiffReader.warped(p.spec, p.nativeGrids, nodata))

  /** Prepare, resolve the chunk edge and reader against the plan, and
    * scan: with the all-NaN elision ([[TileScan.scan]]) or without it. */
  private def build(spark: SparkSession, items: Seq[StacItem], opts: PrepareOptions,
                    errorsAsNodata: ErrorsAsNodata, elide: Boolean)(
      edge: RasterSpec => Int, readerFor: PrepareResult => AssetRow => Reader): Stack = {
    val plan = Prepare(items, opts)
    val chunk = edge(plan.spec)
    val tiles =
      if (elide) TileScan.scan(spark, plan.assetTable, plan.spec, chunk,
        readerFor(plan), errorsAsNodata)
      else graft.scan.v2.TileSourceV2.scan(spark, plan.assetTable, plan.spec, chunk,
        readerFor(plan), errorsAsNodata).as[Tile](Encoders.product[Tile])
    Stack(spark, tiles, plan.spec, chunk, plan.items, plan.assetTable)
  }
}
