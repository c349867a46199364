package graft.scan

import scala.collection.mutable

import graft.core.Window

/** One planned (asset × chunk) read of the work-list: the asset's window
  * clamped to the grid and cut at chunk (`yChunk`, `xChunk`). The tile
  * scan plans with it ([[TileScan.workList]]) and reads it through one
  * [[ReaderCache]]. */
final case class PlannedRead(asset: AssetRow, yChunk: Int, xChunk: Int, window: Window) {
  /** The read window's offset from its chunk's origin. */
  def rowOff(chunkY: Int): Int = window.rowOff - yChunk * chunkY
  def colOff(chunkX: Int): Int = window.colOff - xChunk * chunkX

  /** One metadata column of the row this read emits, by [[Tile]] field
    * name — what pushed filters, pushed aggregates and the v2 source's
    * rows read. */
  def meta(col: String, chunkY: Int, chunkX: Int): Any = col match {
    case "itemIdx" => asset.itemIdx
    case "assetIdx" => asset.assetIdx
    case "band" => asset.band
    case "timeMicros" => asset.timeMicros
    case "yChunk" => yChunk
    case "xChunk" => xChunk
    case "rowOff" => rowOff(chunkY)
    case "colOff" => colOff(chunkX)
    case "height" => window.height
    case "width" => window.width
  }
}

/** The one read body of the tile scan, one instance per task: each URL
  * is opened at most once (the reference enforces this with dask
  * fusion-blocking, R7 `to_dask.py:65-69`), a read whose error matches
  * `errorsAsNodata` becomes an all-NaN window (`nodata_reader.py:46-64`),
  * and the asset's scale/offset is applied. Its owner, the v2 source's
  * partition reader, calls [[close]] when its task ends — file-backed
  * readers hold fds. */
final class ReaderCache(readerFor: AssetRow => Reader, errorsAsNodata: ErrorsAsNodata) {
  private val open = mutable.HashMap.empty[String, Reader]

  def read(r: PlannedRead): Array[Double] = {
    val a = r.asset
    val reader = open.getOrElseUpdate(a.url, readerFor(a))
    val px =
      try reader.read(r.window)
      catch {
        case e: Throwable if errorsAsNodata.matches(e) =>
          Array.fill(r.window.width * r.window.height)(Double.NaN)
      }
    if (a.scale != 1.0 || a.offset != 0.0) {
      var i = 0
      while (i < px.length) { px(i) = px(i) * a.scale + a.offset; i += 1 }
    }
    px
  }

  /** Close every reader opened so far, ignoring close errors. */
  def close(): Unit = {
    open.values.foreach(r => try r.close() catch { case _: Throwable => () })
    open.clear()
  }
}
