package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{AffineTransform, Bounds}
import graft.stac._

/** R5 parity: planning is metadata-only and stays fast regardless of the
  * logical array size (the reference plans a ~122 GiB logical array in
  * 117 ms, `docs/basic.ipynb` cell 7). Here: 2,000 items × 10 bands =
  * 20,000 assets (~5 TB logical at 10980² px/asset) must plan well under
  * a second — and the tile work-list for a full-resolution grid stays
  * proportional to overlapping chunks only. */
class PlanningPerfSpec extends AnyFunSuite {

  test("20k-asset plan is metadata-only and sub-second") {
    val items = (0 until 2000).map { i =>
      val off = (i % 40) * 2560.0
      StacItem(f"scene-$i%04d", Some(f"2024-${i % 12 + 1}%02d-${i % 28 + 1}%02dT00:00:00Z"),
        epsg = Some(32633),
        assets = (0 until 10).map { b =>
          s"band$b" -> StacAsset(s"fake://$b/$i",
            bbox = Some(Bounds(399960 + off, 4990200 - off, 399960 + off + 10240, 4990200 - off + 10240)),
            shape = Some((1024, 1024)),
            transform = Some(AffineTransform.northUp(399960 + off, 4990200 - off + 10240, 10, 10)))
        }.toMap)
    }
    val t0 = System.nanoTime()
    val r = Prepare(items)
    val planMs = (System.nanoTime() - t0) / 1e6
    assert(r.assetTable.size == 2000 * 10)
    assert(planMs < 1000.0, s"plan took $planMs ms")

    // logical grid is ~11k x 11k px; chunk work-list stays metadata-sized
    val t1 = System.nanoTime()
    val grid = graft.scan.TileScan.chunkGrid(r.spec, 1024)
    val gridMs = (System.nanoTime() - t1) / 1e6
    assert(grid.nonEmpty && gridMs < 200.0, s"grid took $gridMs ms for ${grid.size} chunks")
  }

  test("scan work-list is O(assets x overlap): 1e4 assets x 1e4 chunks plans in seconds") {
    import graft.core.RasterSpec
    import graft.scan.{AssetRow, PlannedRead, TileScan}
    // 100x100-chunk grid (1e4 chunks at chunk=256 over a 25600^2-px spec);
    // 1e4 assets, each overlapping ~4 chunks. The old O(assets x chunks)
    // loop would do 1e8 window intersections here; the direct chunk-range
    // computation does ~4e4.
    val spec = RasterSpec(32633, Bounds(0, 0, 256000, 256000), 10.0, 10.0)
    val assets = (0 until 10000).map { i =>
      val x0 = (i % 100) * 2560.0 + 123.0 // off-grid offsets -> 2x2 chunk overlap
      val y0 = (i / 100 % 100) * 2560.0 + 77.0
      AssetRow(i, 0, "b", 0L, s"fake://$i", x0, y0,
        math.min(256000.0, x0 + 2560.0), math.min(256000.0, y0 + 2560.0), 1.0, 0.0)
    }
    val t0 = System.nanoTime()
    val pairs = TileScan.workList(assets, spec, 256)
    val ms = (System.nanoTime() - t0) / 1e6
    assert(pairs.size >= 10000, s"expected >=1 chunk per asset, got ${pairs.size}")
    assert(ms < 5000.0, s"work-list took $ms ms for ${pairs.size} pairs")
    // every pair's window is non-empty and chunk-contained
    assert(pairs.forall { case PlannedRead(_, yc, xc, win) =>
      !win.isEmpty && win.rowOff >= yc * 256 && win.colOff >= xc * 256 &&
      win.rowEnd <= (yc + 1) * 256 && win.colEnd <= (xc + 1) * 256
    })
  }
}
