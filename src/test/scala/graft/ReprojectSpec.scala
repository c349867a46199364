package graft

import graft.core.{Bounds, RasterSpec}
import graft.ops.{Reproject, Resampling}
import graft.scan.{AssetRow, FakeReader, TileScan}

/** Reprojection oracle tests — validate the same-CRS paths first (the
  * reference's own fastpath ordering, `geom_utils.py:276-281`), then
  * cross-CRS consistency. */
class ReprojectSpec extends SparkSpec {

  private val srcSpec = RasterSpec(32633, Bounds(500000, 4000000, 500640, 4000640), 10, 10) // 64x64
  private val chunk = 32

  private def scanOne() = {
    val assets = Seq(AssetRow(0, 0, "b", 0L, "fake://r/0",
      500000, 4000000, 500640, 4000640, 1.0, 0.0))
    TileScan.scan(spark, assets, srcSpec, chunk)
  }

  test("identity spec returns input unchanged") {
    val tiles = scanOne()
    val out = Reproject(tiles, srcSpec, srcSpec, chunk, chunk)
    assert(out.collect().map(_.pixels.sum).sum == tiles.collect().map(_.pixels.sum).sum)
  }

  test("same-CRS nearest 2x downsample picks the expected source pixels") {
    val tiles = scanOne()
    val dst = RasterSpec(32633, srcSpec.bounds, 20, 20) // 32x32
    val out = Reproject(tiles, srcSpec, dst, chunk, chunk, Resampling.Nearest).collect()
    assert(out.map(t => t.height * t.width).sum == 32 * 32)
    // oracle: dst pixel (r,c) center maps to src pixel (2r, 2c) center+0.5 ->
    // src fractional (2r+1, 2c+1) -> floor -> (2r+1, 2c+1)
    val reader = FakeReader("fake://r/0")
    val full = reader.read(graft.core.Window(0, 0, 64, 64))
    out.foreach { t =>
      for (r <- 0 until t.height; c <- 0 until t.width) {
        val gr = t.yChunk * chunk + r; val gc = t.xChunk * chunk + c
        val want = full((2 * gr + 1) * 64 + (2 * gc + 1))
        assert(t.pixels(r * t.width + c) == want, s"at ($gr,$gc)")
      }
    }
  }

  test("same-CRS bilinear on constant field is constant") {
    import spark.implicits._
    val const = scanOne().map(t => t.copy(pixels = Array.fill(t.pixels.length)(7.5)))
    val dst = RasterSpec(32633, Bounds(500005, 4000005, 500635, 4000635), 7, 7)
    val out = Reproject(const, srcSpec, dst, chunk, chunk, Resampling.Bilinear).collect()
    assert(out.nonEmpty)
    out.foreach(_.pixels.foreach(v => assert(v.isNaN || math.abs(v - 7.5) < 1e-9)))
  }

  test("cross-CRS warp to web mercator covers the footprint") {
    val tiles = scanOne()
    val mercB = graft.core.Proj.reprojectBounds(srcSpec.bounds, 32633, 3857)
    val dst = RasterSpec(3857, mercB, mercB.width / 64, mercB.height / 64)
    val out = Reproject(tiles, srcSpec, dst, chunk, 32, Resampling.Nearest).collect()
    val valid = out.map(_.pixels.count(!_.isNaN)).sum
    // warped footprint is a rotated quad inside the envelope: most pixels valid
    assert(valid > 64 * 64 / 2, s"valid=$valid")
    // all valid values must come from the source value domain [0, 128)
    out.foreach(_.pixels.filter(!_.isNaN).foreach(v => assert(v >= 0 && v < 128)))
  }

  test("only Nearest and Bilinear sample here; other methods point to the read-time warp") {
    val tiles = scanOne()
    val dst = RasterSpec(32633, Bounds(500005, 4000005, 500635, 4000635), 7, 7)
    for (m <- Seq(Resampling.Cubic, Resampling.Mode)) {
      val err = intercept[IllegalArgumentException](Reproject(tiles, srcSpec, dst, chunk, chunk, m))
      assert(err.getMessage.contains(m.toString) && err.getMessage.contains("WarpedGridReader"),
        err.getMessage)
    }
    // Nearest and Bilinear still sample: on a linear ramp, nearest returns
    // the source pixel under each center and bilinear the ramp's exact value
    val ramp = TileScan.scan(spark, Seq(AssetRow(0, 0, "b", 0L, "ramp://0",
      500000, 4000000, 500640, 4000640, 1.0, 0.0)), srcSpec, chunk,
      readerFor = _ => graft.scan.RampReader(64))
    def sampled(m: Resampling) = Reproject(ramp, srcSpec, dst, chunk, chunk, m).collect()
      .flatMap { t =>
        for (r <- 0 until t.height; c <- 0 until t.width)
          yield (t.yChunk * chunk + r, t.xChunk * chunk + c) -> t.pixels(r * t.width + c)
      }
    // dst pixel (r, c) centers at src fractional (0.5 + 0.7 (r + 0.5), 0.5 + 0.7 (c + 0.5))
    def src(k: Int) = 0.5 + 0.7 * (k + 0.5)
    val near = sampled(Resampling.Nearest)
    assert(near.length == 90 * 90)
    near.foreach { case ((r, c), v) =>
      assert(v == math.floor(src(r)) * 64 + math.floor(src(c)), s"nearest at ($r,$c)")
    }
    val bil = sampled(Resampling.Bilinear)
    bil.foreach { case ((r, c), v) =>
      assert(v.isNaN || math.abs(v - ((src(r) - 0.5) * 64 + (src(c) - 0.5))) < 1e-6,
        s"bilinear at ($r,$c)")
    }
    assert(bil.count(!_._2.isNaN) > 80 * 80)
  }
}
