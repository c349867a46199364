package graft

import graft.core.{Bounds, RasterSpec}
import graft.scan.{AssetRow, Chunks, ChunkDim, ChunksParam, RampReader, TileScan}

/** Chunk-spec grammar (reference `to_dask.py:208-231`) + rectangular scan. */
class ChunksSpec extends SparkSpec {

  test("int spec -> (1,1,c,c) with trailing partials") {
    val (t, b, y, x) = Chunks.normalize(ChunksParam.Square(1024), (5, 3, 3000, 2048))
    assert(t == Vector.fill(5)(1) && b == Vector.fill(3)(1))
    assert(y == Vector(1024, 1024, 952) && x == Vector(1024, 1024))
  }

  test("auto sizes a square power-of-two edge from the 128 MiB budget") {
    // 128 MiB / 8 B = 16.7M cells -> sqrt = 4096 exactly
    val (_, _, y, x) = Chunks.normalize(
      ChunksParam.parse("auto"), (1, 1, 100000, 100000))
    assert(y.head == 4096 && x.head == 4096)
  }

  test("byte-budget strings parse and scale the edge") {
    // 64 MiB -> 8.4M cells -> sqrt ~ 2896 -> pow2 floor 2048
    val (_, _, y, _) = Chunks.normalize(
      ChunksParam.parse("64 MiB"), (1, 1, 100000, 100000))
    assert(y.head == 2048)
    assert(ChunksParam.parse("1GiB") == ChunksParam.Bytes(1L << 30))
    assert(ChunksParam.parse("2 kb") == ChunksParam.Bytes(2000L))
  }

  test("-1 means one whole-dimension chunk; edges cap at the dimension") {
    val (_, _, y, x) = Chunks.normalize(ChunksParam.parse("-1"), (1, 1, 3000, 5000))
    assert(y == Vector(3000) && x == Vector(5000))
    val (_, _, y2, _) = Chunks.normalize(ChunksParam.Square(4096), (1, 1, 300, 300))
    assert(y2 == Vector(300))
  }

  test("spatial tuple and full 4-tuple control each dimension") {
    val (t, b, y, x) = Chunks.normalize(
      ChunksParam.Full4(ChunkDim.Fixed(2), ChunkDim.Full,
                        ChunkDim.Fixed(512), ChunkDim.Fixed(256)),
      (5, 3, 1000, 1000))
    assert(t == Vector(2, 2, 1) && b == Vector(3))
    assert(y == Vector(512, 488) && x == Vector(256, 256, 256, 232))
    val (_, _, y3, x3) = Chunks.normalize(
      ChunksParam.Spatial(ChunkDim.Fixed(300), ChunkDim.Fixed(700)), (1, 1, 1000, 1000))
    assert(y3 == Vector(300, 300, 300, 100) && x3 == Vector(700, 300))
  }

  test("auto with one fixed dim divides the budget by the fixed edge") {
    // fixed x=65536 -> y edge = pow2floor(16.7M / 65536) = 256
    val (_, _, y, _) = Chunks.normalize(
      ChunksParam.Spatial(ChunkDim.Auto, ChunkDim.Fixed(65536)),
      (1, 1, 100000, 100000))
    assert(y.head == 256)
  }

  test("fuzz: normalized runs always tile the dimension exactly") {
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 300) {
      val shape = (rnd.nextInt(5) + 1, rnd.nextInt(4) + 1,
                   rnd.nextInt(5000) + 1, rnd.nextInt(5000) + 1)
      val dim: () => ChunkDim = () => rnd.nextInt(3) match {
        case 0 => ChunkDim.Fixed(rnd.nextInt(2048) + 1)
        case 1 => ChunkDim.Full
        case _ => ChunkDim.Auto
      }
      val p = rnd.nextInt(4) match {
        case 0 => ChunksParam.Square(rnd.nextInt(2048) + 1)
        case 1 => ChunksParam.Spatial(dim(), dim())
        case 2 => ChunksParam.Full4(dim(), dim(), dim(), dim())
        case _ => ChunksParam.Bytes((rnd.nextInt(512) + 1).toLong << 20)
      }
      val (t, b, y, x) = Chunks.normalize(p, shape)
      for ((runs, n) <- Seq((t, shape._1), (b, shape._2), (y, shape._3), (x, shape._4))) {
        assert(runs.sum == n, s"$p $shape -> $runs")
        assert(runs.forall(_ > 0))
        assert(runs.dropRight(1).distinct.size <= 1) // uniform except tail
      }
    }
  }

  test("rectangular-chunk scan equals square-chunk scan per global pixel") {
    val spec = RasterSpec(32633, Bounds(0, 0, 170, 130), 10, 10) // 13 rows x 17 cols
    val assets = Seq(AssetRow(0, 0, "b", 0L, "ramp://0", 0, 0, 170, 130, 1.0, 0.0))
    def collectGlobal(chunkY: Int, chunkX: Int): Map[(Int, Int), Double] =
      TileScan.scan(spark, assets, spec, chunkY, chunkX,
          readerFor = _ => RampReader(17), errorsAsNodata = graft.scan.ErrorsAsNodata.none)
        .collect().flatMap { t =>
          for (r <- 0 until t.height; c <- 0 until t.width) yield
            (t.yChunk * chunkY + t.rowOff + r, t.xChunk * chunkX + t.colOff + c) ->
              t.pixels(r * t.width + c)
        }.toMap
    val square = collectGlobal(8, 8)
    val rect = collectGlobal(5, 11)
    assert(square.size == 13 * 17 && rect == square)
    val (cy, cx) = Chunks.spatialEdges(ChunksParam.parse("auto"), spec)
    assert(cy == 13 && cx == 17) // tiny grid: auto caps at the dimensions
  }

  test("rect chunks flow through mosaic and toPixels unchanged") {
    import graft.ops.{Mosaic, Pixels}
    val spec = RasterSpec(32633, Bounds(0, 0, 170, 130), 10, 10) // 13x17 px
    val assets = Seq(
      AssetRow(0, 0, "b", 0L, "ramp://0", 0, 0, 170, 130, 1.0, 0.0),
      AssetRow(1, 0, "b", 1000000L, "ramp://1", 0, 0, 90, 130, 1.0, 5000.0))
    def run(cy: Int, cx: Int): (Map[(Int, Double, Double), Double], Long) = {
      val tiles = TileScan.scan(spark, assets, spec, cy, cx,
        readerFor = _ => RampReader(17),
        errorsAsNodata = graft.scan.ErrorsAsNodata.none)
      val px = Pixels.toPixels(tiles, spec, cy, cx, center = true)
        .collect()
        .map(r => (r.getInt(0), r.getDouble(3), r.getDouble(4)) -> r.getDouble(5))
        .toMap
      // mosaic (last-on-top): count valid composite pixels
      val m = Mosaic(tiles, cy, cx, reverse = false).collect()
        .map(_.pixels.count(!_.isNaN)).sum.toLong
      (px, m)
    }
    val (pxSq, mSq) = run(8, 8)
    val (pxRe, mRe) = run(5, 11)
    assert(pxSq.size == 13 * 17 + 13 * 9) // item 0 full + item 1 left 9 cols
    assert(pxRe == pxSq, "pixel sets must be identical under rect chunks")
    assert(mRe == mSq && mSq == 13L * 17, "mosaic valid-pixel count must match")
  }
}
