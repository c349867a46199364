package graft

import org.scalacheck.Gen
import graft.core.{Bounds, RasterSpec, Window}
import graft.scan._

/** The reference's core-engine oracle pattern
  * (`tests/test_to_dask.py:23-187`): generate random asset tables with
  * random bounds and missing entries, materialize the expected full array
  * on the driver using the same deterministic reader, and assert the
  * engine's sparse tile output reconstructs it exactly.
  */
final case class BoomReader() extends Reader {
  def read(w: Window): Array[Double] = throw new RuntimeException("boom 404")
}

class TileScanSpec extends SparkSpec with GenChecks {

  private val spec = RasterSpec(4326, Bounds(-4, -4, 4, 4), 0.5, 0.5) // 16x16
  private val chunk = 8

  private def genAssets(nItems: Int, nBands: Int): Gen[Seq[AssetRow]] = {
    val cell = for {
      missing <- Gen.prob(0.3)
      x0 <- Gen.choose(-8, 6); y0 <- Gen.choose(-8, 6)
      w <- Gen.choose(0, 8); h <- Gen.choose(0, 8)
    } yield (missing, Bounds(x0, y0, x0 + w, y0 + h))
    Gen.listOfN(nItems * nBands, cell).map { cells =>
      cells.zipWithIndex.map { case ((missing, b), k) =>
        val i = k / nBands; val j = k % nBands
        AssetRow(i, j, s"b$j", i.toLong * 1000000L,
                 if (missing) null else s"fake://$i/$j",
                 b.minx, b.miny, b.maxx, b.maxy, 1.0, 0.0)
      }
    }
  }

  /** Driver-side expected array: (item, band) -> full (h, w) grid of NaN,
    * with the asset's window filled from the same FakeReader. */
  private def expected(assets: Seq[AssetRow]): Map[(Int, Int), Array[Double]] = {
    val (h, w) = spec.shape
    assets.map { a =>
      val grid = Array.fill(h * w)(Double.NaN)
      if (a.url != null) {
        val win = spec.windowFor(a.bounds).intersect(Window(0, 0, w, h))
        if (!win.isEmpty) {
          val px = FakeReader(a.url).read(win)
          for (r <- 0 until win.height; c <- 0 until win.width)
            grid((win.rowOff + r) * w + win.colOff + c) = px(r * win.width + c)
        }
      }
      (a.itemIdx, a.assetIdx) -> grid
    }.toMap
  }

  private def reconstruct(tiles: Seq[Tile]): Map[(Int, Int), Array[Double]] = {
    val (h, w) = spec.shape
    tiles.groupBy(t => (t.itemIdx, t.assetIdx)).view.mapValues { ts =>
      val grid = Array.fill(h * w)(Double.NaN)
      ts.foreach { t =>
        for (r <- 0 until t.height; c <- 0 until t.width)
          grid((t.yChunk * chunk + t.rowOff + r) * w + t.xChunk * chunk + t.colOff + c) =
            t.pixels(r * t.width + c)
      }
      grid
    }.toMap
  }

  private def sameArr(a: Array[Double], b: Array[Double]): Boolean =
    a.length == b.length && a.indices.forall(i => a(i) == b(i) || (a(i).isNaN && b(i).isNaN))

  test("scan reconstructs the oracle array (fuzz)") {
    forAllN(Gen.zip(Gen.choose(1, 4), Gen.choose(1, 3)).flatMap {
      case (ni, nb) => genAssets(ni, nb) }, n = 15) { assets =>
      val tiles = TileScan.scan(spark, assets, spec, chunk).collect().toSeq
      val got = reconstruct(tiles)
      val want = expected(assets)
      // every tile produced must match the oracle
      got.foreach { case (k, grid) => assert(sameArr(grid, want(k)), s"mismatch at $k") }
      // every non-empty oracle grid must be covered by tiles
      want.foreach { case (k, grid) =>
        if (grid.exists(!_.isNaN)) assert(got.contains(k), s"missing tiles for $k")
      }
      // sparse elision: no all-NaN tile rows (R4)
      tiles.foreach(t => assert(t.pixels.exists(!_.isNaN)))
    }
  }

  test("missing assets and non-overlapping assets produce no tiles") {
    val assets = Seq(
      AssetRow(0, 0, "b0", 0L, null, -4, -4, 4, 4, 1.0, 0.0),       // missing
      AssetRow(1, 0, "b0", 1L, "fake://1/0", 100, 100, 108, 108, 1.0, 0.0)) // outside
    assert(TileScan.scan(spark, assets, spec, chunk).collect().isEmpty)
  }

  test("rescale applies x*scale+offset (skipped when identity)") {
    val assets = Seq(AssetRow(0, 0, "b0", 0L, "fake://0/0", -4, -4, 4, 4, 2.0, 10.0))
    val plain  = Seq(AssetRow(0, 0, "b0", 0L, "fake://0/0", -4, -4, 4, 4, 1.0, 0.0))
    val a = TileScan.scan(spark, assets, spec, chunk).collect()
      .sortBy(t => (t.yChunk, t.xChunk))
    val b = TileScan.scan(spark, plain, spec, chunk).collect()
      .sortBy(t => (t.yChunk, t.xChunk))
    assert(a.length == b.length)
    a.zip(b).foreach { case (ta, tb) =>
      ta.pixels.zip(tb.pixels).foreach { case (x, y) =>
        assert(math.abs(x - (y * 2.0 + 10.0)) < 1e-9)
      }
    }
  }

  test("errors-as-nodata recovers matching exceptions") {
    val assets = Seq(AssetRow(0, 0, "b0", 0L, "fake://0/0", -4, -4, 4, 4, 1.0, 0.0))
    val policy = ErrorsAsNodata(Seq((classOf[RuntimeException], "404")))
    val tiles = TileScan.scan(spark, assets, spec, chunk,
      readerFor = _ => BoomReader(), errorsAsNodata = policy).collect()
    assert(tiles.isEmpty) // all-NaN reads are elided
    // non-matching error propagates
    val bad = ErrorsAsNodata(Seq((classOf[IllegalStateException], "")))
    intercept[org.apache.spark.SparkException] {
      TileScan.scan(spark, assets, spec, chunk,
        readerFor = _ => BoomReader(), errorsAsNodata = bad).collect()
    }
  }

  /** The edge cases the per-asset enumeration must get right: a missing
    * asset, one fully off the grid, ones sticking out on each side, one
    * whose edges lie exactly on chunk boundaries and a zero-area one. */
  private val edgeAssets: Seq[AssetRow] = Seq(
    AssetRow(90, 0, "b0", 90L, null, -4, -4, 4, 4, 1.0, 0.0),
    AssetRow(91, 0, "b0", 91L, "fake://91/0", 10, 10, 14, 14, 1.0, 0.0),
    AssetRow(92, 0, "b0", 92L, "fake://92/0", -7, -1, 1, 6, 1.0, 0.0),
    AssetRow(93, 0, "b0", 93L, "fake://93/0", 2, -9, 9, -2, 2.0, 5.0),
    AssetRow(94, 0, "b0", 94L, "fake://94/0", -4, 0, 0, 4, 1.0, 0.0),
    AssetRow(95, 0, "b0", 95L, "fake://95/0", 1, 1, 1, 3, 1.0, 0.0))

  /** Driver-side oracle: read every work-list pair, rescale, elide
    * all-NaN reads — the scan's output as a row multiset. */
  private def expandWorkList(assets: Seq[AssetRow], cy: Int, cx: Int): Map[Seq[Any], Int] =
    TileScan.workList(assets, spec, cy, cx).flatMap { case (a, yc, xc, win) =>
      val px = FakeReader(a.url).read(win).map(_ * a.scale + a.offset)
      if (px.forall(_.isNaN)) None
      else Some(Tile(a.itemIdx, a.assetIdx, a.band, a.timeMicros, yc, xc,
        win.rowOff - yc * cy, win.colOff - xc * cx, win.height, win.width, px))
    }.map(rowKey).groupBy(identity).view.mapValues(_.size).toMap

  private def rowKey(t: Tile): Seq[Any] =
    Seq(t.itemIdx, t.assetIdx, t.band, t.timeMicros, t.yChunk, t.xChunk,
      t.rowOff, t.colOff, t.height, t.width,
      t.pixels.map(java.lang.Double.doubleToLongBits).toSeq)

  test("scan rows and partitioning equal a driver-side expansion of workList (fuzz)") {
    val par = spark.sparkContext.defaultParallelism
    val gen = for {
      ni <- Gen.choose(1, 5); nb <- Gen.choose(1, 3)
      assets <- genAssets(ni, nb)
      cy <- Gen.oneOf(1, 3, 4, 8, 16, 20); cx <- Gen.oneOf(2, 5, 8, 16)
    } yield (assets ++ edgeAssets, cy, cx)
    forAllN(gen, n = 12) { case (assets, cy, cx) =>
      val ds = TileScan.scan(spark, assets, spec, cy, cx,
        a => FakeReader(a.url), ErrorsAsNodata.none, applyRescale = true)
      val got = ds.collect().toSeq.map(rowKey).groupBy(identity).view.mapValues(_.size).toMap
      assert(got == expandWorkList(assets, cy, cx), s"chunks ($cy, $cx)")
      val pairs = TileScan.workList(assets, spec, cy, cx).size
      assert(ds.rdd.getNumPartitions == math.max(1, math.min(pairs, 2 * par)),
        s"chunks ($cy, $cx): $pairs pairs")
    }
  }

  test("the scan plan ships one row per planned asset, not one per pair") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val assets = edgeAssets :+
      AssetRow(96, 0, "b0", 96L, "fake://96/0", -4, -4, 4, 4, 1.0, 0.0)
    val pairs = TileScan.workList(assets, spec, 2, 2).size
    val planned = assets.count(_.url != null)
    val ds = TileScan.scan(spark, assets, spec, chunk = 2)
    val rels = ds.queryExecution.analyzed.collect { case r: LocalRelation => r.data.size }
    assert(rels == Seq(planned), s"$pairs pairs")
    assert(pairs > 10 * planned)
  }
}
