package graft

import graft.core.CellType
import graft.core.CellType._
import graft.stac.{StacAsset, StacItem}

/** Cell-dtype guards (reference `to_dask.py:39-43`, `prepare.py:166-183`,
  * `ops.py:202-208`) and the materialize cast. */
class CellTypeSpec extends SparkSpec {

  test("fill_value castability: NaN demands a float dtype") {
    CellType.requireFill(Float64, Double.NaN)
    CellType.requireFill(Float32, Double.NaN)
    CellType.requireFill(UInt8, 0.0)
    intercept[IllegalArgumentException](CellType.requireFill(UInt8, Double.NaN))
    intercept[IllegalArgumentException](CellType.requireFill(Int16, 0.5))
    intercept[IllegalArgumentException](CellType.requireFill(UInt8, 256.0))
    intercept[IllegalArgumentException](CellType.requireFill(Bool, 2.0))
  }

  test("rescale castability: fractional scale forces float dtype") {
    CellType.requireRescale(Int16, 2.0, -100.0)
    CellType.requireRescale(Float32, 0.0001, 0.5)
    intercept[IllegalArgumentException](CellType.requireRescale(Int16, 0.0001, 0.0))
    intercept[IllegalArgumentException](CellType.requireRescale(UInt8, 1.0, -1.0))
  }

  test("mosaic NaN-nodata on int dtype is a usage error") {
    CellType.requireMosaicNodata(Float64, Double.NaN)
    CellType.requireMosaicNodata(UInt16, 0.0)
    intercept[IllegalArgumentException](
      CellType.requireMosaicNodata(UInt16, Double.NaN))
  }

  test("cast truncates toward zero, clips, and narrows float32") {
    assert(UInt8.cast(300.7) == 255.0 && UInt8.cast(-3.0) == 0.0)
    assert(Int16.cast(-3.7) == -3.0 && Int16.cast(3.7) == 3.0)
    assert(Float32.cast(0.1) == 0.1f.toDouble && Float64.cast(0.1) == 0.1)
    assert(Bool.cast(0.9) == 0.0)
    intercept[IllegalArgumentException](Int32.cast(Double.NaN))
    assert(CellType.parse("uint16") == UInt16)
    intercept[IllegalArgumentException](CellType.parse("int64"))
  }

  test("complex dtypes: float-kind guards, per-component cast, interleaving") {
    assert(CellType.parse("complex64") == Complex64)
    assert(CellType.parse("complex128") == Complex128)
    // float-kind: NaN fill and fractional rescale are legal (numpy
    // can_cast(float, complex)); reference fuzzes these dtypes in
    // testing/strategies.py:26-31
    CellType.requireFill(Complex64, Double.NaN)
    CellType.requireRescale(Complex64, 0.0001, 0.5)
    CellType.requireMosaicNodata(Complex128, Double.NaN)
    // per-component cast: complex64 narrows to float32 precision,
    // complex128 is exact; a plane interleaves (re, im)
    assert(Complex64.cast(0.1) == 0.1f.toDouble)
    assert(Complex128.cast(0.1) == 0.1)
    assert(Complex64.componentsPerPixel == 2 && Float64.componentsPerPixel == 1)
    val interleaved = Array(1.0, -2.0, 0.1, 0.3) // 2 px: (1-2i), (0.1+0.3i)
    val cast = interleaved.map(Complex64.cast)
    assert(cast.sameElements(Array(1.0, -2.0, 0.1f.toDouble, 0.3f.toDouble)))
    // 500-round fuzz: complex cast is componentwise float narrow, never
    // NaN-rejecting, and idempotent
    val rnd = new scala.util.Random(42)
    (0 until 500).foreach { _ =>
      val v = rnd.nextDouble() * 2e3 - 1e3
      assert(Complex128.cast(v) == v)
      val n = Complex64.cast(v)
      assert(Complex64.cast(n) == n)
    }
    assert(Complex64.cast(Double.NaN).isNaN && Complex128.cast(Double.NaN).isNaN)
  }

  test("Stack.cast fills nodata then casts every cell") {
    import graft.core.{AffineTransform, Bounds}
    // item 1 covers only the left half -> right half of its tiles is fill
    val items = Seq(
      StacItem("a", Some("2024-01-01T00:00:00Z"), epsg = Some(32633),
        assets = Map("b" -> StacAsset("fake://a",
          bbox = Some(Bounds(0, 0, 160, 160)), shape = Some((16, 16)),
          transform = Some(AffineTransform.northUp(0, 160, 10, 10))))),
      StacItem("b", Some("2024-01-02T00:00:00Z"), epsg = Some(32633),
        assets = Map("b" -> StacAsset("fake://b",
          bbox = Some(Bounds(0, 0, 80, 160)), shape = Some((16, 8)),
          transform = Some(AffineTransform.northUp(0, 160, 10, 10))))))
    val stack = Stack(spark, items, chunk = 16)
    intercept[IllegalArgumentException](stack.cast(UInt8)) // NaN fill + int dtype
    val cells = stack.cast(UInt8, fillValue = 0.0).collect().flatMap(_.pixels)
    assert(cells.nonEmpty)
    assert(cells.forall(v => v == math.rint(v) && v >= 0 && v <= 255))
    // mosaicAs guard + cast
    intercept[IllegalArgumentException](stack.mosaicAs(UInt16))
    val mosaic = stack.mosaicAs(UInt16, nodata = 9999.0).collect().flatMap(_.pixels)
    assert(mosaic.forall(v => v == math.rint(v) && v >= 0))
  }

  test("Stack.cast on a rescaled asset demands a float dtype, and says only that") {
    import graft.core.{AffineTransform, Bounds}
    val items = Seq(StacItem("a", Some("2024-01-01T00:00:00Z"), epsg = Some(32633),
      assets = Map("b" -> StacAsset("fake://a",
        bbox = Some(Bounds(0, 0, 160, 160)), shape = Some((16, 16)),
        transform = Some(AffineTransform.northUp(0, 160, 10, 10)), scale = 0.5))))
    val stack = Stack(spark, items, chunk = 16)
    val err = intercept[IllegalArgumentException](stack.cast(Int16, fillValue = 0.0))
    assert(err.getMessage.contains("0.5") && err.getMessage.contains("float dtype"),
      err.getMessage)
    assert(!err.getMessage.contains("rescale=false"), err.getMessage)
    // a float dtype keeps the rescaled values exactly
    val cells = stack.cast(Float64).collect().flatMap(_.pixels)
    assert(cells.nonEmpty && cells.exists(v => v != math.rint(v)))
  }
}
