package graft.core

/** Output cell dtypes and the reference's castability guards. Tiles travel
  * as `Array[Double]` (the Tungsten-friendly carrier — doubles hold every
  * supported cell value exactly, incl. all int32/uint16 ranges), and
  * `CellType` supplies the reference's declared-dtype semantics on top:
  *
  *  - fill_value castability at stack build (`to_dask.py:39-43`):
  *    NaN fill demands a float dtype;
  *  - rescale scale/offset castability at plan time
  *    (`prepare.py:166-183`): the scan always rescales, so fractional
  *    scales force a float dtype;
  *  - NaN-nodata-on-int-mosaic usage guard (`ops.py:202-208`);
  *  - the final cast on materialize (truncate toward zero like numpy
  *    `astype`, clipped to the dtype's range instead of wrapping).
  */
sealed abstract class CellType(
    val name: String, val bytes: Int, val isFloat: Boolean,
    val lo: Double, val hi: Double) {

  /** Can `v` be represented exactly in this dtype? (NaN only in floats;
    * integrals need whole in-range values; bool needs 0/1.) */
  def canRepresent(v: Double): Boolean =
    if (isFloat) true
    else !v.isNaN && !v.isInfinite && v == math.rint(v) && v >= lo && v <= hi

  /** Cast a double cell to this dtype's value space: floats pass through
    * (float32 narrows), integrals truncate toward zero and clip. Complex
    * dtypes cast per COMPONENT (tiles carry them interleaved — see
    * [[CellType.Complex64]]): complex64 narrows each component to float32
    * precision, complex128 passes through. */
  def cast(v: Double): Double = this match {
    case CellType.Float64 | CellType.Complex128 => v
    case CellType.Float32 | CellType.Complex64 => v.toFloat.toDouble
    case _ =>
      if (v.isNaN) throw new IllegalArgumentException(
        s"cannot cast NaN to $name; fill nodata first (pass fill_value)")
      math.max(lo, math.min(hi, if (v < 0) math.ceil(v) else math.floor(v)))
  }

  /** Doubles per pixel in the tile carrier: 2 for complex (re, im
    * interleaved), 1 otherwise. */
  def componentsPerPixel: Int = this match {
    case CellType.Complex64 | CellType.Complex128 => 2
    case _ => 1
  }
}

object CellType {
  case object UInt8   extends CellType("uint8", 1, false, 0, 255)
  case object Int16   extends CellType("int16", 2, false, Short.MinValue, Short.MaxValue)
  case object UInt16  extends CellType("uint16", 2, false, 0, 65535)
  case object Int32   extends CellType("int32", 4, false, Int.MinValue, Int.MaxValue)
  case object Float32 extends CellType("float32", 4, true, Double.NegativeInfinity, Double.PositiveInfinity)
  case object Float64 extends CellType("float64", 8, true, Double.NegativeInfinity, Double.PositiveInfinity)
  case object Bool    extends CellType("bool", 1, false, 0, 1)
  /** Complex cells (reference property-tests these,
    * `testing/strategies.py:26-31` — SAR edge cases). The tile carrier
    * stays `Array[Double]`: a complex plane interleaves (re, im) pairs, so
    * `pixels.length == 2 * width * height` and every per-component op
    * (fill, rescale by a real scalar, cast) applies elementwise to the
    * interleaved array unchanged. Float-kind for all castability guards
    * (NaN fill is legal; any real scale/offset is representable), matching
    * numpy's `can_cast(float, complex)`. */
  case object Complex64  extends CellType("complex64", 8, true, Double.NegativeInfinity, Double.PositiveInfinity)
  case object Complex128 extends CellType("complex128", 16, true, Double.NegativeInfinity, Double.PositiveInfinity)

  val all: Seq[CellType] =
    Seq(UInt8, Int16, UInt16, Int32, Float32, Float64, Bool, Complex64, Complex128)

  def parse(name: String): CellType =
    all.find(_.name == name.toLowerCase).getOrElse(
      throw new IllegalArgumentException(
        s"unknown dtype '$name'; have ${all.map(_.name).mkString(", ")}"))

  /** Fill-value castability (reference `to_dask.py:39-43`). */
  def requireFill(dtype: CellType, fillValue: Double): Unit =
    require(dtype.canRepresent(fillValue),
      s"The fill_value $fillValue is incompatible with the output dtype ${dtype.name}. " +
      "Either use dtype='float64', or pick a different fill_value.")

  /** Rescale castability per asset (reference `prepare.py:166-183`): the
    * scan rescales every asset, so its scale/offset must be representable
    * in the output dtype. */
  def requireRescale(dtype: CellType, scale: Double, offset: Double): Unit = {
    require(dtype.canRepresent(scale),
      s"Safe casting cannot be completed between asset scale value $scale and " +
      s"output dtype ${dtype.name}: the scan rescales every asset, so use a float dtype.")
    require(dtype.canRepresent(offset),
      s"Safe casting cannot be completed between asset offset value $offset and " +
      s"output dtype ${dtype.name}: the scan rescales every asset, so use a float dtype.")
  }

  /** NaN-nodata on an integral mosaic is a usage error (reference
    * `ops.py:202-208`). */
  def requireMosaicNodata(dtype: CellType, nodata: Double): Unit =
    require(!(nodata.isNaN && !dtype.isFloat),
      "You've probably forgotten to pass a custom nodata=. Cannot use nodata=NaN " +
      s"(the default) when mosaicing a ${dtype.name} array, since NaN cannot exist " +
      "in that dtype.")
}
