package graftbench

import org.apache.spark.sql.Dataset
import graft.Stack
import graft.ops.CompositeTile
import graft.scan.FakeReader
import graft.stac.StacItem

/** The README composite: cloud filter → NDVI band algebra → monthly
  * per-pixel median, once over the `Stack.apply` scan and once over the
  * `Stack.v2` (DSv2) scan, plus a first-valid mosaic. Scan, exchange and
  * reduce do nearly all the work. */
object CompositeWorkload {
  val Items = 8
  val Px = 512
  val Chunk = 256
  val Bands = Seq("red", "nir", "green")

  /** Four overlapping footprints, offsets not aligned to the chunk grid. */
  val footprints: IndexedSeq[Inputs.Footprint] = IndexedSeq(
    Inputs.Footprint(0, 0, Px, Px), Inputs.Footprint(Px * 5 / 8, Px / 8, Px, Px),
    Inputs.Footprint(Px / 8, Px * 5 / 8, Px, Px), Inputs.Footprint(Px * 5 / 8, Px * 5 / 8, Px, Px))

  val cloudOk: StacItem => Boolean = _.properties.get("eo:cloud_cover").exists(_.toDouble < 50)
  val ndvi: (Double, Double) => Double = (n, r) => (n - r) / (n + r)
  val month: Long => Long = m => {
    val d = java.time.Instant.ofEpochSecond(Math.floorDiv(m, 1000000L))
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.withDayOfMonth(1)
    d.atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond * 1000000L
  }

  /** Per period: (valid pixels, position-keyed checksum of their bits).
    * Order-free, so both routes compare exactly even though v2 keeps
    * all-NaN chunks the legacy scan elides. */
  def periodStats(ds: Dataset[(Long, CompositeTile)]): Map[Long, (Long, Long)] = {
    import ds.sparkSession.implicits._
    ds.map { case (p, ct) =>
      var n = 0L; var h = 0L; var i = 0
      val key = (ct.yChunk.toLong << 40) ^ (ct.xChunk.toLong << 20)
      while (i < ct.pixels.length) {
        val v = ct.pixels(i)
        if (!v.isNaN) { n += 1; h += FakeReader.mix64(java.lang.Double.doubleToLongBits(v) * 31 + (key ^ i)) }
        i += 1
      }
      (p, n, h)
    }.collect().groupMapReduce(_._1)(x => (x._2, x._3))((a, b) => (a._1 + b._1, a._2 + b._2))
  }

  def mosaicValid(st: Stack): Map[String, Long] = {
    import st.spark.implicits._
    st.mosaic().map(ct => (ct.band, ct.pixels.count(!_.isNaN).toLong)).collect()
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    var items: Seq[StacItem] = Nil
    var covered = 0L
    def generate(): Unit = {
      val rnd = new java.util.SplittableRandom(ctx.opts.seed * 0x9e3779b97f4a7c15L + 2)
      val sc = Inputs.scenes(rnd, Items, footprints, Bands, dropBandProb = 0.0, prefix = "C")
      items = Inputs.items(sc)
      covered = Inputs.coveredPixels(sc.map(_.fp))
    }
    generate()
    def apply() = Stack(spark, items, chunk = Chunk)
    def v2() = Stack.v2(spark, items, chunk = Chunk)

    def verify(a: Map[Long, (Long, Long)], b: Map[Long, (Long, Long)], mosaic: Map[String, Long]): Unit = {
      ctx.check(a.nonEmpty && a.values.forall(_._1 > 0), s"composite: empty median $a")
      ctx.check(a == b, s"composite: apply route $a != v2 route $b")
      ctx.check(Bands.forall(mosaic.get(_).contains(covered)),
        s"composite: mosaic valid pixels $mosaic, footprints cover $covered")
    }

    Batch.run(ctx, genReps = 3)(() => generate()) { () =>
      val a = periodStats(apply().filterItems(cloudOk).algebra("ndvi", "nir", "red")(ndvi).temporalMedian(month))
      val b = periodStats(v2().filterItems(cloudOk).algebra("ndvi", "nir", "red")(ndvi).temporalMedian(month))
      verify(a, b, mosaicValid(apply()))
    } { t =>
      def route(r: String, build: => Stack): (Map[Long, (Long, Long)], Map[String, Double]) = {
        val (scanned, read) = t.span(s"scan.$r.read") {
          val st = build.filterItems(cloudOk)
          val p = st.tiles.persist()
          (st.copy(tiles = p), p.count())
        }
        val (nd, alg) = t.span(s"ops.$r.algebra") {
          val a = scanned._1.algebra("ndvi", "nir", "red")(ndvi)
          val p = a.tiles.persist(); p.count()
          a.copy(tiles = p)
        }
        val (stats, med) = t.span(s"ops.$r.median")(periodStats(nd.temporalMedian(month)))
        nd.tiles.unpersist(); scanned._1.tiles.unpersist()
        (stats, Map(s"scan.$r.read_s" -> read.seconds, s"scan.$r.tiles" -> scanned._2.toDouble,
          s"ops.$r.algebra_s" -> alg.seconds, s"ops.$r.median_s" -> med.seconds,
          s"spark.$r.shuffle_write_bytes" -> Seq(read, alg, med).map(_.attrs("shuffle_write_bytes")).sum))
      }
      val (a, ma) = route("apply", apply())
      val (b, mb) = route("v2", v2())
      val (mosaic, ms) = t.span("ops.mosaic")(mosaicValid(apply()))
      verify(a, b, mosaic)
      ma ++ mb + ("ops.mosaic_s" -> ms.seconds)
    }
  }
}
