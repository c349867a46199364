package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import graft.core.{AffineTransform, Bounds}
import graft.stac.{StacAsset, StacItem}

/** Seeded input generators. Every workload input is a pure function of
  * the seed: the same seed writes the same bytes. Geometry is laid out on
  * the 10 m UTM 33N grid so each generator also knows, in closed form,
  * what the planner must produce (asset counts, grid shape, work-list
  * pairs, mosaic coverage) — those are the catalog and composite checks.
  */
object Inputs {
  val Epsg = 32633
  val Res = 10.0
  private val X0 = 300000.0
  private val Y0 = 5100000.0

  /** A rectangular footprint in grid pixels (column/row offsets from
    * (X0, Y0), north-up). */
  final case class Footprint(col: Int, row: Int, width: Int, height: Int, res: Double = Res) {
    def minx: Double = X0 + col * res
    def maxy: Double = Y0 - row * res
    def maxx: Double = minx + width * res
    def miny: Double = maxy - height * res
  }

  /** One generated scene: id, ISO datetime, footprint, per-band presence,
    * cloud cover. */
  final case class Scene(id: String, datetime: String, fp: Footprint,
                         bands: Seq[String], cloud: Double)

  private def isoAt(dayOffset: Int, secondOfDay: Int): String = {
    val d = java.time.LocalDate.of(2024, 6, 1).plusDays(dayOffset.toLong)
    f"${d}T${secondOfDay / 3600}%02d:${secondOfDay / 60 % 60}%02d:${secondOfDay % 60}%02dZ"
  }

  /** Scenes over `footprints`, spread over ~3 months (92 days). Every
    * item's datetime is distinct (day + second of day). Exactly half the
    * scenes (rounded down) have cloud cover below 50 %, so a cloud filter
    * keeps the same amount of work whatever the seed. */
  def scenes(rnd: SplittableRandom, n: Int, footprints: IndexedSeq[Footprint],
             bands: Seq[String], dropBandProb: Double, prefix: String): IndexedSeq[Scene] = {
    val order = shuffled(rnd, footprints.indices.toIndexedSeq)
    val clear = shuffled(rnd, (0 until n).toIndexedSeq).take(n / 2).toSet
    (0 until n).map { i =>
      val fp = footprints(order(i % footprints.size))
      val day = (i.toLong * 92 / n).toInt
      val sec = 36000 + rnd.nextInt(3600) * 4 + (i % 4)
      // the first band is always present, so every item keeps an asset
      val kept = bands.zipWithIndex.collect {
        case (b, j) if j == 0 || rnd.nextDouble() >= dropBandProb => b
      }
      val cloud = math.floor(rnd.nextDouble() * 500) / 10 + (if (clear(i)) 0 else 50)
      Scene(f"$prefix-$i%05d", isoAt(day, sec), fp, kept, cloud)
    }
  }

  def shuffled[T](rnd: SplittableRandom, xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  /** Canonical in-memory items (the composite and tiles workloads build
    * their stacks from these directly). */
  def items(scenes: Seq[Scene]): Seq[StacItem] = scenes.map { s =>
    StacItem(
      id = s.id, datetime = Some(s.datetime), epsg = Some(Epsg),
      assets = s.bands.map { b =>
        b -> StacAsset(
          href = s"fake://${s.id}/$b",
          mimetype = Some("image/tiff; application=geotiff"),
          bbox = Some(Bounds(s.fp.minx, s.fp.miny, s.fp.maxx, s.fp.maxy)),
          shape = Some((s.fp.height, s.fp.width)),
          transform = Some(AffineTransform.northUp(s.fp.minx, s.fp.maxy, s.fp.res, s.fp.res)))
      }.toMap,
      properties = Map("eo:cloud_cover" -> s.cloud.toString))
  }

  // ---- catalog: Sentinel-2-shaped STAC NDJSON ---------------------------

  val S2Bands: Seq[String] = Seq("B01", "B02", "B03", "B04", "B05", "B06", "B07", "B08",
    "B8A", "B09", "B11", "B12", "AOT", "WVP", "SCL", "TCI", "PVI")
  val S2Px = 10980

  /** 40 staggered 10980² px footprints: an 8 × 5 MGRS-like layout with
    * 100 km steps, so neighbours overlap by 980 px and chunk alignment
    * differs from footprint to footprint. */
  val catalogFootprints: IndexedSeq[Footprint] =
    for (r <- 0 until 5; c <- 0 until 8) yield Footprint(c * 10000, r * 10000, S2Px, S2Px)

  final case class Catalog(path: Path, scenes: IndexedSeq[Scene])

  def catalog(dir: Path, seed: Long, nItems: Int): Catalog = {
    val rnd = new SplittableRandom(seed * 0x9e3779b97f4a7c15L + 1)
    val sc = scenes(rnd, nItems, catalogFootprints, S2Bands, dropBandProb = 0.01, prefix = "S2")
    val sb = new java.lang.StringBuilder(nItems * 6000)
    sc.zipWithIndex.foreach { case (s, i) => itemJson(sb, s, i, rnd); sb.append('\n') }
    val path = dir.resolve(s"catalog-$seed.ndjson")
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
    Catalog(path, sc)
  }

  private def num(d: Double): String = java.math.BigDecimal.valueOf(d).toPlainString

  private def itemJson(sb: java.lang.StringBuilder, s: Scene, i: Int, rnd: SplittableRandom): Unit = {
    val fp = s.fp
    val tile = s"33T${('C' + fp.col / 10000).toChar}${('P' + fp.row / 10000).toChar}"
    val platform = if (rnd.nextBoolean()) "sentinel-2a" else "sentinel-2b"
    val sunEl = math.floor(rnd.nextDouble() * 40000) / 1000 + 20
    val tags = if (rnd.nextInt(3) == 0) """["cloudy","partial"]""" else """["nominal"]"""
    sb.append("""{"type":"Feature","stac_version":"1.0.0","id":"""").append(s.id)
      .append("""","bbox":[""")
      // lat/lon box is informative only (planning uses proj:*); keep it plausible
      .append(num(12.0 + fp.col / 10000 * 1.3)).append(',').append(num(44.0 - fp.row / 10000 * 0.9))
      .append(',').append(num(13.4 + fp.col / 10000 * 1.3)).append(',').append(num(45.0 - fp.row / 10000 * 0.9))
      .append("""],"properties":{"datetime":"""").append(s.datetime)
      .append("""","platform":"""").append(platform)
      .append("""","constellation":"sentinel-2","instruments":["msi"],"proj:epsg":""").append(Epsg)
      .append(""","eo:cloud_cover":""").append(num(s.cloud))
      .append(""","view:sun_elevation":""").append(num(sunEl))
      .append(""","s2:mgrs_tile":"""").append(tile)
      .append("""","s2:processing":{"baseline":"05.10","degraded":""").append(i % 97 == 0)
      .append("""},"s2:product_tags":""").append(tags)
      .append("""},"assets":{""")
    var first = true
    s.bands.foreach { b =>
      if (!first) sb.append(',')
      first = false
      sb.append('"').append(b).append("""":{"href":"fake://""").append(s.id).append('/').append(b)
        .append("""","type":"image/tiff; application=geotiff; profile=cloud-optimized",""")
        .append(""""proj:shape":[""").append(fp.height).append(',').append(fp.width)
        .append("""],"proj:transform":[""").append(num(Res)).append(",0,").append(num(fp.minx))
        .append(",0,").append(num(-Res)).append(',').append(num(fp.maxy)).append(",0,0,1]")
        .append(""","proj:bbox":[""").append(num(fp.minx)).append(',').append(num(fp.miny))
        .append(',').append(num(fp.maxx)).append(',').append(num(fp.maxy)).append("]}")
    }
    sb.append("}}")
  }

  /** Grid shape (rows, cols) of the union of `fps`, and the (asset ×
    * chunk) pairs the planner must emit for `scenes` — closed form, from
    * the footprint rectangles alone. */
  def gridShape(fps: Seq[Footprint]): (Int, Int) =
    (fps.map(f => f.row + f.height).max - fps.map(_.row).min,
     fps.map(f => f.col + f.width).max - fps.map(_.col).min)

  def expectedPairs(scenes: Seq[Scene], chunk: Int): Long = {
    val r0 = scenes.map(_.fp.row).min
    val c0 = scenes.map(_.fp.col).min
    scenes.map { s =>
      val r = s.fp.row - r0; val c = s.fp.col - c0
      val ny = (r + s.fp.height - 1) / chunk - r / chunk + 1
      val nx = (c + s.fp.width - 1) / chunk - c / chunk + 1
      s.bands.size.toLong * ny * nx
    }.sum
  }

  /** Pixels covered by at least one footprint (mosaic coverage when the
    * reader never yields nodata). */
  def coveredPixels(fps: Seq[Footprint]): Long = {
    val (h, w) = gridShape(fps)
    val r0 = fps.map(_.row).min; val c0 = fps.map(_.col).min
    val bits = new java.util.BitSet(h * w)
    fps.distinct.foreach { f =>
      var r = f.row - r0
      while (r < f.row - r0 + f.height) {
        bits.set(r * w + f.col - c0, r * w + f.col - c0 + f.width)
        r += 1
      }
    }
    bits.cardinality().toLong
  }

  // ---- corpus: documents / embeddings parquet --------------------------

  private val Vocab: IndexedSeq[String] = ("a the spark line column order small sort fast value scan " +
    "hash slow group batch agg filter query big key window row part table stream merge data " +
    "join vector customer index bloom sketch tile raster band pixel chunk median mosaic").split(' ').toIndexedSeq

  /** Corpus tables with the schemas the registered queries read
    * (`documents`, `embeddings`), written as parquet under
    * `dir`. Near-duplicate and exact-duplicate documents are planted so
    * the dedup, LSH and label-propagation queries have real work. The
    * content is fixed (so every query's rows can be pinned); `seed`
    * permutes the row order and the split into files, which the queries
    * must not depend on. */
  def corpus(spark: org.apache.spark.sql.SparkSession, dir: Path, seed: Long,
             nDocs: Int, nVecs: Int): Unit = {
    import spark.implicits._
    val rnd = new SplittableRandom(0x2545f4914f6cdd1dL)
    val order = new SplittableRandom(seed * 0x9e3779b97f4a7c15L + 4)
    def write[T](rows: IndexedSeq[T], name: String)(toDf: Seq[T] => org.apache.spark.sql.DataFrame): Unit =
      toDf(shuffled(order, rows)).repartition(1 + order.nextInt(4))
        .write.mode("overwrite").parquet(dir.resolve(name).toString)
    val langs = Seq("en", "en", "en", "de", "fr", "es", "zh")
    val texts = new Array[String](nDocs)
    val docs = (0 until nDocs).map { i =>
      val text =
        if (i > 10 && rnd.nextInt(10) == 0) {
          // near-duplicate of an earlier document: one token replaced
          val src = texts(rnd.nextInt(i)).split(' ')
          if (rnd.nextInt(3) > 0) src(rnd.nextInt(src.length)) = Vocab(rnd.nextInt(Vocab.size))
          src.mkString(" ")
        } else {
          val len = 10 + rnd.nextInt(51)
          Iterator.fill(len)(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
        }
      texts(i) = text
      (i.toLong, text, langs(rnd.nextInt(langs.size)), s"src${i % 20}", text.length.toLong)
    }
    write(docs, "documents.parquet")(_.toDF("doc_id", "text", "lang", "source", "n_chars"))

    val centers = Array.fill(10, 64)((rnd.nextDouble() - 0.5).toFloat)
    val vecs = (0 until nVecs).map { i =>
      val lab = rnd.nextInt(10)
      (i.toLong, centers(lab).map(c => (c + (rnd.nextDouble() - 0.5) * 0.4).toFloat).toSeq, lab)
    }
    write(vecs, "embeddings.parquet")(_.toDF("vec_id", "embedding", "label"))
  }
}
