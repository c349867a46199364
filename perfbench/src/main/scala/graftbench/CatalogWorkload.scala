package graftbench

import graft.Stack
import graft.meta.Accumulate
import graft.scan.TileScan
import graft.stac.{Prepare, PrepareOptions, StacJson}

/** Catalog planning: seeded Sentinel-2-shaped STAC NDJSON goes through
  * `StacJson.read` → `Prepare` → `Accumulate.typedCoordsFromItems` →
  * `Stack.apply` and `Stack.v2` → a COUNT over the v2 scan, which the
  * source answers from metadata (aggregate pushdown). No pixel is read. */
object CatalogWorkload {
  val Items = 500
  val Chunk = 2048
  private val opts = PrepareOptions()

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    var cat: Inputs.Catalog = null
    def generate(): Unit = cat = Inputs.catalog(ctx.opts.work, ctx.opts.seed, Items)
    generate()
    val expAssets = cat.scenes.map(_.bands.size).sum
    val expShape = Inputs.gridShape(cat.scenes.map(_.fp))
    val expPairs = Inputs.expectedPairs(cat.scenes, Chunk)
    val path = cat.path.toString

    def verify(plan: graft.stac.PrepareResult, coords: Map[String, Accumulate.Coord], count: Long): Unit = {
      val assets = plan.assetTable.count(_.url != null)
      ctx.check(assets == expAssets, s"catalog: $assets assets, generator wrote $expAssets")
      ctx.check(plan.spec.shape == expShape, s"catalog: grid ${plan.spec.shape}, expected $expShape")
      ctx.check(count == expPairs, s"catalog: v2 COUNT $count, expected $expPairs pairs")
      ctx.check(coords.get("eo:cloud_cover").exists(_.isInstanceOf[Accumulate.Coord1D]) &&
        coords.get("constellation").exists(_.isInstanceOf[Accumulate.Coord0D]),
        "catalog: typed coords lost cloud cover / constellation")
    }

    // the work-list itself must match the closed-form pair count once
    val plan0 = Prepare(StacJson.read(spark, path), opts)
    val wl = TileScan.workList(plan0.assetTable, plan0.spec, Chunk).size
    ctx.check(wl == expPairs, s"catalog: workList has $wl pairs, expected $expPairs")

    Batch.run(ctx, genReps = 3)(() => generate()) { () =>
      val items = StacJson.read(spark, path)
      val plan = Prepare(items, opts)
      val coords = Accumulate.typedCoordsFromItems(plan.items)
      Stack(spark, items, opts, Chunk)
      val v2 = Stack.v2(spark, items, opts, Chunk)
      verify(plan, coords, v2.tiles.count())
    } { t =>
      def s[T](name: String)(body: => T): (T, Double) = {
        val (r, sp) = t.span(name)(body); (r, sp.seconds)
      }
      val (items, readS) = s("stac.json_read")(StacJson.read(spark, path))
      val (plan, prepS) = s("stac.prepare")(Prepare(items, opts))
      val (coords, coordS) = s("meta.coords")(Accumulate.typedCoordsFromItems(plan.items))
      val (pairs, wlS) = s("scan.worklist")(TileScan.workList(plan.assetTable, plan.spec, Chunk).size)
      val (_, buildS) = s("scan.build")(Stack(spark, items, opts, Chunk))
      val (v2, v2bS) = s("scan.v2_build")(Stack.v2(spark, items, opts, Chunk))
      val (n, cntS) = s("scan.v2_count")(v2.tiles.count())
      verify(plan, coords, n)
      ctx.check(pairs == n, s"catalog: workList $pairs pairs vs v2 COUNT $n")
      Map("stac.json_read_s" -> readS, "stac.prepare_s" -> prepS, "meta.coords_s" -> coordS,
        "scan.worklist_s" -> wlS, "scan.build_s" -> buildS, "scan.v2_build_s" -> v2bS,
        "scan.v2_count_s" -> cntS, "stac.assets" -> plan.assetTable.count(_.url != null).toDouble,
        "scan.worklist_pairs" -> pairs.toDouble)
    }
  }
}
