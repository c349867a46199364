package graft

import org.apache.spark.sql.DataFrame
import graft.core.{Bounds, RasterSpec}
import graft.ops.TileAlgebra
import graft.scan.{AssetRow, FakeReader, ModRampReader, TileScan}
import graft.scan.v2.TileSourceV2

/** Storage-partitioned tile×tile band algebra
  * (TileAlgebra.binaryAligned): the V2 scan's KeyGroupedPartitioning
  * lets the band-align join plan with ZERO Exchange — and the spec
  * pins the success shape, the raw SMJ-on-partition-keys form, and the
  * degradation (a side without reported partitioning). Plan traversal
  * via PlanCounts (stage-aware — see its scaladoc). */
class SpjSpec extends SparkSpec {

  import PlanCounts.{exchanges, smjs}
  private val spec = RasterSpec(3857, Bounds(0.0, 0.0, 1500.0, 1500.0), 10.0, 10.0)
  private def asset(item: Int, band: String, url: String) =
    AssetRow(item, 0, band, item.toLong * 1000000L, url,
      0.0, 0.0, 1500.0, 1500.0, 1.0, 0.0)

  private def scanBand(band: String, chunk: Int, m: Int, items: Int = 1): DataFrame =
    TileSourceV2.scan(spark, (0 until items).map(i => asset(i, band, s"modramp://$band/$i")),
      spec, chunk = chunk, readerFor = _ => ModRampReader(m))

  private def noBroadcast[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("same-grid V2 band align: SMJ on (item,y,x), ZERO exchanges, values exact") {
    val (rows, plan) = noBroadcast {
      val joined = TileAlgebra.binaryAligned(
        scanBand("nir", 50, 13), scanBand("red", 50, 7), 50, 50, "q")(
        (n, r) => n * 1000.0 + r)
      (joined.collect(), joined.queryExecution.executedPlan)
    }
    assert(smjs(plan) == 1, s"expected a SortMergeJoin:\n$plan")
    assert(exchanges(plan) == 0,
      s"storage-partitioned band align must not shuffle either side:\n$plan")
    // 150x150 grid, chunk 50 => 9 chunks, one output tile each
    assert(rows.length == 9)
    // every pixel: z13*1000 + z7 with z_m = (r²+c²) mod m, exact in doubles
    rows.foreach { t =>
      var rr = 0
      while (rr < t.height) {
        var cc = 0
        while (cc < t.width) {
          val gr = t.yChunk * 50 + rr; val gc = t.xChunk * 50 + cc
          val z = gr.toLong * gr + gc.toLong * gc
          assert(t.pixels(rr * t.width + cc) == (z % 13) * 1000.0 + (z % 7).toDouble)
          cc += 1
        }
        rr += 1
      }
    }
  }

  test("raw SMJ on EXACTLY the partition keys is storage-partitioned too (conf-free)") {
    import spark.implicits._
    noBroadcast {
      // the relational form: join keys == partition keys (yChunk, xChunk)
      // — Spark's SPJ engages even without the
      // requireAllClusterKeysForCoPartition relaxation that the
      // three-key (itemIdx added) binaryAligned join needs.
      val a = scanBand("nir", 50, 13).select($"yChunk", $"xChunk", $"band")
      val b = scanBand("red", 50, 7)
        .select($"yChunk".as("y2"), $"xChunk".as("x2"))
      val j = a.join(b, a("yChunk") === b("y2") && a("xChunk") === b("x2"))
      j.count()
      val plan = j.queryExecution.executedPlan
      assert(smjs(plan) == 1, s"expected a SortMergeJoin:\n$plan")
      assert(exchanges(plan) == 0, s"equal-keys SPJ must not shuffle:\n$plan")
    }
  }

  test("SPJ result equals the mapPartitions-scan result (multi-item, FakeReader)") {
    // FakeReader pixels are url-seeded hashes — distinct per band AND
    // item, so any cross-item or cross-band misalignment changes values
    val assets = (0 until 3).flatMap(i =>
      Seq(asset(i, "nir", s"fake://nir/$i"), asset(i, "red", s"fake://red/$i")))
    val v2n = TileSourceV2.scan(spark, assets.filter(_.band == "nir"), spec,
      chunk = 50, readerFor = a => FakeReader(a.url))
    val v2r = TileSourceV2.scan(spark, assets.filter(_.band == "red"), spec,
      chunk = 50, readerFor = a => FakeReader(a.url))
    val got = TileAlgebra.binaryAligned(v2n, v2r, 50, 50, "d")((n, r) => n - r)
      .collect().map(t => (t.itemIdx, t.yChunk, t.xChunk) -> t.pixels.toSeq).toMap
    val legacy = TileScan.scan(spark, assets, spec, chunk = 50,
      readerFor = a => FakeReader(a.url))
    val want = TileAlgebra.binary(
      legacy.filter(_.band == "nir"), legacy.filter(_.band == "red"),
      50, 50, "d")((n, r) => n - r)
      .collect().map(t => (t.itemIdx, t.yChunk, t.xChunk) -> t.pixels.toSeq).toMap
    assert(got.keySet == want.keySet)
    got.keys.foreach(k => assert(got(k) == want(k), s"pixels differ at $k"))
  }

  test("DEGRADATION: a side that lost its reported partitioning shuffles both sides") {
    noBroadcast {
      // a round-robin repartition drops the scan's reported chunk
      // partitioning, so the same binary combine pays two full-data
      // Exchanges — the exact cost the reported partitioning removes
      val assets = Seq(asset(0, "nir", "fake://nir/0"), asset(0, "red", "fake://red/0"))
      val legacy = TileScan.scan(spark, assets, spec, chunk = 50,
        readerFor = a => FakeReader(a.url)).repartition(4)
      val j = TileAlgebra.binary(
        legacy.filter(_.band == "nir"), legacy.filter(_.band == "red"),
        50, 50, "d")((n, r) => n - r)
      j.collect()
      assert(exchanges(j.queryExecution.executedPlan) >= 2,
        s"unpartitioned sources should shuffle both sides:\n${j.queryExecution.executedPlan}")
    }
  }

  test("mismatched chunk grids still plan shuffle-free via partition-value pushdown — but are a CONTRACT violation") {
    import spark.implicits._
    noBroadcast {
      // chunk 50 (3x3 = 9 partition values) vs chunk 75 (2x2 = 4):
      // Spark 4's partition-value pushdown aligns the differing value
      // sets WITHOUT a shuffle, so the plan stays clean — the failure is
      // SEMANTIC, not physical: chunk (0,1) covers different pixel
      // regions on each grid, so a raw coordinate match answers the
      // wrong question. binaryAligned's same-grid contract exists for
      // correctness (the reference's dask re-chunks first), not because
      // the planner would catch the mismatch.
      val a = scanBand("nir", 50, 13).select($"yChunk", $"xChunk", $"band")
      val b = scanBand("red", 75, 7)
        .select($"yChunk".as("y2"), $"xChunk".as("x2"))
      val j = a.join(b, a("yChunk") === b("y2") && a("xChunk") === b("x2"))
      val n = j.count()
      assert(exchanges(j.queryExecution.executedPlan) == 0,
        s"partition-value pushdown should align the value sets:\n${j.queryExecution.executedPlan}")
      // 4 chunk keys coincide numerically; each pairs |items_a|x|items_b| rows
      assert(n > 0)
    }
  }

  test("Stack.v2: the user-facing algebra() runs storage-partitioned (self-join form)") {
    import graft.core.{AffineTransform, Bounds => B}
    import graft.stac.{Prepare, PrepareOptions, StacAsset, StacItem}
    noBroadcast {
      val items = (0 until 2).map { i =>
        StacItem(s"s$i", Some(f"2024-06-0${i + 1}%dT00:00:00Z"), epsg = Some(32633),
          assets = Seq("red", "nir").map { b =>
            b -> StacAsset(s"fake://$b/$i",
              bbox = Some(B(0, 0, 1000, 1000)), shape = Some((100, 100)),
              transform = Some(AffineTransform.northUp(0, 1000, 10, 10)))
          }.toMap)
      }
      val v2Stack = Stack.v2(spark, items, PrepareOptions(), chunk = 50)
      val ndvi = v2Stack.algebra("ndvi", "nir", "red")((n, r) => (n - r) / (n + r))
      val rows = ndvi.tiles.collect()
      val plan = ndvi.tiles.queryExecution.executedPlan
      assert(rows.nonEmpty)
      assert(smjs(plan) == 1, s"expected a SortMergeJoin:\n$plan")
      assert(exchanges(plan) == 0,
        s"Stack.v2 algebra must storage-partition its band align:\n$plan")
      // values equal Stack.apply's algebra, which storage-partitions too
      val applyTiles = Stack(spark, items, PrepareOptions(), chunk = 50)
        .algebra("ndvi", "nir", "red")((n, r) => (n - r) / (n + r)).tiles
      val legacy = applyTiles.collect()
        .map(t => (t.itemIdx, t.yChunk, t.xChunk) -> t.pixels.toSeq).toMap
      assert(exchanges(applyTiles.queryExecution.executedPlan) == 0,
        s"Stack.apply algebra must storage-partition its band align:\n" +
          applyTiles.queryExecution.executedPlan)
      val got = rows.map(t => (t.itemIdx, t.yChunk, t.xChunk) -> t.pixels.toSeq).toMap
      assert(got == legacy)
    }
  }

  test("partial-coverage side still aligns correctly (missing chunks -> absent tiles)") {
    // red asset covers only 4 chunks of the 3x3 grid: the inner
    // alignment yields tiles only where both bands exist — the same
    // sparse-alignment semantics as binary over the legacy scan
    val nir = scanBand("nir", 50, 13)
    val redAssets = Seq(AssetRow(0, 0, "red", 0L, "modramp://red/0",
      0.0, 0.0, 1000.0, 1000.0, 1.0, 0.0))
    val red = TileSourceV2.scan(spark, redAssets, spec, chunk = 50,
      readerFor = _ => ModRampReader(7))
    val tiles = TileAlgebra.binaryAligned(nir, red, 50, 50, "q")((n, r) => n + r)
      .collect()
    // Bounds(0,0,1000,1000) at 10m/px = 100x100 px anchored at the raster's
    // BOTTOM-left (row 0 is the top): rows 50..149 => chunks (1,0),(1,1),(2,0),(2,1)
    assert(tiles.map(t => (t.yChunk, t.xChunk)).toSet ==
      Set((1, 0), (1, 1), (2, 0), (2, 1)),
      tiles.map(t => (t.yChunk, t.xChunk)).toSeq.sorted.mkString(","))
  }
}
