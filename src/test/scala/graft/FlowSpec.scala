package graft

import graft.ops.Flow
import graft.scan.Tile

/** Hand oracles for D8 flow accumulation (ops.Flow): the functional-
  * graph upstream-count recurrence, its cap/early-exit discipline, and
  * the direction-raster → edge-list flattening. */
class FlowSpec extends SparkSpec {
  import spark.implicits._

  private def acc(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] =
    Flow.accumulate(edges.toDF("src", "dst"), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain 1->2->3->4: upstream counts 1/2/3; budget == path length works") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val want = Map(2L -> 1L, 3L -> 2L, 4L -> 3L)
    assert(acc(chain, 10) == want)
    // the extra settled-probe makes a budget of exactly the path length pass
    assert(acc(chain, 3) == want)
  }

  test("confluence: two tributaries joining double the downstream count") {
    // 1->3, 2->3, 3->4: cell 3 receives 2, cell 4 receives 3
    assert(acc(Seq((1L, 3L), (2L, 3L), (3L, 4L)), 5) ==
      Map(3L -> 2L, 4L -> 3L))
  }

  test("under-budget throws loudly; a cycle throws instead of looping") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val ex = intercept[IllegalStateException] { acc(chain, 2) }
    assert(ex.getMessage.contains("round budget"))
    val cyc = intercept[IllegalStateException] { acc(Seq((1L, 2L), (2L, 1L)), 4) }
    assert(cyc.getMessage.contains("cycle"))
  }

  test("early exit: a huge budget on a shallow forest returns immediately") {
    val t0 = System.nanoTime()
    assert(acc(Seq((1L, 2L), (3L, 2L)), 1000) == Map(2L -> 2L))
    val dt = (System.nanoTime() - t0) / 1e9
    assert(dt < 60.0, s"rounds=1000 on a depth-1 forest took $dt s — early exit broken")
  }

  test("d8Edges maps ESRI codes to row-major neighbors; -1/NaN emit nothing") {
    // one 3x3 dir tile: edge cells drain inward, one pit (-1), NaN corners
    val px = Array(
      Double.NaN, 4.0, Double.NaN,
      1.0, 2.0, -1.0,
      Double.NaN, 64.0, Double.NaN)
    val tiles = spark.createDataset(Seq(Tile(0, 0, "g", 0L, 0, 0, 0, 0, 3, 3, px)))
    val got = Flow.d8Edges(tiles, 3, 3, gridW = 3, gridH = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // (0,1) S->(1,1); (1,0) E->(1,1); (1,1) SE->(2,2); (2,1) N->(1,1)
    assert(got == Set((1L, 4L), (3L, 4L), (4L, 8L), (7L, 4L)))
  }

  test("d8Edges: border cells draining off-grid are outlets — no wrapped edge") {
    // every border cell points OUT of the 3x3 grid; without the bounds
    // guard (0,0) W would wrap to the previous row's last column
    val px = Array(
      32.0, 64.0, 128.0,
      16.0, 2.0, 1.0,
      8.0, 4.0, 2.0)
    val tiles = spark.createDataset(Seq(Tile(0, 0, "g", 0L, 0, 0, 0, 0, 3, 3, px)))
    val got = Flow.d8Edges(tiles, 3, 3, gridW = 3, gridH = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // only the center cell (1,1) SE->(2,2) stays in-grid
    assert(got == Set((4L, 8L)))
  }

  private def bas(edges: Seq[(Long, Long)], rounds: Int): Set[(Long, Long)] =
    graft.ops.Flow.basins(edges.toDF("src", "dst"), rounds)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("basins: chain + tributary all resolve to the terminal; no duplicate labels") {
    // 1->2->3->4 with tributary 5->3: node 3 has in-degree 2 — the
    // multiset-difference regression would also emit (3,3)
    val got = bas(Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 3L)), 8)
    assert(got == Set((1L, 4L), (2L, 4L), (3L, 4L), (4L, 4L), (5L, 4L)))
  }

  test("basins: two disjoint forests keep separate labels; log-depth budget suffices") {
    // depth-7 chain resolves within ceil(log2(7))+1 = 4 rounds
    val chain = (1L to 7L).map(i => (i, i + 1))
    val two = chain ++ Seq((100L, 101L), (102L, 101L))
    val got = bas(two, 4)
    assert((1L to 8L).forall(n => got.contains((n, 8L))))
    assert(got.contains((100L, 101L)) && got.contains((102L, 101L)) &&
      got.contains((101L, 101L)))
  }

  test("basins: under-budget throws loudly; a cycle throws instead of looping") {
    val deep = (1L to 9L).map(i => (i, i + 1)) // needs ceil(log2(9)) = 4 jumps
    val ex = intercept[IllegalStateException] { bas(deep, 1) }
    assert(ex.getMessage.contains("basin"))
    val cyc = intercept[IllegalStateException] { bas(Seq((1L, 2L), (2L, 1L)), 4) }
    assert(cyc.getMessage.contains("cycle"))
  }

  test("basins matches a driver-side walk on the modramp D8 drainage") {
    import graft.core.{Bounds, RasterSpec}
    import graft.ops.Focal
    import graft.scan.{AssetRow, ModRampReader, TileScan}
    val g = 60
    val spec = RasterSpec(3857, Bounds(0.0, 0.0, 600.0, 600.0), 10.0, 10.0)
    val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
      0.0, 0.0, 600.0, 600.0, 1.0, 0.0))
    val tiles = TileScan.scan(spark, assets, spec, chunk = 20,
      readerFor = _ => ModRampReader(11))
    val dirs = Focal.d8Flow3x3(tiles, 20, 20, g, g)
    val edges = Flow.d8Edges(dirs, 20, 20, g, g)
    val got = Flow.basins(edges, rounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    def root(v: Long): Long = if (es.contains(v)) root(es(v)) else v
    val nodes = (es.keys ++ es.values).toSet
    val want = nodes.map(v => v -> root(v)).toMap
    assert(got == want, s"sizes got ${got.size} want ${want.size}")
  }

  test("distanceToOutlet: chain + tributary hop counts; terminals at 0") {
    // 1->2->3->4, 5->3: dist 1:3, 2:2, 3:1, 5:2, 4:0; all basin 4
    val got = graft.ops.Flow.distanceToOutlet(
        Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 3L)).toDF("src", "dst"), 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(1L -> (4L, 3L), 2L -> (4L, 2L), 3L -> (4L, 1L),
      5L -> (4L, 2L), 4L -> (4L, 0L)))
  }

  test("distanceToOutlet fuzz: random forest == driver depth walk") {
    val rnd = new scala.util.Random(17)
    val edges = (1 until 80).flatMap { i =>
      if (rnd.nextDouble() < 0.85) Some((i.toLong, rnd.nextInt(i).toLong)) else None
    }
    val got = graft.ops.Flow.distanceToOutlet(edges.toDF("src", "dst"), 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val pm = edges.toMap
    def walk(v: Long): (Long, Long) =
      if (!pm.contains(v)) (v, 0L)
      else { val (b, d) = walk(pm(v)); (b, d + 1) }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    assert(got == nodes.map(v => v -> walk(v)).toMap)
  }

  private def str(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] =
    Flow.strahler(edges.toDF("src", "dst"), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("strahler: textbook confluences") {
    // two headwaters meet (order 2), then a third order-1 joins (stays 2),
    // then another order-2 branch meets it (order 3)
    //   1->3, 2->3 (3: two order-1 => 2); 3->5, 4->5 (5: max 2, single => 2)
    //   6->8, 7->8 (8: 2); 5->9, 8->9 (9: two order-2 => 3)
    val e = Seq((1L, 3L), (2L, 3L), (3L, 5L), (4L, 5L),
      (6L, 8L), (7L, 8L), (5L, 9L), (8L, 9L))
    assert(str(e, 16) == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L,
      5L -> 2L, 6L -> 1L, 7L -> 1L, 8L -> 2L, 9L -> 3L))
  }

  test("strahler: chains keep order 1; budget==depth passes; under-budget throws") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    assert(str(chain, 16).values.toSet == Set(1L)) // no confluence anywhere
    // confluence at depth 3 needs 3 rounds to settle
    val deep = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 3L), (3L, 4L))
    val want = str(deep, 16)
    assert(want(4L) == 2L)
    assert(str(deep, 3) == want) // exactly the settle depth (probe-covered)
    val ex = intercept[IllegalStateException] { str(deep, 1) }
    assert(ex.getMessage.contains("Strahler"))
  }

  test("strahler matches a driver-side recursive replay on the modramp drainage") {
    import graft.core.{Bounds, RasterSpec}
    import graft.ops.Focal
    import graft.scan.{AssetRow, ModRampReader, TileScan}
    val g = 60
    val spec = RasterSpec(3857, Bounds(0.0, 0.0, 600.0, 600.0), 10.0, 10.0)
    val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
      0.0, 0.0, 600.0, 600.0, 1.0, 0.0))
    val tiles = TileScan.scan(spark, assets, spec, chunk = 20,
      readerFor = _ => ModRampReader(11))
    val dirs = Focal.d8Flow3x3(tiles, 20, 20, g, g)
    val edges = Flow.d8Edges(dirs, 20, 20, g, g)
    val got = Flow.strahler(edges, rounds = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver recursive replay over the same edge list
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    val children = es.groupBy(_._2).map { case (v, ps) => v -> ps.map(_._1) }
    val memo = scala.collection.mutable.Map.empty[Long, Long]
    def orderOf(v: Long): Long = memo.getOrElseUpdate(v, {
      children.get(v) match {
        case None => 1L
        case Some(cs) =>
          val os = cs.map(orderOf)
          val m = os.max
          if (os.count(_ == m) >= 2) m + 1 else m
      }
    })
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    val want = nodes.map(v => v -> orderOf(v)).toMap
    assert(got == want, s"sizes got ${got.size} want ${want.size}")
  }

  test("accumulate matches a driver-side replay on the modramp D8 drainage") {
    import graft.core.{Bounds, RasterSpec}
    import graft.ops.Focal
    import graft.scan.{AssetRow, ModRampReader, TileScan}
    // 60x60 modramp(11) DEM, chunk 20: relief <= 10 bounds every flow
    // path at 10 hops, so accumulation converges in <= 10 rounds
    val g = 60
    val spec = RasterSpec(3857, Bounds(0.0, 0.0, 600.0, 600.0), 10.0, 10.0)
    val assets = Seq(AssetRow(0, 0, "gray", 0L, "modramp://a",
      0.0, 0.0, 600.0, 600.0, 1.0, 0.0))
    val tiles = TileScan.scan(spark, assets, spec, chunk = 20,
      readerFor = _ => ModRampReader(11))
    val dirs = Focal.d8Flow3x3(tiles, 20, 20, g, g)
    val got = Flow.accumulate(Flow.d8Edges(dirs, 20, 20, g, g), rounds = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver replay: dense D8 with the documented tie/NaN contract
    def z(r: Int, c: Int): Long = (r.toLong * r + c.toLong * c) % 11
    val dirsSpec = Seq((1, 0, 1, false), (2, 1, 1, true), (4, 1, 0, false),
      (8, 1, -1, true), (16, 0, -1, false), (32, -1, -1, true),
      (64, -1, 0, false), (128, -1, 1, true))
    val next = scala.collection.mutable.Map.empty[Long, Long]
    for (r <- 1 until g - 1; c <- 1 until g - 1) {
      var best = 0.0; var bd: Option[(Int, Int)] = None
      dirsSpec.foreach { case (_, dr, dc, diag) =>
        val drop = (z(r, c) - z(r + dr, c + dc)).toDouble
        val rate = if (diag) drop / math.sqrt(2.0) else drop
        if (rate > best) { best = rate; bd = Some((dr, dc)) }
      }
      bd.foreach { case (dr, dc) =>
        next(r.toLong * g + c) = (r + dr).toLong * g + (c + dc)
      }
    }
    val want = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    next.keys.foreach { u =>
      var v = u
      while (next.contains(v)) { v = next(v); want(v) += 1 }
    }
    assert(got == want.toMap, s"sizes: got ${got.size} want ${want.size}")
  }

  // ---- depression filling (Planchon–Darboux fixpoint) ----

  /** Materialize fillSinks output as (globalRow, globalCol) -> W. */
  private def fillMap(tiles: Seq[Tile], chunk: Int, grid: Int, rounds: Int,
                      eps: Double = 0.0): Map[(Int, Int), Double] =
    Flow.fillSinks(spark.createDataset(tiles), chunk, chunk, grid, grid,
        rounds, eps)
      .collect().flatMap { t =>
        for (r <- 0 until t.height; c <- 0 until t.width)
          yield (t.yChunk * chunk + r, t.xChunk * chunk + c) ->
            t.pixels(r * t.width + c)
      }.toMap

  private def tile(yc: Int, xc: Int, h: Int, w: Int, px: Array[Double]) =
    Tile(0, 0, "gray", 0L, yc, xc, 0, 0, h, w, px)

  test("fillSinks: a bowl fills to its spill level (the wall)") {
    // 5x5: wall 5 on the border, ring 1, pit 0 — everything interior
    // fills to 5 (no channel out)
    val z = Array[Double](
      5, 5, 5, 5, 5,
      5, 1, 1, 1, 5,
      5, 1, 0, 1, 5,
      5, 1, 1, 1, 5,
      5, 5, 5, 5, 5)
    val w = fillMap(Seq(tile(0, 0, 5, 5, z)), chunk = 5, grid = 5, rounds = 4)
    for (r <- 1 to 3; c <- 1 to 3)
      assert(w((r, c)) == 5.0, s"($r,$c) -> ${w((r, c))}")
    for (i <- 0 to 4) assert(w((0, i)) == 5.0 && w((4, i)) == 5.0)
  }

  test("fillSinks: a border channel drains the bowl to the channel level") {
    // same bowl, but border cell (2,4) = 2 is an outlet: every interior
    // cell's minimax spill path runs through it -> W = 2 inside
    val z = Array[Double](
      5, 5, 5, 5, 5,
      5, 1, 1, 1, 5,
      5, 1, 0, 1, 2,
      5, 1, 1, 1, 5,
      5, 5, 5, 5, 5)
    val w = fillMap(Seq(tile(0, 0, 5, 5, z)), chunk = 5, grid = 5, rounds = 4)
    for (r <- 1 to 3; c <- 1 to 3)
      assert(w((r, c)) == 2.0, s"($r,$c) -> ${w((r, c))}")
    assert(w((2, 4)) == 2.0)

    // eps = 1 enforces a strict gradient toward the outlet across the
    // filled flat: hand fixpoint is 3/4/5 by column distance from it
    val we = fillMap(Seq(tile(0, 0, 5, 5, z)), chunk = 5, grid = 5,
      rounds = 6, eps = 1.0)
    for (r <- 1 to 3) {
      assert(we((r, 3)) == 3.0, s"($r,3) -> ${we((r, 3))}")
      assert(we((r, 2)) == 4.0, s"($r,2) -> ${we((r, 2))}")
      assert(we((r, 1)) == 5.0, s"($r,1) -> ${we((r, 1))}")
    }
  }

  test("fillSinks: nodata flanks are outlets; NaN cells ride NaN") {
    val z = Array[Double](
      5, 5, 5, 5, 5,
      5, 1, 1, 1, 5,
      5, 1, Double.NaN, 1, 5,
      5, 1, 1, 1, 5,
      5, 5, 5, 5, 5)
    val w = fillMap(Seq(tile(0, 0, 5, 5, z)), chunk = 5, grid = 5, rounds = 4)
    assert(w((2, 2)).isNaN)
    // every ring cell flanks the nodata hole -> outlet -> W = z = 1
    for ((r, c) <- Seq((1, 1), (1, 2), (1, 3), (2, 1), (2, 3),
                       (3, 1), (3, 2), (3, 3)))
      assert(w((r, c)) == 1.0, s"($r,$c) -> ${w((r, c))}")
  }

  test("fillSinks: cross-chunk spill converges in chunk-hops; budget guards") {
    // 9x9 at chunk 3 (3x3 chunks): z = 9 everywhere except a diagonal
    // channel (k,k) = 1 for k in 2..8 and the pit (1,1) = 0. The pit's
    // spill path exits at border cell (8,8): chunk-path (2,2) -> (1,1)
    // -> (0,0), so block Gauss-Seidel needs 3 rounds + 1 quiescent.
    val g = 9
    val z = Array.tabulate(g * g) { i =>
      val r = i / g; val c = i % g
      if (r == c && r >= 2) 1.0 else if (r == 1 && c == 1) 0.0 else 9.0
    }
    val tiles = for (yc <- 0 until 3; xc <- 0 until 3) yield {
      val px = Array.tabulate(9)(i => z((yc * 3 + i / 3) * g + xc * 3 + i % 3))
      tile(yc, xc, 3, 3, px)
    }
    val w = fillMap(tiles, chunk = 3, grid = g, rounds = 8)
    assert(w((1, 1)) == 1.0) // pit rises to the channel's spill level
    for (k <- 2 to 7) assert(w((k, k)) == 1.0, s"channel ($k,$k)")
    assert(w((1, 2)) == 9.0 && w((4, 5)) == 9.0) // off-channel untouched
    val ex = intercept[IllegalStateException] {
      fillMap(tiles, chunk = 3, grid = g, rounds = 2)
    }
    assert(ex.getMessage.contains("round budget"))
    // budget exactly the rounds needed passes via the settled probe
    assert(fillMap(tiles, chunk = 3, grid = g, rounds = 3)((1, 1)) == 1.0)
  }

  // ---- cost distance (weighted geodesic from sources) ----

  private def costMap(friction: Seq[Tile], sources: Seq[Tile], chunk: Int,
                      grid: Int, rounds: Int): Map[(Int, Int), Double] =
    Flow.costDistance(spark.createDataset(friction),
        spark.createDataset(sources), chunk, chunk, grid, grid, rounds)
      .collect().flatMap { t =>
        for (r <- 0 until t.height; c <- 0 until t.width)
          yield (t.yChunk * chunk + r, t.xChunk * chunk + c) ->
            t.pixels(r * t.width + c)
      }.toMap

  test("costDistance: hand-computed weighted geodesics around a ridge") {
    // friction ridge down the middle column: the cheap path to the right
    // side goes AROUND through the bottom row
    val f = Array[Double](1, 9, 1, 1, 9, 1, 1, 1, 1)
    val src = Array[Double](1, 0, 0, 0, 0, 0, 0, 0, 0) // source at (0,0)
    val w = costMap(Seq(tile(0, 0, 3, 3, f)), Seq(tile(0, 0, 3, 3, src)),
      chunk = 3, grid = 3, rounds = 4)
    val want = Map((0, 0) -> 0.0, (0, 1) -> 10.0, (0, 2) -> 12.0,
      (1, 0) -> 2.0, (1, 1) -> 12.0, (1, 2) -> 10.0,
      (2, 0) -> 4.0, (2, 1) -> 6.0, (2, 2) -> 8.0)
    assert(w == want, w.toString)
  }

  test("costDistance: NaN friction is an impassable barrier; cut-off cells NaN") {
    val f = Array[Double](1, Double.NaN, 1, 1, Double.NaN, 1, 1, Double.NaN, 1)
    val src = Array[Double](1, 0, 0, 0, 0, 0, 0, 0, 0)
    val w = costMap(Seq(tile(0, 0, 3, 3, f)), Seq(tile(0, 0, 3, 3, src)),
      chunk = 3, grid = 3, rounds = 4)
    assert(w((0, 0)) == 0.0 && w((1, 0)) == 2.0 && w((2, 0)) == 4.0)
    for (r <- 0 to 2; c <- 1 to 2) assert(w((r, c)).isNaN, s"($r,$c)")
  }

  test("costDistance: multiple sources take the nearer; uniform = 2x Manhattan") {
    val f = Array.fill(36)(1.0)
    val src = Array.tabulate(36)(i => if (i == 0 || i == 35) 1.0 else 0.0)
    val tilesF = for (yc <- 0 until 2; xc <- 0 until 2) yield
      tile(yc, xc, 3, 3, Array.tabulate(9)(i => f((yc * 3 + i / 3) * 6 + xc * 3 + i % 3)))
    val tilesS = for (yc <- 0 until 2; xc <- 0 until 2) yield
      tile(yc, xc, 3, 3, Array.tabulate(9)(i => src((yc * 3 + i / 3) * 6 + xc * 3 + i % 3)))
    val w = costMap(tilesF, tilesS, chunk = 3, grid = 6, rounds = 8)
    for (r <- 0 until 6; c <- 0 until 6) {
      val d = 2.0 * math.min(r + c, (5 - r) + (5 - c))
      assert(w((r, c)) == d, s"($r,$c) -> ${w((r, c))}, want $d")
    }
    // budget guard: source info must cross chunk borders; 2 rounds is
    // too few for the far chunk (one source only)
    val oneSrc = tilesS.map(t => if (t.yChunk == 0 && t.xChunk == 0) t
      else t.copy(pixels = Array.fill(9)(0.0)))
    val ex = intercept[IllegalStateException] {
      costMap(tilesF, oneSrc, chunk = 3, grid = 6, rounds = 2)
    }
    assert(ex.getMessage.contains("round budget"))
    assert(costMap(tilesF, oneSrc, chunk = 3, grid = 6, rounds = 3)((5, 5)) == 20.0)
  }

  test("costDistance: negative friction throws loudly") {
    val f = Array[Double](1, -1, 1, 1, 1, 1, 1, 1, 1)
    val src = Array[Double](1, 0, 0, 0, 0, 0, 0, 0, 0)
    val ex = intercept[org.apache.spark.SparkException] {
      costMap(Seq(tile(0, 0, 3, 3, f)), Seq(tile(0, 0, 3, 3, src)),
        chunk = 3, grid = 3, rounds = 2)
    }
    assert(ex.getMessage.contains("negative friction") ||
      Option(ex.getCause).exists(_.getMessage.contains("negative friction")))
  }

  test("fillDepth = fillSinks - z, zero on unfilled terrain") {
    val z = Array[Double](
      5, 5, 5, 5, 5,
      5, 1, 1, 1, 5,
      5, 1, 0, 1, 2,
      5, 1, 1, 1, 5,
      5, 5, 5, 5, 5)
    val d = Flow.fillDepth(spark.createDataset(Seq(tile(0, 0, 5, 5, z))),
        5, 5, 5, 5, rounds = 4)
      .collect().flatMap { t =>
        for (r <- 0 until t.height; c <- 0 until t.width)
          yield (r, c) -> t.pixels(r * t.width + c)
      }.toMap
    assert(d((2, 2)) == 2.0) // pit 0 -> spill 2
    assert(d((1, 1)) == 1.0) // ring 1 -> 2
    assert(d((0, 0)) == 0.0 && d((2, 4)) == 0.0)
  }
}
