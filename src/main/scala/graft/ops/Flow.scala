package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.graph.SizeRoute
import graft.scan.Tile

/** D8 flow ACCUMULATION — the hydrology consumer of
  * [[Focal.d8Flow3x3]]'s flow-direction raster (O'Callaghan & Mark
  * 1984): for every cell, how many upstream cells drain through it.
  * Watershed delineation, stream extraction, and drainage-area
  * thresholds are all reads of this surface.
  *
  * Two stages, both distributed:
  *
  *  1. [[d8Edges]] flattens the direction raster into a FUNCTIONAL
  *     graph (≤ 1 out-edge per cell, cell → steepest-descent neighbor);
  *     strictly-descending flow means the graph is a forest flowing
  *     into pits/flats — acyclic by construction.
  *  2. [[accumulate]] runs synchronous rounds of the upstream-count
  *     recurrence acc₁ = indegree, accᵢ₊₁(v) = indeg(v) + Σ_{u→v}
  *     accᵢ(u) — correct WITHOUT double-counting precisely because the
  *     graph is functional: every ancestor reaches v through exactly
  *     one parent. Each round is one equi-join of the edge list against
  *     the node-sized accumulation table plus a map-side-combined sum —
  *     shuffle O(edges)/round, lineage truncated per round (the
  *     KCore/LabelProp localCheckpoint discipline), and the loop EXITS
  *     at the first fixpoint round (no count changed ⇒ every upstream
  *     path is fully propagated). Rounds needed = the longest flow
  *     path; on integer DEMs each D8 hop strictly decreases elevation,
  *     so the path length — and the round count — is bounded by the
  *     DEM's relief (max − min elevation), not the grid size. `rounds`
  *     is a CAP: exhausting it before the fixpoint throws loudly (it
  *     also catches a cyclic edge list, where counts grow forever).
  */
object Flow {

  /** Flow edges (src, dst) as row-major cell ids (r·gridW + c) from a
    * D8 flow-direction tile layer (ESRI codes; −1/NaN cells emit no
    * edge). A border cell whose direction points OFF the
    * gridH×gridW domain is an OUTLET (ESRI semantics: flow leaves the
    * grid) and emits no edge — without the bounds guard the row-major
    * id would silently wrap (gc=0 with a W code aliases the previous
    * row's last column). Pure per-tile flatMap — no shuffle. */
  def d8Edges(dirTiles: Dataset[Tile], chunkY: Int, chunkX: Int,
              gridW: Int, gridH: Int): DataFrame = {
    val spark = dirTiles.sparkSession
    import spark.implicits._
    dirTiles.flatMap { t =>
      for {
        r <- 0 until t.height
        c <- 0 until t.width
        v = t.pixels(r * t.width + c)
        if !v.isNaN && v >= 1.0
        gr = t.yChunk * chunkY + t.rowOff + r
        gc = t.xChunk * chunkX + t.colOff + c
        (dr, dc) = v.toInt match {
          case 1 => (0, 1); case 2 => (1, 1); case 4 => (1, 0)
          case 8 => (1, -1); case 16 => (0, -1); case 32 => (-1, -1)
          case 64 => (-1, 0); case 128 => (-1, 1)
          case bad => throw new IllegalArgumentException(
            s"Flow.d8Edges: not an ESRI D8 code: $bad at ($gr, $gc)")
        }
        if gr + dr >= 0 && gr + dr < gridH && gc + dc >= 0 && gc + dc < gridW
      } yield (gr.toLong * gridW + gc, (gr + dr).toLong * gridW + (gc + dc))
    }.toDF("src", "dst")
  }

  /** Upstream-cell counts (node, acc) for every node with ≥ 1 upstream
    * cell over a FUNCTIONAL edge list (≤ 1 out-edge per src — the
    * [[d8Edges]] contract; a src with several out-edges would
    * double-count its ancestors downstream). Cells that receive no flow
    * have acc 0 and are simply absent. */
  def accumulate(edges: DataFrame, rounds: Int,
                 localCap: Long = 1048576L): DataFrame = {
    require(rounds >= 1, s"Flow: rounds=$rounds")
    val e = edges.toDF("src", "dst").localCheckpoint(true)
    SizeRoute.localEdges(e, localCap).foreach { rows =>
      return accumulateLocal(e.sparkSession, rows, rounds)
    }
    val indeg = e.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("deg")).localCheckpoint(true)
    var acc = indeg.select(col("node"), col("deg").as("acc"))
    var converged = acc.isEmpty
    var it = 1 // acc already holds round 1 (the 1-hop ancestors)
    while (it < rounds && !converged) {
      val up = e.join(acc.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("acc")).as("ups"))
      val next = indeg.join(up, Seq("node"), "left")
        .select(col("node"),
          (col("deg") + coalesce(col("ups"), lit(0L))).as("acc"))
        .localCheckpoint(true)
      converged = next.join(acc.withColumnRenamed("acc", "prev"), Seq("node"))
        .filter(col("acc") =!= col("prev")).isEmpty
      acc = next
      it += 1
    }
    if (!converged && !acc.isEmpty) {
      checkSettledOrThrow(e, indeg, acc, rounds)
    }
    acc
  }

  /** Driver-side [[accumulate]]: the same synchronous recurrence
    * acc₁ = indegree, accᵢ₊₁(v) = indeg(v) + Σ_{u→v} accᵢ(u) over the
    * raw edge MULTISET (duplicate rows count twice, exactly as the
    * distributed join does), with the same fixpoint early-exit, the
    * same one-extra-probe budget check, and the same throw. */
  private def accumulateLocal(spark: org.apache.spark.sql.SparkSession,
                              rows: Array[(Long, Long)],
                              rounds: Int): DataFrame = {
    import spark.implicits._
    val indeg = new scala.collection.mutable.LinkedHashMap[Long, Long]()
    rows.foreach { case (_, d) => indeg(d) = indeg.getOrElse(d, 0L) + 1L }
    var acc: scala.collection.Map[Long, Long] = indeg
    def step(cur: scala.collection.Map[Long, Long])
        : scala.collection.Map[Long, Long] = {
      val ups = new scala.collection.mutable.HashMap[Long, Long]()
      rows.foreach { case (s, d) =>
        cur.get(s).foreach(a => ups(d) = ups.getOrElse(d, 0L) + a)
      }
      indeg.map { case (n, dg) => n -> (dg + ups.getOrElse(n, 0L)) }
    }
    var converged = acc.isEmpty
    var it = 1 // acc already holds round 1, as in the distributed loop
    while (it < rounds && !converged) {
      val next = step(acc)
      converged = next == acc
      acc = next
      it += 1
    }
    if (!converged && acc.nonEmpty && step(acc) != acc)
      throw new IllegalStateException(
        s"Flow: round budget $rounds exhausted before accumulation " +
        "converged — the longest flow path exceeds the budget (or the " +
        "edge list has a cycle, which never converges). Raise `rounds`: " +
        "overshoot is free, the loop exits at the first fixpoint round.")
    // deterministic row order regardless of collect order/parallelism
    acc.toList.sortBy(_._1).toDF("node", "acc")
  }

  private def checkSettledOrThrow(e: DataFrame, indeg: DataFrame,
                                  acc: DataFrame, rounds: Int): Unit = {
      // one extra probe: the budget may be exactly the path length
      val up = e.join(acc.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("acc")).as("ups"))
      val next = indeg.join(up, Seq("node"), "left")
        .select(col("node"),
          (col("deg") + coalesce(col("ups"), lit(0L))).as("acc"))
      val settled = next.join(acc.withColumnRenamed("acc", "prev"), Seq("node"))
        .filter(col("acc") =!= col("prev")).isEmpty
      if (!settled) throw new IllegalStateException(
        s"Flow: round budget $rounds exhausted before accumulation " +
        "converged — the longest flow path exceeds the budget (or the " +
        "edge list has a cycle, which never converges). Raise `rounds`: " +
        "overshoot is free, the loop exits at the first fixpoint round.")
  }

  /** WATERSHED BASIN labeling over the functional flow forest — the
    * third hydrology consumer of [[d8Edges]]: every cell is labeled with
    * the terminal pit/outlet its flow path reaches (the cells sharing a
    * terminal ARE the drainage basin). Returns (node, basin) for every
    * node that appears in the edge list; a terminal labels itself (cells
    * absent from the edge list entirely are their own trivial basins and
    * are simply not emitted — the [[accumulate]] absence convention).
    *
    * Algorithm: POINTER JUMPING (parent ← grandparent each round) — the
    * functional-forest specialization of path doubling: after round k
    * every pointer has advanced 2^k hops, so convergence takes
    * ⌈log₂(longest flow path)⌉ rounds, not path-length rounds — on
    * integer DEMs the path is relief-bounded, so the round count is
    * ~log₂(relief). Each round is ONE self-equi-join of the node-sized
    * pointer table (shuffle O(nodes)/round, lineage checkpointed) — the
    * general CC machinery (`Dedup.connectedComponents`) is overkill
    * here: a forest needs no min-label propagation, just jump-to-root.
    * `rounds` is a cap with fixpoint early-exit; exhausting it before
    * the fixpoint throws loudly (a cyclic edge list never converges —
    * the KCore/[[accumulate]] guard discipline). */
  def basins(edges: DataFrame, rounds: Int,
             localCap: Long = 1048576L): DataFrame =
    resolveForest(edges, rounds, localCap).select(col("node"), col("basin"))

  /** Distance-to-outlet over the same forest — hydrology's flow-path
    * length (per cell: HOPS to its terminal pit/outlet; multiply by cell
    * size / √2 per diagonal downstream for metric length). Same Wyllie
    * state as [[basins]] with the distance accumulated through the
    * jumps; terminals are distance 0. */
  def distanceToOutlet(edges: DataFrame, rounds: Int,
                       localCap: Long = 1048576L): DataFrame =
    resolveForest(edges, rounds, localCap)
      .select(col("node"), col("basin"), col("dist"))

  /** Driver-side [[resolveForest]]: the same Wyllie pointer-jumping
    * rounds (parent ← grandparent, distance accumulated) over a
    * functional in-memory edge list — same fixpoint early-exit, same
    * one-extra-probe budget check, same self-stabilized-cycle guard,
    * same terminal rows, same throws. */
  private def resolveForestLocal(spark: org.apache.spark.sql.SparkSession,
                                 rows: Array[(Long, Long)],
                                 rounds: Int): DataFrame = {
    import spark.implicits._
    var ptr: Map[Long, (Long, Long)] =
      rows.iterator.map { case (n, p) => n -> (p, 1L) }.toMap
    def jump(cur: Map[Long, (Long, Long)]): Map[Long, (Long, Long)] =
      cur.map { case (n, (p, d)) =>
        cur.get(p) match {
          case Some((gp, gd)) => n -> (gp, d + gd)
          case None => n -> (p, d)
        }
      }
    def changed(a: Map[Long, (Long, Long)], b: Map[Long, (Long, Long)])
        : Boolean = a.exists { case (n, (p, _)) => b(n)._1 != p }
    var converged = ptr.isEmpty
    var it = 0
    while (it < rounds && !converged) {
      val next = jump(ptr)
      converged = !changed(next, ptr)
      ptr = next
      it += 1
    }
    if (!converged && ptr.nonEmpty && changed(jump(ptr), ptr))
      throw new IllegalStateException(
        s"Flow: round budget $rounds exhausted before basin pointers " +
        "converged — need ~log2(longest flow path) rounds (or the edge " +
        "list has a cycle, which never converges). Raise `rounds`: " +
        "overshoot is free, the loop exits at the first fixpoint round.")
    // the power-of-2-cycle self-stabilization guard: a true basin never
    // has an out-edge, so a resolved pointer landing on a src is a cycle
    val srcs = ptr.keySet
    if (ptr.valuesIterator.exists { case (p, _) => srcs(p) })
      throw new IllegalStateException(
        "Flow: basin pointers resolved onto nodes that still have " +
        "out-edges — the edge list has a cycle (a functional-forest " +
        "input is the contract; D8 edges are acyclic by construction).")
    val terminals = rows.iterator.map(_._2).toSet -- srcs
    val out = ptr.iterator.map { case (n, (p, d)) => (n, p, d) } ++
      terminals.iterator.map(t => (t, t, 0L))
    // deterministic row order regardless of collect order/parallelism
    out.toList.sortBy(_._1).toDF("node", "basin", "dist")
  }

  /** The shared pointer-jumping resolver: (node, basin, dist) for every
    * node in the edge list — parent ← grandparent with distance
    * accumulation (Wyllie), ⌈log₂(longest path)⌉ rounds, one node-sized
    * self-join per round, lineage checkpointed, loud budget and cycle
    * guards (see [[basins]]' scaladoc for the full argument). */
  private def resolveForest(edges: DataFrame, rounds: Int,
                            localCap: Long): DataFrame = {
    require(rounds >= 1, s"Flow: rounds=$rounds")
    val e = edges.toDF("node", "p").localCheckpoint(true)
    // size route (see SizeRoute): only for a FUNCTIONAL edge list
    // (distinct srcs) — a src with several out-edges multiplies rows in
    // the distributed self-join, a contract violation the local walk
    // will not reproduce, so it falls through to the distributed loop
    SizeRoute.localEdges(e, localCap).foreach { rows =>
      if (rows.iterator.map(_._1).toSet.size == rows.length)
        return resolveForestLocal(e.sparkSession, rows, rounds)
    }
    var ptr = e.withColumn("d", lit(1L))
    var converged = ptr.isEmpty
    var it = 0
    def jump(cur: DataFrame): DataFrame =
      cur.join(
          cur.select(col("node").as("p"), col("p").as("gp"), col("d").as("gd")),
          Seq("p"), "left")
        .select(col("node"), coalesce(col("gp"), col("p")).as("p"),
          (col("d") + coalesce(col("gd"), lit(0L))).as("d"))
    while (it < rounds && !converged) {
      val next = jump(ptr).localCheckpoint(true)
      converged = next
        .join(ptr.select(col("node"), col("p").as("prev")), Seq("node"))
        .filter(col("p") =!= col("prev")).isEmpty
      ptr = next
      it += 1
    }
    if (!converged && !ptr.isEmpty) {
      val settled = jump(ptr)
        .join(ptr.select(col("node"), col("p").as("prev")), Seq("node"))
        .filter(col("p") =!= col("prev")).isEmpty
      if (!settled) throw new IllegalStateException(
        s"Flow: round budget $rounds exhausted before basin pointers " +
        "converged — need ~log2(longest flow path) rounds (or the edge " +
        "list has a cycle, which never converges). Raise `rounds`: " +
        "overshoot is free, the loop exits at the first fixpoint round.")
    }
    // CYCLE guard: a power-of-2 cycle SELF-STABILIZES to bogus
    // self-labels (after k jumps each pointer advanced 2^k hops, and
    // L | 2^k makes that the identity), so fixpoint alone cannot be
    // trusted — but a TRUE basin never has an out-edge, so any resolved
    // pointer that still lands on a src is a cycle artifact. One
    // semi-join, loud like the other iterative guards.
    val srcs = e.select(col("node").as("src_node")).distinct()
    val onCycle = ptr.join(srcs, ptr("p") === srcs("src_node"), "left_semi")
    if (!onCycle.isEmpty) throw new IllegalStateException(
      "Flow: basin pointers resolved onto nodes that still have " +
      "out-edges — the edge list has a cycle (a functional-forest " +
      "input is the contract; D8 edges are acyclic by construction).")
    // terminals label themselves at distance 0; interior nodes carry
    // their root + accumulated hop count. SET difference (except, not
    // exceptAll): a confluence dst appears as p once PER TRIBUTARY, and
    // multiset difference would leave the surplus occurrences behind,
    // misclassifying an interior node with in-degree >= 2 as a terminal.
    val terminals = e.select(col("p").as("node"))
      .except(e.select(col("node")))
      .select(col("node"), col("node").as("basin"), lit(0L).as("dist"))
    ptr.select(col("node"), col("p").as("basin"), col("d").as("dist"))
      .unionByName(terminals)
  }

  /** One chunk of the depression-filling state: the static DEM `z` and
    * the current water surface `w`, both dense row-major over the
    * chunk's in-grid rectangle. `changed` marks whether the last round
    * lowered any cell — the distributed fixpoint signal. */
  final case class FillChunk(band: String, tyc: Int, txc: Int,
      height: Int, width: Int, changed: Boolean,
      z: Array[Double], w: Array[Double])

  /** One shuffled fragment of a fill round: a sub-rectangle of a source
    * chunk's `w` surface addressed to chunk (tyc, txc) in absolute grid
    * coordinates. `z` is non-empty only on the self fragment (the DEM
    * never needs to cross chunk borders: the update for a cell reads
    * z(cell) and w(neighbors)). Source rectangles are disjoint, so the
    * splice is order-independent — no layer tiebreak needed. */
  final case class FillFrag(band: String, tyc: Int, txc: Int,
      row0: Int, col0: Int, height: Int, width: Int,
      w: Array[Double], z: Array[Double])

  /** DEPRESSION FILLING (Planchon & Darboux 2001; SAGA "Fill Sinks",
    * ArcGIS "Fill") — the head of the hydrology pipeline: raw DEMs are
    * full of spurious pits that swallow [[d8Edges]] flow, so fill is
    * what runs BEFORE direction/accumulation/basins. The filled surface
    * is the unique fixpoint of
    *
    *   W(c) = max(z(c), min over 8 neighbors (W(n) + eps))
    *
    * from W = z on outlets (grid border or any cell flanking nodata)
    * and +inf elsewhere; every cell ends at its spill level — the
    * minimax over border paths of path-max elevation. eps = 0 gives the
    * classic fill (flat lakes at spill level, exact integers on integer
    * DEMs — the oracle form); eps > 0 additionally enforces a strict
    * drainage gradient across the filled flats.
    *
    * Distributed form: BLOCK GAUSS–SEIDEL over halo rounds. Per round,
    * each chunk ships its depth-1 `w` border strips to its ≤ 8
    * neighbors (the [[Focal]] ghost-cell exchange; the DEM itself rides
    * only the self fragment), then relaxes its own cells to a LOCAL
    * fixpoint with alternating-direction sweeps — updates are monotone
    * non-increasing and bounded below by z, so both the inner sweeps
    * and the outer rounds converge. Shuffle per round = 2×data +
    * 4·perimeter strips; rounds ≈ the spill-path diameter measured in
    * CHUNKS (each round moves information one full chunk, vs one CELL
    * for pointwise Jacobi) — on real terrain a handful of rounds for
    * thousands of chunks. `rounds` is a cap with fixpoint early-exit
    * and the loud budget guard of the other iterative ops. */
  def fillSinks(dem: Dataset[Tile], chunkY: Int, chunkX: Int,
                gridH: Int, gridW: Int, rounds: Int,
                eps: Double = 0.0): Dataset[Tile] = {
    val spark = dem.sparkSession
    import spark.implicits._
    fillState(dem, chunkY, chunkX, gridH, gridW, rounds, eps).map { fc =>
      Tile(-1, 0, fc.band, 0L, fc.tyc, fc.txc, 0, 0, fc.height, fc.width, fc.w)
    }
  }

  /** Fill DEPTH (W − z): how much water pools on every cell — 0 on
    * unfilled terrain, > 0 inside filled depressions. The read-out a
    * sink-census or a "wetland candidate" screen wants; same loop as
    * [[fillSinks]]. */
  def fillDepth(dem: Dataset[Tile], chunkY: Int, chunkX: Int,
                gridH: Int, gridW: Int, rounds: Int,
                eps: Double = 0.0): Dataset[Tile] = {
    val spark = dem.sparkSession
    import spark.implicits._
    fillState(dem, chunkY, chunkX, gridH, gridW, rounds, eps).map { fc =>
      val d = new Array[Double](fc.height * fc.width)
      var i = 0
      while (i < d.length) { d(i) = fc.w(i) - fc.z(i); i += 1 }
      Tile(-1, 0, fc.band, 0L, fc.tyc, fc.txc, 0, 0, fc.height, fc.width, d)
    }
  }

  private def fillState(dem: Dataset[Tile], chunkY: Int, chunkX: Int,
                        gridH: Int, gridW: Int, rounds: Int,
                        eps: Double): Dataset[FillChunk] = {
    require(eps >= 0.0, s"Flow: eps=$eps must be >= 0")
    val spark = dem.sparkSession
    import spark.implicits._

    // ---- init: dense per-chunk z (highest itemIdx wins, the haloGroups
    // overlap convention); W = z on the grid border (outlets), +inf
    // interior, NaN rides NaN.
    val init: Dataset[FillChunk] = dem
      .groupByKey(t => (t.band, t.yChunk, t.xChunk))
      .mapGroups { (key: (String, Int, Int), ts: Iterator[Tile]) =>
        val (band, tyc, txc) = key
        val outH = math.min(chunkY, gridH - tyc * chunkY)
        val outW = math.min(chunkX, gridW - txc * chunkX)
        val z = spliceChunk(ts, tyc, txc, outW, outH)
        val w = new Array[Double](outH * outW)
        var i = 0
        while (i < w.length) {
          val gr = tyc * chunkY + i / outW
          val gc = txc * chunkX + i % outW
          val zi = z(i)
          w(i) =
            if (zi.isNaN) Double.NaN
            else if (gr == 0 || gr == gridH - 1 || gc == 0 || gc == gridW - 1) zi
            else Double.PositiveInfinity
          i += 1
        }
        FillChunk(band, tyc, txc, outH, outW, changed = true, z, w)
      }.localCheckpoint(true)

    // Gauss–Seidel kernel: w only ever decreases (monotone, bounded
    // below by z over the finite lattice {z_j + k·eps}), so the inner
    // sweeps terminate; a NaN w-neighbor (out of grid, nodata, or a
    // missing chunk) is an outlet at -inf, making W = z there — which
    // is exactly the border/nodata-flank condition.
    blockRelax(init, chunkY, chunkX, gridH, gridW, rounds,
        shipZHalo = false, what = "the fill",
        budgetHint = "rounds must cover the spill-path diameter in chunks") {
      (zPad, wPad, outH, outW, padW) =>
        val offs = Array(-padW - 1, -padW, -padW + 1, -1, 1,
          padW - 1, padW, padW + 1)
        var changed = false
        var sweepChanged = true
        var fwd = true
        val n = outH * outW
        while (sweepChanged) {
          sweepChanged = false
          var k = 0
          while (k < n) {
            val i = if (fwd) k else n - 1 - k
            val pi = (i / outW + 1) * padW + (i % outW + 1)
            val zi = zPad(pi)
            if (!zi.isNaN) {
              val old = wPad(pi)
              var m = Double.PositiveInfinity
              var outlet = false
              var d = 0
              while (d < 8) {
                val v = wPad(pi + offs(d))
                if (v.isNaN) outlet = true else if (v < m) m = v
                d += 1
              }
              val cand = if (outlet) zi else math.max(zi, m + eps)
              if (cand < old) {
                wPad(pi) = cand
                sweepChanged = true
                changed = true
              }
            }
            k += 1
          }
          fwd = !fwd
        }
        changed
    }
  }

  /** COST DISTANCE (ArcGIS Cost Distance / GRASS r.cost) — the weighted
    * geodesic companion of [[fillSinks]] on the same block-relaxation
    * machinery: every cell's least accumulated cost to reach ANY source
    * cell over 4-connected paths, where stepping u→v costs
    * (f(u)+f(v))/2 (the standard average-friction step). Returned in
    * the ×2 EXACT-INTEGER form (step cost f(u)+f(v)) — the tpi8/trisq
    * discipline: /2 is a pointwise epilogue, and integer friction makes
    * the distributed result bit-exact and oracle-replayable.
    *
    * Inputs: a friction surface (per-cell crossing cost ≥ 0; NaN =
    * impassable barrier) and a source MASK layer on the same chunk grid
    * and band (> 0 marks a source). Unreachable cells (walled off, or
    * nodata) come back NaN.
    *
    * Same fixpoint/scale story as the fill: W = min(W, min₄(W_n +
    * f_n + f_c)) is monotone non-increasing from W = 0 at sources and
    * +inf elsewhere, block Gauss–Seidel relaxes each chunk to a local
    * fixpoint between depth-1 halo rounds (the friction halo rides the
    * exchange too — neighbor costs cross borders, unlike the fill's
    * center-only z), rounds ≈ how many chunk borders the optimal paths
    * cross, and the budget guard throws loudly. */
  def costDistance(friction: Dataset[Tile], sources: Dataset[Tile],
                   chunkY: Int, chunkX: Int, gridH: Int, gridW: Int,
                   rounds: Int): Dataset[Tile] = {
    val spark = friction.sparkSession
    import spark.implicits._
    val init: Dataset[FillChunk] = friction
      .groupByKey(t => (t.band, t.yChunk, t.xChunk))
      .cogroup(sources.groupByKey(t => (t.band, t.yChunk, t.xChunk))) {
        (key: (String, Int, Int), fts: Iterator[Tile], sts: Iterator[Tile]) =>
          val (band, tyc, txc) = key
          val outH = math.min(chunkY, gridH - tyc * chunkY)
          val outW = math.min(chunkX, gridW - txc * chunkX)
          val z = spliceChunk(fts, tyc, txc, outW, outH)
          val mask = spliceChunk(sts, tyc, txc, outW, outH)
          val w = new Array[Double](outH * outW)
          var i = 0
          while (i < w.length) {
            val zi = z(i)
            if (!zi.isNaN && zi < 0) throw new IllegalArgumentException(
              s"Flow.costDistance: negative friction $zi at chunk " +
              s"($tyc,$txc) cell $i — step costs must be >= 0")
            w(i) =
              if (zi.isNaN) Double.NaN // a source on a barrier is void
              else if (!mask(i).isNaN && mask(i) > 0) 0.0
              else Double.PositiveInfinity
            i += 1
          }
          Iterator.single(
            FillChunk(band, tyc, txc, outH, outW, changed = true, z, w))
      }.localCheckpoint(true)

    val fixed = blockRelax(init, chunkY, chunkX, gridH, gridW, rounds,
        shipZHalo = true, what = "cost distance",
        budgetHint =
          "rounds must cover the chunk-border crossings of the " +
          "costliest optimal path") {
      (zPad, wPad, outH, outW, padW) =>
        val offs = Array(-padW, -1, 1, padW)
        var changed = false
        var sweepChanged = true
        var fwd = true
        val n = outH * outW
        while (sweepChanged) {
          sweepChanged = false
          var k = 0
          while (k < n) {
            val i = if (fwd) k else n - 1 - k
            val pi = (i / outW + 1) * padW + (i % outW + 1)
            val zi = zPad(pi)
            if (!zi.isNaN) {
              val old = wPad(pi)
              var m = old
              var d = 0
              while (d < 4) {
                val v = wPad(pi + offs(d))
                val zf = zPad(pi + offs(d))
                if (!v.isNaN && !zf.isNaN && v + zf + zi < m) m = v + zf + zi
                d += 1
              }
              if (m < old) {
                wPad(pi) = m
                sweepChanged = true
                changed = true
              }
            }
            k += 1
          }
          fwd = !fwd
        }
        changed
    }
    fixed.map { fc =>
      val w = fc.w.map(v => if (v.isInfinite) Double.NaN else v)
      Tile(-1, 0, fc.band, 0L, fc.tyc, fc.txc, 0, 0, fc.height, fc.width, w)
    }
  }

  /** Splice an iterator of (possibly partial, possibly overlapping)
    * tiles of one chunk into a dense row-major array — highest itemIdx
    * wins, the haloGroups overlap convention; uncovered cells are NaN. */
  private def spliceChunk(ts: Iterator[Tile], tyc: Int, txc: Int,
                          outW: Int, outH: Int): Array[Double] = {
    val z = Array.fill(outH * outW)(Double.NaN)
    ts.toArray.sortBy(t => (t.itemIdx, t.rowOff, t.colOff)).foreach { t =>
      var r = 0
      while (r < t.height) {
        var c = 0
        while (c < t.width) {
          val v = t.pixels(r * t.width + c)
          if (!v.isNaN) z((t.rowOff + r) * outW + (t.colOff + c)) = v
          c += 1
        }
        r += 1
      }
    }
    z
  }

  /** The shared BLOCK-RELAXATION driver behind [[fillSinks]] and
    * [[costDistance]]: per round, every chunk ships its depth-1 `w`
    * border strips (and, when `shipZHalo`, its static-`z` strips — cost
    * steps read the neighbor's friction; the fill reads only center z)
    * to its ≤ 8 neighbors, the group splice rebuilds the padded
    * neighborhood, and `relax` lowers the chunk's own cells to a local
    * fixpoint in place. Rounds repeat until NO chunk changed (the
    * distributed fixpoint); `rounds` is a cap with the loud budget
    * guard of the other iterative ops (one extra settled-probe round, so
    * a budget of exactly the convergence depth passes).
    *
    * relax(zPad, wPad, outH, outW, padW) mutates wPad's interior and
    * reports whether anything changed. Updates must be monotone
    * non-increasing so block Gauss–Seidel converges to the same unique
    * fixpoint as pointwise Jacobi (what the oracles replay), regardless
    * of chunking or sweep order. */
  private def blockRelax(init: Dataset[FillChunk], chunkY: Int, chunkX: Int,
                         gridH: Int, gridW: Int, rounds: Int,
                         shipZHalo: Boolean, what: String, budgetHint: String)(
      relax: (Array[Double], Array[Double], Int, Int, Int) => Boolean)
      : Dataset[FillChunk] = {
    require(rounds >= 1, s"Flow: rounds=$rounds")
    val spark = init.sparkSession
    import spark.implicits._
    val nYC = (gridH + chunkY - 1) / chunkY
    val nXC = (gridW + chunkX - 1) / chunkX

    def round(cur: Dataset[FillChunk]): Dataset[FillChunk] = {
      val frags = cur.flatMap { s =>
        val r0 = s.tyc * chunkY
        val c0 = s.txc * chunkX
        val self = FillFrag(s.band, s.tyc, s.txc, r0, c0,
          s.height, s.width, s.w, s.z)
        val nbrs = for {
          dy <- -1 to 1
          dx <- -1 to 1
          if !(dy == 0 && dx == 0)
          tyc = s.tyc + dy
          txc = s.txc + dx
          if tyc >= 0 && txc >= 0 && tyc < nYC && txc < nXC
          pr0 = math.max(tyc * chunkY - 1, 0)
          pr1 = math.min((tyc + 1) * chunkY + 1, gridH)
          pc0 = math.max(txc * chunkX - 1, 0)
          pc1 = math.min((txc + 1) * chunkX + 1, gridW)
          ir0 = math.max(r0, pr0); ir1 = math.min(r0 + s.height, pr1)
          ic0 = math.max(c0, pc0); ic1 = math.min(c0 + s.width, pc1)
          if ir0 < ir1 && ic0 < ic1
        } yield {
          val h = ir1 - ir0
          val w = ic1 - ic0
          def strip(src: Array[Double]): Array[Double] = {
            val px = new Array[Double](h * w)
            var r = 0
            while (r < h) {
              System.arraycopy(src, (ir0 - r0 + r) * s.width + (ic0 - c0),
                px, r * w, w)
              r += 1
            }
            px
          }
          FillFrag(s.band, tyc, txc, ir0, ic0, h, w, strip(s.w),
            if (shipZHalo) strip(s.z) else Array.emptyDoubleArray)
        }
        Iterator.single(self) ++ nbrs
      }
      frags.groupByKey(f => (f.band, f.tyc, f.txc)).mapGroups {
        (key: (String, Int, Int), fit: Iterator[FillFrag]) =>
          val (band, tyc, txc) = key
          val outH = math.min(chunkY, gridH - tyc * chunkY)
          val outW = math.min(chunkX, gridW - txc * chunkX)
          val padR0 = tyc * chunkY - 1
          val padC0 = txc * chunkX - 1
          val padW = outW + 2
          // pad cells outside the grid stay NaN — out-of-grid reads as
          // an outlet (fill) / impassable (cost)
          val wPad = Array.fill((outH + 2) * padW)(Double.NaN)
          val zPad = Array.fill((outH + 2) * padW)(Double.NaN)
          fit.foreach { f =>
            var r = 0
            while (r < f.height) {
              var c = 0
              while (c < f.width) {
                val pi = (f.row0 - padR0 + r) * padW + (f.col0 - padC0 + c)
                wPad(pi) = f.w(r * f.width + c)
                if (f.z.nonEmpty) zPad(pi) = f.z(r * f.width + c)
                c += 1
              }
              r += 1
            }
          }
          val changed = relax(zPad, wPad, outH, outW, padW)
          val n = outH * outW
          val w = new Array[Double](n)
          val z = new Array[Double](n)
          var r = 0
          while (r < outH) {
            System.arraycopy(wPad, (r + 1) * padW + 1, w, r * outW, outW)
            System.arraycopy(zPad, (r + 1) * padW + 1, z, r * outW, outW)
            r += 1
          }
          FillChunk(band, tyc, txc, outH, outW, changed, z, w)
      }
    }

    var cur = init
    var it = 0
    var converged = false
    while (it < rounds && !converged) {
      val next = round(cur).localCheckpoint(true)
      converged = next.filter(_.changed).isEmpty
      cur = next
      it += 1
    }
    if (!converged) {
      // one extra probe: the budget may be exactly the rounds needed
      val settled = round(cur).filter(_.changed).isEmpty
      if (!settled) throw new IllegalStateException(
        s"Flow: round budget $rounds exhausted before $what converged — " +
        s"$budgetHint. Raise `rounds`: overshoot is free, the loop " +
        "exits at the first fixpoint round.")
    }
    cur
  }

  /** Strahler stream order (Strahler 1957) over the same functional
    * flow forest — hydrology's stream-classification primitive (order-1
    * headwaters; order rises only where two equal-order tributaries
    * meet). Defined per node as: 1 for a node with no upstream
    * neighbors; otherwise M + 1 if ≥ 2 upstream neighbors attain the
    * max upstream order M, else M.
    *
    * Computed as a MONOTONE fixpoint: every node starts at 1 (sources
    * are already correct) and rounds apply the definition
    * synchronously — values only ever rise toward the true order, and
    * the fixpoint is reached after longest-flow-path rounds (relief-
    * bounded on integer DEMs, like [[accumulate]]). Per round: one
    * edge⋈order equi-join, a (node, childOrder) count, and a struct-max
    * argmax — O(edges) shuffle, no window over the graph, lineage
    * checkpointed. `rounds` is a cap with fixpoint early-exit; budget
    * exhaustion before the fixpoint throws (cycle or under-budget). */
  def strahler(edges: DataFrame, rounds: Int,
               localCap: Long = 1048576L): DataFrame = {
    require(rounds >= 1, s"Flow: rounds=$rounds")
    val e = edges.toDF("src", "dst").localCheckpoint(true)
    SizeRoute.localEdges(e, localCap).foreach { rows =>
      return strahlerLocal(e.sparkSession, rows, rounds)
    }
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint(true)
    var ord = nodes.select(col("node"), lit(1L).as("ord"))
      .localCheckpoint(true)
    def step(cur: DataFrame): DataFrame = {
      val ch = e.join(cur.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), col("ord"))
      val top = ch.groupBy(col("node"), col("ord"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(max(struct(col("ord"), col("c"))).as("m"))
        .select(col("node"),
          (col("m.ord") + when(col("m.c") >= 2, 1L).otherwise(0L)).as("up"))
      nodes.join(top, Seq("node"), "left")
        .select(col("node"), coalesce(col("up"), lit(1L)).as("ord"))
    }
    var converged = ord.isEmpty
    var it = 0
    while (it < rounds && !converged) {
      val next = step(ord).localCheckpoint(true)
      converged = next.join(ord.withColumnRenamed("ord", "prev"), Seq("node"))
        .filter(col("ord") =!= col("prev")).isEmpty
      ord = next
      it += 1
    }
    if (!converged && !ord.isEmpty) {
      val settled = step(ord)
        .join(ord.withColumnRenamed("ord", "prev"), Seq("node"))
        .filter(col("ord") =!= col("prev")).isEmpty
      if (!settled) throw new IllegalStateException(
        s"Flow: round budget $rounds exhausted before Strahler orders " +
        "converged — the longest flow path exceeds the budget (or the " +
        "edge list has a cycle). Raise `rounds`: overshoot is free, the " +
        "loop exits at the first fixpoint round.")
    }
    ord
  }

  /** Driver-side [[strahler]]: the same synchronous monotone rounds of
    * the Strahler recurrence over the raw edge MULTISET (a duplicated
    * edge contributes two equal child orders, exactly as the
    * distributed join does), same fixpoint early-exit, same
    * one-extra-probe budget check, same throw. */
  private def strahlerLocal(spark: org.apache.spark.sql.SparkSession,
                            rows: Array[(Long, Long)],
                            rounds: Int): DataFrame = {
    import spark.implicits._
    val nodes: Array[Long] =
      rows.iterator.flatMap(t => Iterator(t._1, t._2)).toSet.toArray.sorted
    var ord: Map[Long, Long] = nodes.iterator.map(_ -> 1L).toMap
    def step(cur: Map[Long, Long]): Map[Long, Long] = {
      // per node: (max child order M, count of children at M); up =
      // M + 1 if the count is >= 2 — the max(struct(ord, c)) argmax
      val top = new scala.collection.mutable.HashMap[Long, (Long, Long)]()
      val cnt = new scala.collection.mutable.HashMap[(Long, Long), Long]()
      rows.foreach { case (s, d) =>
        val k = (d, cur(s))
        cnt(k) = cnt.getOrElse(k, 0L) + 1L
      }
      cnt.foreach { case ((n, o), c) =>
        top.get(n) match {
          case Some((bo, bc)) if bo > o || (bo == o && bc >= c) => ()
          case _ => top(n) = (o, c)
        }
      }
      nodes.iterator.map { n =>
        n -> (top.get(n) match {
          case Some((o, c)) => o + (if (c >= 2L) 1L else 0L)
          case None => 1L
        })
      }.toMap
    }
    var converged = ord.isEmpty
    var it = 0
    while (it < rounds && !converged) {
      val next = step(ord)
      converged = next == ord
      ord = next
      it += 1
    }
    if (!converged && ord.nonEmpty && step(ord) != ord)
      throw new IllegalStateException(
        s"Flow: round budget $rounds exhausted before Strahler orders " +
        "converged — the longest flow path exceeds the budget (or the " +
        "edge list has a cycle). Raise `rounds`: overshoot is free, the " +
        "loop exits at the first fixpoint round.")
    // deterministic row order regardless of collect order/parallelism
    ord.toList.sortBy(_._1).toDF("node", "ord")
  }
}
