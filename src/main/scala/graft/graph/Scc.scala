package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** STRONGLY connected components — the DIRECTED-graph member of the
  * graph family (the others are undirected: CC gives reachability
  * ignoring direction; the SCC gives mutual reachability, which is
  * what link-graph analysis actually wants: link farms and redirect
  * rings are SCCs, the web's bow-tie decomposition is defined by the
  * giant SCC).
  *
  * Algorithm: FORWARD–BACKWARD min-label with PARTITION REFINEMENT —
  * the label-propagation form of the FW-BW-pivot family (Fleischer,
  * Hendrickson & Pınar 2000; the refinement step is the standard
  * multi-pivot acceleration of its distributed descendants):
  *
  *  - F(v) = min(id over v's ancestors ∪ v), B(v) = the same over
  *    descendants — each a diameter-bounded min-propagation fixpoint
  *    (one edges⋈labels equi-join + map-side-combined min per round,
  *    the LabelProp shuffle shape, lineage checkpointed).
  *  - A node with F(v) = B(v) = m is DONE: m reaches v and v reaches
  *    m, so SCC(v) = SCC(m), and the label IS the component id (m is
  *    the component's minimum: any smaller mutual reachee would lower
  *    both labels). The globally minimal remaining id always satisfies
  *    this, so every outer round retires ≥ 1 component.
  *  - REFINEMENT: an SCC is always contained in one (F, B) class —
  *    mutually-reachable nodes share both labels — so edges BETWEEN
  *    classes can never be intra-SCC and are dropped before the next
  *    round. This multi-pivot split is what keeps outer rounds ~
  *    condensation-depth-logarithmic instead of one-SCC-per-round on
  *    chain-of-SCCs graphs.
  *  - TRIM (the standard FW-BW-Trim step): before each FW/BW pass,
  *    nodes of the active subgraph with no in-edges or no out-edges
  *    cannot lie on a cycle — they are singleton SCCs, retired
  *    immediately and their edges dropped. On web-shaped graphs most
  *    nodes are bow-tie tendrils/tubes, and every stripped node shrinks
  *    the O(active edges) shuffle of EVERY subsequent propagation
  *    round. Trim runs to a capped fixpoint (`trimRounds` layers per
  *    outer round — one layer per pass, so a depth-d tendril chain
  *    fully strips in d passes); the cap is safe, not a correctness
  *    budget: un-trimmed acyclic nodes still resolve through
  *    F = B = self once refinement isolates them.
  *
  * `outerRounds`/`innerRounds` are CAPS with fixpoint early-exit and
  * the loud budget guard of the other iterative ops (KCore/Flow): a
  * truncated min-propagation would silently mislabel, so exhaustion
  * throws. Shuffle per inner round is O(active edges); driver state is
  * zero (even the done/active split stays distributed). */
object Scc {

  /** (node, scc) for every node of the directed edge list (isolated
    * nodes never appear in `edges` and are trivially their own SCCs —
    * the Flow.accumulate absence convention). Component ids are the
    * component-minimum node id.
    *
    * `shortcut = true` SQUARES the active edge set each propagation
    * round (e ∪ e∘e), so labels cover 2^k hops after k rounds —
    * ⌈log₂ diameter⌉ rounds instead of diameter rounds, at the price of
    * shuffling toward the transitive closure. That is the right trade
    * for moderate/condensed graphs (this engine's census-derived
    * graphs); for a 100 TB giant-sparse web graph keep the default
    * linear propagation — closure size, not round count, is the killer
    * there. */
  def components(edges: DataFrame, outerRounds: Int = 32,
                 innerRounds: Int = 64, shortcut: Boolean = false,
                 trimRounds: Int = 8, localCap: Long = 1048576L): DataFrame = {
    require(outerRounds >= 1 && innerRounds >= 1 && trimRounds >= 0,
      s"Scc: rounds=($outerRounds, $innerRounds, trim $trimRounds)")
    val spark = edges.sparkSession
    import spark.implicits._
    // SELF-LOOPS STAY IN THE EDGE LIST (r18, the r17 x49-regression
    // pricing): dropping them up front was what forced the r17 selfOnly
    // route-parity machinery (a distinct + anti-join on the local route,
    // an except on the distributed route — the priced x49 additions).
    // Kept in, they are handled natively by BOTH routes: Tarjan labels a
    // self-loop-only node as its own singleton SCC (its DFS low ==
    // index), and the FW-BW loop keeps it through trim (it has an
    // in-edge and an out-edge — itself) and resolves it in the first
    // F = B round; a self-loop inside a larger SCC is a no-op for
    // min-propagation. The distinct() dedups duplicate self-loop input
    // rows, so output row-uniqueness is unchanged. localCap now counts
    // self-loop rows too — a boundary shift of at most the node count,
    // inside the cap's safety margin. (An r18 A/B also priced a fused
    // accumulator gate riding the checkpoint job: the typed
    // mapPartitions codecs cost MORE in per-run plan compilation than
    // the retired gate job — reverted; SCALE.md r18.)
    var e = SizeRoute.longIds(edges).toDF("src", "dst")
      .distinct().localCheckpoint(true)
    // size route (see SizeRoute): a digraph that fits one task runs
    // ITERATIVE TARJAN in memory; bigger graphs take the FW-BW loop
    // below. Cap raised 262k -> 1M in r17: the boundary probe
    // (SCALE.md) showed the distributed route 5.0x the local route on a
    // trim-resistant fixture AT the old cap (2.9 vs 14.7 s on 131k
    // 2-cycles), while 1M edges cost one task ~16 MB of rows and
    // ~100 MB of Tarjan state — comfortably inside any executor. Labels
    // identical either way: the component-minimum node id (SccSpec's
    // Floyd-Warshall fuzz gates both routes).
    if (SizeRoute.fits(e, localCap)) {
      return e.as[(Long, Long)].coalesce(1).mapPartitions { it =>
          tarjanMinLabels(it).iterator
        }.toDF("node", "scc")
    }
    var active = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint(true)
    var done: DataFrame = e.limit(0)
      .select(col("src").as("node"), col("src").as("scc"))
      .localCheckpoint(true)
    var it = 0
    while (it < outerRounds && !active.isEmpty) {
      // TRIM: strip degree-0 layers (singleton SCCs) before the paired
      // propagations — cheapest edges ever removed from the fixpoint
      var tr = 0
      var trimming = trimRounds > 0
      while (trimming && tr < trimRounds) {
        val (keep, e2, trimmed) = trimOnce(active, e)
        if (trimmed.isEmpty) trimming = false
        else {
          done = done.unionByName(
            trimmed.select(col("node"), col("node").as("scc")))
            .localCheckpoint(true)
          active = keep
          e = e2
        }
        tr += 1
      }
      if (active.isEmpty) return done
      val f = minPropagate(active, e, innerRounds, forward = true, shortcut)
        .withColumnRenamed("lab", "f")
      val b = minPropagate(active, e, innerRounds, forward = false, shortcut)
        .withColumnRenamed("lab", "b")
      val labs = f.join(b, Seq("node")).localCheckpoint(true)
      val resolved = labs.filter(col("f") === col("b"))
        .select(col("node"), col("f").as("scc"))
      done = done.unionByName(resolved).localCheckpoint(true)
      active = labs.filter(col("f") =!= col("b"))
        .select(col("node")).localCheckpoint(true)
      // refinement: keep only intra-class edges between surviving nodes
      val cls = labs.select(col("node"), col("f"), col("b"))
      e = e
        .join(cls.select(col("node").as("src"), col("f").as("sf"), col("b").as("sb")), Seq("src"))
        .join(cls.select(col("node").as("dst"), col("f").as("df"), col("b").as("db")), Seq("dst"))
        .filter(col("sf") === col("df") && col("sb") === col("db"))
        .join(active.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(active.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst")).localCheckpoint(true)
      it += 1
    }
    if (!active.isEmpty) throw new IllegalStateException(
      s"Scc: outer budget $outerRounds exhausted with unresolved nodes — " +
      "the condensation is deeper than the budget. Raise `outerRounds`: " +
      "overshoot is free, the loop exits when every node is labeled.")
    done
  }

  /** Iterative Tarjan (Tarjan 1972, the explicit-stack form — no
    * recursion, so chain-shaped graphs can't overflow the JVM stack)
    * over an in-memory edge list: returns (node, scc) with scc = the
    * component-minimum node id, matching the distributed route's
    * labeling exactly. */
  private[graft] def tarjanMinLabels(
      edges: Iterator[(Long, Long)]): Array[(Long, Long)] = {
    val adj = new scala.collection.mutable.HashMap[Long,
      scala.collection.mutable.ArrayBuffer[Long]]()
    val nodeSet = new scala.collection.mutable.LinkedHashSet[Long]()
    edges.foreach { case (a, b) =>
      nodeSet += a; nodeSet += b
      adj.getOrElseUpdate(a,
        new scala.collection.mutable.ArrayBuffer[Long]()) += b
    }
    val index = new scala.collection.mutable.HashMap[Long, Int]()
    val low = new scala.collection.mutable.HashMap[Long, Int]()
    val onStack = new scala.collection.mutable.HashSet[Long]()
    val stack = new scala.collection.mutable.ArrayBuffer[Long]()
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](nodeSet.size)
    var counter = 0
    val empty = new scala.collection.mutable.ArrayBuffer[Long]()
    nodeSet.foreach { root =>
      if (!index.contains(root)) {
        // explicit DFS frame stack: (node, next child offset)
        val frames = new scala.collection.mutable.ArrayBuffer[(Long, Int)]()
        frames += ((root, 0))
        index(root) = counter; low(root) = counter; counter += 1
        stack += root; onStack += root
        while (frames.nonEmpty) {
          val (v, ci) = frames(frames.length - 1)
          val kids = adj.getOrElse(v, empty)
          if (ci < kids.length) {
            frames(frames.length - 1) = (v, ci + 1)
            val w = kids(ci)
            if (!index.contains(w)) {
              index(w) = counter; low(w) = counter; counter += 1
              stack += w; onStack += w
              frames += ((w, 0))
            } else if (onStack.contains(w)) {
              if (index(w) < low(v)) low(v) = index(w)
            }
          } else {
            frames.remove(frames.length - 1)
            if (frames.nonEmpty) {
              val p = frames(frames.length - 1)._1
              if (low(v) < low(p)) low(p) = low(v)
            }
            if (low(v) == index(v)) {
              // pop the SCC, label with its minimum member
              var i = stack.length - 1
              var mn = Long.MaxValue
              var done = false
              var cnt = 0
              while (!done) {
                val w = stack(i)
                if (w < mn) mn = w
                cnt += 1
                if (w == v) done = true else i -= 1
              }
              var j = 0
              while (j < cnt) {
                val w = stack.remove(stack.length - 1)
                onStack -= w
                out += ((w, mn))
                j += 1
              }
            }
          }
        }
      }
    }
    out.toArray
  }

  /** One TRIM layer: the nodes of the active subgraph that have BOTH an
    * out-edge and an in-edge (`keep` — the only ones that can lie on a
    * cycle), the edge list restricted to them, and the stripped nodes
    * (singleton SCCs). Exposed for the SCALE probe's active-edge decay
    * instrumentation. */
  private[graft] def trimOnce(active: DataFrame, e: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val keep = e.select(col("src").as("node")).distinct()
      .join(e.select(col("dst").as("node")).distinct(), Seq("node"), "left_semi")
      .localCheckpoint(true)
    val trimmed = active.join(keep, Seq("node"), "left_anti")
    val e2 = e
      .join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
      .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
      .select(col("src"), col("dst")).localCheckpoint(true)
    (keep, e2, trimmed)
  }

  /** Min-label propagation to fixpoint: lab(v) = min(v, labels flowing
    * along edges — forward follows src→dst (ancestor minima), backward
    * the reverse). The changed flag rides the label table, so each
    * round is ONE materialization (compute + checkpoint) plus a cheap
    * scan of the checkpointed result — no recompute-vs-previous join.
    * (Batching several hops per materialization was MEASURED SLOWER:
    * the 4-level nested join plan pays more in per-job plan compilation
    * than the saved checkpoints — iteration cost here is scheduler/plan
    * overhead, not data.) Budget-capped with the loud guard. */
  private def minPropagate(nodes: DataFrame, e: DataFrame, rounds: Int,
                           forward: Boolean, shortcut: Boolean): DataFrame = {
    val (from, to) = if (forward) ("src", "dst") else ("dst", "src")
    var eCur = e
    var lab = nodes.select(col("node"), col("node").as("lab"))
      .localCheckpoint(true)
    var converged = lab.isEmpty
    var it = 0
    while (it < rounds && !converged) {
      val flowed = eCur.join(lab.withColumnRenamed("node", from), Seq(from))
        .groupBy(col(to).as("node")).agg(min(col("lab")).as("m"))
      val next = lab.join(flowed, Seq("node"), "left")
        .select(col("node"),
          least(col("lab"), coalesce(col("m"), col("lab"))).as("nlab"),
          (coalesce(col("m"), col("lab")) < col("lab")).as("chg"))
        .localCheckpoint(true)
      converged = next.filter(col("chg")).isEmpty
      lab = next.select(col("node"), col("nlab").as("lab"))
      if (shortcut && !converged) eCur = squared(eCur, from, to)
      it += 1
    }
    if (!converged) throw new IllegalStateException(
      s"Scc: inner budget $rounds exhausted before min-propagation " +
      "converged — the active subgraph's diameter exceeds the budget. " +
      "Raise `innerRounds`: overshoot is free.")
    lab
  }

  /** e ∪ e∘e over the given (from, to) orientation, deduped and
    * checkpointed — one doubling step toward the transitive closure. */
  private def squared(e: DataFrame, from: String, to: String): DataFrame = {
    val hop = e.select(col(from), col(to).as("__mid"))
      .join(e.select(col(from).as("__mid"), col(to)), Seq("__mid"))
      .select(col(from), col(to))
    e.unionByName(hop).distinct().localCheckpoint(true)
  }
}
