package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by synchronous peeling (Matula & Beck 1983) —
  * the fifth graph primitive (components/PageRank/LabelProp/Triangles
  * give connectivity, influence, density-communities, local density;
  * the k-core gives GLOBAL density: the maximal subgraph where every
  * node keeps ≥ k neighbors). Pipelines use it to strip the long tail
  * of weakly-connected spam/noise nodes from link and co-occurrence
  * graphs before the expensive per-community work.
  *
  * Each peeling round is one map-side-combined degree census plus two
  * semi-joins of the edge list against the surviving-node table — all
  * equi-joins, shuffle O(edges)/round, no window, no collect. A round
  * removes EVERY node currently under degree k at once (synchronous),
  * so the round count needed is the graph's peeling depth, not its node
  * count. `rounds` is a CAP, not a contract: the loop exits at the
  * first no-op round (no edge removed ⇒ no node under k ⇒ fixpoint —
  * one O(1) count per round on the already-checkpointed edge table), so
  * overshooting is free, and exhausting the budget BEFORE convergence
  * throws instead of silently returning a non-core — at 100 TB the peel
  * depth is unknowable a priori, and a wrong "core" is worse than a
  * loud failure asking for a bigger budget. Lineage stays bounded
  * (eager localCheckpoint per round, the LabelProp discipline). */
object KCore {

  /** Degrees of the k-core after `rounds` synchronous peels of the
    * undirected graph given as canonical edges (u < v, distinct).
    * Returns (node, deg) over the surviving subgraph — empty when the
    * whole graph peels away. */
  def coreDegrees(edges: DataFrame, k: Int, rounds: Int,
                  localCap: Long = 262144L): DataFrame = {
    require(k >= 1, s"KCore: k=$k")
    require(rounds >= 1, s"KCore: rounds=$rounds")
    var e = SizeRoute.symmetrize(edges)
    // size route (see SizeRoute): a graph within localCap peels on the
    // driver with the same synchronous rounds and budget contract
    SizeRoute.localEdges(e, localCap).foreach { rows =>
      val adj = new scala.collection.mutable.HashMap[Long,
        scala.collection.mutable.HashSet[Long]]()
      rows.foreach { case (a, b) =>
        adj.getOrElseUpdate(a, new scala.collection.mutable.HashSet[Long]()) += b
      }
      var it = 0
      var done = adj.isEmpty
      while (it < rounds && !done) {
        val doomed = adj.keysIterator.filter(adj(_).size < k).toArray
        if (doomed.isEmpty) done = true
        else doomed.foreach { v =>
          // v may already be gone: a doomed neighbor's cleanup can empty
          // and remove it earlier in this same (synchronous) round
          adj.remove(v).foreach(_.foreach { u =>
            adj.get(u).foreach { s =>
              s -= v; if (s.isEmpty) adj.remove(u)
            }
          })
        }
        it += 1
      }
      // Loud-failure PARITY with the distributed loop: throw whenever
      // convergence (a no-op round) was not OBSERVED inside the budget —
      // including the fully-peeled case (adj empty but the no-op round
      // never ran), which the synchronous loop below also throws on
      // (its last in-budget round removed edges, so converged=false).
      // In-round zero-degree cascades are NOT a divergence: the
      // distributed census is edge-based, so a degree-0 node is invisible
      // there the moment its last edge goes — exactly when the cascade
      // drops it here — and both routes' convergence tests reduce to
      // "no node with 1 <= degree < k existed this round".
      if (!done) throw new IllegalStateException(
        s"KCore: round budget $rounds exhausted before the $k-core " +
        s"converged (${adj.size} nodes still peeling) — the graph's " +
        "peel depth exceeds the budget. Raise `rounds`: overshoot is " +
        "free, the loop exits at the first no-op round.")
      val spark = edges.sparkSession
      import spark.implicits._
      return adj.iterator.map { case (v, s) => (v, s.size.toLong) }
        .toSeq.toDF("node", "deg")
    }
    var prev = e.count() // convergence baseline — full count, the gate is O(cap)
    var converged = prev == 0L
    var it = 0
    while (it < rounds && !converged) {
      val alive = e.groupBy(col("a")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= k).select(col("a"))
      e = e.join(alive, Seq("a"), "left_semi")
        .join(alive.withColumnRenamed("a", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b")).localCheckpoint(true)
      val c = e.count() // cheap: scan of the just-checkpointed blocks
      converged = c == prev // a no-op peel means no node is under k
      prev = c
      it += 1
    }
    if (!converged) throw new IllegalStateException(
      s"KCore: round budget $rounds exhausted before the $k-core " +
      s"converged ($prev directed edges still peeling) — the graph's " +
      "peel depth exceeds the budget. Raise `rounds`: overshoot is " +
      "free, the loop exits at the first no-op round.")
    e.groupBy(col("a")).agg(count(lit(1)).as("deg"))
      .select(col("a").as("node"), col("deg"))
  }
}
