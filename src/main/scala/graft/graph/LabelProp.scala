package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan, Albert & Kumara 2007) over
  * an undirected edge list — the third graph primitive beside
  * [[graft.dedup.Dedup.connectedComponents]] and [[PageRank]]:
  * components give the CONNECTIVITY partition, LPA gives the DENSITY
  * partition — a bridge edge between two dense near-dup communities
  * merges their component but not their labels, which is what cluster-
  * level curation decisions (keep one per community, cap per community)
  * actually want.
  *
  * Determinism contract (both engines replay it exactly): labels are
  * the node ids (must be ≥ 0); each round every node adopts the label
  * with the highest vote count among its neighbors PLUS its own
  * current label (the self-vote damps the synchronous-update
  * oscillation on bipartite structures), ties broken by SMALLEST
  * label; integer counts and min-ties mean no ordering or float
  * nondeterminism anywhere. `rounds` is a CAP: the loop exits early at
  * a FIXPOINT (a round that changes no label — further rounds are
  * exact no-ops, so the output is identical to replaying all `rounds`
  * rounds; one node-table anti-join count per round, cheap next to the
  * edge join). Unlike [[KCore]], exhausting the budget without a
  * fixpoint is NOT an error — synchronous LPA may legitimately
  * oscillate, and fixed-round semantics are the deterministic contract
  * both engines replay.
  *
  * Plan shape at scale: one symmetrize+distinct up front; per round
  * one equi-join of edges against the |V|-row label table and two
  * map-side-combined groupBys (vote count, then argmax via a
  * struct-max — no window, no single-partition exchange); shuffle
  * O(edges)/round, label table node-sized, lineage truncated per
  * round. Returns (node, label) for nodes with at least one edge. */
object LabelProp {

  def propagate(edges: DataFrame, rounds: Int,
                localCap: Long = 1048576L): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val sym = SizeRoute.symmetrize(edges)
    // size route (see SizeRoute): the same vote rounds in driver memory
    SizeRoute.localEdges(sym, localCap).foreach { symRows =>
      val nodes: Array[Long] = symRows.iterator.map(_._1).toSet.toArray.sorted
      var lab: Map[Long, Long] = nodes.iterator.map(n => n -> n).toMap
      var it = 0
      var converged = false
      while (it < rounds && !converged) {
        val cnt = new scala.collection.mutable.HashMap[(Long, Long), Long]()
        symRows.foreach { case (a, b) =>
          val k = (b, lab(a)); cnt(k) = cnt.getOrElse(k, 0L) + 1L
        }
        nodes.foreach { n =>
          val k = (n, lab(n)); cnt(k) = cnt.getOrElse(k, 0L) + 1L // self-vote
        }
        // argmax(count) with min-label ties — max(struct(cnt, -label))
        val best = new scala.collection.mutable.HashMap[Long, (Long, Long)]()
        cnt.foreach { case ((n, l), c) =>
          best.get(n) match {
            case Some((bc, bl)) if bc > c || (bc == c && bl <= l) => ()
            case _ => best(n) = (c, l)
          }
        }
        val next = nodes.iterator.map(n => n -> best(n)._2).toMap
        converged = next == lab
        lab = next
        it += 1
      }
      val spark = edges.sparkSession
      import spark.implicits._
      // deterministic row order regardless of collect order/parallelism
      return lab.toList.sortBy(_._1).toDF("node", "label")
    }
    var labels = sym.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").cast("long").as("label"))
      .localCheckpoint(true)
    var it = 0
    var converged = false
    while (it < rounds && !converged) {
      val neighborVotes = sym
        .join(labels.withColumnRenamed("node", "a"), Seq("a"))
        .select(col("b").as("node"), col("label"))
      val votes = neighborVotes.unionByName(labels) // self-vote, once
      // argmax(count) with min-label ties: max(struct(cnt, -label)).
      val next = votes.groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("node"))
        .agg(max(struct(col("cnt"), (-col("label")).as("neg"))).as("m"))
        .select(col("node"), (-col("m.neg")).as("label"))
        .localCheckpoint(true)
      converged = next.join(labels.withColumnRenamed("label", "prev"), Seq("node"))
        .filter(col("label") =!= col("prev")).isEmpty
      labels = next
      it += 1
    }
    labels
  }
}
