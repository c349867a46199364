package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Integer PageRank (Brin & Page 1998) over an undirected edge list —
  * the second graph primitive beside
  * [[graft.dedup.Dedup.connectedComponents]]: components say WHICH docs
  * form a dup cluster, centrality says which member is the HUB (the
  * canonical-representative choice curation pipelines actually want —
  * the most-connected variant, not the min id).
  *
  * Exact-integer power iteration so any engine replays it: ranks live
  * in micro-units (start 10⁶ per node, unnormalized — relative order is
  * what matters), each round is
  * r'(v) = (10⁶ − d) + ⌊d · Σ_{u~v} ⌊r(u)/deg(u)⌋ / 10⁶⌋ with
  * d = dampingMicro (default 850 000) and every division an explicit
  * integer floor (the pmod discipline) — no float anywhere, order-free
  * integer sums, FIXED round count.
  *
  * Plan shape at scale: one symmetrize + distinct and one degree census
  * up front; per round one equi-join of the edge list against the
  * |V|-row rank table and one map-side-combined groupBy — shuffle
  * volume is O(edges) per round, the rank table is node-sized, and the
  * iterative lineage is truncated per round (the connectedComponents
  * localCheckpoint discipline). Returns (node, rank) for nodes with at
  * least one edge. */
object PageRank {

  def integerRanks(edges: DataFrame, rounds: Int,
                   dampingMicro: Long = 850000L,
                   localCap: Long = 1048576L): DataFrame = {
    require(rounds >= 1 && dampingMicro >= 0 && dampingMicro <= 1000000L)
    val sym = SizeRoute.symmetrize(edges)
    // size route (see SizeRoute): the rank recurrence is exact integer
    // micro-units, so the driver replays the same fixed rounds
    SizeRoute.localEdges(sym, localCap).foreach { symRows =>
      val degL = new scala.collection.mutable.HashMap[Long, Long]()
      symRows.foreach { case (a, _) => degL(a) = degL.getOrElse(a, 0L) + 1L }
      val nodesL: Array[Long] = degL.keysIterator.toArray.sorted
      var rank: Map[Long, Long] = nodesL.iterator.map(_ -> 1000000L).toMap
      val baseL = 1000000L - dampingMicro
      var it = 0
      while (it < rounds) {
        val sums = new scala.collection.mutable.HashMap[Long, Long]()
        symRows.foreach { case (a, b) =>
          val c = rank(a) / degL(a) // ranks are >= 0: same as (r - r%d)/d
          sums(b) = sums.getOrElse(b, 0L) + c
        }
        rank = nodesL.iterator.map { n =>
          n -> (baseL + sums.getOrElse(n, 0L) * dampingMicro / 1000000L)
        }.toMap
        it += 1
      }
      val spark = edges.sparkSession
      import spark.implicits._
      // deterministic row order regardless of collect order/parallelism
      return rank.toList.sortBy(_._1).toDF("node", "rank")
    }
    val deg = sym.groupBy(col("a")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val nodes = deg.select(col("a").as("node"))
    val base = lit(1000000L - dampingMicro)
    var r = deg.select(col("a").as("node"), lit(1000000L).as("rank"))
    var it = 0
    while (it < rounds) {
      val contrib = sym
        .join(r.withColumnRenamed("node", "a"), Seq("a"))
        .join(deg, Seq("a"))
        .select(col("b").as("node"),
          floorDiv(col("rank"), col("deg")).as("c"))
      val sums = contrib.groupBy(col("node")).agg(sum(col("c")).as("s"))
      val scaled = coalesce(col("s"), lit(0L)) * dampingMicro
      r = nodes.join(sums, Seq("node"), "left")
        .select(col("node"),
          (base + floorDiv(scaled, lit(1000000L))).as("rank"))
        .localCheckpoint(true)
      it += 1
    }
    r
  }

  /** ⌊num / den⌋ in exact Long arithmetic (the pmod discipline + integral
    * `div`). Spark's `/` divides in Double, which drops the last unit of a
    * quotient once the dividend passes 2^53 (e.g. a ~1e11 quotient over a
    * ~5e5 hub degree), so the distributed rounds would drift from the
    * driver route's exact `Long` division. */
  private[graft] def floorDiv(num: Column, den: Column): Column =
    call_function("div", num - pmod(num, den), den)
}
