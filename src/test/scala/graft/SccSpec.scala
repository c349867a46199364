package graft

import graft.graph.Scc

/** FW-BW min-label SCC (graph.Scc) vs a Floyd–Warshall mutual-
  * reachability oracle: labels must equal the component minimum for
  * every node, on hand graphs and random digraphs. */
class SccSpec extends SparkSpec {
  import spark.implicits._

  private def brute(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val reach = Array.fill(n, n)(false)
    edges.foreach { case (a, b) => reach(a.toInt)(b.toInt) = true }
    for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
      if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
    (0 until n).map { v =>
      val scc = (0 until n).filter(u =>
        u == v || (reach(u)(v) && reach(v)(u)))
      v.toLong -> scc.min.toLong
    }.toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    // both routes on every case: the single-task Tarjan (default cap)
    // and the distributed FW-BW loop (localCap = 0) must agree exactly
    val local = Scc.components(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Scc.components(edges.toDF("src", "dst"), localCap = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == dist, s"Tarjan route $local != FW-BW route $dist")
    local
  }

  test("hand case: two cycles joined by a one-way bridge stay separate SCCs") {
    // cycle A: 0->1->2->0; bridge 2->3; cycle B: 3->4->5->3; tail 5->6
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L),
      (3L, 4L), (4L, 5L), (5L, 3L), (5L, 6L))
    val got = run(edges)
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      3L -> 3L, 4L -> 3L, 5L -> 3L, 6L -> 6L))
  }

  test("chain of singleton SCCs resolves (the refinement worst case)") {
    val edges = (0L until 12L).sliding(2).map(p => (p(0), p(1))).toSeq
    val got = run(edges)
    assert(got == (0L until 12L).map(v => v -> v).toMap)
  }

  test("self-loops are their own SCCs; duplicate edges are harmless") {
    val edges = Seq((0L, 0L), (1L, 2L), (2L, 1L), (1L, 2L), (2L, 2L))
    val got = run(edges)
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 1L))
  }

  test("fuzz: random digraphs vs Floyd-Warshall mutual reachability") {
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 4) {
      val n = 14 + trial * 3
      val m = n * 2
      val edges = Seq.fill(m)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val want = brute(n, edges)
      val got = run(edges)
      // nodes absent from the edge list are trivially their own SCCs
      // and not emitted; compare over emitted nodes only.
      got.foreach { case (v, s) =>
        assert(s == want(v), s"trial=$trial node=$v got=$s want=${want(v)}")
      }
      val touched = edges.flatMap(e => Seq(e._1, e._2)).toSet
      assert(got.keySet == touched, s"trial=$trial emitted-node mismatch")
    }
  }

  test("shortcut doubling returns the identical labeling") {
    val rnd = new scala.util.Random(23)
    val n = 16
    val edges = Seq.fill(n * 2)(
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2).distinct
    val plain = run(edges)
    val fast = Scc.components(edges.toDF("src", "dst"), shortcut = true,
      localCap = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == plain)
    // a 12-chain needs 11 linear rounds but only ~4 doubling rounds
    val chain = (0L until 12L).sliding(2).map(p => (p(0), p(1))).toSeq
    val fastChain = Scc.components(chain.toDF("src", "dst"),
        innerRounds = 5, shortcut = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fastChain == (0L until 12L).map(v => v -> v).toMap)
  }

  test("inner budget exhaustion throws loudly instead of mislabeling") {
    // trim off: a pure chain is all-trivial, and FW-BW-Trim would
    // (correctly) dissolve it before any propagation runs
    val edges = (0L until 10L).sliding(2).map(p => (p(0), p(1))).toSeq
    val ex = intercept[IllegalStateException] {
      Scc.components(edges.toDF("src", "dst"), innerRounds = 2,
        trimRounds = 0, localCap = 0L).count()
    }
    assert(ex.getMessage.contains("inner budget"))
  }

  test("trim retires acyclic nodes without propagation; capped trim " +
       "stays correct on deep tendrils") {
    // chain into a 3-cycle: tendril nodes are singleton SCCs, the cycle
    // survives trim. innerRounds=3 is FAR too small for the 8-deep
    // tendril under pure propagation (label 0 would need ~8 flows) —
    // the default 8 trim layers must strip it so propagation only ever
    // sees the cycle.
    val tendril = (0L until 8L).sliding(2).map(p => (p(0), p(1))).toSeq
    val edges = tendril ++ Seq((7L, 100L), (100L, 101L), (101L, 102L),
      (102L, 100L))
    val got = Scc.components(edges.toDF("src", "dst"), innerRounds = 3,
        localCap = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (0L until 8L).map(v => v -> v).toMap ++
      Seq(100L, 101L, 102L).map(_ -> 100L).toMap
    assert(got == want)
    // a trim cap SHALLOWER than the tendril must still be correct (the
    // leftovers resolve through refinement + F=B=self)
    val capped = Scc.components(edges.toDF("src", "dst"), trimRounds = 2,
        localCap = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped == want)
  }

  test("duplicate self-loop rows emit ONE (node, scc) row per node on both routes") {
    // the distributed route's selfOnly uses `except` (set semantics); the
    // Tarjan route must match it even when the input repeats a self-loop
    val df = Seq((7L, 7L), (7L, 7L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    for (cap <- Seq(262144L, 0L)) {
      val rows = Scc.components(df, localCap = cap).collect()
      assert(rows.length === 3, s"cap=$cap: ${rows.mkString(", ")}")
      assert(rows.map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        Map(7L -> 7L, 1L -> 1L, 2L -> 1L))
    }
  }

  test("fractional ids throw on both routes instead of merging nodes") {
    // 1.0 and 1.5 would both cast to node 1
    val df = Seq((1.0, 1.5), (1.5, 1.0), (2.0, 3.0)).toDF("src", "dst")
    for (cap <- Seq(1048576L, 0L)) {
      val ex = intercept[IllegalArgumentException] {
        Scc.components(df, localCap = cap).collect()
      }
      assert(ex.getMessage.contains("`src`") && ex.getMessage.contains("double"))
    }
  }
}
