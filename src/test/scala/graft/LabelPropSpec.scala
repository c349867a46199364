package graft

import graft.graph.LabelProp

/** Hand oracles for synchronous label propagation (graph.LabelProp):
  * round-by-round replay of the documented contract — neighbor votes +
  * one self-vote, argmax count, min-label ties, fixed rounds. */
class LabelPropSpec extends SparkSpec {

  private def run(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    import spark.implicits._
    LabelProp.propagate(edges.toDF("a", "b"), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("path graph 1-2-3: hand-computed rounds") {
    // r1: 1:{2,self1}->1; 2:{1,3,self2}->1; 3:{2,self3}->2
    assert(run(Seq((1L, 2L), (2L, 3L)), 1) == Map(1L -> 1L, 2L -> 1L, 3L -> 2L))
    // r2: 1:{2(1),self(1)}->1; 2:{1(1),3(2),self(1)}->1; 3:{2(1),self(2)}-> tie {1,2} -> 1
    assert(run(Seq((1L, 2L), (2L, 3L)), 2) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // r3: stable
    assert(run(Seq((1L, 2L), (2L, 3L)), 3) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("star converges to hub label in one round (min-id hub)") {
    val star = Seq((1L, 5L), (1L, 6L), (1L, 7L))
    assert(run(star, 1) == Map(1L -> 1L, 5L -> 1L, 6L -> 1L, 7L -> 1L))
  }

  test("two dense triangles with a bridge keep distinct member labels") {
    // triangles {1,2,3} and {10,11,12}, bridge 3-10
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L))
    val out = run(tri, 3)
    // density holds: 10/11/12 never adopt a left-triangle label wholesale —
    // the component is ONE but at least two labels survive
    assert(out.values.toSet.size >= 2, out.toString)
    // and the left triangle is uniformly labeled 1
    assert(out(1L) == 1L && out(2L) == 1L && out(3L) == 1L)
  }

  test("undirected + duplicate edges do not double-vote (distinct symmetrize)") {
    val dup = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L))
    assert(run(dup, 2) == run(Seq((1L, 2L), (2L, 3L)), 2))
  }

  test("parallelism invariance (1 vs 4 shuffle partitions)") {
    import spark.implicits._
    val edges = (0L until 40L).flatMap { i =>
      Seq((i % 7, 7 + i), (7 + i, 7 + (i * 3) % 40))
    }
    val df = edges.toDF("a", "b")
    val a = LabelProp.propagate(df, 3).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try {
      val b = LabelProp.propagate(df, 3).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(a.sameElements(b))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("rounds guard") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      LabelProp.propagate(Seq((1L, 2L)).toDF("a", "b"), 0)
    }
  }

  test("fixpoint early exit: a huge budget equals the converged output, fast") {
    // the path graph reaches its fixpoint at round 2; rounds=1000 must
    // return the same labels after ~2 edge joins, not 1000
    val fix = run(Seq((1L, 2L), (2L, 3L)), 3)
    val t0 = System.nanoTime()
    assert(run(Seq((1L, 2L), (2L, 3L)), 1000) == fix)
    val dt = (System.nanoTime() - t0) / 1e9
    assert(dt < 60.0, s"rounds=1000 on a converged graph took $dt s — early exit broken")
    // and a pre-fixpoint budget still replays EXACTLY that many rounds
    // (the cap semantics the oracle replays are unchanged)
    assert(run(Seq((1L, 2L), (2L, 3L)), 1) == Map(1L -> 1L, 2L -> 1L, 3L -> 2L))
  }
}
