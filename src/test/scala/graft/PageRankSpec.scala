package graft

import org.apache.spark.sql.functions._
import graft.graph.PageRank

/** Integer PageRank: hand-computed rounds on a path graph, hub ordering
  * on a star, and partitioning invariance. */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  test("path graph A-B-C: two hand-computed rounds") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    // r0 = 1e6 each; deg = (1, 2, 1)
    // round 1: sums = (5e5, 2e6, 5e5) -> r1 = (575000, 1850000, 575000)
    val r1 = PageRank.integerRanks(edges, rounds = 1)
      .orderBy($"node").as[(Long, Long)].collect().toSeq
    assert(r1 === Seq((1L, 575000L), (2L, 1850000L), (3L, 575000L)))
    // round 2: contribs A->B 575000, B->A/B->C 925000, C->B 575000
    //   r2 = (150000+786250, 150000+977500, 150000+786250)
    val r2 = PageRank.integerRanks(edges, rounds = 2)
      .orderBy($"node").as[(Long, Long)].collect().toSeq
    assert(r2 === Seq((1L, 936250L), (2L, 1127500L), (3L, 936250L)))
  }

  test("star graph: the hub outranks every leaf") {
    val edges = (2L to 6L).map(l => (1L, l)).toDF("a", "b")
    val r = PageRank.integerRanks(edges, rounds = 3)
      .orderBy($"node").as[(Long, Long)].collect().toSeq
    val hub = r.head._2
    assert(r.tail.forall(_._2 < hub), s"leaves must rank below the hub: $r")
    assert(r.tail.map(_._2).distinct.size === 1, "leaves are symmetric")
  }

  test("ranks are partitioning-invariant (1 vs 13 partitions)") {
    val edges = spark.range(0, 400)
      .select(($"id" % 97).as("a"), ($"id" % 89 + 100).as("b"))
    def run(parts: Int) =
      PageRank.integerRanks(edges.repartition(parts), rounds = 3)
        .orderBy($"node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(run(1) === run(13))
  }

  test("size route: local and distributed routes produce identical ranks") {
    // r19: small graphs run the integer rank rounds on the driver
    // (localCap gate); localCap = 0 forces the distributed loop.
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val edges = (0 until 120).map { _ =>
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)
    }.filter(t => t._1 != t._2)
    for (rounds <- Seq(1, 3)) {
      val local = PageRank.integerRanks(edges.toDF("a", "b"), rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = PageRank.integerRanks(edges.toDF("a", "b"), rounds,
          localCap = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local == dist, s"rounds=$rounds")
    }
  }

  test("distributed floor division is exact Long division at quotients >= 1e11") {
    // a ~5e5-leaf hub divides a ~1e11-quotient rank by its degree: the
    // dividend passes 2^53, where a Double quotient loses its last unit
    val rnd = new scala.util.Random(5)
    val rows = (0 until 2000).map { _ =>
      val den = 400000L + rnd.nextInt(200000)
      val num = (100000000000L + (rnd.nextLong() & 0xffffffffffL)) * den + rnd.nextInt(den.toInt)
      (num, den)
    }
    val df = rows.toDF("num", "den")
    val exact = rows.map { case (n, d) => n / d }
    val got = df.select(PageRank.floorDiv($"num", $"den")).as[Long].collect().toSeq
    assert(got == exact)
    // the Double route these rows replace is off by one somewhere here
    val viaDouble = df.select((($"num" - pmod($"num", $"den")) / $"den").cast("long"))
      .as[Long].collect().toSeq
    assert(viaDouble != exact, "the case must reach the range where Double division drifts")
  }
}
