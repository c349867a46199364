package graft

import org.apache.spark.sql.functions._
import graft.ops.RangeJoin

/** Bucketed pure range join: equivalence to the naive theta join, plan
  * shape (no BNLJ/cartesian), inclusive bounds, and argument guards. */
class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ev =
    Queries.normTs(spark.read.parquet("/root/testdata/sf0.01/events.parquet"))

  test("bucketed join == naive theta join (pairs and counts)") {
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("pid"), $"ts".as("pts")).limit(300)
    val e = ev.filter($"event_type" === "error")
      .select($"event_id".as("eid"), $"ts".as("ets"))
    val fast = RangeJoin.byBuckets(p, e, $"pts", $"ets", -600, 0, 600)
      .select($"pid", $"eid")
    val naive = p.crossJoin(e)
      .filter(unix_micros($"ets").between(
        unix_micros($"pts") - 600L * 1000000L, unix_micros($"pts")))
      .select($"pid", $"eid")
    assert(fast.count() > 0, "fixture should produce matches")
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
  }

  test("bounds are inclusive on both ends; bucket width does not change results") {
    val p = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00")))
      .toDF("pid", "pts")
    val e = Seq(
      (10L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")), // == lower bound
      (11L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00")), // == upper bound
      (12L, java.sql.Timestamp.valueOf("2023-12-31 23:59:59")), // 1s early
      (13L, java.sql.Timestamp.valueOf("2024-01-01 00:10:01"))) // 1s late
      .toDF("eid", "ets")
    def run(bucket: Long): Set[Long] =
      RangeJoin.byBuckets(p, e, $"pts", $"ets", -600, 0, bucket)
        .select($"eid").collect().map(_.getLong(0)).toSet
    assert(run(600) === Set(10L, 11L))
    assert(run(60) === Set(10L, 11L))
    assert(run(97) === Set(10L, 11L)) // non-divisor width
  }

  test("plan is an equi-join: no BroadcastNestedLoopJoin, no cartesian") {
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("pid"), $"ts".as("pts"))
    val e = ev.filter($"event_type" === "error")
      .select($"event_id".as("eid"), $"ts".as("ets"))
    val plan = RangeJoin.byBuckets(p, e, $"pts", $"ets", -600, 0, 600)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), "range join fell back to BNLJ")
    assert(!plan.contains("CartesianProduct"), "range join fell back to a cartesian")
  }

  test("argument guards: bucket span, reversed bounds, column collisions") {
    val p = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("pid", "pts")
    val e = Seq((2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("pid", "ets") // colliding non-key name
    intercept[IllegalArgumentException] {
      RangeJoin.byBuckets(p, p.withColumnRenamed("pid", "eid"), $"pts", $"pts", 0, -1, 60)
    }
    intercept[IllegalArgumentException] { // 1-day window over 1s buckets
      RangeJoin.byBuckets(p, p.withColumnRenamed("pid", "eid"), $"pts", $"pts", -86400, 0, 1)
    }
    intercept[IllegalArgumentException] {
      RangeJoin.byBuckets(p, e, $"pts", $"ets", -600, 0, 600)
    }
  }

  test("intervalOverlap == quadratic overlap join, each pair exactly once") {
    import org.scalacheck.Gen
    val gen = for {
      nl <- Gen.choose(1, 25); nr <- Gen.choose(1, 25)
      mk = for {
        s <- Gen.choose(0L, 50000L); len <- Gen.choose(0L, 8000L)
      } yield (s, s + len)
      ls <- Gen.listOfN(nl, mk); rs <- Gen.listOfN(nr, mk)
      bucket <- Gen.oneOf(500L, 1024L, 7919L)
    } yield (ls, rs, bucket)
    new GenChecks {}.forAllN(gen, n = 8) { case (ls, rs, bucket) =>
      val l = ls.zipWithIndex.map { case ((s, e), i) =>
        (i.toLong, new java.sql.Timestamp(s * 1000L), new java.sql.Timestamp(e * 1000L))
      }.toDF("lid", "lst", "len_")
      val r = rs.zipWithIndex.map { case ((s, e), i) =>
        (i.toLong, new java.sql.Timestamp(s * 1000L), new java.sql.Timestamp(e * 1000L))
      }.toDF("rid", "rst", "ren")
      val got = RangeJoin.intervalOverlap(l, r, $"lst", $"len_", $"rst", $"ren", bucket)
        .select($"lid", $"rid", $"overlap_us").as[(Long, Long, Long)].collect().toSeq
      // exactly once: the collected MULTISET equals the quadratic set
      val want = (for {
        ((als, ale), ai) <- ls.zipWithIndex
        ((brs, bre), bi) <- rs.zipWithIndex
        if als <= bre && brs <= ale
      } yield (ai.toLong, bi.toLong,
        (math.min(ale, bre) - math.max(als, brs)) * 1000000L)).toSeq
      assert(got.sorted === want.sorted, s"bucket=$bucket ls=$ls rs=$rs")
    }
  }

  test("intervalOverlap guards: reversed interval and over-long span raise in-plan") {
    val l = Seq((1L, new java.sql.Timestamp(2000L), new java.sql.Timestamp(1000L)))
      .toDF("lid", "lst", "len_")
    val r = Seq((1L, new java.sql.Timestamp(0L), new java.sql.Timestamp(1000L)))
      .toDF("rid", "rst", "ren")
    val e1 = intercept[Exception] {
      RangeJoin.intervalOverlap(l, r, $"lst", $"len_", $"rst", $"ren", 1L).collect()
    }
    assert(e1.getMessage != null && e1.getMessage.contains("end < start"))
    val l2 = Seq((1L, new java.sql.Timestamp(0L), new java.sql.Timestamp(400000000L)))
      .toDF("lid", "lst", "len_")
    val e2 = intercept[Exception] {
      RangeJoin.intervalOverlap(l2, r, $"lst", $"len_", $"rst", $"ren", 1L,
        maxSpanBuckets = 16).collect()
    }
    assert(e2.getMessage != null && e2.getMessage.contains("maxSpanBuckets"))
  }
}
