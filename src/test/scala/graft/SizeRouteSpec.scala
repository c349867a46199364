package graft

import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, MapPartitions, Repartition}
import org.apache.spark.sql.types.LongType
import graft.dedup.Dedup
import graft.graph.{KCore, LabelProp, PageRank, Scc, SizeRoute}
import graft.ops.Flow

/** The size-route policy (graph.SizeRoute) and the route parity of every
  * operator behind it: each runs at cap = 0 (distributed loop, except
  * for an empty input, which fits any cap) and at cap = Long.MaxValue
  * (local route where the input allows it) over the same seeded inputs,
  * and must return the same row multiset or throw the same exception
  * class. The route is read from the returned plan. */
class SizeRouteSpec extends SparkSpec {
  import spark.implicits._

  private sealed trait Route
  private case object Driver extends Route      // rows rebuilt from a driver Seq
  private case object InTask extends Route      // coalesce(1).mapPartitions
  private case object Distributed extends Route

  private def routeOf(df: DataFrame): Route = {
    val plan = df.queryExecution.analyzed
    val oneTask = plan.find {
      case r: Repartition => r.numPartitions == 1 && !r.shuffle
      case _ => false
    }.isDefined
    if (oneTask && plan.find(_.isInstanceOf[MapPartitions]).isDefined) InTask
    else if (plan.collectLeaves().forall(_.isInstanceOf[LocalRelation])) Driver
    else Distributed
  }

  /** `long`: both id columns are LongType; `functional`: distinct srcs
    * (the forest contract Flow.basins/distanceToOutlet route on);
    * `dense`: far outside Flow's forest contract — its rounds never
    * converge and the distributed pointer jumping multiplies rows per
    * round — so the Flow ops skip it. */
  private case class In(name: String, df: DataFrame, long: Boolean,
                        functional: Boolean, empty: Boolean = false,
                        dense: Boolean = false)

  private def longIn(name: String, es: Seq[(Long, Long)], dense: Boolean = false) =
    In(name, es.toDF("src", "dst"), long = true,
      functional = es.map(_._1).distinct.size == es.size, empty = es.isEmpty,
      dense = dense)

  private val inputs: Seq[In] = {
    val rnd = new scala.util.Random(23)
    // a random forest with confluences and depth > 1 (functional, acyclic)
    val forest = (1 until 120).flatMap { i =>
      if (rnd.nextDouble() < 0.8) Some((i.toLong, rnd.nextInt(i).toLong)) else None
    }
    // a random digraph: cycles, ties, self-loops and duplicate rows
    val digraph = (0 until 150).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)) ++
      Seq((3L, 3L), (3L, 3L), (5L, 6L), (5L, 6L))
    // a hub-heavy star: 150 leaves into hub 0, each with one sub-leaf
    val star = (1L to 150L).map(l => (l, 0L)) ++ (1L to 150L).map(l => (l + 1000L, l))
    // a DAG whose undirected form is one 5-cycle (a non-empty 2-core);
    // a cast to long would merge 1.0 and 1.5
    val ring = Seq((1.0, 1.5), (1.5, 2.0), (2.0, 3.0), (3.0, 4.0), (1.0, 4.0))
    Seq(
      longIn("random forest", forest),
      longIn("duplicate edges (non-functional)",
        Seq((1L, 2L), (1L, 2L), (2L, 3L), (4L, 3L))),
      longIn("random digraph with self-loops", digraph, dense = true),
      longIn("3-cycle with a tail", Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L))),
      longIn("hub-heavy star", star),
      longIn("empty", Seq.empty),
      In("Int ids", Seq((1, 2), (2, 3), (4, 3)).toDF("src", "dst"),
        long = false, functional = true),
      In("Double ids", ring.toDF("src", "dst"), long = false, functional = false),
      In("String ids", ring.map { case (a, b) => (a.toString, b.toString) }
        .toDF("src", "dst"), long = false, functional = false))
  }

  /** An operator and its route rule: `inTask` ops (Scc, Dedup) take the
    * single-task route whenever the input fits; the others take the
    * driver route only for Long ids, and the forest resolvers only for
    * a functional list (they fall through otherwise). */
  private case class Op(run: (DataFrame, Long) => DataFrame, inTask: Boolean = false,
                        flow: Boolean = false, needsFunctional: Boolean = false)

  private def expected(op: Op, in: In, cap: Long): Route = {
    val fits = cap == Long.MaxValue || in.empty
    if (op.inTask) { if (fits) InTask else Distributed }
    else if (in.long && fits && (in.functional || !op.needsFunctional)) Driver
    else Distributed
  }

  private def rows(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }

  private def checkParity(op: Op): Unit = {
    val seen = scala.collection.mutable.Set[Route]()
    inputs.filterNot(in => op.flow && in.dense).foreach { in =>
      val Seq(local, dist) = Seq(Long.MaxValue, 0L).map { cap =>
        val run = Try { val df = op.run(in.df, cap); (routeOf(df), rows(df)) }
        run.foreach { case (route, _) =>
          assert(route == expected(op, in, cap), s"${in.name}, cap=$cap")
          seen += route
        }
        run
      }
      (local, dist) match {
        case (Success((_, a)), Success((_, b))) => assert(a == b, s"${in.name}: $a != $b")
        case (Failure(a), Failure(b)) =>
          assert(a.getClass == b.getClass, s"${in.name}: $a vs $b")
        case (a, b) => fail(s"${in.name}: routes diverge: $a vs $b")
      }
    }
    // neither route may be vacuous over the fuzz set
    assert(seen.contains(Distributed) && (seen(Driver) || seen(InTask)), s"$seen")
  }

  private val ops: Seq[(String, Op)] = Seq(
    "Flow.accumulate" -> Op((e, cap) => Flow.accumulate(e, 16, cap), flow = true),
    "Flow.basins" ->
      Op((e, cap) => Flow.basins(e, 8, cap), flow = true, needsFunctional = true),
    "Flow.distanceToOutlet" -> Op((e, cap) => Flow.distanceToOutlet(e, 8, cap),
      flow = true, needsFunctional = true),
    "Flow.strahler" -> Op((e, cap) => Flow.strahler(e, 16, cap), flow = true),
    "PageRank.integerRanks" -> Op((e, cap) => PageRank.integerRanks(e, 3, localCap = cap)),
    "LabelProp.propagate" -> Op((e, cap) => LabelProp.propagate(e, 3, cap)),
    "KCore.coreDegrees" -> Op((e, cap) => KCore.coreDegrees(e, 2, 64, cap)),
    "Scc.components" -> Op((e, cap) => Scc.components(e, localCap = cap), inTask = true),
    "Dedup.connectedComponents" ->
      Op((e, cap) => Dedup.connectedComponents(e, localCap = cap), inTask = true))

  ops.foreach { case (name, op) =>
    test(s"$name: both routes agree on every fuzz input") { checkParity(op) }
  }

  test("fits: true at exactly cap rows, false at cap + 1; empty fits cap 0") {
    val five = spark.range(5).toDF()
    assert(SizeRoute.fits(five, 5L))
    assert(!SizeRoute.fits(five, 4L))
    assert(SizeRoute.fits(five.limit(0), 0L))
    assert(!SizeRoute.fits(five, 0L))
  }

  test("capPlusOne clamps to a safe Int; localEdges and longIds check types") {
    assert(SizeRoute.capPlusOne(Long.MaxValue) == Int.MaxValue - 1)
    assert(SizeRoute.capPlusOne(0L) == 1)
    val ints = Seq((1, 2), (2, 3)).toDF("a", "b")
    assert(SizeRoute.localEdges(ints, Long.MaxValue).isEmpty)
    assert(SizeRoute.localEdges(ints.select($"a".cast("long"), $"b".cast("long")),
      Long.MaxValue).map(_.toSeq) == Some(Seq((1L, 2L), (2L, 3L))))
    val small = Seq((1.toByte, 2.toShort)).toDF("a", "b")
    assert(SizeRoute.longIds(small).schema.fields.forall(_.dataType == LongType))
    val ex = intercept[IllegalArgumentException] {
      SizeRoute.longIds(Seq((1L, "x")).toDF("a", "name"))
    }
    assert(ex.getMessage.contains("`name`") && ex.getMessage.contains("string"))
  }

  test("source guard: capPlusOne( appears only in SizeRoute.scala") {
    val offenders = SourceGuard.offenders("src/main/scala/graft", "capPlusOne(", "SizeRoute.scala")
    assert(offenders.isEmpty, "hand-rolled size-route gate outside SizeRoute: " +
      offenders.mkString(", "))
  }
}
