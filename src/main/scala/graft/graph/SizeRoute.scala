package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The size-route policy shared by the routed iterative operators:
  * Flow.accumulate/basins/distanceToOutlet/strahler, [[PageRank]],
  * [[LabelProp]], [[KCore]], [[Scc]] and
  * [[graft.dedup.Dedup.connectedComponents]].
  *
  * An edge list that fits `cap` rows runs the operator's SAME
  * synchronous rounds in one place — driver memory, or one task for
  * Scc/Dedup — with identical integer arithmetic, fixpoint tests and
  * loud budget throws. That costs 2 jobs in total (the gate plus one
  * collect or one task) instead of 2-3 jobs PER ROUND of joins,
  * checkpoints and isEmpty probes. Measured r19 (sf0.1, 32c): the
  * fixture's 150x150 grids spent ~80-90% of their wall in the per-round
  * job floor, not in data. A bigger edge list takes the operator's
  * distributed loop unchanged (the 100 TB route).
  *
  * Only LongType columns are collected to the driver: a local route
  * over any other type would silently widen, truncate or reject ids the
  * distributed loop handles as they are, so those always go
  * distributed. The gate is priced O(cap), not O(input): the choice
  * needs only "more than cap rows?", so a `limit(cap+1)` count over the
  * caller's just-checkpointed blocks answers it. */
private[graft] object SizeRoute {

  /** cap+1 as a safe Int for `limit()`. */
  def capPlusOne(cap: Long): Int =
    (math.min(cap, Int.MaxValue - 2L) + 1L).toInt

  /** True when `df` has at most `cap` rows; scans at most cap+1. */
  def fits(df: DataFrame, cap: Long): Boolean =
    df.limit(capPlusOne(cap)).count() <= cap

  /** The collected (Long, Long) rows of `e` when every column is
    * LongType and `e` fits `cap`; None means the distributed loop. */
  def localEdges(e: DataFrame, cap: Long): Option[Array[(Long, Long)]] = {
    if (!e.schema.fields.forall(_.dataType == LongType) || !fits(e, cap))
      return None
    val spark = e.sparkSession
    import spark.implicits._
    Some(e.as[(Long, Long)].collect())
  }

  /** Both directions of every edge of a two-column frame as distinct
    * (a, b) rows, checkpointed — every round reads it, so it must never
    * be re-derived. Explode, not a self-union: the edge list is
    * typically the output of a whole pipeline, and a union would
    * evaluate that pipeline once per branch (Spark does no CSE across
    * branches). */
  def symmetrize(e: DataFrame): DataFrame = {
    e.toDF("a", "b").select(explode(array(
        struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b")).distinct()
      .localCheckpoint(true)
  }

  /** Every column of `e` cast to long, for operators whose both routes
    * key on Long ids. Only integral columns are accepted: a fractional
    * or string id would be truncated or rejected by the cast, silently
    * merging distinct nodes (1.0 and 1.5 both become 1). */
  def longIds(e: DataFrame): DataFrame = {
    e.schema.fields.foreach(f => require(integral(f.dataType),
      s"id column `${f.name}` has type ${f.dataType.simpleString}; " +
        "ids must be integral (byte, short, int or long)"))
    e.select(e.columns.map(c => col(c).cast("long").as(c)).toIndexedSeq: _*)
  }

  private val integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)
}
