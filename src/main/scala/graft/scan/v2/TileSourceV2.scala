package graft.scan.v2

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.RasterSpec
import graft.scan.{AssetRow, ErrorsAsNodata, FakeReader, PlannedRead, Reader, ReaderCache, TileScan}

/** The scan configuration a [[TileSourceProvider]] table reads: the
  * planned asset list + output grid (SURVEY §2.1 S3's products) plus the
  * executor-side reader factory. Registered driver-side (planning happens
  * on the driver); per-partition slices travel to executors inside the
  * serialized [[TileInputPartition]]s, never through the registry.
  */
final case class ScanPlan(
    assets: Seq[AssetRow],
    spec: RasterSpec,
    chunkY: Int,
    chunkX: Int,
    readerFor: AssetRow => Reader,
    errorsAsNodata: ErrorsAsNodata)

/** Driver-side handoff of non-serializable plan state into the DSv2
  * `TableProvider` (which Spark instantiates reflectively from a class
  * name, so it cannot take constructor args). */
object TilePlanRegistry {
  private val plans = new ConcurrentHashMap[String, ScanPlan]()
  private val ctr = new AtomicLong()
  def register(p: ScanPlan): String = {
    val token = s"plan-${ctr.incrementAndGet()}"
    plans.put(token, p); token
  }
  /** One-shot handoff: the entry is removed as soon as the `load()` call
    * materializes its [[TileTable]] (which then owns the plan directly, so
    * re-executing the resulting DataFrame needs no registry) — a long-lived
    * session issuing many scans would otherwise retain every asset list +
    * reader closure forever. Each [[TileSourceV2.scan]] mints a fresh
    * token; a token cannot be `load()`ed twice. */
  def consume(token: String): ScanPlan = {
    val p = plans.remove(token)
    require(p != null,
      s"no registered tile scan plan for token $token (tokens are single-use: " +
        "each TileSourceV2.scan call mints its own)")
    p
  }
}

/** DataSource V2 tile source — the one tile scan (SURVEY §7.3), a
  * `PartitionReaderFactory` with real Catalyst integration:
  *
  *  - '''Predicate pushdown''' (`SupportsPushDownFilters`): filters on
  *    `band` / `timeMicros` / `itemIdx` / `yChunk` / `xChunk` prune the
  *    (asset × chunk) work-list at plan time — the reference's metadata
  *    pruning (R1–R3, `stackstac/prepare.py:355-361`,
  *    `to_dask.py:183-189`) surfaced as `PushedFilters` in `explain`.
  *    Pruned IO never happens; Spark still re-evaluates the predicates on
  *    the emitted rows, so pushdown is purely an optimization.
  *  - '''Column pruning''' (`SupportsPushDownRequiredColumns`): a
  *    projection without `pixels` reads no pixel bytes at all — the
  *    metadata-only planning boundary (R5) expressed in the scan itself.
  *    The row set is the *planned* work-list in EVERY projection:
  *    all-nodata tiles are NOT elided here, so pruning stays a pure
  *    optimization (same rows whether or not pixels are read — the DSv2
  *    contract). R4's value-level sparsity is a filter on top:
  *    [[TileScan.scan]] is this source under `exists(pixels, p -> NOT isnan(p))`.
  *  - One `InputPartition` per (yChunk, xChunk): downstream per-chunk
  *    aggregations (mosaic, temporal) consume co-located tiles.
  *
  * Planning uses [[TileScan.workList]]'s [[graft.scan.PlannedRead]]s, and
  * pixels are read through [[graft.scan.ReaderCache]] (open-once,
  * errors-as-nodata, scale/offset), one per input partition.
  *
  * Usage: `TileSourceV2.scan(spark, assets, spec, chunk, ...)` or
  * `spark.read.format(classOf[TileSourceProvider].getName).option("plan", token).load()`.
  */
object TileSourceV2 {

  val schema: StructType = StructType(Seq(
    StructField("itemIdx", IntegerType, nullable = false),
    StructField("assetIdx", IntegerType, nullable = false),
    StructField("band", StringType, nullable = false),
    StructField("timeMicros", LongType, nullable = false),
    StructField("yChunk", IntegerType, nullable = false),
    StructField("xChunk", IntegerType, nullable = false),
    StructField("rowOff", IntegerType, nullable = false),
    StructField("colOff", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("pixels", ArrayType(DoubleType, containsNull = false), nullable = false)))

  def scan(
      spark: SparkSession,
      assets: Seq[AssetRow],
      spec: RasterSpec,
      chunk: Int = 1024,
      readerFor: AssetRow => Reader = a => FakeReader(a.url),
      errorsAsNodata: ErrorsAsNodata = ErrorsAsNodata.none): DataFrame =
    load(spark, ScanPlan(assets, spec, chunk, chunk, readerFor, errorsAsNodata))

  /** The scan of any plan, square or rectangular chunks — what
    * [[TileScan.scan]]'s rectangular overload reads through. */
  private[scan] def load(spark: SparkSession, plan: ScanPlan): DataFrame =
    spark.read.format(classOf[TileSourceProvider].getName)
      .option("plan", TilePlanRegistry.register(plan)).load()
}

class TileSourceProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  /** `spark.read.format("graft-tiles")` — registered via the
    * META-INF/services DataSourceRegister entry. */
  override def shortName(): String = "graft-tiles"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TileSourceV2.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new TileTable(TilePlanRegistry.consume(properties.get("plan")))
}

final class TileTable(plan: ScanPlan) extends Table with SupportsRead {
  override def name(): String = "graft_tiles"
  override def schema(): StructType = TileSourceV2.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TileScanBuilder(plan)
}

final class TileScanBuilder(plan: ScanPlan)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = TileSourceV2.schema
  private var pushedAgg: Option[org.apache.spark.sql.connector.expressions.aggregate.Aggregation] = None
  private var limit: Int = -1

  /** Limit pushdown: LIMIT semantics permit ANY n rows, and the row set
    * is the planned work-list — so the scan truncates the work-list to
    * the first n reads in deterministic enumeration order and schedules
    * IO for THOSE ONLY ("show me a few example tiles" costs a few tile
    * reads, not a corpus scan). Spark still applies its own Limit on
    * top (we return true = pushed, and emit exactly n rows). */
  override def pushLimit(n: Int): Boolean = { limit = n; true }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(TileFilterEval.supported)
    filters // residual = everything: Spark re-evaluates, pushdown stays a pure optimization
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // ---- aggregate pushdown (SupportsPushDownAggregates) ----------------
  // The row set is METADATA-DETERMINED (one row per planned (asset,
  // chunk) read; pixels are only materialized when the pixel column is
  // required), so global COUNT(*)/MIN/MAX over metadata columns are
  // answerable on the DRIVER from the work-list with ZERO pixel IO and
  // zero executor tasks beyond emitting one row. Spark only offers the
  // aggregate when no post-scan filter remains, and our residual policy
  // re-evaluates every filter post-scan — so the pushdown engages on
  // unfiltered scans, exactly the catalog-style "how many tiles / what
  // time range" questions a planner asks before scheduling IO.
  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
  import org.apache.spark.sql.connector.expressions.NamedReference

  private def metaCol(
      e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
    e match {
      case f: NamedReference if f.fieldNames.length == 1 && f.fieldNames()(0) != "pixels" =>
        TileSourceV2.schema.fields.find(_.name == f.fieldNames()(0))
      case _ => None
    }

  private def canPush(agg: Aggregation): Boolean =
    agg.groupByExpressions.isEmpty && agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall {
        case _: CountStar => true
        case m: Min => metaCol(m.column).isDefined
        case m: Max => metaCol(m.column).isDefined
        case _ => false
      }

  override def supportCompletePushDown(agg: Aggregation): Boolean = canPush(agg)

  override def pushAggregation(agg: Aggregation): Boolean =
    if (canPush(agg)) { pushedAgg = Some(agg); true } else false

  override def build(): Scan = pushedAgg match {
    case Some(agg) => new TileAggScanV2(plan, pushed, agg)
    case None => new TileScanV2(plan, pushed, required, limit)
  }
}

/** Completely-pushed-down aggregate scan: the answer is computed on the
  * driver from the metadata work-list (same enumeration + pushed-filter
  * pruning as [[TileScanV2]]) and shipped as ONE row from one empty
  * partition — no reader opens, no pixel bytes move. */
final class TileAggScanV2(
    plan: ScanPlan,
    pushed: Array[Filter],
    agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
    extends Scan with Batch {
  import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
  import org.apache.spark.sql.connector.expressions.NamedReference

  private def fieldOf(
      e: org.apache.spark.sql.connector.expressions.Expression): StructField =
    TileSourceV2.schema.fields
      .find(_.name == e.asInstanceOf[NamedReference].fieldNames()(0)).get

  override def readSchema(): StructType = StructType(
    agg.aggregateExpressions.zipWithIndex.map {
      case (_: CountStar, i) => StructField(s"count_$i", LongType, nullable = false)
      case (m: Min, i) =>
        val f = fieldOf(m.column); StructField(s"min_${f.name}_$i", f.dataType, nullable = true)
      case (m: Max, i) =>
        val f = fieldOf(m.column); StructField(s"max_${f.name}_$i", f.dataType, nullable = true)
      case (other, _) => throw new IllegalStateException(s"unpushable aggregate $other")
    })

  override def toBatch: Batch = this
  override def description(): String =
    s"graft_tiles AGG-PUSHDOWN [${agg.aggregateExpressions.mkString(", ")}] pushed=[${pushed.mkString(", ")}]"

  private lazy val resultValues: Array[Any] = {
    var count = 0L
    val mins = mutable.HashMap.empty[String, Any]
    val maxs = mutable.HashMap.empty[String, Any]
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Int, y: Int) => x < y
      case (x: Long, y: Long) => x < y
      case (x: String, y: String) => x.compareTo(y) < 0
      case _ => false
    }
    val neededCols = agg.aggregateExpressions.collect {
      case m: Min => fieldOf(m.column).name
      case m: Max => fieldOf(m.column).name
    }.distinct
    for {
      r <- TileScan.workList(plan.assets, plan.spec, plan.chunkY, plan.chunkX)
      if pushed.forall(TileFilterEval.eval(_, r, plan.chunkY, plan.chunkX))
    } {
      count += 1
      neededCols.foreach { c =>
        val v = r.meta(c, plan.chunkY, plan.chunkX)
        if (!mins.contains(c) || lt(v, mins(c))) mins(c) = v
        if (!maxs.contains(c) || lt(maxs(c), v)) maxs(c) = v
      }
    }
    agg.aggregateExpressions.map {
      case _: CountStar => count: Any
      case m: Min => mins.getOrElse(fieldOf(m.column).name, null)
      case m: Max => maxs.getOrElse(fieldOf(m.column).name, null)
      case other => throw new IllegalStateException(s"unpushable aggregate $other")
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    Array(AggResultPartition(resultValues))
  override def createReaderFactory(): PartitionReaderFactory = AggResultReaderFactory
}

final case class AggResultPartition(values: Array[Any]) extends InputPartition

object AggResultReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val values = partition.asInstanceOf[AggResultPartition].values
      private var emitted = false
      override def next(): Boolean = if (emitted) false else { emitted = true; true }
      override def get(): InternalRow = new GenericInternalRow(
        values.map {
          case s: String => UTF8String.fromString(s)
          case v => v
        })
      override def close(): Unit = ()
    }
}

/** Evaluates pushable filters against work-list metadata (asset × chunk). */
private[v2] object TileFilterEval {
  private val cols = Set("band", "timeMicros", "itemIdx", "yChunk", "xChunk")

  def supported(f: Filter): Boolean = f match {
    case EqualTo(a, _) => cols(a)
    case In(a, _) => cols(a)
    case GreaterThan(a, _) => cols(a)
    case GreaterThanOrEqual(a, _) => cols(a)
    case LessThan(a, _) => cols(a)
    case LessThanOrEqual(a, _) => cols(a)
    case And(l, r) => supported(l) && supported(r)
    case Or(l, r) => supported(l) && supported(r)
    case _ => false
  }

  private def isIntegral(n: Number): Boolean = n match {
    case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
         _: java.lang.Byte => true
    case _ => false
  }

  private def cmp(x: Any, v: Any): Int = (x, v) match {
    case (a: String, b: String) => a.compareTo(b)
    // integral comparison must not round-trip through double: Long values
    // above 2^53 (nano-scale timestamps) would compare equal when they
    // differ, and pushdown prunes BEFORE IO — residual re-evaluation
    // cannot restore a wrongly-pruned tile.
    case (a: Number, b: Number) if isIntegral(a) && isIntegral(b) =>
      java.lang.Long.compare(a.longValue(), b.longValue())
    case (a: Number, b: Number) => java.lang.Double.compare(a.doubleValue(), b.doubleValue())
    case _ => 0
  }

  /** Does planned read `r` (of a scan with `chunkY` × `chunkX` chunks) pass `f`? */
  def eval(f: Filter, r: PlannedRead, chunkY: Int, chunkX: Int): Boolean = {
    def value(c: String): Any = r.meta(c, chunkY, chunkX)
    f match {
      case EqualTo(c, v) => value(c) == v || cmp(value(c), v) == 0
      case In(c, vs) => vs.exists(v => eval(EqualTo(c, v), r, chunkY, chunkX))
      case GreaterThan(c, v) => cmp(value(c), v) > 0
      case GreaterThanOrEqual(c, v) => cmp(value(c), v) >= 0
      case LessThan(c, v) => cmp(value(c), v) < 0
      case LessThanOrEqual(c, v) => cmp(value(c), v) <= 0
      case And(a, b) => eval(a, r, chunkY, chunkX) && eval(b, r, chunkY, chunkX)
      case Or(a, b) => eval(a, r, chunkY, chunkX) || eval(b, r, chunkY, chunkX)
      case _ => true
    }
  }
}

final class TileScanV2(plan: ScanPlan, pushed: Array[Filter], required: StructType,
                       limit: Int = -1)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = required

  // ---- statistics (SupportsReportStatistics) --------------------------
  // Accurate source stats are what let Catalyst pick the join strategy
  // WITHOUT hints: a DSv2 relation with no statistics defaults to
  // `spark.sql.defaultSizeInBytes` (effectively infinite), so a
  // planned-small tile scan joined to a fact table would sort-merge both
  // sides; reporting the true work-list size keeps it under the
  // auto-broadcast threshold and the scan side broadcasts itself. Both
  // numbers come from the SAME pushed-filter-pruned metadata enumeration
  // the scan executes — row count = planned reads, bytes = Σ window
  // pixels × 8 (+ per-row metadata) — so estimation stays metadata
  // arithmetic (the r10 agg-pushdown discipline), no reader opens.
  // Runtime filters arrive AFTER optimization, so stats are pre-runtime
  // by construction (an over- never under-estimate). Column pruning IS
  // reflected: a metadata-only projection (pixels pruned) reports KBs,
  // which is exactly what lets a planned tile WORK-LIST join a fact
  // table broadcast-side — the serving-path join r12 gates.
  // Catalyst may ask for stats several times per query; the census walks
  // every planned read, so it is computed once (lazy, beside
  // `partitions`) — optimizer cost stays O(planned reads), not
  // O(planned reads × estimation calls).
  private lazy val statsCensus: (Long, Long) = {
    val pixelCol = required.fieldNames.contains("pixels")
    var rows = 0L
    var bytes = 0L
    partitions.foreach { p =>
      p.asInstanceOf[TileInputPartition].reads.foreach { r =>
        rows += 1
        bytes += 48L +
          (if (pixelCol) r.window.height.toLong * r.window.width * 8 else 0L)
      }
    }
    (rows, bytes)
  }
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val (nRows, nBytes) = statsCensus
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(nBytes)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(nRows)
    }
  }
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_tiles chunk=${plan.chunkY}x${plan.chunkX} pushed=[${pushed.mkString(", ")}]" +
      (if (limit >= 0) s" LIMIT-PUSHDOWN $limit" else "")

  private lazy val partitions = computePartitions()

  // ---- runtime filtering (SupportsRuntimeFiltering) -------------------
  // Dynamic partition pruning for tile IO: when this scan sits under a
  // join on a metadata column (band / item / time / chunk coords), the
  // optimizer evaluates the OTHER side first and hands the surviving key
  // set here as an IN-filter at execution time — pruning the planned
  // reads with information no static pushdown could know. At 100 TB
  // "scan the tiles matching this (small, computed) item list" is the
  // dominant serving query; runtime filtering turns it from full-scan +
  // post-join-discard into exactly-the-needed reads.
  private var runtime: Array[Filter] = Array.empty

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    // only columns that survived pruning: Spark resolves these against
    // the scan OUTPUT, and a pruned column would fail analysis
    Array("band", "itemIdx", "timeMicros", "yChunk", "xChunk")
      .filter(required.fieldNames.contains)
      .map(Expressions.column)
  }

  override def filter(filters: Array[Filter]): Unit =
    runtime = filters.filter(TileFilterEval.supported)

  /** Runtime filters drop READS, never partitions: the partition list
    * (count + keys) must survive runtime filtering unchanged, or the
    * KeyGroupedPartitioning this scan advertised at plan time would lie
    * to the exchange-free aggregation sitting on top of it. An
    * empty-read shell costs one no-op task; the pruned IO is the win. */
  private def runtimeFiltered(parts: Array[InputPartition]): Array[InputPartition] =
    if (runtime.isEmpty) parts
    else parts.map { p =>
      val tp = p.asInstanceOf[TileInputPartition]
      tp.copy(reads = tp.reads.filter(r => runtime.forall(TileFilterEval.eval(_, r, plan.chunkY, plan.chunkX))))
    }

  /** Advertise the scan's NATIVE clustering: one input partition per
    * (yChunk, xChunk), so any aggregation or join whose keys contain the
    * chunk coordinates (mosaic, temporal reductions, tile joins — they
    * all group by band/chunk, a superset) needs NO Exchange on top of the
    * scan (requires `spark.sql.sources.v2.bucketing.enabled=true`).
    * At 100 TB the mosaic shuffle is the single largest data movement;
    * this removes it entirely for DSv2-sourced plans. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.read.partitioning._
    // only meaningful while the key columns survive column pruning
    // a limit-truncated scan mixes chunks inside one partition — never
    // advertise chunk keying for it
    if (limit < 0 && partitions.nonEmpty &&
        required.fieldNames.contains("yChunk") && required.fieldNames.contains("xChunk"))
      new KeyGroupedPartitioning(
        Array(Expressions.identity("yChunk"), Expressions.identity("xChunk")),
        partitions.length)
    else new UnknownPartitioning(0)
  }

  override def planInputPartitions(): Array[InputPartition] = runtimeFiltered(partitions)

  private def computePartitions(): Array[InputPartition] = {
    // metadata-only work-list with chunk-granular elision (R3) AND the
    // pushed predicates applied before any IO is scheduled (R1/R2)
    val byChunk = mutable.LinkedHashMap.empty[(Int, Int), mutable.ArrayBuffer[PlannedRead]]
    for {
      r <- TileScan.workList(plan.assets, plan.spec, plan.chunkY, plan.chunkX)
      if pushed.forall(TileFilterEval.eval(_, r, plan.chunkY, plan.chunkX))
    } byChunk.getOrElseUpdate((r.yChunk, r.xChunk), mutable.ArrayBuffer.empty) += r
    val parts = byChunk.map { case ((yc, xc), rs) =>
      TileInputPartition(yc, xc, rs.toArray): InputPartition
    }
    if (limit < 0) parts.toArray
    else {
      // pushed LIMIT: keep the first `limit` reads in enumeration order
      // (one partition suffices — n is interactive-sized by contract)
      val take = parts.iterator
        .flatMap(_.asInstanceOf[TileInputPartition].reads).take(limit).toArray
      if (take.isEmpty) Array.empty
      else Array(TileInputPartition(take.head.yChunk, take.head.xChunk, take))
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    TileReaderFactory(plan.chunkY, plan.chunkX, plan.readerFor, plan.errorsAsNodata,
      required.fieldNames)
}

final case class TileInputPartition(yChunk: Int, xChunk: Int, reads: Array[PlannedRead])
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  /** All reads in one partition share a chunk by construction; the key
    * backs the scan's reported KeyGroupedPartitioning. The key lives on
    * the partition (not `reads.head`) so a runtime-filtered shell with
    * zero surviving reads still reports its chunk. */
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](yChunk, xChunk))
}

final case class TileReaderFactory(
    chunkY: Int,
    chunkX: Int,
    readerFor: AssetRow => Reader,
    errorsAsNodata: ErrorsAsNodata,
    fieldNames: Array[String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new TilePartitionReader(partition.asInstanceOf[TileInputPartition].reads,
      chunkY, chunkX, new ReaderCache(readerFor, errorsAsNodata), fieldNames)
}

/** Emits one row per planned read, reading pixels through the scan's
  * shared [[ReaderCache]] only when the projection keeps `pixels`. */
final class TilePartitionReader(
    reads: Array[PlannedRead],
    chunkY: Int,
    chunkX: Int,
    cache: ReaderCache,
    fieldNames: Array[String]) extends PartitionReader[InternalRow] {

  private val needPixels = fieldNames.contains("pixels")
  private var i = -1
  private var row: InternalRow = _

  override def next(): Boolean = {
    i += 1
    if (i >= reads.length) return false
    val r = reads(i)
    // column pruning => zero pixel IO, no reader opened (R5)
    val px = if (needPixels) cache.read(r) else null
    // NO value-based elision here: the row set must be identical under
    // every projection, or `count()` and a pixel aggregate over the same
    // source would disagree (DSv2 requires pruning to be a pure
    // optimization). All-nodata tiles flow through; TileScan.scan filters
    // them above the scan.
    row = new GenericInternalRow(fieldNames.map[Any] {
      case "band" => UTF8String.fromString(r.asset.band)
      case "pixels" => org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(px)
      case c => r.meta(c, chunkY, chunkX)
    })
    true
  }

  override def get(): InternalRow = row

  override def close(): Unit = cache.close()
}
