package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.core.{Bounds, RasterSpec, Window}
import graft.scan._
import graft.scan.v2.TileSourceV2

/** Counts actual pixel reads — local mode shares the JVM, so the static
  * counter observes executor-side activity. */
object CountingReads {
  val reads = new AtomicInteger(0)
  def factory: AssetRow => Reader = a => new Reader {
    private val inner = FakeReader(a.url)
    def read(w: Window): Array[Double] = { reads.incrementAndGet(); inner.read(w) }
  }
}

class TileSourceV2Spec extends SparkSpec {

  test("short name graft-tiles resolves through DataSourceRegister") {
    val err = intercept[Exception] {
      spark.read.format("graft-tiles").option("plan", "no-such-plan").load()
    }
    // resolution succeeded (our provider threw on the unknown plan token,
    // not Spark's ClassNotFound/DataSource lookup)
    assert(!err.getMessage.contains("Failed to find"), err.getMessage)
  }

  private val spec = RasterSpec(32633, Bounds(0, 0, 160, 160), 10, 10) // 16x16 px
  private val chunk = 8 // 2x2 chunk grid

  private def assets: Seq[AssetRow] = Seq(
    AssetRow(0, 0, "red", 1000L, "fake://red/0", 0, 0, 160, 160, 1.0, 0.0),
    AssetRow(0, 1, "nir", 1000L, "fake://nir/0", 0, 0, 160, 160, 1.0, 0.0),
    AssetRow(1, 0, "red", 2000L, "fake://red/1", 0, 80, 80, 160, 1.0, 0.0), // top-left quarter
    AssetRow(1, 1, "nir", 2000L, "fake://nir/1", 0, 80, 80, 160, 1.0, 0.0))

  test("v2 source matches the mapPartitions scan") {
    import spark.implicits._
    val v1 = TileScan.scan(spark, assets, spec, chunk).collect()
      .map(t => (t.itemIdx, t.band, t.yChunk, t.xChunk, t.rowOff, t.colOff,
        t.height, t.width, t.pixels.toSeq)).sortBy(_.toString)
    val v2 = TileSourceV2.scan(spark, assets, spec, chunk).as[Tile].collect()
      .map(t => (t.itemIdx, t.band, t.yChunk, t.xChunk, t.rowOff, t.colOff,
        t.height, t.width, t.pixels.toSeq)).sortBy(_.toString)
    assert(v2.nonEmpty && v2.toSeq == v1.toSeq)
  }

  test("reported KeyGroupedPartitioning: chunk-keyed aggregation plans no Exchange") {
    import org.apache.spark.sql.functions._
    // the mosaic shape: group by (band, yChunk, xChunk) — a superset of
    // the scan's reported (yChunk, xChunk) clustering, so the partial+
    // final aggregate runs scan-local with ZERO shuffle (the single
    // largest data movement of a 100 TB composite, gone)
    val agg = TileSourceV2.scan(spark, assets, spec, chunk)
      .groupBy(col("band"), col("yChunk"), col("xChunk"))
      .agg(count(lit(1)).as("n"), sum(element_at(col("pixels"), 1)).as("s"))
    val n = agg.count()
    assert(n == 2L * 2 * 2) // 2 bands x 2x2 chunk grid
    val p = agg.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"chunk-keyed agg over the v2 scan must not shuffle:\n$p")
    // pruning the key columns away falls back to unknown partitioning
    // (and a normal shuffle) rather than lying about clustering
    val noKeys = TileSourceV2.scan(spark, assets, spec, chunk)
      .groupBy(col("band")).agg(count(lit(1)))
    noKeys.collect()
    assert(noKeys.queryExecution.executedPlan.toString.contains("Exchange"),
      "band-only grouping cannot be satisfied by chunk clustering")
  }

  test("band + chunk predicates prune reads before IO (PushedFilters)") {
    import spark.implicits._
    CountingReads.reads.set(0)
    val df = TileSourceV2.scan(spark, assets, spec, chunk, CountingReads.factory)
      .filter($"band" === "red" && $"yChunk" === 0 && $"xChunk" === 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") || plan.contains("graft_tiles"),
      s"expected DSv2 scan with pushdown in plan:\n$plan")
    val rows = df.collect()
    // chunk (0,0): both red assets cover it -> 2 tiles, 2 reads, not 16
    assert(rows.length == 2)
    assert(CountingReads.reads.get() == 2,
      s"expected 2 pruned reads, got ${CountingReads.reads.get()}")
  }

  test("time-range predicate prunes whole items") {
    import spark.implicits._
    CountingReads.reads.set(0)
    val rows = TileSourceV2.scan(spark, assets, spec, chunk, CountingReads.factory)
      .filter($"timeMicros" < 1500L).collect()
    // item 0 only: full-footprint red+nir over 4 chunks = 8 tiles
    assert(rows.length == 8)
    assert(CountingReads.reads.get() == 8)
  }

  test("metadata-only projection does zero pixel IO") {
    import spark.implicits._
    CountingReads.reads.set(0)
    val n = TileSourceV2.scan(spark, assets, spec, chunk, CountingReads.factory)
      .select($"band", $"yChunk", $"xChunk").distinct().count()
    assert(n > 0)
    assert(CountingReads.reads.get() == 0,
      s"metadata projection must not read pixels, got ${CountingReads.reads.get()} reads")
  }

  test("row multiplicity is projection-independent (all-nodata tiles flow)") {
    import spark.implicits._
    // every read is all-NaN; pruning `pixels` must not change the row set
    val df = TileSourceV2.scan(spark, assets, spec, chunk, _ => NodataReader())
    val metaCount = df.select($"band", $"yChunk", $"xChunk").count()
    val fullCount = df.select($"pixels").count()
    // planned work-list in both modes: 2 full-footprint assets x 4 chunks
    // + 2 quarter-footprint assets x 1 chunk = 10
    assert(metaCount == 10 && fullCount == 10,
      s"meta=$metaCount full=$fullCount")
    // value-level sparsity is the consumer's explicit filter
    val sparse = df.filter(org.apache.spark.sql.functions
      .exists($"pixels", p => !org.apache.spark.sql.functions.isnan(p))).count()
    assert(sparse == 0)
  }

  test("Long pushdown compares exactly above 2^53") {
    import spark.implicits._
    val big = (1L << 53) // 9007199254740992; +1 is indistinguishable in double
    val a = Seq(
      AssetRow(0, 0, "red", big + 1, "fake://hi", 0, 0, 160, 160, 1.0, 0.0),
      AssetRow(1, 0, "red", big, "fake://lo", 0, 0, 160, 160, 1.0, 0.0))
    val rows = TileSourceV2.scan(spark, a, spec, chunk)
      .filter($"timeMicros" > big).select($"itemIdx").distinct()
      .as[Int].collect().toSeq
    // double-rounded comparison would prune item 0's tiles before IO and
    // return nothing; exact Long comparison keeps them
    assert(rows == Seq(0))
  }

  test("aggregate pushdown: count/min/max answered from metadata, zero pixel IO, one row from the driver") {
    import spark.implicits._
    CountingReads.reads.set(0)
    val df = TileSourceV2.scan(spark, assets, spec, chunk,
        readerFor = CountingReads.factory)
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.min($"timeMicros").as("tmin"),
        org.apache.spark.sql.functions.max($"timeMicros").as("tmax"),
        org.apache.spark.sql.functions.min($"band").as("bmin"),
        org.apache.spark.sql.functions.max($"band").as("bmax"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AGG-PUSHDOWN"), s"aggregate was not pushed:\n$plan")
    val r = df.collect().head
    // ground truth from the unaggregated scan
    val base = TileSourceV2.scan(spark, assets, spec, chunk)
    val want = base.agg(
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.min($"timeMicros"),
      org.apache.spark.sql.functions.max($"timeMicros"),
      org.apache.spark.sql.functions.min($"band"),
      org.apache.spark.sql.functions.max($"band")).collect().head
    assert(r.toSeq === want.toSeq)
    assert(CountingReads.reads.get() == 0, "aggregate pushdown must not read pixels")
  }

  test("limit pushdown: n example tiles cost n reads, not a corpus scan") {
    import spark.implicits._
    CountingReads.reads.set(0)
    val df = TileSourceV2.scan(spark, assets, spec, chunk,
        readerFor = CountingReads.factory)
      .limit(3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LIMIT-PUSHDOWN 3"), s"limit was not pushed:\n$plan")
    val rows = df.collect()
    assert(rows.length === 3)
    assert(CountingReads.reads.get() <= 3,
      s"pushed limit must bound pixel IO, saw ${CountingReads.reads.get()} reads")
    // full scan unaffected (limit state is per-builder)
    assert(TileSourceV2.scan(spark, assets, spec, chunk).count() > 3)
  }

  test("runtime filtering prunes reads but preserves partition count and keys") {
    import graft.scan.v2._
    import org.apache.spark.sql.sources.In
    val plan = ScanPlan(assets, spec, chunk, a => FakeReader(a.url),
      ErrorsAsNodata.none, applyRescale = true)
    val scan = new TileScanBuilder(plan).build()
    val before = scan.toBatch.planInputPartitions()
      .map(_.asInstanceOf[TileInputPartition])
    val rf = scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
    assert(rf.filterAttributes().map(_.fieldNames()(0)).toSet ===
      Set("band", "itemIdx", "timeMicros", "yChunk", "xChunk"))
    rf.filter(Array[org.apache.spark.sql.sources.Filter](In("band", Array("red"))))
    val after = scan.toBatch.planInputPartitions()
      .map(_.asInstanceOf[TileInputPartition])
    // partition shells survive (KeyGroupedPartitioning must stay truthful)
    assert(after.length === before.length)
    assert(after.map(p => (p.yChunk, p.xChunk)).toSeq ===
      before.map(p => (p.yChunk, p.xChunk)).toSeq)
    // but only the surviving band's reads remain
    assert(after.flatMap(_.reads).forall(_.asset.band == "red"))
    assert(after.map(_.reads.length).sum === 5)
    assert(before.map(_.reads.length).sum === 10)
  }

  test("runtime filtering end-to-end: a selective dim join prunes pixel IO (DPP for tiles)") {
    import spark.implicits._
    CountingReads.reads.set(0)
    val dim = Seq(("red", 1), ("blue", 2)).toDF("b", "flag")
    val tiles = TileSourceV2.scan(spark, assets, spec, chunk,
      readerFor = CountingReads.factory)
    val sel = dim.filter($"flag" === 1)
    val joined = tiles.join(sel, tiles("band") === sel("b"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val n = joined.as[Long].collect().head
    assert(n === 5L) // red: full-footprint item 0 (4 chunks) + quarter item 1 (1 chunk)
    // the runtime IN-filter must have kept nir tiles from being read;
    // if DPP did not engage this assert catches it (10 = all reads)
    assert(CountingReads.reads.get() <= 5,
      s"runtime filtering should prune nir reads, saw ${CountingReads.reads.get()}")
  }

  test("aggregate pushdown declines: grouped, pixel-typed, or filtered aggregates fall back correctly") {
    import spark.implicits._
    // grouped -> not pushed, still correct
    val grouped = TileSourceV2.scan(spark, assets, spec, chunk)
      .groupBy($"band").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    assert(!grouped.queryExecution.executedPlan.toString.contains("AGG-PUSHDOWN"))
    assert(grouped.orderBy($"band").as[(String, Long)].collect().toSeq ===
      Seq(("nir", 5L), ("red", 5L)))
    // filtered -> residual filter blocks complete pushdown; result correct
    val filtered = TileSourceV2.scan(spark, assets, spec, chunk)
      .filter($"band" === "red")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    assert(!filtered.queryExecution.executedPlan.toString.contains("AGG-PUSHDOWN"))
    assert(filtered.as[Long].collect().head === 5L)
  }

  test("reported statistics: work-list census, pruning-aware, drives hint-free broadcast") {
    import spark.implicits._
    def leafStats(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collectLeaves().head.stats
    val tiles = TileSourceV2.scan(spark, assets, spec, chunk).toDF()
    // 10 planned reads (item0 full grid x2 bands + item1 one chunk x2),
    // each an 8x8 window: 48 B shell + 512 B pixels
    val full = leafStats(tiles)
    assert(full.rowCount.contains(BigInt(10)), s"rowCount: $full")
    assert(full.sizeInBytes === BigInt(10 * (48 + 64 * 8)), s"bytes: $full")
    // column pruning collapses bytes to the metadata shells
    val meta = leafStats(tiles.select($"band", $"height", $"width"))
    assert(meta.sizeInBytes === BigInt(10 * 48), s"pruned bytes: $meta")
    // pushed filters shrink the census before any IO
    val red = leafStats(tiles.filter($"band" === "red"))
    assert(red.rowCount.contains(BigInt(5)), s"filtered rowCount: $red")
    // the payoff: a fact table joins the planned work-list with NO hint
    // and the tile side broadcasts itself on reported stats alone
    val fact = spark.range(0, 3000000).select(
      org.apache.spark.sql.functions.when($"id" % 2 === 0, "red")
        .otherwise("nir").as("band"), $"id")
    val pre = fact.join(tiles.select($"band", $"height"), Seq("band"))
      .queryExecution.sparkPlan.toString
    assert(pre.contains("BroadcastHashJoin"),
      s"reported stats must drive a hint-free broadcast:\n$pre")
    assert(!pre.contains("SortMergeJoin"), s"fact side must not shuffle:\n$pre")
  }

  test("work-list planning equals the chunk-grid cross-product: partitions, reads, pushed aggregates") {
    import org.apache.spark.sql.connector.expressions.Expressions.column
    import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}
    import org.apache.spark.sql.connector.read.InputPartition
    import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, In, Or}
    import graft.scan.v2.{AggResultPartition, PlannedRead, ScanPlan, TileAggScanV2, TileInputPartition, TileScanV2}

    // The enumeration the v2 source planned with before it shared
    // TileScan.workList: every asset against every chunk of the grid.
    def crossProduct(as: Seq[AssetRow], ch: Int, keep: (AssetRow, Int, Int) => Boolean): Seq[PlannedRead] = {
      val grid = TileScan.chunkGrid(spec, ch)
      for {
        a <- as if a.url != null
        assetWin = spec.windowFor(a.bounds)
        if !assetWin.isEmpty
        (yc, xc, cw) <- grid
        if cw.intersects(assetWin)
        if keep(a, yc, xc)
      } yield PlannedRead(a, yc, xc, cw.intersect(assetWin))
    }
    def byChunk(reads: Seq[PlannedRead]): Seq[((Int, Int), Seq[PlannedRead])] = {
      val m = scala.collection.mutable.LinkedHashMap.empty[(Int, Int), Vector[PlannedRead]]
      reads.foreach(r => m((r.yChunk, r.xChunk)) = m.getOrElse((r.yChunk, r.xChunk), Vector.empty) :+ r)
      m.toSeq
    }
    def meta(r: PlannedRead, ch: Int): Map[String, Any] = Map(
      "itemIdx" -> r.asset.itemIdx, "band" -> r.asset.band, "timeMicros" -> r.asset.timeMicros,
      "yChunk" -> r.yChunk, "xChunk" -> r.xChunk,
      "rowOff" -> (r.window.rowOff - r.yChunk * ch), "colOff" -> (r.window.colOff - r.xChunk * ch),
      "height" -> r.window.height, "width" -> r.window.width)
    val aggCols = Seq("itemIdx", "band", "timeMicros", "yChunk", "xChunk", "rowOff", "colOff", "height", "width")
    val aggFns: Array[AggregateFunc] = (new CountStar: AggregateFunc) +:
      aggCols.flatMap(c => Seq(new Min(column(c)), new Max(column(c)))).toArray[AggregateFunc]
    def order(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Int, y: Int) => x < y
      case (x: Long, y: Long) => x < y
      case (x: String, y: String) => x < y
      case _ => false
    }
    def expectedAgg(reads: Seq[PlannedRead], ch: Int): Seq[Any] = {
      val ms = reads.map(meta(_, ch))
      reads.size.toLong +: aggCols.flatMap { c =>
        val vs = ms.map(_(c))
        if (vs.isEmpty) Seq(null, null) else Seq(vs.reduce((a, b) => if (order(b, a)) b else a),
          vs.reduce((a, b) => if (order(a, b)) b else a))
      }
    }

    // (pushed filters, the same predicate on work-list metadata)
    val filterCases: Seq[(Array[Filter], (AssetRow, Int, Int) => Boolean)] = Seq(
      (Array.empty, (_, _, _) => true),
      (Array(EqualTo("band", "b1")), (a, _, _) => a.band == "b1"),
      (Array(In("yChunk", Array[Any](0, 2)), GreaterThanOrEqual("itemIdx", 1)),
        (a, yc, _) => (yc == 0 || yc == 2) && a.itemIdx >= 1),
      (Array(Or(EqualTo("xChunk", 1), EqualTo("timeMicros", 0L))),
        (a, _, xc) => xc == 1 || a.timeMicros == 0L))

    val rnd = new scala.util.Random(23)
    var planned = 0
    for (trial <- 0 until 8) {
      val ch = Seq(3, 5, 8, 16)(trial % 4)
      // footprints from -80 to 240 map units around the 0..160 grid: many
      // assets stick out of it, some miss it entirely, some are missing
      val as = (0 until 12).map { k =>
        val x0 = rnd.nextInt(32) * 10 - 80; val y0 = rnd.nextInt(32) * 10 - 80
        val w = rnd.nextInt(12) * 10; val h = rnd.nextInt(12) * 10
        AssetRow(k / 3, k % 3, s"b${k % 3}", (k / 3).toLong * 1000L,
          if (rnd.nextInt(6) == 0) null else s"fake://$trial/$k",
          x0, y0, x0 + w, y0 + h, 1.0, 0.0)
      }
      val plan = ScanPlan(as, spec, ch, a => FakeReader(a.url), ErrorsAsNodata.none, applyRescale = true)
      for (((pushed, keep), fi) <- filterCases.zipWithIndex) {
        val want = crossProduct(as, ch, keep)
        planned += want.size
        val parts = new TileScanV2(plan, pushed, TileSourceV2.schema).planInputPartitions()
          .map { case p: TileInputPartition => (p.yChunk, p.xChunk) -> p.reads.toSeq }.toSeq
        assert(parts == byChunk(want), s"trial $trial (chunk $ch), filter case $fi")
        val agg: InputPartition =
          new TileAggScanV2(plan, pushed, new Aggregation(aggFns, Array.empty)).planInputPartitions().head
        val got = agg.asInstanceOf[AggResultPartition].values.toSeq
        assert(got == expectedAgg(want, ch), s"trial $trial (chunk $ch), filter case $fi")
      }
    }
    assert(planned > 100, s"the fuzz planned only $planned reads")
  }
}
