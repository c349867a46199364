package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.util.CollectionAccumulator

import graft.core.{Bounds, RasterSpec, Window}
import graft.scan._
import graft.scan.v2.TileSourceV2

/** Readers that record every open and close as (task attempt, url) in
  * accumulators, so a spec can see the reader lifecycle of each task. */
object ReaderLifecycle {
  def factory(opens: CollectionAccumulator[(Long, String)],
              closes: CollectionAccumulator[(Long, String)]): AssetRow => Reader = { a =>
    val task = org.apache.spark.TaskContext.get().taskAttemptId()
    opens.add((task, a.url))
    new Reader {
      private val inner = FakeReader(a.url)
      def read(w: Window): Array[Double] = inner.read(w)
      override def close(): Unit = closes.add((task, a.url))
    }
  }

  /** Fails every read of `bad`; reads every other url like [[FakeReader]]. */
  def failing(bad: String): AssetRow => Reader =
    a => if (a.url == bad) BoomReader() else FakeReader(a.url)
}

/** `TileScan.scan` and the v2 source it filters read through one
  * [[ReaderCache]]: the same values under rescale and errors-as-nodata, the
  * same reader lifecycle, and no second copy of the read body in the
  * sources. */
class ScanReadSpec extends SparkSpec {

  private val spec = RasterSpec(32633, Bounds(0, 0, 640, 640), 10, 10) // 64x64 px
  private val chunk = 16 // 4x4 chunk grid

  private def rowKey(t: Tile): Seq[Any] =
    Seq(t.itemIdx, t.assetIdx, t.band, t.timeMicros, t.yChunk, t.xChunk,
      t.rowOff, t.colOff, t.height, t.width,
      t.pixels.map(java.lang.Double.doubleToLongBits).toSeq)

  private def multiset(ts: Seq[Tile]): Map[Seq[Any], Int] =
    ts.map(rowKey).groupBy(identity).view.mapValues(_.size).toMap

  test("rescale and errors-as-nodata: both scans read the same values") {
    import spark.implicits._
    val bad = "fake://bad"
    val assets = Seq(
      AssetRow(0, 0, "b0", 0L, "fake://ok/0", 0, 0, 640, 640, 0.5, 10.0),
      AssetRow(1, 0, "b0", 1L, bad, 0, 0, 640, 640, 2.0, -3.0),
      AssetRow(2, 1, "b1", 2L, "fake://ok/2", 90, 130, 410, 500, 0.25, 1.0),
      AssetRow(3, 1, "b1", 3L, "fake://ok/3", 0, 0, 640, 640, 1.0, 0.0))
    val matching = ErrorsAsNodata(Seq((classOf[RuntimeException], "404")))
    // driver oracle: every planned read, masked and rescaled
    val want = TileScan.workList(assets, spec, chunk).map { r =>
      val px =
        if (r.asset.url == bad) Array.fill(r.window.width * r.window.height)(Double.NaN)
        else FakeReader(r.asset.url).read(r.window).map(_ * r.asset.scale + r.asset.offset)
      Tile(r.asset.itemIdx, r.asset.assetIdx, r.asset.band, r.asset.timeMicros,
        r.yChunk, r.xChunk, r.rowOff(chunk), r.colOff(chunk), r.window.height, r.window.width, px)
    }
    val v1 = TileScan.scan(spark, assets, spec, chunk, ReaderLifecycle.failing(bad), matching)
      .collect().toSeq
    val v2 = TileSourceV2.scan(spark, assets, spec, chunk, ReaderLifecycle.failing(bad), matching)
      .as[Tile].collect().toSeq
    // v2 keeps every planned read, the masked windows as all-NaN rows
    assert(multiset(v2) == multiset(want))
    assert(v2.count(_.itemIdx == 1) == 16 && v2.filter(_.itemIdx == 1).forall(_.pixels.forall(_.isNaN)))
    // TileScan elides the all-NaN reads and agrees on every other row
    assert(multiset(v1) == multiset(want.filter(_.pixels.exists(!_.isNaN))))
    assert(multiset(v1) == multiset(v2.filter(_.pixels.exists(!_.isNaN))))
    assert(v1.exists(t => t.pixels.exists(v => !v.isNaN && v != math.rint(v))))

    // a policy that does not match the error fails both scans
    for (policy <- Seq(ErrorsAsNodata(Seq((classOf[IllegalStateException], ""))),
                       ErrorsAsNodata(Seq((classOf[RuntimeException], "403"))),
                       ErrorsAsNodata.none)) {
      intercept[org.apache.spark.SparkException] {
        TileScan.scan(spark, assets, spec, chunk, ReaderLifecycle.failing(bad), policy).collect()
      }
      intercept[org.apache.spark.SparkException] {
        TileSourceV2.scan(spark, assets, spec, chunk, ReaderLifecycle.failing(bad), policy)
          .collect()
      }
    }
  }

  test("reader lifecycle: each url opened at most once per task, every reader closed once") {
    // 20 assets over 7 urls, each covering the 16-chunk grid
    val assets = (0 until 20).map { i =>
      AssetRow(i, i, "b", i.toLong, s"fake://u${i % 7}", 0, 0, 640, 640, 1.0, 0.0)
    }
    val pairs = TileScan.workList(assets, spec, chunk).size
    def lifecycle(run: (AssetRow => Reader) => Long): (Seq[(Long, String)], Seq[(Long, String)], Long) = {
      val opens = spark.sparkContext.collectionAccumulator[(Long, String)]("opens")
      val closes = spark.sparkContext.collectionAccumulator[(Long, String)]("closes")
      val rows = run(ReaderLifecycle.factory(opens, closes))
      (opens.value.asScala.toSeq, closes.value.asScala.toSeq, rows)
    }
    def checkOpenOnce(opens: Seq[(Long, String)], closes: Seq[(Long, String)]): Unit = {
      assert(opens.nonEmpty)
      assert(opens.distinct.size == opens.size, s"a url opened twice in one task: $opens")
      assert(closes.sorted == opens.sorted, s"opens $opens, closes $closes")
    }

    val (o1, c1, n1) = lifecycle(f => TileScan.scan(spark, assets, spec, chunk, f).count())
    assert(n1 == pairs)
    checkOpenOnce(o1, c1)
    assert(o1.size == 16 * 7) // the v2 source's tasks: one per chunk, each reading all 7 urls

    val (o2, c2, n2) = lifecycle(f => TileSourceV2.scan(spark, assets, spec, chunk, f)
      .select("pixels").collect().length.toLong)
    assert(n2 == pairs)
    checkOpenOnce(o2, c2)
    assert(o2.size == 16 * 7) // one task per chunk, each reading all 7 urls

    val (o3, c3, n3) = lifecycle(f => TileSourceV2.scan(spark, assets, spec, chunk, f)
      .select("band", "yChunk", "xChunk", "height").collect().length.toLong)
    assert(n3 == pairs)
    assert(o3.isEmpty && c3.isEmpty, s"a projection without pixels opened $o3")
  }

  test("source guard: errorsAsNodata.matches( appears only in the shared read body") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val users = files(root).filter { f =>
      f.getName.endsWith(".scala") && {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.mkString.contains("errorsAsNodata.matches(") finally src.close()
      }
    }
    assert(users.map(_.getName) == Seq("PlannedRead.scala"),
      "errors-as-nodata masking outside ReaderCache: " + users.mkString(", "))
  }

  test("source guard: ReaderCache is constructed only by the v2 source") {
    val at = SourceGuard.offenders("src/main/scala/graft", "new ReaderCache(", "TileSourceV2.scala")
    assert(at.isEmpty, "a second read body owner: " + at.mkString(", "))
  }
}
