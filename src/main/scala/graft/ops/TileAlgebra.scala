package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import graft.scan.{Tile, TileScan}

/** Elementwise algebra over tiles — the engine side of xarray band math
  * like NDVI (`(nir - red) / (nir + red)`, reference `README.md:52-53`).
  * Binary ops are the J5 self-join of SURVEY §2.3: align two
  * band-selections on (time item, spatial chunk) and zip their pixels.
  */
object TileAlgebra {

  /** Binary per-pixel combine of two single-band tile sets, aligned on
    * (itemIdx, yChunk, xChunk). Sparse alignment: a pixel missing on
    * either side is NaN (matches xarray NaN propagation). Inner join is
    * correct for arithmetic because NaN op anything = NaN — absent tiles
    * would yield all-NaN tiles, which the sparse representation elides
    * anyway (R4).
    */
  def binary(a: Dataset[Tile], b: Dataset[Tile], chunk: Int, outBand: String)
            (f: (Double, Double) => Double): Dataset[Tile] =
    binary(a, b, chunk, chunk, outBand)(f)

  def binary(a: Dataset[Tile], b: Dataset[Tile], chunkY: Int, chunkX: Int,
             outBand: String)
            (f: (Double, Double) => Double): Dataset[Tile] = {
    val spark = a.sparkSession
    import spark.implicits._
    a.joinWith(b,
        a("itemIdx") === b("itemIdx") &&
        a("yChunk") === b("yChunk") && a("xChunk") === b("xChunk"),
        "inner")
      .map { case (ta, tb) =>
        val da = TileScan.densify(ta, chunkY, chunkX)
        val db = TileScan.densify(tb, chunkY, chunkX)
        val out = new Array[Double](da.length)
        var i = 0
        while (i < out.length) { out(i) = f(da(i), db(i)); i += 1 }
        Tile(ta.itemIdx, -1, outBand, ta.timeMicros, ta.yChunk, ta.xChunk,
             0, 0, chunkY, chunkX, out)
      }
  }

  /** NDVI: the canonical band-math query (reference `README.md:53`). */
  def ndvi(nir: Dataset[Tile], red: Dataset[Tile], chunk: Int): Dataset[Tile] =
    binary(nir, red, chunk, "ndvi")((n, r) => (n - r) / (n + r))

  /** STORAGE-PARTITIONED binary combine — [[binary]]'s semantics with
    * ZERO Exchange on either side, for tile frames sourced from
    * [[graft.scan.v2.TileSourceV2]] (so also from [[TileScan.scan]]).
    * `binary` over a source without reported partitioning shuffles BOTH
    * full tile sides on (itemIdx, yChunk, xChunk); at 100 TB that is two
    * corpus-sized Exchanges for every NDVI. The V2 scan instead
    * ADVERTISES its native clustering — one input partition
    * per (yChunk, xChunk), `KeyGroupedPartitioning` + `HasPartitionKey`
    * — and Spark's storage-partitioned join (SPARK-37375) lets the same
    * (itemIdx, yChunk, xChunk) SortMergeJoin as [[binary]] run with NO
    * shuffle: chunk i merges with chunk i in place.
    *
    * TWO session confs gate it (both set by [[graft.Session]], which
    * builds every graft session):
    *
    *  - `spark.sql.sources.v2.bucketing.enabled=true` — honor DSv2
    *    KeyGroupedPartitioning at all;
    *  - `spark.sql.requireAllClusterKeysForCoPartition=false` — the join
    *    keys are a SUPERSET of the partition keys (itemIdx is a join key
    *    but not a partition key), which the default co-partition check
    *    rejects; relaxing it accepts subset-key co-location, which is
    *    exactly right here (equal (item,y,x) ⇒ equal (y,x) ⇒ same
    *    partition on both sides). A join on EXACTLY the partition keys
    *    needs no such relaxation (SpjSpec pins that form conf-free).
    *    The relaxation is correctness-neutral session-wide; its only
    *    risk is accepting a degenerate subset partitioning where
    *    re-shuffling would have spread skew — for tile algebra the
    *    chunk IS the natural unit of work.
    *
    * Without the confs the op still computes correctly — it just pays
    * [[binary]]'s two Exchanges (j14 asserts the zero-shuffle shape
    * teeth-out). A BROADCAST join also short-circuits SPJ (a broadcast
    * beats even a zero-shuffle SMJ when one side is small); SPJ is the
    * big×big path. This is the engine-core analog of the reference's
    * free chunk alignment (dask aligns same-grid chunks with zero data
    * movement, `to_dask.py:88-103`) and of j13's bucketed-layout thesis
    * — except the "layout" is the scan's own chunk grid, paid at
    * planning time, not a write.
    *
    * DEGRADES (Exchange reappears — pinned in SpjSpec) when the two
    * sides' chunk grids differ: different `chunk` sizes produce
    * incompatible key-grouped partitionings and Spark shuffles both
    * sides (and a raw coordinate match across different grids would be
    * semantically wrong anyway). Same-grid inputs are the contract,
    * exactly as in the reference (dask re-chunks mismatched grids at
    * full data cost).
    *
    * Both arguments must be SEPARATE [[graft.scan.v2.TileSourceV2.scan]]
    * calls (each mints its own single-use plan token), each planned to
    * one band (band-filtered asset list or a pushed band predicate —
    * pushed filters prune reads, never partitions, so the two sides
    * keep identical partition-value sets). */
  def binaryAligned(a: DataFrame, b: DataFrame, chunkY: Int, chunkX: Int,
                    outBand: String)
                   (f: (Double, Double) => Double): Dataset[Tile] =
    binary(a.as[Tile](Encoders.product[Tile]),
           b.as[Tile](Encoders.product[Tile]), chunkY, chunkX, outBand)(f)
}
