package graft

/** Separate-JVM main for [[LocalClusterSpec]]. `local[32]` shares one
  * JVM between driver and executors, which hides closure-serialization
  * and class-loading bugs in exactly the surfaces a real cluster
  * exercises on every task: the codegen Catalyst expressions, the typed
  * Aggregators (median, HLL), broadcast model state, and the DSv2
  * source. `local-cluster[2,2,1024]` launches REAL separate executor
  * JVMs (Spark's standalone worker path), so every task closure,
  * broadcast value, and custom expression must serialize and class-load
  * across process boundaries — the 100 TB deployment's failure mode,
  * smoke-tested at sf0.001. Exits 0 iff every representative query
  * returns rows. */
object LocalClusterSmoke {

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    .map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")

  /** The representative serialization surface: DSv2 scan (custom Batch/
    * PartitionReader), MinHash-LSH dedup (codegen expressions + persist),
    * IVF-SQ8 (broadcast codebooks + quantized kernels), temporal median
    * (typed Aggregator), HLL sketch (binary-state Aggregator), the
    * indexed-archive loop (Hadoop FS handles + custom record iterators
    * inside mapPartitions tasks — r20), bloom words as plan literals
    * (k10). */
  private val representative = Seq(
    "r5_dsv2_pruned", "d2_minhash_lsh", "v14_ivfsq", "md1_median", "k2_hll_sketch",
    "r20_cdx_fetch", "k10_bloom_prune",
    // round 13: halo-exchange stencil (HaloFrag encoders + groupByKey/
    // mapGroups closures), LSH-seeded kNN graph (plan-literal hyperplanes
    // + codegen dot), k-core peeling (eager localCheckpoint per round —
    // on a real cluster the blocks live on EXECUTORS)
    "r24_focal_mean", "v23_knn_graph_expand", "x45_kcore",
    // round 14: fused-verify streaming admission (admitIncrementFused —
    // broadcast batch index + foreachBatch closure + lazy persisted
    // union leaves whose blocks live on EXECUTORS)
    "s9_stream_admit",
    // round 15: storage-partitioned band align (two V2 scans'
    // KeyGroupedPartitioning + HasPartitionKey honored across REAL
    // executor JVMs, in-query zero-Exchange assert), contour vertex
    // emission (flatMapGroups with ContourSeg encoders over the halo
    // exchange), polyline stitching (CC min-label + pointer-jump
    // localCheckpoint loop whose blocks live on executors)
    "j14_spj_band_align", "r34_contour_vertices", "r36_contour_polylines",
    // round 15b: PassJoin edit-distance join (signature flatMap closures
    // + levenshtein verify over shuffled candidates), histogram
    // equalization (driver-built CDF map as a BROADCAST read on every
    // executor task), SCC (nested FW-BW localCheckpoint loops whose
    // block-manager state lives on executors)
    "d15_fuzzy_join", "r45_hist_equalize", "x49_scc",
    "r47_basin_outlines", "x48_exact_substr",
    // round 17: exact longest-match search (WindowKeyHash/Dyn/Probe
    // kernel expressions — incl. the driver-collected key set INSIDE a
    // WindowKeyProbe expression that must serialize to executors — plus
    // the driver-probe loop and createDataFrame state), bucketed index
    // screen (bucketed-table SMJ across real executor JVMs, in-query
    // zero-index-Exchange assert), ring shoelace census (window + agg
    // over the fused mapGroups ring walk)
    "x53_exact_substr_longest", "x54_index_bucketed", "r50_ring_census",
    // round 18: broadcast LongOpenSet probe tables (the x53 key sets now
    // ship as ONE broadcast VALUE each — torrent-distributed to real
    // executor JVMs instead of riding the task binary), appended
    // bucketed index (mode-append saveAsTable bucket layout honored
    // across executors), shared positional-array table + member-tuple
    // census, ring roles (window-edge join + containment reductions
    // over the mapGroups walk)
    "x55_index_append", "x56_shared_arrays", "r51_ring_roles",
    "r52_polygon_census")

  def main(args: Array[String]): Unit = {
    val cp = System.getProperty("java.class.path")
    val spark = Session.start(Session.builder(4)
      .master("local-cluster[2,2,1024]")
      .appName("graft-local-cluster-smoke")
      .config("spark.executor.extraClassPath", cp)
      .config("spark.executor.extraJavaOptions", addOpens)
      .config("spark.executor.memory", "1024m"))
    try {
      val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
      representative.foreach { n =>
        val rows = SparkEntry.queries(n)(spark, dir).count()
        require(rows > 0, s"$n returned 0 rows under local-cluster")
        // stdout marker the spec asserts on, per query
        println(s"[local-cluster] $n OK ($rows rows)")
      }
      println("[local-cluster] ALL OK")
    } finally spark.stop()
  }
}
