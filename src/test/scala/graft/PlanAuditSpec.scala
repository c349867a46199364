package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan audits: the properties that decide whether these
  * operators survive a 100 TB cluster — broadcast vs shuffle joins,
  * scan-level filter/column pushdown, partial aggregation, absence of
  * accidental cartesian products — asserted on the real optimized plans
  * at sf0.001 so a regression fails CI, not the cluster.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df: DataFrame = Queries.all(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("j4 star join: all three dims broadcast, fact side never shuffles for the join") {
    val p = plan("j4_star_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), "star join must not degrade to cartesian")
  }

  test("j3 range join: broadcast nested loop on the tiny bucket side, no cartesian on the big side") {
    val p = plan("j3_range_join")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("p6 metadata filter reaches the parquet scan as a pushed filter") {
    val p = plan("p6_meta_filter")
    assert(p.contains("PushedFilters: [") && p.contains("o_orderpriority"),
      s"filter must be pushed to the scan:\n$p")
  }

  test("p1 projection prunes the scan to the selected columns only") {
    val p = plan("p1_projection")
    val readSchemas = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!readSchemas.contains("l_comment") && !readSchemas.contains("l_shipinstruct"),
      s"unused wide columns must not be read:\n$readSchemas")
  }

  test("q1 aggregation runs map-side partial aggregation inside whole-stage codegen") {
    val df = Queries.all("q1_agg")(spark, dir)
    val pre = df.queryExecution.executedPlan.toString
    assert(pre.contains("partial_sum"), "map-side partial aggregation expected")
    df.collect() // AQE finalizes the plan; codegen stages only show post-execution
    val post = df.queryExecution.executedPlan.toString
    // whole-stage codegen renders as "*(n)" stage prefixes in the simple plan string
    assert(post.contains("*(") && post.contains("HashAggregate"),
      s"agg pipeline must stay codegen'd:\n$post")
  }

  test("g1 salted aggregation is two exchanges max (salt phase + final phase)") {
    val p = plan("g1_salted_agg")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 3, s"expected salt+final (+order) shuffles only, got $exchanges:\n$p")
  }

  test("j6 as-of join is one shuffle (window) — no range cross-join operators") {
    val p = Queries.all("j6_asof")(spark, dir).queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"as-of must not plan a range cross join:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
  }

  test("k1 KMV sketch aggregates partially before the shuffle (mergeable sketch)") {
    val p = plan("k1_kmv_sketch")
    assert("ObjectHashAggregate|SortAggregate|HashAggregate".r.findAllIn(p).size >= 2,
      s"sketch must combine map-side:\n$p")
  }

  test("k3 grouped HLL partial-aggregates the token stream before the exchange") {
    val p = plan("k3_hll_grouped")
    // partial registers merge map-side: the exchange sits between a
    // partial and a final aggregate, never under the raw exploded tokens
    assert("ObjectHashAggregate|SortAggregate|HashAggregate".r.findAllIn(p).size >= 2,
      s"grouped sketch must combine map-side:\n$p")
    assert(p.toLowerCase.contains("partial_"), s"no partial aggregation in plan:\n$p")
  }

  test("d2 minhash verify never broadcasts the token-set table") {
    val df = Queries.all("d2_minhash_lsh")(spark, dir)
    // No explicit broadcast hint anywhere in the query (AQE stays free to
    // broadcast iff a side fits at runtime — that is not a hint).
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, s"d2 must not force any broadcast:\n${df.queryExecution.analyzed}")
    // The sets table is semi-join-pruned to candidate ids before the verify.
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("LeftSemi"), s"sets must be pruned to candidate ids:\n$opt")
  }

  test("d5 embedding near-dup blocks via equi-join — no cartesian, no nested-loop join") {
    val p = plan("d5_embedding_dup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"d5 must block by LSH band equi-join, not all-pairs:\n$p")
  }

  test("v6 kmeans: assignment is a map-only projection — no join, no cartesian") {
    // the centroid table rides in the plan as one array literal and the
    // n x k argmin is one kernel projection, at k = 8 (v6) and k = 80
    // alike: the plan must contain NO join operator at all on the
    // assignment path and never a cartesian
    val prepared = graft.ann.Ann.prepare(
      spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding")
    val k80 = graft.ann.Ann.kmeans(prepared, 80, 1).queryExecution.executedPlan.toString
    for (p <- Seq(plan("v6_kmeans_ivf"), k80)) {
      assert(!p.contains("CartesianProduct"), p)
      assert(!p.contains("Join"), s"assignment should not need a centroid join:\n$p")
    }
  }

  test("ivfKnn: candidates come from an equi-join on cell id, never all-pairs") {
    import org.apache.spark.sql.functions.col
    val prepared = graft.ann.Ann.prepare(
      spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding")
    val df = graft.ann.Ann.ivfKnn(prepared, 4, 1, 5, 2, col("id") < 5)
    val p = df.queryExecution.executedPlan.toString
    // the only nested-loop is the deliberate broadcast of the k x dim
    // centroid table (KBs); the data-sized candidate join must be a hash
    // equi-join on cid and nothing may plan a raw cartesian
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"candidate probe must be an equi-join on the cell id:\n$p")
  }

  test("x6 decontaminate: train grams aggregate map-side after the eval-gram join") {
    val p = plan("x6_decontaminate")
    assert(p.contains("partial_count"), s"per-doc gram counts must partial-aggregate:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x7/x8 shard windows are partitioned — no global single-partition window") {
    for (q <- Seq("x7_shard_export", "x8_pack_sequences")) {
      val p = plan(q)
      assert(p.contains("windowspecdefinition(shard"),
        s"$q window must be partitioned by shard:\n$p")
    }
  }

  test("x9 rebalance: per-language stats broadcast against one corpus pass") {
    val p = plan("x9_rebalance")
    assert(p.contains("BroadcastHashJoin"), s"k-row stats table must broadcast:\n$p")
    // main pass + stats pass — deriving N/k from stats must not add a third scan
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 2, s"expected at most 2 corpus scans, got $scans:\n$p")
  }

  test("x47 PPS sampling: per-group totals broadcast, no sort-merge, no window") {
    val p = plan("x47_pps_sample")
    assert(p.contains("BroadcastHashJoin"), s"totals table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), "a census-sized totals table must never SMJ")
    assert(!p.contains("Window"), "PPS is a stateless per-row filter — no window")
  }

  test("r23 zonal stats: no join at all — zones ride the task closure, one shuffle for partials") {
    val p = plan("r23_zonal_stats")
    assert(!p.contains("Join"), s"pixel-zone pair space must not materialize:\n$p")
  }

  test("x46 triangles / x45 k-core: every join keyed, no cartesian, no nested loop") {
    for (n <- Seq("x46_triangles", "x45_kcore")) {
      val p = plan(n)
      assert(!p.contains("CartesianProduct"), s"$n:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$n:\n$p")
    }
  }

  test("v23 graph ANN: bucket joins are hash equi-joins, never all-pairs") {
    val p = plan("v23_knn_graph_expand")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashJoin"), s"bucket seeding must be an equi-join:\n$p")
  }

  test("d7 winnowing: fingerprint table computed once, consumed from cache") {
    val p = plan("d7_winnow_spans")
    // both consumers (shared-fp census, per-doc join) must read the cached
    // table; the plan string re-prints the cached child under each
    // InMemoryTableScan, so raw "Scan parquet" counts are not meaningful
    val cacheScans = "InMemoryTableScan".r.findAllIn(p).size
    assert(cacheScans >= 2,
      s"winnow table must persist and serve both consumers (got $cacheScans cache scans):\n$p")
  }

  test("x13 bloom decon: codegen might_contain pre-filter guards the exact join") {
    val p = plan("x13_bloom_decon")
    assert(p.contains("might_contain"),
      s"train grams must probe the bloom sketch before the join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("v8 admission: one broadcast of the centroid table, no cartesian on vectors") {
    val df = Queries.all("v8_ivf_admit")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the deliberate k-row broadcast shows as BroadcastNestedLoopJoin;
    // the data-sized admitted/centroid join must be a hash equi-join
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d8 span removal: uniform-key gram census aggregates map-side, joins stay equi") {
    val p = plan("d8_dup_spans")
    // duplicate census must partial-aggregate before its shuffle — at
    // 100 TB the gram stream is the corpus token count, and the map-side
    // combine is what keeps the exchange at distinct-gram volume
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"gram census must map-side combine:\n$p")
    // starts come back by hash equi-join on the gram hash; per-doc
    // coverage is local HOF math — nothing here may plan a nested loop
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("no declared query leaks a session conf (scoped-conf restore audit)") {
    // The r5 bench saw an unexplained 9.5x on w5_session_window with no
    // code change; conf leakage from a query earlier in the alphabetical
    // sweep was the first suspect class. Every conf-touching path runs
    // during fn() construction (streaming queries execute eagerly; t()
    // sets the nanos knob; x11 scopes its CC shuffle partitions), so
    // constructing each query and diffing spark.conf.getAll catches any
    // save/restore hole. t()'s one-way nanosAsLong set is a no-op here:
    // the Session-built spec session already carries it.
    val leaks = Queries.all.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val before = spark.conf.getAll
      fn(spark, dir)
      val after = spark.conf.getAll
      val changed = (before.keySet ++ after.keySet).filter {
        k => before.get(k) != after.get(k)
      }
      changed.map(k => s"$name: $k ${before.get(k)} -> ${after.get(k)}")
    }
    assert(leaks.isEmpty, s"session confs leaked by declared queries:\n${leaks.mkString("\n")}")
  }

  test("t15 NB classifier: model join broadcasts, scores partial-aggregate map-side") {
    val p = plan("t15_quality_classifier")
    // the C×(numBuckets+1) model must reach the gram stream via broadcast
    assert(p.contains("BroadcastHashJoin"), s"model join must broadcast:\n$p")
    // per-(doc, class) integer score sums must combine before the exchange
    assert(p.contains("partial_sum"), s"scores must partial-aggregate:\n$p")
  }

  test("s11 stream-stream join: both sides watermarked, range-bounded condition") {
    // the two properties that make two-stream join state EVICTABLE —
    // without either, state grows without bound (asserted on the analyzed
    // plan; the query itself executes eagerly under the oracle gate)
    import org.apache.spark.sql.functions._
    // batch analysis ELIMINATES watermark nodes, so the audit must run on
    // real streaming relations (never started — analysis only)
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    def mk() = Queries.normTs(spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir))
    val views = mk().filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("vts"))
      .withWatermark("vts", "2 days")
    val purchases = mk().filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("pts"))
      .withWatermark("pts", "2 days")
    val joined = views.join(purchases,
      expr("v_user = p_user AND pts >= vts AND pts <= vts + interval 1 day"))
    val analyzed = joined.queryExecution.analyzed.toString
    assert("EventTimeWatermark".r.findAllIn(analyzed).size === 2,
      s"both join inputs must carry event-time watermarks:\n$analyzed")
    assert(analyzed.contains("vts") && analyzed.contains("pts"),
      "join condition must range-bound both event times")
  }

  test("no query plans an un-asked-for cartesian product") {
    // j2_cross_small is the intentional tiny cross product; everything else must not.
    val offenders = Queries.all.keys.toSeq.sorted
      .filterNot(Set("j2_cross_small", "d4_ngram_jaccard"))
      .filterNot(_.startsWith("s")) // streaming queries execute eagerly in fn()
      .filterNot(Set("r3_xyz_tile", "r4_geotiff_scan", "v4_knn_ivf", "s2_sessionize")) // eager/cached paths
      .filter { n =>
        val p = Queries.all(n)(spark, dir).queryExecution.executedPlan.toString
        p.contains("CartesianProduct")
      }
    assert(offenders.isEmpty, s"unexpected cartesian products in: $offenders")
  }

  test("d11 OPH signature: one groupBy with map-side partial mins, no per-hash scans") {
    import graft.dedup.Dedup
    val sig = Dedup.ophSignature(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", 8)
    val p = sig.queryExecution.executedPlan.toString
    // the k conditional mins partial-aggregate before the exchange —
    // <= k values per doc cross the wire, never the token stream
    assert(p.toLowerCase.contains("partial_"),
      s"OPH bin mins must combine map-side:\n$p")
    // classic minhash's failure mode was one corpus scan per hash; OPH
    // reads the corpus once
    assert("FileScan parquet".r.findAllIn(p).size === 1,
      s"OPH must scan the corpus exactly once:\n$p")
  }

  test("x24 contamination matrix: eval grams broadcast, train side joins map-side") {
    val p = plan("x24_contamination_matrix")
    // the distinct (suite, gram) table is the broadcast side of the hit
    // join — the corpus-sized train gram stream must not shuffle to meet it
    assert(p.contains("BroadcastHashJoin"),
      s"hit join must broadcast the eval gram side:\n$p")
    assert(!p.contains("CartesianProduct"),
      "matrix grid must come from the broadcast suite list, not a cartesian")
  }

  test("w7/w8 fill + smoothing windows are keyed — no global single-partition window") {
    // the 1-row bounds fold legitimately plans a SinglePartition
    // exchange; the WINDOW itself must stay partitioned by the key or a
    // hot key would serialize the whole series through one task
    for (q <- Seq("w7_gap_fill", "w8_ewma", "w9_anomaly")) {
      val p = plan(q)
      assert(p.contains("windowspecdefinition(event_type"),
        s"$q window must partition by event_type:\n$p")
    }
  }

  test("j11 interpolation join: one key-partitioned window, no join node at all") {
    // the tagged-union plan replaces the as-of join with a union + ONE
    // window pass per key — a Join operator appearing here would mean
    // the quadratic range-join formulation snuck back in
    val p = plan("j11_asof_lerp")
    assert(p.contains("windowspecdefinition(user_id"),
      s"bracket windows must partition by user_id:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
      s"interpolate must not plan a join:\n$p")
  }

  test("x31 compaction binning: window partitioned by table group, census aggregates map-side") {
    val p = plan("x31_compaction_bins")
    assert(p.contains("windowspecdefinition(source"),
      s"prefix sum must partition by source:\n$p")
    assert(p.toLowerCase.contains("partial_"),
      s"per-bin rollup must combine map-side:\n$p")
  }

  test("j9 spatial join: equi-join on cells — no BNLJ, no cartesian (query-level)") {
    val p = plan("j9_spatial_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"radius join must block via the cell equi-join:\n$p")
  }

  test("t21 Kneser-Ney: every model join broadcasts — the corpus never shuffles for scoring") {
    val p = plan("t21_kneser_ney")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj >= 3, s"census/prev/cont model joins must broadcast (got $bhj):\n$p")
  }

  test("x33 interleave: no single-partition exchange — global rank via range partitions + offsets") {
    val p = plan("x33_train_order")
    assert(!p.contains("Exchange SinglePartition"),
      s"the global rank must not serialize through one task:\n$p")
    assert(p.contains("windowspecdefinition(lang"),
      s"rank/gap windows must key by lang:\n$p")
  }

  test("d15 fuzzy join: candidates come from the signature equi-join, never a cartesian") {
    val p = plan("d15_fuzzy_join")
    assert(!p.contains("CartesianProduct"), p)
    // the candidate join keys by (part_len, seg_idx, seg); the only
    // BNLJ allowed is the count()-guarded short block's tiny self-pair
    assert(p.contains("seg"), s"signature join expected:\n$p")
  }

  test("j15 pip join: census-sized polygon sides broadcast, crossing count partial-aggregates") {
    val p = plan("j15_point_in_polygon")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), s"edge/cell joins should broadcast:\n$p")
    assert(p.contains("partial_sum"), s"crossing count must map-side combine:\n$p")
  }

  test("a12 grouped OLS: one map-side-combined aggregation — two exchanges total") {
    val p = plan("a12_grouped_ols")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(p.contains("partial_sum"), s"sums must partial-aggregate:\n$p")
    assert(exchanges <= 2, s"expected agg + order exchanges only, got $exchanges:\n$p")
  }

  test("w10 acf: the lag aggregation reuses the window's key partitioning — no extra shuffle") {
    val p = plan("w10_acf")
    val exchanges = "Exchange".r.findAllIn(p).size
    // window exchange on event_type + the final orderBy range exchange;
    // the (event_type, lag) groupBy must NOT re-shuffle (event_type
    // hash partitioning already clusters it)
    assert(exchanges <= 2, s"agg must reuse the window partitioning, got $exchanges:\n$p")
  }
}
