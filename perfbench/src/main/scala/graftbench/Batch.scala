package graftbench

/** The measurement protocol shared by the batch workloads (catalog,
  * composite, corpus): set up, run one cold iteration, then repeat warm
  * iterations for the run's time budget.
  *
  *  - `generate` is repeated `genReps` times and its median counts
  *    toward `setup_s`, together with JVM + session start and the cold
  *    warm-up iteration;
  *  - untraced (`--trace 0`): iterations run back to back; `wall_s` is
  *    their median, and the median of their heap peaks is reported as
  *    `live_heap_peak_mb` (each iteration starts after a full GC, see
  *    [[HeapWatch]]);
  *  - traced (`--trace 1`): untraced and traced iterations alternate, so
  *    both see the same session state; per-layer metrics are medians over
  *    the traced iterations, and the difference of the two medians is
  *    reported as the tracing overhead.
  */
object Batch {
  def run(ctx: Ctx, genReps: Int, minIters: Int = 3)(generate: () => Unit)(iterate: () => Unit)
         (traced: Tracer => Map[String, Double]): Unit = {
    val o = ctx.opts
    val gen = Stats.median((0 until genReps).map(_ => Stats.secs(generate())))
    val cold = HeapWatch.measure(Stats.secs(iterate()))._1
    if (o.train) return
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val heaps = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tracedWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val layers = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    def more = System.nanoTime() < deadline || walls.size < minIters ||
      (o.trace && tracedWalls.size < minIters)
    while (more) {
      val (wall, heap) = HeapWatch.measure(Stats.secs(iterate()))
      walls += wall; heaps += heap
      if (o.trace) {
        val (m, s) = Stats.time(ctx.tracer.span("iteration")(traced(ctx.tracer)))
        tracedWalls += s
        val it = m._2.attrs
        layers += m._1 ++ Map("spark.task_ms" -> it("task_ms"), "spark.gc_ms" -> it("gc_ms"),
          "spark.spill_bytes" -> it("spill_bytes"), "spark.jobs" -> it("jobs"))
      }
    }
    ctx.e2e("wall_s") = (Stats.median(walls.toSeq), "s")
    ctx.e2e("setup_s") = (ctx.sessionS + gen + cold, "s")
    ctx.e2e("first_result_s") = (cold, "s")
    ctx.heap(Stats.median(heaps.toSeq))
    ctx.report("iterations") = (walls.size.toDouble, "count")
    ctx.report("setup.session_s") = (ctx.sessionS, "s")
    ctx.report("setup.generate_s") = (gen, "s")
    if (o.trace) {
      Stats.medianByKey(layers.toSeq).foreach { case (k, v) => ctx.layer(k) = (v, Layers.unit(k)) }
      val (u, t) = (Stats.median(walls.toSeq), Stats.median(tracedWalls.toSeq))
      ctx.layer("trace.untraced_wall_s") = (u, "s")
      ctx.layer("trace.traced_wall_s") = (t, "s")
      ctx.layer("trace.overhead_s") = (t - u, "s")
    }
  }
}

/** The per-layer metric catalogue: every traced run reports all of them,
  * 0 where the workload does not exercise that layer. */
object Layers {
  val Corpus: Seq[String] = Seq("x54_index_bucketed", "x5_dedup_corpus", "v12_ivfpq_rerank",
    "x42_label_prop")

  val all: Seq[(String, String)] =
    Seq("stac.json_read_s" -> "s", "stac.prepare_s" -> "s", "meta.coords_s" -> "s",
      "scan.worklist_s" -> "s", "scan.build_s" -> "s", "scan.v2_build_s" -> "s",
      "scan.v2_count_s" -> "s", "stac.assets" -> "count", "scan.worklist_pairs" -> "count") ++
    Seq("apply", "v2").flatMap(r => Seq(s"scan.$r.read_s" -> "s", s"scan.$r.tiles" -> "count",
      s"ops.$r.algebra_s" -> "s", s"ops.$r.median_s" -> "s", s"spark.$r.shuffle_write_bytes" -> "bytes")) ++
    Seq("ops.mosaic_s" -> "s",
      "viz.display_range_s" -> "s", "viz.cache_hits" -> "count", "viz.cache_misses" -> "count",
      "viz.hit_ratio" -> "ratio", "viz.render_tile_ms" -> "ms", "ops.reproject_ms" -> "ms",
      "viz.png_encode_ms" -> "ms", "spark.jobs_per_miss" -> "count", "viz.leaked_threads" -> "count") ++
    Corpus.flatMap(q => Seq(s"corpus.${q}_s" -> "s", s"spark.$q.jobs" -> "count",
      s"spark.$q.driver_gap_s" -> "s", s"spark.$q.shuffle_write_bytes" -> "bytes",
      s"spark.$q.spill_bytes" -> "bytes")) ++
    Seq("live_heap_peak_mb" -> "MB", "spark.jobs" -> "count", "spark.task_ms" -> "ms", "spark.gc_ms" -> "ms",
      "spark.spill_bytes" -> "bytes",
      "trace.untraced_wall_s" -> "s", "trace.traced_wall_s" -> "s", "trace.overhead_s" -> "s")

  private val units = all.toMap
  def unit(name: String): String = units.getOrElse(name, "count")

  /** Fill every catalogue metric the workload did not report with 0. */
  def complete(ctx: Ctx): Unit = all.foreach { case (k, u) =>
    if (!ctx.layer.contains(k)) ctx.layer(k) = (0.0, u)
  }
}
