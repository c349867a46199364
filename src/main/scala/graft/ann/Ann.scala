package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.GraftFunctions
import org.apache.spark.sql.graftx.GraftExpr

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`), built on exact integer quantization so scores are
  * deterministic and engine-portable.
  *
  * Scale notes: brute-force is the O(q·n) exactness baseline — fine when
  * the query side is small and broadcastable. The scale path is
  * [[lshBuckets]] (sign-random-hyperplane) as the coarse quantizer:
  * bucketing is a map + one groupBy, probing is an equi-join on bucket id,
  * so a 1000-executor run shuffles only per-bucket candidate lists, never
  * the full n² pair space.
  */
object Ann {

  /** Quantized integer vector: round(x * 1e4) per component. Exact integer
    * dot products; deterministic across engines. */
  def quantize(embedding: Column): Column =
    transform(embedding, x => round(x.cast("double") * 10000).cast("long"))

  /** Cosine from quantized vectors + precomputed self-dots. */
  def cosine(qa: Column, qb: Column, na: Column, nb: Column, digits: Int = 6): Column =
    round(GraftFunctions.dot_long(qa, qb).cast("double") /
          (sqrt(na.cast("double")) * sqrt(nb.cast("double"))), digits)

  /** Prepared view: (id, qv, nq). */
  def prepare(df: DataFrame, idCol: String, embCol: String): DataFrame =
    df.select(col(idCol).as("id"), quantize(col(embCol)).as("qv"))
      .withColumn("nq", GraftFunctions.dot_long(col("qv"), col("qv")))

  /** Exact top-k neighbors for each query id (brute force, broadcast
    * queries). Returns (qid, rk, nid, cos). */
  def bruteForceKnn(data: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val pairs = broadcast(queries.as("a")).join(data.as("b"), col("a.id") =!= col("b.id"))
      .select(col("a.id").as("qid"), col("b.id").as("nid"),
              cosine(col("a.qv"), col("b.qv"), col("a.nq"), col("b.nq")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    pairs.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), col("cos"))
  }

  /** Deterministic ±1 hyperplanes from md5 parity (same construction as
    * the DuckDB-reproducible oracle). */
  def hyperplanes(nPlanes: Int, dim: Int): Seq[Seq[Long]] =
    graft.Queries.lshPlanes(nPlanes, dim)

  /** Sign-random-hyperplane bucket id (nPlanes-bit integer). */
  def lshBuckets(prepared: DataFrame, nPlanes: Int, dim: Int): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val bucket = (0 until nPlanes).map { j =>
      when(GraftFunctions.dot_long(col("qv"), typedLit(planes(j))) > 0, 1L << j)
        .otherwise(0L)
    }.reduce(_ + _)
    prepared.withColumn("bucket", bucket)
  }

  /** ANN top-k probing only the query's own bucket (1-probe). Trade
    * recall for a candidate set ~n/2^nPlanes per query. */
  def lshKnn(data: DataFrame, nPlanes: Int, dim: Int, k: Int,
             queryFilter: Column): DataFrame = {
    val b = lshBuckets(data, nPlanes, dim)
    val q = b.filter(queryFilter)
    val pairs = broadcast(q.as("a"))
      .join(b.as("b"), col("a.bucket") === col("b.bucket") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("qid"), col("b.id").as("nid"),
              cosine(col("a.qv"), col("b.qv"), col("a.nq"), col("b.nq")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    pairs.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), col("cos"))
  }

  /** Multi-probe LSH kNN: each query probes its own bucket PLUS every
    * one-bit-flip neighbor bucket — the standard recall lever for
    * hyperplane LSH (a true neighbor lost to 1-probe fell across exactly
    * one plane with high probability). Still an equi-join on bucket id;
    * the candidate set grows to ~(nPlanes+1)·n/2^nPlanes per query, never
    * the n² pair space. Probe buckets are pairwise distinct and each data
    * point owns one bucket, so no pair dedup is needed. */
  def lshKnnMultiProbe(data: DataFrame, nPlanes: Int, dim: Int, k: Int,
                       queryFilter: Column): DataFrame = {
    val b = lshBuckets(data, nPlanes, dim)
    val probes = array((col("bucket") +: (0 until nPlanes).map(j =>
      col("bucket").bitwiseXOR(lit(1L << j)))): _*)
    val q = b.filter(queryFilter)
      .select(col("id"), col("qv"), col("nq"), explode(probes).as("probe"))
    val pairs = broadcast(q.as("a"))
      .join(b.as("b"), col("a.probe") === col("b.bucket") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("qid"), col("b.id").as("nid"),
              cosine(col("a.qv"), col("b.qv"), col("a.nq"), col("b.nq")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    pairs.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), col("cos"))
  }

  /** Lloyd k-means over quantized vectors — the IVF coarse-quantizer
    * TRAINING step (v4's centroids assumed labels; this learns them).
    * Deterministic and engine-replayable by construction: integer squared-
    * L2 assignment with (dist, cid) tiebreak, integer-rounded centroid
    * updates (floor(sum/n + 0.5) — both engines divide the same integers
    * in double), init from the k smallest ids, and a FIXED iteration
    * count (no data-dependent convergence test). The centroid table lives
    * on the DRIVER (k×dim longs — the bounded-model discipline of the BPE
    * merge table) and rides into the plan as ONE array literal that the
    * L2 kernel probes per row ([[nearestCid]]): each Lloyd round is one
    * single-stage job — scan → project cid → map-side-combined k-row
    * census — for any k. Nothing data-sized ever shuffles, no join is
    * planned, and since the model is data rather than code, a new round
    * or a new dataset reuses the compiled classes. Empty clusters keep
    * their previous centroid. Returns the assignment under the FINAL
    * centroids: (cid, cv, id). */
  def kmeans(prepared: DataFrame, k: Int, iters: Int): DataFrame = {
    val cents = train(prepared, k, iters)
    val cvLit = typedLit(cents.map(_._2))
    prepared.select(col("id"), nearestCid(col("qv"), cents).as("cid"))
      .select(col("cid"), element_at(cvLit, col("cid") + 1).as("cv"), col("id"))
  }

  /** Lloyd training loop; returns the final driver-side centroids, cids
    * 0 until k in init order. */
  private def train(prepared: DataFrame, k: Int, iters: Int): Seq[(Int, Seq[Long])] = {
    // init from the k smallest ids (same construction the SQL replay
    // writes); collect is k rows by contract. orderBy+limit+collect
    // returns rows already id-sorted (TakeOrderedAndProject), so the
    // ordering works for ANY orderable id type — no materialized Long id
    // (round-9 advice: the old sortBy(getLong) broke string-id callers).
    var cents: Seq[(Int, Seq[Long])] = prepared.orderBy(col("id")).limit(k)
      .select(col("qv")).collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Long](0)) }.toSeq
    var it = 0
    while (it < iters) {
      val census = prepared.select(nearestCid(col("qv"), cents).as("cid"), col("qv"))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n"),
             graft.sketch.VectorAgg.vectorSum(col("qv")).as("vs"))
        .collect() // k rows
        .map(r => r.getInt(0) -> (r.getLong(1), r.getSeq[Long](2))).toMap
      // floor(sum/n + 0.5) in IEEE double — bit-identical to the SQL
      // replay's expression; empty clusters keep their previous centroid
      cents = cents.map { case (cid, cv) =>
        census.get(cid) match {
          case Some((n, vs)) =>
            (cid, vs.map(s => math.floor(s.toDouble / n + 0.5).toLong))
          case None => (cid, cv)
        }
      }
      it += 1
    }
    cents
  }

  /** The trained coarse-quantizer MODEL alone: (cid, cv), k rows — what
    * an index stores so later batches can [[assign]] without retraining
    * (the v8 admission story) and what [[ivfPq]] composes with. */
  def kmeansCentroids(prepared: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = prepared.sparkSession
    import spark.implicits._
    train(prepared, k, iters).toDF("cid", "cv")
  }

  /** Nearest centroid per row under the (d2, cid) tiebreak: the L2
    * kernel's argmin index over the cid-sorted table, mapped back to its
    * cid through the sorted cid array (index order is cid order, so the
    * kernel's (d2, index) ties are (d2, cid) ties). */
  private def nearestCid(qv: Column, cents: Seq[(Int, Seq[Long])]): Column = {
    val sorted = cents.sortBy(_._1)
    element_at(typedLit(sorted.map(_._1)),
      GraftExpr.l2Codes(qv, Seq(sorted.map(_._2))).getItem(0) + 1)
  }

  /** Collect a (cid, cv) centroid table — a bounded model frame, k rows —
    * in cid order. */
  private def collectCentroids(centroids: DataFrame): Seq[(Int, Seq[Long])] =
    centroids.select(col("cid").cast("int"), col("cv")).collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1))).sortBy(_._1).toSeq

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — SEMANTIC
    * deduplication: k-means-cluster the embedding space, then within each
    * cluster drop every point that is >= `tau` cosine-similar to another
    * member with a SMALLER id (the deterministic, order-free instance of
    * the paper's keep-one-per-epsilon-group rule). Clustering is what
    * makes the pairwise stage tractable — the paper's exact rationale:
    * pairs form per cluster (m ~ n/k members each), never across the
    * corpus, so the candidate volume is Σ m², not n². The within-cluster
    * all-pairs join is SALTED into a block-nested grid: each member takes
    * a deterministic block b = hash(id) mod `salt`, and the join key is
    * (cid, blockA, blockB) with blockA <= blockB — every unordered pair
    * of members meets in exactly one of the salt·(salt+1)/2 grid cells,
    * so the semantics are EXACTLY all-pairs (no candidate is lost, unlike
    * [[semDedupCapped]]'s window) while a skewed mega-cluster's m² work
    * spreads across ~salt²/2 tasks instead of detonating one reducer —
    * the same skew treatment as the LSH hot-bucket star in
    * `Dedup.minhashStarEdges`, applied to an exact join. The salt is
    * PER-CLUSTER, derived from the assignment census (a k-row aggregate
    * the k-means already pays for): salt_c = clamp(⌈m/blockTarget⌉, 1,
    * maxSalt), so the common case — many small balanced clusters — keeps
    * the plain cid equi-join (salt 1, zero replication) and only
    * clusters big enough for their m² to hurt pay the grid's O(salt·m)
    * replication. Pair coverage is exact for EVERY salt value, so the
    * result is byte-identical whatever the census says. Total work is
    * still Σ m² (that is semDedup's contract); for clusters where even
    * distributed m² is too much, [[semDedupCapped]] is the linear-work
    * form. Scores are exact integer dot products (engine-portable, see
    * [[cosine]]). Input: [[prepare]]d vectors. Returns per point:
    * (id, cid, drop). */
  def semDedup(prepared: DataFrame, k: Int, iters: Int, tau: Double,
               maxSalt: Int = 8, blockTarget: Int = 1024): DataFrame = {
    val assigned = kmeans(prepared, k, iters).select(col("cid"), col("id"))
    // k-row census → per-cluster salt; broadcast onto the members
    val saltOf = assigned.groupBy(col("cid"))
      .agg(count(lit(1)).as("m"))
      .select(col("cid"), least(lit(maxSalt), greatest(lit(1),
        ceil(col("m").cast("double") / blockTarget).cast("int"))).as("sc"))
    // both sides of the pair join + the final left join consume this —
    // persist once (no CSE across branches; the d2/d5 discipline)
    val v = prepared.select(col("id"), col("qv"), col("nq"))
      .join(assigned, Seq("id"))
      .join(broadcast(saltOf), Seq("cid"))
      .withColumn("blk", pmod(xxhash64(col("id")), col("sc")).cast("int"))
      .persist()
    // A-side in block b covers grid row (b, b..sc-1); B-side in block b'
    // covers grid column (0..b', b'). Replication is sc+1 rows per
    // member — O(sc·m), not O(m²) — and the shuffle key (cid, bi, bj)
    // splits a cluster's pair space into (m/sc)²-sized cells. sc is a
    // function of cid, so both sides of a cluster agree on its grid.
    val a = v.select(col("cid"), col("sc"), col("blk").as("bi"),
        col("id").as("id_a"), col("qv").as("qa"), col("nq").as("na"))
      .withColumn("bj", explode(expr("sequence(bi, sc - 1)")))
      .drop("sc")
    val b = v.select(col("cid"), col("blk").as("bj"), col("id").as("id_b"),
        col("qv").as("qb"), col("nq").as("nb"))
      .withColumn("bi", explode(expr("sequence(0, bj)")))
    // each unordered pair meets exactly once: in cell (bi, bj) with
    // bi < bj in whichever id order the blocks dictate, or in the
    // diagonal cell (b, b) where id_a < id_b picks one of the two
    // orderings (and discards the self-pair). The DROPPED member of a
    // similar pair is the larger id, which on off-diagonal cells may sit
    // on either side — hence greatest(), not id_b.
    val dropped = a.join(b, Seq("cid", "bi", "bj"))
      .filter(col("bi") < col("bj") || col("id_a") < col("id_b"))
      .filter(cosine(col("qa"), col("qb"), col("na"), col("nb")) >= tau)
      .select(greatest(col("id_a"), col("id_b")).as("id")).distinct()
      .withColumn("dropFlag", lit(true))
    v.join(dropped, Seq("id"), "left")
      .select(col("id"), col("cid"),
        coalesce(col("dropFlag"), lit(false)).as("drop"))
  }

  /** [[semDedup]] with the m² pair bomb DEFUSED — the 100 TB form. The
    * all-pairs stage inside a cluster is quadratic in cluster size, and
    * one skewed mega-cluster (a crawl's boilerplate mode) detonates it —
    * the same failure shape as the LSH hot bucket, given the same
    * treatment: bound the candidates. Members are ranked within their
    * cluster by (distance-from-centroid DESC, id) — SemDeDup's own
    * keep-FARTHEST-representative order — and each member is compared
    * against only its `w` rank-predecessors: drop a point iff some
    * predecessor within the window is >= `tau` cosine-similar. Candidate
    * volume is Σ m·w instead of Σ m², a plain equi-join fan-out (each
    * member explodes its w predecessor ranks; no window-function state,
    * no theta-join), so a mega-cluster costs linear work. The trade is
    * explicit: a dup pair more than `w` ranks apart inside a cluster is
    * missed — acceptable exactly because near-dups have near-equal
    * centroid distances and therefore adjacent ranks. Deterministic:
    * rank ties break by id, scores are integer dots. Returns
    * (id, cid, drop). */
  def semDedupCapped(prepared: DataFrame, k: Int, iters: Int, tau: Double,
                     w: Int): DataFrame = {
    val trained = kmeans(prepared, k, iters) // (cid, cv, id)
    val v = prepared.select(col("id"), col("qv"), col("nq"))
      .join(trained, Seq("id"))
      .withColumn("d2", col("nq") + GraftFunctions.dot_long(col("cv"), col("cv"))
        - lit(2L) * GraftFunctions.dot_long(col("qv"), col("cv")))
      .withColumn("rnk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cid"))
          .orderBy(col("d2").desc, col("id"))))
      .select(col("id"), col("cid"), col("qv"), col("nq"), col("rnk"))
      .persist()
    val cand = v.select(col("id").as("id_b"), col("cid"),
        col("qv").as("qb"), col("nq").as("nb"),
        explode(expr(s"sequence(1, $w)")).as("k"),
        col("rnk"))
      .withColumn("rnk_a", col("rnk") - col("k"))
      .filter(col("rnk_a") >= 1)
    val dropped = cand.join(
        v.select(col("cid"), col("rnk").as("rnk_a"),
          col("qv").as("qa"), col("nq").as("na")),
        Seq("cid", "rnk_a"))
      .filter(cosine(col("qa"), col("qb"), col("na"), col("nb")) >= tau)
      .select(col("id_b").as("id")).distinct()
      .withColumn("dropFlag", lit(true))
    v.join(dropped, Seq("id"), "left")
      .select(col("id"), col("cid"),
        coalesce(col("dropFlag"), lit(false)).as("drop"))
  }

  /** Nearest-centroid assignment — the INDEX ADMISSION primitive: route
    * vectors (id, qv) to a FIXED (cid, cv) centroid table without
    * touching the training corpus. This is the daily-ingest path for an
    * IVF index at scale (the ANN twin of `Dedup.admitIncrement`): the
    * index trains once on the accumulated corpus, each new batch pays
    * one collect of the k×dim table (a bounded model frame) plus a
    * map-side argmin — no retrain, no join, no shuffle of the stored
    * postings, and assignments of already-admitted vectors never change.
    * The table rides into the plan as one array literal probed by the L2
    * kernel, with the same deterministic integer (d2, cid) tiebreak as
    * training, for any k. Returns (id, qv, cid). */
  def assign(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    vectors.select(col("id"), col("qv"),
      nearestCid(col("qv"), collectCentroids(centroids)).as("cid"))
  }

  /** IVF kNN with multi-probe: train the coarse quantizer ([[kmeans]]),
    * assign every point to its cell once, then route each query to its
    * `nProbes` nearest centroids and search only those posting lists —
    * the FAISS IVF shape. `nProbes` is the recall/cost dial: candidates
    * ~ nProbes·n/kClusters per query, never the n² pair space. Posting
    * lists are disjoint (each point lives in one cell), so multi-probe
    * needs no pair dedup. The centroid table is k×dim (KBs) and always
    * broadcast; the only O(n) stages are the assignment projection and
    * the candidate equi-join on cell id. */
  def ivfKnn(prepared: DataFrame, kClusters: Int, trainIters: Int,
             k: Int, nProbes: Int, queryFilter: Column): DataFrame = {
    val asg = kmeans(prepared, kClusters, trainIters)
    val pts = prepared.join(asg.select(col("id"), col("cid")), Seq("id"))
    val cents = asg.select(col("cid"), col("cv")).distinct()
      .withColumn("nc", GraftFunctions.dot_long(col("cv"), col("cv")))
    val d2 = col("nq") + col("nc") -
      lit(2L) * GraftFunctions.dot_long(col("qv"), col("cv"))
    val pw = Window.partitionBy(col("id")).orderBy(col("d2"), col("cid"))
    val qProbes = prepared.filter(queryFilter).crossJoin(broadcast(cents))
      .select(col("id"), col("qv"), col("nq"), col("cid"), d2.as("d2"))
      .withColumn("pr", row_number().over(pw)).filter(col("pr") <= nProbes)
    val pairs = broadcast(qProbes.as("a"))
      .join(pts.as("b"), col("a.cid") === col("b.cid") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("qid"), col("b.id").as("nid"),
              cosine(col("a.qv"), col("b.qv"), col("a.nq"), col("b.nq")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    pairs.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), col("cos"))
  }

  // -------------------------------------------------------------------
  // Product quantization (Jégou, Douze, Schmid 2011, "Product
  // quantization for nearest neighbor search" — the FAISS IVFPQ memory
  // path). The corpus compresses to numSub small codes per vector
  // (numSub·log2(ks) bits, e.g. 64 dims × 8 bytes → 4 codes = 1 byte at
  // numSub=4/ks=4: 512× smaller), and queries scan CODES, not vectors,
  // via an Asymmetric Distance Computation lookup table. This is what
  // makes ANN over 10¹¹ embeddings fit a cluster's RAM.
  //
  // Everything follows the kmeans/v6 determinism discipline (integer
  // d2, (d2, code) tiebreak, integer-rounded centroid updates, fixed
  // iteration count, init from smallest ids) so DuckDB replays training,
  // encoding, AND the ADC scan bit-for-bit. A codebook is one
  // [numSub][ks][subDim] model that the L2 kernel probes per row (the
  // k-means model is its numSub = 1 case): the numSub per-subspace
  // k-means instances train TOGETHER in one projection and one census
  // groupBy per round, so training cost does not scale with numSub, and
  // every vector's length is checked against numSub·subDim as it passes.
  // -------------------------------------------------------------------

  /** Collect a trained codebook to the driver as the kernel's model,
    * cb(sp)(code) = centroid; ks = rows / numSub. The codebook is a MODEL
    * frame — exactly numSub·ks rows (KBs) by construction at any corpus
    * size — and the collect doubles as its validation (round-8 advice)
    * without a separate count() job: a trained codebook is a
    * LocalRelation, whose collect launches no tasks at all. */
  private def collectCodebook(codebook: DataFrame, numSub: Int,
                              subDim: Int): Seq[Seq[Seq[Long]]] = {
    val rows = codebook
      .select(col("sp").cast("int"), col("code").cast("int"), col("cv")).collect()
    require(rows.nonEmpty && rows.length % numSub == 0,
      s"codebook rows (${rows.length}) not a positive multiple of numSub=$numSub")
    val ks = rows.length / numSub
    val out = Array.fill[Seq[Long]](numSub, ks)(null)
    rows.foreach { r =>
      val sp = r.getInt(0); val c = r.getInt(1); val cv = r.getSeq[Long](2)
      require(sp >= 0 && sp < numSub && c >= 0 && c < ks,
        s"codebook entry (sp=$sp, code=$c) outside numSub=$numSub x ks=$ks")
      require(cv.length == subDim,
        s"codebook centroid (sp=$sp, code=$c) has dim ${cv.length}, expected subDim=$subDim")
      out(sp)(c) = cv
    }
    require(out.forall(_.forall(_ != null)),
      "codebook has duplicate or missing (sp, code) entries")
    out.map(_.toSeq).toSeq
  }

  /** Train the numSub per-subspace codebooks (Lloyd, `iters` fixed
    * rounds each, all subspaces in the same jobs). Returns
    * (sp, code, cv) — numSub·ks rows, KBs at any corpus size; empty
    * codes keep their previous entry (kmeans discipline).
    *
    * The codebook lives on the DRIVER between rounds (the bounded-model
    * discipline of [[kmeans]]), so each Lloyd round is ONE map-only
    * projection — the kernel's per-subspace argmin codes — plus one
    * numSub·ks-group census (map-side combined: shuffle volume is the
    * MODEL size, not the corpus), and the integer-rounded update runs on
    * the driver. No join, no corpus-keyed shuffle, no checkpoint jobs,
    * for any ks. The result frame is a LocalRelation: downstream collects
    * of it ([[collectCodebook]]) launch no tasks. */
  def pqCodebook(prepared: DataFrame, numSub: Int, subDim: Int, ks: Int,
                 iters: Int): DataFrame = {
    val spark = prepared.sparkSession
    val dim = numSub * subDim
    val initRows = prepared.orderBy(col("id")).limit(ks).select(col("qv")).collect()
      .map(_.getSeq[Long](0))
    require(initRows.length == ks,
      s"PQ training needs at least ks=$ks vectors, got ${initRows.length}")
    initRows.foreach { v =>
      require(v.length == dim,
        s"PQ expects dim $dim (numSub=$numSub x subDim=$subDim), got ${v.length}")
    }
    var cb: Seq[Seq[Seq[Long]]] = (0 until numSub).map { sp =>
      initRows.toSeq.map(_.slice(sp * subDim, (sp + 1) * subDim))
    }
    var it = 0
    while (it < iters) {
      val census = prepared
        .select(col("qv"), posexplode(GraftExpr.l2Codes(col("qv"), cb)).as(Seq("sp", "code")))
        .groupBy(col("sp"), col("code"))
        .agg(count(lit(1)).as("n"), graft.sketch.VectorAgg.vectorSum(
          slice(col("qv"), col("sp") * subDim + 1, lit(subDim))).as("vs"))
        .collect()
      val next = cb.map(_.toArray) // empty codes keep their previous entry
      census.foreach { r =>
        val sp = r.getInt(0); val c = r.getInt(1); val n = r.getLong(2)
        next(sp)(c) = r.getSeq[Long](3).map(s => math.floor(s.toDouble / n + 0.5).toLong)
      }
      cb = next.map(_.toSeq)
      it += 1
    }
    import spark.implicits._
    (for (sp <- 0 until numSub; c <- 0 until ks) yield (sp, c, cb(sp)(c)))
      .toDF("sp", "code", "cv")
  }

  /** Encode the corpus against a trained codebook: (id, codes) with
    * `codes(sp)` the nearest code in subspace sp — the 10¹¹-vector
    * index is THIS table (numSub small ints per row), the float
    * vectors never need to be touched again. The codebook is collected
    * (a bounded model frame; ks = rows / numSub) and the encode is ONE
    * map-side projection of the kernel's argmin codes — zero shuffle,
    * zero join, for any ks. At 100 TB this is the difference between a
    * scan and a corpus shuffle. */
  def pqEncode(prepared: DataFrame, codebook: DataFrame, numSub: Int,
               subDim: Int): DataFrame =
    prepared.select(col("id"),
      GraftExpr.l2Codes(col("qv"), collectCodebook(codebook, numSub, subDim)).as("codes"))

  /** ADC distance of a (codes, lut) row: the sum of numSub lookup-table
    * entries, slot sp·ks + codes(sp). */
  private def adcDist(numSub: Int, ks: Int): Column =
    aggregate(sequence(lit(0), lit(numSub - 1)), lit(0L),
      (acc, sp) => acc +
        element_at(col("lut"), sp * ks + element_at(col("codes"), sp + 1) + 1))

  /** ADC top-k: for each query, distance to EVERY encoded vector is the
    * sum of numSub lookup-table entries — no per-pair vector math. The
    * LUT (numSub·ks integer distances per query, KBs) is the kernel's d2
    * table over the collected codebook — one map-side projection of the
    * query set, for any ks — and is broadcast with the queries; the scan
    * over the codes table is map-side; the ONLY shuffle is the per-query
    * top-k window. Returns (qid, rk, nid, adist). */
  def pqAdcTopK(codes: DataFrame, codebook: DataFrame, queries: DataFrame,
                numSub: Int, subDim: Int, ks: Int, k: Int): DataFrame = {
    // a trained codebook holds exactly numSub·ks rows (empty codes keep
    // their entry), so a caller-supplied ks that disagrees with the
    // codebook would mis-index the LUT silently
    val cb = collectCodebook(codebook, numSub, subDim)
    require(cb.head.length == ks,
      s"ks=$ks disagrees with the trained codebook: expected ${numSub * ks} rows, got ${numSub * cb.head.length}")
    val lut = queries.select(col("id").as("qid"), GraftExpr.l2Table(col("qv"), cb).as("lut"))
    val pairs = codes.join(broadcast(lut), col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("nid"), adcDist(numSub, ks).as("adist"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adist"), col("nid"))
    pairs.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), col("adist"))
  }

  /** IVF-ADC — the COMPOSED index (Jégou et al. 2011 §IV, the FAISS
    * "IVFPQ" layout, the actual 10¹¹-vector architecture): a coarse
    * k-means quantizer routes every vector to a cell, PQ encodes the
    * RESIDUAL (vector − cell centroid) — residuals have far less energy
    * than raw vectors, so the same code budget quantizes them finer —
    * and a query probes only its `nProbes` nearest cells, ADC-scanning
    * those postings alone. This replaces [[pqAdcTopK]]'s full-corpus
    * scan with a posting-bounded one: candidates ~ nProbes·n/kCells per
    * query instead of n.
    *
    * Plan shape at scale: coarse training and assignment are the
    * map-only kernel projections of [[kmeans]] and [[assign]];
    * the residual is a BROADCAST join on cid (k-row table — never an
    * id-keyed self-join of the corpus); PQ training sees only residuals;
    * postings carry cid INSIDE the pqEncode group key (a struct id), so
    * no corpus-wide join reunites codes with cells; the LUT table
    * (queries × probes × numSub·ks integers, the kernel's d2 table over
    * the collected codebook) and the probe list are broadcast, the ADC scan is map-side, and the per-query top-k window
    * is the only shuffle — exactly [[pqAdcTopK]]'s contract with the
    * scan bounded by the probe set. Every point lives in one cell, so
    * multi-probe needs no pair dedup.
    *
    * Determinism: kmeans discipline end-to-end (integer d2, (d2, cid)
    * and (d2, code) tiebreaks, integer-rounded updates, fixed iteration
    * counts) — DuckDB replays coarse training, residuals, codebook,
    * encoding, probing, and the ADC ranking bit-for-bit (query
    * `v11_ivfpq`). Returns (qid, rk, nid, adist). */
  def ivfPq(prepared: DataFrame, kCells: Int, coarseIters: Int,
            numSub: Int, subDim: Int, ks: Int, pqIters: Int,
            nProbes: Int, k: Int, queryFilter: Column): DataFrame = {
    val cents = kmeansCentroids(prepared, kCells, coarseIters)
    val withNc = cents.withColumn("nc", GraftFunctions.dot_long(col("cv"), col("cv")))
    // residual per point: one broadcast join against the k-row model
    val resid = assign(prepared, cents)
      .join(broadcast(cents), Seq("cid"))
      .select(col("id"), col("cid"),
        zip_with(col("qv"), col("cv"), (a, b) => a - b).as("qv"))
      // consumed by codebook training, encoding, and postings; eager
      // localCheckpoint (not persist) so the blocks are GC-reclaimed when
      // the frame goes out of scope — ivfPq is a reusable library entry
      // point and a session-lifetime cached corpus-sized RDD per call is
      // a leak (round-9 advice)
      .localCheckpoint(true)
    val cb = pqCodebook(resid.select(col("id"), col("qv")), numSub, subDim, ks, pqIters)
    // cid rides inside the group key so codes never rejoin the corpus
    val postings = pqEncode(
        resid.select(struct(col("id"), col("cid")).as("id"), col("qv")),
        cb, numSub, subDim)
      .select(col("id.id").as("id"), col("id.cid").as("cid"), col("codes"))
    // each query probes its nProbes nearest cells and takes the residual
    // AGAINST EACH PROBED CELL's centroid (the §IV asymmetry)
    val d2qc = col("nq") + col("nc") -
      lit(2L) * GraftFunctions.dot_long(col("qv"), col("cv"))
    val pw = Window.partitionBy(col("id")).orderBy(col("d2"), col("cid"))
    val qprobes = prepared.filter(queryFilter)
      .withColumn("nq", GraftFunctions.dot_long(col("qv"), col("qv")))
      .crossJoin(broadcast(withNc))
      .select(col("id"), col("qv"), col("cid"), col("cv"), d2qc.as("d2"))
      .withColumn("pr", row_number().over(pw)).filter(col("pr") <= nProbes)
      .select(struct(col("id"), col("cid")).as("id"),
        zip_with(col("qv"), col("cv"), (a, b) => a - b).as("qv"))
    // per-(query, probed cell) LUT over the query residual vs the
    // residual codebook — numSub·ks integers each, KBs total, broadcast;
    // one map-side projection over the probe set
    val lut = qprobes.select(col("id.id").as("qid"), col("id.cid").as("pcid"),
      GraftExpr.l2Table(col("qv"), collectCodebook(cb, numSub, subDim)).as("lut"))
    val pairs = postings.join(broadcast(lut),
        col("cid") === col("pcid") && col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("nid"), adcDist(numSub, ks).as("adist"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adist"), col("nid"))
    pairs.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), col("adist"))
  }

  /** Exact re-rank of an ANN shortlist — the production SECOND stage
    * (Jégou et al. 2011 §V "recall@R" protocol): ADC/IVF-ADC generate a
    * kShort ≈ several×k candidate shortlist (they cannot rank inside a
    * quantization cell — see PqSpec's recall contract), and this stage
    * re-orders it by exact integer squared L2. `shortlist` is any
    * (qid, nid, …) candidate table ([[pqAdcTopK]] / [[ivfPq]] output);
    * `prepared` is the [[prepare]] view.
    *
    * Plan shape at scale: the shortlist (queries × kShort rows, KBs) is
    * BROADCAST into two corpus scans that fetch the endpoint vectors —
    * the corpus never shuffles, the exact math runs on |shortlist| rows
    * only, and the per-query top-k window over kShort-row groups is the
    * only exchange. Returns (qid, rk, nid, dist). */
  def rerankExact(shortlist: DataFrame, prepared: DataFrame, k: Int): DataFrame = {
    val cand = shortlist.select(col("qid"), col("nid"))
    val nvecs = prepared
      .select(col("id").as("nid"), col("qv").as("nv"), col("nq").as("nn"))
      .join(broadcast(cand), Seq("nid"))
    val qvecs = prepared.select(col("id").as("qid"), col("qv"), col("nq"))
      .join(broadcast(cand.select(col("qid")).distinct()), Seq("qid"))
    val dist = col("nq") + col("nn") -
      lit(2L) * GraftFunctions.dot_long(col("qv"), col("nv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist"), col("nid"))
    nvecs.join(broadcast(qvecs), Seq("qid"))
      .select(col("qid"), col("nid"), dist.as("dist"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), col("dist"))
  }

  // -------------------------------------------------------------------
  // Scalar quantization (SQ8 — the FAISS ScalarQuantizer QT_8bit path):
  // one byte per dimension on a per-dimension [min, max] affine grid.
  // The middle rung of the compression ladder — 8× smaller than the
  // 64-bit quantized vectors with far higher fidelity than PQ's
  // sub-byte codes (256 levels per dim vs ks levels per 16-dim block),
  // so SQ8 top-k typically NEEDS no re-rank where ADC does. Same
  // determinism discipline as PQ: grid, codes, and distances are all
  // exact integer arithmetic, replayable by any engine.
  // -------------------------------------------------------------------

  /** The quantization grid: (d, mn, mx) per dimension — a map-side-
    * combined census bounded at dim rows regardless of corpus size. */
  def sqParams(prepared: DataFrame): DataFrame =
    prepared.select(posexplode(col("qv")).as(Seq("d", "x")))
      .groupBy(col("d")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))

  /** Encode to byte codes: code_d = ⌊(x−mn_d)·255 / (mx_d−mn_d)⌋,
    * clamped to [0, 255] (out-of-grid queries saturate), 0 on constant
    * dims. The grid is collected to two array literals (dim rows — the
    * model-as-data pattern of [[kmeans]]), so encoding is ONE map-side
    * projection: two zip_with passes, no join, no shuffle. The division
    * subtracts `pmod` first, making the numerator an exact multiple —
    * pure integer arithmetic. Returns (id, codes, ncode). */
  def sqEncode(prepared: DataFrame, params: DataFrame): DataFrame =
    sqEncodeWith(prepared, collectGrid(params))

  /** Collect the dim-row grid once (so multi-encode plans — e.g.
    * [[ivfSqJoin]]'s corpus + query sides — pay ONE census job). */
  private def collectGrid(params: DataFrame): Array[(Int, Long, Long)] =
    params.select(col("d"), col("mn"), col("mx"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)

  private def sqEncodeWith(prepared: DataFrame,
                           grid: Array[(Int, Long, Long)]): DataFrame = {
    val mnArr = typedLit(grid.map(_._2).toSeq)
    val spanArr = typedLit(grid.map(g => g._3 - g._2).toSeq)
    val shifted = zip_with(col("qv"), mnArr, (x, mn) => greatest(lit(0L), x - mn))
    val codes = zip_with(shifted, spanArr, (y, s) =>
      when(s === 0L, lit(0L)).otherwise(
        least(lit(255L), (y * 255L - pmod(y * 255L, s)) / s cast "long")))
    prepared.select(col("id"), codes.as("codes"))
      .withColumn("ncode", GraftFunctions.dot_long(col("codes"), col("codes")))
  }

  /** Approximate top-k in SQ8 code space: integer squared L2 between
    * code arrays. Encoded queries are broadcast, the code scan is
    * map-side, and the per-query top-k window is the only exchange —
    * the corpus never shuffles. Returns (qid, rk, nid, d2c). */
  def sqTopK(codes: DataFrame, queryCodes: DataFrame, k: Int): DataFrame = {
    val d2c = col("a.ncode") + col("b.ncode") -
      lit(2L) * GraftFunctions.dot_long(col("a.codes"), col("b.codes"))
    val pairs = broadcast(queryCodes.as("a"))
      .join(codes.as("b"), col("a.id") =!= col("b.id"))
      .select(col("a.id").as("qid"), col("b.id").as("nid"), d2c.as("d2c"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2c"), col("nid"))
    pairs.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), col("d2c"))
  }

  /** IVF-SQ8 — the MIDDLE rung of the composed-index ladder (FAISS
    * `IVF…,SQ8`): a coarse k-means quantizer routes every vector to a
    * cell exactly as [[ivfPq]] does, but the postings store SQ8 byte
    * codes on ONE global per-dimension grid instead of residual PQ
    * codes. A query probes its `nProbes` nearest cells and scans only
    * those postings in code space. Compared to the two neighbors on the
    * ladder: [[sqTopK]] scans the whole corpus (no cells); [[ivfPq]]
    * probes cells but quantizes to ks levels per 16-dim block and needs
    * a [[rerankExact]] stage — SQ8's 256 levels/dim typically doesn't
    * (see RecallSpec).
    *
    * Plan shape at scale: coarse training + assignment are map-only
    * kernel projections ([[kmeans]], [[assign]]); the grid is a dim-row census collected to
    * plan literals, so ENCODING IS A PURE MAP-SIDE PROJECTION — unlike
    * ivfPq there is no residual join at all (the global grid is
    * cell-independent). Query codes are probe-independent for the same
    * reason: queries×1 code rows (not ×nProbes), joined to their probe
    * list (queries×nProbes rows, KBs) and BROADCAST into the postings
    * scan, which stays map-side and touches only probed cells
    * (candidates ~ nProbes·n/kCells). The per-query top-k window is the
    * only shuffle — [[pqAdcTopK]]'s contract with sqTopK's fidelity.
    *
    * Determinism: kmeans discipline for the coarse stage, [[sqEncode]]'s
    * exact integer grid arithmetic for codes — DuckDB replays coarse
    * training, assignment, grid, codes, probing, and the (d2c, nid)
    * ranking bit-for-bit (query `v14_ivfsq`). Returns
    * (qid, rk, nid, d2c). */
  def ivfSq(prepared: DataFrame, kCells: Int, coarseIters: Int,
            nProbes: Int, k: Int, queryFilter: Column): DataFrame = {
    val idx = ivfSqBuild(prepared, kCells, coarseIters)
    ivfSqServe(idx, prepared.filter(queryFilter), nProbes, k)
  }

  /** The three PERSISTABLE artifacts of an IVF-SQ8 index — all plain
    * DataFrames of primitive columns, so the index round-trips through
    * parquet (or any table format) with no custom serialization:
    * `centroids` (cid, cv) — kCells rows; `grid` (d, mn, mx) — dim
    * rows; `postings` (id, cid, codes, ncode) — one row per corpus
    * vector, byte codes only. Build once when the corpus is (re)built,
    * write all three, and serve forever from the tables (the
    * [[graft.dedup.Dedup.buildIndex]] stored-index discipline applied
    * to vectors); the corpus floats are never needed again. */
  final case class IvfSqIndex(centroids: DataFrame, grid: DataFrame,
                              postings: DataFrame)

  /** Build the index artifacts (one coarse training + one map-only
    * assign/encode pass; the grid census is the only other corpus
    * touch). */
  def ivfSqBuild(prepared: DataFrame, kCells: Int, coarseIters: Int): IvfSqIndex = {
    val cents = kmeansCentroids(prepared, kCells, coarseIters)
    val grid = sqParams(prepared)
    // cid rides inside the id struct through the map-side encode, so
    // codes never rejoin the corpus (ivfPq's discipline)
    val postings = sqEncode(
        assign(prepared, cents).select(struct(col("id"), col("cid")).as("id"), col("qv")),
        grid)
      .select(col("id.id").as("id"), col("id.cid").as("cid"),
        col("codes"), col("ncode"))
    IvfSqIndex(cents, grid, postings)
  }

  /** Serve queries from (possibly reloaded) index artifacts — the back
    * half of [[ivfSq]], unchanged plan shape: model-broadcast probing,
    * map-side query encode, probe-bounded code scan, one top-k window. */
  def ivfSqServe(idx: IvfSqIndex, queries0: DataFrame, nProbes: Int,
                 k: Int): DataFrame = {
    val cents = idx.centroids
    val grid = idx.grid
    val postings = idx.postings
    val queries = queries0
    // probe list: nProbes nearest cells per query against the k-row model
    val withNc = cents.withColumn("nc", GraftFunctions.dot_long(col("cv"), col("cv")))
    val d2qc = col("nq") + col("nc") -
      lit(2L) * GraftFunctions.dot_long(col("qv"), col("cv"))
    val pw = Window.partitionBy(col("id")).orderBy(col("d2"), col("cid"))
    val probes = queries
      .crossJoin(broadcast(withNc))
      .select(col("id"), col("cid"), d2qc.as("d2"))
      .withColumn("pr", row_number().over(pw)).filter(col("pr") <= nProbes)
      .select(col("id").as("qid"), col("cid").as("pcid"))
    // one code row per query (global grid — probe-independent), joined to
    // its probe list: queries×nProbes rows total, broadcast
    val qside = sqEncode(queries, grid)
      .select(col("id").as("qid"), col("codes").as("qcodes"), col("ncode").as("qn"))
      .join(probes, Seq("qid"))
    val d2c = col("qn") + col("ncode") -
      lit(2L) * GraftFunctions.dot_long(col("qcodes"), col("codes"))
    val pairs = postings.join(broadcast(qside),
        col("cid") === col("pcid") && col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("nid"), d2c.as("d2c"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2c"), col("nid"))
    pairs.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), col("d2c"))
  }

  /** FILTERED (hybrid) serving — top-k among index vectors satisfying a
    * metadata predicate, the "vector search + WHERE clause" every
    * production vector store ships (FAISS IDSelector / Milvus scalar
    * filtering). Semantics are PRE-filter: the predicate restricts the
    * candidate set BEFORE ranking, so all k results satisfy it (a
    * post-filter of an unfiltered top-k under-fills whenever the filter
    * is selective — the classic hybrid-search bug).
    *
    * Plan shape: the predicate lands directly on the postings scan —
    * with parquet-persisted artifacts ([[ivfSqBuild]]'s index-as-tables
    * contract; attributes are ordinary postings columns riding beside
    * the codes) Catalyst pushes it into the file scan, so data skipping
    * prunes whole row groups before the probe join. Everything else is
    * [[ivfSqServe]] unchanged: probe-bounded candidates, one top-k
    * window.
    *
    * Caveat the caller owns: with selectivity s, probed candidates drop
    * to ~ s·nProbes·n/kCells — a very selective filter needs wider
    * nProbes (or a full-probe fall-back) to keep k results; the
    * filtered result equals brute-force-over-the-filtered-subset in
    * code space when nProbes = kCells (RecallSpec pins both laws). */
  def ivfSqServeWhere(idx: IvfSqIndex, queries0: DataFrame, nProbes: Int,
                      k: Int, pred: Column): DataFrame =
    ivfSqServe(idx.copy(postings = idx.postings.filter(pred)), queries0, nProbes, k)

  /** Index-quality census — the monitoring half of index OPERATION
    * (build: [[ivfSqBuild]]; serve: [[ivfSqServe]]; watch: this): per
    * coarse cell, population and inertia (Σ integer d2 to the assigned
    * centroid). Cell-balance skew decides task granularity at serve
    * time (a hot cell is a hot partition) and inertia drift is the
    * re-train trigger — both from ONE map-side pass over the corpus
    * (assignment is [[assign]]'s kernel argmin over the centroid
    * literal, for any k) ending in a kCells-row aggregate;
    * the shuffle carries the MODEL-sized census, never the corpus.
    * Deterministic integer arithmetic end-to-end (query `v20`). */
  def indexStats(prepared: DataFrame, centroids: DataFrame): DataFrame = {
    val withNc = centroids.select(col("cid"), col("cv"))
      .withColumn("nc", GraftFunctions.dot_long(col("cv"), col("cv")))
    assign(prepared, centroids)
      .join(broadcast(withNc), Seq("cid"))
      .withColumn("d2", GraftFunctions.dot_long(col("qv"), col("qv")) + col("nc") -
        lit(2L) * GraftFunctions.dot_long(col("qv"), col("cv")))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_points"), sum(col("d2")).as("inertia"))
  }

  /** Deterministic signed-permutation PRETRANSFORM (the FAISS
    * OPQ/RandomRotation slot, integer-exact form): output dim d takes
    * source dim π(d) times s(d) ∈ {−1, +1}, with π and s derived from
    * md5(seed|d) — a SIGNED PERMUTATION matrix, i.e. an orthogonal
    * rotation that preserves every dot product and L2 distance EXACTLY
    * in integer arithmetic (no float rotation error, no re-quantization).
    * Why it exists: PQ/SQ slice vectors into contiguous subspaces, so
    * correlated ADJACENT dimensions land in the same codebook and waste
    * its bits; a (seeded) permutation decorrelates the slicing at zero
    * distance cost, and the sign flips kill any systematic per-dim bias.
    * One map-side projection; `nq` is preserved (|Rx|² = |x|²).
    * Exact-invariance contract: brute-force/IVF/ADC rankings on
    * transformed vectors equal the untransformed rankings whenever the
    * index math is distance-based (pinned by RecallSpec; DuckDB replays
    * π, s, and the downstream chain bit-for-bit — query `v17`). */
  def signedPermute(prepared: DataFrame, dim: Int, seed: String): DataFrame = {
    val order = (0 until dim)
      .map(d => (org.apache.commons.codec.digest.DigestUtils.md5Hex(s"$seed|$d"), d))
      .sorted.map(_._2)
    val sign = (0 until dim).map(d =>
      if ((org.apache.commons.codec.digest.DigestUtils.md5Hex(s"$seed|s|$d")
        .charAt(0) & 1) == 1) -1L else 1L)
    val out = array((0 until dim).map(d =>
      element_at(col("qv"), order(d) + 1) * lit(sign(d))): _*)
    prepared.withColumn("qv", out)
  }

  /** Large-×-large semantic top-k JOIN: for every vector of `queries`,
    * its k nearest `corpus` vectors in SQ8 code space through an IVF
    * coarse quantizer — the corpus-to-corpus retrieval shape (RETRO-
    * style neighbor fetch, cross-corpus semantic decontamination,
    * kNN-LM datastore build) where BOTH sides are data-scale and
    * neither can be broadcast.
    *
    * Plan shape at 100 TB — every stage before the join is map-only:
    * the coarse centroids and SQ grid are bounded models (k·dim /
    * dim·2 rows) trained on the corpus side; corpus rows assign + encode
    * in one projection ([[assign]]'s kernel argmin, [[sqEncode]]);
    * query rows route to their nProbes nearest cells by sorting the
    * kernel's kCells-entry d2 table zipped with the cids (NO crossJoin,
    * NO window — the routing that [[ivfSq]] does with a window over
    * queries×kCells rows collapses to a per-row array_sort of kCells
    * (d2, cid) structs) and encode in the same projection. The single shuffle pair is the
    * equi-join on cell id — a SHUFFLED join, not a broadcast: pair
    * volume is the IVF candidate count (|queries|·nProbes·|corpus|/
    * kCells), task granularity is one cell, so kCells must be sized
    * ≥ a few × cluster cores (and AQE skew-join splits hot cells).
    * The per-query top-k window is the only other exchange.
    *
    * Ids of the two sides are independent (no self-pair exclusion —
    * distinct corpora); filter `qid === nid` downstream when joining a
    * corpus to itself. Same determinism discipline as [[ivfSq]]; DuckDB
    * replays coarse training, the grid, both encodes, routing, and the
    * ranking bit-for-bit (query `v16_ann_join`).
    * Returns (qid, rk, nid, d2c). */
  def ivfSqJoin(corpus: DataFrame, queries: DataFrame, kCells: Int,
                coarseIters: Int, nProbes: Int, k: Int): DataFrame = {
    val cents = kmeansCentroids(corpus, kCells, coarseIters)
    val grid = collectGrid(sqParams(corpus)) // one census job, both encodes
    val postings = sqEncodeWith(
        assign(corpus, cents).select(struct(col("id"), col("cid")).as("id"), col("qv")),
        grid)
      .select(col("id.id").as("nid"), col("id.cid").as("cid"),
        col("codes"), col("ncode"))
    // probe routing: the nProbes least (d2, cid) structs of the kernel's
    // d2 table zipped with the cid-sorted cids
    val centArr = collectCentroids(cents)
    val probes = arrays_zip(
      GraftExpr.l2Table(col("qv"), Seq(centArr.map(_._2))).as("d2"),
      typedLit(centArr.map(_._1)).as("cid"))
    val routed = queries.select(col("id"), col("qv"),
        explode(slice(array_sort(probes), 1, nProbes)).as("p"))
      .select(struct(col("id"), col("p.cid").as("cid")).as("id"), col("qv"))
    val qside = sqEncodeWith(routed, grid)
      .select(col("id.id").as("qid"), col("id.cid").as("qcid"),
        col("codes").as("qcodes"), col("ncode").as("qn"))
    val d2c = col("qn") + col("ncode") -
      lit(2L) * GraftFunctions.dot_long(col("qcodes"), col("codes"))
    // the one large-large exchange: shuffled equi-join on cell id
    val pairs = postings.join(qside, col("cid") === col("qcid"))
      .select(col("qid"), col("nid"), d2c.as("d2c"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2c"), col("nid"))
    pairs.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), col("d2c"))
  }

  // -------------------------------------------------------------------
  // Binary quantization (1 bit/dim — the bottom rung of the compression
  // ladder, below SQ8's byte codes): bit_d = [x_d > pivot_d], packed 32
  // bits per 64-bit word so every intermediate stays exactly
  // representable in BOTH engines (a 64-bit pack would need the sign
  // bit; DuckDB BIGINT overflow is an error, not a wrap). Distance is
  // Hamming — the codegen'd popcount kernel — which for sign codes is a
  // monotone proxy of angular distance (Charikar 2002 SimHash bound:
  // P[bit differs] = θ/π). 64-dim float vectors compress 32×: the scan
  // state that decides in-memory vs spilled at 10¹¹ vectors.
  // -------------------------------------------------------------------

  /** Per-dimension integer pivot = floor(mean of quantized values) — a
    * dim-row census (map-side combined), exact integer floor division
    * (the pmod trick: `div` truncates toward zero on negatives). */
  def binaryPivots(prepared: DataFrame): DataFrame =
    prepared.select(posexplode(col("qv")).as(Seq("d", "x")))
      .groupBy(col("d")).agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
      .select(col("d"),
        ((col("s") - pmod(col("s"), col("n"))) / col("n")).cast("long").as("pv"))

  /** Encode to packed sign bits: word w = Σ_{j<32} [x_{32w+j} > pv]·2^j,
    * ⌈dim/32⌉ words per vector. The pivot table is collected to literal
    * arrays (dim rows — the model-literal pattern), so encoding is ONE
    * map-side projection: no join, no shuffle. Returns (id, bwords). */
  def binaryEncode(prepared: DataFrame, pivots: DataFrame): DataFrame = {
    val pv = pivots.select(col("d"), col("pv")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val dim = pv.length
    val pvArr = array(pv.map(p => lit(p._2)): _*)
    val bits = zip_with(col("qv"), pvArr, (x, p) => when(x > p, 1L).otherwise(0L))
    // MSB-first fold per 32-bit block: ((b31·2 + b30)·2 + …) = Σ b_j 2^j
    val words = (0 until (dim + 31) / 32).map { w =>
      aggregate(reverse(slice(bits, w * 32 + 1, math.min(32, dim - w * 32))),
        lit(0L), (acc, b) => acc * 2 + b)
    }
    prepared.select(col("id"), array(words: _*).as("bwords"))
  }

  /** Approximate top-k by Hamming distance over packed sign codes:
    * queries broadcast, the code scan map-side (per-word codegen'd
    * popcount, summed), the per-query top-k window the only exchange.
    * Sign codes rank by angle class, so ties are dense — budget k as a
    * SHORTLIST and re-rank with [[rerankExact]] (RecallSpec measures
    * both). Returns (qid, rk, nid, ham). */
  def binaryTopK(codes: DataFrame, queryCodes: DataFrame, k: Int): DataFrame = {
    val ham = aggregate(
      zip_with(col("a.bwords"), col("b.bwords"),
        (x, y) => GraftFunctions.hamming_dist(x, y).cast("long")),
      lit(0L), (acc, h) => acc + h)
    val pairs = broadcast(queryCodes.as("a"))
      .join(codes.as("b"), col("a.id") =!= col("b.id"))
      .select(col("a.id").as("qid"), col("b.id").as("nid"), ham.as("ham"))
    val w = Window.partitionBy(col("qid")).orderBy(col("ham"), col("nid"))
    pairs.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), col("ham"))
  }

  /** Recall@k census — the EVALUATION member of index operation
    * (build: [[ivfSqBuild]]; serve: [[ivfSqServe]]; watch:
    * [[indexStats]]; evaluate: this). Ground truth is exact integer-L2²
    * top-k over `prepared` for each query (the metric the index
    * approximates); `approx` is any served result carrying (qid, nid).
    * Per query: hits = |approx ∩ exact-top-k| and recall in ppm
    * (⌊hits·10⁶/k⌋ — integer, engine-replayable).
    *
    * Scale contract: ground truth is inherently exact-search priced, so
    * the census runs on a SAMPLED query set by construction — `queries`
    * is the bounded evaluation sample (broadcast), never the corpus.
    * The corpus side streams map-side against it; the per-query top-k
    * window is the only exchange, partitioned by qid (never global). */
  def recallCensus(approx: DataFrame, prepared: DataFrame, queries: DataFrame,
                   k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    Seq("qid", "nid").foreach(c => require(approx.columns.contains(c),
      s"approx must carry column $c (a served (qid, nid) result)"))
    val d2 = col("a.nq") + col("b.nq") -
      lit(2L) * GraftFunctions.dot_long(col("a.qv"), col("b.qv"))
    val pairs = broadcast(queries.as("a"))
      .join(prepared.as("b"), col("a.id") =!= col("b.id"))
      .select(col("a.id").as("qid"), col("b.id").as("nid"), d2.as("d2"))
    val w = Window.partitionBy(col("qid")).orderBy(col("d2"), col("nid"))
    val exact = pairs.withColumn("brk", row_number().over(w)).filter(col("brk") <= k)
      .select(col("qid"), col("nid"))
    // distinct makes hits a true set intersection even if a caller hands
    // an approx result with repeated (qid, nid) rows; it is k·|Q|-sized
    exact
      .join(approx.select(col("qid"), col("nid")).distinct()
          .withColumn("hit", lit(1L)),
        Seq("qid", "nid"), "left")
      .groupBy(col("qid"))
      .agg(sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hits"))
      .withColumn("recall_ppm", (col("n_hits") * 1000000L / k).cast("long"))
  }
}
