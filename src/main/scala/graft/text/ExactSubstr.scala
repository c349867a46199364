package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** EXACT-SUBSTRING cross-corpus contamination census — the exact-match
  * complement of the gram-overlap decontamination family (x6's token
  * Jaccard, x24's contamination matrix): Lee et al., "Deduplicating
  * Training Data Makes Language Models Better" (ExactSubstr) removes
  * train/eval overlap by EXACT substring match, not shingle similarity.
  * Their single-node tool builds a suffix array; the Spark-first form
  * asks the same question as a census over a LENGTH LADDER: for each
  * probe length L, which eval documents share a verbatim L-character
  * substring with ANY train document? The per-document longest-match
  * length is then bracketed by the largest L that hits (a suffix array
  * gives the exact length; the ladder gives the decontamination
  * DECISION — thresholds like "drop on ≥ 50-char overlap" only need the
  * bracket).
  *
  * Shape per L: explode every document into its distinct character
  * L-grams (one map-side pass, `transform(sequence(...))` — codegen, no
  * UDF), then one equi-join train-grams ⋈ eval-grams and a distinct doc
  * census. Shuffle = O(total chars) gram rows per probed length, the
  * same banded-join scale class as the MinHash family (d4); at 100 TB
  * the L-gram key would be a rolling hash (8-byte keys, collision
  * verify on the string in the same join) — the string key here keeps
  * the oracle engine-portable, and the ladder is embarrassingly
  * parallel across L.
  *
  * TWO KEY FORMS, and the hashed one is the library default at scale:
  *
  *  - STRING keys ([[grams]]/[[buildIndex]]/[[screenBatch]]/
  *    [[sharedSubstrCensus]]): every shuffled row carries the L-char
  *    gram itself. Engine-portable (any SQL engine replays it), but at
  *    L = 50 the shuffle moves ~50 bytes/gram.
  *  - HASHED keys ([[gramHashes]]/[[buildHashIndex]]/
  *    [[screenBatchHashed]]/[[sharedSubstrCensusHashed]]): each gram is
  *    a 60-bit md5 prefix ([[graft.functions.GraftFunctions.chargram_hashes_sd]],
  *    one imperative pass per document, within-doc dedup BEFORE the
  *    explode) — 8 bytes/row through every distinct and join, and the
  *    hash replays exactly in DuckDB as
  *    `('0x' || substr(md5(g), 1, 15))::BIGINT`, so hash-level oracles
  *    stay bit-exact even if a collision ever fired (both engines
  *    compute the same hash). For EXACT string semantics,
  *    [[sharedSubstrCensusHashed]] adds a candidate-restricted verify:
  *    corpus-scale movement stays 8-byte hashes, and gram STRINGS move
  *    only for the hit set (the train∩eval overlap — tiny next to the
  *    corpus in any decontamination run), map-side filtered through a
  *    broadcast of the candidate hashes before any string shuffles. A
  *    hash-only screen errs CONSERVATIVE (a collision can only flag a
  *    clean doc, never pass a contaminated one) — the safe direction
  *    for decontamination. */
object ExactSubstr {

  /** PARALLELISM GUARD for the text-kernel writers/screens (the x53
    * widen() discipline, r18 measurement: a small parquet fixture
    * arrives as ONE partition, so the per-rung md5 gram passes of
    * [[buildHashIndex]]/[[savePosArraysBucketed]] and the screen's
    * probe side serialized into one task BEFORE their bucket shuffle —
    * x54/x55's build phase ran ~1.7 s single-threaded). A narrow input
    * is by construction small, so repartition + localCheckpoint is
    * cheap and the (usually ≥ 2) per-rung consumers read the blocks; a
    * wide input — the 100 TB case — passes through untouched (never
    * reshuffle a corpus for parallelism it already has). */
  private def widenIfNarrow(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par)
      df.repartition(par).localCheckpoint(true)
    else df
  }

  /** Distinct character L-grams of `textCol`, keeping `keep` columns.
    * Documents shorter than L emit nothing. 1-based `substring`, so the
    * grams replay verbatim in any SQL engine. */
  def grams(docs: DataFrame, textCol: String, L: Int,
            keep: Seq[String] = Seq.empty): DataFrame = {
    require(L >= 1, s"ExactSubstr: L=$L")
    docs.filter(length(col(textCol)) >= L)
      .select(keep.map(col) :+ explode(expr(
        s"transform(sequence(1, length($textCol) - $L + 1), " +
        s"i -> substring($textCol, i, $L))")).as("g"): _*)
      .distinct()
  }

  /** The STORED index side of a streaming screen: one row per distinct
    * (gram_len, g) over the train corpus, all ladder rungs in one frame.
    * Built once, checkpointed by the caller, and then NEVER moved again:
    * [[screenBatch]] broadcasts the (small) arriving batch against it,
    * so the per-batch plan scans the index map-side with zero index
    * shuffle — the s9 admission-index shape applied to decontamination.
    * At 100 TB the index is the corpus; re-shuffling it per micro-batch
    * is the scale-killer this split exists to avoid. */
  def buildIndex(train: DataFrame, textCol: String,
                 lengths: Seq[Int]): DataFrame = {
    require(lengths.nonEmpty, "ExactSubstr: empty length ladder")
    lengths.map { l =>
      grams(train, textCol, l).select(lit(l).as("gram_len"), col("g"))
    }.reduce(_ unionByName _)
  }

  /** Screen one arriving batch of documents against a [[buildIndex]]
    * frame: per ladder rung, how many batch docs share a verbatim
    * L-char substring with the indexed corpus (+ id checksum). The
    * batch side BROADCASTS — the contract is batch ≪ index (a
    * decontamination screen admits eval/holdout docs in micro-batches
    * against a corpus-sized index; the reverse would be x48's co-shuffle
    * census). Guarded loudly: a corpus-sized frame passed as `batch`
    * would OOM the broadcast, so doc count is capped. Rungs with zero
    * hits emit no row (the caller's accumulator treats absence as +0). */
  def screenBatch(index: DataFrame, batch: DataFrame, textCol: String,
                  idCol: String, lengths: Seq[Int],
                  maxBatchDocs: Long = 1000000L): DataFrame = {
    require(lengths.nonEmpty, "ExactSubstr: empty length ladder")
    val n = batch.count()
    require(n <= maxBatchDocs,
      s"ExactSubstr.screenBatch: batch has $n docs (> $maxBatchDocs) — " +
      "the batch side broadcasts; screen the small side against the " +
      "index, or use sharedSubstrCensus for the corpus-vs-corpus form.")
    val bg = lengths.map { l =>
      grams(batch, textCol, l, keep = Seq(idCol))
        .select(lit(l).as("gram_len"), col(idCol), col("g"))
    }.reduce(_ unionByName _)
    index.join(broadcast(bg), Seq("gram_len", "g"))
      .select(col("gram_len"), col(idCol)).distinct()
      .groupBy(col("gram_len"))
      .agg(count(lit(1)).as("n_docs_hit"),
           coalesce(sum(col(idCol)), lit(0L)).as("id_chk"))
  }

  /** Distinct 60-bit character-L-gram HASHES of `textCol`, keeping
    * `keep` columns — the 8-bytes-per-row twin of [[grams]]. Within-doc
    * dedup happens inside the kernel (map-side, before the explode);
    * the trailing `.distinct()` then dedups across documents on 8-byte
    * keys. Documents shorter than L emit nothing. */
  def gramHashes(docs: DataFrame, textCol: String, L: Int,
                 keep: Seq[String] = Seq.empty): DataFrame = {
    require(L >= 1, s"ExactSubstr: L=$L")
    docs.select(keep.map(col) :+ explode(
        graft.functions.GraftFunctions
          .chargram_hashes_sd(col(textCol), L)).as("h"): _*)
      .distinct()
  }

  /** String grams paired with their 60-bit hash — the VERIFY side's
    * input, via the [[graft.functions.GraftFunctions.chargram_pairs]]
    * kernel (one imperative pass per document; the declarative
    * explode + per-gram md5 chain paid ~3 interpreted expression-tree
    * walks per gram — the x6/NgramHash lesson). Per-document distinct;
    * a broadcast of candidate hashes filters these rows map-side
    * BEFORE any string moves. */
  private def gramsWithHash(docs: DataFrame, textCol: String, L: Int,
                            keep: Seq[String]): DataFrame =
    docs.select(keep.map(col) :+ explode(
        graft.functions.GraftFunctions.chargram_pairs(col(textCol), L))
        .as("p"): _*)
      .select(keep.map(col) :+ col("p.h").as("h") :+ col("p.g").as("g"): _*)

  /** [[buildIndex]] with 60-bit hash keys: one row per distinct
    * (gram_len, h) over the train corpus — 8-byte rows through the
    * build shuffle, the checkpoint, and every per-batch screen scan.
    * This is the index form to use at scale; the hash replays in any
    * engine with md5, so oracles stay exact. */
  def buildHashIndex(train: DataFrame, textCol: String,
                     lengths: Seq[Int]): DataFrame = {
    require(lengths.nonEmpty, "ExactSubstr: empty length ladder")
    // one kernel pass per rung over the same text — widen a narrow
    // input once so the passes run in parallel instead of one task
    val t = widenIfNarrow(train)
    lengths.map { l =>
      gramHashes(t, textCol, l)
        .select(lit(l).as("gram_len"), col("h"))
    }.reduce(_ unionByName _)
  }

  /** [[screenBatch]] against a [[buildHashIndex]] frame: the arriving
    * batch's gram HASHES broadcast into one map-side index scan per
    * micro-batch — zero index shuffle, 8-byte join keys. Hash-level
    * semantics: a 60-bit collision can only over-flag (conservative for
    * decontamination); there are no false negatives. Same batch-size
    * guard as the string form. */
  def screenBatchHashed(index: DataFrame, batch: DataFrame, textCol: String,
                        idCol: String, lengths: Seq[Int],
                        maxBatchDocs: Long = 1000000L): DataFrame = {
    require(lengths.nonEmpty, "ExactSubstr: empty length ladder")
    val n = batch.count()
    require(n <= maxBatchDocs,
      s"ExactSubstr.screenBatchHashed: batch has $n docs (> $maxBatchDocs) " +
      "— the batch side broadcasts; screen the small side against the " +
      "index, or use sharedSubstrCensusHashed for the corpus-vs-corpus form.")
    val bg = lengths.map { l =>
      gramHashes(batch, textCol, l, keep = Seq(idCol))
        .select(lit(l).as("gram_len"), col(idCol), col("h"))
    }.reduce(_ unionByName _)
    index.join(broadcast(bg), Seq("gram_len", "h"))
      .select(col("gram_len"), col(idCol)).distinct()
      .groupBy(col("gram_len"))
      .agg(count(lit(1)).as("n_docs_hit"),
           coalesce(sum(col(idCol)), lit(0L)).as("id_chk"))
  }

  /** Persist a [[buildHashIndex]] frame BUCKETED by (gram_len, h):
    * the reloaded table's scan advertises hash-partitioning on exactly
    * those keys, so every future co-shuffle screen joins with ZERO
    * index-side Exchange — only the arriving batch shuffles into the
    * index's bucket layout. This is the screen shape for batches too
    * big to broadcast (the [[screenBatchHashed]] guard's other arm): at
    * 100 TB the index IS the corpus, and re-shuffling it per screen is
    * the cost this layout eliminates (x52 persists the same index as
    * plain parquet and pays it, or broadcasts the batch). Written as an
    * EXTERNAL table at `path` (metadata in the session catalog). */
  def saveHashIndexBucketed(index: DataFrame, table: String, path: String,
                            buckets: Int = 32): Unit = {
    val spark = index.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // cluster rows into their bucket BEFORE the write: a bucketed write
    // emits one file per (task, bucket) PRESENT, so an unclustered
    // upstream fans out up to tasks x buckets files; the repartition on
    // the bucket keys (same murmur3 hash bucketBy uses) caps it at
    // `buckets` right-sized files (guide §6 small-files / file sizing)
    index.repartition(buckets, col("gram_len"), col("h"))
      .write.mode("overwrite").format("parquet")
      .option("path", path)
      .bucketBy(buckets, "gram_len", "h").sortBy("gram_len", "h")
      .saveAsTable(table)
  }

  /** Append a new batch's gram hashes into an EXISTING bucketed index
    * table (the [[saveHashIndexBucketed]] layout) — the incremental arm
    * of the build-once / append-often decontamination loop: each append
    * shuffles ONLY the new batch's 8-byte hash rows into the same
    * (gram_len, h) bucket layout; the existing index is never read or
    * rewritten. Later [[screenBatchBucketed]] screens still join with
    * zero index-side Exchange — each bucket simply gains one file per
    * append (a bucket's task reads all its files; the per-bucket sort
    * guarantee degrades to a task-local Sort, never an Exchange).
    * Duplicate (gram_len, h) rows across appends are harmless: the
    * screen censuses distinct doc hits. */
  def appendHashIndexBucketed(newDocs: DataFrame, textCol: String,
                              table: String, lengths: Seq[Int],
                              buckets: Int = 32): Unit =
    // same pre-clustering as [[saveHashIndexBucketed]]: each append adds
    // at most `buckets` files instead of tasks x buckets
    buildHashIndex(newDocs, textCol, lengths)
      .repartition(buckets, col("gram_len"), col("h"))
      .write.mode("append").format("parquet")
      .bucketBy(buckets, "gram_len", "h").sortBy("gram_len", "h")
      .saveAsTable(table)

  /** Shared POSITIONAL base-gram array side table — the cross-rung key
    * reuse arm: ONE text pass computes every document's positional
    * 60-bit base-gram hash array ([[graft.functions.GraftFunctions.chargram_hashes]]
    * at the ladder's bottom rung) and persists it BUCKETED by the doc
    * id (the x54 lifecycle discipline applied to the arrays), so every
    * exact-substring consumer — ladder censuses at ANY rung that is
    * expressible over base members, verified screens, the x53 search's
    * hit-set selection (an id-keyed semi-join, which the id bucketing
    * co-locates) — starts from this checkpoint instead of re-scanning
    * text. A length-m window (m ≥ b) is characterized by its base
    * members at offsets 0, b, …, m−b (tiling: member equality at a
    * common anchor ⇒ window string equality, up to base-hash
    * collisions — the same conservative class as the hashed census),
    * so the whole ladder above b derives from these arrays with ZERO
    * additional text passes. */
  def savePosArraysBucketed(docs: DataFrame, textCol: String, idCol: String,
                            b: Int, table: String, path: String,
                            buckets: Int = 32): Unit = {
    require(b >= 1, s"ExactSubstr: b=$b")
    val spark = docs.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // repartition on the bucket key BEFORE the kernel: one shuffle of
    // raw text (smaller than the 8-bytes-per-char arrays), the md5
    // kernel then runs `buckets`-wide post-exchange, and the bucketed
    // write emits exactly one right-sized file per bucket instead of
    // tasks x buckets (guide §2.3 shuffle-fewer-bytes + §6 file sizing)
    docs.repartition(buckets, col(idCol))
      .select(col(idCol),
        graft.functions.GraftFunctions.chargram_hashes(col(textCol), b).as("H"))
      .write.mode("overwrite").format("parquet").option("path", path)
      .bucketBy(buckets, idCol).sortBy(idCol)
      .saveAsTable(table)
  }

  /** Distinct length-m window MEMBER TUPLES of each doc in a
    * [[savePosArraysBucketed]] table — (id, m0, m1, …) rows where the
    * columns are the base members at offsets 0, b, …, m−b of each
    * window position. Engine-portable window identity (the members are
    * md5-prefix hashes both DuckDB and Spark compute identically), used
    * by the cross-rung census: a rung-m census is an equi-join of these
    * tuples, no text and no new kernel. */
  def windowMembers(pos: DataFrame, idCol: String, m: Int, b: Int)
      : DataFrame = {
    require(m >= b, s"ExactSubstr: window $m below base $b")
    val offsets = ((0 until (m - b) by b) :+ (m - b)).distinct
    pos.filter(size(col("H")) >= m - b + 1)
      .select(col(idCol), explode(expr(
        s"sequence(1, size(H) - ${m - b})")).as("i"), col("H"))
      .select(col(idCol) +: offsets.zipWithIndex.map { case (o, j) =>
        element_at(col("H"), col("i") + o).as(s"m$j") }: _*)
      .distinct()
  }

  /** Screen a batch against a [[saveHashIndexBucketed]] table by
    * CO-SHUFFLE: a sort-merge join where the index side reads in place
    * (its bucketing IS the join distribution) and only the batch's
    * 8-byte hash rows move. Same output contract as [[screenBatchHashed]]
    * — per hitting rung, doc count + id checksum. */
  def screenBatchBucketed(spark: org.apache.spark.sql.SparkSession,
                          table: String, batch: DataFrame, textCol: String,
                          idCol: String, lengths: Seq[Int]): DataFrame = {
    require(lengths.nonEmpty, "ExactSubstr: empty length ladder")
    val index = spark.table(table)
    // per-rung kernel passes over the probe batch — same widen guard
    // as buildHashIndex (narrow fixture input serialized the md5 work)
    val bw = widenIfNarrow(batch)
    val bg = lengths.map { l =>
      gramHashes(bw, textCol, l, keep = Seq(idCol))
        .select(lit(l).as("gram_len"), col(idCol), col("h"))
    }.reduce(_ unionByName _)
    index.join(bg.hint("merge"), Seq("gram_len", "h"))
      .select(col("gram_len"), col(idCol)).distinct()
      .groupBy(col("gram_len"))
      .agg(count(lit(1)).as("n_docs_hit"),
           coalesce(sum(col(idCol)), lit(0L)).as("id_chk"))
  }

  /** [[sharedSubstrCensus]] on hash keys — the 100 TB form. Phase 1
    * joins 8-byte hash rows (corpus-scale movement). With `verify` on
    * (the default), phase 2 re-derives gram strings ONLY for candidate
    * hashes: the hit-hash set broadcasts, both corpora's gram streams
    * are filtered map-side against it before any string shuffles, and
    * the final join matches on (h, g) — the in-join string verify that
    * makes the result bit-identical to [[sharedSubstrCensus]] (so the
    * string-form oracle gates this path unchanged). `verify = false`
    * is the pure-hash census (collisions over-count, never under). */
  def sharedSubstrCensusHashed(train: DataFrame, eval: DataFrame,
                               textCol: String, idCol: String,
                               lengths: Seq[Int],
                               verify: Boolean = true): DataFrame = {
    require(lengths.nonEmpty, "ExactSubstr: empty length ladder")
    lengths.map { l =>
      val th = gramHashes(train, textCol, l)
      val eh = gramHashes(eval, textCol, l, keep = Seq(idCol))
      val cand = eh.join(th, Seq("h"))
      val docsHit =
        if (!verify) cand.select(col(idCol)).distinct()
        else {
          val candH = cand.select(col("h")).distinct()
          val tg = gramsWithHash(train, textCol, l, keep = Seq.empty)
            .join(broadcast(candH), Seq("h")).select(col("h"), col("g"))
            .distinct()
          val eg = gramsWithHash(eval, textCol, l, keep = Seq(idCol))
            .join(broadcast(candH), Seq("h"))
            .select(col(idCol), col("h"), col("g")).distinct()
          eg.join(tg, Seq("h", "g")).select(col(idCol)).distinct()
        }
      docsHit
        .agg(count(lit(1)).as("n_docs_hit"),
             coalesce(sum(col(idCol)), lit(0L)).as("id_chk"))
        .select(lit(l).as("gram_len"), col("n_docs_hit"), col("id_chk"))
    }.reduce(_ unionByName _)
  }

  /** (id, m, k) probe stream: each doc probes its OWN length (its `m`
    * column) — ONE dynamic-kernel pass, no per-length branch union. */
  private def evalKeys(evalWithM: DataFrame, idCol: String, b: Int)
      : DataFrame =
    evalWithM.filter(size(col("H")) >= col("m") - b + 1)
      .select(col(idCol), col("m"), explode(
        org.apache.spark.sql.graftx.GraftExpr.windowKeyHashesDyn(
          col("H"), col("m"), b)).as("k"))

  /** Hash-level "which docs share which window lengths with the train
    * side" over precomputed base arrays: `evKeys` carries each doc's own
    * probe lengths (id, m, k); the train side is ONE flat multi-length
    * kernel pass ([[WindowKeyHash]] mixes m into every key, so lengths
    * occupy disjoint key spaces and a single untagged key column joins
    * correctly). Never a text pass. This is the DISTRIBUTED route's join
    * (the giant-flagged-set fallback) — the driver-probe route ships its
    * keys inside [[org.apache.spark.sql.graftx.GraftExpr.windowKeyProbe]]
    * instead and never shuffles either side. Returns (id, m). */
  private def hitIdsFor(evKeys: DataFrame, trainH: DataFrame, idCol: String,
                        ms: Seq[Int], b: Int): DataFrame = {
    val tr = trainH.filter(size(col("H")) >= ms.min - b + 1)
      .select(explode(
        org.apache.spark.sql.graftx.GraftExpr.windowKeyHashes(
          col("H"), ms, b)).as("k"))
    evKeys.distinct().join(tr.distinct(), Seq("k"))
      .select(col(idCol), col("m")).distinct()
  }

  /** EXACT longest-shared-substring length per flagged eval document —
    * the refinement that closes the gap between the ladder's BRACKET and
    * Lee et al.'s suffix-array answer, clamped at `maxProbe` (their
    * decontamination thresholds are ~50 chars; the clamp bounds probe
    * cost and matches the oracle's suffix truncation).
    *
    * Cost shape (the 100 TB contract): the CORPUS is touched exactly
    * once per side — one pass building each document's positional
    * base-gram hash array (8-byte members) plus the map-side-deduped
    * bottom-rung hash join that selects the HIT SETS. Everything after
    * — the rung-ladder brackets, every binary-search round, the final
    * verify — is array projections over the checkpointed hit-set
    * arrays; no phase ever re-reads text, and each phase projects ALL
    * its window lengths in one pass. Each doc consumes
    * ~⌈log₄(its bracket width)⌉ rounds (QUARTERING: three quantile
    * points plus the bracket top per round; round 0 additionally tests
    * the ladder rungs); a round runs all active docs' probe points
    * together (one projection + one key probe).
    *
    * BOTTOM-RUNG CONTRACT (measured, SCALE.md r18): the "hit-set-sized"
    * cost claim is only as good as the bottom rung's selectivity. On
    * natural-ish text at b = 8 — and still at b = 16 — essentially
    * EVERY document shares a bottom-rung gram, so the hit sets ARE the
    * corpora and the checkpointed positional arrays cost 8 bytes per
    * character (8× the text). Pick `lengths.head` at the
    * decontamination threshold's scale (Lee et al. use 50; 32–50 on
    * prose): lengths below it add nothing to the answer's precision
    * above the rung, and `maxDriverDocs`/`maxDriverKeys` fire loudly
    * when a small b saturates.
    *
    * Exactness: hash MISSES are exact (true equality implies hash
    * equality), so every upper bound is true; hash HITS are settled by
    * a final per-doc STRING verify at the converged length — candidate
    * (position, train witness) pairs from the composite keys, one
    * substring comparison each. A verify failure at the bottom rung
    * drops the doc (it was never truly contaminated — the collision
    * class); above it the search itself was misled, so it throws loudly
    * (xxhash64-collision class; never observed).
    *
    * Returns (idCol, longest) for every doc sharing a bottom-rung
    * substring; longest is exact in [bottom rung, min(maxProbe, len)].
    * `lengths` must be ascending. */
  def longestSharedSubstr(train: DataFrame, eval: DataFrame,
                          textCol: String, idCol: String,
                          lengths: Seq[Int], maxProbe: Int = 96,
                          maxRounds: Int = 16,
                          maxDriverDocs: Long = 8192L,
                          maxDriverKeys: Long = 4194304L): DataFrame = {
    require(lengths.nonEmpty && lengths == lengths.sorted &&
      lengths.distinct == lengths,
      s"ExactSubstr: ladder must be ascending distinct, got $lengths")
    require(maxProbe >= lengths.last,
      s"ExactSubstr: maxProbe=$maxProbe below top rung ${lengths.last}")
    val b = lengths.head
    val G = graft.functions.GraftFunctions
    // PARALLELISM GUARD (r18): every text/array kernel pass below must
    // run wide. A small parquet fixture arrives as ONE partition, and
    // AQE coalesces the small-BYTES hit-set frames (8-byte hash members)
    // to 1-2 partitions — either way the per-round window-kernel work
    // would serialize into one task (the "stage wall >> task-time/32"
    // class; measured 2-3x on the whole search). A corpus that is
    // already wide (the 100 TB case) is left untouched — repartitioning
    // full text there would be a corpus-sized shuffle for nothing.
    // a widened frame is also CHECKPOINTED: it is consumed by two later
    // passes (base-gram census + hit-set array build), and a narrow
    // input is by construction small enough to hold; a wide input (the
    // scale case) passes through untouched and unmaterialized
    val par = train.sparkSession.sparkContext.defaultParallelism
    def widen(df: DataFrame): DataFrame =
      if (df.rdd.getNumPartitions < par)
        df.repartition(par).localCheckpoint(true)
      else df
    val evalW = widen(eval.select(col(idCol), col(textCol)))
    val trainW = widen(train.select(col(idCol), col(textCol)))
    // the two corpus passes: bottom-rung hashes, map-side deduped, each
    // consumed twice (flagged selection + hit-set selection) — so
    // materialized once (8-byte rows)
    val evalBh = evalW.select(col(idCol),
      explode(G.chargram_hashes_sd(col(textCol), b)).as("h"))
      .localCheckpoint(true)
    val trainBh = trainW.select(col(idCol),
      explode(G.chargram_hashes_sd(col(textCol), b)).as("h"))
      .localCheckpoint(true)
    val flaggedIds = evalBh
      .join(trainBh.select(col("h")).distinct(), Seq("h"))
      .select(col(idCol)).distinct()
    // hit-set positional arrays (+ text, for the final verify), the
    // only frames the refinement ever touches — checkpointed once; the
    // repartition rides BEFORE the array kernel so both the projection
    // and every later probe round run `par`-wide (hit-set-sized text
    // moves once, per the module contract)
    val evalH = evalW.join(flaggedIds, Seq(idCol), "left_semi")
      .repartition(par)
      .select(col(idCol), col(textCol).as("text"),
        G.chargram_hashes(col(textCol), b).as("H"))
      .localCheckpoint(true)
    val flaggedBh = evalBh.join(flaggedIds, Seq(idCol), "left_semi")
      .select(col("h")).distinct()
    val trainHitIds = trainBh.join(flaggedBh, Seq("h"))
      .select(col(idCol)).distinct()
    val trainH = trainW.join(trainHitIds, Seq(idCol), "left_semi")
      .repartition(par)
      .select(col(idCol).as("tid"), col(textCol).as("ttext"),
        G.chargram_hashes(col(textCol), b).as("H"))
      .localCheckpoint(true)
    // DRIVER-PROBE routing (the KCore-peel / union-find cap class): when
    // the flagged set's total key volume is cap-bounded, every probe
    // round collects the eval keys (loud cap), ships them into the
    // train-side [[WindowKeyProbe]] kernel as an open-addressed set, and
    // resolves hits on the driver — 2 jobs per round, zero shuffle. A
    // giant flagged set takes the distributed shuffle-join route below.
    // ONE cap-bounded collect decides the route AND seeds the driver
    // brackets (r18: the separate count/Σsize(H) gate aggregation plus
    // the later per-doc lens collect were two full-eval jobs carrying
    // the same information — ≤ maxDriverDocs+1 16-byte rows do both).
    // Truncation at cap+1 answers "too many docs" without counting them.
    val capDocs = math.min(maxDriverDocs, Int.MaxValue - 2L).toInt
    val lensRows = evalH.select(col(idCol), size(col("H")).as("nh"))
      .limit(capDocs + 1).collect()
    // round 0 probes up to |ladder tail| + 8 octile lengths per doc,
    // each emitting at most one key per array position
    val bcast = lensRows.length <= capDocs &&
      lensRows.iterator.map(_.getInt(1).toLong).sum *
        (lengths.size + 7) <= maxDriverKeys
    if (lensRows.isEmpty) // nothing flagged: no search, no verify
      return eval.select(col(idCol)).limit(0)
        .withColumn("longest", lit(0))
    // phase 1 (DISTRIBUTED route only; the driver-probe route fuses the
    // rung probe into search round 0): per-doc bracket from the rung
    // ladder (hash-level; upper bounds are exact because hash misses
    // are exact). The bottom rung is already known: every flagged doc
    // hit it.
    val nextBound: Map[Int, Int] = lengths.zip(
      lengths.tail.map(_ - 1) :+ maxProbe).toMap
    val spark = train.sparkSession
    val rungsDf = lengths.tail.foldLeft(
      spark.range(0).select(lit(0).as("m")).limit(0))(
      (acc, l) => acc.unionByName(spark.range(1).select(lit(l).as("m"))))
    // probes the train arrays with a driver key set and returns the
    // matched keys — 1 job, zero shuffle (driver-probe route only).
    // The key set ships as ONE broadcast LongOpenSet (built on the
    // driver): carrying the raw array inside the expression made every
    // task re-deserialize and re-build its own table (r18 measurement:
    // the probe rounds' floor)
    def probeTrain(ms: Seq[Int], keys: Array[Long]): Set[Long] = {
      val bc = spark.sparkContext.broadcast(
        org.apache.spark.sql.graftx.LongOpenSet(keys))
      // no size(H) pre-filter (r19): the kernel already skips rows
      // shorter than each window for free, and the literal ms.min made
      // every round's plan codegen-source-unique — without it the only
      // per-round delta is the broadcast REFERENCE, so the generated
      // stage code is identical and the codegen cache hits across
      // rounds (measured: the per-round plan-compile gap was the floor)
      try {
        trainH
          .select(explode(
            org.apache.spark.sql.graftx.GraftExpr.windowKeyProbe(
              col("H"), ms, b, bc)).as("e"))
          .select(col("e.k")).distinct().collect().map(_.getLong(0)).toSet
      } finally bc.destroy()
    }
    var state: DataFrame = null
    var stLocal: Array[(Any, Int, Int)] = null
    var msFLocal: Array[Int] = null
    var candLocalKeys: Array[Long] = null
    if (bcast) {
      // driver-held brackets, seeded (b, min(maxProbe, len)] from the
      // gate collect above (len = size(H) + b − 1) — the rung probe is
      // FUSED into search round 0 (one fewer collect+probe pass), which
      // tests the ladder rungs alongside the top segment's quartile
      // points
      stLocal = lensRows.map { r =>
        (r.get(0), b, math.min(maxProbe, r.getInt(1) + b - 1))
      }
    } else {
      val rungHits = if (lengths.tail.isEmpty)
        evalH.select(col(idCol), lit(b).as("m"))
      else
        hitIdsFor(evalKeys(evalH.crossJoin(rungsDf), idCol, b), trainH,
            idCol, lengths.tail, b)
          .unionByName(evalH.select(col(idCol), lit(b).as("m")))
      val boundExpr = lengths.foldLeft(lit(maxProbe)) { (acc, l) =>
        when(col("lo") === l, lit(nextBound(l))).otherwise(acc)
      }
      state = rungHits.groupBy(col(idCol)).agg(max(col("m")).as("lo"))
        .join(evalH.select(col(idCol), (size(col("H")) + b - 1).as("len")),
          Seq(idCol))
        .select(col(idCol), col("lo"), least(boundExpr, col("len")).as("hi"))
        .localCheckpoint(true)
    }
    // phase 2: grouped binary search. SIZE-ROUTED like the gate above:
    // under the broadcast gate the (id, lo, hi) bracket table is
    // CAP-BOUNDED (≤ 8192 rows — the loud-guard driver-state class), so
    // it lives on the driver and each round is ONE distributed action
    // (the per-midpoint key probes, unioned and collected); the giant-
    // hit-set route keeps the state distributed with per-round
    // checkpoints. Both converge each doc in ceil(log2(bracket)) rounds.
    var round = 0
    if (bcast) {
      val idField = evalH.schema.fields(0)
      var st = stLocal
      // DRIVER-HELD EVAL ARRAYS (r19): the bcast gate just proved the
      // flagged set's total member volume is ≤ maxDriverKeys /
      // (|ladder|+7) longs (~3 MB at the default caps), so ONE collect
      // holds every flagged doc's positional array on the driver and
      // each probe round computes its eval keys locally with the SAME
      // rolling kernel the executors run (GraftExpr.windowKeysLocal ==
      // WindowKeyKernel.fill — bit-identical keys). That retires the
      // per-round eval projection + packed collect (r18's probeRows
      // job): a round is now ONE distributed action (the train probe).
      val hLocal: Array[(Any, Array[Long])] =
        evalH.select(col(idCol), col("H")).collect().map { r =>
          val s = r.getSeq[Long](1)
          val a = new Array[Long](s.length)
          var i = 0
          while (i < s.length) { a(i) = s(i); i += 1 }
          (r.get(0), a)
        }
      val hById = hLocal.toMap
      // a duplicated eval id would silently keep ONE of its arrays (which
      // one depends on collect order): ids are a unique key, loudly
      require(hLocal.length == hById.size,
        s"ExactSubstr: eval id column $idCol is not unique (duplicated id " +
          s"${hLocal.groupBy(_._1).collectFirst { case (id, hs) if hs.length > 1 => id }.get})")
      // OCTILES (r19, was quartering in r18): probe SEVEN interior
      // quantile points of every open bracket per round plus hi itself,
      // so the gap shrinks to ⌈gap/8⌉ — the 16-wide rung segments
      // resolve in 2 rounds instead of 3 and the whole search in ~3
      // rounds. Round 0 additionally probes the ladder rungs (fused
      // bracket phase) but subdivides only the TOP segment, so its
      // post-round segments stay rung-aligned. Probe keys stay
      // cap-priced — the gate above charges (|ladder|+7) keys per
      // position — and the rolling kernel makes extra per-round lengths
      // nearly free (O(n + m) per length per row).
      def octiles(lo: Int, hi: Int): Seq[Int] = {
        val g = hi - lo
        ((1 to 7).map(j => lo + (j * g + 7) / 8) :+ hi).distinct
          .filter(m => m > lo && m <= hi)
      }
      while (st.exists(t => t._2 < t._3)) {
        if (round >= maxRounds) throw new IllegalStateException(
          s"ExactSubstr.longestSharedSubstr: $maxRounds rounds exhausted " +
          "with brackets still open — maxProbe/ladder imply " +
          "~ceil(log8(max gap)) + 1 rounds; raise maxRounds")
        val pts: Map[Any, Seq[Int]] = st.iterator.collect {
          case (id, lo, hi) if lo < hi =>
            val qs =
              if (round == 0)
                (lengths.tail ++ octiles(math.max(lengths.last, lo), hi))
                  .distinct.filter(m => m > lo && m <= hi).sorted
              else octiles(lo, hi)
            (id, qs)
        }.toMap
        val ms = pts.valuesIterator.flatten.toSeq.distinct.sorted
        require(ms.length <= 256,
          s"ExactSubstr.longestSharedSubstr: ${ms.length} distinct " +
          "probe lengths in one round — ladder/maxProbe misconfigured")
        // eval keys for this round, computed on the driver from the
        // collected arrays — same kernel, same (id, m) skip rule
        // (docs too short for m probe nothing)
        val perPoint = pts.toSeq.flatMap { case (id, mm) =>
          val arr = hById(id)
          mm.collect {
            case m if arr.length >= m - b + 1 =>
              (id, m, org.apache.spark.sql.graftx.GraftExpr
                .windowKeysLocal(arr, m, b))
          }
        }
        val keyArr = {
          var total = 0
          perPoint.foreach(t => total += t._3.length)
          val out = new Array[Long](total)
          var w = 0
          perPoint.foreach { t =>
            System.arraycopy(t._3, 0, out, w, t._3.length)
            w += t._3.length
          }
          out
        }
        val matched = probeTrain(ms, keyArr)
        val hitPairs = perPoint.iterator
          .filter(t => t._3.exists(matched))
          .map(t => (t._1, t._2)).toSet
        st = st.map { case t @ (id, lo, hi) =>
          pts.get(id) match {
            case Some(mm) if mm.nonEmpty =>
              // hash answers are monotone-consistent up to collisions
              // (true hits imply hash hits): keep the largest hitting
              // probe as lo, bound hi by the smallest miss above it —
              // the final string verify settles any collision steering
              val newLo = mm.filter(m => hitPairs((id, m)))
                .foldLeft(lo)(math.max)
              val newHi = mm.filter(m => m > newLo && !hitPairs((id, m)))
                .sorted.headOption.map(_ - 1).getOrElse(hi)
              (id, newLo, newHi)
            case _ => t
          }
        }
        round += 1
      }
      val spark2 = train.sparkSession
      state = spark2.createDataFrame(
        spark2.sparkContext.parallelize(st.toSeq.map { case (id, lo, hi) =>
          org.apache.spark.sql.Row(id, lo, hi) }, 1),
        org.apache.spark.sql.types.StructType(Seq(idField,
          org.apache.spark.sql.types.StructField("lo",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("hi",
            org.apache.spark.sql.types.IntegerType, nullable = false))))
      // the converged lengths are already driver-held — no job needed
      msFLocal = st.map(_._2).distinct.sorted
      // ... and so are the verify CANDIDATE keys (r19): each doc's keys
      // at its converged length from the driver-held arrays — the same
      // values evalPos computes (same kernel), so the distributed
      // kernel + distinct + collect pass that used to produce them is
      // retired on this route
      val candSet = new scala.collection.mutable.HashSet[Long]()
      st.foreach { case (id, lo, _) =>
        val arr = hById(id)
        if (arr.length >= lo - b + 1)
          org.apache.spark.sql.graftx.GraftExpr
            .windowKeysLocal(arr, lo, b).foreach(candSet += _)
      }
      candLocalKeys = candSet.toArray
    } else {
      var active = state.filter(col("lo") < col("hi"))
      while (!active.isEmpty) {
        if (round >= maxRounds) throw new IllegalStateException(
          s"ExactSubstr.longestSharedSubstr: $maxRounds rounds exhausted " +
          "with brackets still open — maxProbe/ladder imply " +
          "ceil(log2(max gap)) rounds; raise maxRounds")
        val mids = active.select(col(idCol),
          ((col("lo") + col("hi") + 1) / 2).cast("int").as("m"))
          .localCheckpoint(true)
        val ms = mids.select(col("m")).distinct()
          .collect().map(_.getInt(0)).sorted
        require(ms.length <= 64,
          s"ExactSubstr.longestSharedSubstr: ${ms.length} distinct " +
          "midpoints in one round — ladder/maxProbe misconfigured")
        val probes = evalKeys(evalH.join(mids, Seq(idCol)), idCol, b)
        val hits = hitIdsFor(probes, trainH, idCol, ms.toSeq, b)
          .select(col(idCol)).distinct().withColumn("hit", lit(true))
        state = state.join(mids, Seq(idCol), "left")
          .join(hits, Seq(idCol), "left")
          .select(col(idCol),
            when(col("m").isNull, col("lo"))
              .when(col("hit"), col("m")).otherwise(col("lo")).as("lo"),
            when(col("m").isNull, col("hi"))
              .when(col("hit"), col("hi")).otherwise(col("m") - 1).as("hi"))
          .localCheckpoint(true)
        active = state.filter(col("lo") < col("hi"))
        round += 1
      }
    }
    // final STRING verify at each doc's converged length: candidate
    // positions from the composite keys, one train witness per key,
    // one substring comparison per candidate — hit-set-sized. Keys are
    // projected WITHOUT text; the eval side's distinct candidate (m, k)
    // set broadcasts to filter the train projection map-side, and texts
    // join back only for the witness rows.
    val msF = if (msFLocal != null) msFLocal
      else state.select(col("lo")).distinct()
        .collect().map(_.getInt(0)).sorted
    require(msF.length <= 128,
      s"ExactSubstr.longestSharedSubstr: ${msF.length} distinct final " +
      "lengths — maxProbe misconfigured")
    val evalPos = evalH
      .join(state.select(col(idCol), col("lo").as("m")), Seq(idCol))
      .filter(size(col("H")) >= col("m") - b + 1)
      .select(col(idCol), col("m"), posexplode(
        org.apache.spark.sql.graftx.GraftExpr.windowKeyHashesDyn(
          col("H"), col("m"), b)))
      .select(col(idCol), col("m"), (col("pos") + 1).as("pos"),
        col("col").as("k"))
    // candidate keys are hit-set-sized: collect them (loud cap) and let
    // ONE probe-kernel pass over the train arrays emit only the matching
    // (m, pos, k) rows — materializing all Σ|msF| keys per row measured
    // 10 s where the matches are a few hundred rows. On the driver-probe
    // route they were already computed locally above (same kernel).
    val candKeyArr: Array[Long] =
      if (candLocalKeys != null) candLocalKeys
      else evalPos.select(col("m"), col("k")).distinct()
        .limit(4194305).collect().map(_.getLong(1))
    require(candKeyArr.length <= 4194304,
      "ExactSubstr.longestSharedSubstr: > 4M candidate final keys — " +
      "the flagged set is too large for the driver-probed verify")
    // broadcast ONE shared LongOpenSet (not destroyed here — witnessHits
    // is lazily re-evaluated by the rare retry branch below; the
    // ContextCleaner reclaims it with the frames)
    val candBc = spark.sparkContext.broadcast(
      org.apache.spark.sql.graftx.LongOpenSet(candKeyArr))
    val witnessHits = trainH
      .select(col("tid"), explode(
        org.apache.spark.sql.graftx.GraftExpr.windowKeyProbe(
          col("H"), msF.toSeq, b, candBc)).as("e"))
      .select(col("tid"), col("e.m").as("m"), col("e.pos").as("tpos"),
        col("e.k").as("k"))
    val witnesses = witnessHits
      .groupBy(col("m"), col("k"))
      .agg(min(struct(col("tpos"), col("tid"))).as("w"))
      .select(col("m"), col("k"), col("w.tpos").as("tpos"), col("w.tid").as("tid"))
      .join(trainH.select(col("tid"), col("ttext")), Seq("tid"))
    val verified = evalPos.join(witnesses, Seq("m", "k"))
      .join(evalH.select(col(idCol), col("text")), Seq(idCol))
      .filter(expr("substring(text, pos, m) = substring(ttext, tpos, m)"))
      .select(col(idCol)).distinct().withColumn("ok", lit(true))
    val judged0 = state.join(verified, Seq(idCol), "left").localCheckpoint(true)
    // ~2^-60 path: the ONE kept witness for a (m, k) key can be a
    // colliding train window while a DIFFERENT window with the same key
    // truly matches — verifying only the min-struct witness would then
    // drop (or throw on) a genuinely contaminated doc, breaking the
    // documented "collisions only ever over-flag" contract. Retry every
    // unverified doc against ALL witnesses for its keys before judging.
    val judged = if (judged0.filter(col("ok").isNull).isEmpty) judged0 else {
      val unverified = judged0.filter(col("ok").isNull).select(col(idCol))
      val evalPosU = evalPos.join(unverified, Seq(idCol), "left_semi")
        .localCheckpoint(true)
      val allW = witnessHits
        .join(broadcast(evalPosU.select(col("m"), col("k")).distinct()),
          Seq("m", "k"))
        .join(trainH.select(col("tid"), col("ttext")), Seq("tid"))
      val verified2 = evalPosU.join(allW, Seq("m", "k"))
        .join(evalH.select(col(idCol), col("text")), Seq(idCol))
        .filter(expr("substring(text, pos, m) = substring(ttext, tpos, m)"))
        .select(col(idCol)).distinct().withColumn("ok", lit(true))
      state.join(verified.unionByName(verified2).distinct(), Seq(idCol), "left")
        .localCheckpoint(true)
    }
    val misled = judged.filter(col("ok").isNull && col("lo") > b)
    if (!misled.isEmpty) throw new IllegalStateException(
      "ExactSubstr.longestSharedSubstr: string verify failed above the " +
      "bottom rung — a composite-key collision steered the search " +
      s"(${misled.count()} docs); rerun with a different ladder")
    judged.filter(col("ok").isNotNull)
      .select(col(idCol), col("lo").as("longest"))
  }

  /** The ladder census: one row per probe length — how many eval docs
    * share an exact L-char substring with the train side, with an id
    * checksum. Hits are monotone downward in L by containment (an
    * L-hit implies every shorter hit), so the largest hitting L
    * brackets each document's longest shared substring. */
  def sharedSubstrCensus(train: DataFrame, eval: DataFrame,
                         textCol: String, idCol: String,
                         lengths: Seq[Int]): DataFrame = {
    require(lengths.nonEmpty, "ExactSubstr: empty length ladder")
    lengths.map { l =>
      val tg = grams(train, textCol, l)
      val eg = grams(eval, textCol, l, keep = Seq(idCol))
      eg.join(tg, Seq("g")).select(col(idCol)).distinct()
        .agg(count(lit(1)).as("n_docs_hit"),
             coalesce(sum(col(idCol)), lit(0L)).as("id_chk"))
        .select(lit(l).as("gram_len"), col("n_docs_hit"), col("id_chk"))
    }.reduce(_ unionByName _)
  }
}
