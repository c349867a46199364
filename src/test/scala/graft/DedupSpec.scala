package graft

import graft.dedup.Dedup
import graft.ann.Ann

class DedupSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"),       // exact dup of 0
      (2L, "lazy dog the over jumps fox brown quick the"),       // same token set as 0
      (3L, "completely different words entirely here now"),
      (4L, "the quick brown fox jumps over the sleepy dog")      // near dup of 0
    ).toDF("doc_id", "text")
  }

  test("exact dedup finds identical texts") {
    val groups = Dedup.exact(docs, "doc_id", "text").collect()
    assert(groups.length == 1)
    assert(groups.head.getAs[Long]("n") == 2 && groups.head.getAs[Long]("canonical") == 0L)
  }

  test("minhash LSH finds same-token-set and near dups, not distinct docs") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))  // exact
    assert(pairs.contains((0L, 2L)))  // shuffled tokens, jaccard 1.0
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated stays out
  }

  test("simhash: identical token sets share fingerprints; hamming works") {
    val sh = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(1L) && sh(0L) == sh(2L))
    assert(sh(0L) != sh(3L))
    import spark.implicits._
    val hd = Seq((sh(0L), sh(4L))).toDF("a", "b")
      .select(graft.functions.GraftFunctions.hamming_dist(col("a"), col("b")).as("d"))
      .collect().head.getInt(0)
    assert(hd >= 0 && hd < 8) // near dup => small hamming distance
  }

  test("ngram jaccard ranks near dup above unrelated") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 2, threshold = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) == 1.0)
    assert(pairs((0L, 4L)) > pairs((0L, 3L)))
    assert(pairs((0L, 2L)) < 1.0) // shuffled order breaks bigrams
  }

  test("brute-force knn is deterministic and self-consistent") {
    import spark.implicits._
    val vecs = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val prepared = Ann.prepare(vecs, "vec_id", "embedding")
    val knn = Ann.bruteForceKnn(prepared, prepared.filter(col("id") < 2), k = 3)
      .collect()
    assert(knn.length == 6)
    val ranks = knn.filter(_.getLong(0) == 0L).map(_.getInt(1)).sorted
    assert(ranks.sameElements(Array(1, 2, 3)))
  }

  test("simhashNear: blocked pairs equal brute force within the radius") {
    import spark.implicits._
    import graft.dedup.Dedup
    import graft.functions.GraftFunctions
    val docs = (0 until 40).map { i =>
      // clusters of shuffled/perturbed token sets -> small hamming radii
      val base = Seq("alpha", "beta", "gamma", "delta", s"w${i / 8}")
      (i.toLong, scala.util.Random.javaRandomToRandom(new java.util.Random(i / 8))
        .shuffle(base :+ s"x$i").mkString(" "))
    }.toDF("doc_id", "text")
    val blocked = Dedup.simhashNear(docs, "doc_id", "text", 16, 4, 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    // brute force over all pairs
    val sh = Dedup.simhash(docs, "doc_id", "text", 16)
    val hd = GraftFunctions.hamming_dist(col("a.simhash"), col("b.simhash"))
    val brute = sh.as("a").join(sh.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"), hd.as("h")).filter(col("h") <= 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(blocked == brute, "pigeonhole blocking must have exact recall for hamming <= bands-1")
    assert(brute.nonEmpty)
  }

  test("kmeans: separates two obvious clusters; empty clusters keep centroids") {
    import spark.implicits._
    val vecs = (0 until 20).map { i =>
      val base = if (i < 10) 1.0f else -1.0f
      (i.toLong, Array.tabulate(4)(d => base + (i % 5) * 0.001f * (d + 1)))
    }.toDF("vec_id", "embedding")
    val out = Ann.kmeans(Ann.prepare(vecs, "vec_id", "embedding"), k = 2, iters = 2)
      .select("cid", "id").as[(Int, Long)].collect()
    val byCid = out.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byCid.values.map(_.size).toSeq.sorted == Seq(10, 10))
    assert(byCid.values.exists(_ == (0L until 10L).toSet))
  }

  test("connected components: chains, separate pairs, long-path convergence") {
    import spark.implicits._
    import graft.dedup.Dedup
    // chain 1-2-3-4-5, pair 10-11, and a 40-node path 100..139 (multi-hop
    // propagation: pointer jumping must converge well inside maxIter)
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L)) ++
      (100L until 139L).map(i => (i, i + 1))).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
    assert((1L to 5L).forall(comp(_) == 1L))
    assert(comp(10L) == 10L && comp(11L) == 10L)
    assert((100L to 139L).forall(comp(_) == 100L))
    assert(comp.size == 5 + 2 + 40)
  }

  test("connected components: a pre-checkpointed edge frame skips the " +
      "second materialization and both routes stay correct") {
    import spark.implicits._
    import graft.dedup.Dedup
    // callers that already localCheckpoint their edges (e.g. the routed
    // frames in Regions/Contour) must not pay a second edge-sized pass —
    // connectedComponents detects the materialized plan and runs the cast
    // projection lazily over the cached blocks
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
      .localCheckpoint(true)
    val got = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    val dist = Dedup.connectedComponents(edges, localCap = 0L)
      .as[(Long, Long)].collect().toMap
    assert(dist === got)
  }

  test("connected components: fractional ids throw on both routes " +
      "instead of merging nodes") {
    import spark.implicits._
    import graft.dedup.Dedup
    // 1.0 and 1.5 would both cast to node 1
    val edges = Seq((1.0, 1.5), (2.0, 3.0)).toDF("id_a", "id_b")
    for (cap <- Seq(262144L, 0L)) {
      val ex = intercept[IllegalArgumentException] {
        Dedup.connectedComponents(edges, localCap = cap).collect()
      }
      assert(ex.getMessage.contains("`id_a`") && ex.getMessage.contains("double"))
    }
  }

  test("dedupCorpus keeps one representative per near-dup cluster") {
    import spark.implicits._
    import graft.dedup.Dedup
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the lazy dog"),
      (10L, "pack my box with five dozen liquor jugs"),
      (11L, "pack my box with five dozen liquor jugs"),
      (20L, "sphinx of black quartz judge my vow"),
      (21L, "how vexingly quick daft zebras jump")).toDF("doc_id", "text")
    val kept = Dedup.dedupCorpus(docs, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 10L, 20L, 21L))
  }

  test("star edges are linear in bucket size (the LSH skew guard)") {
    import spark.implicits._
    import graft.dedup.Dedup
    // 100 identical docs collide in every band: all-pairs would emit
    // 100*99/2 = 4950 pairs; the star form must emit exactly 99 edges,
    // all rooted at the min id, and still form one cluster.
    val docs = (1L to 100L).map(i => (i, "the same boilerplate text repeated")).toDF("doc_id", "text")
    val edges = Dedup.minhashStarEdges(docs, "doc_id", "text", threshold = 0.9)
    assert(edges.count() == 99)
    assert(edges.select("id_a").distinct().collect().map(_.getLong(0)).toSeq == Seq(1L))
    val kept = Dedup.dedupCorpus(docs, "doc_id", "text", threshold = 0.9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L))
  }

  test("admitIncrement rejects vs old index and vs the batch's own root") {
    import spark.implicits._
    import graft.dedup.Dedup
    val oldDf = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five")
    ).toDF("doc_id", "text")
    val newDf = Seq(
      (10L, "alpha beta gamma delta epsilon"), // dup of old doc 1 -> rejected
      (11L, "totally novel content here now"), // novel -> admitted
      (12L, "red yellow green blue violet"),   // novel, bucket root of 13
      (13L, "red yellow green blue violet"),   // dup of 12 (its root) -> rejected
      (14L, "completely different words again")
    ).toDF("doc_id", "text")
    val (oldBands, oldSets) = Dedup.buildIndex(oldDf, "doc_id", "text")
    val admitted = Dedup.admitIncrement(newDf, "doc_id", "text", oldBands, oldSets)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(11L, 12L, 14L))
  }

  test("admitIncrement: random corpora match an independent driver-side replay") {
    import spark.implicits._
    import graft.dedup.Dedup
    // Independent reference: the defined admission semantics (signatures,
    // banding, new×old collisions, new×new bucket roots, exact jaccard)
    // replayed with plain Scala collections — no Spark, no shared code.
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      String.format("%032x", new java.math.BigInteger(1, d))
    }
    def tokHash(t: String): Long = java.lang.Long.parseLong(md5hex(t).substring(0, 15), 16)
    def sig(text: String): IndexedSeq[String] = {
      val toks = text.split(" ", -1).distinct
      (0 until 8).map(i => toks.map(t => md5hex(s"$i|$t")).min)
    }
    def bandKeys(text: String): IndexedSeq[String] = {
      val h = sig(text)
      IndexedSeq(md5hex(h(0) + h(1) + h(2) + h(3)), md5hex(h(4) + h(5) + h(6) + h(7)))
    }
    def jac(a: String, b: String): Double = {
      val sa = a.split(" ", -1).map(tokHash).toSet
      val sb = b.split(" ", -1).map(tokHash).toSet
      val i = (sa & sb).size
      val u = sa.size + sb.size - i
      if (u == 0) 0.0 else i.toDouble / u
    }
    val vocab = Vector("red", "blue", "green", "ox", "elk", "fox", "sun", "moon",
      "hill", "lake", "tree", "rock")
    for (seed <- Seq(11, 77, 2024)) {
      val rnd = new scala.util.Random(seed)
      def doc(): String =
        Vector.fill(5 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val oldDocs = (1L to 30L).map(i => i -> doc()).toMap
      val newBase = (100L to 115L).map(i => i -> doc()).toMap
      // plant exact copies: of an old doc, and of another new doc
      val newDocs = newBase +
        (116L -> oldDocs(1L + rnd.nextInt(30).toLong)) +
        (117L -> newBase(100L + rnd.nextInt(16).toLong))
      val thr = 0.9
      val oldKeys = oldDocs.map { case (id, t) => id -> bandKeys(t) }
      val newKeys = newDocs.map { case (id, t) => id -> bandKeys(t) }
      val rejOld = newDocs.keySet.filter { n =>
        oldDocs.exists { case (o, _) =>
          (0 until 2).exists(b => newKeys(n)(b) == oldKeys(o)(b)) &&
            jac(newDocs(n), oldDocs(o)) >= thr
        }
      }
      val rejRoot = newDocs.keySet.filter { n =>
        (0 until 2).exists { b =>
          val members = newDocs.keys.filter(m => newKeys(m)(b) == newKeys(n)(b))
          val root = members.min
          members.size > 1 && n != root && jac(newDocs(n), newDocs(root)) >= thr
        }
      }
      val expect = newDocs.keySet -- rejOld -- rejRoot
      val oldDf = oldDocs.toSeq.toDF("doc_id", "text")
      val newDf = newDocs.toSeq.toDF("doc_id", "text")
      val (oldBands, oldSets) = Dedup.buildIndex(oldDf, "doc_id", "text")
      val got = Dedup.admitIncrement(newDf, "doc_id", "text", oldBands, oldSets, threshold = thr)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == expect, s"seed $seed: admitted $got, expected $expect")
      // fused single-table path: same semantics, same admitted set
      val oldIdx = Dedup.buildAdmitIndex(oldDf, "doc_id", "text")
      val gotFused = Dedup
        .admitIncrementFused(newDf, "doc_id", "text", oldIdx, threshold = thr)
        ._1.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(gotFused == expect, s"seed $seed fused: admitted $gotFused, expected $expect")
    }
  }

  test("buildAdmitIndex band keys are byte-identical to lshBands keys") {
    import spark.implicits._
    import graft.dedup.Dedup
    // v1 (two-table) and v2 (single-table) indexes of the same corpus must
    // collide identically — the fused admit joins a v2 batch against a
    // stored index that may have been built at any time with either form.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five"),
      (3L, "red yellow green blue violet")
    ).toDF("doc_id", "text")
    val v1 = Dedup.buildIndex(docs, "doc_id", "text")._1
      .select("id", "band", "key").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val v2 = Dedup.buildAdmitIndex(docs, "doc_id", "text")
      .select("id", "band", "key").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(v1 == v2)
    // and the carried set column equals the shingles of the doc, per band row
    val stRows = Dedup.buildAdmitIndex(docs, "doc_id", "text")
      .groupBy("id").agg(org.apache.spark.sql.functions.countDistinct("st").as("n"))
      .collect().map(r => r.getLong(1)).toSet
    assert(stRows == Set(1L)) // same st on every band row of a doc
  }

  test("admitIncrementFused returns the batch index for O(new) appends") {
    import spark.implicits._
    import graft.dedup.Dedup
    val oldDf = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val newDf = Seq(
      (10L, "alpha beta gamma delta epsilon"), // dup -> rejected
      (11L, "totally novel content here now")  // admitted
    ).toDF("doc_id", "text")
    val oldIdx = Dedup.buildAdmitIndex(oldDf, "doc_id", "text")
    val (adm, batchIdx) = Dedup.admitIncrementFused(newDf, "doc_id", "text", oldIdx)
    assert(adm.select("doc_id").collect().map(_.getLong(0)).toSet == Set(11L))
    // batchIdx covers the WHOLE batch (2 bands per doc); the admitted
    // leaf is the documented semi-join recipe
    assert(batchIdx.count() == 4)
    val leaf = batchIdx.join(adm.select($"doc_id".as("id")), Seq("id"), "left_semi")
    assert(leaf.select("id").distinct().collect().map(_.getLong(0)).toSet == Set(11L))
  }

  test("decontaminate scores train/eval n-gram overlap") {
    import spark.implicits._
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),   // contains eval's "beta gamma delta"
      (2L, "one two three four five six seven"),     // no overlap
      (3L, "beta gamma delta"),                      // fully contained in eval
      (4L, "xy")                                     // < 3 tokens: excluded
    ).toDF("doc_id", "text")
    val evalDf = Seq((100L, "held out beta gamma delta benchmark")).toDF("doc_id", "text")
    val got = Dedup.decontaminate(train, evalDf, "doc_id", "text", shingleN = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 1: 4 distinct 3-grams, hits "beta gamma delta" only
    assert(got(1L) == ((4L, 1L)))
    assert(got(2L) == ((5L, 0L)))
    assert(got(3L) == ((1L, 1L)))
    assert(!got.contains(4L))
  }

  test("connected components: random graphs match a union-find oracle") {
    import spark.implicits._
    import graft.dedup.Dedup
    // seeded sparse random graphs near the percolation threshold — many
    // mid-sized components, the worst shape for label propagation bugs
    for (seed <- Seq(7, 42, 1234)) {
      val rnd = new scala.util.Random(seed)
      val n = 200
      val edges = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // driver-side union-find ground truth (min-id representative)
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val truth = parent.keys.map(x => x -> find(x)).toMap
      val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(got == truth, s"seed $seed: CC mismatch")
    }
  }

  test("lsh buckets partition the space; knn within bucket returns subset of brute force order") {
    import spark.implicits._
    val vecs = (0 until 50).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.cos(i * 3 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val prepared = Ann.prepare(vecs, "vec_id", "embedding")
    val buckets = Ann.lshBuckets(prepared, nPlanes = 4, dim = 8)
    assert(buckets.select("bucket").distinct().count() > 1)
    val out = Ann.lshKnn(prepared, nPlanes = 4, dim = 8, k = 2, col("id") < 5).collect()
    out.foreach(r => assert(r.getDouble(3) <= 1.0 + 1e-9))
  }

  test("decontaminateBloom equals decontaminate row-for-row (exactness despite bloom)") {
    import spark.implicits._
    // enough docs that some grams hit and most miss — both the bloom
    // false-positive sweep (exact join) and the never-false-negative
    // property must leave results identical to the plain path
    val corpus = (0 until 60).map { i =>
      val base = if (i % 7 == 0) "shared secret eval phrase plus unique"
                 else s"ordinary training text number $i with filler words"
      (i.toLong, s"$base tail$i continues on and on")
    }.toDF("doc_id", "text")
    val evalDf = corpus.filter($"doc_id" % 7 === 0)
    val train = corpus.filter($"doc_id" % 7 =!= 0)
    val exact = Dedup.decontaminate(train, evalDf, "doc_id", "text", 3)
      .orderBy($"id").collect().toSeq
    val bloom = Dedup.decontaminateBloom(train, evalDf, "doc_id", "text", 3)
      .orderBy($"id").collect().toSeq
    assert(bloom == exact)
    assert(exact.exists(_.getAs[Long]("matched") > 0)) // fixture really contaminates
  }

  test("assign routes new vectors to fixed centroids without moving them") {
    import spark.implicits._
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 5 + d * 11).toFloat))
    }.toDF("vec_id", "embedding")
    val prepared = Ann.prepare(vecs, "vec_id", "embedding")
    val old = prepared.filter(col("id") % 4 =!= 0)
    val trained = Ann.kmeans(old, k = 4, iters = 2)
    val centroids = trained.select(col("cid"), col("cv")).distinct()
    // admission of the TRAINING vectors reproduces kmeans's own final
    // assignment (same argmin, same tiebreak) — the index is consistent
    val re = Ann.assign(old, centroids).select("id", "cid")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val orig = trained.select("id", "cid")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(re == orig)
    // new batch: every vector lands in exactly one existing cell
    val admitted = Ann.assign(prepared.filter(col("id") % 4 === 0), centroids)
    val cells = centroids.select("cid").collect().map(_.getInt(0)).toSet
    val got = admitted.select("id", "cid").collect()
    assert(got.length == 10 && got.forall(r => cells.contains(r.getInt(1))))
  }

  test("removeDuplicatedSpans deletes exactly the shared >=n-token runs") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "a1 a2 c1 c2 c3 c4 c5 c6 c7 c8 z1 z2"), // shared 8-run c1..c8
      (1L, "b1 c1 c2 c3 c4 c5 c6 c7 c8 b2 b3"),    // same run, different context
      (2L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),      // unique doc, untouched
      (3L, "r1 r2 r3 r4 r5 r6 r7 r8 r1 r2 r3 r4 r5 r6 r7 r8") // WITHIN-doc repeat
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(corpus, "doc_id", "text", n = 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(0L) == ((12L, 8L, "a1 a2 z1 z2")))
    assert(out(1L) == ((11L, 8L, "b1 b2 b3")))
    assert(out(2L) == ((10L, 0L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10")))
    // self-repeat: the start-0 gram recurs at start 8, covering all 16
    // tokens (grams 1..7 span the seam and occur once — irrelevant)
    assert(out(3L) == ((16L, 16L, "")))
  }

  test("spanIndex + admitSpans == full-corpus span rerun on the new slice") {
    import spark.implicits._
    // old corpus carries boilerplate; new batch repeats it, repeats
    // itself, and brings genuinely fresh text
    val boiler = (1 to 9).map(i => s"c$i").mkString(" ")
    val old = Seq((0L, s"o1 o2 $boiler o3"), (1L, "p1 p2 p3 p4 p5 p6 p7 p8 p9"))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (10L, s"n1 $boiler n2"),                       // dup vs OLD index only
      (11L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10"),      // within-batch dup vs 12
      (12L, "z0 q1 q2 q3 q4 q5 q6 q7 q8 q9 q10"),
      (13L, "f1 f2 f3 f4 f5 f6 f7 f8 f9")           // fresh: untouched
    ).toDF("doc_id", "text")
    val idx = Dedup.spanIndex(old, "doc_id", "text", n = 8)
    val inc = Dedup.admitSpans(fresh, idx, "doc_id", "text", n = 8)
      .orderBy($"id").collect().map(_.toSeq).toSeq
    val full = Dedup.removeDuplicatedSpans(old.union(fresh), "doc_id", "text", n = 8)
      .filter($"id" >= 10L).orderBy($"id").collect().map(_.toSeq).toSeq
    assert(inc == full)
    val byId = inc.map(r => r.head -> r).toMap
    assert(byId(10L)(2) == 9L)  // the 9-token boilerplate run removed
    assert(byId(13L)(2) == 0L)  // fresh doc untouched

    // the nightly index-maintenance identity: folding day-2's census into
    // the stored index equals rebuilding from the union
    val day2 = fresh
    val merged = Dedup.mergeSpanIndex(idx, Dedup.spanIndex(day2, "doc_id", "text", n = 8))
      .orderBy($"g").collect().map(_.toSeq).toSeq
    val rebuilt = Dedup.spanIndex(old.union(day2), "doc_id", "text", n = 8)
      .orderBy($"g").collect().map(_.toSeq).toSeq
    assert(merged == rebuilt)
  }

  test("semDedup drops within-cluster near-identicals, keeps the min id") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array.fill(4)(1.0f)), (1L, Array.fill(4)(1.0f)), (5L, Array.fill(4)(1.0f)),
      (2L, Array(-1.0f, 1.0f, -1.0f, 1.0f)), (3L, Array(-1.0f, 1.0f, -1.0f, 1.0f)),
      (4L, Array(1.0f, -1.0f, 1.0f, -1.0f))
    ).toDF("vec_id", "embedding")
    val out = Ann.semDedup(Ann.prepare(vecs, "vec_id", "embedding"),
        k = 2, iters = 2, tau = 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // identical triple {0,1,5}: min id 0 survives; identical pair {2,3}:
    // 2 survives; 4 is orthogonal/antipodal to everything — survives.
    // This holds under ANY cluster split (identical vectors always land
    // in the same cluster: same argmin, same tiebreak).
    assert(out == Map(0L -> false, 1L -> true, 5L -> true,
                      2L -> false, 3L -> true, 4L -> false))
  }

  test("semDedupCapped: full window reproduces semDedup on identical groups") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array.fill(4)(1.0f)), (1L, Array.fill(4)(1.0f)), (5L, Array.fill(4)(1.0f)),
      (2L, Array(-1.0f, 1.0f, -1.0f, 1.0f)), (3L, Array(-1.0f, 1.0f, -1.0f, 1.0f)),
      (4L, Array(1.0f, -1.0f, 1.0f, -1.0f))
    ).toDF("vec_id", "embedding")
    // identical vectors tie on centroid distance, so their rank order IS
    // id order and the windowed rule (w >= cluster size) must agree with
    // the all-pairs sweep
    val capped = Ann.semDedupCapped(Ann.prepare(vecs, "vec_id", "embedding"),
        k = 2, iters = 2, tau = 0.95, w = 6)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(capped == Map(0L -> false, 1L -> true, 5L -> true,
                         2L -> false, 3L -> true, 4L -> false))
  }

  test("semDedup matches an independent driver-side replay on random vectors") {
    import spark.implicits._
    import org.scalacheck.Gen
    val dim = 6; val k = 3; val iters = 2; val tau = 0.95
    def q(v: Float): Long = // Spark round(double) = BigDecimal HALF_UP
      java.math.BigDecimal.valueOf(v.toDouble * 10000)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    val gen = for {
      nv <- Gen.choose(12, 40)
      vs <- Gen.listOfN(nv, Gen.listOfN(dim, Gen.choose(-100, 100).map(_ / 100.0f)))
      dups <- Gen.listOfN(4, Gen.choose(0, nv - 1)) // injected exact dups
    } yield vs.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) } ++
      dups.zipWithIndex.map { case (src, j) => ((nv + j).toLong, vs(src).toArray) }

    new GenChecks {}.forAllN(gen, n = 8) { vecs =>
      val df = vecs.toDF("vec_id", "embedding")
      val got = Ann.semDedup(Ann.prepare(df, "vec_id", "embedding"), k, iters, tau)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap

      // ---- replay: same integer k-means (init = k smallest ids, argmin
      // by (d2, cid), mean floor(x/n+0.5), empty keeps previous), then
      // the min-id drop sweep with Spark-identical rounding
      val qv = vecs.sortBy(_._1).map { case (id, v) => id -> v.map(q) }.toMap
      val ids = qv.keys.toSeq.sorted
      def d2(a: Array[Long], b: Array[Long]): Long =
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      var cents: Map[Int, Array[Long]] =
        ids.take(k).zipWithIndex.map { case (id, c) => c -> qv(id) }.toMap
      def assignAll(): Map[Long, Int] = ids.map { id =>
        id -> cents.toSeq.map { case (c, cv) => (d2(qv(id), cv), c) }.min._2
      }.toMap
      for (_ <- 0 until iters) {
        val asg = assignAll()
        val upd = asg.groupBy(_._2).map { case (c, m) =>
          val members = m.keys.toSeq
          c -> Array.tabulate(dim) { d =>
            val s = members.map(id => qv(id)(d)).sum
            math.floor(s.toDouble / members.size + 0.5).toLong
          }
        }
        cents = cents.map { case (c, cv) => c -> upd.getOrElse(c, cv) }
      }
      val asg = assignAll()
      def cos(a: Long, b: Long): Double = {
        val dot = qv(a).zip(qv(b)).map { case (x, y) => x * y }.sum
        val v = dot.toDouble /
          (math.sqrt(d2(qv(a), Array.fill(dim)(0L)).toDouble) *
           math.sqrt(d2(qv(b), Array.fill(dim)(0L)).toDouble))
        java.math.BigDecimal.valueOf(v)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
      }
      val want = ids.map { b =>
        b -> ids.exists(a => a < b && asg(a) == asg(b) && cos(a, b) >= tau)
      }.toMap
      assert(got == want, s"semDedup replay mismatch")
    }
  }

  test("semDedup survives a 10^4-member mega-cluster (salted pair grid)") {
    import spark.implicits._
    // ONE cluster holding every vector — the crawl-boilerplate skew mode
    // that detonates a per-cid all-pairs reducer. The salted block grid
    // spreads the m^2 pair space over salt*(salt+1)/2 cells of (m/salt)^2
    // pairs each, so no task is quadratic in the cluster. 1000 distinct
    // directions on a 0.1 grid (pairwise cosine <= ~0.9989 < 1.0 after
    // 6-digit rounding) x 10 exact copies: with tau = 1.0 exactly the 9
    // non-min copies of each direction must drop.
    val vecs = (0 until 10000).map { i =>
      val g = i % 1000
      (i.toLong, Array(1.0f, (g % 10) * 0.1f, (g / 10 % 10) * 0.1f, (g / 100) * 0.1f))
    }.toDF("vec_id", "embedding")
    val out = Ann.semDedup(Ann.prepare(vecs, "vec_id", "embedding"),
        k = 1, iters = 1, tau = 1.0)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2))
    assert(out.length == 10000)
    val dropped = out.filter(_._2).map(_._1).toSet
    assert(dropped.size == 9000)
    // survivors are exactly the min id (= g) of each identical group
    assert((0 until 1000).forall(g => !dropped.contains(g.toLong)))
  }

  test("semDedup is byte-identical across salt configurations") {
    import spark.implicits._
    // per-cluster conditional salting must be pure execution strategy:
    // force the plain equi-join (blockTarget >> m => salt 1), the full
    // grid (blockTarget 1 => maxSalt), and the default, on the same
    // input — every unordered pair meets exactly once in all three, so
    // the drop sets must match row for row.
    val vecs = (0 until 300).map { i =>
      val g = i % 60
      (i.toLong, Array((g % 4) * 0.5f - 0.75f, (g / 4 % 4) * 0.5f - 0.75f,
        (g / 16) * 0.5f - 0.75f, 1.0f))
    }.toDF("vec_id", "embedding")
    val prepared = Ann.prepare(vecs, "vec_id", "embedding")
    def run(maxSalt: Int, blockTarget: Int): Seq[(Long, Int, Boolean)] =
      Ann.semDedup(prepared, k = 3, iters = 2, tau = 1.0,
          maxSalt = maxSalt, blockTarget = blockTarget)
        .orderBy($"id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSeq
    val plain = run(maxSalt = 8, blockTarget = 1000000) // salt 1 everywhere
    val grid = run(maxSalt = 8, blockTarget = 1)        // salt 8 everywhere
    val auto = run(maxSalt = 8, blockTarget = 1024)     // the default
    assert(plain == grid)
    assert(plain == auto)
    assert(plain.count(_._3) > 0) // the fixture actually exercises drops
  }

  test("ngramJaccardPairs refuses unbounded all-pairs input, loudly") {
    import spark.implicits._
    val docs = (0 until 20).map(i => (i.toLong, s"tok$i a b c"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 1, threshold = 0.1,
        maxRows = 10)
    }
    assert(e.getMessage.contains("minhashLsh")) // points at the scale path
    // the explicit opt-in still computes the bounded-slice baseline
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 1,
      threshold = 0.1, maxRows = 10, allowFullCross = true).count()
    assert(pairs > 0)
  }

  test("removeFrequentLines drops banners, keeps order, normalizes case") {
    import spark.implicits._
    val banner = "Subscribe to our newsletter"
    val docs = Seq(
      (1L, s"alpha unique line one\n$banner\nalpha unique line two"),
      (2L, s"${banner.toUpperCase}\nbeta content here"),   // case variant → same key
      (3L, s"gamma text\n  $banner  "),                    // whitespace variant → same key
      (4L, banner),                                        // banner-only doc → empty rewrite
      (5L, "delta stands alone")
    ).toDF("doc_id", "text")
    val out = Dedup.removeFrequentLines(docs, "doc_id", "text", maxDocFreq = 2L)
      .orderBy($"id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out(0) === ((1L, 3L, 2L, "alpha unique line one\nalpha unique line two")))
    assert(out(1) === ((2L, 2L, 1L, "beta content here")))
    assert(out(2) === ((3L, 2L, 1L, "gamma text")))
    assert(out(3) === ((4L, 1L, 0L, ""))) // survives with the empty rewrite
    assert(out(4) === ((5L, 1L, 1L, "delta stands alone")))
    // df = 4 > maxDocFreq = 2 fired; at threshold 4 nothing is frequent
    val none = Dedup.removeFrequentLines(docs, "doc_id", "text", maxDocFreq = 4L)
    assert(none.filter($"n_lines_kept" =!= $"n_lines_in").count() === 0)
    // the salted shuffled anti-join — chosen automatically when the
    // frequent-set census exceeds maxBroadcastRows (0 forces it here) —
    // is result-identical to the broadcast path
    val salted = Dedup.removeFrequentLines(docs, "doc_id", "text",
        maxDocFreq = 2L, maxBroadcastRows = 0L, antiJoinSalt = 3)
      .orderBy($"id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(salted.toSeq === out.toSeq)
    // and the census DECIDES: under the default cap the plan broadcasts,
    // over it (cap 0) no broadcast of the frequent side appears
    val bPlan = Dedup.removeFrequentLines(docs, "doc_id", "text", maxDocFreq = 2L)
      .queryExecution.executedPlan.toString
    assert(bPlan.contains("BroadcastHashJoin") || bPlan.contains("BroadcastNestedLoop"),
      s"small frequent set must broadcast:\n$bPlan")
    val sPlan = Dedup.removeFrequentLines(docs, "doc_id", "text",
        maxDocFreq = 2L, maxBroadcastRows = 0L, antiJoinSalt = 3)
      .queryExecution.executedPlan.toString
    assert(!sPlan.contains("BroadcastHashJoin LeftAnti"),
      s"over-cap frequent set must not broadcast the anti-join:\n$sPlan")
  }

  test("ophSignature: hash identity, densification closed form, estimator tracks jaccard") {
    import spark.implicits._
    val C = 1L << 44
    // identical token SETS (order/dup-insensitive) -> identical signatures
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "delta gamma beta alpha alpha"),
      (3L, "alpha beta gamma epsilon"),
      (4L, "totally different words here"),
      (5L, "solo")
    ).toDF("doc_id", "text")
    val sig = Dedup.ophSignature(docs, "doc_id", "text", k = 8).orderBy($"id").collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong).toSeq).toMap
    assert(sig(1L) === sig(2L), "same token set must give the same signature")
    assert(sig(1L) !== sig(4L), "disjoint docs must differ")
    // densification closed form: a 1-token doc has ONE real bin; slot j
    // must equal v + t*C where t is the cyclic distance to that bin
    val h = {
      // same 60-bit md5 prefix the engine uses
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest("solo".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16)
    }
    val (bin, v) = ((h % 8).toInt, h / 8)
    (0 until 8).foreach { j =>
      val t = ((bin - j) % 8 + 8) % 8
      assert(sig(5L)(j) === v + t * C, s"slot $j of the 1-token doc")
    }
    // estimator direction: near-identical pair shares more slots than a
    // disjoint pair
    def slotMatches(a: Long, b: Long): Int =
      sig(a).zip(sig(b)).count { case (x, y) => x == y }
    assert(slotMatches(1L, 3L) > slotMatches(1L, 4L),
      "3/4-jaccard pair must share more OPH slots than a disjoint pair")
    // parallelism invariance of the whole signature table
    val s1 = Dedup.ophSignature(docs.repartition(1), "doc_id", "text", 8)
      .orderBy($"id").collect().toSeq
    val s13 = Dedup.ophSignature(docs.repartition(13), "doc_id", "text", 8)
      .orderBy($"id").collect().toSeq
    assert(s1 === s13, "OPH signatures must be parallelism-invariant")
  }

  test("contaminationMatrix: hand-computed grid, zero-filled cells, threshold edge") {
    import spark.implicits._
    // suiteX = "a b c d e" (3 grams: abc, bcd, cde); suiteY = "p q r s" (2 grams)
    val ev = Seq(("suiteX", "a b c d e"), ("suiteY", "p q r s")).toDF("suite", "text")
    val train = Seq(
      // g1 doc 1: grams abc,bcd,cde,def (matched 3/4 vs X -> 75% > 50% contaminated)
      (1L, "g1", "a b c d e f"),
      // g1 doc 2: grams xyz-ish, one gram pqr vs Y (1/3 -> 33%, hit not contaminated)
      (2L, "g1", "p q r unrelated stuff"),
      // g2 doc 3: no overlap at all
      (3L, "g2", "completely separate tokens only"),
      // g2 doc 4: exactly 50% (1 of 2 grams) vs X -> NOT contaminated (strict >)
      (4L, "g2", "a b c zzz"),
      // too short for 3-grams -> excluded from every census
      (5L, "g2", "a b")
    ).toDF("doc_id", "grp", "text")
    val out = Dedup.contaminationMatrix(train, ev, "doc_id", "grp", "suite", "text",
        shingleN = 3, docThresholdPct = 50)
      .orderBy($"grp", $"suite").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getLong(5)))
    assert(out.toSeq === Seq(
      ("g1", "suiteX", 2L, 1L, 1L, 3L),   // doc1: 3 matched of 4, contaminated
      ("g1", "suiteY", 2L, 1L, 0L, 1L),   // doc2: 1 matched of 3, below threshold
      ("g2", "suiteX", 2L, 1L, 0L, 1L),   // doc4: exactly 50% — strict > excludes
      ("g2", "suiteY", 2L, 0L, 0L, 0L)    // zero-filled cell, still present
    ))
  }

  test("containmentPairs: asymmetric hand case; prefix filter is lossless vs all-pairs") {
    import spark.implicits._
    // doc 2 is a strict excerpt of doc 1: every 1-gram of 2 is in 1
    // (C(2→1) = 1000) but C(1→2) = 3/6 = 500 — asymmetry matters
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "beta gamma delta"),
      (3L, "totally unrelated words here")
    ).toDF("doc_id", "text")
    val hand = Dedup.containmentPairs(docs, "doc_id", "text", n = 1, tPermille = 900)
      .orderBy($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    assert(hand.toSeq === Seq((2L, 1L, 1000L)))
    // losslessness on real data: the prefix-filtered result must equal
    // the exact all-pairs containment join (both directions)
    val slice = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .filter($"doc_id" < 300)
    val fast = Dedup.containmentPairs(slice, "doc_id", "text", n = 3, tPermille = 800)
    val grams = slice.select($"doc_id".as("id"),
      Dedup.shingles($"text", 3).as("gs")).filter(size($"gs") > 0)
    val inter = graft.functions.GraftFunctions
      .sorted_intersect_long($"a.gs", $"b.gs").cast("long")
    val exact = grams.as("a").join(grams.as("b"), $"a.id" =!= $"b.id")
      .select($"a.id".as("id_a"), $"b.id".as("id_b"),
        size($"a.gs").cast("long").as("n_a"), inter.as("inter"))
      .withColumn("cont_pm",
        (($"inter" * 1000 - pmod($"inter" * 1000, $"n_a")) / $"n_a").cast("long"))
      .filter($"cont_pm" >= 800)
    assert(fast.count() > 0, "slice should contain containment pairs")
    assert(fast.exceptAll(exact).isEmpty && exact.exceptAll(fast).isEmpty,
      "prefix-filtered containment diverged from the exact all-pairs join")
  }

  test("lshRecallCensus: identical sets always collide; low bands rarely do") {
    import spark.implicits._
    // 3 exact-duplicate token sets (j=1.0 pairs MUST be candidates —
    // identical sets give identical signatures) + filler docs whose
    // pairwise overlap is the shared 'common' token only
    val docs = ((0 until 3).map(i => (100L + i, "alpha beta gamma delta common")) ++
      (0 until 40).map(i => (200L + i, s"u$i v$i w$i x$i y$i z$i common"))).toDF("id", "text")
    val out = Dedup.lshRecallCensus(docs, "id", "text").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // band 10 = the three exact-dup pairs: guaranteed candidacy, exact ppm
    assert(out(10) == ((3L, 3L, 1000000L)), s"band10=${out.get(10)}")
    // the 1-shared-token filler pairs (j ~ 1/13) almost never collide
    val low = out.filter(_._1 <= 1).values
    assert(low.nonEmpty && low.map(_._3).max < 200000L, s"low bands $low")
  }
}
