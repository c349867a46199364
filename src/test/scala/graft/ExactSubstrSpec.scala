package graft

import graft.text.ExactSubstr

/** Hand oracles for the exact-substring contamination census
  * (text.ExactSubstr): manufactured shared substrings of KNOWN lengths
  * must hit exactly the ladder rungs their length reaches. */
class ExactSubstrSpec extends SparkSpec {
  import spark.implicits._

  test("manufactured overlaps hit exactly the rungs their length reaches") {
    // doc 10 shares exactly 8 chars, doc 20 exactly 16, doc 30 exactly 32;
    // doc 40 shares nothing. Shared payloads are unique sentinels.
    val s8 = "ABCDEFGH"
    val s16 = "IJKLMNOPQRSTUVWX"
    val s32 = "abcdefghijklmnopqrstuvwxyz012345"
    val train = Seq(
      (1L, s"train filler one $s8 more filler"),
      (2L, s"second train doc $s16 tail"),
      (3L, s"third $s32 train")).toDF("doc_id", "text")
    val eval = Seq(
      (10L, s"eval ten ${s8}zz"),        // 8 shared, 9th char differs
      (20L, s"eval twenty ${s16}zz"),    // 16 shared
      (30L, s"eval thirty ${s32}zz"),    // 32 shared
      (40L, "entirely disjoint payload without any overlap at all QQ"))
      .toDF("doc_id", "text")
    val got = ExactSubstr
      .sharedSubstrCensus(train, eval, "text", "doc_id", Seq(8, 16, 32))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    // L=8: docs 10, 20, 30 hit (16- and 32-char overlaps contain 8-grams)
    assert(got(8) == (3L, 60L), got.toString)
    // L=16: docs 20, 30
    assert(got(16) == (2L, 50L), got.toString)
    // L=32: doc 30 only
    assert(got(32) == (1L, 30L), got.toString)
  }

  test("documents shorter than L emit no grams; empty hit rung reports 0") {
    val train = Seq((1L, "tiny")).toDF("doc_id", "text")
    val eval = Seq((2L, "tin")).toDF("doc_id", "text")
    val got = ExactSubstr
      .sharedSubstrCensus(train, eval, "text", "doc_id", Seq(2, 8))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(2) == (1L, 2L)) // "ti"/"in" shared
    assert(got(8) == (0L, 0L)) // both sides shorter than 8
  }

  test("buildIndex + screenBatch: disjoint batches accumulate to the batch census") {
    val s8 = "ABCDEFGH"
    val s16 = "IJKLMNOPQRSTUVWX"
    val train = Seq(
      (1L, s"train filler one $s8 more filler"),
      (2L, s"second train doc $s16 tail")).toDF("doc_id", "text")
    val eval = Seq(
      (10L, s"eval ten ${s8}zz"),
      (20L, s"eval twenty ${s16}zz"),
      (40L, "entirely disjoint payload without any overlap at all QQ"))
      .toDF("doc_id", "text")
    val idx = ExactSubstr.buildIndex(train, "text", Seq(8, 16)).localCheckpoint(true)
    // screen in two disjoint batches; censuses must ADD to the batch form
    val acc = scala.collection.mutable.Map.empty[Int, (Long, Long)]
      .withDefaultValue((0L, 0L))
    Seq(eval.filter($"doc_id" <= 10), eval.filter($"doc_id" > 10)).foreach { b =>
      ExactSubstr.screenBatch(idx, b, "text", "doc_id", Seq(8, 16))
        .collect().foreach { r =>
          val (n0, c0) = acc(r.getInt(0))
          acc(r.getInt(0)) = (n0 + r.getLong(1), c0 + r.getLong(2))
        }
    }
    assert(acc(8) == (2L, 30L), acc.toString)  // docs 10, 20
    assert(acc(16) == (1L, 20L), acc.toString) // doc 20 only
  }

  test("screenBatch guards loudly against a corpus-sized batch side") {
    val df = Seq((1L, "abcdefgh")).toDF("doc_id", "text")
    val idx = ExactSubstr.buildIndex(df, "text", Seq(4))
    val e = intercept[IllegalArgumentException] {
      ExactSubstr.screenBatch(idx, df, "text", "doc_id", Seq(4),
        maxBatchDocs = 0L)
    }
    assert(e.getMessage.contains("broadcasts"))
  }

  test("grams are distinct per document and replay substring semantics") {
    val df = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val g = ExactSubstr.grams(df, "text", 2, keep = Seq("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(g.toSeq == Seq((1L, "aa"))) // 3 positions, one distinct gram
  }

  test("chargram_hashes kernel matches the declarative md5-prefix chain, " +
       "multi-byte UTF-8 included") {
    import org.apache.spark.sql.functions._
    // é (2 bytes), 語 (3 bytes), 🎉 (4 bytes, surrogate pair in UTF-16 but
    // ONE character to Spark's codePoint-based substring? — no: Spark
    // counts UTF-8 chars; both sides must agree with themselves)
    val texts = Seq("hello world", "aé語bé語c", "aaaa", "ab", "",
      "mixé語d content with repeats repeats repeats")
    val df = texts.zipWithIndex.map { case (t2, i) => (i.toLong, t2) }
      .toDF("id", "text")
    for (l <- Seq(1, 2, 3, 5)) {
      // declarative chain only defined for length >= l (sequence(1, 0)
      // is DESCENDING in Spark, not empty) — compare on that subset and
      // assert the kernel's empty array on the rest
      val long = df.filter(length($"text") >= l)
      val kernel = long.select($"id", graft.functions.GraftFunctions
          .chargram_hashes_sd($"text", l).as("hs"))
      val declarative = long.select($"id", expr(
        s"array_sort(array_distinct(transform(" +
        s"sequence(1, length(text) - $l + 1), " +
        s"i -> cast(conv(substring(md5(substring(text, i, $l)), 1, 15), " +
        s"16, 10) as bigint))))").as("hs"))
      val k = kernel.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val d = declarative.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(k == d, s"L=$l kernel vs declarative")
      val shorts = df.filter(length($"text") < l)
        .select(graft.functions.GraftFunctions.chargram_hashes_sd($"text", l).as("hs"))
        .collect().map(_.getSeq[Long](0))
      assert(shorts.forall(_.isEmpty), s"L=$l short docs must emit nothing")
    }
  }

  test("chargram_pairs kernel matches the declarative (hash, gram) chain") {
    import org.apache.spark.sql.functions._
    val texts = Seq("hello world", "aé語bé語c", "aaaa", "ab", "",
      "mixé語d content with repeats repeats repeats")
    val df = texts.zipWithIndex.map { case (t2, i) => (i.toLong, t2) }
      .toDF("id", "text")
    for (l <- Seq(1, 2, 5)) {
      val kernel = df.select($"id", explode(
          graft.functions.GraftFunctions.chargram_pairs($"text", l)).as("p"))
        .select($"id", $"p.h", $"p.g")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val declarative = df.filter(length($"text") >= l)
        .select($"id", explode(expr(
          s"transform(sequence(1, length(text) - $l + 1), " +
          s"i -> substring(text, i, $l))")).as("g"))
        .select($"id",
          expr("cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint)").as("h"),
          $"g")
        .distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(kernel == declarative, s"L=$l")
    }
  }

  test("hashed census (verify on) is bit-identical to the string census") {
    val s8 = "ABCDEFGH"
    val s16 = "IJKLMNOPQRSTUVWX"
    val train = Seq(
      (1L, s"train filler one $s8 more filler"),
      (2L, s"second train doc $s16 tail é語🎉 unicode"),
      (3L, "third train")).toDF("doc_id", "text")
    val eval = Seq(
      (10L, s"eval ten ${s8}zz"),
      (20L, s"eval twenty ${s16}zz é語🎉 unicode overlap too"),
      (40L, "entirely disjoint payload without any overlap at all QQ"))
      .toDF("doc_id", "text")
    for (verify <- Seq(true, false)) {
      val hashed = ExactSubstr
        .sharedSubstrCensusHashed(train, eval, "text", "doc_id",
          Seq(4, 8, 16), verify = verify)
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      val strings = ExactSubstr
        .sharedSubstrCensus(train, eval, "text", "doc_id", Seq(4, 8, 16))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(hashed == strings, s"verify=$verify: $hashed vs $strings")
    }
  }

  test("buildHashIndex + screenBatchHashed accumulate to the batch census") {
    val s8 = "ABCDEFGH"
    val s16 = "IJKLMNOPQRSTUVWX"
    val train = Seq(
      (1L, s"train filler one $s8 more filler"),
      (2L, s"second train doc $s16 tail")).toDF("doc_id", "text")
    val eval = Seq(
      (10L, s"eval ten ${s8}zz"),
      (20L, s"eval twenty ${s16}zz"),
      (40L, "entirely disjoint payload without any overlap at all QQ"))
      .toDF("doc_id", "text")
    val idx = ExactSubstr.buildHashIndex(train, "text", Seq(8, 16))
      .localCheckpoint(true)
    val acc = scala.collection.mutable.Map.empty[Int, (Long, Long)]
      .withDefaultValue((0L, 0L))
    Seq(eval.filter($"doc_id" <= 10), eval.filter($"doc_id" > 10)).foreach { b =>
      ExactSubstr.screenBatchHashed(idx, b, "text", "doc_id", Seq(8, 16))
        .collect().foreach { r =>
          val (n0, c0) = acc(r.getInt(0))
          acc(r.getInt(0)) = (n0 + r.getLong(1), c0 + r.getLong(2))
        }
    }
    assert(acc(8) == (2L, 30L), acc.toString)  // docs 10, 20
    assert(acc(16) == (1L, 20L), acc.toString) // doc 20 only
  }

  test("longestSharedSubstr: manufactured overlaps of KNOWN exact lengths") {
    val s17 = "ABCDEFGHIJKLMNOPQ"          // 17 chars
    val s8  = "rstuvwxy"                   // exactly 8
    val s33 = "abcdefghijklmnopqrstuvwxyz0123456".take(33)
    val dup = "this entire document is shared verbatim between the corpora"
    // boundary chars differ on every side, so the shared run is EXACTLY
    // the sentinel (no accidental shared space extending it by one)
    val train = Seq(
      (1L, s"filler one!${s17}#and on"),
      (2L, s"two&${s8}#tail"),
      (3L, s"three*${s33}%marker"),
      (4L, dup)).toDF("doc_id", "text")
    val eval = Seq(
      (10L, s"eval a=${s17}zz"),           // exact longest 17 (bracket [16,31])
      (20L, s"eval b=${s8}ZZ"),            // exact longest 8 (bracket [8,15])
      (30L, s"eval c=${s33}@@"),           // exact longest 33 (bracket [32,cap])
      (40L, dup),                          // identical doc: min(len, maxProbe)
      (50L, "wholly disjoint QQWWEE"))     // below bottom rung: absent
      .toDF("doc_id", "text")
    val got = ExactSubstr.longestSharedSubstr(train, eval, "text", "doc_id",
        Seq(8, 16, 32), maxProbe = 48)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(10L -> 17, 20L -> 8, 30L -> 33,
      40L -> math.min(dup.length, 48)), got.toString)
  }

  test("longestSharedSubstr fuzz: exact vs a driver-side LCS oracle") {
    val rnd = new scala.util.Random(17)
    def doc(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    for (trial <- 0 until 3) {
      val train = (1L to 8L).map(i => (i, doc(30 + rnd.nextInt(40))))
      val eval = (101L to 110L).map(i => (i, doc(20 + rnd.nextInt(30))))
      val cap = 24
      // brute force: longest common substring of e with ANY train doc
      def lcs(e: String): Int = {
        var best = 0
        for ((_, t) <- train; i <- 0 until e.length;
             l <- (best + 1) to math.min(cap, e.length - i))
          if (t.contains(e.substring(i, i + l))) best = math.max(best, l)
        best
      }
      val want = eval.map { case (id, e) => id -> lcs(e) }
        .filter(_._2 >= 4).toMap
      val got = ExactSubstr.longestSharedSubstr(
          train.toDF("doc_id", "text"), eval.toDF("doc_id", "text"),
          "text", "doc_id", Seq(4, 8, 16), maxProbe = cap)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got === want, s"trial $trial: $got vs $want")
      // the distributed route (driver-probe gate forced off) must agree
      val dist = ExactSubstr.longestSharedSubstr(
          train.toDF("doc_id", "text"), eval.toDF("doc_id", "text"),
          "text", "doc_id", Seq(4, 8, 16), maxProbe = cap,
          maxDriverDocs = 0L)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(dist === want, s"trial $trial dist: $dist vs $want")
    }
  }

  test("bucketed index screen equals the broadcast screen, row for row") {
    val s8 = "ABCDEFGH"
    val s16 = "IJKLMNOPQRSTUVWX"
    val train = Seq((1L, s"one $s8 pad"), (2L, s"two $s16 pad"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, s"a ${s8}z"), (20L, s"b ${s16}z"),
      (30L, "nothing shared QQ")).toDF("doc_id", "text")
    val pdir = java.nio.file.Files.createTempDirectory("graft_es_bk_")
    ExactSubstr.saveHashIndexBucketed(
      ExactSubstr.buildHashIndex(train, "text", Seq(8, 16)),
      "graft_spec_idx", pdir.resolve("idx").toString, buckets = 4)
    val viaBucket = ExactSubstr.screenBatchBucketed(
        spark, "graft_spec_idx", batch, "text", "doc_id", Seq(8, 16))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val viaBroadcast = ExactSubstr.screenBatchHashed(
        spark.table("graft_spec_idx"), batch, "text", "doc_id", Seq(8, 16))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaBucket === viaBroadcast)
    assert(viaBucket === Set((8, 2L, 30L), (16, 1L, 20L)))
    // APPEND arm (build-once / append-often): a third train doc arrives;
    // the appended table must screen identically to a from-scratch index
    // over all three docs — including a batch doc (40) that only the
    // appended increment can flag
    val s12 = "0123456789ab"
    ExactSubstr.appendHashIndexBucketed(
      Seq((3L, s"three $s12 pad")).toDF("doc_id", "text"),
      "text", "graft_spec_idx", Seq(8, 16), buckets = 4)
    val batch2 = Seq((10L, s"a ${s8}z"), (40L, s"c ${s12}z"))
      .toDF("doc_id", "text")
    val afterAppend = ExactSubstr.screenBatchBucketed(
        spark, "graft_spec_idx", batch2, "text", "doc_id", Seq(8, 16))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(afterAppend === Set((8, 2L, 50L)), afterAppend.toString)
    spark.sql("DROP TABLE IF EXISTS graft_spec_idx")
  }

  test("window-key kernels agree: Hash == Dyn == Probe on random arrays") {
    // the x53 search's exactness argument leans on all three kernels
    // computing the SAME key function (fill is shared structurally, but
    // pin it against future drift): for random member arrays and every
    // (m, b) combination, the multi-length kernel, the per-row-length
    // kernel, and the probe kernel must emit identical keys at
    // identical positions
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftx.{GraftExpr, LongOpenSet}
    val rnd = new scala.util.Random(18)
    val arrs = (1L to 6L).map(i =>
      (i, Array.fill(3 + rnd.nextInt(40))(rnd.nextLong())))
    val df = arrs.toDF("id", "H").localCheckpoint(true)
    for (b <- Seq(3, 4); ms = Seq(b, b + 1, 2 * b, 3 * b + 1)) {
      val viaHash = df.select($"id", posexplode(
          GraftExpr.windowKeyHashes($"H", ms, b)))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      // reconstruct (id, m, pos, k) from the flat concat per length
      val expectPerM = arrs.flatMap { case (id, h) =>
        ms.flatMap { m =>
          val n = h.length - (m - b)
          (0 until math.max(0, n)).map(i => (id, m, i))
        }
      }
      val viaDyn = ms.flatMap { m =>
        df.select($"id", lit(m).as("m"), posexplode(
            GraftExpr.windowKeyHashesDyn($"H", lit(m), b)))
          .collect().map(r => ((r.getLong(0), m, r.getInt(2)), r.getLong(3)))
      }.toMap
      // Hash's flat stream must equal Dyn's keys position-for-position
      val viaHashSeq = arrs.flatMap { case (id, h) =>
        val keys = viaHash.filter(_._1 == id).toSeq.sortBy(_._2).map(_._3)
        expectPerM.filter(_._1 == id).map(t => t).zip(keys)
      }
      viaHashSeq.foreach { case ((id, m, pos), k) =>
        assert(viaDyn((id, m, pos)) === k, s"Hash vs Dyn at ($id, $m, $pos)")
      }
      // Probe with ALL Dyn keys must emit every (m, pos, k) back
      val allKeys = viaDyn.values.toArray.distinct
      val bc = spark.sparkContext.broadcast(LongOpenSet(allKeys))
      val viaProbe = df.select($"id", explode(
          GraftExpr.windowKeyProbe($"H", ms, b, bc)).as("e"))
        .select($"id", $"e.m", $"e.pos", $"e.k")
        .collect().map(r => ((r.getLong(0), r.getInt(1), r.getInt(2) - 1),
          r.getLong(3))).toMap
      assert(viaProbe === viaDyn,
        s"Probe vs Dyn mismatch at b=$b: ${viaProbe.size} vs ${viaDyn.size}")
    }
  }

  test("longestSharedSubstr: multi-byte UTF-8 counts CHARACTERS, clamps at maxProbe") {
    // 7 shared greek chars (14 UTF-8 bytes): the answer must be 7 — the
    // hash arrays index char-gram positions and the final verify's
    // substring() is char-based; a byte/char mix-up would report 14 or
    // fail the verify. Boundary chars differ on all four sides.
    val g7 = "αβγδεζη"
    val train = Seq((1L, s"xx≠${g7}≠yy"), (2L, "πππππππππππππ"))
      .toDF("doc_id", "text")
    val eval = Seq(
      (10L, s"q∅${g7}∅r"),      // exact longest 7 chars
      (20L, "πππππππππππ"),     // 11-char run of a shared 13-char run,
                                 //   capped by its own length: 11
      (30L, "no"),               // shorter than the bottom rung: absent
      (40L, "λλλλλλ"))           // nothing shared: absent
      .toDF("doc_id", "text")
    val got = ExactSubstr.longestSharedSubstr(train, eval, "text", "doc_id",
        Seq(4), maxProbe = 16)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(10L -> 7, 20L -> 11), got.toString)
    // clamp: maxProbe below the true overlap reports the clamp exactly
    val clamped = ExactSubstr.longestSharedSubstr(train, eval, "text",
        "doc_id", Seq(4), maxProbe = 5)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(clamped === Map(10L -> 5, 20L -> 5), clamped.toString)
  }

  test("longestSharedSubstr: a duplicated eval id fails loudly on the driver-probe route") {
    val shared = "ABCDEFGHIJKLMNOPQRSTUVWX"
    val train = Seq((1L, s"train one $shared tail")).toDF("doc_id", "text")
    val eval = Seq(
      (10L, s"eval a ${shared.take(12)}!"),
      (10L, s"eval b $shared?"),
      (20L, s"eval c ${shared.take(9)}#")).toDF("doc_id", "text")
    val err = intercept[IllegalArgumentException] {
      ExactSubstr.longestSharedSubstr(train, eval, "text", "doc_id",
        Seq(8, 16), maxProbe = 32).collect()
    }
    assert(err.getMessage.contains("not unique") && err.getMessage.contains("10"),
      err.getMessage)
  }
}
