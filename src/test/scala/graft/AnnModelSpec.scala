package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ann.Ann
import graft.functions.GraftFunctions

/** The ANN model steps — k-means training and assignment, PQ codebook
  * training, encoding and ADC search — against a plain-Scala replay of
  * their integer contract: exact squared L2, (d2, cid) and (d2, code)
  * tiebreaks, floor(s/n + 0.5) updates, init from the smallest ids. The
  * fixtures draw components from a tiny range so ties, duplicate init
  * centroids and empty clusters all occur.
  */
class AnnModelSpec extends SparkSpec {
  import spark.implicits._

  /** n vectors of `dim` components in [0, range), ids a shuffled
    * gapped sequence (row order is not id order). */
  private def vectors(seed: Long, n: Int, dim: Int, range: Int): Seq[(Long, Seq[Long])] = {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((0 until n).map(i => 10L + 3L * i))
    ids.map(id => (id, Seq.fill(dim)(rnd.nextInt(range).toLong)))
  }

  private def prepared(rows: Seq[(Long, Seq[Long])]): DataFrame =
    rows.toDF("id", "qv").withColumn("nq", GraftFunctions.dot_long($"qv", $"qv"))

  private def d2(a: Seq[Long], b: Seq[Long]): Long =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  /** Index of the nearest row of `cents` under the (d2, index) tiebreak. */
  private def nearest(v: Seq[Long], cents: IndexedSeq[Seq[Long]]): Int =
    cents.indices.minBy(c => (d2(v, cents(c)), c))

  /** Lloyd's k-means as the library specifies it. */
  private def lloyd(rows: Seq[(Long, Seq[Long])], k: Int, iters: Int): IndexedSeq[Seq[Long]] = {
    var cents = rows.sortBy(_._1).take(k).map(_._2).toIndexedSeq
    for (_ <- 0 until iters) {
      val groups = rows.map(_._2).groupBy(v => nearest(v, cents))
      cents = cents.indices.map(c => groups.get(c).fold(cents(c)) { g =>
        g.transpose.map(s => math.floor(s.sum.toDouble / g.size + 0.5).toLong)
      })
    }
    cents
  }

  private def sub(v: Seq[Long], sp: Int, subDim: Int): Seq[Long] =
    v.slice(sp * subDim, (sp + 1) * subDim)

  test("k-means, centroids and assign at k = 80 equal the plain-Scala replay") {
    val rows = vectors(11, 300, 8, 4)
    val p = prepared(rows)
    val ref = lloyd(rows, 80, 2)
    val cents = Ann.kmeansCentroids(p, 80, 2)
      .select($"cid".cast("int"), $"cv").collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
    assert(cents === ref.zipWithIndex.map(_.swap))
    val km = Ann.kmeans(p, 80, 2).select($"cid".cast("int"), $"cv", $"id").collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1), r.getLong(2))).sortBy(_._3).toSeq
    assert(km === rows.sortBy(_._1).map { case (id, v) =>
      val c = nearest(v, ref); (c, ref(c), id) })
    // a stored table: gapped cids, not in cid order, ties broken by cid
    val cids = scala.util.Random.shuffle((0 until 80).map(i => 1000 - 7 * i))
    val table = cids.map(c => (c, ref((c * 13) % 80)))
    val byCid = table.sortBy(_._1)
    val got = Ann.assign(p, table.toDF("cid", "cv")).select($"id", $"cid").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(got === rows.sortBy(_._1).map { case (id, v) =>
      (id, byCid(nearest(v, byCid.map(_._2).toIndexedSeq))._1) })
  }

  test("PQ codebook, encode and ADC top-k at ks = 80 equal the plain-Scala replay") {
    val (numSub, subDim, ks) = (2, 4, 80)
    val rows = vectors(12, 300, numSub * subDim, 4)
    val p = prepared(rows)
    val ref = (0 until numSub).map(sp =>
      lloyd(rows.map { case (id, v) => (id, sub(v, sp, subDim)) }, ks, 2))
    val cb = Ann.pqCodebook(p, numSub, subDim, ks, 2)
    val got = cb.select($"sp".cast("int"), $"code".cast("int"), $"cv").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Long](2))).toMap
    assert(got === (for (sp <- 0 until numSub; c <- 0 until ks) yield (sp, c) -> ref(sp)(c)).toMap)
    val refCodes = rows.map { case (id, v) =>
      id -> (0 until numSub).map(sp => nearest(sub(v, sp, subDim), ref(sp))) }.toMap
    val codes = Ann.pqEncode(p, cb, numSub, subDim)
    assert(codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap === refCodes)
    val k = 5
    val qids = rows.map(_._1).filter(_ % 4 == 2).toSet
    val top = Ann.pqAdcTopK(codes, cb, p.filter($"id" % 4 === 2), numSub, subDim, ks, k)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sortBy(r => (r._1, r._2)).toSeq
    val refTop = rows.filter(r => qids(r._1)).sortBy(_._1).flatMap { case (qid, v) =>
      rows.filter(_._1 != qid).map { case (nid, _) =>
        val adist = (0 until numSub).map(sp =>
          d2(sub(v, sp, subDim), ref(sp)(refCodes(nid)(sp)))).sum
        (adist, nid)
      }.sorted.take(k).zipWithIndex.map { case ((adist, nid), i) => (qid, i + 1, nid, adist) }
    }
    assert(top === refTop)
  }

  test("a row whose length differs from the model's fails kmeans, assign, pqEncode and pqAdcTopK") {
    val good = vectors(13, 120, 8, 50).sortBy(_._1)
    // the first row has the right length; the last (largest id, so never
    // an init centroid) has one component too many
    val bad = prepared(good.init :+ (good.last._1 -> (good.last._2 :+ 1L)))
    val p = prepared(good)
    val cents = Ann.kmeansCentroids(p, 4, 1)
    val cb = Ann.pqCodebook(p, 2, 4, 4, 1)
    val codes = Ann.pqEncode(p, cb, 2, 4)
    def failsLoudly(body: => Any): Unit = {
      val e = intercept[Exception](body)
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString("\n")
      assert(msgs.contains("got 9"), msgs)
    }
    failsLoudly(Ann.kmeans(bad, 4, 1).collect())
    failsLoudly(Ann.assign(bad, cents).collect())
    failsLoudly(Ann.pqEncode(bad, cb, 2, 4).collect())
    failsLoudly(Ann.pqAdcTopK(codes, cb, bad, 2, 4, 4, 3).collect())
  }

  test("k-means compiles no new code for a second dataset of the same schema") {
    // checkpointed frames: a LocalRelation would be projected on the
    // driver by the optimizer and never reach generated code
    def frame(seed: Long) = prepared(vectors(seed, 200, 16, 1000)).localCheckpoint()
    val (a, b) = (frame(21), frame(22))
    Ann.kmeans(a, 8, 2).collect()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    Ann.kmeans(b, 8, 2).collect()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before === 0)
  }
}
