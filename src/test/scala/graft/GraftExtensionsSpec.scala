package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftx.GraftExpr
import org.scalatest.funsuite.AnyFunSuite

/** spark.sql.extensions=graft.GraftExtensions must make the native
  * functions visible to a brand-new session with no Scala-side setup. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("extensions class registers native functions for pure-SQL sessions") {
    // needs a session actually built with the extensions config — release
    // any session another suite left active first
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()

    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val dot = s.sql("SELECT dot_long(array(1L,2L,3L), array(4L,5L,6L)) AS d")
        .collect().head.getLong(0)
      assert(dot === 32L)
      val ham = s.sql("SELECT hamming_dist(7L, 1L) AS h").collect().head.getInt(0)
      assert(ham === 2)
      val jac = s.sql("SELECT sorted_jaccard(array('a','b'), array('b','c')) AS j")
        .collect().head.getDouble(0)
      assert(math.abs(jac - 1.0 / 3.0) < 1e-12)
      val ng = s.sql("SELECT size(ngram_hashes('a b a b', 2)) AS n, " +
          "size(shingle_hashes('a b a b', 2)) AS sd, " +
          "size(minhash_sig('a b c', 1, 8)) AS k")
        .collect().head
      assert(ng.getInt(0) === 3 && ng.getInt(1) === 2 && ng.getInt(2) === 8)
      // the whole table, ten distinct names, resolves in the extension session
      assert(GraftExpr.sqlFunctions.map(_.name).distinct.size === 10)
      assert(unresolved(s).isEmpty, "not injected by the extension")
    } finally SparkSpec.release(s)
    // the per-session route registers the same table
    val r = Session.start(Session.builder(2))
    try assert(unresolved(r).isEmpty, "not registered by GraftFunctions.register")
    finally SparkSpec.release(r)
  }

  private def unresolved(s: SparkSession): Seq[String] =
    GraftExpr.sqlFunctions.map(_.name).filterNot(s.catalog.functionExists)
}
