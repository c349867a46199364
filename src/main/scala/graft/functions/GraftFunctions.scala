package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graftx.GraftExpr

/** Public Column API for graft's native Catalyst expressions (codegen'd
  * kernels for dedup / similarity search hot paths). */
object GraftFunctions {
  /** Exact BIGINT-array dot product (order-free integer sum). */
  def dot_long(a: Column, b: Column): Column = GraftExpr.dotLong(a, b)
  /** Jaccard of two sorted, distinct string arrays (single merge pass). */
  def sorted_jaccard(a: Column, b: Column): Column = GraftExpr.sortedJaccard(a, b)
  /** Jaccard of two sorted, distinct BIGINT (hash) arrays. */
  def sorted_jaccard_long(a: Column, b: Column): Column = GraftExpr.sortedJaccardLong(a, b)
  /** Intersection COUNT of two sorted, distinct BIGINT (hash) arrays —
    * the containment-verify kernel (C(A→B) = inter / |A|). */
  def sorted_intersect_long(a: Column, b: Column): Column = GraftExpr.sortedIntersectLong(a, b)
  /** Bit-population distance of two BIGINTs (SimHash compare kernel). */
  def hamming_dist(a: Column, b: Column): Column = GraftExpr.hammingDist(a, b)
  /** 60-bit md5 hashes of word n-grams, one pass, document order. */
  def ngram_hashes(text: Column, n: Int): Column =
    GraftExpr.ngramHashes(text, n, sortedDistinct = false)
  /** Sorted distinct 60-bit md5 word-n-gram hashes (shingle set). */
  def shingle_hashes(text: Column, n: Int): Column =
    GraftExpr.ngramHashes(text, n, sortedDistinct = true)
  /** 60-bit md5 hashes of CHARACTER n-grams, one pass, document order
    * (exact-substring probes; [[chargram_hashes_sd]] is the census form). */
  def chargram_hashes(text: Column, n: Int): Column =
    GraftExpr.chargramHashes(text, n, sortedDistinct = false)
  /** Sorted distinct 60-bit md5 character-n-gram hashes — the map-side
    * deduped exact-substring gram set (ExactSubstr's hashed paths). */
  def chargram_hashes_sd(text: Column, n: Int): Column =
    GraftExpr.chargramHashes(text, n, sortedDistinct = true)
  /** Distinct (hash, gram) struct pairs of character n-grams — the
    * exact-substring VERIFY side (gram string next to its 60-bit key),
    * one imperative pass per document. */
  def chargram_pairs(text: Column, n: Int): Column =
    GraftExpr.chargramPairs(text, n)
  /** Mergeable bloom sketch of a BIGINT column (Spark's runtime-filter
    * aggregate, user-callable). ~10 bits/item ≈ 1% false positives. */
  def bloom_agg(value: Column, estItems: Long, numBits: Long): Column =
    GraftExpr.bloomAgg(value, estItems, numBits)
  /** Membership probe against a collected bloom sketch: false positives
    * possible, false negatives never — safe as an exactness-preserving
    * pre-filter in front of an exact join. */
  def bloom_contains(bloomBytes: Array[Byte], value: Column): Column =
    GraftExpr.bloomContains(bloomBytes, value)
  /** Register every `GraftExpr.sqlFunctions` entry for SQL use. */
  def register(spark: SparkSession): Unit = GraftExpr.register(spark)
}
