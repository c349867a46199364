package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot kernels of dedup / similarity
  * search. Spark's higher-order functions (`zip_with` + `aggregate`) are
  * evaluated by the interpreter per element; for N-pair × 64-dim dot
  * products that interpreter overhead dominates the runtime. These
  * expressions generate tight Java loops inside whole-stage codegen
  * instead (preference order per SURVEY §7.3: built-ins, then custom
  * `Expression`, before any mapPartitions fallback).
  */

/** Exact dot product of two BIGINT arrays: sum(a[i]*b[i]). Integer math —
  * order-free, overflow-free for quantized embeddings (|x|<=1e4 squared
  * times 64 dims << 2^63). */
case class DotLong(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L; var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** A trained ANN model of shape [numSub][k][subDim], flattened: row c
  * of subspace sp starts at (sp·k + c)·subDim. k-means is numSub = 1;
  * a PQ codebook has one k-row table per subspace, and subvector sp of
  * a vector is its components [sp·subDim, (sp+1)·subDim). Distances are
  * exact integer squared L2. */
final class L2Model(val numSub: Int, val k: Int, val subDim: Int, rows: Array[Long])
    extends Serializable {

  private def vector(q: ArrayData): Array[Long] = {
    val n = q.numElements()
    if (n != numSub * subDim) throw new IllegalArgumentException(
      s"L2 model expects vectors of length ${numSub * subDim} " +
        s"(numSub=$numSub x subDim=$subDim), got $n")
    q.toLongArray()
  }

  private def d2(v: Array[Long], sp: Int, c: Int): Long = {
    val off = sp * subDim; val base = (sp * k + c) * subDim
    var s = 0L; var j = 0
    while (j < subDim) { val d = v(off + j) - rows(base + j); s += d * d; j += 1 }
    s
  }

  /** Per subspace, the index of the nearest row, ties to the smaller index. */
  def codes(q: ArrayData): ArrayData = {
    val v = vector(q)
    val out = new Array[Int](numSub)
    var sp = 0
    while (sp < numSub) {
      var best = d2(v, sp, 0); var c = 1
      while (c < k) {
        val d = d2(v, sp, c)
        if (d < best) { best = d; out(sp) = c }
        c += 1
      }
      sp += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Every d2 in slot order: slot sp·k + c. */
  def table(q: ArrayData): ArrayData = {
    val v = vector(q)
    val out = new Array[Long](numSub * k)
    var sp = 0
    while (sp < numSub) {
      var c = 0
      while (c < k) { out(sp * k + c) = d2(v, sp, c); c += 1 }
      sp += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

object L2Model {
  val dataType: DataType = ArrayType(ArrayType(ArrayType(LongType)))

  /** Flatten a model value; every subspace must hold k ≥ 1 rows of one
    * length. */
  def apply(model: ArrayData): L2Model = {
    val subs = (0 until model.numElements()).map(model.getArray)
    val k = if (subs.isEmpty) 0 else subs.head.numElements()
    require(subs.nonEmpty && k > 0 && subs.forall(_.numElements() == k),
      s"L2 model needs numSub >= 1 subspaces of one k >= 1 rows each, got ${subs.map(_.numElements())}")
    val rows = subs.flatMap(s => (0 until k).map(c => s.getArray(c).toLongArray()))
    val subDim = rows.head.length
    require(rows.forall(_.length == subDim),
      s"L2 model rows differ in length: ${rows.map(_.length).distinct.sorted}")
    new L2Model(subs.length, k, subDim, rows.toArray.flatten)
  }

  /** The model as one plan literal, its shape checked on the driver. */
  def literal(model: Seq[Seq[Seq[Long]]]): Expression = {
    val l = org.apache.spark.sql.catalyst.expressions.Literal.create(model, dataType)
    apply(l.value.asInstanceOf[ArrayData])
    l
  }
}

/** Exact integer squared L2 from a BIGINT vector (left) to every row of
  * an [[L2Model]] literal (right). The model is data, not code: the
  * generated code calls the kernel through a reference to this
  * expression, so a new model — every Lloyd round, every dataset —
  * reuses the compiled class. A vector whose length is not numSub·subDim
  * fails the task. */
abstract class ModelL2 extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType), L2Model.dataType)

  @transient lazy val model: L2Model = L2Model(right.eval().asInstanceOf[ArrayData])

  def kernel(q: ArrayData): ArrayData

  override def nullSafeEval(q: Any, m: Any): Any = kernel(q.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("l2", this)
    nullSafeCodeGen(ctx, ev, (q, _) => s"${ev.value} = $self.kernel($q);")
  }
}

/** Per-subspace argmin codes: array<int> of numSub row indices under the
  * (d2, index) tiebreak. */
case class L2Codes(left: Expression, right: Expression) extends ModelL2 {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "l2_codes"
  override def kernel(q: ArrayData): ArrayData = model.codes(q)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** The full d2 table: array<bigint> of numSub·k distances, slot sp·k + c. */
case class L2Table(left: Expression, right: Expression) extends ModelL2 {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "l2_table"
  override def kernel(q: ArrayData): ArrayData = model.table(q)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Jaccard similarity of two SORTED, DISTINCT string arrays via a single
  * merge pass — no intermediate intersection/union arrays. Equal to
  * |a ∩ b| / |a ∪ b| (what `array_intersect`/`array_union` sizes give)
  * but allocation-free and codegen'd. Inputs MUST be array_sort(
  * array_distinct(...)) — the planner-side contract of the dedup ops. */
case class SortedJaccard(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sorted_jaccard"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < nx && j < ny) {
      val c = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = nx + ny - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val inter = ctx.freshName("inter"); val c = ctx.freshName("c")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val un = ctx.freshName("un")
      s"""
         |int $nx = $a.numElements(); int $ny = $b.numElements();
         |int $i = 0; int $j = 0; int $inter = 0;
         |while ($i < $nx && $j < $ny) {
         |  int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($c == 0) { $inter++; $i++; $j++; }
         |  else if ($c < 0) { $i++; } else { $j++; }
         |}
         |int $un = $nx + $ny - $inter;
         |${ev.value} = $un == 0 ? 0.0 : (double) $inter / $un;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Jaccard similarity of two SORTED, DISTINCT BIGINT arrays (token/shingle
  * hashes) via a single merge pass over primitive longs — the scalable form
  * of [[SortedJaccard]]: rows carry fixed-width primitive arrays instead of
  * UTF8 strings, so join materialization is a memcpy and the merge loop is
  * branch-predictable. */
case class SortedJaccardLong(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sorted_jaccard_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { inter += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    val union = nx + ny - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val inter = ctx.freshName("inter")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      val un = ctx.freshName("un")
      s"""
         |int $nx = $a.numElements(); int $ny = $b.numElements();
         |int $i = 0; int $j = 0; int $inter = 0;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $inter++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |int $un = $nx + $ny - $inter;
         |${ev.value} = $un == 0 ? 0.0 : (double) $inter / $un;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Intersection COUNT of two SORTED, DISTINCT long arrays via a single
  * merge pass — the containment-verify kernel (containment C(A→B) =
  * inter / |A| needs the raw count, not the Jaccard ratio). Same input
  * contract as [[SortedJaccardLong]]: both sides must be
  * array_sort(array_distinct(...)). */
case class SortedIntersectLong(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { inter += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    inter
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val inter = ctx.freshName("inter")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $nx = $a.numElements(); int $ny = $b.numElements();
         |int $i = 0; int $j = 0; int $inter = 0;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $inter++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $inter;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Hamming distance between two BIGINTs (bit population of xor) — the
  * SimHash comparison kernel. */
case class HammingDist(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "hamming_dist"
  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.bitCount(a.asInstanceOf[Long] ^ b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = java.lang.Long.bitCount($a ^ $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** 60-bit md5 hashes of the word n-grams of a space-separated text, in one
  * imperative pass per row. Semantically identical to the declarative chain
  *   transform(grams(split(text,' '), n), g -> conv(substring(md5(g),1,15),16,10))
  * (with `array_sort(array_distinct(...))` applied when `sortedDistinct`),
  * but ~10x faster: Spark evaluates higher-order-function lambdas in the
  * interpreter per element, so building each gram via element_at + concat_ws
  * dominated the dedup/decontamination runtime. Here each gram is a byte
  * SLICE of the original UTF-8 text (consecutive tokens joined by the same
  * single-space separators they were split on — bit-identical to concat_ws),
  * hashed without any string allocation. 0x20 never occurs inside a UTF-8
  * multi-byte sequence, so the byte scan is charset-safe; split-with-limit
  * -1 semantics (leading/trailing/consecutive spaces yield empty tokens)
  * match Spark's `split`. Fewer than n tokens yields an empty array.
  *
  * The hash value is the md5 hex prefix digits 1..15 parsed base-16 — i.e.
  * the high 60 bits of the digest — which DuckDB replays verbatim as
  * `('0x'||substr(md5(g),1,15))::BIGINT`, keeping every oracle exact.
  * One eval per DOCUMENT row does the work of ~3·n_grams interpreted
  * expression nodes, so CodegenFallback's per-row virtual call is noise. */
case class NgramHash(child: Expression, n: Int, sortedDistinct: Boolean)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  require(n >= 1, s"ngram size must be >= 1, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = if (sortedDistinct) "shingle_hashes" else "ngram_hashes"

  @transient private lazy val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val len = bytes.length
    // Token start offsets (split on single 0x20, keep empty tokens).
    var nTok = 1
    var i = 0
    while (i < len) { if (bytes(i) == ' '.toByte) nTok += 1; i += 1 }
    if (nTok < n) return new GenericArrayData(Array.emptyLongArray)
    val starts = new Array[Int](nTok + 1) // starts(k) = offset of token k; starts(nTok) = len+1 sentinel
    starts(0) = 0
    var k = 1
    i = 0
    while (i < len) {
      if (bytes(i) == ' '.toByte) { starts(k) = i + 1; k += 1 }
      i += 1
    }
    starts(nTok) = len + 1
    val digest = md5.get()
    val nGrams = nTok - n + 1
    val out = new Array[Long](nGrams)
    var g = 0
    while (g < nGrams) {
      val from = starts(g)
      val until = starts(g + n) - 1 // end of token g+n-1 (drop the separator/sentinel)
      digest.reset()
      digest.update(bytes, from, until - from)
      val d = digest.digest()
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      out(g) = v >>> 4 // first 15 hex digits = high 60 bits
      g += 1
    }
    if (!sortedDistinct) return new GenericArrayData(out)
    java.util.Arrays.sort(out)
    var w = 0
    var r = 0
    while (r < nGrams) {
      if (r == 0 || out(r) != out(r - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    new GenericArrayData(if (w == nGrams) out else java.util.Arrays.copyOf(out, w))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shared ROLLING-polynomial window-key computation behind the
  * WindowKeyHash/Dyn/Probe trio. The length-m window at position i is
  * keyed by its base-gram members at offsets 0, b, 2b, …, (K−1)b plus
  * the tail member at m−b (K = ⌈(m−b)/b⌉). The r17 kernels chained
  * xxhash64 over all members PER POSITION — O(n·m/b) per (row, m) —
  * which priced every search round and the final verify at ~1 s of
  * train-side hashing. This form keeps a degree-(K−1) polynomial in an
  * odd 64-bit multiplier ROLLING along each of the b phase sequences
  * (P(i+b) = (P(i) − arr[i]·r^{K−1})·r + arr[i+Kb], exact mod 2⁶⁴), so
  * a (row, m) pass is O(n + m): two xxhash64 finishers per position
  * (tail member, then poly ⊕ m-seed) regardless of m. Keys remain
  * SEARCH-only (never oracle-replayed — the final string verify settles
  * semantics), so the mixer needs determinism and spread, not
  * portability; members are 60-bit md5 prefixes, so mod-2⁶⁴ polynomial
  * cancellation needs an exact linear relation over effectively random
  * longs (~2⁻⁶⁰ per pair, same class as the r17 chain). All three
  * kernels MUST agree on this function — Hash projects all positions,
  * Dyn takes m from a column, Probe emits only driver-set hits. */
private[graftx] object WindowKeyKernel {
  /** Odd multiplier (2⁶⁴/φ, forced odd) — invertible mod 2⁶⁴. */
  final val R = 0x9E3779B97F4A7C15L

  /** Fill `out(outOff + i)` with the key of the length-m window at
    * position i, for all n = sz − (m−b) positions. O(n + m). */
  def fill(arr: ArrayData, sz: Int, m: Int, b: Int,
           out: Array[Long], outOff: Int): Unit = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val t = m - b
    val n = sz - t
    if (n <= 0) return
    val seedM = XXH64.hashLong(m.toLong, 42L)
    val K = if (t == 0) 0 else (t + b - 1) / b
    if (K == 0) { // m == b: the tail member alone
      var i = 0
      while (i < n) {
        out(outOff + i) = XXH64.hashLong(arr.getLong(i + t),
          XXH64.hashLong(0L, seedM))
        i += 1
      }
      return
    }
    var rK1 = 1L // r^(K−1)
    var e = 0
    while (e < K - 1) { rK1 *= R; e += 1 }
    val lastOff = (K - 1) * b
    var p = 0
    val phases = math.min(b, n)
    while (p < phases) {
      var acc = 0L
      var j = 0
      while (j < K) { acc = acc * R + arr.getLong(p + j * b); j += 1 }
      var i = p
      while (i < n) {
        out(outOff + i) = XXH64.hashLong(arr.getLong(i + t),
          XXH64.hashLong(acc, seedM))
        val nx = i + b
        if (nx < n)
          acc = (acc - arr.getLong(i) * rK1) * R + arr.getLong(nx + lastOff)
        i = nx
      }
      p += 1
    }
  }
}

/** Open-addressed immutable long-set, built ONCE (on the driver) and
  * shared via a Spark broadcast: the r17 [[WindowKeyProbe]] carried the
  * raw key array inside the serialized expression, so EVERY task
  * re-deserialized ~12 MB of keys and rebuilt its own 32 MB table —
  * measured as the per-round floor of the x53 search (probe rounds
  * scaled with key volume, not with hashing). One driver-side build +
  * one broadcast value per probe leaves tasks a shared in-memory
  * `contains`. Zero is kept out of the table (open-addressing
  * sentinel) and tracked in a flag. */
final class LongOpenSet private (table: Array[Long], mask: Int,
                                 hasZero: Boolean) extends Serializable {
  def contains(k: Long): Boolean = {
    if (k == 0L) return hasZero
    var i = (java.lang.Long.hashCode(k * -7046029254386353131L)) & mask
    while (table(i) != 0L) {
      if (table(i) == k) return true
      i = (i + 1) & mask
    }
    false
  }
}

object LongOpenSet {
  def apply(keys: Array[Long]): LongOpenSet = {
    var cap = 16
    while (cap < keys.length * 2) cap <<= 1
    val t = new Array[Long](cap)
    var zero = false
    val mk = cap - 1
    var n = 0
    while (n < keys.length) {
      val k = keys(n)
      if (k == 0L) zero = true
      else {
        var i = (java.lang.Long.hashCode(k * -7046029254386353131L)) & mk
        while (t(i) != 0L && t(i) != k) i = (i + 1) & mk
        t(i) = k
      }
      n += 1
    }
    new LongOpenSet(t, mk, zero)
  }
}

/** Per-row-length twin of [[WindowKeyHash]]: the window length m comes
  * from a COLUMN, so one pass projects every document's own probe
  * length (the x53 search's eval side — each doc tests its own bracket
  * midpoint, and a per-length branch union measured ~0.2 s of task
  * scheduling per branch per round). Same key definition
  * ([[WindowKeyKernel]]): rolling polynomial over the base members at
  * offsets 0, b, …, m−b, mixed with m. */
case class WindowKeyHashDyn(left: Expression, right: Expression, b: Int)
    extends BinaryExpression with ExpectsInputTypes with CodegenFallback {
  require(b >= 1, s"window key: b=$b")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "window_key_hash_dyn"

  override def nullSafeEval(arrAny: Any, mAny: Any): Any = {
    val arr = arrAny.asInstanceOf[ArrayData]
    val m = mAny.asInstanceOf[Int]
    if (m < b) throw new IllegalArgumentException(
      s"window_key_hash_dyn: m=$m below base $b")
    val sz = arr.numElements()
    val n = sz - (m - b)
    if (n <= 0) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](n)
    WindowKeyKernel.fill(arr, sz, m, b, out, 0)
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WindowKeyHashDyn =
    copy(left = newLeft, right = newRight)
}

/** Probe-filtered twin of [[WindowKeyHash]]: computes the same
  * composite keys for every window length in `ms` but emits ONLY the
  * (m, pos, k) hits against a driver-supplied candidate key set (a
  * broadcast [[LongOpenSet]] — built once, shared across tasks) — the
  * x53 verify side, where materializing all Σ|ms| keys per row as an
  * array measured 10 s while the matches are a few hundred rows total.
  * pos is 1-based. */
case class WindowKeyProbe(child: Expression, ms: Seq[Int], b: Int,
                          keys: org.apache.spark.broadcast.Broadcast[LongOpenSet])
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  require(b >= 1 && ms.nonEmpty && ms.forall(_ >= b),
    s"window probe: ms=$ms b=$b")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("m", IntegerType, nullable = false),
    StructField("pos", IntegerType, nullable = false),
    StructField("k", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "window_key_probe"

  @transient private lazy val set: LongOpenSet = keys.value
  private def contains(k: Long): Boolean = set.contains(k)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sz = arr.numElements()
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    // one scratch key buffer per row, shared across lengths (n ≤ sz)
    val scratch = new Array[Long](sz)
    var q = 0
    while (q < ms.length) {
      val m = ms(q)
      val n = sz - (m - b)
      if (n > 0) {
        WindowKeyKernel.fill(arr, sz, m, b, scratch, 0)
        var i = 0
        while (i < n) {
          val k = scratch(i)
          if (contains(k)) out += new org.apache.spark.sql.catalyst
            .expressions.GenericInternalRow(Array[Any](m, i + 1, k))
          i += 1
        }
      }
      q += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression)
      : WindowKeyProbe = copy(child = newChild)
}

/** Composite window keys over a POSITIONAL base-gram hash array — the
  * imperative kernel behind ExactSubstr.longestSharedSubstr's search:
  * out[i] = the [[WindowKeyKernel]] rolling-polynomial key of the
  * length-m window at position i, for member offsets
  * o ∈ {0, b, 2b, …, m−b} mixed with m. Semantically these are SEARCH
  * keys only (never oracle-replayed — the final string verify settles
  * semantics). One O(n + m) pass per (row, length): the declarative
  * transform(...) chain evaluates higher-order lambdas interpreted per
  * element and measured ~5x slower across the x53 search rounds; the
  * r17 per-position xxhash64 chain was another ~m/b× on top. Arrays
  * shorter than the window count yield an empty array. */
case class WindowKeyHash(child: Expression, ms: Seq[Int], b: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  require(b >= 1 && ms.nonEmpty && ms.forall(_ >= b),
    s"window key: ms=$ms b=$b")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "window_key_hash"

  // output = flat concat of the per-length key streams, each in
  // position order (m is mixed into every key, so the lengths occupy
  // disjoint key spaces and need no tag column)
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sz = arr.numElements()
    var total = 0
    var q = 0
    while (q < ms.length) {
      val n = sz - (ms(q) - b)
      if (n > 0) total += n
      q += 1
    }
    if (total == 0) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](total)
    var w = 0
    q = 0
    while (q < ms.length) {
      val m = ms(q)
      val n = sz - (m - b)
      if (n > 0) {
        WindowKeyKernel.fill(arr, sz, m, b, out, w)
        w += n
      }
      q += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : WindowKeyHash = copy(child = newChild)
}

/** 60-bit md5 hashes of the CHARACTER n-grams of a text, one imperative
  * pass per row — the exact-substring analog of [[NgramHash]]'s word
  * grams. Semantically identical to the declarative chain
  *   transform(sequence(1, length(t) - n + 1),
  *             i -> conv(substring(md5(substring(t, i, n)), 1, 15), 16, 10))
  * (with sort+dedup when `sortedDistinct`), which DuckDB replays as
  * `('0x' || substr(md5(substr(t, i, n)), 1, 15))::BIGINT` — both
  * engines md5 the UTF-8 bytes of the same character slice, so every
  * oracle stays exact. Each gram is a byte SLICE between two character
  * start offsets of the original UTF-8 text (continuation bytes are
  * 10xxxxxx, so boundaries are found in one scan), hashed with zero
  * string allocation. Texts shorter than n characters yield an empty
  * array.
  *
  * `sortedDistinct = true` is the census form: within-document dedup
  * happens HERE, map-side, before any explode — at exact-substring
  * decontamination scale that is the difference between shuffling
  * 8-byte keys and shuffling L-char strings (ExactSubstr's hashed
  * paths ride this kernel). */
case class CharGramHash(child: Expression, n: Int, sortedDistinct: Boolean)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  require(n >= 1, s"chargram size must be >= 1, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String =
    if (sortedDistinct) "chargram_hashes_sd" else "chargram_hashes"

  @transient private lazy val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val len = bytes.length
    // Character start offsets: every byte that is NOT a UTF-8
    // continuation byte (10xxxxxx) starts a character.
    var nChars = 0
    var i = 0
    while (i < len) { if ((bytes(i) & 0xc0) != 0x80) nChars += 1; i += 1 }
    if (nChars < n) return new GenericArrayData(Array.emptyLongArray)
    val starts = new Array[Int](nChars + 1)
    var k = 0
    i = 0
    while (i < len) {
      if ((bytes(i) & 0xc0) != 0x80) { starts(k) = i; k += 1 }
      i += 1
    }
    starts(nChars) = len
    val digest = md5.get()
    val nGrams = nChars - n + 1
    val out = new Array[Long](nGrams)
    var g = 0
    while (g < nGrams) {
      digest.reset()
      digest.update(bytes, starts(g), starts(g + n) - starts(g))
      val d = digest.digest()
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      out(g) = v >>> 4 // first 15 hex digits = high 60 bits
      g += 1
    }
    if (!sortedDistinct) return new GenericArrayData(out)
    java.util.Arrays.sort(out)
    var w = 0
    var r = 0
    while (r < nGrams) {
      if (r == 0 || out(r) != out(r - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    new GenericArrayData(if (w == nGrams) out else java.util.Arrays.copyOf(out, w))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** (hash, gram) PAIRS of the character n-grams of a text, distinct per
  * document and sorted by (hash, gram), in one imperative pass — the
  * VERIFY-side companion of [[CharGramHash]]: exact-substring
  * verification needs the gram string next to its 60-bit key, and the
  * declarative form (explode + per-gram md5 via conv/substring) pays
  * ~3 interpreted expression-tree walks per gram (the x6 lesson that
  * motivated NgramHash). Hash = the same md5 high-60-bits as
  * [[CharGramHash]], gram = the same byte slice, so
  * `transform`-chain oracles replay unchanged. Returns
  * array<struct<h: bigint, g: string>>; texts shorter than n yield an
  * empty array. */
case class CharGramPairs(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  require(n >= 1, s"chargram size must be >= 1, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("h", LongType, nullable = false),
    StructField("g", StringType, nullable = false))), containsNull = false)
  override def prettyName: String = "chargram_pairs"

  @transient private lazy val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val len = bytes.length
    var nChars = 0
    var i = 0
    while (i < len) { if ((bytes(i) & 0xc0) != 0x80) nChars += 1; i += 1 }
    if (nChars < n) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](nChars + 1)
    var k = 0
    i = 0
    while (i < len) {
      if ((bytes(i) & 0xc0) != 0x80) { starts(k) = i; k += 1 }
      i += 1
    }
    starts(nChars) = len
    val digest = md5.get()
    val nGrams = nChars - n + 1
    val hs = new Array[Long](nGrams)
    var g = 0
    while (g < nGrams) {
      digest.reset()
      digest.update(bytes, starts(g), starts(g + n) - starts(g))
      val d = digest.digest()
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      hs(g) = v >>> 4
      g += 1
    }
    // sort gram indices by (hash, then gram bytes), dedup by both —
    // two different strings colliding on the hash both survive
    def gramLess(a: Int, b: Int): Boolean = {
      if (hs(a) != hs(b)) return hs(a) < hs(b)
      var ia = starts(a); var ib = starts(b)
      val ea = starts(a + n); val eb = starts(b + n)
      while (ia < ea && ib < eb) {
        val c = (bytes(ia) & 0xff) - (bytes(ib) & 0xff)
        if (c != 0) return c < 0
        ia += 1; ib += 1
      }
      (ea - starts(a)) < (eb - starts(b))
    }
    def gramEq(a: Int, b: Int): Boolean = {
      if (hs(a) != hs(b)) return false
      val la = starts(a + n) - starts(a)
      if (la != starts(b + n) - starts(b)) return false
      var o = 0
      while (o < la) {
        if (bytes(starts(a) + o) != bytes(starts(b) + o)) return false
        o += 1
      }
      true
    }
    val idx = Array.tabulate(nGrams)(identity)
    // boxed sort with the custom comparator (nGrams per doc is modest)
    val boxed = idx.map(Integer.valueOf)
    java.util.Arrays.sort(boxed, new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int =
        if (gramLess(a, b)) -1 else if (gramLess(b, a)) 1 else 0
    })
    val out = new scala.collection.mutable.ArrayBuffer[Any](nGrams)
    var r = 0
    while (r < nGrams) {
      val cur = boxed(r).intValue()
      if (r == 0 || !gramEq(boxed(r - 1).intValue(), cur)) {
        val slice = java.util.Arrays.copyOfRange(
          bytes, starts(cur), starts(cur + n))
        out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](hs(cur), UTF8String.fromBytes(slice)))
      }
      r += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** MinHash signature kernel: for each i in 0 until k, the lexicographic
  * minimum of `md5(i + "|" + gram)` hex strings over the word n-grams of
  * the text — identical to the declarative
  * `array_min(transform(grams, g -> md5(concat('i|', g))))` per hash index
  * (so DuckDB oracles replay it verbatim), but one imperative pass: k
  * running 16-byte digest minima compared unsigned-bytewise (equivalent to
  * comparing lowercase hex strings), no string or array allocation per
  * gram. Duplicate grams need no dedup — they cannot change a minimum —
  * which removes the declarative form's `array_distinct` as well.
  * Returns array(k) of 32-char hex strings; elements are null iff the text
  * has fewer than n tokens (min over an empty set). Gram bytes are slices
  * of the UTF-8 text as in [[NgramHash]]. */
case class MinhashSig(child: Expression, n: Int, k: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  require(n >= 1 && k >= 1, s"need n >= 1 and k >= 1, got n=$n k=$k")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "minhash_sig"

  @transient private lazy val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  // "0|", "1|", ... ASCII prefixes, precomputed once per expression tree.
  @transient private lazy val prefixes: Array[Array[Byte]] =
    Array.tabulate(k)(i => s"$i|".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
  private val hexDigits = "0123456789abcdef".toCharArray

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val len = bytes.length
    var nTok = 1
    var i = 0
    while (i < len) { if (bytes(i) == ' '.toByte) nTok += 1; i += 1 }
    if (nTok < n) return new GenericArrayData(new Array[AnyRef](k)) // all null
    val starts = new Array[Int](nTok + 1)
    starts(0) = 0
    var t = 1
    i = 0
    while (i < len) {
      if (bytes(i) == ' '.toByte) { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(nTok) = len + 1
    val digest = md5.get()
    val mins = new Array[Array[Byte]](k)
    val nGrams = nTok - n + 1
    var g = 0
    while (g < nGrams) {
      val from = starts(g)
      val until = starts(g + n) - 1
      var h = 0
      while (h < k) {
        digest.reset()
        digest.update(prefixes(h))
        digest.update(bytes, from, until - from)
        val d = digest.digest()
        val cur = mins(h)
        if (cur == null || unsignedLess(d, cur)) mins(h) = d
        h += 1
      }
      g += 1
    }
    val out = new Array[AnyRef](k)
    var h = 0
    while (h < k) {
      val d = mins(h)
      val hex = new Array[Byte](32)
      var b = 0
      while (b < 16) {
        hex(2 * b) = hexDigits((d(b) >> 4) & 0xf).toByte
        hex(2 * b + 1) = hexDigits(d(b) & 0xf).toByte
        b += 1
      }
      out(h) = UTF8String.fromBytes(hex)
      h += 1
    }
    new GenericArrayData(out)
  }

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    false
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column <-> Expression bridge + SQL registration. Lives in the
  * org.apache.spark.sql subtree because the Spark 4 bridge APIs
  * (ExpressionUtils, AbstractDataType) are private[sql]. Public facade:
  * [[graft.functions.GraftFunctions]]. */
object GraftExpr {
  import org.apache.spark.sql.classic.ExpressionUtils
  private def ex(c: Column): Expression = ExpressionUtils.expression(c)
  private def col(e: Expression): Column = ExpressionUtils.column(e)

  /** Spark's own runtime-filter bloom sketch (`BloomFilterAggregate`,
    * the mergeable TypedImperativeAggregate behind AQE's injected join
    * filters) exposed as a user-callable aggregate over 60-bit gram
    * hashes. `numBits` sizes the sketch: n items at ~10 bits/item gives
    * ~1% false positives. */
  def bloomAgg(child: Column, estItems: Long, numBits: Long): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    col(new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
      ex(child), Literal(estItems), Literal(numBits)).toAggregateExpression())
  }

  /** `BloomFilterMightContain` over a driver-collected sketch literal —
    * never-false-negative membership, codegen'd, usable as a scan-level
    * pre-filter. */
  def bloomContains(bloomBytes: Array[Byte], value: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    col(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      Literal(bloomBytes, BinaryType), ex(value)))
  }

  def dotLong(a: Column, b: Column): Column = col(DotLong(ex(a), ex(b)))
  /** Nearest row per subspace of an [numSub][k][subDim] model ([[L2Codes]]). */
  def l2Codes(qv: Column, model: Seq[Seq[Seq[Long]]]): Column =
    col(L2Codes(ex(qv), L2Model.literal(model)))
  /** Every d2 to an [numSub][k][subDim] model, slot sp·k + c ([[L2Table]]). */
  def l2Table(qv: Column, model: Seq[Seq[Seq[Long]]]): Column =
    col(L2Table(ex(qv), L2Model.literal(model)))
  def ngramHashes(text: Column, n: Int, sortedDistinct: Boolean): Column =
    col(NgramHash(ex(text), n, sortedDistinct))
  def chargramHashes(text: Column, n: Int, sortedDistinct: Boolean): Column =
    col(CharGramHash(ex(text), n, sortedDistinct))
  def windowKeyHashes(h: Column, ms: Seq[Int], b: Int): Column =
    col(WindowKeyHash(ex(h), ms, b))
  /** Driver-side twin of [[WindowKeyHashDyn]] over an in-memory member
    * array — the SAME [[WindowKeyKernel.fill]] as every executor kernel,
    * so driver-computed probe keys are bit-identical to plan-computed
    * ones (r19: the x53 search computes its cap-bounded eval keys on
    * the driver instead of running a projection job per round). */
  def windowKeysLocal(arr: Array[Long], m: Int, b: Int): Array[Long] = {
    val t = m - b
    val n = arr.length - t
    if (n <= 0) return Array.emptyLongArray
    val out = new Array[Long](n)
    WindowKeyKernel.fill(
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(arr), arr.length, m, b, out, 0)
    out
  }
  def windowKeyHashesDyn(h: Column, m: Column, b: Int): Column =
    col(WindowKeyHashDyn(ex(h), ex(m), b))
  def windowKeyProbe(h: Column, ms: Seq[Int], b: Int,
                     keys: org.apache.spark.broadcast.Broadcast[LongOpenSet])
      : Column =
    col(WindowKeyProbe(ex(h), ms, b, keys))
  def chargramPairs(text: Column, n: Int): Column =
    col(CharGramPairs(ex(text), n))
  def minhashSig(text: Column, n: Int, k: Int): Column =
    col(MinhashSig(ex(text), n, k))
  def sortedJaccardLong(a: Column, b: Column): Column = col(SortedJaccardLong(ex(a), ex(b)))
  def sortedIntersectLong(a: Column, b: Column): Column = col(SortedIntersectLong(ex(a), ex(b)))
  def sortedJaccard(a: Column, b: Column): Column = col(SortedJaccard(ex(a), ex(b)))
  def hammingDist(a: Column, b: Column): Column = col(HammingDist(ex(a), ex(b)))

  /** One SQL function: name, `DESCRIBE FUNCTION` usage, builder. */
  final case class SqlFunction(name: String, usage: String, build: Seq[Expression] => Expression)

  /** graft's SQL functions, listed once: [[register]] adds them to one
    * session, `graft.GraftExtensions` to every session of a deployment. */
  val sqlFunctions: Seq[SqlFunction] = {
    def litInt(e: Expression): Int = e.eval(null).asInstanceOf[Number].intValue()
    Seq(
      SqlFunction("dot_long", "dot_long(a, b) - exact dot product of two BIGINT arrays",
        es => DotLong(es.head, es(1))),
      SqlFunction("sorted_jaccard", "sorted_jaccard(a, b) - jaccard of two sorted distinct string arrays",
        es => SortedJaccard(es.head, es(1))),
      SqlFunction("sorted_jaccard_long", "sorted_jaccard_long(a, b) - jaccard of two sorted distinct BIGINT arrays",
        es => SortedJaccardLong(es.head, es(1))),
      SqlFunction("sorted_intersect_long", "sorted_intersect_long(a, b) - intersection count of two sorted distinct BIGINT arrays",
        es => SortedIntersectLong(es.head, es(1))),
      SqlFunction("hamming_dist", "hamming_dist(a, b) - bit-population distance of two BIGINTs",
        es => HammingDist(es.head, es(1))),
      SqlFunction("ngram_hashes", "ngram_hashes(text, n) - 60-bit md5 word-n-gram hashes, document order",
        es => NgramHash(es.head, litInt(es(1)), sortedDistinct = false)),
      SqlFunction("shingle_hashes", "shingle_hashes(text, n) - sorted distinct 60-bit md5 word-n-gram hashes",
        es => NgramHash(es.head, litInt(es(1)), sortedDistinct = true)),
      SqlFunction("chargram_hashes", "chargram_hashes(text, n) - 60-bit md5 character-n-gram hashes, document order",
        es => CharGramHash(es.head, litInt(es(1)), sortedDistinct = false)),
      SqlFunction("chargram_hashes_sd", "chargram_hashes_sd(text, n) - sorted distinct 60-bit md5 character-n-gram hashes",
        es => CharGramHash(es.head, litInt(es(1)), sortedDistinct = true)),
      SqlFunction("minhash_sig", "minhash_sig(text, n, k) - k MinHash minima (md5 hex) over word n-grams",
        es => MinhashSig(es.head, litInt(es(1)), litInt(es(2)))))
  }

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach(f => reg.createOrReplaceTempFunction(f.name, f.build, "scala_udf"))
  }
}
