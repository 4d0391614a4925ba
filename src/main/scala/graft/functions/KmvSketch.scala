package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** K-minimum-values distinct-count sketch — the mergeable cardinality
  * summary `ops.Profile` documents as the PB-scale swap for
  * `count(distinct)`: instead of shuffling every distinct value, each
  * task condenses its slice into the k smallest distinct hashes
  * (O(k) state) and only sketches cross the wire.
  *
  * KMV over HLL here is a deliberate exactness-discipline choice (see
  * SCALING.md §6): with a fixed hash the sketch CONTENT is a pure
  * set-function of the input — independent of partitioning, merge
  * order, and arrival order — and the estimator
  *
  *   est = (k−1) · 2^62 div h_k        (h_k = k-th smallest hash)
  *
  * is one integer floor division, so estimates replay bit-for-bit in a
  * second engine (DuckDB mirrors h_k with a rank window and the
  * division in HUGEINT). [[Hll]] gives HLL the same treatment — fixed
  * registers plus a staged integer harmonic mean — trading this
  * sketch's exact-below-k property for O(m) state at any cardinality
  * and a max-monoid merge. Standard error is the same family:
  * ≈ 1/√(k−2) (k = 1024 → ~3%). Below k distinct values the sketch IS
  * the value set and the estimate is exact.
  *
  * Input domain is [0, 2^62): produce hashes with [[KmvHash62]]
  * (polynomial + splitmix finalizer, top bits dropped by `>>> 2`),
  * which keeps every comparison signed-safe in engines without
  * unsigned 64-bit types.
  */
final class KmvState(val set: java.util.TreeSet[java.lang.Long]) {

  def add(h: Long, k: Int): Unit = {
    val boxed = java.lang.Long.valueOf(h)
    if (set.contains(boxed)) return
    if (set.size < k) { set.add(boxed); return }
    val last = set.last()
    if (h < last.longValue) { set.add(boxed); set.remove(last) }
  }
}

abstract class KmvAggBase extends TypedImperativeAggregate[KmvState] {
  def k: Int

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): KmvState =
    new KmvState(new java.util.TreeSet[java.lang.Long]())

  override def merge(a: KmvState, b: KmvState): KmvState = {
    val it = b.set.iterator()
    while (it.hasNext) a.add(it.next().longValue, k)
    a
  }

  /** Ascending array of the ≤ k smallest distinct hashes. */
  override def eval(buf: KmvState): Any = {
    val out = new Array[Long](buf.set.size)
    val it = buf.set.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next().longValue; i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: KmvState): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.set.size)
    val it = buf.set.iterator()
    while (it.hasNext) out.writeLong(it.next().longValue)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): KmvState = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val s = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { s.add(java.lang.Long.valueOf(in.readLong())); i += 1 }
    new KmvState(s)
  }
}

/** `kmv_sketch(hash, k)`: sketch of a LongType hash column. */
case class KmvSketch(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends KmvAggBase with UnaryLike[Expression] {
  require(k >= 2, "kmv_sketch: k must be >= 2")

  override def prettyName: String = "kmv_sketch"

  override def update(buf: KmvState, input: InternalRow): KmvState = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long], k)
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvSketch =
    copy(child = newChild)
}

/** `kmv_union(sketch, k)`: re-aggregate PERSISTED sketches (array<long>
  * rows) — the cross-run artifact merge (the q108 Misra–Gries pattern):
  * each run persists its per-group sketch as a parquet array, a later
  * run unions the arrays back into one sketch. Because KMV state is a
  * set-function, union-of-run-sketches ≡ one sketch over the
  * concatenated runs, exactly (spec-asserted), not just within bounds.
  */
case class KmvUnion(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends KmvAggBase with UnaryLike[Expression] {
  require(k >= 2, "kmv_union: k must be >= 2")

  override def prettyName: String = "kmv_union"

  override def update(buf: KmvState, input: InternalRow): KmvState = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      var i = 0
      val n = arr.numElements()
      while (i < n) { buf.add(arr.getLong(i), k); i += 1 }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvUnion =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvUnion =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvUnion =
    copy(child = newChild)
}

/** `kmv_hash62(str)`: 62-bit token hash — the shingle polynomial over
  * the raw string's chars (no n-gram windowing, no normalization: the
  * caller tokenizes) through the splitmix finalizer, top 2 bits dropped
  * so the value and every downstream comparison stay non-negative in
  * signed-64 engines.
  */
object KmvHash62 {
  /** The `kmv_hash62` entry. CODEPOINT iteration, not UTF-16 units: the
    * DuckDB mirror (`ord(substring(...))`) walks codepoints, and a
    * surrogate-pair divergence would silently break the oracle on
    * non-BMP input (the CDC-kernel lesson).
    */
  def hashJava(s: UTF8String): Long = {
    val str = s.toString
    var h = 1125899906842597L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = h * 31 + cp
      i += Character.charCount(cp)
    }
    HashKernels.splitmix(h) >>> 2
  }
}

/** `kmv_estimate(sketch, k)`: the KMV cardinality estimator. Below k
  * the sketch is exhaustive → exact size; at capacity,
  * floor((k−1) · 2^62 / h_k), computed in 128-bit (BigInt) because the
  * numerator overflows int64 for k > 2 — a per-GROUP scalar on
  * already-aggregated output (cold path). Clamped to Long.Max; h_k = 0
  * cannot occur for k ≥ 2 (hashes are distinct non-negatives, so
  * h_k ≥ k−1 ≥ 1).
  */
object KmvEstimate {
  def estimate(arr: ArrayData, k: Int): Long = {
    val n = arr.numElements()
    if (n < k) n.toLong
    else {
      val hk = arr.getLong(k - 1) max 1L
      val est = (BigInt(k - 1) << 62) / BigInt(hk)
      if (est > Long.MaxValue) Long.MaxValue else est.toLong
    }
  }
}

object Kmv {
  import org.apache.spark.sql.{GraftBridge => EU}

  /** 62-bit splitmix token hash; see [[KmvHash62]]. */
  def hash62(s: Column): Column = Kernels.kmvHash62(s)

  /** KMV sketch of a 62-bit hash column; see [[KmvSketch]]. */
  def sketch(hash: Column, k: Int): Column =
    EU.column(KmvSketch(EU.expression(hash), k).toAggregateExpression())

  /** Merge persisted sketches (array<long> rows); see [[KmvUnion]]. */
  def union(sketches: Column, k: Int): Column =
    EU.column(KmvUnion(EU.expression(sketches), k).toAggregateExpression())

  /** Cardinality estimate of a sketch; see [[KmvEstimate]]. */
  def estimate(sketch: Column, k: Int): Column = {
    require(k >= 2, "kmv_estimate: k must be >= 2")
    Kernels.kmvEstimate(sketch, k)
  }
}
