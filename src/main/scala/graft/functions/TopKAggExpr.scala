package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Native bounded top-k aggregate: per group, the k largest
  * `(value, id)` pairs ordered (value DESC, id ASC), evaluated as a
  * [[TypedImperativeAggregate]] so the buffer is two primitive
  * k-arrays mutated in place — no per-row object allocation, no
  * typed-Dataset serialization boundary (an `Aggregator` form plans
  * an `AppendColumns` that deserializes every input row out of
  * Tungsten; this expression reads its inputs
  * straight off the aggregate's input row and keeps the producing
  * stage inside whole-stage codegen). Same execution shape as Spark's
  * own collect_top_k / hll_sketch_agg.
  *
  * Null value or id contributes nothing (it cannot rank). NaN values
  * are likewise skipped: NaN has no place in a total order — callers
  * ranking a possibly-NaN metric must normalize first (the similarity
  * operators exclude zero-norm vectors for exactly this reason).
  *
  * Output: `array<struct<v: double, id: bigint>>`, sorted, ≤ k rows.
  */
case class TopKPairsAgg(
    left: Expression,
    right: Expression,
    k: Int,
    dedup: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKPairsAgg.Buf] with BinaryLike[Expression] {

  require(k > 0, s"k must be positive, got $k")
  import TopKPairsAgg.Buf

  override def prettyName: String =
    if (dedup) "graft_top_k_pairs_distinct" else "graft_top_k_pairs"

  override def createAggregationBuffer(): Buf = new Buf(k, dedup)

  override def update(buf: Buf, input: InternalRow): Buf = {
    val v = left.eval(input)
    if (v != null) {
      val id = right.eval(input)
      if (id != null) buf.insert(v.asInstanceOf[Double], id.asInstanceOf[Long])
    }
    buf
  }

  override def merge(b1: Buf, b2: Buf): Buf = { b1.mergeIn(b2); b1 }

  override def eval(buf: Buf): Any = {
    val order = buf.sortedIndices()
    val rows = new Array[Any](buf.n)
    var i = 0
    while (i < rows.length) {
      val j = order(i)
      rows(i) = InternalRow(buf.vs(j), buf.ids(j))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: Buf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 16 * buf.n)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putDouble(buf.vs(i)); bb.putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new Buf(k, dedup)
    buf.reserve(n)
    buf.n = n
    var i = 0
    while (i < n) { buf.vs(i) = bb.getDouble(); buf.ids(i) = bb.getLong(); i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("v", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (DoubleType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (double, bigint) inputs, got ($l, $r)")
    }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKPairsAgg =
    copy(left = newLeft, right = newRight)
}

object TopKPairsAgg {

  /** Mutable bounded buffer: parallel arrays holding the current
    * top-≤k set as a BINARY HEAP whose root is the WORST kept pair
    * under (v DESC, id ASC) — offers against a full buffer compare
    * with the root (O(1) reject for the non-qualifying bulk) and a
    * qualifying offer replaces the root with an O(log k) sift-down of
    * two primitive-array swaps per level, ZERO arraycopy. The
    * previous layout kept the arrays fully sorted with a
    * binary-search + System.arraycopy insert: O(k) WRITES per
    * admitted offer, which at the rerank tier's k (hundreds to
    * thousands) made selection — not the scan — the dominant stage
    * (measured 18 s of a binary-scan probe's 19 s sf1 wall at k=800;
    * the k=10 twin ran the identical 8M-offer stream 30× faster).
    * Sorted order is reconstructed ONCE per group at [[sortedIndices]]
    * (eval time) — k·log k on k elements, amortized invisible next to
    * the offer stream. The kept SET is arrival-order-independent (the
    * strict total order (v DESC, id ASC) with unique ids admits
    * exactly the global top-k), so determinism is unchanged.
    *
    * Arrays start at min(k, 16) and DOUBLE toward k as entries land:
    * an eager k-sized allocation per group costs 16·k bytes the moment
    * a group exists, and a hash-aggregation map holds every group's
    * buffer live — at k in the thousands (the similarity rerank tier)
    * that multiplied into heap exhaustion before any group was even
    * full. Growth stays amortized O(1) per insert. Peak state is
    * still groups-per-task × 16·k once groups FILL — callers with
    * large k bound their group count per task (the rerank paths chunk
    * their query sets — see Similarity.chunkQueries).
    */
  /** `dedup = true` additionally skips offers whose EXACT (v, id)
    * pair is already kept — "top-k of the distinct pair stream"
    * without the upstream `distinct()` exchange (a multi-probe LSH
    * candidate scores the SAME pair once per shared bucket, always
    * with bit-identical cosine, so dedup-in-heap ≡ distinct-then-heap:
    * duplicate copies of a kept pair are skipped here, duplicates of
    * a non-kept pair were never kept either way, and a same-id pair
    * with a DIFFERENT value — impossible in that stream — would be
    * kept by both formulations too). Cost: one O(n ≤ k) scan per
    * ADMITTED offer only; the non-qualifying bulk still rejects O(1)
    * at the root. Use only at small k (the final-rank tier): the
    * rerank-tier heaps run dup-free streams and skip the flag.
    */
  final class Buf(val k: Int, val dedup: Boolean = false) {
    var n: Int = 0
    var vs: Array[Double] = new Array[Double](math.min(k, 16))
    var ids: Array[Long] = new Array[Long](math.min(k, 16))

    def reserve(cap: Int): Unit = if (cap > vs.length) {
      val next = math.min(k, math.max(cap, vs.length * 2))
      vs = java.util.Arrays.copyOf(vs, next)
      ids = java.util.Arrays.copyOf(ids, next)
    }

    @inline private def outranks(v1: Double, id1: Long, v2: Double, id2: Long): Boolean =
      v1 > v2 || (v1 == v2 && id1 < id2)

    /** heap order: entry i must NOT outrank its children (worst at
      * the root). */
    @inline private def swap(i: Int, j: Int): Unit = {
      val tv = vs(i); vs(i) = vs(j); vs(j) = tv
      val ti = ids(i); ids(i) = ids(j); ids(j) = ti
    }

    private def siftUp(start: Int): Unit = {
      var i = start
      while (i > 0) {
        val p = (i - 1) >>> 1
        if (outranks(vs(p), ids(p), vs(i), ids(i))) { swap(p, i); i = p }
        else i = 0 // parent already worse-or-equal: heap restored
      }
    }

    private def siftDown(start: Int): Unit = {
      var i = start
      var done = false
      while (!done) {
        val l = 2 * i + 1
        val r = l + 1
        var worst = i
        if (l < n && outranks(vs(worst), ids(worst), vs(l), ids(l))) worst = l
        if (r < n && outranks(vs(worst), ids(worst), vs(r), ids(r))) worst = r
        if (worst == i) done = true
        else { swap(i, worst); i = worst }
      }
    }

    def insert(v: Double, id: Long): Unit = {
      if (v != v) return // NaN: unrankable, skip (see scaladoc)
      if (n == k && !outranks(v, id, vs(0), ids(0)))
        return // not better than the worst kept
      if (dedup) {
        // qualifying offers only reach here — scan the ≤ k kept pairs
        var i = 0
        while (i < n) {
          if (vs(i) == v && ids(i) == id) return // exact twin kept already
          i += 1
        }
      }
      if (n == k) {
        vs(0) = v; ids(0) = id
        siftDown(0)
      } else {
        reserve(n + 1)
        vs(n) = v; ids(n) = id
        n += 1
        siftUp(n - 1)
      }
    }

    def mergeIn(o: Buf): Unit = {
      var i = 0
      while (i < o.n) { insert(o.vs(i), o.ids(i)); i += 1 }
    }

    /** Indices of the kept entries in output order (v DESC, id ASC) —
      * the sorted view the heap no longer maintains incrementally. */
    def sortedIndices(): Array[Int] = {
      val idx = Array.range(0, n)
      // boxed sort on an n ≤ k index array, once per group at eval
      idx.sortWith((a, b) => outranks(vs(a), ids(a), vs(b), ids(b)))
    }
  }
}
