package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bit-parallel thresholded Levenshtein (Myers 1999 / Hyyrö 2001).
  *
  * Semantics are IDENTICAL to the built-in `levenshtein(l, r, k)`:
  * the exact edit distance when it is ≤ k, else -1 — so swapping it
  * into a candidate-verification join preserves oracle parity
  * bit-for-bit. The difference is the per-pair cost: the built-in
  * runs the banded O(k·n) dynamic program over a char matrix; this
  * computes the same distance in O(n) word operations (one 64-bit
  * bitvector step per text char) with no per-call allocation — the
  * Peq table lives in a stamped thread-local, so the hot loop is
  * ~6 bitwise ops per character. Measured ~8× on the blocked fuzzy
  * self-join's verification pass (ARCHITECTURE.md, the
  * `functions.EditDistanceKernel` bullet).
  *
  * Fast path requires both sides ASCII with the shorter ≤ 64 chars
  * (one machine word); anything else falls back to the built-in
  * `UTF8String.levenshteinDistance(other, k)`, keeping semantics
  * universal. Early abandon: once `score` can no longer descend to k
  * within the remaining columns, bail with -1.
  */
object EditDistanceKernel {

  /** Per-thread Peq scratch: `stamp` versioning avoids clearing the
    * 256-entry table between calls (1.8M calls/core on the bench
    * fuzzy join would otherwise memset 2 KiB each). */
  private final class State {
    val peq = new Array[Long](256)
    val stamp = new Array[Int](256)
    var cur = 0
  }
  private val states = ThreadLocal.withInitial[State](() => new State)

  /** Exact levenshtein distance if ≤ k, else -1 (built-in threshold
    * semantics). Static-forwarder friendly: codegen calls
    * `graft.functions.EditDistanceKernel.levWithin(a, b, k)`. */
  def levWithin(a: UTF8String, b: UTF8String, k: Int): Int = {
    if (k < 0) return -1
    // fast path requires both sides ASCII (bytes == chars): only then
    // is the byte-length difference a valid edit-distance lower bound
    // and a byte a char
    if (a.numBytes() != a.numChars() || b.numBytes() != b.numChars())
      return a.levenshteinDistance(b, k)
    // pattern = shorter side; bail early on the length lower bound
    val (p, t) = if (a.numBytes() <= b.numBytes()) (a, b) else (b, a)
    val m = p.numBytes()
    val n = t.numBytes()
    if (n - m > k) return -1
    if (m == 0) return if (n <= k) n else -1
    if (m > 64) return a.levenshteinDistance(b, k)

    val st = states.get()
    if (st.cur == Int.MaxValue) { // stamp wrap: ~2^31 calls/thread is
      java.util.Arrays.fill(st.stamp, 0) // reachable at 100 TB pair counts
      st.cur = 0
    }
    st.cur += 1
    val cur = st.cur
    val peq = st.peq
    val stamp = st.stamp
    var i = 0
    while (i < m) {
      val c = p.getByte(i) & 0xff
      if (stamp(c) != cur) { peq(c) = 0L; stamp(c) = cur }
      peq(c) |= 1L << i
      i += 1
    }

    var pv = if (m == 64) -1L else (1L << m) - 1
    var mv = 0L
    var score = m
    val highBit = 1L << (m - 1)
    var j = 0
    while (j < n) {
      val c = t.getByte(j) & 0xff
      val eq = if (stamp(c) == cur) peq(c) else 0L
      val xv = eq | mv
      val xh = (((eq & pv) + pv) ^ pv) | eq
      var ph = mv | ~(xh | pv)
      var mh = pv & xh
      if ((ph & highBit) != 0L) score += 1
      else if ((mh & highBit) != 0L) score -= 1
      ph = (ph << 1) | 1L
      mh = mh << 1
      pv = mh | ~(xv | ph)
      mv = ph & xv
      j += 1
      // score can drop by at most 1 per remaining column
      if (score - (n - j) > k) return -1
    }
    if (score <= k) score else -1
  }
}

/** `graft_lev_within(l, r, k)` — drop-in for `levenshtein(l, r, k)`
  * (k a literal), planning [[EditDistanceKernel.levWithin]] as one
  * static call inside whole-stage codegen.
  */
case class LevWithinExpr(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {

  override def prettyName: String = "graft_lev_within"
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (string, string), got ($l, $r)")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    EditDistanceKernel.levWithin(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.EditDistanceKernel.levWithin($a, $b, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object EditDistance {
  import org.apache.spark.sql.Column

  /** Column wrapper: exact levenshtein if ≤ k else -1 (codegen path). */
  def levWithin(l: Column, r: Column, k: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      LevWithinExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(l),
        org.apache.spark.sql.GraftColumnBridge.expression(r), k))
}
