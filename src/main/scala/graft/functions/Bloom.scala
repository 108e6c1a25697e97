package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Broadcast Bloom-filter membership test for prefilter joins.
  *
  * The decontamination / semi-join pattern broadcasts the held-out key
  * SET (`ext_decontaminate`). That stops working when the benchmark
  * side outgrows the broadcast threshold — but its BLOOM FILTER still
  * broadcasts long after the exact set cannot: ~1.2 bytes/key at 1%
  * FP (vs ≥ 50 bytes/key for a hashed string set). The bloom prunes
  * ~99% of corpus-side rows BEFORE they reach the exact verify join,
  * shrinking its shuffle to the candidate survivors; false positives
  * are removed by that exact join, so results are bit-identical to the
  * unfiltered plan.
  *
  * Geometry: [[build]] goes through `stat.bloomFilter`
  * (`bloom_filter_agg`), which clamps the filter to
  * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` (4M) and
  * `maxNumBits` (64 Mbit) — an 8 MB bitset with 11 hash functions at
  * most, whatever `expectedItems` asks for. Up to 4M items the 1% FP
  * target holds; past it the FP rate grows (~11 % at 10M items). Only
  * the prune gets weaker: the exact join still removes every false
  * positive.
  *
  * Spark uses the same shape internally for runtime row-group
  * filtering (InjectRuntimeFilter); this exposes it as a first-class
  * operator on `org.apache.spark.util.sketch.BloomFilter` (public
  * API, order-independent OR-merge ⇒ deterministic bitset).
  */
object Bloom {

  /** Distributed build over a LongType column (`stat.bloomFilter`;
    * geometry clamped as the object doc says).
    */
  def build(df: org.apache.spark.sql.DataFrame, col: String,
            expectedItems: Long, fpp: Double = 0.01): BloomFilter =
    df.stat.bloomFilter(col, math.max(expectedItems, 1L), fpp)

  /** `mightContain(filter, hash)` as a codegen'd Column predicate. */
  def mightContain(filter: Broadcast[BloomFilter], hash: Column): Column =
    GraftColumnBridge.column(
      BloomMightContainExpr(filter, GraftColumnBridge.expression(hash)))
}

/** Membership probe against a broadcast [[BloomFilter]]. The
  * serialized expression carries only the broadcast handle, so task
  * binaries stay small however large the filter is; each task fetches
  * the filter once through the block manager (in local mode: the
  * driver's own object, no copy) via the transient lazy, and the
  * generated code calls straight into `mightContainLong` — the probe
  * stays inside whole-stage codegen.
  */
final case class BloomMightContainExpr(filter: Broadcast[BloomFilter], child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bloom probe needs a LongType hash, got ${child.dataType}")

  @transient private lazy val bloom: BloomFilter = filter.value

  /** Exposed for codegen: the generated code probes via this method so
    * the lazy fetch is shared with interpreted eval.
    */
  def probe(hash: Long): Boolean = bloom.mightContainLong(hash)

  override protected def nullSafeEval(input: Any): Any =
    probe(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomExpr", this, classOf[BloomMightContainExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.probe($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
