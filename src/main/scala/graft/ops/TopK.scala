package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-group top-k WITHOUT sorting the group.
  *
  * The window form (`row_number().over(partitionBy(g).orderBy(v))`)
  * shuffles and fully sorts every group; at 100 TB the sort of the
  * heavy groups dominates. The bounded aggregate
  * ([[graft.functions.TopKPairsAgg]]) instead keeps a k-row buffer
  * per key, so:
  *   - map-side partial aggregation reduces each partition to ≤ k rows
  *     per key BEFORE the shuffle (the shuffle carries k·parts rows,
  *     not the group);
  *   - merge is a k-bounded sorted-array merge — no full sort anywhere.
  *
  * Determinism: ordered by (value DESC, tiebreak ASC); the tiebreak
  * must be unique (an id), making the result total-ordered and
  * oracle-comparable.
  */
object TopK {

  /** The native-expression top-k column ([[graft.functions.TopKPairsAgg]]):
    * array<struct<v,id>> of the k largest (value, id) pairs. Every
    * entry point below plans THIS: it reads its inputs off the
    * aggregate input row and keeps the producing stage in whole-stage
    * codegen, where a typed `Aggregator` would plan an
    * `AppendColumns` that deserializes every row out of Tungsten.
    */
  private def topKCol(value: org.apache.spark.sql.Column,
                      id: org.apache.spark.sql.Column, k: Int,
                      dedup: Boolean = false) =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.TopKPairsAgg(
        org.apache.spark.sql.GraftColumnBridge.expression(value.cast("double")),
        org.apache.spark.sql.GraftColumnBridge.expression(id.cast("long")),
        k, dedup).toAggregateExpression())

  /** The bounded-heap aggregate as a bare Column, for callers that
    * compute SEVERAL heaps in one `groupBy.agg` pass (the fused
    * adaptive probe's narrow+wide tiers — one scan, two selections).
    * Null values/ids rank nowhere, exactly like the entry points
    * above, so `when(cond, value)` selects a sub-heap of the same
    * rows without a second scan. Output: array<struct<v,id>> ordered
    * (v DESC, id ASC).
    */
  private[graft] def topKPairsCol(value: org.apache.spark.sql.Column,
                                  id: org.apache.spark.sql.Column,
                                  k: Int): org.apache.spark.sql.Column =
    topKCol(value, id, k)

  /** Top-k `valueCol` rows per `groupCol`, exploded back to flat rows
    * `(group, rnk, value, tiebreak-id)` with rnk in 1..k. Rows with a
    * null value or id rank nowhere and are dropped inside the
    * aggregate — no pre-filter, so no predicate gets pushed back into
    * the (possibly expensive) expression that computed `valueCol`.
    */
  def topKPerGroup(df: DataFrame, groupCol: String, valueCol: String,
                   idCol: String, k: Int): DataFrame =
    df.groupBy(col(groupCol).cast("string").as(groupCol))
      .agg(topKCol(col(valueCol), col(idCol), k).as("topk"))
      .select(col(groupCol), posexplode(col("topk")).as(Seq("pos", "vk")))
      .select(col(groupCol), (col("pos") + 1).cast("long").as("rnk"),
        col("vk.v").as(valueCol), col("vk.id").as(idCol))

  /** Same top-k keyed by a LONG group id (no string cast), for
    * numeric-keyed rankers — the similarity operators rank millions
    * of scored candidate rows per run, and this path reduces each map
    * partition to ≤ k rows per key BEFORE the shuffle where the
    * window form would shuffle and fully sort every candidate.
    * Output flat rows `(group, id, value, rnk)` with rnk in 1..k,
    * ordered (value DESC, id ASC) like [[topKPerGroup]].
    */
  private[graft] def topKByLongKey(df: DataFrame, groupCol: String,
                                   valueCol: String, idCol: String,
                                   k: Int): DataFrame =
    df.groupBy(col(groupCol).cast("long").as(groupCol))
      .agg(topKCol(col(valueCol), col(idCol), k).as("topk"))
      .select(col(groupCol), posexplode(col("topk")).as(Seq("pos", "vk")))
      .select(col(groupCol), col("vk.id").as(idCol),
        col("vk.v").as(valueCol), (col("pos") + 1).cast("long").as("rnk"))

  /** [[topKByLongKey]] over the DISTINCT (value, id) pair stream —
    * dedup INSIDE the bounded heap (`TopKPairsAgg(dedup = true)`)
    * instead of an upstream `.distinct()`, which costs a full
    * Θ(candidates) exchange before the heap's map-side partials can
    * shrink anything (guide §2.4). Row-identical to
    * `distinct()`+[[topKByLongKey]] when duplicate pairs carry
    * identical values — the multi-probe LSH stream's contract (same
    * pair ⇒ same deterministic cosine).
    */
  private[graft] def topKByLongKeyDistinct(df: DataFrame, groupCol: String,
                                           valueCol: String, idCol: String,
                                           k: Int): DataFrame =
    df.groupBy(col(groupCol).cast("long").as(groupCol))
      .agg(topKCol(col(valueCol), col(idCol), k, dedup = true).as("topk"))
      .select(col(groupCol), posexplode(col("topk")).as(Seq("pos", "vk")))
      .select(col(groupCol), col("vk.id").as(idCol),
        col("vk.v").as(valueCol), (col("pos") + 1).cast("long").as("rnk"))
}
