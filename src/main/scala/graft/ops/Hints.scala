package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftColumnShim

/** Join-strategy helpers that keep small-side hints from becoming
  * scale bugs. A bare `broadcast(df)` hint is unconditional: correct
  * while `df` is small, an executor OOM once `df` grows with the
  * corpus (the round-1/2 ANN queries broadcast the query set — 5% of
  * all vectors — which is exactly such a time bomb at 100×).
  *
  * Every library broadcast goes through [[maybeBroadcast]], unhinted
  * joins through `spark.sql.autoBroadcastJoinThreshold`, and
  * [[graft.plans.DemoteOversizedBroadcasts]] strips hints on sides
  * known to be oversized. All three read Catalyst's size estimate,
  * which without column statistics is the PRODUCT of a join's input
  * sizes, and which a `localCheckpoint` keeps from its origin plan (a
  * pinned 15k-row join+aggregate claims 20 GiB). So [[Dedup.materialize]]
  * re-roots each checkpoint with the bytes its blocks hold, and a side
  * derived through a join after that is gated on a row bound its
  * caller measured: `maybeBroadcast(df, rowBound)`.
  */
object Hints {

  /** Default size bound for a gated broadcast hint (bytes). Matches
    * the order of magnitude of `spark.sql.autoBroadcastJoinThreshold`
    * ceilings used in production (tens of MB per executor copy).
    */
  val DefaultBroadcastBytes: Long = 64L << 20

  /** Catalyst's size estimate for the frame — no job is run. Without
    * CBO column stats the estimate degrades conservatively to the
    * child scan's size, i.e. a filter over a big table counts as big,
    * which errs toward NOT broadcasting at scale.
    */
  def estimatedBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** `broadcast(df)` only when Catalyst's size estimate fits
    * [[DefaultBroadcastBytes]]; otherwise the frame is returned
    * unhinted and the planner falls back to a shuffle join (equi-join)
    * or cartesian (theta-join — see [[chunkedBroadcastThetaJoin]] for that case).
    */
  def maybeBroadcast(df: DataFrame): DataFrame =
    if (estimatedBytes(df) <= DefaultBroadcastBytes) broadcast(df) else df

  /** [[maybeBroadcast]] gated on `rowBound` (a measured row count `df`
    * cannot exceed) times `rowBytes`. The hinted side is rooted in a
    * leaf that reports those bytes, so the demotion rule checks a real
    * size instead of skipping an unknown one.
    */
  def maybeBroadcast(df: DataFrame, rowBound: Long, rowBytes: Long): DataFrame = {
    val bytes = BigInt(rowBound) * rowBytes
    if (bytes <= DefaultBroadcastBytes)
      broadcast(GraftColumnShim.sizedLeaf(df, Some(bytes)))
    else df
  }

  /** The row-bound gate at Spark's own row width for `df`. */
  def maybeBroadcast(df: DataFrame, rowBound: Long): DataFrame =
    maybeBroadcast(df, rowBound, rowBytes(df))

  /** Spark's estimate of one row of `df`: 8 bytes of row overhead plus
    * each column's default size, which counts ONE element of an array
    * or map column.
    */
  def rowBytes(df: DataFrame): Long = 8L + df.schema.defaultSize

  /** Theta-join (e.g. the brute-force ANN cross product) with the
    * SMALL side broadcast in bounded chunks. When `small` fits
    * `maxBytes` this is exactly `large.join(broadcast(small), cond)` —
    * one BroadcastNestedLoopJoin. When it doesn't, `small` is split
    * into ceil(estimate / maxBytes) deterministic hash chunks of
    * `chunkKey`, each chunk broadcast-joined to `large`, results
    * unioned: the cross product is unchanged (chunks partition the
    * rows), but every in-flight broadcast stays under the bound
    * instead of growing with the corpus. The scan of `large` is
    * repeated per chunk — the price of exactness; the sublinear
    * alternative is the LSH/IVF path.
    */
  def chunkedBroadcastThetaJoin(large: DataFrame, small: DataFrame,
                                chunkKey: Column, cond: Column,
                                maxBytes: Long = DefaultBroadcastBytes): DataFrame = {
    val est = estimatedBytes(small)
    if (est <= maxBytes) large.join(broadcast(small), cond)
    else {
      val nChunks = ((est + maxBytes - 1) / maxBytes).min(BigInt(4096)).toInt
      (0 until nChunks)
        .map(i => large.join(
          broadcast(small.filter(pmod(hash(chunkKey), lit(nChunks)) === i)), cond))
        .reduce(_.union(_))
    }
  }
}
