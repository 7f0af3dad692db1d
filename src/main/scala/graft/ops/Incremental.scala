package graft.ops

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental-replication operators — the reference's sync window
  * machinery (reference: outreach_etl.py:111-229) as declarative Spark.
  *
  * The reference's replication contract is a tumbling 1-day window on
  * `updatedAt` with offset managed by cron (SURVEY.md §2.10). Here the
  * window is a pushed-down predicate: Catalyst sends the range filter
  * to the parquet/DSv2 scan (`PushedFilters` in explain), which at
  * 100 TB on a date-partitioned layout becomes partition pruning —
  * only the day's files are read at all.
  */
object Incremental {

  /** Range filter on an event-time column in whatever PHYSICAL form
    * the scan produced (see [[graft.Tables.raw]]): the bounds are
    * converted to literals of the column's own type so the comparison
    * lands on the physical parquet column — `PushedFilters:
    * [GreaterThanOrEqual(ts,...), LessThanOrEqual(ts,...)]` —
    * enabling row-group and page pruning. Filtering after a type
    * conversion instead would hide the predicate behind a projection
    * and force a full scan at 100 TB. Bounds are closed ([lo, hi]),
    * matching the reference's `filter[updatedAt]=lo..hi`
    * (outreach_etl.py:117). Dispatch: legacy nano-long → nano-epoch
    * literals; TIMESTAMP_NTZ (current testdata vintage; naive UTC) →
    * LocalDateTime literals; TIMESTAMP → Instant literals.
    */
  def windowFilterRaw(df: DataFrame, tsCol: String,
                      loInclusive: java.time.Instant,
                      hiInclusive: java.time.Instant): DataFrame = {
    def nanos(i: java.time.Instant): Long =
      math.multiplyExact(i.getEpochSecond, 1000000000L) + i.getNano
    def ntz(i: java.time.Instant): java.time.LocalDateTime =
      java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)
    val (lo, hi) = df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.LongType =>
        (lit(nanos(loInclusive)), lit(nanos(hiInclusive)))
      case org.apache.spark.sql.types.TimestampNTZType =>
        (lit(ntz(loInclusive)), lit(ntz(hiInclusive)))
      case _ =>
        (lit(loInclusive), lit(hiInclusive))
    }
    df.filter(col(tsCol).between(lo, hi))
  }

  /** Replication window resolution (reference: outreach_etl.py:223-229):
    * "full"        → [startDate, today - 1 day]
    * "previous_day"→ [today - 1 day, today - 1 day]
    * `today` is injected for testability (the reference reads the
    * wall clock inline, which is untestable).
    */
  def replicationWindow(replicationType: String, startDate: LocalDate,
                        today: LocalDate): (LocalDate, LocalDate) = {
    val yesterday = today.minusDays(1)
    replicationType match {
      case "full"         => (startDate, yesterday)
      case "previous_day" => (yesterday, yesterday)
      case other => throw new IllegalArgumentException(
        s"unknown replication_type '$other' (expected full | previous_day)")
    }
  }

  /** Expand a date window into one row per day — the reference's
    * per-day chunking when a window exceeds the API's 10 000-row
    * pagination cap (reference: outreach_etl.py:157-166). In Spark the
    * day list is `sequence(lo, hi, 1 day)` + `explode`, and each day
    * naturally becomes its own scan partition.
    */
  def dayExpansion(lo: Column, hi: Column): Column =
    explode(sequence(lo, hi, expr("interval 1 day")))

  /** Partial-aggregate state: group `df` by `keys` and compute the
    * algebraic state columns (counts, sums, mins, maxes — anything
    * re-aggregable). Pair with [[mergeAggStates]] for incremental
    * materialized-aggregate maintenance: keep yesterday's state
    * table, aggregate only today's delta partition, merge — the
    * nightly full recompute over 100 TB becomes a merge over
    * |groups| + |delta| rows.
    */
  def aggState(df: DataFrame, keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)

  /** Merge algebraic aggregate states into the state a full recompute
    * would produce: union the state tables and re-aggregate with the
    * state-merge functions (`sum` of counts/sums, `min` of mins,
    * `max` of maxes, …). This is exactly Spark's own partial→final
    * aggregation contract lifted to the table level, so the merge is
    * one hash aggregate over |groups|·|states| rows — independent of
    * the size of the already-aggregated history. Derived metrics
    * that are NOT algebraic (avg, stddev) must be finalized from the
    * merged state (sum/cnt), never merged directly.
    *
    * Exactness: integer states (counts, cent-sums) merge exactly;
    * double sums can drift in the last ulp vs a recompute because
    * addition order differs — store money as integer cents if the
    * maintained table must be bit-identical to a recompute.
    */
  def mergeAggStates(states: Seq[DataFrame], keys: Seq[String],
                     merges: Seq[Column]): DataFrame = {
    require(states.nonEmpty, "mergeAggStates: no states to merge")
    states.reduce(_.unionByName(_))
      .groupBy(keys.map(col): _*)
      .agg(merges.head, merges.tail: _*)
  }

  /** Delta maintenance of a two-table inner equi-join view — the join
    * counterpart of [[aggState]]/[[mergeAggStates]]:
    *
    *   Δ(A ⋈ B) = ΔA ⋈ (B_old ∪ ΔB)  ∪  A_old ⋈ ΔB
    *
    * so the maintained view is `V_old ∪ joinDelta(...)` and a nightly
    * refresh never re-joins A_old with B_old (the bulk of both
    * tables). At 100 TB the deltas are day-partitions: both join legs
    * have a delta side small enough to broadcast (or to shuffle only
    * the delta plus the matching key partitions), so maintenance cost
    * scales with |Δ|, not |A|·|B|. Exactness: the three disjoint
    * products partition the new cross-set — no row is produced twice
    * because A_old/ΔA (and B_old/ΔB) are disjoint by construction of
    * the delta predicate.
    */
  def joinDelta(aOld: DataFrame, aDelta: DataFrame,
                bOld: DataFrame, bDelta: DataFrame,
                keys: Seq[String]): DataFrame =
    aDelta.join(bOld.unionByName(bDelta), keys)
      .unionByName(aOld.join(bDelta, keys))

  /** Latest-row dedup: keep the newest record per key — the upsert the
    * reference defers to BigQuery (SURVEY.md §2.8). `tieBreak` makes
    * the pick total-order deterministic when timestamps collide.
    *
    * One shuffle on the key; at scale this is the canonical
    * window-dedup and AQE handles key skew. A small one-partition
    * input (the HTTP cursor-chain scan of a daily sync) runs without
    * that shuffle: [[graft.plans.CoalesceSinglePartitionScan]] plans
    * it as a single partition, which already holds every key together.
    * For streaming the same semantics come from `dropDuplicates` +
    * watermark (graft.streaming.IncrementalStream).
    */
  def dedupLatest(df: DataFrame, keys: Seq[String], tsCol: String,
                  tieBreak: Seq[String] = Seq.empty): DataFrame = {
    val ordering = (col(tsCol).desc +: tieBreak.map(col(_).desc))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
