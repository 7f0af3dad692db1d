package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.KeyGroupedPartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.read.SupportsReportStatistics
import org.apache.spark.sql.execution.{CoalesceExec, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.internal.SQLConf

/** Physical rule: plan a small one-partition DSv2 scan as a single
  * partition, so a keyed operator above it (the `dedupLatest` Window,
  * an aggregate) needs no shuffle.
  *
  * A `BatchScanExec` reports `UnknownPartitioning` even when it plans
  * exactly one input partition — the JSON:API source's opaque-cursor
  * walk always does. Every keyed consumer above it then gets a hash
  * `Exchange`, and under AQE that exchange costs a shuffle-map job, a
  * re-plan and a second job. When the shuffle is small enough that
  * AQE's partition coalescing folds it back into one partition, that
  * second job runs one task over everything the scan read — the same
  * layout this rule plans up front. The rule puts such a scan under
  * `CoalesceExec(1)`, which reports `SinglePartition`; that satisfies
  * any `ClusteredDistribution`, so a daily sync (walk → rename →
  * latest-row dedup → `ds` → one-day overwrite) runs as one job and one
  * task.
  *
  * The coalesce goes above the scan's planner unit — the scan plus the
  * `Filter`/`Project` the DSv2 strategy puts on it — not between them.
  * For a row-based scan that `Project` is what turns the reader's rows
  * into `UnsafeRow`s, and `RemoveRedundantProjects` keeps it only while
  * its child is the bare (or filtered) scan; with a coalesce in between,
  * an identity `Project` can be dropped and a `Sort` above fails on the
  * reader's `GenericInternalRow`s.
  *
  * A scan is wrapped only when all of these hold:
  *  - it plans exactly one input partition;
  *  - its output partitioning is not key-grouped (storage-partitioned
  *    joins keep their layout);
  *  - it reports `SupportsReportStatistics.sizeInBytes`, and that size
  *    is at most [[onePartitionBytes]]: AQE's own target size for a
  *    coalesced partition under the session's conf, so a shuffle of
  *    that size is read as one partition anyway. With Spark's defaults
  *    (`coalescePartitions.parallelismFirst` on, more than one core)
  *    that is `coalescePartitions.minPartitionSize`, 1 MB, not
  *    `advisoryPartitionSizeInBytes`: AQE splits larger shuffles for
  *    parallelism, so a larger or unsized scan keeps its shuffle and
  *    the parallel tasks after it. (AQE never closes a partition below
  *    `minPartitionSize`, so it still reads up to twice that as one
  *    partition; the rule does not count on it.)
  *
  * The bound is compared with what the source reports, before any row
  * is read, while AQE measures the shuffle it wrote. A source whose
  * estimate runs low can therefore have a scan wrapped that AQE would
  * have split. The JSON:API source sizes a record by its JSON text,
  * which spells out every key and so is usually larger than the
  * shuffled row, and reports no size for a `meta.count` it can tell is
  * stale; a stale count it cannot tell still understates.
  *
  * The check costs no I/O beyond planning: `BatchScanExec` has already
  * planned its input partitions, and the JSON:API scan memoizes the
  * page-1 fetch its statistics come from. V1 file scans (parquet) are
  * not `BatchScanExec` and are never touched.
  *
  * Registered by [[graft.GraftExtensions]] with
  * `injectQueryPostPlannerStrategyRule`, so it acts only under AQE
  * (which [[graft.GraftSession.local]] turns on): the hook runs inside
  * `AdaptiveSparkPlanExec`, after the planner and before
  * `EnsureRequirements`. Binary consumers are therefore still
  * co-partitioned — a coalesced scan joined to a multi-partition side
  * is re-shuffled to the other side's partitioning, and a broadcast
  * join keeps the streamed side's tasks.
  */
case class CoalesceSinglePartitionScan(spark: SparkSession) extends Rule[SparkPlan] {

  /** The size, in bytes, up to which AQE's `CoalesceShufflePartitions`
    * reads a shuffle as one partition under the session's conf; None
    * when it does not coalesce at all.
    *
    * Spark coalesces toward the target `max(min(total / minPartitions,
    * advisory), minPartitionSize)`, where `minPartitions` is
    * `coalescePartitions.minPartitionNum`, else the default parallelism
    * when `parallelismFirst` is on, else 1 (and, in Spark's test mode,
    * `minPartitionSize` is capped at a fifth of `advisory`). A total no
    * larger than its target is one partition. For `minPartitions` of 1
    * that holds up to `max(advisory, minPartitionSize)`; for more, only
    * up to `minPartitionSize`.
    */
  def onePartitionBytes: Option[Long] =
    if (!conf.coalesceShufflePartitionsEnabled) None
    else {
      val advisory = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
      val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
      // org.apache.spark.util.SparkEnvUtils.isTesting
      val testing = sys.env.contains("SPARK_TESTING") || sys.props.contains("spark.testing")
      val floor = if (testing) minSize.min(advisory / 5) else minSize
      val minPartitions = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM)
        .getOrElse {
          if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
            spark.sparkContext.defaultParallelism
          else 1
        }
      Some(if (minPartitions <= 1) advisory.max(floor) else floor)
    }

  private def fitsOnePartition(scan: BatchScanExec): Boolean =
    scan.inputPartitions.length == 1 &&
      !scan.outputPartitioning.isInstanceOf[KeyGroupedPartitioning] &&
      (scan.scan match {
        case s: SupportsReportStatistics =>
          val size = s.estimateStatistics().sizeInBytes()
          size.isPresent && onePartitionBytes.exists(size.getAsLong <= _)
        case _ => false
      })

  /** A scan's planner unit: a `BatchScanExec` under any chain of
    * `Project`/`Filter`. Matches the top of the chain.
    */
  private object ScanUnit {
    def unapply(plan: SparkPlan): Option[BatchScanExec] = plan match {
      case scan: BatchScanExec => Some(scan)
      case ProjectExec(_, child) => unapply(child)
      case FilterExec(_, child) => unapply(child)
      case _ => None
    }
  }

  // top-down by hand, so the whole unit is wrapped and an already
  // wrapped unit is left as is (transformUp would reach the scan before
  // its Project, and a second pass would wrap again)
  override def apply(plan: SparkPlan): SparkPlan = plan match {
    case c @ CoalesceExec(1, ScanUnit(_)) => c
    case ScanUnit(scan) if fitsOnePartition(scan) => CoalesceExec(1, plan)
    case other => other.mapChildren(apply)
  }
}
