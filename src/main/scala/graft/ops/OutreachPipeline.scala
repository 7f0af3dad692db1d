package graft.ops

import java.time.{Instant, LocalDate, ZoneOffset}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's full `sync` lifecycle (outreach_etl.py:111-218,
  * SURVEY.md §3.2-3.3) composed from this library's operators as one
  * declarative Spark job:
  *
  *   pages (DSv2 source, parallel)            [S1-S4]
  *     → replication-window filter (pushed)   [S2, §2.10]
  *     → declared-schema typing + flatten     [P1/P2/P4/P5, in-source]
  *     → attributes_ prefix strip             [P6]
  *     → optional latest-row dedup            [§2.8, upsert semantics]
  *     → date-partitioned idempotent sink     [K1]
  *
  * Where the reference loops page-by-page in one process and defers
  * dedup/upsert to the warehouse, this plan scans pages in parallel,
  * dedups with one keyed shuffle, and commits partitions atomically.
  * A small one-partition source (the opaque-cursor chain of a
  * `previous_day` HTTP sync) skips that shuffle: the whole sync runs
  * as one Spark job of one task
  * ([[graft.plans.CoalesceSinglePartitionScan]]).
  */
object OutreachPipeline {

  case class SyncConfig(
      resource: String,
      pagesDir: String,
      outDir: String,
      tableBase: String = "outreach",
      replicationType: String = "full",
      startDate: LocalDate = LocalDate.of(2019, 1, 1),
      today: LocalDate = LocalDate.now(ZoneOffset.UTC),
      dedupLatest: Boolean = true)

  /** Build the conformed (pre-sink) frame for a resource. */
  def conformed(spark: SparkSession, cfg: SyncConfig): DataFrame =
    conformedFrom(
      spark.read.format("graft.sources.JsonApiSource")
        .option("resource", cfg.resource)
        .option("path", cfg.pagesDir)
        .load(),
      cfg)

  /** The post-source half of [[conformed]] over an already-built
    * pages frame — lets a caller point the SAME lifecycle at the
    * source's HTTP mode (url/token options, e.g. through
    * [[graft.sources.FixtureApiServer]]'s opaque-cursor chain)
    * instead of a pages directory.
    */
  def conformedFrom(pages: DataFrame, cfg: SyncConfig): DataFrame = {
    val (lo, hi) = Incremental.replicationWindow(
      cfg.replicationType, cfg.startDate, cfg.today)
    val loTs = Instant.from(lo.atStartOfDay(ZoneOffset.UTC))
    val hiTs = Instant.from(hi.plusDays(1).atStartOfDay(ZoneOffset.UTC))
      .minusNanos(1000) // inclusive end-of-day at micro precision

    val windowed = pages.filter(col("attributes_updatedAt").between(
      lit(java.sql.Timestamp.from(loTs)), lit(java.sql.Timestamp.from(hiTs))))

    val renamed = Conform.renameReplace(windowed, "attributes_", "")

    if (cfg.dedupLatest)
      Incremental.dedupLatest(renamed, Seq("id"), "updatedAt", Seq("type"))
    else renamed
  }

  /** Run the sync end-to-end: conform + idempotent partitioned load.
    * Returns the output path written.
    */
  def sync(spark: SparkSession, cfg: SyncConfig): String = {
    val out = s"${cfg.outDir}/${Sink.tableName(cfg.tableBase, cfg.resource)}"
    Sink.partitionedWindowLoad(conformed(spark, cfg), "updatedAt", out)
    out
  }
}
