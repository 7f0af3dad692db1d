package graft.tools

import java.time.LocalDate

import graft.GraftSession
import graft.ops.OutreachPipeline

/** CLI entry point mirroring the reference's
  * `python outreach_etl.py --config creds.json`
  * (outreach_etl.py:38-46, README.md:47): run the sync pipeline for
  * one or more resources against a directory of fetched page
  * envelopes.
  *
  * Usage:
  *   runMain graft.tools.RunSync --pages <dir> --out <dir>
  *     [--resources prospects,sequences,mailings]
  *     [--replication full|previous_day] [--start-date YYYY-MM-DD]
  *     [--today YYYY-MM-DD]
  */
object RunSync {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val pages = opts.getOrElse("pages",
      sys.error("--pages <dir> is required"))
    val out = opts.getOrElse("out", sys.error("--out <dir> is required"))
    val resources = opts.getOrElse("resources", "prospects").split(",").toSeq
    val replication = opts.getOrElse("replication", "full")
    val start = LocalDate.parse(opts.getOrElse("start-date", "2019-01-01"))
    val today = opts.get("today").map(LocalDate.parse)
      .getOrElse(LocalDate.now(java.time.ZoneOffset.UTC))

    val spark = GraftSession.local(appName = "graft-sync")
    try {
      resources.foreach { r =>
        val path = OutreachPipeline.sync(spark, OutreachPipeline.SyncConfig(
          resource = r, pagesDir = pages, outDir = out,
          replicationType = replication, startDate = start, today = today))
        val n = spark.read.parquet(path).count()
        // the reference's per-resource log line (outreach_etl.py:219)
        println(s"[sync] $r -> $path ($n rows)")
      }
    } finally spark.stop()
  }
}
