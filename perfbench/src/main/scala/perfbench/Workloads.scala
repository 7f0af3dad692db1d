package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.{OutreachPipeline, Sink}

/** A workload: inputs made from the seed, a sequence of rounds of ops,
  * and a check of every op's output after the timed rounds.
  */
trait Workload {
  def name: String
  /** Untimed: generate inputs, load what the timed ops start from. */
  def prepare(spark: SparkSession): Unit
  /** Ops of round `k` (0 is the first, cold round). */
  def round(k: Int): Seq[Op]
  /** Check the outputs of `ops`; mark wrong ops. Runs outside any
    * timed window: after each first pass, and after the timed rounds.
    */
  def check(spark: SparkSession, ops: Seq[Op]): Unit
  /** Workload-specific end-to-end figures, by name: (value, unit). */
  def extras(timedRounds: Seq[Seq[Op]]): Map[String, (Double, String)] = Map.empty
  def cleanup(): Unit = ()
}

object Sync {
  val Resources: Seq[String] = graft.schema.SchemaRegistry.Resources

  def table(outDir: Path, resource: String): Path =
    outDir.resolve(Sink.tableName("outreach", resource))

  /** One sync through the layers' public calls: the source, the
    * conform pipeline, the sink.
    */
  def run(r: Runner, resource: String, options: Map[String, String],
          outDir: Path, replication: String, today: LocalDate): Unit = {
    val cfg = OutreachPipeline.SyncConfig(resource = resource, pagesDir = "",
      outDir = outDir.toString, replicationType = replication,
      startDate = PageGen.StartDate, today = today)
    val pages = r.call("sources.load") {
      r.spark.read.format("graft.sources.JsonApiSource")
        .option("resource", resource).options(options).load()
    }
    val conformed = r.call("incremental.conform") {
      OutreachPipeline.conformedFrom(pages, cfg)
    }
    r.call("sink.write") {
      Sink.partitionedWindowLoad(conformed, "updatedAt", table(outDir, resource).toString)
    }
  }

  /** Committed (id, updatedAt µs, ds) rows of a table, per `ds`. */
  def committed(spark: SparkSession, table: Path): Map[String, PageGen.Part] = {
    val rows = spark.read.parquet(table.toString)
      .selectExpr("id", "unix_micros(updatedAt)", "cast(ds as string)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    PageGen.summarize(rows)
  }

  def diff(want: Map[String, PageGen.Part], got: Map[String, PageGen.Part]): Option[String] = {
    val bad = (want.keySet ++ got.keySet).toSeq.sorted.filter(d => want.get(d) != got.get(d))
    if (bad.isEmpty) None
    else Some(s"${bad.size} partitions differ, first ${bad.head}: " +
      s"want ${want.get(bad.head)} got ${got.get(bad.head)}")
  }

  def files(dir: Path): (Long, Long) = {
    var n = 0L
    var bytes = 0L
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.forEach { f =>
        if (Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")) {
          n += 1; bytes += Files.size(f)
        }
      } finally s.close()
    }
    (n, bytes)
  }

  def delete(dir: Path): Unit =
    if (Files.exists(dir)) org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
}

/** Full-history syncs of prospects, sequences and mailings, in the
  * reference's order, from seeded page files into a fresh output
  * directory each round.
  */
final class SyncBackfill(work: Path, seed: Long, params: PageGen.Params) extends Workload {
  val name = "sync_backfill"
  private val pagesDir = work.resolve("pages")
  private val inputs = mutable.LinkedHashMap.empty[String, PageGen.Resource]
  private val rounds = mutable.ArrayBuffer.empty[(Path, Seq[Op])]
  private lazy val want = inputs.map { case (r, res) =>
    r -> PageGen.expected(res.records, PageGen.StartDate, PageGen.Today0.minusDays(1)) }

  def prepare(spark: SparkSession): Unit =
    Sync.Resources.foreach { r =>
      inputs(r) = PageGen.writePages(pagesDir, r, PageGen.records(r, seed, params))
    }

  def round(k: Int): Seq[Op] = {
    val out = work.resolve(s"out/round$k")
    val ops = Sync.Resources.map { res =>
      val in = inputs(res)
      new Op(s"sync:$res", r => {
        r.opSource = Map("sources.pages" -> in.pages.toDouble,
          "sources.records_in" -> in.records.length.toDouble,
          "sources.bytes_in" -> in.bytes.toDouble)
        Sync.run(r, res, Map("path" -> pagesDir.resolve(res).toString), out,
          "full", PageGen.Today0)
      })
    }
    rounds += out -> ops
    ops
  }

  def check(spark: SparkSession, ops: Seq[Op]): Unit = {
    val mine = ops.toSet
    rounds.foreach { case (out, rops) =>
      rops.zip(Sync.Resources).foreach { case (op, res) =>
        if (mine(op) && !op.failed)
          op.wrong = Sync.diff(want(res), Sync.committed(spark, Sync.table(out, res)))
      }
    }
  }

  override def extras(timed: Seq[Seq[Op]]): Map[String, (Double, String)] = {
    val outs = rounds.map(_._1).toSeq
    val fs = outs.map(Sync.files)
    val rows = want.values.flatMap(_.values).map(_.rows).sum.toDouble
    val records = inputs.values.map(_.records.length).sum.toDouble
    val roundS = Stats.median(timed.map(_.map(_.seconds).sum))
    Map(
      "sync_rows_per_s" -> (records / roundS, "1/s"),
      "files_written" -> (Stats.median(fs.map(_._1.toDouble)), "count"),
      "out_bytes_per_row" -> (Stats.median(fs.map(_._2.toDouble)) / rows, "B"))
  }

  override def cleanup(): Unit = rounds.foreach { case (out, _) => Sync.delete(out) }
}

/** Consecutive `previous_day` syncs over HTTP into the table an
  * untimed backfill left. Round k syncs day Today0 + k (wrapping after
  * the generated days) for each resource. Each op must walk its day's
  * whole cursor chain, at least two pages, and meet the server's
  * scheduled 500; an op that does not is failed.
  */
final class SyncDaily(work: Path, seed: Long, params: PageGen.Params) extends Workload {
  val name = "sync_daily"
  private val out = work.resolve("out/daily")
  private val data = mutable.LinkedHashMap.empty[String, IndexedSeq[PageGen.Rec]]
  private var server: ApiServer = _
  private var base: Map[String, Map[String, PageGen.Part]] = Map.empty
  private val synced = mutable.ArrayBuffer.empty[(Op, String, LocalDate)]

  def prepare(spark: SparkSession): Unit = {
    Sync.Resources.foreach(r => require(PageGen.pagesPerDay(r, params) >= 2,
      s"a day of $r must span at least two pages, so the cursor chain is walked"))
    val pagesDir = work.resolve("pages")
    Sync.Resources.foreach { r =>
      val recs = PageGen.records(r, seed, params)
      data(r) = recs
      PageGen.writePages(pagesDir, r, recs)
    }
    val r = new Runner(spark, traced = false)
    Sync.Resources.foreach { res =>
      Sync.run(r, res, Map("path" -> pagesDir.resolve(res).toString), out,
        "full", PageGen.Today0)
    }
    base = data.map { case (res, recs) =>
      res -> PageGen.expected(recs, PageGen.StartDate, PageGen.Today0.minusDays(1)) }.toMap
    server = new ApiServer(data.toMap, seed)
  }

  def round(k: Int): Seq[Op] = {
    val day = PageGen.Today0.plusDays(k % params.dailyDays)
    Sync.Resources.map { res =>
      lazy val op: Op = new Op(s"sync:$res", r => {
        val s = server
        val before = Seq(s.pages.sum, s.records.sum, s.bytes.sum, s.requests.sum,
          s.failures.sum, s.tokenFetches.sum)
        try Sync.run(r, res, s.sourceOptions(res), out, "previous_day", day.plusDays(1))
        finally {
          val after = Seq(s.pages.sum, s.records.sum, s.bytes.sum, s.requests.sum,
            s.failures.sum, s.tokenFetches.sum)
          val d = after.zip(before).map { case (a, b) => (a - b).toDouble }
          r.opSource = Map("sources.pages" -> d(0), "sources.records_in" -> d(1),
            "sources.bytes_in" -> d(2), "sources.http_requests" -> d(3),
            "sources.http_retries" -> d(4), "sources.token_fetches" -> d(5))
        }
        op.wrong = walkError(res, day, r.opSource("sources.pages"),
          r.opSource("sources.http_retries"))
      })
      synced += ((op, res, day))
      op
    }
  }

  /** Why an op's walk was not the one its day needs: every page of the
    * cursor chain read once, and the scheduled 500 met and retried.
    */
  def walkError(res: String, day: LocalDate, pages: Double, retries: Double): Option[String] = {
    val wantPages = PageGen.pagesPerDay(res, params)
    val wantRetries = if (res == ApiServer.FailingResource) 1 else 0
    if (pages != wantPages || retries != wantRetries)
      Some(s"$res $day: walked $pages pages with $retries retries, " +
        s"want $wantPages pages with $wantRetries")
    else None
  }

  def check(spark: SparkSession, ops: Seq[Op]): Unit = {
    val mine = ops.toSet
    val got = Sync.Resources.map(r => r -> Sync.committed(spark, Sync.table(out, r))).toMap
    synced.filter(s => mine(s._1)).foreach { case (op, res, day) =>
      if (!op.failed) {
        val want = PageGen.expected(data(res), day, day)
        val ds = day.toString
        if (want.get(ds) != got(res).get(ds))
          op.wrong = Some(s"$res $ds: want ${want.get(ds)} got ${got(res).get(ds)}")
      }
    }
    // the backfill's partitions must be untouched by the daily runs
    Sync.Resources.foreach { res =>
      val before = got(res).filter { case (d, _) => d < PageGen.Today0.toString }
      Sync.diff(base(res), before).foreach { msg =>
        synced.filter(s => s._2 == res && mine(s._1))
          .foreach(_._1.wrong = Some(s"backfill changed: $msg"))
      }
    }
  }

  override def cleanup(): Unit = {
    if (server != null) server.stop()
    Sync.delete(out)
  }
}

/** Queries from `SparkEntry.queries` over a parquet data directory:
  * each op builds the query's frame and counts it. The seed permutes
  * the order within each round. Every op's count is compared with the
  * pinned row count as it runs; each query's latest frame is kept, and
  * `check` compares its digest with the pin when its op is among those
  * checked: every first pass (before its session stops) and the last
  * timed round.
  */
final class QueryMix(val name: String, names: Seq[String], dataDir: String,
                     pins: Map[String, String], seed: Long) extends Workload {
  private val last = mutable.LinkedHashMap.empty[String, (Op, DataFrame)]
  private lazy val pinnedRows = pins.map { case (q, d) => q -> d.takeWhile(_ != ':').toLong }

  def prepare(spark: SparkSession): Unit = {
    val missing = names.filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val unpinned = names.filterNot(pins.contains)
    require(unpinned.isEmpty, s"no pinned digest for: ${unpinned.mkString(",")}")
  }

  def round(k: Int): Seq[Op] = {
    val rng = new PageGen.Rng(seed * 7919L + k)
    val order = names.toArray
    for (i <- order.indices.reverse) {
      val j = rng.int(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    order.toSeq.map { q =>
      lazy val op: Op = new Op(q, r => {
        val df = r.call("queries.build")(graft.SparkEntry.queries(q)(r.spark, dataDir))
        val rows = r.call("exec.count") {
          if (r.traced) {
            // Dataset.count runs exactly this plan; keeping the frame
            // gives its Catalyst phase times
            val counted = df.groupBy().count()
            val n = counted.collect().head.getLong(0)
            r.finalPhases = Some(SparkTrace.phasesMs(counted.queryExecution))
            n
          } else df.count()
        }
        if (rows != pinnedRows(q)) op.wrong = Some(s"$q counted $rows rows, pinned ${pinnedRows(q)}")
        last(q) = (op, df)
      })
      op
    }
  }

  def check(spark: SparkSession, ops: Seq[Op]): Unit =
    ops.flatMap(op => last.get(op.name).filter(_._1 eq op)).foreach { case (op, df) =>
      if (!op.failed) {
        val got = try Digest.of(df) catch { case e: Throwable => s"error: $e" }
        if (got != pins(op.name)) op.wrong = Some(s"${op.name} digest $got, pinned ${pins(op.name)}")
      }
    }
}

object QuerySets {
  /** The reference's ETL surface (report, JSON:API sync over the
    * opaque-cursor HTTP chain, window filter, latest-row dedup, schema
    * conformance) and three relational queries. Each is short, so
    * per-query fixed cost is a large share of its time.
    */
  val reference: Seq[String] = Seq("run_report", "jsonapi_sync_chain",
    "incremental_window", "dedup_latest", "conform_cast", "q1_agg", "join_fk",
    "q3_shipping")

  /** Queries whose time sits in eager build actions: MinHash dedup
    * (session memo), a sync gate with a parquet round trip, and a
    * streaming dedup over real micro-batches.
    */
  val heavy: Seq[String] = Seq("dedup_minhash", "sync_checksum", "stream_dedup")
}
