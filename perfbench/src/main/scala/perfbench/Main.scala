package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark harness. `run.py` builds it and starts it as
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --work <dir> --data <dir> --pins <file>
  *     --result <file>
  *
  * It times JVM start to a ready session (the set-up time), prepares
  * the workload's inputs from the seed, and runs the first pass: one
  * round in that first session (the JVM's cold round), then one round
  * in each of [[FreshSessions]] rebuilt sessions (the session layer's
  * build time, and the first round in a fresh session). Then it runs
  * [[WarmupRounds]] untimed rounds, then timed rounds until `--seconds`
  * have passed, checks every op's output, and writes its figures as
  * JSON to `--result`. `--trace 1` attaches the listeners to the last session
  * and reports per-layer figures instead of end-to-end ones.
  *
  * `perfbench.Main --pin --data <dir> --pins <file>` recomputes the
  * pinned query digests.
  */
object Main {

  /** Inputs of `sync_backfill`: 3,480 records over 40 days, 35 pages. */
  val BackfillInputs: PageGen.Params = PageGen.Params(
    perDay = Map("prospects" -> 50, "sequences" -> 12, "mailings" -> 25),
    backfillDays = 30, dailyDays = 10)

  /** Inputs of `sync_daily`: each synced day spans 3, 2 and 2 pages at
    * the reference's page size, so every op walks a cursor chain. The
    * backfill it starts from covers 5 days.
    */
  val DailyInputs: PageGen.Params = PageGen.Params(
    perDay = Map("prospects" -> 250, "sequences" -> 150, "mailings" -> 150),
    backfillDays = 5, dailyDays = 10)

  /** Sessions rebuilt after the cold round, each followed by one round.
    * The median of their build times is the session layer's build time,
    * and the median of their rounds is `first_round_s`: the first pass
    * in a fresh session, over session-scoped state (memo, file listings)
    * that starts empty, in a JVM that is no longer cold. A single
    * cold-JVM round spread 0.12–0.52 (IQR ÷ median of 10 runs) on a
    * shared 4-core host; it is reported beside it as `cold_round_s`.
    * The count is fixed: JIT compilation still speeds these rounds up
    * one after another, so a count that followed the host's speed would
    * move their median.
    */
  val FreshSessions = 3

  /** Untimed rounds in the last session before timing: the round after
    * a fresh session's first one is still slower.
    */
  val WarmupRounds = 2

  /** Timed rounds at least, whatever `--seconds` allows: a
    * `query_heavy` round takes about 3 s, and a median of fewer than
    * three moves with any one of them.
    */
  val MinTimedRounds = 3

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap ++ args.filter(_ == "--pin").map(_.drop(2) -> "1")
    val code =
      try { if (opts.contains("pin")) pin(opts) else run(opts); 0 }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        1
      }
    System.exit(code)
  }

  private def cores: Int = Runtime.getRuntime.availableProcessors()

  /** A ready session: built by the engine's factory, with its first
    * job run.
    */
  private def session(): SparkSession = {
    val s = GraftSession.local(cores, "perfbench")
    s.sparkContext.setLogLevel("WARN")
    s.range(1).count()
    s
  }

  private def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def readPins(file: String): Map[String, String] = {
    val node = new ObjectMapper().readTree(Paths.get(file).toFile)
    val m = mutable.LinkedHashMap.empty[String, String]
    node.fields().forEachRemaining(e => m(e.getKey) = e.getValue.asText())
    m.toMap
  }

  def workload(name: String, work: Path, seed: Long, data: String,
               pins: => Map[String, String]): Workload = name match {
    case "sync_backfill" => new SyncBackfill(work, seed, BackfillInputs)
    case "sync_daily" => new SyncDaily(work, seed, DailyInputs)
    case "query_reference" =>
      new QueryMix(name, QuerySets.reference, data, pins, seed)
    case "query_heavy" => new QueryMix(name, QuerySets.heavy, data, pins, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def run(opts: Map[String, String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Files.createDirectories(Paths.get(opts("work")))

    // set-up: JVM start to a ready session
    var spark = session()
    val setup = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val wl = workload(opts("workload"), work, seed, opts("data"), readPins(opts("pins")))
    val prep0 = System.nanoTime()
    wl.prepare(spark)
    val prepareS = (System.nanoTime() - prep0) / 1e9
    val all = mutable.ArrayBuffer.empty[Op]

    // the first pass, untraced: each round's outputs are checked before
    // its session stops
    def firstPass(k: Int): Double = {
      val ops = wl.round(k)
      val r = new Runner(spark, traced = false)
      val t = ops.map(r.runOp).sum
      wl.check(spark, ops)
      all ++= ops
      t
    }
    val coldRound = firstPass(0)
    val builds = mutable.ArrayBuffer.empty[Double]
    val fresh = mutable.ArrayBuffer.empty[Double]
    while (fresh.size < FreshSessions) {
      stopSession(spark)
      val t0 = System.nanoTime()
      spark = session()
      builds += (System.nanoTime() - t0) / 1e9
      fresh += firstPass(fresh.size + 1)
    }
    val firstPassOps = all.size

    val runner = new Runner(spark, traced)
    val rootSpan = runner.tracer.open(wl.name)
    def runRound(k: Int): (Seq[Op], Double) = runner.tracer(s"round$k") { _ =>
      val ops = wl.round(k)
      val t = ops.map(runner.runOp).sum
      all ++= ops
      (ops, t)
    }

    // untimed warm-up: the fresh-session rounds, and these rounds after
    // them. JIT compilation keeps speeding small ops up for tens of
    // seconds, and a timed phase on that slope reports a median that
    // depends on how fast the host compiled
    val k = fresh.size + 1 + WarmupRounds
    (fresh.size + 1 until k).foreach(runRound)
    runner.layer.clear()
    runner.skews.clear()
    val gc0 = runner.gcMs
    val timed = mutable.ArrayBuffer.empty[Seq[Op]]
    val roundS = mutable.ArrayBuffer.empty[Double]
    val pinnedRdds = mutable.ArrayBuffer.empty[Double]
    val storedDelta = mutable.ArrayBuffer.empty[Double]
    var elapsed = 0.0
    while (elapsed < seconds || timed.size < MinTimedRounds) {
      val stored0 = runner.storedBytes
      val (ops, t) = runRound(k + timed.size)
      timed += ops
      roundS += t
      elapsed += t
      if (traced) {
        pinnedRdds += runner.pinnedRdds
        storedDelta += runner.storedBytes - stored0
      }
    }
    val gcS = (runner.gcMs - gc0) / 1e3
    runner.tracer.close(rootSpan)

    wl.check(spark, all.drop(firstPassOps).toSeq)
    val failed = all.count(_.failed)
    all.filter(_.failed).take(5).foreach(o => System.err.println(
      s"[perfbench] FAILED ${o.name}: ${o.error.map(_.toString).orElse(o.wrong).get}"))

    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    val timedOps = timed.flatten.map(_.seconds).toSeq
    val tail = Stats.tail(timedOps)
    if (!traced) {
      out("setup_s") = (setup, "s")
      out("first_round_s") = (Stats.median(fresh.toSeq), "s")
      out("round_s") = (Stats.median(roundS.toSeq), "s")
      out("op_p50_s") = (Stats.median(timedOps), "s")
    } else {
      val n = timed.size.toDouble
      Layers.all.foreach { case (k, unit) =>
        out(k) = (runner.layer.getOrElse(k, 0.0) / n, unit)
      }
      out("session.build_s") = (Stats.median(builds.toSeq), "s")
      val scan = runner.layer.getOrElse("sources.scan_stage_s", 0.0)
      val recs = runner.layer.getOrElse("sources.records_in", 0.0)
      out("sources.records_per_s") = (if (scan > 0) recs / scan else 0.0, "1/s")
      out("sources.kept_ratio") = (if (recs > 0)
        runner.layer.getOrElse("incremental.rows_in", 0.0) / recs else 0.0, "ratio")
      out("exec.task_skew") = (if (runner.skews.isEmpty) 1.0
        else Stats.median(runner.skews.toSeq), "ratio")
      out("memo.pinned_rdds") = (Stats.median(pinnedRdds.toSeq), "count")
      out("memo.pinned_bytes_delta") = (storedDelta.sum / n, "B")
      out("jvm.gc_s") = (gcS / n, "s")
      out("trace.round_s") = (Stats.median(roundS.toSeq), "s")
      // layer times that are 0 on workloads that do not touch the layer,
      // also as shares of the traced round
      val round = roundS.sum / n
      Seq("sources.scan_stage_s", "incremental.stage_s", "sink.write_stage_s",
        "sink.commit_s", "tables.infer_s", "queries.build_stage_s", "streaming.batch_s")
        .foreach { k =>
          out(k.stripSuffix("_s") + "_share") = (if (round > 0) out(k)._1 / round else 0.0, "ratio")
        }
    }
    val extras = wl.extras(timed.toSeq)
    val pinnedMb = runner.storedBytes / 1048576.0
    runner.stop()
    wl.cleanup()
    // the context cleaner releases shuffle and broadcast state of
    // collected references asynchronously; let it, then collect again
    System.gc()
    Thread.sleep(300)
    System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    if (!traced) out("heap_after_gc_mb") = (heapMb, "MB")

    val info = mutable.LinkedHashMap[String, Any](
      "prepare_s" -> prepareS, "prepare_s_unit" -> "s", "warmup_rounds" -> WarmupRounds,
      "rounds" -> timed.size, "ops_timed" -> timedOps.size,
      "op_tail_s" -> tail.value, "op_tail_s_unit" -> "s",
      "tail_percentile" -> tail.percentile, "tail_samples_beyond" -> tail.samplesBeyond,
      "pinned_mb_after" -> pinnedMb,
      "failed_frac" -> failed.toDouble / all.size,
      "cold_round_s" -> coldRound, "cold_round_s_unit" -> "s",
      "fresh_rounds_s" -> fresh.toSeq, "session_rebuilds_s" -> builds.toSeq,
      "rounds_s" -> roundS.toSeq)
    extras.foreach { case (k, (v, _)) => info(k) = v }
    val json = new ObjectMapper()
    val root = json.createObjectNode()
    root.put("correct", failed == 0)
    root.put("attempted", all.size)
    root.put("failed", failed)
    val m = root.putObject("metrics")
    out.foreach { case (k, (v, u)) => m.putObject(k).put("value", v).put("unit", u) }
    val inf = root.putObject("info")
    info.foreach {
      case (k, v: Double) => inf.put(k, v)
      case (k, v: Int) => inf.put(k, v)
      case (k, v: Seq[_]) =>
        val a = inf.putArray(k); v.foreach(x => a.add(x.asInstanceOf[Double]))
      case (k, v) => inf.put(k, v.toString)
    }
    extras.foreach { case (k, (_, u)) => inf.put(s"${k}_unit", u) }
    val perOp = inf.putObject("op_median_s")
    timed.flatten.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (k, os) =>
      perOp.put(k, Stats.median(os.map(_.seconds).toSeq)) }
    Files.writeString(Paths.get(opts("result")), json.writeValueAsString(root))
    if (traced) writeSpans(runner, Paths.get(opts("result") + ".spans.json"))
    stopSession(spark)
  }

  private def writeSpans(r: Runner, file: Path): Unit = {
    val json = new ObjectMapper()
    val arr = json.createArrayNode()
    r.tracer.spans.foreach { s =>
      arr.addObject().put("id", s.id).put("parent", s.parent).put("name", s.name)
        .put("start_us", s.startUs).put("end_us", s.endUs)
        .put("self_us", Spans.selfUs((s.startUs, s.endUs),
          r.tracer.children(s).map(c => (c.startUs, c.endUs))))
    }
    Files.writeString(file, json.writeValueAsString(arr))
  }

  /** Recompute the pinned digests of every query the query workloads
    * run, in a fresh session over `--data`, and write beside them the
    * DuckDB oracle SQL that `crosscheck.py` compares them with.
    */
  def pin(opts: Map[String, String]): Unit = {
    val spark = session()
    val json = new ObjectMapper()
    val pins = json.createObjectNode()
    val oracle = json.createObjectNode()
    (QuerySets.reference ++ QuerySets.heavy).distinct.sorted.foreach { q =>
      val d = Digest.of(graft.SparkEntry.queries(q)(spark, opts("data")))
      println(s"$q $d")
      pins.put(q, d)
      // resource paths relative to the checkout; crosscheck.py resolves them
      graft.SparkEntry.oracleSql.get(q).foreach(sql => oracle.put(q,
        sql.replaceAll("'[^']*/src/main/resources/", "'src/main/resources/")))
    }
    val pretty = json.writerWithDefaultPrettyPrinter()
    val file = Paths.get(opts("pins"))
    Files.writeString(file, pretty.writeValueAsString(pins) + "\n")
    Files.writeString(file.resolveSibling("oracle_sql.json"),
      pretty.writeValueAsString(oracle) + "\n")
    stopSession(spark)
  }
}

/** Per-layer metrics, with units. Each is a per-round figure: summed
  * over a timed round's ops and averaged over the timed rounds, except
  * ratios and levels, which [[Main]] derives.
  */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "sources.scan_stage_s" -> "s", "sources.pages" -> "count",
    "sources.records_in" -> "count", "sources.bytes_in" -> "B",
    "sources.http_requests" -> "count", "sources.http_retries" -> "count",
    "sources.token_fetches" -> "count", "sources.partitions" -> "count",
    "incremental.rows_in" -> "count", "incremental.rows_out" -> "count",
    "incremental.shuffle_write_bytes" -> "B", "incremental.stage_s" -> "s",
    "incremental.spill_bytes" -> "B",
    "sink.write_stage_s" -> "s", "sink.commit_s" -> "s", "sink.files" -> "count",
    "sink.bytes" -> "B", "sink.partitions" -> "count", "sink.rows" -> "count",
    "tables.infer_jobs" -> "count", "tables.infer_s" -> "s",
    "queries.build_s" -> "s", "queries.build_jobs" -> "count",
    "queries.build_stages" -> "count", "queries.build_tasks" -> "count",
    "queries.build_stage_s" -> "s",
    "plans.analysis_ms" -> "ms", "plans.optimization_ms" -> "ms",
    "plans.planning_ms" -> "ms",
    "exec.s" -> "s", "exec.jobs" -> "count", "exec.stage_s" -> "s",
    "exec.tasks" -> "count", "exec.shuffle_read_bytes" -> "B",
    "exec.shuffle_write_bytes" -> "B", "exec.spill_bytes" -> "B",
    "exec.driver_gap_s" -> "s",
    "streaming.batches" -> "count", "streaming.batch_s" -> "s",
    "streaming.add_batch_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_commit_ms" -> "ms")
}
