package graft.tools

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import graft.SparkEntry

/** Shuffle/IO profiler: runs queries under a [[SparkListener]] and
  * reports, per query, the bytes that actually MOVED — input read,
  * shuffle written, shuffle read, spill — plus task count and peak
  * single-task execution memory.
  *
  * This is the empirical face of SCALE.md's shuffle-economics claims:
  * "digest-only shuffles", "map-side combine shrinks the exchange to
  * |groups|", "the corpus is never compared pairwise" are statements
  * about BYTES, and this tool measures them. A 100 TB scan with a
  * shuffle a fraction of its input survives a 1000-executor cluster;
  * one that re-shuffles its input does not — the ratio is the design's
  * scalability signature, readable at sf0.1.
  *
  * Usage: runMain graft.tools.ShuffleProfile [sfDir]
  *   SPARK_GRAFT_ONLY=a,b,c  overrides the default query set
  *
  * Emits one JSON line per query and persists all lines to
  * target/shuffle_profile.json (same tail-budget-proofing as Bench).
  */
object ShuffleProfile {

  /** Task-level metric accumulator. Listener delivery is asynchronous
    * (AsyncEventQueue), so readers must go through [[awaitStable]],
    * which polls until the counters stop changing — the public-API
    * substitute for the private listener-bus flush used by Spark's own
    * tests.
    */
  private final class MetricsListener extends SparkListener {
    val inputBytes = new LongAdder
    val inputRecords = new LongAdder
    val shuffleRead = new LongAdder
    val shuffleWrite = new LongAdder
    val spillBytes = new LongAdder
    val tasks = new LongAdder
    @volatile var peakTaskMemory: Long = 0L

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        inputBytes.add(m.inputMetrics.bytesRead)
        inputRecords.add(m.inputMetrics.recordsRead)
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        if (m.peakExecutionMemory > peakTaskMemory)
          peakTaskMemory = m.peakExecutionMemory
        tasks.increment()
      }
    }

    def snapshot: Seq[Long] = Seq(inputBytes.sum, inputRecords.sum,
      shuffleRead.sum, shuffleWrite.sum, spillBytes.sum, tasks.sum,
      peakTaskMemory)

    def reset(): Unit = {
      inputBytes.reset(); inputRecords.reset(); shuffleRead.reset()
      shuffleWrite.reset(); spillBytes.reset(); tasks.reset()
      peakTaskMemory = 0L
    }

    /** Wait until no new task-end events have landed for two
      * consecutive polls (or ~10 s). The action has already returned,
      * so only queued listener deliveries remain — stability means
      * the queue drained. Returns (snapshot, drained): a `false`
      * second element means the cap fired while counters were STILL
      * MOVING, so the snapshot under-counts — callers must surface
      * that rather than record a partial measurement as fact.
      */
    def awaitStable(): (Seq[Long], Boolean) = {
      var last = snapshot
      var stable = 0
      var waited = 0
      while (stable < 2 && waited < 10000) {
        Thread.sleep(100); waited += 100
        val cur = snapshot
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      (last, stable >= 2)
    }
  }

  /** Default profile set: the operators whose shuffle-economics claims
    * SCALE.md states in prose — scan-dominated aggregation, broadcast
    * joins, banded dedup/ANN candidate generation, graph iteration,
    * prefix-sum packing, trained families, and one pushdown-sensitive
    * disjunctive scan.
    */
  private val defaultSet = Seq(
    "q1_agg", "q19_disjunctive", "join_fk", "topk_orders",
    "dedup_exact", "dedup_minhash", "ann_lsh", "ann_ivfpq",
    "pagerank", "bfs_hops", "pack_sequences", "training_pipeline",
    "bpe_merges", "quality_train")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt)
    // Parquet's Hadoop vectored-IO range reads bypass
    // FileSystem.Statistics, so data-page bytes vanish from
    // inputMetrics (only footers get counted). Profiling wants true
    // input bytes, so route reads through the classic stream here.
    spark.sparkContext.hadoopConfiguration
      .set("parquet.hadoop.vectored.io.enabled", "false")
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)

    val requested = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(defaultSet)
    // a mistyped query must not silently vanish from the profile —
    // the tool's whole point is "no silent caps"
    val unknown = requested.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty)
      System.err.println(
        s"[profile] UNKNOWN queries skipped: ${unknown.mkString(", ")}")
    val names = requested.filter(SparkEntry.queries.contains)
    // bytes→MB at 6 decimals (byte resolution): the scan-dominated
    // family's whole story is sub-KB exchanges, which a coarser
    // rounding collapses into an indistinguishable 0.0
    def mb(b: Long): Double = math.rint(b / 1.048576) / 1e6
    val lines = names.flatMap { name =>
      listener.reset()
      try {
        SparkEntry.queries(name)(spark, sfDir).count()
        val (Seq(in, recs, sr, sw, spill, tasks, peak), drained) =
          listener.awaitStable()
        if (!drained)
          System.err.println(s"[profile] $name: listener queue still " +
            "draining at cap - counters UNDER-COUNT (drained:false)")
        // shuffle-to-input ratio is the scalability signature; input
        // can be 0 for memoized/streamed stages, so guard the division
        val ratio =
          if (in > 0) math.rint(10000.0 * sw / in) / 10000.0 else -1.0
        Some(s"""{"query":"$name","input_mb":${mb(in)},""" +
          s""""input_bytes":$in,"input_records":$recs,""" +
          s""""shuffle_write_mb":${mb(sw)},"shuffle_write_bytes":$sw,""" +
          s""""shuffle_read_mb":${mb(sr)},"spill_mb":${mb(spill)},""" +
          s""""tasks":$tasks,"peak_task_mem_mb":${mb(peak)},""" +
          s""""shuffle_over_input":$ratio,"drained":$drained}""")
      } catch { case e: Throwable =>
        System.err.println(s"[profile] $name FAILED: ${e.getMessage}")
        // drain the failed query's still-in-flight task-end events
        // before the next reset(), or they'd be attributed to the
        // NEXT query's counters
        listener.awaitStable()
        None
      }
    }
    lines.foreach(println)
    ArtifactFile.write("target/shuffle_profile.json",
      lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
