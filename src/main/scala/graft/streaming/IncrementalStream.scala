package graft.streaming

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming adapter for the reference's incremental
  * replication contract (SURVEY.md §2.10): a tumbling 1-day window on
  * the update timestamp with cron-managed offsets becomes a streaming
  * source with checkpointed progress, a watermark, and streaming
  * dedup — at-least-once re-pulls (the reference's duplicate-row
  * behavior) collapse to effectively-once via `dropDuplicates` within
  * the watermark.
  *
  * Kept as a thin adapter over the batch ops (SURVEY.md §7.4: the
  * driver harness has no streaming surface — parity lives in unit
  * tests, not the oracle).
  */
object IncrementalStream {

  /** File-based streaming read of an append-only directory (each
    * micro-batch = newly arrived files; the reference's "new pages
    * since last cron run"). `maxFilesPerTrigger` bounds files per
    * micro-batch — `AvailableNow` honors it (unlike `Trigger.Once`),
    * which is how the driver-visible stream queries replay a
    * multi-file stage as REAL multiple micro-batches instead of one.
    */
  def readAppendStream(spark: SparkSession, dir: String,
                       schema: StructType,
                       maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(dir)
  }

  /** Watermarks (and the time-window functions) require TimestampType;
    * event time arriving as TIMESTAMP_NTZ — the testdata's physical
    * parquet form — is cast to LTZ first, value-preserving under
    * graft's pinned UTC session zone. No-op when already LTZ.
    */
  private def withEventTime(stream: DataFrame, tsCol: String): DataFrame =
    stream.withColumn(tsCol,
      col(tsCol).cast(org.apache.spark.sql.types.TimestampType))

  /** Watermarked streaming dedup on the record key — the streaming
    * form of [[graft.ops.Incremental.dedupLatest]]: duplicates from
    * window re-pulls are dropped while their key is within the
    * watermark. State is bounded by the watermark horizon — at scale
    * this is what makes the operator runnable indefinitely.
    */
  def dedupWithinWatermark(stream: DataFrame, tsCol: String,
                           watermark: String, keys: Seq[String]): DataFrame =
    withEventTime(stream, tsCol).withWatermark(tsCol, watermark)
      .dropDuplicates(keys :+ tsCol)

  /** KEYED streaming dedup via Spark's `dropDuplicatesWithinWatermark`
    * — first arrival of each KEY is emitted, later arrivals of the
    * same key are dropped, and (unlike [[dedupWithinWatermark]], which
    * keys on `keys :+ tsCol` and so only collapses exact re-pulls)
    * the event time is NOT part of the key: duplicates with different
    * timestamps still collapse. Per-key state stores an expiration
    * (max event time seen for the key + the watermark delay) and is
    * evicted once the watermark passes it, so state is bounded by the
    * DISTINCT keys live within the watermark horizon — not by stream
    * length, the property that makes the operator runnable
    * indefinitely at 100 TB/day rates. After eviction a re-arrival
    * re-emits: dedup is guaranteed only for duplicates arriving
    * within the delay of each other (the documented Spark contract,
    * pinned across real micro-batch boundaries by StreamingSpec).
    */
  def dedupKeysWithinWatermark(stream: DataFrame, tsCol: String,
                               watermark: String,
                               keys: Seq[String]): DataFrame =
    withEventTime(stream, tsCol).withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Tumbling-window per-day counts over the stream — the incremental
    * replication ledger (rows per day per type), append-mode emitted
    * once the watermark passes each day.
    */
  def dailyCounts(stream: DataFrame, tsCol: String, typeCol: String,
                  watermark: String = "1 day"): DataFrame =
    withEventTime(stream, tsCol).withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), "1 day").as("day_window"), col(typeCol))
      .agg(count(lit(1)).as("n"))
      .select(col("day_window.start").as("day"), col(typeCol), col("n"))

  /** Streaming canonical dedup with KEEP-MIN-ID semantics — the
    * streaming form of [[graft.ops.Dedup.exactDedup]]. `dropDuplicates`
    * keeps whichever duplicate ARRIVES first (micro-batch order, not
    * deterministic across runs); canonical dedup must keep the same
    * representative the batch operator picks (the minimum id), so this
    * holds per-digest state via `flatMapGroupsWithState` and re-emits
    * `(key_digest, keep_id, n_copies)` whenever a group changes
    * (Update output mode; downstream upserts by digest).
    *
    * Scale: state is one (long, long) per DISTINCT digest — the same
    * cardinality the batch groupBy shuffles — partitioned by digest
    * across executors and checkpointed. Pass `stateTtl` (with an
    * upstream watermark on event time) to evict idle digests via
    * event-time timeout, bounding state for unbounded streams; dedup
    * is then exact within the TTL horizon, the same contract as
    * [[dedupWithinWatermark]].
    */
  def canonicalDedupStream(stream: DataFrame, idCol: String,
                           digestCol: String,
                           stateTtlMs: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    val timeoutConf = if (stateTtlMs.isDefined)
      GroupStateTimeout.EventTimeTimeout() else GroupStateTimeout.NoTimeout()
    stream
      .select(col(digestCol).cast("string").as("digest"),
        col(idCol).cast("long").as("id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (String, Long, Long)](
        OutputMode.Update(), timeoutConf) { (digest, rows, state) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          val ids = rows.map(_._2).toArray
          val (prevMin, prevN) = state.getOption.getOrElse((Long.MaxValue, 0L))
          val next = (math.min(prevMin, ids.min), prevN + ids.length)
          state.update(next)
          stateTtlMs.foreach(ttl =>
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + ttl))
          Iterator((digest, next._1, next._2))
        }
      }
      .toDF("key_digest", "keep_id", "n_copies")
  }

  /** Streaming gap-based sessionization — the streaming form of the
    * batch `sessionize` query ([[graft.queries.AdvancedQueries]]): a
    * quiet gap > `gapMs` starts a new session. Emits one row per
    * CLOSED session — closed either by a later event beyond the gap or
    * by the event-time timeout once the watermark passes
    * `end + gap` — in Append mode (closed sessions are final, never
    * retracted). Output matches the batch columns:
    * (user_id, session_id, n_events, start_us, end_us).
    *
    * Scale: state per user is one open session (4 longs), partitioned
    * by user across executors and checkpointed; a closed-marker row
    * per seen user persists so per-user `session_id` numbering stays
    * monotone across idle periods (state is bounded by distinct users,
    * the same cardinality the batch window shuffles). Out-of-order
    * events inside a micro-batch are sorted before processing; events
    * later than the watermark horizon are dropped by the watermark,
    * the standard streaming-sessionization contract.
    */
  def sessionizeStream(stream: DataFrame, userCol: String, tsCol: String,
                       gapMs: Long, watermark: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    // state: (session_id counter, start_us, end_us, n_events);
    // n_events == 0 marks "no open session" (idle user, counter kept)
    withEventTime(stream, tsCol)
      .withWatermark(tsCol, watermark)
      .select(col(userCol).cast("long").as("user_id"),
        unix_micros(col(tsCol).cast("timestamp")).as("ts_us"), col(tsCol).as("__ts"))
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long, Long),
                              (Long, Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user, rows, state) =>
        val gapUs = gapMs * 1000L
        if (state.hasTimedOut) {
          // watermark passed end + gap with no newer event: the open
          // session is final. Keep the counter (idle marker) so later
          // sessions continue the numbering.
          val (idx, start, end, n) = state.get
          state.update((idx, 0L, 0L, 0L))
          if (n > 0L) Iterator((user, idx, n, start, end)) else Iterator.empty
        } else {
          val ts = rows.map(_._2).toArray
          java.util.Arrays.sort(ts)
          var (idx, start, end, n) =
            state.getOption.getOrElse((0L, 0L, 0L, 0L))
          val closed = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long, Long, Long)]
          for (t <- ts) {
            if (n == 0L) { idx += 1; start = t; end = t; n = 1L }
            else if (t - end > gapUs) {
              closed += ((user, idx, n, start, end))
              idx += 1; start = t; end = t; n = 1L
            } else { end = math.max(end, t); n += 1L }
          }
          state.update((idx, start, end, n))
          // fire once the watermark passes the open session's gap edge
          state.setTimeoutTimestamp(end / 1000L + gapMs)
          closed.iterator
        }
      }
      .toDF("user_id", "session_id", "n_events", "start_us", "end_us")
  }

  /** STREAMING per-key EMA — the streaming form of
    * [[graft.ops.Ema.smooth]] and the numeric-recurrence member of
    * the stateful shapes (sessionize carries interval state, dedup
    * carries identity state; this carries an arithmetic accumulator
    * the next batch CONTINUES from). State per key is two longs
    * (rn, ema); each micro-batch sorts its own rows per key by
    * (us, event_id) and applies the same truncating int64 recurrence
    * as the batch operator, so when batches arrive time-contiguously
    * (the file-stage contract: boundary ties kept in the earlier
    * split) the streamed trajectory is BIT-EQUAL to the batch one —
    * every row emitted exactly once (Update mode).
    *
    * Scale: state is bounded by distinct live keys, partitioned by
    * key across executors and checkpointed; per-batch work is the
    * same hash shuffle + per-key scan as the batch shape.
    */
  def emaStream(stream: DataFrame, aNum: Long, aDen: Long): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col("user_id").cast("long"), col("us").cast("long"),
        col("event_id").cast("long"), col("v_e6").cast("long"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user, rows, state) =>
        val arr = rows.toArray.sortBy(r => (r._2, r._3))
        var (rn, ema) = state.getOption.getOrElse((0L, 0L))
        val out = arr.map { case (_, _, id, v) =>
          if (rn == 0L) { rn = 1L; ema = v }
          else { rn += 1; ema = (aNum * v + (aDen - aNum) * ema) / aDen }
          (user, rn, id, v, ema)
        }
        state.update((rn, ema))
        out.iterator
      }
      .toDF("user_id", "rn", "event_id", "v_e6", "ema_e6")
  }

  /** STREAMING anomaly flagging — the online deployment of
    * [[graft.ops.Ema.anomaly]] and the DECISION-emitting member of
    * the stateful shapes (ema carries a smoother the pipeline reads
    * later; this one acts on each row as it arrives, the alerting
    * path of a metrics pipeline). State per key is four longs
    * (rn, ema, dev); each micro-batch sorts its own rows per key and
    * applies the same flag-then-update int64 recurrence as the batch
    * operator, so under time-contiguous arrival the streamed flag
    * trajectory is BIT-EQUAL to the batch one and the two share a
    * single RECURSIVE-CTE oracle. Scale: state bounded by live keys,
    * partitioned and checkpointed; the flag needs no division, so no
    * float ever enters the state.
    */
  def anomalyStream(stream: DataFrame, aNum: Long, aDen: Long,
                    kNum: Long, kDen: Long, minDevE6: Long,
                    warmup: Long = 3L): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col("user_id").cast("long"), col("us").cast("long"),
        col("event_id").cast("long"), col("v_e6").cast("long"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long),
          (Long, Long, Long, Long, Long, Long, Int)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user, rows, state) =>
        val arr = rows.toArray.sortBy(r => (r._2, r._3))
        var (rn, ema, dev) = state.getOption.getOrElse((0L, 0L, 0L))
        val out = arr.map { case (_, _, id, v) =>
          if (rn == 0L) {
            rn = 1L; ema = v; dev = 0L
            (user, rn, id, v, ema, dev, 0)
          } else {
            rn += 1
            val d = math.abs(v - ema)
            val flag =
              if (rn > warmup && kDen * d > kNum * dev + kDen * minDevE6) 1
              else 0
            dev = (aNum * d + (aDen - aNum) * dev) / aDen
            ema = (aNum * v + (aDen - aNum) * ema) / aDen
            (user, rn, id, v, ema, dev, flag)
          }
        }
        state.update((rn, ema, dev))
        out.iterator
      }
      .toDF("user_id", "rn", "event_id", "v_e6", "ema_e6", "dev_e6",
        "is_anom")
  }

  /** Stream-stream event-time interval join: rows of `right` that land
    * within `[lTs, lTs + window]` of a matching `left` row. Both sides
    * are watermarked and the time bounds ride in the join condition,
    * which is what lets Spark's symmetric hash join EVICT buffered
    * state: each side keeps only rows younger than
    * `watermark + window`, so state is bounded by
    * rate × (lateness + window) per key-partition — the contract that
    * makes the join runnable indefinitely at scale. (The driver query
    * sets the watermark beyond the test data's whole span so the
    * streamed result equals the batch join exactly; production tunes
    * it to the real lateness bound.) Inner joins emit eagerly on
    * match — results do not wait for the watermark; only state
    * eviction does.
    *
    * `keyEq` must reference non-colliding column names (rename before
    * the call); `window` is SQL interval text, e.g. "24 hours".
    */
  def intervalJoin(left: DataFrame, lTs: String,
                   right: DataFrame, rTs: String,
                   keyEq: org.apache.spark.sql.Column,
                   window: String, watermark: String): DataFrame =
    withEventTime(left, lTs).withWatermark(lTs, watermark)
      .join(withEventTime(right, rTs).withWatermark(rTs, watermark),
        keyEq && col(rTs) >= col(lTs) &&
          col(rTs) <= col(lTs) + expr(s"INTERVAL $window"),
        "inner")

  /** Stream-stream event-time LEFT OUTER interval join — the
    * WATERMARK-EVICTION semantics the inner join never exercises: a
    * left row with no match emits null-extended only when the
    * watermark passes its join window's upper bound (the row can no
    * longer match ANY future right row), i.e. when its state evicts.
    * Until then it waits in the state store; at query end, rows whose
    * window the final watermark never closed remain in state and are
    * NOT emitted — exactly the at-scale contract (a forever-open
    * window would mean unbounded state).
    *
    * Determinism note (what makes this oracle-able): under
    * time-contiguous multi-batch arrival, a row evicted at a batch
    * boundary (watermark W > lTs + window) can never have matched a
    * later right row — later batches start at ≥ the prior batch's max
    * event time > W ≥ lTs + window — so the emitted set decomposes
    * exactly into (full inner join) ∪ (unmatched left rows with
    * lTs + window < final watermark), both SQL-recomputable.
    */
  def intervalJoinOuter(left: DataFrame, lTs: String,
                        right: DataFrame, rTs: String,
                        keyEq: org.apache.spark.sql.Column,
                        window: String, watermark: String): DataFrame =
    withEventTime(left, lTs).withWatermark(lTs, watermark)
      .join(withEventTime(right, rTs).withWatermark(rTs, watermark),
        keyEq && col(rTs) >= col(lTs) &&
          col(rTs) <= col(lTs) + expr(s"INTERVAL $window"),
        "leftOuter")

  /** Stage `slices` in `stage` (by default a fresh JVM-lifetime
    * [[graft.TempDirs.create]] dir) as ONE parquet file each
    * (`slice_0000.parquet` first), with strictly ascending modification
    * times in slice order. The file source admits the oldest files
    * first, so a stream read with `maxFilesPerTrigger = 1` replays the
    * slices as that many REAL micro-batches, in slice order — the
    * production analogue is files simply arriving over time.
    */
  def stageSlices(slices: Seq[DataFrame],
                  stage: Path = graft.TempDirs.create("graft_stream")): Path = {
    val base = System.currentTimeMillis() - slices.size * 60000L
    slices.zipWithIndex.foreach { case (slice, i) =>
      val tmp = stage.resolve(s"__tmp_$i")
      slice.coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp).filter(p =>
        p.getFileName.toString.startsWith("part-")).findFirst().get()
      val dest = stage.resolve(f"slice_$i%04d.parquet")
      Files.move(part, dest)
      FileUtils.deleteQuietly(tmp.toFile)
      Files.setLastModifiedTime(dest, FileTime.fromMillis(base + i * 60000L))
    }
    stage
  }

  private val CkptManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Run `stream` to a memory sink under `Trigger.AvailableNow` and
    * return `result` of the sink's table, pinned with
    * [[graft.ops.Dedup.materialize]] (the memory table dies with the
    * query). See [[run]] for the batch check and the cleanup.
    */
  def runToMemory(name: String, stream: DataFrame, outputMode: String,
                  minBatches: Int)(result: DataFrame => DataFrame): DataFrame = {
    val view = s"${name}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val spark = stream.sparkSession
    try run(name, minBatches, spark, stream.writeStream.format("memory")
        .queryName(view).outputMode(outputMode)) {
      graft.ops.Dedup.materialize(result(spark.table(view)))
    } finally spark.catalog.dropTempView(view)
  }

  /** Run `stream` through the caller's `foreachBatch` function under
    * `Trigger.AvailableNow`. See [[run]] for the batch check and the
    * cleanup.
    */
  def runForeachBatch(name: String, stream: DataFrame, minBatches: Int)(
      f: (DataFrame, Long) => Unit): Unit =
    run(name, minBatches, stream.sparkSession,
      stream.writeStream.foreachBatch(f))(())

  /** The one stream runner: start `writer` on a fresh throwaway local
    * checkpoint under `Trigger.AvailableNow` (the cron-run equivalent),
    * wait for it, require at least `minBatches` NON-EMPTY micro-batches
    * — a staging regression (say a dropped `maxFilesPerTrigger`) would
    * otherwise fall back to one batch silently and stop exercising
    * cross-batch state — then evaluate `body`. Whether the check, the
    * query or `body` throws, the query is stopped, the checkpoint is
    * deleted and the session's checkpoint-manager conf is restored.
    *
    * The run uses the FileSystem-based checkpoint file manager, which
    * opens checkpoint files through `fs.file.impl`: the session's
    * [[graft.LocalFs]], whose `mkdirs` and `create` set modes without a
    * `chmod` process. The default FileContext-based manager does not
    * go through `fs.file.impl`. Its local filesystem is Hadoop's own
    * `RawLocalFs`, whose rename path calls
    * `RawLocalFileSystem.getFileLinkStatus`, which FORKS A SHELL
    * (`stat`, `readlink`) per renamed checkpoint file — and a
    * micro-batch of a stream-stream join renames dozens of files
    * (offset log, commit log, 4 state stores × state partitions).
    * Thread dumps (r14) showed the stream execution thread and every
    * state-store task parked in `Shell.runCommand`; switching managers
    * cut stream_join from ~4.2-5.1 s to ~2.7-3.6 s steady-state. Both
    * managers write temp-file + rename and local-FS rename is atomic at
    * the OS level, so recovery semantics for these throwaway local
    * checkpoints are unchanged. The switch is scoped to the run (set
    * before `start`, the caller's value or its absence restored
    * after): a DURABLE
    * checkpoint on HDFS/S3 started later in the same session keeps
    * Spark's default manager, whose stricter rename-with-options
    * semantics matter there.
    */
  private def run[T](name: String, minBatches: Int, spark: SparkSession,
                     writer: DataStreamWriter[Row])(body: => T): T = {
    val prev = spark.conf.getOption(CkptManagerKey)
    graft.TempDirs.using(s"graft_ckpt_${name}_") { ckpt =>
      var q: StreamingQuery = null
      try {
        spark.conf.set(CkptManagerKey, "org.apache.spark.sql.execution." +
          "streaming.checkpointing.FileSystemBasedCheckpointFileManager")
        q = writer.option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val n = q.recentProgress.count(_.numInputRows > 0)
        require(n >= minBatches,
          s"$name expected >=$minBatches non-empty micro-batches, got $n")
        body
      } finally {
        if (q != null) q.stop()
        prev.fold(spark.conf.unset(CkptManagerKey))(spark.conf.set(CkptManagerKey, _))
      }
    }
  }

  /** Run a streaming frame to a parquet sink with checkpointing,
    * processing everything currently available (the cron-run
    * equivalent: one `Trigger.AvailableNow` invocation per schedule
    * tick, offsets persisted in the checkpoint instead of the crontab).
    */
  def runAvailableNow(df: DataFrame, outDir: String,
                      checkpointDir: String): StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
}
